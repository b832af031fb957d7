package graft.similarity

import graft.TestSpark
import org.scalatest.funsuite.AnyFunSuite

/** [[KnnGraph.bestFirst]] — the driver-side twin of Spark's
  * `ORDER BY cos DESC, node ASC` that [[KnnGraph.serveCoordinated]]'s
  * beam ([[KnnGraph.keepTopK]]) and default entry pick (`min`) use.
  * Java's `Double.compare` orders -0.0 below 0.0; Spark SQL treats them
  * as equal and falls through to the node tie-break, and puts NaN first
  * under DESC. */
class BestFirstOrderSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val scored = Seq(
    (9L, 0.0), (4L, -0.0), (6L, 0.5), (2L, Double.NaN),
    (1L, -0.0), (8L, Double.NaN), (5L, -0.5), (3L, 0.0))

  test("keepTopK orders NaN and ±0.0 scores exactly as Spark's sort does") {
    import spark.implicits._
    val sparkOrder = scored.toDF("node", "cos")
      .orderBy($"cos".desc, $"node").as[(Long, Double)].collect().toSeq
    assert(KnnGraph.keepTopK(scored, scored.size).map(_._1) == sparkOrder.map(_._1))
    assert(KnnGraph.keepTopK(scored, 5).map(_._1) == Seq(2L, 8L, 6L, 1L, 3L))
  }

  test("the entry pick breaks a ±0.0 tie by node, not by the sign") {
    assert(Seq((7L, 0.0), (3L, -0.0)).min(KnnGraph.bestFirst)._1 == 3L)
    assert(Seq((3L, -0.0), (7L, 0.0)).min(KnnGraph.bestFirst)._1 == 3L)
    assert(scored.min(KnnGraph.bestFirst)._1 == 2L)
    assert(scored.filterNot(_._2.isNaN).min(KnnGraph.bestFirst)._1 == 6L)
  }
}
