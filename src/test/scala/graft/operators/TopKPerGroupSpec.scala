package graft.operators

import graft.TestSpark
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** [[TopKPerGroup.topK]] stands in for `row_number() OVER (PARTITION BY
  * g ORDER BY score DESC, id)` and must rank exactly as Spark does:
  * NaN first, 0.0 and -0.0 tied (the id decides), equal scores by id. */
class TopKPerGroupSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("topK equals the row_number window on NaN, ±0.0 and tied scores") {
    import spark.implicits._
    val nan = Double.NaN
    val rows = Seq(
      (1, 10L, 0.0), (1, 11L, -0.0), (1, 3L, -0.0), (1, 12L, nan), (1, 13L, 0.5),
      (1, 4L, 0.0), (1, 14L, -1.0), (1, 2L, nan), (1, 15L, 0.5),
      (2, 20L, -0.0), (2, 21L, 0.0), (2, 5L, 0.25), (2, 22L, 0.25), (2, 23L, nan),
      (3, 30L, -0.0), (3, 31L, -0.0), (3, 6L, 0.0))
    // spread every group over several partitions, so merge runs too
    val df = rows.toDF("g", "id", "score").repartition(4, $"id")
    assert(df.rdd.getNumPartitions >= 2)
    for (k <- Seq(1, 3, 5)) {
      val window = df
        .withColumn("rnk", row_number().over(
          Window.partitionBy($"g").orderBy($"score".desc, $"id")).cast("long"))
        .filter($"rnk" <= k)
      def ranked(f: org.apache.spark.sql.DataFrame) =
        f.select($"g".cast("long"), $"id".cast("long"), $"score", $"rnk")
          .as[(Long, Long, Double, Long)].collect()
          .map { case (g, id, s, r) => (g, id, java.lang.Double.doubleToLongBits(s), r) }
          .toSet
      val got = ranked(TopKPerGroup.topK(spark, df, "g", "score", "id", k))
      assert(got == ranked(window), s"top-$k diverged from the window")
    }
  }
}
