package flowbench

import scala.collection.mutable

import graft.similarity.KnnGraph
import org.apache.spark.sql.SparkSession

/** The online k-NN endpoint: a k-NN graph built with NN-Descent over
  * seeded clustered vectors, persisted as the bucketed adjacency store
  * and the vector store (with its entries sidecar). One operation is one
  * held-out query at k = 8 through KnnGraph.serveCoordinated: a
  * coordinator-side beam loop of pruned point reads. */
final class AnnServe(spark: SparkSession, seed: Long, root: String, trace: Trace)
    extends Workload {

  import AnnServe._
  import spark.implicits._

  val unitsPerOp: Int = 1
  val minWarmUp: Int = 40
  private val data = Gen.vectors(seed, N, Queries, Dim)
  private var truth: IndexedSeq[Set[Long]] = IndexedSeq.empty

  def setup(): Unit = {
    val vecs = data.corpus.zipWithIndex
      .map { case (v, i) => (i.toLong, v.toSeq) }.toDF("vec_id", "v").cache()
    val graph = trace.span("similarity.build") {
      KnnGraph.buildDurable(vecs, K, rounds = BuildRounds, s"$root/build").last
    }
    trace.span("similarity.store_write") {
      KnnGraph.writeStore(graph, s"$root/graph")
      KnnGraph.writeVectors(vecs, s"$root/vectors")
    }
    vecs.unpersist()
    truth = data.queries.map(q => bruteForce(data.corpus, q, K))
  }

  private val answers = mutable.Map.empty[Int, Seq[Long]]

  def run(i: Int): Unit = {
    val q = i % Queries
    val served = trace.span("similarity.serve") {
      KnnGraph.serveCoordinated(spark, s"$root/graph", s"$root/vectors",
        Seq((QidBase + q) -> data.queries(q)), K, beamRounds = BeamRounds)
    }
    answers(i) = served.map(_._2)
  }

  def check(ops: Seq[Int]): Checked = {
    // every held-out query served again as one batch through the same
    // head; a query's beam walks only its own frontier, so a request's
    // answer must equal its query's answer in the batch
    val served = KnnGraph.serveCoordinated(spark, s"$root/graph", s"$root/vectors",
        data.queries.indices.map(q => (QidBase + q) -> data.queries(q)), K,
        beamRounds = BeamRounds)
      .groupBy(_._1).map { case (qid, rs) => (qid - QidBase).toInt -> rs.map(_._2) }
    // an answer that is not k distinct corpus ids is wrong, not just approximate
    def wellFormed(got: Seq[Long]) =
      got.length == K && got.distinct.length == K && got.forall(id => id >= 0 && id < N)
    val ok = ops.map { i =>
      val got = answers.getOrElse(i, Seq.empty)
      i -> (wellFormed(got) && served.get(i % Queries).contains(got))
    }.toMap
    // recall over every held-out query, not just the ones the window reached
    val hits = data.queries.indices.map(q => served.getOrElse(q, Seq.empty).count(truth(q)))
    Checked(ok, hits.sum.toDouble / (K * data.queries.length))
  }

  def layers(trace: Trace, traced: Seq[Int]): Map[String, Double] = Map(
    "similarity.serve_ms" -> Stats.median(trace.opSpanMs("similarity.serve")),
    "similarity.build_s" -> trace.setupSpanS("similarity.build"),
    "similarity.store_write_s" -> trace.setupSpanS("similarity.store_write"))

  def close(): Unit = ()
}

object AnnServe {
  val N = 1000
  val Dim = 64
  val Queries = 512
  val K = 8
  val BuildRounds = 4
  val BeamRounds = 3
  /** Query ids sit outside the corpus id range. */
  val QidBase = 1000000L

  private def cos(a: Array[Double], b: Array[Double]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var j = 0
    while (j < a.length) {
      dot += a(j) * b(j); na += a(j) * a(j); nb += b(j) * b(j); j += 1
    }
    dot / math.sqrt(na * nb)
  }

  /** Exact top-k corpus ids by cosine similarity, ties to the lower id. */
  def bruteForce(corpus: IndexedSeq[Array[Double]], q: Array[Double], k: Int): Set[Long] =
    corpus.indices.map(i => (i.toLong, cos(corpus(i), q)))
      .sortBy { case (i, c) => (-c, i) }.take(k).map(_._1).toSet
}
