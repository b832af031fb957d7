package graft.similarity

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Serving-side search over a STORED IVF-PQ codes table — the layout
  * [[graft.streaming.StreamingIndexIngest]] maintains: parquet
  * partitioned by `list_id`, one directory per coarse cell.
  *
  * A serving node holds only the frozen quantizers (L coarse centroids +
  * M×K codebook entries — a few KB of broadcastable state); routing and
  * ADC-LUT construction are driver-side arithmetic over them, and the
  * only corpus access is a parquet read with a LITERAL `list_id IN
  * (...)` predicate. Because `list_id` is the partition column, Spark
  * turns that predicate into `PartitionFilters`: each request opens
  * nprobe/L of the stored directories and the rest of the index is
  * never listed, opened, or decoded. At 100 TB this is the difference
  * between a point lookup and a table scan — StoredIndexSearchSpec
  * asserts `selectedPartitions ≤ nprobe` on this exact plan, so the
  * claim is a measured plan property, not a comment.
  */
object StoredIndex {

  /** The request's nprobe nearest coarse cells (ties by list id). */
  def probeLists(qv: Array[Double], coarse: Seq[Seq[Double]], nprobe: Int): Seq[Int] =
    coarse.indices.sortBy(l => (Pq.sqdist(qv, coarse(l).toArray), l)).take(nprobe)

  /** Per-(request, probed list) ADC lookup tables from the QUERY residual
    * w.r.t. THAT list's centroid — the residual detail that distinguishes
    * IVF-PQ from flat PQ (see sq10's scaladoc). */
  def luts(qv: Array[Double], list: Int, coarse: Seq[Seq[Double]],
      cb: Seq[Seq[Seq[Double]]], sub: Int,
      rot: Option[Seq[Seq[Double]]] = None): Seq[Seq[Double]] = {
    val c = coarse(list)
    val raw = Array.tabulate(qv.length)(i => qv(i) - c(i))
    // OPQ seam: the query residual rotates exactly like the stored codes'
    // residuals did at encode time (Pq.ivfPqEncode's rot parameter)
    Pq.luts(rot.fold(raw)(r => Pq.rotateVec(raw, r)), cb, sub)
  }

  /** One serving request: [[serveBatch]] of one. */
  def serve(spark: SparkSession, codesDir: String, qid: Long,
      qv: Array[Double], coarse: Seq[Seq[Double]], cb: Seq[Seq[Seq[Double]]],
      sub: Int, nprobe: Int, depth: Int,
      rot: Option[Seq[Seq[Double]]] = None): DataFrame =
    serveBatch(spark, codesDir, Seq(qid -> qv), coarse, cb, sub, nprobe,
      depth, rot)

  /** Batched serving — N requests in ONE job: partition-pruned scan of
    * the stored codes → ADC against the broadcast LUTs → per request a
    * `depth`-deep shortlist (qid, cid). Exact rerank is the caller's
    * step — it needs the raw vectors, which live outside the codes
    * table. A Spark job per query (scheduling + listing) dominates when
    * requests are small, so production ANN serving batches: all
    * requests' LUT rows go into one broadcast frame keyed by
    * (qid, list_id), the codes scan prunes to the UNION of probed lists
    * (still `Σ nprobe`-bounded, each request's ADC join still touches
    * only its own lists via the equi-join key), and one window ranks per
    * qid. */
  def serveBatch(spark: SparkSession, codesDir: String,
      reqs: Seq[(Long, Array[Double])], coarse: Seq[Seq[Double]],
      cb: Seq[Seq[Seq[Double]]], sub: Int, nprobe: Int, depth: Int,
      rot: Option[Seq[Seq[Double]]] = None): DataFrame = {
    import spark.implicits._
    val lutRows = reqs.flatMap { case (qid, qv) =>
      probeLists(qv, coarse, nprobe).map(l =>
        (qid, l, luts(qv, l, coarse, cb, sub, rot)))
    }
    val lutDf = lutRows.toDF("qid", "list_id", "luts")
    val allLists = lutRows.map(_._2).distinct.sorted
    // literal IN over the partition column → PartitionFilters: only the
    // probed lists' directories are ever read; the schema-pinned read
    // (KnnGraph.openStore) skips the per-request footer-inference job —
    // a serving node knows its index's schema (r18, guide §1.5/§6)
    val pruned = KnnGraph.openStore(spark, codesDir).rel
      .filter($"list_id".isin(allLists: _*))
    Pq.adcTop(broadcast(lutDf).join(pruned, Seq("list_id"))
        .filter($"vec_id" =!= $"qid"), cb.length, "vec_id", depth)
      .select($"qid", $"vec_id".as("cid"))
  }

  /** [[serve]] against the PINNED build of a registered index
    * ([[graft.ml.IndexLifecycle]]): production serving never hard-codes
    * an index path — it resolves the registry pointer, so a rebuild
    * stays invisible until promoted and a bad promote is one rollback
    * away. Throws when nothing is pinned (serving from "latest build"
    * silently would defeat the pin). */
  def servePinned(spark: SparkSession, registryPath: String, indexName: String,
      qid: Long, qv: Array[Double], coarse: Seq[Seq[Double]],
      cb: Seq[Seq[Seq[Double]]], sub: Int, nprobe: Int, depth: Int,
      rot: Option[Seq[Seq[Double]]] = None): DataFrame = {
    val root = graft.ml.IndexLifecycle.pinnedPath(spark, registryPath, indexName)
      .getOrElse(throw new IllegalStateException(
        s"no pinned build for index $indexName — promote one first"))
    serve(spark, root, qid, qv, coarse, cb, sub, nprobe, depth, rot)
  }
}
