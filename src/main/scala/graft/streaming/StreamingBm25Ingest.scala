package graft.streaming

import graft.operators.TopKPerGroup
import graft.sources.IncrementalAgg
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Incremental BM25 index maintenance — the text-search sibling of
  * [[StreamingIndexIngest]]: documents arrive on a stream and the
  * inverted index stays serveable after every micro-batch.
  *
  * Unlike sq18's batch build (which denormalizes df into the postings
  * at build time — correct when the corpus is frozen), a growing index
  * cannot freeze df: each new document changes the document frequency
  * of every term it contains. So the index splits into
  *   - postings (term, doc_id, tf, dl), append-only, partitioned by the
  *     same 64-way term-hash bucket sq18 serves from — stateless
  *     map-side work, searchable as soon as the micro-batch commits;
  *   - df and corpus stats as MONOID ROLLUPS merged per batch through
  *     [[graft.sources.IncrementalAgg]] (sum/cnt partials, bucket-pruned
  *     merge, O(batch) per ingest) — df(t) = Σ batches' per-batch df
  *     partials, n_docs/Σdl likewise; the serve path derives idf from
  *     the rollup at query time, so scores always reflect the corpus
  *     ingested so far.
  *
  * Replay semantics: postings carry batch_id and [[serve]] dedupes on
  * (batch_id, term, doc_id) over the bucket-pruned scan, so a
  * foreachBatch retry that re-appends a batch cannot double-count tf
  * (the established dedupe-on-read contract, honored by the read path);
  * the df/stats merges are NOT idempotent under micro-batch replay — production
  * would stage per-batch partials keyed by batch_id and compact, the
  * same manifest-commit seam Snapshots implements. Documented trade;
  * the spec drives the stream to completion exactly once.
  *
  * 100 TB: per-batch work is batch-sized (tokenize + tf groupBy + two
  * keys-sized rollup merges); serving reads |query terms|/64 of the
  * postings regardless of corpus size, exactly like sq18.
  */
object StreamingBm25Ingest {

  val NumBuckets = 64

  /** Stateless tokenize: (doc_id, text) → (doc_id, toks). Kept separate
    * from [[postings]] because corpus stats must be computed from THIS
    * frame — explode+groupBy below drops zero-token docs, but the batch
    * build (sq07/sq18) counts them in n_docs/Σdl, and the streamed index
    * must agree on corpora containing empty or non-alphanumeric docs. */
  def tokenize(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      regexp_extract_all(lower(col("text")), lit("[a-z0-9]+"), lit(0)).as("toks"))

  /** Stateless per-batch transform: (doc_id, text) → postings
    * (term, doc_id, tf, dl, bkt). Zero-token docs yield no postings
    * (correct — they match no term) but still count in the stats rollup. */
  def postings(docs: DataFrame): DataFrame = {
    tokenize(docs)
      .select(col("doc_id"), size(col("toks")).cast("long").as("dl"),
        explode(col("toks")).as("term"))
      .groupBy(col("doc_id"), col("term"), col("dl"))
      .agg(count(lit(1)).as("tf"))
      .withColumn("bkt", pmod(xxhash64(col("term")), lit(NumBuckets)))
  }

  /** Start the maintenance stream over (doc_id, text). */
  def start(docs: DataFrame, root: String, checkpointDir: String,
      trigger: Option[Trigger] = None): StreamingQuery = {
    val writer = docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        val spark = batch.sparkSession
        val b = batch.toDF.cache()
        try {
          val p = postings(b)
          p.withColumn("batch_id", lit(batchId))
            .write.mode("append").partitionBy("bkt").parquet(root + "/postings")
          // df partial: 1 per (term, doc) → merged sum IS document freq
          IncrementalAgg.ingest(spark, root + "/df",
            p.select(col("term"), lit(1L).as("one")), "term", "one")
          // corpus stats under one key: sum = Σdl, cnt = n_docs — from the
          // TOKENIZED docs frame, not the postings, so zero-token docs are
          // counted exactly as the batch build counts them
          IncrementalAgg.ingest(spark, root + "/stats",
            tokenize(b).select(lit("corpus").as("corpus"),
              size(col("toks")).cast("long").as("dl")), "corpus", "dl")
        } finally b.unpersist()
        ()
      }
    trigger.fold(writer)(writer.trigger).start()
  }

  /** ERASE one document from the maintained index — GDPR reaching the
    * DERIVED artifact, not just the base table: postings rows delete via
    * the partition-pruned key delete (only term-hash buckets that hold
    * the doc rewrite — [[graft.sources.PartitionedLayout.delete]]), and
    * the df / corpus-stats rollups RETRACT the doc's partials (the
    * anti-monoid inverse, [[graft.sources.IncrementalAgg.retract]]) —
    * so post-erasure serving is EXACTLY the index a from-scratch build
    * without the document would produce (spec-proved). The request
    * carries the doc's text (the pipeline erases before discarding it);
    * cost is the doc's buckets + two keys-sized rollup merges. */
  def erase(spark: SparkSession, root: String, docId: Long, text: String): Unit = {
    import spark.implicits._
    val doc = Seq((docId, text)).toDF("doc_id", "text")
    val p = postings(doc)
    graft.sources.PartitionedLayout.delete(spark, root + "/postings",
      doc.select(col("doc_id")), "doc_id", "bkt")
    IncrementalAgg.retract(spark, root + "/df",
      p.select(col("term"), lit(1L).as("one")), "term", "one")
    IncrementalAgg.retract(spark, root + "/stats",
      tokenize(doc).select(lit("corpus").as("corpus"),
        size(col("toks")).cast("long").as("dl")), "corpus", "dl")
  }

  /** Serve top-5 BM25 from the maintained index — sq07's exact scoring
    * arithmetic (same literals, same DECIMAL(38,18) shield, same
    * TopKPerGroup ranking), with df/stats resolved from the rollups and
    * the postings scan pruned to the query's buckets. */
  def serve(spark: SparkSession, root: String, queries: DataFrame): DataFrame = {
    import spark.implicits._
    val k1 = 1.2
    val b = 0.75
    val qb = queries.withColumn("bkt", pmod(xxhash64($"term"), lit(NumBuckets)))
    val buckets = qb.select($"bkt").distinct().as[Long].collect().sorted
    // dedupe-on-read over the PRUNED scan only (|query terms|/64 of the
    // index): a replayed foreachBatch append becomes invisible here
    val post = graft.similarity.KnnGraph.openStore(spark, root + "/postings").rel
      .filter(col("bkt").isin(buckets: _*))
      .dropDuplicates("batch_id", "term", "doc_id")
    val dfreq = IncrementalAgg.read(spark, root + "/df", "term")
      .select($"term", $"sum".as("df"))
    val st = IncrementalAgg.read(spark, root + "/stats", "corpus")
      .select($"sum".as("sum_dl"), $"cnt".as("n_docs"))
    val idf = log(lit(1.0) +
      ($"n_docs".cast("double") - $"df" + lit(0.5)) / ($"df" + lit(0.5)))
    val ts = idf * ($"tf".cast("double") * lit(2.2)) /
      ($"tf".cast("double") + lit(k1) * (lit(1.0 - b) + lit(b) *
        ($"dl".cast("double") / ($"sum_dl".cast("double") / $"n_docs"))))
    val scored = post
      .join(broadcast(qb.select($"qid", $"term").join(dfreq, Seq("term"))),
        Seq("term"))
      .crossJoin(broadcast(st))
      .select($"qid", $"doc_id",
        ts.cast(org.apache.spark.sql.types.DecimalType(38, 18)).as("ts"))
      .groupBy($"qid", $"doc_id")
      .agg(round(sum($"ts").cast("double"), 6).as("score"))
    TopKPerGroup.topK(spark, scored, "qid", "score", "doc_id", 5)
      .select($"qid", col("doc_id"), $"score", $"rnk")
      .orderBy($"qid", $"rnk")
  }
}
