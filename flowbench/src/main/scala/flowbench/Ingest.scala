package flowbench

import scala.collection.mutable

import graft.etl.JobEtl
import graft.streaming.StreamingEtl
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** The write path: seeded postings arrive through a MemoryStream (standing
  * in for Kafka) in micro-batches of 10k, go through StreamingEtl.transform
  * and land in the checkpointed parquet append sink StreamingEtl.toParquet
  * builds, triggered as back-to-back micro-batches. One operation is one
  * batch: addData, then wait for its commit. The reference producer sends
  * one posting a second; this measures the sink's saturated capacity
  * instead, where per-batch and per-row costs both show. */
final class Ingest(spark: SparkSession, seed: Long, root: String, trace: Trace)
    extends Workload {

  import Ingest._

  val unitsPerOp: Int = BatchSize
  val minWarmUp: Int = 10
  private val sink = s"$root/postings.parquet"
  private var stream: MemoryStream[String] = _
  private var query: StreamingQuery = _
  private var pending: Seq[String] = Nil

  def setup(): Unit = {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    stream = MemoryStream[String]
    val etl = trace.span("streaming.transform")(StreamingEtl.transform(stream.toDF()))
    query = trace.span("streaming.to_parquet") {
      StreamingEtl.toParquet(etl, sink, s"$root/checkpoint")
        .trigger(Trigger.ProcessingTime(0L))
        .start()
    }
  }

  // what the answer check needs from each generated batch, kept as it is
  // generated so the check does not regenerate the stream
  private val expected = mutable.Map.empty[(Int, String), Long]
  private val sampled = mutable.ArrayBuffer.empty[Gen.Posting]

  /** Generates batch `i` before its operation's clock starts. */
  override def prepare(i: Int): Unit = {
    val batch = Gen.batch(seed, i, BatchSize)
    expected ++= tallies(batch)
    sampled ++= batch.filter(_.seq % HashSample == 0)
    pending = batch.map(_.json)
  }

  def run(i: Int): Unit = {
    trace.span("streaming.add_data")(stream.addData(pending))
    trace.span("streaming.commit")(query.processAllAvailable())
  }

  private val written = mutable.Map.empty[Int, (Long, Long)]
  private var lastListing = (0L, 0L)
  override def startTracing(): Unit = lastListing = sinkFiles()
  override def afterTracedOp(i: Int): Unit = {
    val now = sinkFiles()
    written(i) = (now._1 - lastListing._1, now._2 - lastListing._2)
    lastListing = now
  }

  /** (data files, bytes) currently in the sink. */
  private def sinkFiles(): (Long, Long) = {
    val fs = new java.io.File(sink).listFiles()
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))
    (fs.length.toLong, fs.map(_.length).sum)
  }

  def check(ops: Seq[Int]): Checked = {
    val bad = failedBatches(ops, expected.toMap, fingerprint(spark.read.parquet(sink)),
      references(spark, sampled.toSeq))
    Checked(ops.map(i => i -> !bad(i)).toMap, 1.0 - ops.count(bad).toDouble / ops.length)
  }

  def layers(trace: Trace, traced: Seq[Int]): Map[String, Double] = {
    // the regex cascade alone: the same postings through the batch ETL
    // into a no-op sink, no streaming machinery around it
    val lines = traced.take(3).flatMap(Gen.batch(seed, _, BatchSize)).map(p => Tuple1(p.json))
    val raw = spark.createDataFrame(lines).toDF("value").cache()
    raw.count()
    val rates = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      trace.span("etl.transform_noop") {
        JobEtl.transform(StreamingEtl.parseJson(raw)).write.format("noop").mode("overwrite").save()
      }
      lines.length / ((System.nanoTime() - t0) / 1e9)
    }
    raw.unpersist()
    val w = traced.flatMap(written.get)
    Map(
      "etl.batch_rows_per_s" -> Stats.median(rates),
      "sources.files_written" -> Stats.median(w.map(_._1.toDouble)),
      "sources.bytes_written" -> Stats.median(w.map(_._2.toDouble)),
      "sources.sink_files_total" -> sinkFiles()._1.toDouble)
  }

  def close(): Unit = if (query != null) query.stop()
}

object Ingest {
  val BatchSize = 10000
  /** Every row is counted; rows whose sequence number is a multiple of
    * this are also hashed against the batch ETL. Coprime with the 7 salary
    * and 8 experience forms, so the sample covers every parser branch. */
  val HashSample = 5

  /** Per (batch, city): the row count, and an order-independent hash of
    * every ETL-derived column over the sampled rows. The batch is
    * recovered from the sequence number each generated title ends with. */
  def fingerprint(etl: DataFrame): Map[(Int, String), (Long, Long)] = {
    val seq = regexp_extract(col("job_title"), "(\\d+)$", 1).cast("long")
    etl.select(
        floor(seq / BatchSize).cast("int").as("batch"),
        col("city"),
        when(seq % HashSample === 0,
          xxhash64(col("job_title"), col("city"), col("salary_min"), col("salary_max"),
            col("salary_avg"), col("exp_min_year"), col("exp_max_year"),
            col("exp_avg_year"), col("exp_type"), col("event_time")))
          .otherwise(lit(0L)).as("h"))
      .groupBy("batch", "city")
      .agg(count(lit(1)), sum(col("h")))
      .collect()
      .map(r => (r.getInt(0), r.getString(1)) -> (r.getLong(2), r.getLong(3)))
      .toMap
  }

  /** The generator's model of the ETL output for `postings`: the columns
    * [[fingerprint]] hashes, with the values [[Gen.Parsed]] records. */
  def modelled(spark: SparkSession, postings: Seq[Gen.Posting]): DataFrame = {
    import spark.implicits._
    postings.flatMap(p => p.title.map { t =>
        val e = p.parsed
        (t, p.cleanCity, e.salaryMin, e.salaryMax, e.salaryAvg,
          e.expMin, e.expMax, e.expAvg, e.expType, p.eventTime)
      })
      .toDF("job_title", "city", "salary_min", "salary_max", "salary_avg",
        "exp_min_year", "exp_max_year", "exp_avg_year", "exp_type", "event_time")
      .withColumn("event_time", to_timestamp(col("event_time")))
  }

  /** The sampled-row hashes a sink must match, per (batch, city): a batch
    * `JobEtl.transform` of the sampled postings (the streaming and batch
    * paths agree), and the generator's model of them (the parsed values
    * are right). */
  def references(spark: SparkSession, sampled: Seq[Gen.Posting]): Seq[Map[(Int, String), Long]] = {
    import spark.implicits._
    // spread over all cores: a local relation runs the regex cascade in one task
    val lines = spark.sparkContext.parallelize(sampled.map(_.json),
      spark.sparkContext.defaultParallelism)
    Seq(StreamingEtl.transform(lines.toDF("value")), modelled(spark, sampled))
      .map(df => fingerprint(df).map { case (k, (_, h)) => k -> h })
  }

  /** The generator's own per (batch, city) count of postings the ETL keeps. */
  def tallies(postings: Seq[Gen.Posting]): Map[(Int, String), Long] =
    postings.filter(_.title.isDefined)
      .groupBy(p => ((p.seq / BatchSize).toInt, p.cleanCity))
      .map { case (k, ps) => k -> ps.length.toLong }

  /** Batches whose sink counts differ from the generator's in any
    * (batch, city) cell, or whose sampled-row hash differs from any
    * reference's over the same postings. */
  def failedBatches(batches: Seq[Int], expected: Map[(Int, String), Long],
      sink: Map[(Int, String), (Long, Long)], refs: Seq[Map[(Int, String), Long]]): Set[Int] = {
    val keys = (expected.keySet ++ sink.keySet ++ refs.flatMap(_.keySet)).groupBy(_._1)
    batches.filter { b =>
      keys.getOrElse(b, Set.empty).exists(k =>
        sink.get(k).map(_._1) != expected.get(k) ||
          refs.exists(ref => sink.get(k).fold(0L)(_._2) != ref.getOrElse(k, 0L)))
    }.toSet
  }
}
