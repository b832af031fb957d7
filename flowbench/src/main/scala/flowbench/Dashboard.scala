package flowbench

import scala.collection.mutable

import graft.etl.JobFeatures
import graft.ml.{FrozenJobKmeans, FrozenSalaryRf}
import graft.sources.Tables
import graft.streaming.StreamingEtl
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** The read path the dashboard page re-runs on every interaction. Set-up
  * streams ~85k seeded postings through the same sink as [[Ingest]] (so
  * the fact table has ingest's file layout), then runs the batch scoring
  * stage once: labels and flags, the frozen k-means cluster and the
  * frozen random-forest salary prediction, written as the scored table.
  * One operation is one interaction: four panels in a fixed order. */
final class Dashboard(spark: SparkSession, seed: Long, root: String, trace: Trace)
    extends Workload {

  import Dashboard._
  import spark.implicits._

  val unitsPerOp: Int = 1
  val minWarmUp: Int = 20
  private val corpus = (0 until CorpusSize).map(i => Gen.posting(seed, i.toLong))
  private val plan = Gen.interactions(seed, corpus, 4000)

  private def fact: DataFrame = Tables.load(spark, root, "postings")
  private def scoredTable: DataFrame = Tables.load(spark, root, "scored")

  // set-up references
  private val cityRef: Map[String, Long] = corpus.filter(_.title.isDefined)
    .groupBy(_.cleanCity).map { case (c, ps) => c -> ps.length.toLong }
  private var clusterRef: Seq[ClusterStat] = Nil
  private var skillsRef: Map[String, Seq[(String, Double)]] = Map.empty
  private var predictRef: Map[String, Seq[Double]] = Map.empty

  def setup(): Unit = {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[String]
    val query = StreamingEtl.toParquet(StreamingEtl.transform(stream.toDF()),
        s"$root/postings.parquet", s"$root/checkpoint")
      .trigger(Trigger.ProcessingTime(0L)).start()
    try corpus.grouped(Ingest.BatchSize).foreach { b =>
      trace.span("streaming.ingest_batch") {
        stream.addData(b.map(_.json))
        query.processAllAvailable()
      }
    } finally query.stop()

    val scored = score(fact).cache()
    trace.span("ml.score_table") {
      scored.write.mode("overwrite").parquet(s"$root/scored.parquet")
    }
    // references, each computed on another plan than the panel it checks:
    // cluster stats over the in-memory scoring result, top skills for every
    // city at once by grouping on (city, skill) in one query, predictions
    // looked up in the scored table
    clusterRef = trace.span("ml.cluster_stats_ref")(clusterStats(scored))
    scored.unpersist()
    skillsRef = trace.span("etl.top_skills_ref") {
      val sep = "\u0001"
      JobFeatures.skillHotScores(JobFeatures.explodeSkills(fact)
          .withColumn("skill", concat(col("city"), lit(sep), col("skill"))))
        .select(col("skill"), col("skill_hot_score")).collect()
        .map { r => val Array(c, sk) = r.getString(0).split(sep, 2); (c, sk, r.getDouble(1)) }
        .groupBy(_._1)
        .map { case (c, rows) =>
          c -> rows.sortBy(r => (-r._3, r._2)).take(10).map(r => r._2 -> r._3).toSeq }
    }
    val titles = plan.map(_.title).distinct
    predictRef = trace.span("ml.salary_predict_ref") {
      scoredTable.filter($"job_title".isin(titles: _*))
        .select($"job_title", $"pred_salary").as[(String, Double)].collect()
        .groupBy(_._1).map { case (t, ps) => t -> ps.map(_._2).toSeq }
    }
  }

  private final case class Answer(cities: Map[String, Long], clusters: Seq[ClusterStat],
      skills: Seq[(String, Double)], predicted: Seq[Double])
  private val answers = mutable.Map.empty[Int, Answer]

  def run(i: Int): Unit = {
    val p = plan(i % plan.length)
    val cities = trace.span("sources.city_counts") {
      fact.groupBy($"city").count().as[(String, Long)].collect().toMap
    }
    val clusters = trace.span("ml.cluster_stats")(clusterStats(scoredTable))
    val skills = trace.span("etl.top_skills")(
      topSkills(JobFeatures.explodeSkills(fact.filter($"city" === p.city))))
    val predicted = trace.span("ml.salary_predict") {
      score(fact.filter($"job_title" === p.title)).select($"pred_salary")
        .as[Double].collect().toSeq
    }
    answers(i) = Answer(cities, clusters, skills, predicted)
  }

  def check(ops: Seq[Int]): Checked = {
    val perOp = ops.map { i =>
      val p = plan(i % plan.length)
      val matched = answers.get(i).map { a =>
        Seq(a.cities == cityRef,
          sameClusters(a.clusters, clusterRef),
          skillsRef.get(p.city).contains(a.skills),
          predictRef.get(p.title).exists(_ == a.predicted)).count(identity)
      }.getOrElse(0)
      i -> matched
    }
    Checked(perOp.map { case (i, m) => i -> (m == Panels) }.toMap,
      perOp.map(_._2).sum.toDouble / (Panels * perOp.length))
  }

  def layers(trace: Trace, traced: Seq[Int]): Map[String, Double] = {
    def med(name: String) = Stats.median(trace.opSpanMs(name))
    Map(
      "sources.city_counts_ms" -> med("sources.city_counts"),
      "ml.cluster_stats_ms" -> med("ml.cluster_stats"),
      "etl.top_skills_ms" -> med("etl.top_skills"),
      "ml.salary_predict_ms" -> med("ml.salary_predict"),
      "ml.score_table_s" -> trace.setupSpanS("ml.score_table"),
      "sources.sink_files_total" -> new java.io.File(s"$root/postings.parquet").listFiles()
        .count(f => f.isFile && f.getName.endsWith(".parquet")).toDouble)
  }

  def close(): Unit = ()
}

object Dashboard {
  /** The reference corpus size the dashboard was built around. */
  val CorpusSize = 85000
  val Panels = 4

  final case class ClusterStat(cluster: Int, n: Long, avgSalary: Double, avgExp: Double)

  /** Labels, flags, then both frozen models — the batch scoring stage. */
  def score(df: DataFrame): DataFrame = {
    val f = JobFeatures.withFlags(JobFeatures.withLabels(df))
    def scaled(i: Int) = FrozenJobKmeans.scaledCol(i, col(FrozenJobKmeans.featureNames(i)))
    f.select(col("job_title"), col("city"), col("salary_final"), col("exp_final"),
      FrozenJobKmeans.clusterCol(c => FrozenJobKmeans.distCol(c, scaled)).as("cluster"),
      FrozenSalaryRf.predictionCol(i => col(FrozenSalaryRf.featureNames(i)), col)
        .as("pred_salary"))
  }

  def clusterStats(scored: DataFrame): Seq[ClusterStat] =
    scored.groupBy(col("cluster"))
      .agg(count(lit(1)), avg(col("salary_final")), avg(col("exp_final")))
      .collect()
      .map(r => ClusterStat(r.getInt(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
      .sortBy(_.cluster).toSeq

  /** Averages may differ in the last bits between plans (summation order). */
  def sameClusters(a: Seq[ClusterStat], b: Seq[ClusterStat]): Boolean = {
    def close(x: Double, y: Double) = math.abs(x - y) <= 1e-9 * math.max(1.0, math.abs(y))
    a.length == b.length && a.zip(b).forall { case (x, y) =>
      x.cluster == y.cluster && x.n == y.n && close(x.avgSalary, y.avgSalary) &&
        close(x.avgExp, y.avgExp)
    }
  }

  def topSkills(exploded: DataFrame): Seq[(String, Double)] =
    JobFeatures.skillHotScores(exploded)
      .orderBy(col("skill_hot_score").desc, col("skill"))
      .limit(10)
      .select(col("skill"), col("skill_hot_score"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toSeq
}
