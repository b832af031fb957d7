package graft.etl

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The full job-posting ETL transform: the engine's spine, mirroring
  * /root/reference/spark/app/job_streaming.py:62-156 as a single
  * DataFrame => DataFrame so batch and Structured Streaming share it
  * verbatim (same logical plan, map-only → stateless streaming).
  *
  * Everything is Column expressions over the scan: no shuffle, no state,
  * linear scale. Codegen rule: a value that a `CASE` cascade reads in more
  * than one branch is projected once as a column before the cascade, so
  * each regex runs once per row and the stage's generated methods stay
  * under HotSpot's 8,000-byte JIT limit (EtlCodegenSizeSpec guards it).
  */
object JobEtl {

  /** Apply normalization + derived columns to a jobs-shaped frame
    * (schema ⊇ JobSchema minus kafka envelope).
    *
    * @param deterministicId when true, `id` is a content hash
    *   (sha2 of the natural key) instead of `uuid()` — golden tests and
    *   oracle checks need determinism; production streaming wants uuid()
    *   (reference job_streaming.py:153).
    */
  def transform(df: DataFrame, deterministicId: Boolean = false): DataFrame = {
    val clean = lower(col("salary"))
    val eMin = ExperienceParser.expMinYear(col("experience"))
    // SalaryParser.salaryMin/salaryMax, with the USD test and each raw
    // number projected once: CollapseProject keeps a non-cheap alias that
    // is read more than once in its own projection instead of inlining
    // it into every branch of toMillions
    val (usd, rawMin, rawMax) = ("_etl_salary_usd", "_etl_salary_raw_min", "_etl_salary_raw_max")
    val withCols = df
      .filter(col("job_title").isNotNull)
      .withColumn("event_time", to_timestamp(col("event_time")))
      .withColumns(Map(
        usd -> SalaryParser.isUsd(clean),
        rawMin -> SalaryParser.rawMin(clean),
        rawMax -> SalaryParser.rawMax(clean)))
      .withColumn("salary_min", SalaryParser.toMillions(col(usd), col(rawMin)))
      .withColumn("salary_max", SalaryParser.toMillions(col(usd), col(rawMax)))
      .drop(usd, rawMin, rawMax)
      .withColumn("salary_avg", SalaryParser.salaryAvg(col("salary_min"), col("salary_max")))
      .withColumn("exp_min_year", eMin)
      .withColumn("exp_max_year", ExperienceParser.expMaxYear(col("experience")))
      .withColumn("exp_avg_year", ExperienceParser.expAvgYear(col("exp_min_year")))
      .withColumn("exp_type", ExperienceParser.expType(col("experience")))
      .withColumn("city",
        when(col("city") === "" || col("city").isNull, lit("Unknown"))
          .otherwise(col("city")))
    if (deterministicId)
      withCols.withColumn("id",
        sha2(concat_ws("", col("job_title"), col("city"), col("salary"),
          col("experience"), col("event_time").cast("string")), 256))
    else
      withCols.withColumn("id", expr("uuid()"))
  }
}
