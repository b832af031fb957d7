package graft.etl

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Salary normalization → millions of VND.
  *
  * Pure `Column => Column` expressions (no UDFs), built from three
  * per-row pieces — the USD test ([[isUsd]]) and the two raw numbers
  * ([[rawMin]], [[rawMax]]) — and the unit inference over them
  * ([[toMillions]]).
  * Semantics replicate /root/reference/spark/app/job_streaming.py:70-110:
  *
  *   1. lowercase; extract min as first number run, max as number after '-';
  *   2. if the text mentions millions ("triệu|tr|m") keep the raw number,
  *      else strip [.,] thousand separators before the double cast;
  *   3. unit inference: USD → *25/1000; >=1000 → raw VND /1e6;
  *      (100,1000) → thousands /1e3; else already millions;
  *   4. avg = (min+max)/2 | min | 0.0.
  *
  * Codegen rule: [[toMillions]] reads its raw number in four `CASE`
  * branches, and Catalyst's subexpression elimination does not hoist an
  * expression that only later branches read, so composing it over the
  * regex cascade inline ([[salaryMin]]/[[salaryMax]]) compiles one copy
  * of the cascade per read and re-runs it per branch. Hot paths project
  * the pieces once as columns and apply [[toMillions]] over those (see
  * [[JobEtl.transform]]), which keeps the stage under HotSpot's
  * 8,000-byte JIT limit; both forms give bit-identical values.
  *
  * Cast-failure semantics are null-on-error (the reference ran Spark 3.5
  * with ANSI off); sessions set spark.sql.ansi.enabled=false to match.
  */
object SalaryParser {

  private val numPat    = "(\\d+[.,\\d]*)"
  private val numMaxPat = "-\\s*(\\d+[.,\\d]*)"

  /** Raw-number → double, separator-aware (job_streaming.py:75-84). */
  private def sepAware(clean: Column, raw: Column): Column =
    when(clean.rlike("triệu|tr|m"), raw.cast("double"))
      .otherwise(regexp_replace(raw, "[.,]", "").cast("double"))

  /** Does the lowercased salary text quote USD? */
  def isUsd(clean: Column): Column = clean.rlike("usd|\\$")

  /** First number of the lowercased salary text, before unit inference. */
  def rawMin(clean: Column): Column =
    sepAware(clean, regexp_extract(clean, numPat, 1))

  /** Number after '-' in the lowercased salary text, before unit inference. */
  def rawMax(clean: Column): Column =
    sepAware(clean, regexp_extract(clean, numMaxPat, 1))

  /** Unit inference to millions of VND (job_streaming.py:87-99). */
  def toMillions(usd: Column, v: Column): Column =
    when(usd, (v * 25) / 1000)
      .when(v >= 1000, v / 1000000)
      .when(v > 100 && v < 1000, v / 1000)
      .otherwise(v)

  /** Normalized lower bound in millions of VND (null if unparseable). */
  def salaryMin(salary: Column): Column = {
    val clean = lower(salary)
    toMillions(isUsd(clean), rawMin(clean))
  }

  /** Normalized upper bound in millions of VND (null if absent). */
  def salaryMax(salary: Column): Column = {
    val clean = lower(salary)
    toMillions(isUsd(clean), rawMax(clean))
  }

  /** Midpoint | lower bound | 0.0 (job_streaming.py:105-110). */
  def salaryAvg(min: Column, max: Column): Column =
    when(min.isNotNull && max.isNotNull, (min + max) / 2)
      .when(min.isNotNull, min)
      .otherwise(lit(0.0))

}
