package graft.etl

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Batch feature engineering over cleaned job postings: the regex-flag
  * featurizer, skills explode/aggregate, and the hot-score formula.
  *
  * Semantics from the reference's batch trainers:
  *   - flag columns: /root/reference/spark/app/train_random_forest.py:56-136
  *   - skills explode + per-skill aggregate: train_gbt.py:59-88
  *   - hot score 0.4·salary̅+0.3·demand−0.2·exp̅+0.1·city: train_gbt.py:95-116
  *
  * All flags are rlike predicates over lowercase text → one codegen'd
  * projection; explode is Spark's Generator (no UDTF). The per-skill
  * aggregate is a hash aggregate with map-side partials — the shape that
  * survives 100 TB (skill cardinality is small; no skew concern).
  *
  * One projection per builder: each builder adds its columns with ONE
  * `withColumns` (a column read by a later one is inlined, not
  * referenced by name), so its analyzed plan gains one Project. Dataset
  * construction analyses eagerly, so a chain of `withColumn` calls would
  * re-analyse the growing plan once per call, a cost paid on every
  * dashboard interaction that builds a one-row scoring query. The
  * optimizer collapses such a chain into the same single Project, so the
  * rule changes analysis cost only, not optimized plans or results.
  * `withColumns` keeps `withColumn`'s column order and its
  * replace-in-place for an existing name.
  */
object JobFeatures {

  /** 1.0/0.0 regex flag (train_random_forest.py idiom). */
  def flag(c: Column, pattern: String): Column =
    when(lower(c).rlike(pattern), 1.0).otherwise(0.0)

  /** Labels + sanity filter (train_random_forest.py:36-52,142-147):
    * salary_final/exp_final coalesce chains, salary ∈ (0,200], exp ∈ [0,30]. */
  def withLabels(df: DataFrame): DataFrame =
    df.withColumns(ListMap(
        "salary_final" ->
          coalesce(col("salary_avg"), (col("salary_min") + col("salary_max")) / 2, lit(0.0)),
        "exp_final" -> coalesce(col("exp_avg_year"), col("exp_min_year"), lit(0.0))))
      .filter(col("salary_final") > 0 && col("salary_final") <= 200 &&
        col("exp_final") >= 0 && col("exp_final") <= 30)

  /** The 15 reference flag columns (city / industry / position level). */
  def withFlags(df: DataFrame): DataFrame = df.withColumns(ListMap(
    "is_hcm" -> flag(col("city"), "hồ chí minh|hcm"),
    "is_hanoi" -> flag(col("city"), "hà nội|ha noi|hanoi"),
    "is_danang" -> flag(col("city"), "đà nẵng|da nang"),
    "is_it" -> flag(col("job_fields"), "it|phần mềm|developer|lập trình|data|ai|software"),
    "is_sales" -> flag(col("job_fields"), "bán hàng|kinh doanh|sales|tiếp thị|marketing"),
    "is_finance" -> flag(col("job_fields"), "tài chính|ngân hàng|kế toán|finance|banking"),
    "is_education" -> flag(col("job_fields"), "giáo dục|đào tạo|giáo viên|education"),
    "is_engineering" -> flag(col("job_fields"), "kỹ thuật|cơ khí|điện|xây dựng|engineer"),
    "is_intern" -> flag(col("position_level"), "thực tập|intern|internship"),
    "is_fresher" -> flag(col("position_level"), "fresher|mới ra trường|sinh viên mới"),
    "is_junior" -> flag(col("position_level"), "junior"),
    "is_staff" -> flag(col("position_level"), "nhân viên|chuyên viên|staff|employee"),
    "is_senior" -> flag(col("position_level"), "senior|chuyên gia|chuyên viên cao cấp"),
    "is_team_lead" -> flag(col("position_level"), "trưởng nhóm|team lead|leader|tech lead"),
    "is_manager" -> flag(col("position_level"), "trưởng phòng|quản lý|giám đốc|manager|head|director")))

  /** Explode comma-separated skills → one row per (job, skill), cleaned
    * (train_gbt.py:59-67): lowercase, split, trim, drop empties and
    * len<=1 noise. */
  def explodeSkills(df: DataFrame): DataFrame =
    df.filter(col("skills").isNotNull && col("skills") =!= "")
      .withColumn("skill", explode(split(lower(col("skills")), ",")))
      .withColumn("skill", trim(col("skill")))
      .filter(col("skill") =!= "" && length(col("skill")) > 1)

  /** Per-skill aggregate + hot score (train_gbt.py:80-116). Uses
    * decimal-exact partial sums (graft.util.Num) so results are
    * shuffle-order independent and oracle-portable. */
  def skillHotScores(exploded: DataFrame, minJobs: Int = 10): DataFrame = {
    import graft.util.Num._
    val salaryNorm = col("avg_salary") / 100.0
    val demandNorm = least(col("job_count") / 100.0, lit(1.0))
    val expNorm = col("avg_exp") / 10.0
    exploded
      .withColumn("is_big_city", flag(col("city"), "hồ chí minh|hà nội|hcm|ha noi"))
      .groupBy(col("skill"))
      .agg(
        count(lit(1)).as("job_count"),
        davg(col("salary_avg")).as("avg_salary"),
        davg(col("exp_avg_year")).as("avg_exp"),
        davg(col("is_big_city")).as("big_city_ratio"))
      .filter(col("job_count") >= minJobs)
      .withColumns(ListMap(
        "salary_norm" -> salaryNorm,
        "demand_norm" -> demandNorm,
        "exp_norm" -> expNorm,
        "skill_hot_score" -> (salaryNorm * 0.4 + demandNorm * 0.3
          - expNorm * 0.2 + col("big_city_ratio") * 0.1)))
  }
}
