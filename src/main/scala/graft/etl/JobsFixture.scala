package graft.etl

import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic jobs-shaped fixture derived from the shipped `orders`
  * table (TESTDATA.md forbids synthesizing our own files, and the oracle
  * must see the exact same input — so the fixture is a pure projection of
  * orders that DuckDB can reproduce via [[duckSql]]).
  *
  * Text variety covers every branch of the salary/experience cascades:
  * "N - M triệu", "Từ N triệu", USD ranges, negotiable, raw VND,
  * dot-separated VND, "Nm - Mm"; experience: no-requirement / none /
  * fresh-grad / từ-N / range / N+ / trên-N / english-years.
  */
object JobsFixture {

  private def s(c: Column): Column = c.cast("string")

  def jobs(spark: SparkSession, dir: String): DataFrame = {
    val k = col("o_orderkey")
    val n1 = k % 30 + 5
    val n2 = k % 30 + 15
    val e1 = k % 10
    val e2 = k % 10 + 3
    // fan out BEFORE the regex-heavy ETL consumers: the orders fixture is a
    // single row group → a one-task scan would serialize the whole cascade
    Tables.fanOut(spark, Tables.orders(spark, dir)).select(
      k.as("job_id"),
      concat(lit("Job "), s(k)).as("job_title"),
      lit("Full-time").as("job_type"),
      when(k % 7 === 0, concat(s(n1), lit(" - "), s(n2), lit(" triệu")))
        .when(k % 7 === 1, concat(lit("Từ "), s(n1), lit(" triệu")))
        .when(k % 7 === 2, concat(s(n1 * 100), lit(" - "), s(n2 * 100), lit(" USD")))
        .when(k % 7 === 3, lit("Thỏa thuận"))
        .when(k % 7 === 4, concat(s(n1 * 1000000), lit(" - "), s(n2 * 1000000)))
        .when(k % 7 === 5, concat(s(n1), lit(".000.000 - "), s(n2), lit(".000.000")))
        .otherwise(concat(s(n1), lit("m - "), s(n2), lit("m")))
        .as("salary"),
      when(k % 8 === 0, lit("Không yêu cầu kinh nghiệm"))
        .when(k % 8 === 1, lit("Chưa có kinh nghiệm"))
        .when(k % 8 === 2, lit("Mới tốt nghiệp"))
        .when(k % 8 === 3, concat(lit("Từ "), s(e1), lit(" năm")))
        .when(k % 8 === 4, concat(s(e1), lit(" - "), s(e2), lit(" năm")))
        .when(k % 8 === 5, concat(s(e1), lit("+ năm")))
        .when(k % 8 === 6, concat(lit("Trên "), s(e1), lit(" năm")))
        .otherwise(concat(s(e1), lit(" years")))
        .as("experience"),
      when(k % 6 === 0, lit(""))
        .when(k % 6 === 1, lit("Hồ Chí Minh"))
        .when(k % 6 === 2, lit("Hà Nội"))
        .when(k % 6 === 3, lit("Đà Nẵng"))
        .when(k % 6 === 4, lit("Cần Thơ"))
        .otherwise(lit("TP HCM"))
        .as("city"),
      when(k % 5 === 0, lit("IT - Phần mềm"))
        .when(k % 5 === 1, lit("Kinh doanh / Bán hàng"))
        .when(k % 5 === 2, lit("Tài chính - Ngân hàng"))
        .when(k % 5 === 3, lit("Giáo dục - Đào tạo"))
        .otherwise(lit("Kỹ thuật - Cơ khí"))
        .as("job_fields"),
      when(k % 7 === 0, lit("Thực tập sinh"))
        .when(k % 7 === 1, lit("Fresher"))
        .when(k % 7 === 2, lit("Junior Developer"))
        .when(k % 7 === 3, lit("Nhân viên"))
        .when(k % 7 === 4, lit("Senior Developer"))
        .when(k % 7 === 5, lit("Trưởng nhóm"))
        .otherwise(lit("Quản lý"))
        .as("position_level"),
      when(k % 5 === 0, lit("Python,, SQL"))
        .when(k % 5 === 1, lit("Java, Spring, SQL"))
        .when(k % 5 === 2, lit("Excel, C, Communication"))
        .when(k % 5 === 3, lit("Python, Machine Learning, SQL"))
        .otherwise(concat(lit("Niche Skill "), s(k % 3), lit(", Python")))
        .as("skills"),
      s(col("o_orderdate")).as("event_time"),
      lit("created").as("event_type"))
  }

  /** Fixture behind an optimizer barrier: downstream regex cascades
    * reference plain string columns instead of inlining the generator
    * CASEs into every leaf (see graft.util.Barrier). */
  def jobsStaged(spark: SparkSession, dir: String): DataFrame =
    graft.util.Barrier.stage(jobs(spark, dir))

  /** DuckDB CTE producing the identical frame (same column names/values).
    * Keep branch-for-branch in sync with [[jobs]]. */
  val duckSql: String =
    """jobs AS (
      |  SELECT o_orderkey AS job_id,
      |    concat('Job ', CAST(o_orderkey AS VARCHAR)) AS job_title,
      |    'Full-time' AS job_type,
      |    CASE
      |      WHEN o_orderkey % 7 = 0 THEN concat(CAST(o_orderkey % 30 + 5 AS VARCHAR), ' - ', CAST(o_orderkey % 30 + 15 AS VARCHAR), ' triệu')
      |      WHEN o_orderkey % 7 = 1 THEN concat('Từ ', CAST(o_orderkey % 30 + 5 AS VARCHAR), ' triệu')
      |      WHEN o_orderkey % 7 = 2 THEN concat(CAST((o_orderkey % 30 + 5) * 100 AS VARCHAR), ' - ', CAST((o_orderkey % 30 + 15) * 100 AS VARCHAR), ' USD')
      |      WHEN o_orderkey % 7 = 3 THEN 'Thỏa thuận'
      |      WHEN o_orderkey % 7 = 4 THEN concat(CAST((o_orderkey % 30 + 5) * 1000000 AS VARCHAR), ' - ', CAST((o_orderkey % 30 + 15) * 1000000 AS VARCHAR))
      |      WHEN o_orderkey % 7 = 5 THEN concat(CAST(o_orderkey % 30 + 5 AS VARCHAR), '.000.000 - ', CAST(o_orderkey % 30 + 15 AS VARCHAR), '.000.000')
      |      ELSE concat(CAST(o_orderkey % 30 + 5 AS VARCHAR), 'm - ', CAST(o_orderkey % 30 + 15 AS VARCHAR), 'm') END AS salary,
      |    CASE
      |      WHEN o_orderkey % 8 = 0 THEN 'Không yêu cầu kinh nghiệm'
      |      WHEN o_orderkey % 8 = 1 THEN 'Chưa có kinh nghiệm'
      |      WHEN o_orderkey % 8 = 2 THEN 'Mới tốt nghiệp'
      |      WHEN o_orderkey % 8 = 3 THEN concat('Từ ', CAST(o_orderkey % 10 AS VARCHAR), ' năm')
      |      WHEN o_orderkey % 8 = 4 THEN concat(CAST(o_orderkey % 10 AS VARCHAR), ' - ', CAST(o_orderkey % 10 + 3 AS VARCHAR), ' năm')
      |      WHEN o_orderkey % 8 = 5 THEN concat(CAST(o_orderkey % 10 AS VARCHAR), '+ năm')
      |      WHEN o_orderkey % 8 = 6 THEN concat('Trên ', CAST(o_orderkey % 10 AS VARCHAR), ' năm')
      |      ELSE concat(CAST(o_orderkey % 10 AS VARCHAR), ' years') END AS experience,
      |    CASE
      |      WHEN o_orderkey % 6 = 0 THEN ''
      |      WHEN o_orderkey % 6 = 1 THEN 'Hồ Chí Minh'
      |      WHEN o_orderkey % 6 = 2 THEN 'Hà Nội'
      |      WHEN o_orderkey % 6 = 3 THEN 'Đà Nẵng'
      |      WHEN o_orderkey % 6 = 4 THEN 'Cần Thơ'
      |      ELSE 'TP HCM' END AS city,
      |    CASE
      |      WHEN o_orderkey % 5 = 0 THEN 'IT - Phần mềm'
      |      WHEN o_orderkey % 5 = 1 THEN 'Kinh doanh / Bán hàng'
      |      WHEN o_orderkey % 5 = 2 THEN 'Tài chính - Ngân hàng'
      |      WHEN o_orderkey % 5 = 3 THEN 'Giáo dục - Đào tạo'
      |      ELSE 'Kỹ thuật - Cơ khí' END AS job_fields,
      |    CASE
      |      WHEN o_orderkey % 7 = 0 THEN 'Thực tập sinh'
      |      WHEN o_orderkey % 7 = 1 THEN 'Fresher'
      |      WHEN o_orderkey % 7 = 2 THEN 'Junior Developer'
      |      WHEN o_orderkey % 7 = 3 THEN 'Nhân viên'
      |      WHEN o_orderkey % 7 = 4 THEN 'Senior Developer'
      |      WHEN o_orderkey % 7 = 5 THEN 'Trưởng nhóm'
      |      ELSE 'Quản lý' END AS position_level,
      |    CASE
      |      WHEN o_orderkey % 5 = 0 THEN 'Python,, SQL'
      |      WHEN o_orderkey % 5 = 1 THEN 'Java, Spring, SQL'
      |      WHEN o_orderkey % 5 = 2 THEN 'Excel, C, Communication'
      |      WHEN o_orderkey % 5 = 3 THEN 'Python, Machine Learning, SQL'
      |      ELSE concat('Niche Skill ', CAST(o_orderkey % 3 AS VARCHAR), ', Python') END AS skills,
      |    CAST(o_orderdate AS VARCHAR) AS event_time,
      |    'created' AS event_type
      |  FROM orders)""".stripMargin

  /** DuckDB CTE chain applying the salary + experience parse over `jobs` —
    * branch-for-branch mirror of SalaryParser/ExperienceParser (which in
    * turn mirror job_streaming.py:70-147). regexp_replace needs 'g' to
    * match Spark's replace-all; TRY_CAST mirrors null-on-error casts. */
  val duckParsedSql: String =
    duckSql + """,
      |sal1 AS (SELECT *, lower(salary) AS clean FROM jobs),
      |sal2 AS (SELECT *,
      |  regexp_extract(clean, '(\d+[.,\d]*)', 1) AS raw_min,
      |  regexp_extract(clean, '-\s*(\d+[.,\d]*)', 1) AS raw_max FROM sal1),
      |sal3 AS (SELECT *,
      |  CASE WHEN regexp_matches(clean, 'triệu|tr|m') THEN TRY_CAST(raw_min AS DOUBLE)
      |       ELSE TRY_CAST(regexp_replace(raw_min, '[.,]', '', 'g') AS DOUBLE) END AS val_min,
      |  CASE WHEN regexp_matches(clean, 'triệu|tr|m') THEN TRY_CAST(raw_max AS DOUBLE)
      |       ELSE TRY_CAST(regexp_replace(raw_max, '[.,]', '', 'g') AS DOUBLE) END AS val_max
      |  FROM sal2),
      |sal4 AS (SELECT *,
      |  CASE WHEN regexp_matches(clean, 'usd|\$') THEN (val_min * 25) / 1000
      |       WHEN val_min >= 1000 THEN val_min / 1000000
      |       WHEN val_min > 100 AND val_min < 1000 THEN val_min / 1000
      |       ELSE val_min END AS salary_min,
      |  CASE WHEN regexp_matches(clean, 'usd|\$') THEN (val_max * 25) / 1000
      |       WHEN val_max >= 1000 THEN val_max / 1000000
      |       WHEN val_max > 100 AND val_max < 1000 THEN val_max / 1000
      |       ELSE val_max END AS salary_max
      |  FROM sal3),
      |exp1 AS (SELECT *, lower(experience) AS exp_raw FROM sal4),
      |parsed AS (SELECT *,
      |  CASE WHEN salary_min IS NOT NULL AND salary_max IS NOT NULL THEN (salary_min + salary_max) / 2
      |       WHEN salary_min IS NOT NULL THEN salary_min
      |       ELSE 0.0 END AS salary_avg,
      |  CASE WHEN exp_raw LIKE '%không yêu cầu%' THEN NULL
      |       WHEN regexp_matches(exp_raw, 'chưa có|mới tốt nghiệp|intern') THEN 0.0
      |       WHEN regexp_matches(exp_raw, '(từ|from|at least|tối thiểu|min)\s*(\d+)') THEN TRY_CAST(regexp_extract(exp_raw, '(?:từ|from|at least|tối thiểu|min)\s*(\d+)', 1) AS DOUBLE)
      |       WHEN regexp_matches(exp_raw, '(\d+)\s*\+') THEN TRY_CAST(regexp_extract(exp_raw, '(\d+)', 1) AS DOUBLE)
      |       WHEN regexp_matches(exp_raw, '(\d+)\s*(năm|year|yoe|kn)') THEN TRY_CAST(regexp_extract(exp_raw, '(\d+)', 1) AS DOUBLE)
      |       WHEN regexp_matches(exp_raw, '(\d+)\s*-\s*(\d+)') THEN TRY_CAST(regexp_extract(exp_raw, '(\d+)\s*-\s*(\d+)', 1) AS DOUBLE)
      |       ELSE NULL END AS exp_min_year,
      |  CASE WHEN regexp_matches(exp_raw, '(\d+)\s*-\s*(\d+)') THEN TRY_CAST(regexp_extract(exp_raw, '(\d+)\s*-\s*(\d+)', 2) AS DOUBLE)
      |       ELSE NULL END AS exp_max_year,
      |  CASE WHEN exp_raw LIKE '%không yêu cầu%' THEN 'no_requirement'
      |       WHEN exp_raw LIKE '%chưa có%' THEN 'no_experience'
      |       WHEN exp_raw LIKE '%mới tốt nghiệp%' THEN 'fresh_graduate'
      |       WHEN exp_raw LIKE '%lên đến%' THEN 'upper_bound'
      |       WHEN exp_raw LIKE '%trên%' THEN 'lower_bound'
      |       WHEN regexp_matches(exp_raw, '(\d+)\s*-\s*(\d+)') THEN 'range'
      |       ELSE 'unknown' END AS exp_type
      |  FROM exp1),
      |etl AS (SELECT *,
      |  CASE WHEN coalesce(exp_min_year, 0.0) > 40 THEN NULL
      |       ELSE coalesce(exp_min_year, 0.0) END AS exp_avg_year,
      |  CASE WHEN city = '' OR city IS NULL THEN 'Unknown' ELSE city END AS city_clean
      |  FROM parsed)""".stripMargin

  /** The label rule over [[duckParsedSql]]'s `etl` — the DuckDB twin of
    * [[JobFeatures.withLabels]]: `labeled` adds the salary_final /
    * exp_final coalesce chains, `postings` keeps the rows that pass the
    * sanity filter. Splice after [[duckParsedSql]]. */
  val duckLabeledSql: String =
    """labeled AS (
      |  SELECT *,
      |    coalesce(salary_avg, (salary_min + salary_max) / 2, 0.0) AS salary_final,
      |    coalesce(exp_avg_year, exp_min_year, 0.0) AS exp_final
      |  FROM etl),
      |postings AS (
      |  SELECT * FROM labeled
      |  WHERE salary_final > 0 AND salary_final <= 200
      |    AND exp_final >= 0 AND exp_final <= 30)""".stripMargin
}
