package graft.queries

import graft.QueryDef
import graft.QueryDef.{rowsOnly, sqlChecked}
import graft.etl.{JobEtl, JobFeatures, JobsFixture, SalaryParser}
import graft.similarity.Pq
import graft.util.Num._
import org.apache.spark.sql.functions._

/** The job-ETL vertical slice (SURVEY §3.1/§7 step 1): regex salary +
  * experience normalization, city cleanup, flag featurization, skills
  * explode/aggregate and the hot-score formula — each end-to-end checked
  * against a DuckDB oracle that re-implements the same cascades over the
  * same deterministic fixture (JobsFixture over orders).
  *
  * Scale shape: every query is scan → codegen'd projections in a single
  * map stage (JobEtl projects each salary number once, so the regex
  * cascade runs once per row) → at most one hash aggregate shuffle. No
  * joins, no windows, no state.
  */
object JobEtlQueries {

  private val W = JobsFixture.duckParsedSql

  /** ETL output behind an optimizer barrier — the "table boundary" a real
    * pipeline has between ETL and analytics. Without it, filter pushdown +
    * project collapse inline the regex cascades multiplicatively (371 KB
    * plans, interpreted eval — see graft.util.Barrier). */
  private[queries] def cleanJobs(spark: org.apache.spark.sql.SparkSession, dir: String) =
    graft.util.Barrier.stage(
      JobEtl.transform(JobsFixture.jobsStaged(spark, dir), deterministicId = true))

  /** P6 rlike + F4 group extraction + F6 cascades + F10 casts: the salary
    * normalizer, row-level so every branch is visible to the oracle. */
  val jq01SalaryParse: QueryDef = sqlChecked(
    "jq01_salary_parse",
    s"""WITH $W
       |SELECT job_id, salary, salary_min, salary_max, salary_avg
       |FROM etl WHERE job_id < 2000 ORDER BY job_id""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val j = JobsFixture.jobs(spark, dir).filter($"job_id" < 2000)
    j.select($"job_id", $"salary",
        SalaryParser.salaryMin($"salary").as("salary_min"),
        SalaryParser.salaryMax($"salary").as("salary_max"))
      .withColumn("salary_avg", SalaryParser.salaryAvg($"salary_min", $"salary_max"))
      .orderBy($"job_id")
  }

  /** The 7-branch experience cascade + group-2 range extraction + the
    * 6-way exp_type enum (job_streaming.py:115-147). */
  val jq02ExperienceParse: QueryDef = sqlChecked(
    "jq02_experience_parse",
    s"""WITH $W
       |SELECT job_id, experience, exp_min_year, exp_max_year, exp_avg_year, exp_type
       |FROM etl WHERE job_id < 2000 ORDER BY job_id""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    import graft.etl.ExperienceParser._
    JobsFixture.jobs(spark, dir).filter($"job_id" < 2000)
      .select($"job_id", $"experience",
        expMinYear($"experience").as("exp_min_year"),
        expMaxYear($"experience").as("exp_max_year"),
        expAvgYear(expMinYear($"experience")).as("exp_avg_year"),
        expType($"experience").as("exp_type"))
      .orderBy($"job_id")
  }

  /** Full ETL → flagship serving query: top cities by posting count with
    * average normalized salary (streamlit_app.py:196 as distributed SQL). */
  val jq03TopCities: QueryDef = sqlChecked(
    "jq03_top_cities",
    s"""WITH $W
       |SELECT city_clean AS city, COUNT(*) AS n_jobs,
       |  ${sqlDavg("salary_avg")} AS avg_salary
       |FROM etl
       |GROUP BY city_clean
       |ORDER BY n_jobs DESC, city LIMIT 10""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    cleanJobs(spark, dir)
      .groupBy($"city")
      .agg(count(lit(1)).as("n_jobs"), davg($"salary_avg").as("avg_salary"))
      .orderBy($"n_jobs".desc, $"city")
      .limit(10)
  }

  /** The 15-flag regex featurizer + label coalesce chains + sanity filter
    * (train_random_forest.py:36-147), aggregated to per-flag totals. */
  val jq04FlagFeatures: QueryDef = sqlChecked(
    "jq04_flag_features", {
      // CAST(... AS DOUBLE): DuckDB types the 1.0 literal as DECIMAL, so its
      // SUM would come back DECIMAL while Spark's flag sum is DOUBLE.
      val sumExprs = JobFeatures.flags.map(f =>
        s"  CAST(SUM(${JobFeatures.flagSql(f)}) AS DOUBLE) AS ${f.name}").mkString(",\n")
      s"""WITH $W,
         |labeled AS (
         |  SELECT *,
         |    coalesce(salary_avg, (salary_min + salary_max) / 2, 0.0) AS salary_final,
         |    coalesce(exp_avg_year, exp_min_year, 0.0) AS exp_final
         |  FROM etl)
         |SELECT COUNT(*) AS n_jobs,
         |$sumExprs
         |FROM labeled
         |WHERE salary_final > 0 AND salary_final <= 200
         |  AND exp_final >= 0 AND exp_final <= 30""".stripMargin
    }) { (spark, dir) =>
    import spark.implicits._
    val df = JobFeatures.withFlags(JobFeatures.withLabels(cleanJobs(spark, dir)))
    df.agg(count(lit(1)).as("n_jobs"),
      JobFeatures.flags.map(f => sum(col(f.name)).as(f.name)): _*)
  }

  /** F11 split + F12 explode + F13 trim + F14 length filter + A2/A9
    * aggregate-with-having (train_gbt.py:59-88). */
  val jq05SkillsExplode: QueryDef = sqlChecked(
    "jq05_skills_explode",
    s"""WITH $W,
       |sk0 AS (SELECT unnest(string_split(lower(skills), ',')) AS skill0, salary_avg FROM etl),
       |sk AS (SELECT trim(skill0) AS skill, salary_avg FROM sk0)
       |SELECT skill, COUNT(*) AS job_count, ${sqlDavg("salary_avg")} AS avg_salary
       |FROM sk
       |WHERE skill <> '' AND length(skill) > 1
       |GROUP BY skill
       |HAVING COUNT(*) >= 10
       |ORDER BY skill""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    JobFeatures.explodeSkills(cleanJobs(spark, dir))
      .groupBy($"skill")
      .agg(count(lit(1)).as("job_count"), davg($"salary_avg").as("avg_salary"))
      .filter($"job_count" >= 10)
      .orderBy($"skill")
  }

  /** The per-skill hot-score CTE chain (sk0 → sk → agg → hot) — ONE
    * source of truth for the aggregate arithmetic, shared by jq06's
    * oracle and mq17's frozen-GBT serving oracle (which scores exactly
    * this frame). Yields `hot(skill, job_count, avg_salary, avg_exp,
    * big_city_ratio, skill_hot_score)`; splice after the `$W` fixture. */
  private[queries] val skillHotSql: String =
    s"""sk0 AS (SELECT unnest(string_split(lower(skills), ',')) AS skill0,
       |          salary_avg, exp_avg_year, city_clean FROM etl),
       |sk AS (SELECT trim(skill0) AS skill, salary_avg, exp_avg_year,
       |         ${JobFeatures.flagSql(JobFeatures.bigCity)} AS ${JobFeatures.bigCity.name}
       |       FROM sk0 WHERE trim(skill0) <> '' AND length(trim(skill0)) > 1),
       |agg AS (
       |  SELECT skill, COUNT(*) AS job_count,
       |    ${sqlDavg("salary_avg")} AS avg_salary,
       |    ${sqlDavg("exp_avg_year")} AS avg_exp,
       |    ${sqlDavg("is_big_city")} AS big_city_ratio
       |  FROM sk GROUP BY skill HAVING COUNT(*) >= 10),
       |hot AS (
       |  SELECT skill, job_count, avg_salary, avg_exp, big_city_ratio,
       |    (avg_salary / 100.0) * 0.4 + least(job_count / 100.0, 1.0) * 0.3
       |      - (avg_exp / 10.0) * 0.2 + big_city_ratio * 0.1 AS skill_hot_score
       |  FROM agg)""".stripMargin

  /** Hot-score formula over the per-skill aggregate (train_gbt.py:95-116):
    * 0.4·salary̅/100 + 0.3·min(count/100,1) − 0.2·exp̅/10 + 0.1·bigcity. */
  val jq06HotScore: QueryDef = sqlChecked(
    "jq06_hot_score",
    s"""WITH $W,
       |$skillHotSql
       |SELECT skill, job_count, avg_salary, avg_exp, big_city_ratio, skill_hot_score
       |FROM hot
       |ORDER BY skill_hot_score DESC, skill LIMIT 20""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    JobFeatures.skillHotScores(JobFeatures.explodeSkills(cleanJobs(spark, dir)))
      .select($"skill", $"job_count", $"avg_salary", $"avg_exp",
        $"big_city_ratio", $"skill_hot_score")
      .orderBy($"skill_hot_score".desc, $"skill")
      .limit(20)
  }

  /** F9 uuid() + F22 current_timestamp: surrogate keys are unique and
    * non-null across the frame. rowsOnly — uuid is non-deterministic by
    * design; the check is the cardinality invariant itself. */
  val jq07SurrogateKeys: QueryDef = rowsOnly("jq07_surrogate_keys") { (spark, dir) =>
    import spark.implicits._
    graft.util.Barrier.stage(JobEtl.transform(JobsFixture.jobsStaged(spark, dir)))
      .withColumn("ingested_at", current_timestamp())
      .agg(
        count(lit(1)).as("n_rows"),
        countDistinct($"id").as("n_distinct_ids"),
        count(when($"id".isNull, 1)).as("n_null_ids"),
        count(when($"ingested_at".isNull, 1)).as("n_null_ts"))
  }

  /** Frozen serving-time centroids over (salary_final triệu, exp_final
    * years) — at serving time a TRAINED model's parameters are published
    * constants (the job_clusters lifecycle: train_kmeans.py trains, writes
    * assignments; the dashboard only ever reads them), which is what makes
    * the assignment replayable by the SQL oracle. Tiers mirror the
    * reference's salary/experience banding (train_kmeans.py:247-260). */
  private val clusterCentroids: Seq[(Double, Double)] =
    Seq((8.0, 0.5), (15.0, 1.0), (25.0, 3.0), (40.0, 5.0), (60.0, 8.0))

  /** First-min-wins argmin as a CASE chain: WHEN i fires iff d_i <= every
    * LATER distance — reaches exactly the first index attaining the global
    * min. The Spark side is [[Pq.nearestCol]], the same first-index argmin
    * over the same IEEE terms: its fold starts from 0.0, and 0.0 + t0 ==
    * t0 for a square t0; both engines order NaN greatest; both features
    * are coalesced non-null. */
  private def sqlClusterCase: String = {
    val d = clusterCentroids.map { case (s, e) =>
      s"((salary_final - $s)*(salary_final - $s) + (exp_final - $e)*(exp_final - $e))" }
    val whens = (0 until d.length - 1).map { i =>
      s"WHEN ${(i + 1 until d.length).map(j => s"${d(i)} <= ${d(j)}").mkString(" AND ")} THEN $i" }
    s"CASE ${whens.mkString(" ")} ELSE ${d.length - 1} END"
  }

  /** The per-cluster stats SERVING join (train_kmeans.py:200-213,275-278 +
    * streamlit_app.py:269-276): the cluster-assignment result table —
    * reference's job_analytics.job_clusters — equi-joined back to the
    * postings by id, then per-cluster count / avg salary / avg experience.
    * Assignment is a codegen'd argmin projection over the frozen centroid
    * table (no model object in the serving path). 100 TB shape: both
    * sides key on job_id, so the join co-partitions on the id (or prunes
    * to a broadcast when the assignment table is one training run's
    * output); the agg is 5 groups — partial map-side combine collapses it
    * before the shuffle. */
  val jq08ClusterStats: QueryDef = sqlChecked(
    "jq08_cluster_stats",
    s"""WITH $W,
       |labeled AS (
       |  SELECT job_id,
       |    coalesce(salary_avg, (salary_min + salary_max) / 2, 0.0) AS salary_final,
       |    coalesce(exp_avg_year, exp_min_year, 0.0) AS exp_final
       |  FROM etl),
       |postings AS (
       |  SELECT * FROM labeled
       |  WHERE salary_final > 0 AND salary_final <= 200
       |    AND exp_final >= 0 AND exp_final <= 30),
       |clusters AS (SELECT job_id, $sqlClusterCase AS cluster FROM postings)
       |SELECT c.cluster, COUNT(*) AS n_jobs,
       |  ${sqlDavg("p.salary_final")} AS avg_salary,
       |  ${sqlDavg("p.exp_final")} AS avg_exp
       |FROM clusters c JOIN postings p ON c.job_id = p.job_id
       |GROUP BY c.cluster ORDER BY c.cluster""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    // cache: the postings frame feeds BOTH join sides; uncached, the
    // regex-ETL cascade would evaluate twice (in production the
    // assignment table is a STORED table — job_clusters — so the
    // serving join never recomputes the ETL at all)
    val postings = JobFeatures.withLabels(cleanJobs(spark, dir))
      .select($"job_id", $"salary_final", $"exp_final")
      .cache()
    val cluster = Pq.nearestCol(array($"salary_final", $"exp_final"),
      clusterCentroids.map { case (s, e) => Seq(s, e) })
    // the assignment table (job_clusters) as its own frame, then the
    // dashboard's id-equi-join back onto the postings
    val assignments = postings.select($"job_id", cluster.as("cluster"))
    assignments.join(postings, Seq("job_id"))
      .groupBy($"cluster")
      .agg(count(lit(1)).as("n_jobs"),
        davg($"salary_final").as("avg_salary"),
        davg($"exp_final").as("avg_exp"))
      .orderBy($"cluster")
  }

  val all: Seq[QueryDef] = Seq(
    jq01SalaryParse, jq02ExperienceParse, jq03TopCities, jq04FlagFeatures,
    jq05SkillsExplode, jq06HotScore, jq07SurrogateKeys, jq08ClusterStats)
}
