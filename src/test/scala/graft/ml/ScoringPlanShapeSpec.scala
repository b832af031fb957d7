package graft.ml

import graft.TestSpark
import graft.etl.JobFeatures
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The scoring builders produce small plans. A Dataset analyses its
  * plan when it is built, and the dashboard builds a one-row scoring
  * query on every interaction, so plan size is paid per interaction
  * before any job runs. Deterministic stand-ins for that cost: each
  * feature builder adds one Project to the analyzed plan (not one per
  * column), and the cluster column writes each distance once instead of
  * once per comparison. */
class ScoringPlanShapeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private lazy val postings: DataFrame = {
    import spark.implicits._
    Seq(("Data Engineer", "Hà Nội", "IT - Phần mềm", "Senior", "sql, spark",
      25.0, 20.0, 30.0, 4.0, 3.0))
      .toDF("job_title", "city", "job_fields", "position_level", "skills",
        "salary_avg", "salary_min", "salary_max", "exp_avg_year", "exp_min_year")
  }

  private def projects(df: DataFrame): Int =
    df.queryExecution.analyzed.collect { case p: Project => p }.length

  private def addedProjects(in: DataFrame, out: DataFrame): Int =
    projects(out) - projects(in)

  test("withLabels and withFlags each add one Project to the analyzed plan") {
    val labeled = JobFeatures.withLabels(postings)
    assert(addedProjects(postings, labeled) == 1)
    val flagged = JobFeatures.withFlags(labeled)
    assert(addedProjects(labeled, flagged) == 1)
    // replace semantics and column order are withColumn's
    assert(flagged.columns.toSeq == postings.columns.toSeq ++
      Seq("salary_final", "exp_final") ++ FlagNames)
    assert(JobFeatures.withFlags(flagged).columns.toSeq == flagged.columns.toSeq)
  }

  test("skillHotScores adds one Project before and one after its aggregate") {
    val exploded = JobFeatures.explodeSkills(postings)
    val hot = JobFeatures.skillHotScores(exploded, minJobs = 1)
    assert(addedProjects(exploded, hot) == 2)
    assert(hot.columns.toSeq.takeRight(4) ==
      Seq("salary_norm", "demand_norm", "exp_norm", "skill_hot_score"))
  }

  test("the cluster column writes each distance once") {
    def scaled(i: Int) = FrozenJobKmeans.scaledCol(i, col(FrozenJobKmeans.featureNames(i)))
    val cluster = JobFeatures.withFlags(JobFeatures.withLabels(postings))
      .select(FrozenJobKmeans.clusterCol(c => FrozenJobKmeans.distCol(c, scaled)))
    val expr = cluster.queryExecution.analyzed.asInstanceOf[Project].projectList.head
    var nodes = 0
    expr.foreach(_ => nodes += 1)
    // a comparison cascade that inlines the distance per comparison
    // writes 640 scaled-feature subtrees, over 5,000 nodes
    assert(nodes < MaxClusterNodes, s"the cluster column has $nodes expression nodes")
    info(s"cluster column: $nodes expression nodes")
  }

  private val MaxClusterNodes = 2000

  private val FlagNames = Seq("is_hcm", "is_hanoi", "is_danang", "is_it", "is_sales",
    "is_finance", "is_education", "is_engineering", "is_intern", "is_fresher",
    "is_junior", "is_staff", "is_senior", "is_team_lead", "is_manager")
}
