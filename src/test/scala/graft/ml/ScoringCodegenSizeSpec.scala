package graft.ml

import graft.TestSpark
import graft.etl.JobFeatures
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.debug.codegenStringSeq
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Codegen-size guard for the batch scoring stage: labels and flags,
  * the frozen k-means cluster over the scaled features and the frozen
  * random-forest salary prediction, composed as the dashboard scores a
  * posting. HotSpot never JIT-compiles a method larger than 8,000 bytes
  * of bytecode (`-XX:HugeMethodLimit`), and Spark only falls back from
  * whole-stage codegen above `spark.sql.codegen.hugeMethodLimit`
  * (65,535 by default), so a stage between the two runs in the JVM
  * interpreter with no error and no fallback (see EtlCodegenSizeSpec).
  * A cluster column that wrote the distances out per comparison
  * compiled to a 20,056-byte method here. */
class ScoringCodegenSizeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val HotSpotHugeMethodLimit = 8000

  /** Parsed postings read from parquet, so the optimizer cannot fold the
    * scoring into a local relation and the plan keeps its scan →
    * projection codegen stage. */
  private lazy val postings: DataFrame = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-scoring-codegen")
    Seq(
      ("Data Engineer", "Hà Nội", "IT - Phần mềm", "Senior", 25.0, 20.0, 30.0, 4.0, 3.0),
      ("Sales Intern", "Hồ Chí Minh", "Kinh doanh", "Thực tập", 3.0, 2.0, 4.0, 0.0, 0.0),
      ("Accountant", "Đà Nẵng", "Kế toán", "Nhân viên", 12.0, 10.0, 14.0, 2.0, 1.0)
    ).toDF("job_title", "city", "job_fields", "position_level", "salary_avg",
      "salary_min", "salary_max", "exp_avg_year", "exp_min_year")
      .write.parquet(dir.resolve("postings").toString)
    spark.read.parquet(dir.resolve("postings").toString)
  }

  /** The batch scoring stage: the dashboard's per-posting composition. */
  private def scored(df: DataFrame): DataFrame = {
    val f = JobFeatures.withFlags(JobFeatures.withLabels(df))
    def scaled(i: Int) = FrozenJobKmeans.scaledCol(i, col(FrozenJobKmeans.featureNames(i)))
    f.select(col("job_title"), col("city"), col("salary_final"), col("exp_final"),
      FrozenJobKmeans.clusterCol(c => FrozenJobKmeans.distCol(c, scaled)).as("cluster"),
      FrozenSalaryRf.predictionCol(i => col(FrozenSalaryRf.featureNames(i)), col)
        .as("pred_salary"))
  }

  test("the scoring stage compiles to methods HotSpot will JIT") {
    val stages = codegenStringSeq(scored(postings).queryExecution.executedPlan)
    assert(stages.nonEmpty, "the scoring plan has no whole-stage codegen subtree")
    // the guard must see the flags and the model arithmetic, not a plan
    // that lost them
    assert(stages.exists(_._2.contains("java.util.regex.Pattern")),
      "no stage compiles the flag regexes")
    stages.foreach { case (subtree, _, stats) =>
      assert(stats.maxMethodCodeSize < HotSpotHugeMethodLimit,
        s"a generated method is ${stats.maxMethodCodeSize} bytes, over HotSpot's " +
          s"$HotSpotHugeMethodLimit-byte JIT limit, so it runs interpreted:\n$subtree")
    }
    info(s"largest generated method: ${stages.map(_._3.maxMethodCodeSize).max} bytes")
  }
}
