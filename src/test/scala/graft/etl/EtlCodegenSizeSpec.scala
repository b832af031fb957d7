package graft.etl

import graft.TestSpark
import graft.streaming.StreamingEtl
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.debug.codegenStringSeq
import org.scalatest.funsuite.AnyFunSuite

/** Codegen-size guard for the ETL stage. HotSpot never JIT-compiles a
  * method larger than 8,000 bytes of bytecode (`-XX:HugeMethodLimit`),
  * and Spark only falls back from whole-stage codegen above
  * `spark.sql.codegen.hugeMethodLimit` (65,535 by default), so a stage
  * between the two runs in the JVM interpreter with no error and no
  * fallback. Each streamed micro-batch is one task running this stage,
  * so a regression here shows only as lost throughput. */
class EtlCodegenSizeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val HotSpotHugeMethodLimit = 8000

  /** JSON lines read from a file, so the optimizer cannot fold the ETL
    * into a local relation and the plan keeps its scan → projection
    * codegen stage. */
  private lazy val lines: DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory("graft-etl-codegen")
    val json = Seq(
      ("Data Engineer", "Hà Nội", "20 - 30 triệu", "3 - 5 năm"),
      ("Intern", "", "Thỏa thuận", "Không yêu cầu kinh nghiệm"),
      ("Manager", "Hồ Chí Minh", "1.200 - 2.000 USD", "Trên 7 năm")
    ).map { case (title, city, salary, exp) =>
      s"""{"job_title": "$title", "city": "$city", "salary": "$salary", """ +
        s""""experience": "$exp", "event_time": "2024-03-01 10:00:00"}"""
    }
    java.nio.file.Files.write(dir.resolve("postings.json"),
      json.mkString("\n").getBytes("UTF-8"))
    spark.read.text(dir.toString)
  }

  private def assertStagesJitSized(df: DataFrame): Unit = {
    val stages = codegenStringSeq(df.queryExecution.executedPlan)
    assert(stages.nonEmpty, "the ETL plan has no whole-stage codegen subtree")
    // the guard must see the salary cascade, not a plan that lost it
    assert(stages.exists(_._2.contains("java.util.regex.Pattern")),
      "no stage compiles the regex cascade")
    stages.foreach { case (subtree, _, stats) =>
      assert(stats.maxMethodCodeSize < HotSpotHugeMethodLimit,
        s"a generated method is ${stats.maxMethodCodeSize} bytes, over HotSpot's " +
          s"$HotSpotHugeMethodLimit-byte JIT limit, so it runs interpreted:\n$subtree")
    }
    info(s"largest generated method: ${stages.map(_._3.maxMethodCodeSize).max} bytes")
  }

  test("StreamingEtl.transform compiles to methods HotSpot will JIT") {
    assertStagesJitSized(StreamingEtl.transform(lines))
  }

  test("JobEtl.transform with deterministic ids compiles to methods HotSpot will JIT") {
    assertStagesJitSized(
      JobEtl.transform(StreamingEtl.parseJson(lines), deterministicId = true))
  }
}
