package graft.streaming

import graft.TestSpark
import org.apache.spark.CodegenCompilations
import org.apache.spark.sql.catalyst.expressions.JsonToStructs
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.streaming.runtime.{MemoryStream, StreamingQueryWrapper}
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

/** The streaming ETL's fixed per-batch cost: every micro-batch is planned
  * again, and a batch whose generated source differs from the last one's
  * (a per-batch seed or literal written into the code) misses Spark's
  * codegen cache and is compiled again by Janino. Streams micro-batches
  * through `StreamingEtl.transform` into the `StreamingEtl.toParquet`
  * sink, triggered back to back as flowbench's `ingest` runs it. */
class StreamingCodegenReuseSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def jsonLine(batch: Int, row: Int): String =
    s"""{"job_title": "Dev $batch-$row", "city": "Huế", "salary": "${10 + row} - 20 triệu", """ +
      s""""experience": "$row năm", "event_time": "2024-03-01 10:00:00"}"""

  /** Streams `batches` micro-batches of three postings, returning the
    * count of compiled classes after each batch and the last batch's
    * executed plan. */
  private def stream(batches: Int): (Seq[Long], SparkPlan) = {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft-codegen-reuse").toString
    val input = MemoryStream[String]
    val query = StreamingEtl.toParquet(StreamingEtl.transform(input.toDF()),
        s"$base/out", s"$base/ckpt")
      .trigger(Trigger.ProcessingTime(0L))
      .start()
    try {
      val compiled = (0 until batches).map { b =>
        input.addData((0 until 3).map(jsonLine(b, _)))
        query.processAllAvailable()
        CodegenCompilations()
      }
      assert(spark.read.parquet(s"$base/out").count() == 3 * batches)
      (compiled, query.asInstanceOf[StreamingQueryWrapper].streamingQuery
        .lastExecution.executedPlan)
    } finally query.stop()
  }

  test("micro-batches after the first compile no code") {
    val (compiled, _) = stream(5)
    assert(compiled.tail.forall(_ == compiled.head),
      s"classes compiled in total after each batch: ${compiled.mkString(", ")}")
  }

  test("each JSON line is parsed once") {
    val (_, plan) = stream(1)
    val parses = plan.collect { case p =>
      p.expressions.map(_.collect { case j: JsonToStructs => j }.size).sum }.sum
    assert(parses == 1, s"$parses JSON parses per row in:\n$plan")
  }
}
