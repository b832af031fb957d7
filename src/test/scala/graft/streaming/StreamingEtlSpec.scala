package graft.streaming

import graft.TestSpark
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Micro-batch streaming tests via MemoryStream (SURVEY §5): the batch ETL
  * transform running under MicroBatchExecution, append mode, with
  * checkpointed exactly-once parquet output.
  */
class StreamingEtlSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def jsonLine(title: String, city: String, salary: String,
      exp: String): String =
    s"""{"job_title": "$title", "city": "$city", "salary": "$salary",
       |"experience": "$exp", "skills": "Python, SQL",
       |"job_fields": "IT - Phần mềm", "position_level": "Senior",
       |"job_type": "Full-time", "unit": "trieu",
       |"event_time": "2024-03-01 10:00:00", "event_type": "created"}"""
      .stripMargin.replaceAll("\n", " ")

  test("memory-stream micro-batches run the full ETL and append") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[String]
    val etl = StreamingEtl.transform(stream.toDF().withColumnRenamed("value", "value"))
    val query = etl.writeStream
      .format("memory")
      .queryName("etl_sink")
      .outputMode("append")
      .start()
    try {
      stream.addData(
        jsonLine("Data Engineer", "Hà Nội", "20 - 30 triệu", "3 - 5 năm"),
        jsonLine("Intern", "", "Thỏa thuận", "Không yêu cầu kinh nghiệm"))
      query.processAllAvailable()
      stream.addData(
        jsonLine("Manager", "Hồ Chí Minh", "2000 USD", "Trên 7 năm"))
      query.processAllAvailable()

      val out = spark.table("etl_sink")
      assert(out.count() == 3)
      val byTitle = out.collect().map(r => r.getAs[String]("job_title") -> r).toMap
      assert(byTitle("Data Engineer").getAs[Double]("salary_avg") == 25.0)
      assert(byTitle("Data Engineer").getAs[String]("exp_type") == "range")
      assert(byTitle("Intern").getAs[String]("city") == "Unknown")
      assert(byTitle("Intern").getAs[Double]("salary_avg") == 0.0)
      assert(byTitle("Manager").getAs[Double]("salary_avg") == 50.0)
      assert(byTitle("Manager").getAs[String]("exp_type") == "lower_bound")
      assert(out.select("id").distinct().count() == 3)
    } finally query.stop()
  }

  test("ids are non-null random v4 uuids, distinct across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[String]
    val query = StreamingEtl.transform(stream.toDF())
      .writeStream.format("memory").queryName("id_sink")
      .outputMode("append").start()
    try {
      for (b <- 1 to 3) {
        stream.addData((1 to 4).map(i => jsonLine(s"Dev $b-$i", "Huế", "10 triệu", "2 năm")))
        query.processAllAvailable()
      }
      val ids = spark.table("id_sink").select("id").as[String].collect()
      assert(ids.length == 12)
      ids.foreach { id =>
        assert(id != null && id.length == 36, id)
        assert(java.util.UUID.fromString(id).version() == 4, id)
      }
      assert(ids.distinct.length == ids.length, "an id repeats across batches")
    } finally query.stop()
  }

  test("file source → checkpointed parquet append sink is exactly-once across restarts") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft-stream").toString
    val (in, outDir, ckpt) = (s"$base/in", s"$base/out", s"$base/ckpt")
    new java.io.File(in).mkdirs()
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$in/batch1.json"),
      Seq(
        jsonLine("Dev A", "Hà Nội", "10 - 20 triệu", "2 năm"),
        jsonLine("Dev B", "Đà Nẵng", "Từ 15 triệu", "5+ năm")).mkString("\n"))
    StreamingEtl.start(spark, in, outDir, ckpt).awaitTermination()
    assert(spark.read.parquet(outDir).count() == 2)

    // restart with one new file: only the new rows append (offsets hold)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$in/batch2.json"),
      jsonLine("Dev C", "Hồ Chí Minh", "1500 - 2500 USD", "3 - 4 năm"))
    StreamingEtl.start(spark, in, outDir, ckpt).awaitTermination()
    val out = spark.read.parquet(outDir)
    assert(out.count() == 3)
    assert(out.filter(col("job_title") === "Dev C")
      .head().getAs[Double]("salary_min") == 37.5)
  }

  test("corrupt and null-title records are dropped, not fatal") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[String]
    val query = StreamingEtl.transform(stream.toDF())
      .writeStream.format("memory").queryName("robust_sink")
      .outputMode("append").start()
    try {
      stream.addData(
        "this is not json at all {{{",
        """{"city": "Hà Nội"}""", // valid json, null job_title → filtered
        jsonLine("Survivor", "Huế", "10 triệu", "2 năm"))
      query.processAllAvailable()
      val rows = spark.table("robust_sink").collect()
      assert(rows.length == 1)
      assert(rows.head.getAs[String]("job_title") == "Survivor")
    } finally query.stop()
  }

  test("foreachBatch sink writes batch-stamped parquet exactly once across restarts") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft-feb").toString
    val (in, outDir, ckpt) = (s"$base/in", s"$base/out", s"$base/ckpt")
    new java.io.File(in).mkdirs()
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$in/b1.json"),
      jsonLine("Dev A", "Hà Nội", "10 - 20 triệu", "2 năm"))
    StreamingEtl.toForeachBatch(
      StreamingEtl.fromJsonDir(spark, in), outDir, ckpt)().start().awaitTermination()
    // restart with one more file: checkpoint offsets mean only the new
    // batch is handed to the writer
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$in/b2.json"),
      jsonLine("Dev B", "Huế", "Từ 15 triệu", "5+ năm"))
    StreamingEtl.toForeachBatch(
      StreamingEtl.fromJsonDir(spark, in), outDir, ckpt)().start().awaitTermination()
    val out = spark.read.parquet(outDir)
    assert(out.count() == 2)
    assert(out.select("batch_id").distinct().count() == 2, "one batch id per micro-batch")
  }

  test("watermarked tumbling-window aggregation (extension point)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[String]
    val windowed = StreamingEtl.cityCountsPerWindow(
      StreamingEtl.transform(stream.toDF()))
    val query = windowed.writeStream
      .format("memory")
      .queryName("window_sink")
      .outputMode("complete")
      .start()
    try {
      stream.addData(
        jsonLine("J1", "Hà Nội", "10 triệu", "1 năm"),
        jsonLine("J2", "Hà Nội", "12 triệu", "2 năm"),
        jsonLine("J3", "Huế", "14 triệu", "3 năm"))
      query.processAllAvailable()
      val rows = spark.table("window_sink")
        .select($"city", $"n_postings").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(rows == Map("Hà Nội" -> 2L, "Huế" -> 1L))
    } finally query.stop()
  }
}
