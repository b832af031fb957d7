package graft

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** One session factory: every main builds its SparkSession through
  * [[Sessions]], so the test harness, Bench, Verify and flowbench all run
  * the same engine semantics — the shared confs and the graft extensions. */
class SessionsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("no file under src/main/scala other than Sessions.scala builds a SparkSession") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the project root (cwd ${Paths.get("").toAbsolutePath})")
    val builder = "SparkSession\\s*\\.\\s*builder".r
    val files = Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala")).toSeq
    def callsBuilder(p: Path) = builder.findFirstIn(Files.readString(p)).isDefined
    val builders = files.filter(callsBuilder).map(p => root.relativize(p).toString)
    assert(builders == Seq("graft/Sessions.scala"), s"SparkSession.builder outside Sessions: $builders")
  }

  test("the test session carries every shared engine conf") {
    val shared = Seq(
      "spark.sql.extensions" -> "graft.functions.GraftExtensions",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.ansi.enabled" -> "false",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "true")
    val wrong = shared.filterNot { case (k, v) => spark.conf.getOption(k).contains(v) }
    assert(wrong.isEmpty, s"confs missing or different: ${wrong.map(_._1)}")
  }

  test("graft SQL functions resolve in the session and in a newSession()") {
    for (s <- Seq(spark, spark.newSession())) {
      val c = s.sql("SELECT graft_cosine(array(1d), array(1d))").head().getDouble(0)
      assert(c == 1.0)
    }
  }
}
