package graft.similarity

import graft.TestSpark
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions.lit
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The one stamped-cache rule ([[graft.util.StampedCache]]): every JVM
  * metadata cache a store read goes through — store schema and bucket
  * count ([[KnnGraph.openStore]]), hash and clustered `_graft_entries`,
  * `_graft_centroids`, and the fixture tables' schemas
  * ([[graft.sources.Tables.load]]) — must re-stamp when its value is
  * rewritten at the SAME path, so no read is ever served stale. Each
  * case warms the cache, rewrites in place, and reads again. Fixtures
  * are ≤ 64 rows. */
class StampedCacheSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** 64 rows of 4-d vectors: ids 0..31 near the origin, 32..63 near 1. */
  private def vecs() = {
    import spark.implicits._
    (0 until 64).map { i =>
      val base = if (i < 32) 0.0 else 1.0
      (i.toLong, Seq.tabulate(4)(j => base + 0.001 * ((i * 7 + j) % 11)))
    }.toDF("vec_id", "v")
  }

  private def tmp(prefix: String) = Files.createTempDirectory(prefix).toString

  test("store schema: a column added at the same path is read, not the cached schema") {
    import spark.implicits._
    val p = tmp("graft-stamp-schema") + "/s"
    KnnGraph.writeCodes(vecs().select($"vec_id", lit(1).as("c0")), p, 4)
    assert(KnnGraph.openStore(spark, p).rel.columns.toSet == Set("vec_id", "c0", "bucket"))
    KnnGraph.writeCodes(vecs().select($"vec_id", lit(1).as("c0"), lit(2).as("c1")), p, 4)
    val rel = KnnGraph.openStore(spark, p).rel
    assert(rel.columns.contains("c1"), "rewritten store served its stale schema")
    assert(rel.filter($"c1" === 2).count() == 64)
  }

  test("bucket count: a 16-bucket store rewritten with 32 buckets routes by 32") {
    import spark.implicits._
    val p = tmp("graft-stamp-buckets") + "/vec"
    KnnGraph.writeVectors(vecs(), p, 16)
    assert(KnnGraph.openStore(spark, p).buckets == 16)
    KnnGraph.writeVectors(vecs(), p, 32)
    val store = KnnGraph.openStore(spark, p)
    assert(store.buckets == 32, "rewritten store served its stale bucket count")
    // point reads prune by the NEW modulus and still find every id
    val ids = Seq(5L, 21L, 37L, 63L)
    assert(KnnGraph.fetch(store, ids.toDF("node")).select($"vec_id").as[Long]
      .collect().toSet == ids.toSet)
  }

  test("hash entries: a same-path sidecar rewrite is never served stale") {
    val p = tmp("graft-stamp-hash") + "/vec"
    KnnGraph.writeVectors(vecs(), p, 4)
    KnnGraph.writeHashEntries(vecs(), p, slots = 8)
    assert(KnnGraph.hashEntries(spark, p).size == 8)
    KnnGraph.writeHashEntries(vecs(), p, slots = 3)
    assert(KnnGraph.hashEntries(spark, p).size == 3,
      "rewritten hash entries served stale")
  }

  /** A ring graph over the fixture, stored clustered by `cents`. */
  private def writeClustered(p: String, cents: Seq[Seq[Double]]): Unit = {
    import spark.implicits._
    val ring = (0 until 64).map(i => (i.toLong, ((i + 1) % 64).toLong)).toDF("src", "nbr")
    KnnGraph.writeStoreClustered(ring, vecs(), p, cents)
  }

  test("clustered entries and centroids: same-path rewrites are never served stale") {
    import spark.implicits._
    val p = tmp("graft-stamp-clus") + "/g"
    val c1 = Seq(Seq.fill(4)(0.0), Seq.fill(4)(1.0))
    writeClustered(p, c1)
    assert(KnnGraph.centroidsOf(spark, p) == c1)
    val queries = vecs().filter($"vec_id" === 0L || $"vec_id" === 40L)
      .select($"vec_id".as("qid"), $"v")
    def entriesPerQuery() = KnnGraph.storedEntries(spark, p, queries)
      .groupBy($"qid").count().select($"count").as[Long].collect().toSet
    KnnGraph.writeEntries(vecs(), p, perCell = 1)
    assert(entriesPerQuery() == Set(1L))
    KnnGraph.writeEntries(vecs(), p, perCell = 3)
    assert(entriesPerQuery() == Set(3L), "rewritten cell entries served stale")
    val c2 = Seq(Seq.fill(4)(0.5), Seq.fill(4)(2.0))
    writeClustered(p, c2)
    assert(KnnGraph.centroidsOf(spark, p) == c2, "rewritten centroids served stale")
  }

  test("Tables.load: a fixture table rewritten with a new column is read with it") {
    import spark.implicits._
    val dir = tmp("graft-stamp-tables")
    Seq((1L, "a")).toDF("id", "name").write.parquet(s"$dir/region.parquet")
    assert(graft.sources.Tables.load(spark, dir, "region").columns.toSeq == Seq("id", "name"))
    Seq((1L, "a", 7)).toDF("id", "name", "extra")
      .write.mode("overwrite").parquet(s"$dir/region.parquet")
    assert(graft.sources.Tables.load(spark, dir, "region").columns.contains("extra"),
      "rewritten fixture table served its stale schema")
  }

  test("one cache rule: no hand-rolled stamped map and no pre-handle store reader in src/main") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the project root (cwd ${Paths.get("").toAbsolutePath})")
    val files = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    def hits(re: scala.util.matching.Regex) = files.filter(p =>
      re.findFirstIn(Files.readString(p)).isDefined).map(p => root.relativize(p).toString)
    val stampedMaps = hits("(?s)ConcurrentHashMap\\[\\s*String\\s*,\\s*\\(\\s*String".r)
      .filterNot(_ == "graft/util/StampedCache.scala")
    assert(stampedMaps.isEmpty, s"(stamp, value) maps outside StampedCache: $stampedMaps")
    val oldReaders = hits("\\b(readStore|bucketsOf)\\b".r)
    assert(oldReaders.isEmpty, s"readStore/bucketsOf still named in: $oldReaders")
  }
}
