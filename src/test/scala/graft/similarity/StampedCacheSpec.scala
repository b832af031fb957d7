package graft.similarity

import graft.TestSpark
import graft.TestSpark.jobsOf
import graft.streaming.StreamingGraphIngest
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions.lit
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The one stamped-cache rule ([[graft.util.StampedCache]]): every JVM
  * cache a store read goes through — store schema, bucket count and
  * resident buckets ([[KnnGraph.openStore]]), hash and clustered
  * `_graft_entries`, `_graft_centroids`, and the fixture tables' schemas
  * ([[graft.sources.Tables.load]]) — must re-stamp when its value is
  * rewritten at the SAME path, so no read is ever served stale. Each
  * case warms the cache, rewrites in place, and reads again; the
  * residency's byte budget is checked here too. Fixtures are ≤ 64
  * rows. */
class StampedCacheSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** Row `i` of the fixture: ids 0..31 near the origin, 32..63 near 1. */
  private def vec(i: Int): Array[Double] = {
    val base = if (i < 32) 0.0 else 1.0
    Array.tabulate(4)(j => base + 0.001 * ((i * 7 + j) % 11))
  }

  /** 64 rows of 4-d vectors. */
  private def vecs() = {
    import spark.implicits._
    (0 until 64).map(i => (i.toLong, vec(i).toSeq)).toDF("vec_id", "v")
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

  private val K = 4
  private val Rounds = 3

  /** Three queries near fixture rows 5, 20 and 44, each entering at a
    * fixed node. */
  private val queries = Seq(5, 20, 44).map(i => (1000L + i) -> vec(i).map(_ + 0.0005))
  private val entries = queries.map(_._1).zip(Seq(0L, 16L, 40L)).toMap

  /** A ring-with-chords graph over the fixture and its vector store
    * under `root`, 4 buckets each. */
  private def writeServed(root: String): Unit = {
    import spark.implicits._
    val edges = (0 until 64).flatMap(i => Seq(i -> (i + 1) % 64, i -> (i + 7) % 64))
    KnnGraph.writeStore(edges.map { case (a, b) => (a.toLong, b.toLong) }
      .toDF("src", "nbr"), s"$root/g", 4)
    KnnGraph.writeVectors(vecs(), s"$root/vec", 4)
  }

  private def serve(root: String) = KnnGraph.serveCoordinated(spark, s"$root/g",
    s"$root/vec", queries, K, Rounds, entries = Some(entries))

  /** Serve until the walk's buckets are resident: the third request
    * runs no job. */
  private def warm(root: String): Seq[(Long, Long)] = {
    serve(root); serve(root)
    val (answers, jobs) = jobsOf(serve(root))
    assert(jobs == 0, "the fixture's third request was not resident")
    answers
  }

  /** Both stores under `root` through handles whose residency holds
    * `budget(path)` on-disk bytes. */
  private def budgeted(root: String, budget: String => Long) = {
    def one(p: String) = CoordinatedResidencySpec.budgeted(spark, p, budget(p))
    (one(s"$root/g"), one(s"$root/vec"))
  }

  /** A first request over the bytes now at `root`, through handles with
    * a residency of their own. */
  private def coldServe(root: String) = {
    val (g, v) = budgeted(root, _ => Long.MaxValue)
    KnnGraph.coordinatedWalk(g, v, queries, K, Rounds, entries)
  }

  test("resident buckets: an erase with vecPath is never served stale") {
    val root = tmp("graft-stamp-erase")
    writeServed(root)
    val victims = warm(root).map(_._2).distinct.take(2)
    KnnGraph.eraseStored(spark, s"$root/g", victims, vecPath = Some(s"$root/vec"))
    val (after, jobs) = jobsOf(serve(root))
    // new versions: exactly the cold point reads — each store's schema
    // comes from its marker, not from an inference job
    assert(jobs == 1 + 2 * Rounds, "the erased stores were not served as new versions")
    assert(after.nonEmpty && after.forall { case (_, n) => !victims.contains(n) },
      s"a victim of $victims answered")
    assert(after == coldServe(root))
  }

  test("resident buckets: a same-path vector rewrite serves the new vectors") {
    import spark.implicits._
    val root = tmp("graft-stamp-revec")
    writeServed(root)
    val before = warm(root)
    // every id takes its mirror row's vector
    KnnGraph.writeVectors((0 until 64).map(i => (i.toLong, vec(63 - i).toSeq))
      .toDF("vec_id", "v"), s"$root/vec", 4)
    val after = serve(root)
    assert(after != before, "the rewrite left the answers unchanged; the fixture shows nothing")
    assert(after == coldServe(root), "rewritten vectors served stale")
  }

  test("resident buckets: a streamed insert is findable on the next request") {
    import spark.implicits._
    val root = tmp("graft-stamp-insert")
    writeServed(root)
    warm(root)
    val fresh = vec(20).map(_ + 0.0004)
    StreamingGraphIngest.insertBatch(Seq((64L, fresh.toSeq)).toDF("vec_id", "v"),
      s"$root/g", s"$root/vec", K, Rounds)
    val found = KnnGraph.serveCoordinated(spark, s"$root/g", s"$root/vec",
      Seq(2000L -> fresh), K, Rounds, entries = Some(Map(2000L -> 16L)))
    assert(found.map(_._2).contains(64L), s"the inserted node was not found: $found")
  }

  test("recorded schema: every store writer records what inference reads") {
    import spark.implicits._
    val root = tmp("graft-stamp-recorded")
    val ring = (0 until 64).map(i => (i.toLong, ((i + 1) % 64).toLong)).toDF("src", "nbr")
    val cents = Seq(Seq.fill(4)(0.0), Seq.fill(4)(1.0))
    KnnGraph.writeStore(ring, s"$root/hash", 4)
    KnnGraph.writeVectors(vecs(), s"$root/vec", 4)
    KnnGraph.writeCodes(Pq.pqEncode(vecs(), Pq.trainSubspaces(
      vecs().as[(Long, Seq[Double])].collect().map(_._2.toArray).toIndexedSeq,
      2, 2, 4), 2), s"$root/codes", 4)
    writeClustered(s"$root/clus", cents)
    KnnGraph.writeEntries(vecs(), s"$root/clus", perCell = 2)
    // the incremental reprune's two writers: hard links only (no churn)
    // and the repaired-cell append
    KnnGraph.repruneStoredIncremental(spark, s"$root/clus", s"$root/vec",
      s"$root/linked", 4, 1.2, K, 2, Seq.empty, Seq.empty, None)
    KnnGraph.repruneStoredIncremental(spark, s"$root/clus", s"$root/vec",
      s"$root/repaired", 4, 1.2, K, 2, Seq(3L, 40L), Seq.empty, None)
    for (store <- Seq("hash", "vec", "codes", "clus", "linked", "repaired")) {
      val p = s"$root/$store"
      val (recorded, jobs) = jobsOf(KnnGraph.openStore(spark, p).rel.schema)
      assert(jobs == 0, s"$store: the schema was inferred, not read from the marker")
      assert(recorded == spark.read.parquet(p).schema,
        s"$store: recorded ${recorded.treeString} != inferred")
    }
  }

  /** The largest bucket's on-disk bytes (checksum side files aside). */
  private def maxBucketBytes(path: String): Long =
    Files.list(Paths.get(path)).iterator().asScala
      .filter(_.getFileName.toString.startsWith("bucket="))
      .map(d => Files.list(d).iterator().asScala
        .filterNot(_.getFileName.toString.startsWith(".")).map(Files.size(_)).sum)
      .max

  test("residency budget: buckets over it keep the point read, answers unchanged") {
    val root = tmp("graft-stamp-budget")
    writeServed(root)
    val cold = serve(root)
    def walk(g: KnnGraph.Store, v: KnnGraph.Store) =
      jobsOf(KnnGraph.coordinatedWalk(g, v, queries, K, Rounds, entries))
    // nothing fits one byte: every request runs the cold point reads
    val (g1, v1) = budgeted(root, _ => 1L)
    assert((1 to 3).map(_ => walk(g1, v1)) == Seq.fill(3)((cold, 1 + 2 * Rounds)))
    assert(g1.residentBuckets == 0 && v1.residentBuckets == 0)
    // about one bucket fits: the rest keep the point read in the same job
    val (gp, vp) = budgeted(root, maxBucketBytes)
    val partial = (1 to 3).map(_ => walk(gp, vp))
    assert(partial.forall { case (a, jobs) => a == cold && jobs <= 1 + 2 * Rounds })
    assert(partial.last._2 > 0, "buckets over the budget were not point-read")
    assert(Seq(gp, vp).forall(s => s.residentBuckets > 0 && s.residentBuckets < s.buckets),
      s"resident ${gp.residentBuckets}/${vp.residentBuckets} of 4 buckets")
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
