package graft.similarity

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The bytes-driven bucket-sizing policy (r13 verdict #1): the r13
  * probe sweeps proved ROWS is the wrong sizing unit — the governing
  * constraint is BYTES per bucket (KB-sized buckets pay 3–6× in
  * listing/metadata; a 64-double vector row and an M-byte code row
  * differ ~60× in bytes at the same rows target). scaledBucketsByBytes
  * owns both clamp ends; the writers default to it via autoBuckets. */
class BucketPolicySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def wideFrame(n: Int) = {
    import spark.implicits._
    spark.range(n).select($"id".as("vec_id"),
      array((0 until 64).map(i => lit(i.toDouble)): _*).as("v"))
  }

  private def narrowFrame(n: Int) = {
    import spark.implicits._
    spark.range(n).select(
      ($"id".as("vec_id") +: (0 until 8).map(i => lit(i).as(s"c$i"))): _*)
  }

  test("scaledBucketsByBytes: ceil division, both clamp ends owned by the policy") {
    val t = KnnGraph.DefaultBucketBytes
    // floor clamp: tiny/empty stores are one bucket, never zero
    assert(KnnGraph.scaledBucketsByBytes(8, 0) == 1)
    assert(KnnGraph.scaledBucketsByBytes(8, 1) == 1)
    // ceil: one byte over the budget adds a bucket
    assert(KnnGraph.scaledBucketsByBytes(1, t) == 1)
    assert(KnnGraph.scaledBucketsByBytes(1, t + 1) == 2)
    // cap clamp lives in the policy, not at call sites
    assert(KnnGraph.scaledBucketsByBytes(1L << 30, 1L << 30) == (1 << 16))
    // byte-proportionality: same n, 64× wider rows → 64× buckets
    val n = 1L << 22
    val narrow = KnnGraph.scaledBucketsByBytes(8, n)    // 32 MiB total → 8
    val wide = KnnGraph.scaledBucketsByBytes(512, n)    // 2 GiB total → 512
    assert(narrow == 8 && wide == 512)
    // the rows policy's cap parameter (ADVICE r13: call sites must not
    // re-derive the clamp)
    assert(KnnGraph.scaledBuckets(100000, 1, maxBuckets = 256) == 256)
    // the clustered layout's cell policy: √n inside the clamp
    assert(KnnGraph.scaledCells(2000) == 44)
    assert(KnnGraph.scaledCells(10) == 16)
    assert(KnnGraph.scaledCells(200000) == 256)
    // the entry-density policy: √n inside its clamp (r15 — a fixed-64
    // sidecar was the measured insert-findability gap at 200k)
    assert(KnnGraph.scaledSlots(2000) == 64)      // floor: √2000 < 64
    assert(KnnGraph.scaledSlots(200000) == 447)   // √n inside the clamp
    assert(KnnGraph.scaledSlots(1L << 30) == 4096) // cap: driver-bounded
  }

  test("estRowBytes is the exact mean row width: wide vector rows ≫ narrow code rows") {
    val wb = KnnGraph.estRowBytes(wideFrame(256))
    val nb = KnnGraph.estRowBytes(narrowFrame(256))
    // vec_id(8) + 64 doubles(512) = 520 vs vec_id(8) + 8 ints(32) = 40
    assert(wb == 520, s"wide row estimated $wb bytes")
    assert(nb == 40, s"narrow row estimated $nb bytes")
  }

  test("estRowBytes weighs EVERY row: ordered width skew cannot mis-size the store") {
    import spark.implicits._
    // first rows 1-char, later rows 4096-char — a head sample would read
    // ~1 byte/row and under-bucket the store ~2000×; the one-pass
    // aggregate returns the true mean
    val skewed = spark.range(1024).select($"id",
      when($"id" < 512, lit("x"))
        .otherwise(lit("y" * 4096)).as("s"))
    val b = KnnGraph.estRowBytes(skewed)
    // rows are 9 or 4104 bytes, half each → mean 2056.5, rounds to 2057
    assert(b == 2057, s"skewed frame estimated $b bytes/row")
  }

  test("writeStore's auto sizing evaluates the input lineage exactly once") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val acc = spark.sparkContext.longAccumulator("lineage-evals")
    val rdd = spark.sparkContext.parallelize(0L until 512L, 4)
      .map { i => acc.add(1); Row(i, (i + 1) % 512) }
    val graph = spark.createDataFrame(rdd, StructType(Seq(
      StructField("src", LongType), StructField("nbr", LongType))))
    val root = java.nio.file.Files.createTempDirectory("graft-onepass").toString
    KnnGraph.writeStore(graph, s"$root/g")
    // the undirected closure reads the input twice IN ONE JOB (the
    // self-union); the checkpoint means sizing + write add nothing —
    // under the r14 shape (count, sample, write as separate jobs over
    // the raw lineage) this accumulator read 3× as much
    assert(acc.value == 1024,
      s"writeStore evaluated the input lineage ${acc.value / 1024.0}× " +
        "(expected exactly once: 512 rows × 2 union branches)")
    // and the store it wrote is the policy-sized one
    assert(KnnGraph.openStore(spark, s"$root/g").buckets >= 1)
  }

  test("autoBuckets sizes a wide and a narrow store differently at the same byte budget") {
    val target = 64L * 1024
    val w = KnnGraph.autoBuckets(wideFrame(4096), target)   // ~2 MiB → 33
    val n = KnnGraph.autoBuckets(narrowFrame(4096), target) // ~160 KiB → 3
    assert(w == 33 && n == 3,
      s"expected (33, 3) buckets, got ($w, $n)")
  }

  test("the writers' default follows the bytes policy, records it, and round-trips reads") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-bpolicy").toString
    val vecs = wideFrame(4096)
    KnnGraph.writeVectors(vecs, s"$root/vec")
    val expected = KnnGraph.scaledBucketsByBytes(
      KnnGraph.estRowBytes(vecs.select($"vec_id", $"v")), 4096)
    assert(KnnGraph.openStore(spark, s"$root/vec").buckets == expected)
    // point-fetch works against the recorded count (reader/writer share
    // the store-recorded modulus, whatever the policy picked)
    val fetched = KnnGraph.fetch(KnnGraph.openStore(spark, s"$root/vec"),
      Seq(5L, 77L, 4000L).toDF("node"))
    assert(fetched.select($"vec_id").as[Long].collect().toSet ==
      Set(5L, 77L, 4000L))
  }
}
