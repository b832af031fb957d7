package graft.functions

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Winnowing fingerprint properties: determinism, the shared-substring
  * guarantee (any common substring of length >= w+k-1 yields a shared
  * fingerprint), near-dup overlap behavior, and SQL registration. */
class WinnowSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val K = 8
  private val W = 16

  private def fps(texts: String*): Map[String, Set[Long]] =
    texts.toSeq.toDF("text")
      .select($"text", Winnow($"text", K, W).as("fp"))
      .collect()
      .map(r => r.getString(0) -> r.getSeq[Long](1).toSet)
      .toMap

  test("identical text gives identical fingerprints; short text gives none/one") {
    val m = fps("the quick brown fox jumps over the lazy dog " * 5,
      "the quick brown fox jumps over the lazy dog " * 5,
      "tiny")
    val texts = m.keySet.toSeq
    assert(m(texts.find(_.length > 100).get).nonEmpty)
    assert(m("tiny").isEmpty) // shorter than k → no k-grams
  }

  test("guarantee: a shared run >= w+k-1 chars always yields a shared fingerprint") {
    val rng = new scala.util.Random(11)
    def rand(n: Int) = Seq.fill(n)(('a' + rng.nextInt(26)).toChar).mkString
    val common = rand(W + K - 1) // exactly the guarantee threshold
    for (_ <- 1 to 20) {
      val a = rand(60) + common + rand(60)
      val b = rand(60) + common + rand(60)
      val m = Seq(a, b).toDF("text")
        .select(Winnow($"text", K, W).as("fp")).collect()
        .map(_.getSeq[Long](0).toSet)
      assert(m(0).intersect(m(1)).nonEmpty,
        s"no shared fingerprint despite a ${common.length}-char common run")
    }
  }

  test("near-duplicates overlap heavily; unrelated texts don't") {
    val base = "large scale data processing with spark requires careful " +
      "attention to partitioning shuffles and memory management " * 3
    val nearDup = base.replace("careful", "carefull") // one edit
    val unrelated = "completely different content about cooking pasta and " +
      "seasonal vegetables in a tuscan kitchen with olive oil " * 3
    val m = fps(base, nearDup, unrelated)
    def overlap(x: Set[Long], y: Set[Long]) =
      x.intersect(y).size.toDouble / math.min(x.size, y.size)
    assert(overlap(m(base), m(nearDup)) > 0.6,
      s"near-dup overlap ${overlap(m(base), m(nearDup))}")
    assert(overlap(m(base), m(unrelated)) < 0.1,
      s"unrelated overlap ${overlap(m(base), m(unrelated))}")
  }

  test("fingerprint density is ~2/(w+1), not one-per-gram") {
    val rng = new scala.util.Random(7)
    val text = Seq.fill(2000)(('a' + rng.nextInt(26)).toChar).mkString
    val n = fps(text)(text).size
    val grams = text.length - K + 1
    assert(n < grams / 4, s"$n fingerprints for $grams grams — winnowing not thinning")
    assert(n > grams / (W * 4), s"$n fingerprints — too sparse for w=$W")
  }

  test("graft_winnow is callable from SQL text with literal k/w") {
    val n = spark.sql(
      "SELECT size(graft_winnow('the quick brown fox jumps over the lazy dog', 8, 16)) AS n")
      .head().getInt(0)
    assert(n >= 1)
  }
}
