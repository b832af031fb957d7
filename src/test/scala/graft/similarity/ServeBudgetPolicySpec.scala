package graft.similarity

import graft.TestSpark
import org.scalatest.funsuite.AnyFunSuite

/** The serve-budget policy (r16 verdict #2): [[KnnGraph.serveBudgetPolicy]]
  * ladders the quantized head's (L, W) serving knobs in ascending cost
  * order against the EXACT head's recall target and persists the pick
  * like the build-depth decision. The policy is head-agnostic (it takes
  * the serve closure), so these tests drive it with a synthetic head
  * whose recall curve is exactly controlled — the contract under test
  * is the policy's, not the head's (the head's own (L, W) behavior is
  * recorded in COVERAGE.md "ADC ceiling swept" and pinned by sq24's
  * oracle). */
class ServeBudgetPolicySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val K = 4
  private val NQ = 4L

  // truth: 4 queries × 4 neighbors (node = qid*10 + i)
  private def truth = {
    import spark.implicits._
    (0L until NQ).flatMap(q => (0 until K).map(i => (q, q * 10 + i)))
      .toDF("qid", "node")
  }

  /** A synthetic head: at beam width L it answers `hits(L)` correct
    * neighbors per query (the rest wrong), ignoring W — monotone in L
    * like the real ADC curve. */
  private def fakeServe(hits: Map[Int, Int])(l: Int, w: Int) = {
    import spark.implicits._
    val h = hits(l)
    (0L until NQ).flatMap { q =>
      (0 until K).map { i =>
        (q, if (i < h) q * 10 + i else 1000L + q * 10 + i)
      }
    }.toDF("qid", "node")
  }

  test("picks the CHEAPEST point within eps of the target and stops evaluating") {
    var calls = 0
    val serve = (l: Int, w: Int) => { calls += 1; fakeServe(
      Map(4 -> 1, 8 -> 3, 16 -> 4, 32 -> 4))(l, w) }
    // target 1.0, eps 0.3 → needs recall ≥ 0.7; L=4 reads 0.25, L=8
    // reads 0.75 → pick (8, W) after exactly two evaluations (default
    // W ladder is the single 4k point)
    val ((l, w), r, trace) = KnnGraph.serveBudgetPolicy(spark, serve,
      truth, NQ, K, targetRecall = 1.0, eps = 0.3)
    assert(l == 8 && w == 4 * K, s"expected (8, ${4 * K}), got ($l, $w)")
    assert(math.abs(r - 0.75) < 1e-9)
    assert(trace.size == 2 && calls == 2,
      s"ladder did not stop at the pick: trace $trace, calls $calls")
    // ascending cost order: the losing evaluations are all cheaper
    assert(trace.init.forall { case (tl, tw, _) =>
      tl < l || (tl == l && tw < w) })
  }

  test("no candidate reaches the target: the best-recall point wins") {
    val serve = fakeServe(Map(4 -> 1, 8 -> 2, 16 -> 3, 32 -> 3)) _
    val ((l, _), r, trace) = KnnGraph.serveBudgetPolicy(spark,
      Function.untupled(serve.tupled), truth, NQ, K,
      targetRecall = 1.0, eps = 0.01)
    assert(r == 0.75 && l == 16,
      s"expected the 0.75-recall ceiling at L=16, got ($l, $r)")
    // every improving step resets the stale counter, so the whole L
    // ladder ran (the last point repeats 0.75 — one stale, not two)
    assert(trace.size == 4)
  }

  test("an unreachable target over a PLATEAUED curve stops after two stale evals") {
    var calls = 0
    val serve = (l: Int, w: Int) => { calls += 1; fakeServe(
      Map(4 -> 2, 8 -> 2, 16 -> 2, 32 -> 2))(l, w) }
    // flat 0.5 everywhere, target 1.0: without the stale rule the
    // policy would pay the whole grid chasing a ceiling the budget
    // cannot move (the real-corpus case: ADC resolution, not width,
    // binds) — it must stop at 3 evals (first sets best, two stale)
    val ((l, _), r, trace) = KnnGraph.serveBudgetPolicy(spark, serve,
      truth, NQ, K, targetRecall = 1.0, eps = 0.05)
    assert(calls == 3 && trace.size == 3,
      s"expected 3 evaluations on a flat curve, got $calls")
    assert(l == 4 && r == 0.5, "best-of-trace pick should be the first (cheapest) flat point")
  }

  test("decision persists and replays without serving a single eval") {
    val wd = java.nio.file.Files
      .createTempDirectory("graft-serve-policy").toString
    var calls = 0
    val serve = (l: Int, w: Int) => { calls += 1; fakeServe(
      Map(4 -> 4, 8 -> 4, 16 -> 4, 32 -> 4))(l, w) }
    val d1 = KnnGraph.serveBudgetPolicy(spark, serve, truth, NQ, K,
      targetRecall = 1.0, eps = 0.05, workDir = Some(wd), tag = "t")
    val callsAfterLadder = calls
    assert(callsAfterLadder == 1, "flat-perfect curve should pick L=k first")
    val d2 = KnnGraph.serveBudgetPolicy(spark, serve, truth, NQ, K,
      targetRecall = 1.0, eps = 0.05, workDir = Some(wd), tag = "t")
    assert(calls == callsAfterLadder,
      "replay invoked the serve closure — it re-laddered")
    assert(d2 == d1, s"replayed decision $d2 != recorded $d1")
    // a different budget tag misses the file and re-ladders
    KnnGraph.serveBudgetPolicy(spark, serve, truth, NQ, K,
      targetRecall = 1.0, eps = 0.05, workDir = Some(wd), tag = "t2")
    assert(calls > callsAfterLadder)
  }
}
