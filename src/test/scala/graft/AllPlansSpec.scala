package graft

import org.apache.spark.sql.execution.ExplainMode
import org.scalatest.funsuite.AnyFunSuite

/** Blanket physical-plan invariant over EVERY registered query: nothing
  * may plan a CartesianProduct of data-sized inputs. Family-level
  * PlanSpec tests pin richer per-query shapes; this one stops a new
  * query (or a refactor of a shared helper) from ever shipping an
  * all-pairs join unnoticed — the single worst scale failure mode.
  *
  * Queries that deliberately cross-join ONE-ROW summary frames are
  * allowed if the product's inputs are both known single-row aggregates
  * (a 1×1 cartesian is a constant, not a blow-up); today every such join
  * broadcasts and plans as BroadcastNestedLoopJoin anyway, so the
  * allowlist is empty — keep it that way.
  */
class AllPlansSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private val allowCartesian: Set[String] = Set.empty

  /** A frame consumed N times re-executes N times (no cross-branch CSE),
    * so runaway scan counts are the recompute-explosion smell. Current
    * legitimate maximum is sq02's 12 LSH hash tables; anything above
    * needs a cache or a rethink. dq09 is exempt: its iterative fixpoint
    * stacks each ROUND's lineage into the final plan TEXT, but every
    * round is cached and materialized during the loop, so the printed
    * scans never re-execute. */
  private val maxScans = 13
  private val allowManyScans: Set[String] = Set("dq09_dup_clusters")

  test("no registered query plans a CartesianProduct or a scan explosion") {
    assert(offenders.degenerate.isEmpty,
      s"queries with degenerate plans: ${offenders.degenerate.mkString(", ")}")
  }

  /** A Window with an empty partition spec sorts its ENTIRE input into one
    * task — the single-partition-sort trap the cartesian check can't see.
    * Every allowlisted case is a global window over an ALREADY-AGGREGATED
    * summary frame orders of magnitude below corpus size (where a
    * single-partition frame is exactly right), never over data:
    *   - tq11_token_packing / pq01_training_prep / pq06_bpe_shard_packing:
    *     PrefixSum's offsets
    *     pass — an exclusive prefix over bucket-count-many (total, count)
    *     partial-agg rows (~4× shuffle parallelism, a few hundred rows);
    *     the data-sized running total is the operator's mapPartitions
    *     accumulator, precisely to avoid the global-window sort;
    *   - pq02_curriculum: ExactPercentile's cumulative-bucket-count
    *     window over per-bucket aggregates; its partitionBy(g) folds away
    *     because pq02's group column is a literal, leaving an empty spec
    *     over the same tiny bucket summary;
    *   - tq18_vocab_growth: running totals over the 10-row ingest-slice
    *     summary (corpus exploded and aggregated upstream).
    * Note the truly sequential oracle-mandated running total
    * (q08_window_running_sum) does NOT need an entry: it partitions by
    * supplier. Anything new that trips this either partitions its window
    * or earns a documented line here. */
  private val allowGlobalWindow: Set[String] = Set(
    "tq11_token_packing", "pq01_training_prep", "pq02_curriculum",
    "tq18_vocab_growth", "pq06_bpe_shard_packing")

  test("no registered query plans an unpartitioned Window over data-sized input") {
    assert(offenders.globalWindow.isEmpty,
      s"queries with unpartitioned windows: ${offenders.globalWindow.mkString(", ")}")
  }

  private case class Offenders(degenerate: Seq[String], globalWindow: Seq[String])

  /** Both tests' offender lists from ONE pass: each query's `fn` runs
    * once, the formatted-plan checks and the WindowExec check read the
    * same QueryExecution, and only the offender strings are kept. */
  private lazy val offenders: Offenders = {
    import org.apache.spark.sql.execution.window.WindowExec
    val scanNode = "\\(\\d+\\) Scan parquet".r
    val perQuery = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val qe = fn(spark, dir).queryExecution
      val plan = qe.explainString(ExplainMode.fromString("formatted"))
      val cartesian = !allowCartesian(name) && plan.contains("CartesianProduct")
      val scans = scanNode.findAllIn(plan).size
      val explosion = !allowManyScans(name) && scans > maxScans
      val degenerate =
        if (cartesian) Some(s"$name (CartesianProduct)")
        else if (explosion) Some(s"$name ($scans scans)")
        else None
      val global =
        if (allowGlobalWindow(name)) Nil
        else qe.sparkPlan.collect { case w: WindowExec if w.partitionSpec.isEmpty => w }
      val window =
        if (global.nonEmpty) Some(s"$name (${global.size} global Window)") else None
      (degenerate, window)
    }
    Offenders(perQuery.flatMap(_._1), perQuery.flatMap(_._2))
  }
}
