package flowbench

/** One closed-loop workload: a set-up, then operations issued one at a
  * time by a single client, then an untimed check of every answer. */
trait Workload {
  /** Throughput units one operation completes (postings for ingest). */
  def unitsPerOp: Int
  /** Warm-up operations always run before the settle rule is consulted:
    * a fixed count gives every run the same JIT state at the window. */
  def minWarmUp: Int
  /** Builds inputs, tables and indexes; timed as part of set-up. */
  def setup(): Unit
  /** Client-side preparation of operation `i`, outside its timed window. */
  def prepare(i: Int): Unit = ()
  /** Operation `i`; keeps its answer for [[check]]. Throws on failure. */
  def run(i: Int): Unit
  /** Called once before the first traced operation. */
  def startTracing(): Unit = ()
  /** Called after each traced operation, outside its timed window. */
  def afterTracedOp(i: Int): Unit = ()
  /** Checks the answers of operations `ops`. */
  def check(ops: Seq[Int]): Checked
  /** Workload-specific layer metrics of the traced operations `traced`. */
  def layers(trace: Trace, traced: Seq[Int]): Map[String, Double]
  def close(): Unit
}

/** Outcome of the answer checks: `ok(i)` is false when operation i's
  * answer is wrong, and `recall` is the share of checked answers equal to
  * their reference (recall@k for the k-NN workload). */
final case class Checked(ok: Map[Int, Boolean], recall: Double)
