package flowbench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Harness-side tracing. Spans wrap every call the harness makes into a
  * graft function (set-up and operations); they live in memory and are
  * written out once at the end. In a traced window, Spark's public
  * listeners (scheduler, query execution, streaming progress) collect
  * events, and each event is attributed to the operation whose wall
  * window contains its timestamp. Nothing here reaches inside the engine. */
final class Trace {

  final case class Span(id: Int, op: Int, parent: Int, name: String,
      startMs: Double, endMs: Double)
  final case class OpWindow(id: Int, traced: Boolean, startMs: Double,
      endMs: Double)

  private val originNs = System.nanoTime()
  private val originMs = System.currentTimeMillis().toDouble
  /** Wall clock in epoch milliseconds with nanosecond resolution, on the
    * same axis as Spark's event timestamps. */
  def nowMs: Double = originMs + (System.nanoTime() - originNs) / 1e6

  private val spans = ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var nextSpan = 0
  private var currentOp = -1
  val ops = ArrayBuffer.empty[OpWindow]

  def span[T](name: String)(body: => T): T = {
    val id = nextSpan
    nextSpan += 1
    val parent = stack.headOption.getOrElse(-1)
    val start = nowMs
    stack = id :: stack
    try body
    finally {
      stack = stack.tail
      spans += Span(id, currentOp, parent, name, start, nowMs)
    }
  }

  /** Run one operation; returns its wall time in ms. Spans opened inside
    * carry the operation's id; a failed operation's window is kept. */
  def op(traced: Boolean)(body: => Unit): Double = {
    val id = ops.length
    currentOp = id
    val start = nowMs
    try body
    finally {
      currentOp = -1
      ops += OpWindow(id, traced, start, nowMs)
    }
    ops.last.endMs - ops.last.startMs
  }

  /** Durations (ms) of spans named `name` opened inside traced operations. */
  def opSpanMs(name: String): Seq[Double] = {
    val traced = ops.filter(_.traced).map(_.id).toSet
    spans.filter(s => s.name == name && traced(s.op)).map(s => s.endMs - s.startMs).toSeq
  }

  /** Total duration (s) of set-up spans named `name`. */
  def setupSpanS(name: String): Double =
    spans.filter(s => s.name == name && s.op < 0).map(s => s.endMs - s.startMs).sum / 1000

  def writeSpans(path: String): Unit = {
    val out = new java.io.PrintWriter(path, "UTF-8")
    try spans.sortBy(_.id).foreach { s =>
      out.println(f"""{"id": ${s.id}, "op": ${s.op}, "parent": ${s.parent}, """ +
        f""""name": "${s.name}", "start_ms": ${s.startMs}%.3f, "end_ms": ${s.endMs}%.3f}""")
    } finally out.close()
  }

  // ---- listener events -------------------------------------------------

  private final case class JobEv(id: Int, startMs: Long)
  private final case class TaskEv(launchMs: Long, runMs: Long, cpuNs: Long,
      gcMs: Long, spill: Long, inBytes: Long, shRead: Long, shWrite: Long)
  private final case class QeEv(atMs: Long, analysis: Long, optimizer: Long,
      physical: Long, files: Long)
  private final case class ProgEv(atMs: Long, durations: Map[String, Long], rows: Long)

  private val jobStarts = new ConcurrentLinkedQueue[JobEv]()
  private val jobEnds = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()
  private val stageStarts = new ConcurrentLinkedQueue[java.lang.Long]()
  private val tasks = new ConcurrentLinkedQueue[TaskEv]()
  private val qes = new ConcurrentLinkedQueue[QeEv]()
  private val progress = new ConcurrentLinkedQueue[ProgEv]()
  @volatile private var lastEventNs = System.nanoTime()
  private def touch(): Unit = lastEventNs = System.nanoTime()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobStarts.add(JobEv(e.jobId, e.time)); touch() }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      jobEnds.put(e.jobId, e.time); touch() }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      e.stageInfo.submissionTime.foreach(t => stageStarts.add(t)); touch() }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) tasks.add(TaskEv(e.taskInfo.launchTime, m.executorRunTime,
        m.executorCpuTime, m.jvmGCTime, m.memoryBytesSpilled + m.diskBytesSpilled,
        m.inputMetrics.bytesRead, m.shuffleReadMetrics.totalBytesRead,
        m.shuffleWriteMetrics.bytesWritten))
      touch()
    }
  }

  private def scanFiles(p: SparkPlan): Long = p match {
    case a: AdaptiveSparkPlanExec => scanFiles(a.executedPlan)
    case s: QueryStageExec => scanFiles(s.plan)
    case _: ReusedExchangeExec => 0L
    case f: FileSourceScanExec => f.metrics.get("numFiles").map(_.value).getOrElse(0L)
    case other => other.children.map(scanFiles).sum
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ph = qe.tracker.phases
      def d(k: String) = ph.get(k).map(_.durationMs).getOrElse(0L)
      val at = if (ph.isEmpty) System.currentTimeMillis() else ph.values.map(_.endTimeMs).max
      qes.add(QeEv(at, d("analysis"), d("optimization"), d("planning"),
        scanFiles(qe.executedPlan)))
      touch()
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = touch()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      if (p.numInputRows > 0) {
        val durations = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
        val start = java.time.Instant.parse(p.timestamp).toEpochMilli
        progress.add(ProgEv(start + durations.getOrElse("triggerExecution", 0L),
          durations, p.numInputRows))
      }
      touch()
    }
  }

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  /** Wait for the asynchronous listener buses to go quiet, then detach. */
  def detach(spark: SparkSession): Unit = {
    val deadline = System.nanoTime() + 10000000000L
    while (System.nanoTime() - lastEventNs < 500000000L && System.nanoTime() < deadline)
      Thread.sleep(50)
    spark.streams.removeListener(streamListener)
    spark.listenerManager.unregister(qeListener)
    spark.sparkContext.removeSparkListener(sparkListener)
  }

  /** The traced operation an event at `atMs` belongs to, if any. Streaming
    * progress is stamped when the batch commits, which can trail the
    * client's return by a few ms; `slackMs` admits that. */
  private def opAt(atMs: Double, slackMs: Double = 0): Option[Int] =
    ops.find(o => o.traced && o.startMs - 1 <= atMs && atMs <= o.endMs + slackMs).map(_.id)

  /** Per-operation layer counters over the traced operations, as a median
    * across operations. Layers an operation never touched read 0. */
  def layerMedians(): Map[String, Double] = {
    val traced = ops.filter(_.traced)
    if (traced.isEmpty) return Map.empty
    val acc = traced.map(o => o.id -> scala.collection.mutable.Map.empty[String, Double]
      .withDefaultValue(0.0)).toMap
    def add(op: Option[Int], k: String, v: Double): Unit = op.foreach(i => acc(i)(k) += v)

    val jobSpans = scala.collection.mutable.Map.empty[Int, ArrayBuffer[(Double, Double)]]
    jobStarts.asScala.foreach { j =>
      val op = opAt(j.startMs.toDouble)
      add(op, "sched.jobs", 1)
      val end = Option(jobEnds.get(j.id)).map(_.toDouble).getOrElse(j.startMs.toDouble)
      op.foreach(i => jobSpans.getOrElseUpdate(i, ArrayBuffer.empty) += (j.startMs.toDouble -> end))
    }
    stageStarts.asScala.foreach(t => add(opAt(t.toDouble), "sched.stages", 1))
    tasks.asScala.foreach { t =>
      val op = opAt(t.launchMs.toDouble)
      add(op, "sched.tasks", 1)
      add(op, "exec.task_run_ms", t.runMs)
      add(op, "exec.task_cpu_ms", t.cpuNs / 1e6)
      add(op, "exec.gc_ms", t.gcMs)
      add(op, "exec.spill_bytes", t.spill)
      add(op, "scan.bytes", t.inBytes)
      add(op, "shuffle.read_bytes", t.shRead)
      add(op, "shuffle.write_bytes", t.shWrite)
    }
    qes.asScala.foreach { q =>
      val op = opAt(q.atMs.toDouble)
      add(op, "plan.analysis_ms", q.analysis)
      add(op, "plan.optimizer_ms", q.optimizer)
      add(op, "plan.physical_ms", q.physical)
      add(op, "scan.files", q.files)
    }
    val progressKeys = Seq("addBatch" -> "streaming.add_batch_ms",
      "queryPlanning" -> "streaming.query_planning_ms",
      "walCommit" -> "streaming.wal_commit_ms",
      "commitOffsets" -> "streaming.commit_offsets_ms",
      "latestOffset" -> "streaming.latest_offset_ms",
      "triggerExecution" -> "streaming.trigger_ms")
    progress.asScala.foreach { p =>
      val op = opAt(p.atMs.toDouble, slackMs = 250)
      progressKeys.foreach { case (k, name) => add(op, name, p.durations.getOrElse(k, 0L).toDouble) }
      add(op, "streaming.rows_per_batch", p.rows)
    }
    traced.foreach { o =>
      // wall time not covered by any job: planning, coordinator work and
      // scheduling gaps between the operation's jobs
      val covered = union(jobSpans.getOrElse(o.id, ArrayBuffer.empty).toSeq
        .map { case (s, e) => (math.max(s, o.startMs), math.min(e, o.endMs)) }
        .filter { case (s, e) => e > s })
      acc(o.id)("sched.driver_gap_ms") += (o.endMs - o.startMs) - covered
    }
    val keys = Trace.layerKeys
    keys.map(k => k -> Stats.median(traced.map(o => acc(o.id)(k)).toSeq)).toMap
  }

  private def union(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }
}

object Trace {
  /** Counters attributed per operation from Spark's listeners. */
  val layerKeys: Seq[String] = Seq(
    "streaming.add_batch_ms", "streaming.query_planning_ms",
    "streaming.wal_commit_ms", "streaming.commit_offsets_ms",
    "streaming.latest_offset_ms", "streaming.trigger_ms",
    "streaming.rows_per_batch",
    "plan.analysis_ms", "plan.optimizer_ms", "plan.physical_ms",
    "sched.jobs", "sched.stages", "sched.tasks", "sched.driver_gap_ms",
    "exec.task_run_ms", "exec.task_cpu_ms", "exec.gc_ms", "exec.spill_bytes",
    "scan.files", "scan.bytes", "shuffle.read_bytes", "shuffle.write_bytes")
}
