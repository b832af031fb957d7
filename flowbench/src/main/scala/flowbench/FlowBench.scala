package flowbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

/** Benchmark entry point: one closed-loop workload, one client thread.
  *
  *   flowbench.FlowBench --workload ingest|dashboard|ann_serve --seed N
  *     --seconds S --trace 0|1 --work DIR --spans FILE
  *
  * Set-up (session, inputs, tables or index, warm-up until per-operation
  * latency settles) is timed from JVM start to the first timed operation.
  * With --trace 0 the timed window runs untraced and the end-to-end
  * metrics are printed; with --trace 1 the window alternates untraced and
  * traced quarters (Spark's listeners attached), and the per-layer
  * metrics plus the traced-minus-untraced overhead are printed. Every answer is checked
  * after the window. The last stdout line is the JSON result. */
object FlowBench {

  /** Past the workload's minimum, warm-up runs at most this many more
    * operations and this long. */
  val ExtraWarm = 10
  val WarmCapMs = 20000.0
  /** Warm-up ends when the last three operations agree within this share. */
  val Settled = 0.15
  val MinTimedOps = 3

  val Workloads: Seq[String] = Seq("ingest", "dashboard", "ann_serve")

  val EndToEnd: Seq[String] = Seq("setup_s", "throughput_per_s", "latency_p50_ms",
    "latency_tail_ms", "recall", "ok_ratio", "peak_rss_mb")

  /** Every per-layer metric with its unit; layers a workload never touches read 0. */
  val PerLayer: Seq[(String, String)] = Seq(
    "streaming.add_batch_ms" -> "ms", "streaming.query_planning_ms" -> "ms",
    "streaming.wal_commit_ms" -> "ms", "streaming.commit_offsets_ms" -> "ms",
    "streaming.latest_offset_ms" -> "ms", "streaming.trigger_ms" -> "ms",
    "streaming.rows_per_batch" -> "rows",
    "etl.batch_rows_per_s" -> "1/s",
    "sources.files_written" -> "count", "sources.bytes_written" -> "bytes",
    "sources.sink_files_total" -> "count",
    "plan.analysis_ms" -> "ms", "plan.optimizer_ms" -> "ms", "plan.physical_ms" -> "ms",
    "sched.jobs" -> "count", "sched.stages" -> "count", "sched.tasks" -> "count",
    "sched.driver_gap_ms" -> "ms",
    "exec.task_run_ms" -> "ms", "exec.task_cpu_ms" -> "ms", "exec.gc_ms" -> "ms",
    "exec.spill_bytes" -> "bytes",
    "scan.files" -> "count", "scan.bytes" -> "bytes",
    "shuffle.read_bytes" -> "bytes", "shuffle.write_bytes" -> "bytes",
    "sources.city_counts_ms" -> "ms", "ml.cluster_stats_ms" -> "ms",
    "etl.top_skills_ms" -> "ms", "ml.salary_predict_ms" -> "ms",
    "ml.score_table_s" -> "s",
    "similarity.serve_ms" -> "ms", "similarity.build_s" -> "s",
    "similarity.store_write_s" -> "s",
    "trace.overhead_ms" -> "ms", "trace.overhead_pct" -> "%")

  final case class Opts(workload: String, seed: Long, seconds: Double, traced: Boolean,
      work: String, spans: String)

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val w = need("workload")
    require(Workloads.contains(w), s"unknown workload $w")
    Opts(w, need("seed").toLong, need("seconds").toDouble, need("trace") == "1",
      need("work"), need("spans"))
  }

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024 }
      .getOrElse(0.0)

  def settled(lat: Seq[Double]): Boolean = lat.length >= 3 && {
    val last = lat.takeRight(3)
    last.max / last.min - 1 <= Settled
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.lang.Double.toString(v)

  def main(args: Array[String]): Unit = {
    val code =
      try { run(parse(args)); 0 }
      catch { case e: Throwable => e.printStackTrace(); 1 }
    // stream and listener threads must not keep the JVM alive
    System.exit(code)
  }

  def run(o: Opts): Unit = {
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val trace = new Trace
    val cpus = math.min(4, Runtime.getRuntime.availableProcessors())
    val spark = trace.span("session")(graft.Sessions.local("flowbench", cpus))
    val w: Workload = trace.span("generate")(o.workload match {
      case "ingest" => new Ingest(spark, o.seed, o.work, trace)
      case "dashboard" => new Dashboard(spark, o.seed, o.work, trace)
      case "ann_serve" => new AnnServe(spark, o.seed, o.work, trace)
    })

    var next = 0
    val threw = mutable.Set.empty[Int]
    val latency = mutable.Map.empty[Int, Double]
    def step(traced: Boolean): Int = {
      val i = next
      next += 1
      w.prepare(i)
      try latency(i) = trace.op(traced)(w.run(i))
      catch {
        case NonFatal(e) =>
          threw += i
          System.err.println(s"operation $i failed: $e")
      }
      if (traced) w.afterTracedOp(i)
      i
    }
    def window(seconds: Double, traced: Boolean): Seq[Int] = {
      val start = trace.nowMs
      val ids = ArrayBuffer.empty[Int]
      while (ids.length < MinTimedOps || trace.nowMs - start < seconds * 1000)
        ids += step(traced)
      ids.toSeq
    }

    trace.span("setup")(w.setup())
    val warmStart = trace.nowMs
    val warm = ArrayBuffer.empty[Int]
    while (warm.length < w.minWarmUp || (!settled(warm.flatMap(latency.get).toSeq) &&
        warm.length < w.minWarmUp + ExtraWarm && trace.nowMs - warmStart < WarmCapMs))
      warm += step(traced = false)
    val setupS = (trace.nowMs - jvmStartMs) / 1000

    val (untraced, traced) =
      if (!o.traced) (window(o.seconds, traced = false), Seq.empty[Int])
      else {
        // untraced and traced blocks alternate, so warm-up drift left in
        // the window does not masquerade as tracing overhead
        val blocks = (1 to 2).map { _ =>
          val u = window(o.seconds / 4, traced = false)
          w.startTracing()
          trace.attach(spark)
          val t = window(o.seconds / 4, traced = true)
          trace.detach(spark)
          (u, t)
        }
        (blocks.flatMap(_._1), blocks.flatMap(_._2))
      }
    val timed = untraced ++ traced
    // before the answer checks, whose references are not the workload's memory
    val peakRss = peakRssMb()

    val checked = w.check(warm.toSeq ++ timed)
    def failed(i: Int) = threw(i) || !checked.ok.getOrElse(i, false)
    val failedOps = timed.count(failed)
    val attempted = timed.length.toLong * w.unitsPerOp
    val correct = (warm.toSeq ++ timed).forall(i => !failed(i))

    def lat(ids: Seq[Int]) = ids.flatMap(latency.get)
    val metrics: Seq[(String, Double, String)] =
      if (!o.traced) {
        val l = lat(untraced)
        val (tailP, tailV) = Stats.tail(l)
        val thirds = l.grouped(math.max(1, (l.length + 2) / 3)).map(t => f"${Stats.median(t)}%.1f")
        println(f"${o.workload}: ${l.length} timed operations, tail percentile p$tailP, " +
          f"warm-up ${warm.length} operations, set-up $setupS%.2f s, " +
          s"median latency by thirds of the window ${thirds.mkString(" / ")} ms")
        Seq(
          ("setup_s", setupS, "s"),
          ("throughput_per_s", l.length.toDouble * w.unitsPerOp / (l.sum / 1000), "1/s"),
          ("latency_p50_ms", Stats.median(l), "ms"),
          ("latency_tail_ms", tailV, "ms"),
          ("recall", checked.recall, "ratio"),
          ("ok_ratio", 1.0 - failedOps.toDouble * w.unitsPerOp / attempted, "ratio"),
          ("peak_rss_mb", peakRss, "MB"))
      } else {
        val base = Stats.median(lat(untraced))
        val overhead = Stats.median(lat(traced)) - base
        val layers = trace.layerMedians() ++ w.layers(trace, traced) ++ Map(
          "trace.overhead_ms" -> overhead, "trace.overhead_pct" -> 100 * overhead / base)
        println(f"${o.workload}: ${untraced.length} untraced and ${traced.length} traced " +
          f"operations, tracing overhead $overhead%.2f ms on a $base%.2f ms median")
        trace.writeSpans(o.spans)
        PerLayer.map { case (k, unit) => (k, layers.getOrElse(k, 0.0), unit) }
      }

    w.close()
    spark.stop()
    val body = metrics.map { case (k, v, u) =>
      s""""$k": {"value": ${num(v)}, "unit": "$u"}""" }.mkString(", ")
    println(s"""{"correct": $correct, "attempted": $attempted, """ +
      s""""failed": ${failedOps.toLong * w.unitsPerOp}, "metrics": {$body}}""")
    System.out.flush()
  }
}
