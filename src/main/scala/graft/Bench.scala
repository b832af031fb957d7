package graft

/** Per-round benchmark: runs every registered query on SPARK_GRAFT_SF_DIR
  * and prints one JSON line.
  *
  * Measurement is a full materialization through the `noop` datasource —
  * every column is computed and serialized, nothing is written. `.count()`
  * would let Catalyst prune all columns (and collapse projections under the
  * count), so it measures plan skeletons, not query cost (VERDICT r1 #2).
  * Failures are surfaced in an `errors` object instead of being folded into
  * a fake timing. After the full pass the slowest `SPARK_GRAFT_RERUN`
  * (default 8) queries are re-run back-to-back and recorded under
  * `isolated_rerun` — contention forensics baked into the artifact.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = Sessions.local("graft-bench", cpus)
    // JVM/codegen warm-up outside the timed region: without this the first
    // query absorbs ~5-8 s of JIT + classloading and the per-query numbers
    // misattribute engine cost
    try {
      import org.apache.spark.sql.functions._
      spark.range(1000000).agg(sum(col("id"))).write.mode("overwrite").format("noop").save()
      graft.sources.Tables.lineitem(spark, sfDir).limit(1000)
        .write.mode("overwrite").format("noop").save()
      // the jobs fixture's generator CASEs + the explode/agg shape over
      // them are the other big codegen compile (~2.5 s measured: a plain
      // limit() warm-up does NOT cover the generate+aggregate codegen the
      // alphabetically-first aq01 then pays for); run the real shape once
      graft.etl.JobsFixture.jobs(spark, sfDir)
        .select(explode(split(lower(col("skills")), ",")).as("sk"))
        .groupBy(col("sk")).count().orderBy(col("count").desc).limit(5)
        .write.mode("overwrite").format("noop").save()
    } catch { case _: Throwable => () }
    // catalog DDL is deployment setup, not query cost: register the SQL
    // views once up front (memoized), as a real warehouse's CREATE TABLEs
    // would be — the SQL-surface queries then measure the query alone.
    // Independent try: a failure in the JIT warm-ups above must not skip
    // registration (aq04 would silently re-absorb it into its timing).
    try graft.sources.Tables.registerAll(spark, sfDir)
    catch { case _: Throwable => () }
    val timings = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    // SPARK_GRAFT_ONLY=q01,jq04 limits the run (dev iteration knob)
    val only = sys.env.get("SPARK_GRAFT_ONLY")
    SparkEntry.selected(only).foreach { case (name, fn) =>
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).write.mode("overwrite").format("noop").save()
        timings(name) = (System.nanoTime() - t0) / 1e9
      } catch {
        case e: Throwable =>
          errors(name) = Option(e.getMessage).getOrElse(e.getClass.getName)
            .replaceAll("[\"\\\\\n\r\t]", " ").take(200)
      } finally {
        // per-query isolation: drop caches a query may have built so later
        // timings aren't cross-subsidized and memory doesn't creep
        spark.catalog.clearCache()
      }
    }
    // Contention self-defense (three rounds of driver benches poisoned by
    // co-tenant load): after the full pass, re-run the slowest queries
    // back-to-back and record BOTH numbers. A genuine regression stays
    // slow on the re-run; a contention artifact collapses toward the
    // quiet figure — the artifact itself now carries the evidence instead
    // of needing a by-hand SPARK_GRAFT_ONLY re-measure next session.
    val rerunN = sys.env.getOrElse("SPARK_GRAFT_RERUN", "8").toInt
    // Cross-round regression tripwire (the tq31 lesson: a 3.5× in-bench
    // delta vs the PREVIOUS round went unisolated because the in-run
    // outlier gate only looked at this run's slowest queries). The
    // committed bench_baseline.json carries the last quiet full-suite
    // per-query map; any query now slower than max(1.5× baseline,
    // baseline + 0.5 s) joins the isolated rerun set and is reported
    // under "regressed_vs_baseline" with its baseline figure — so the
    // artifact itself says whether a delta is contention (isolated time
    // collapses) or real (stays slow), round over round.
    val baseline: Map[String, Double] = {
      val p = sys.env.getOrElse("SPARK_GRAFT_BENCH_BASELINE", "bench_baseline.json")
      try baselineFor(new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(p)), "UTF-8"), sfDir)
      catch { case _: Throwable => Map.empty }
    }
    def gate(name: String, t: Double): Boolean =
      baseline.get(name).exists(b => t > math.max(1.5 * b, b + 0.5))
    val regressedRaw = timings.filter { case (name, t) => gate(name, t) }
    val isolated = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    if (only.isEmpty && rerunN > 0) {
      val rerunSet = (timings.toSeq.sortBy(-_._2).take(rerunN).map(_._1) ++
        regressedRaw.keys).distinct
      rerunSet.foreach { name =>
        // EVERY regressed candidate gets a multi-sample isolated rerun
        // (r14 verdict #3 + r15 advice): sub-5s rows take median-of-3
        // (JIT/GC state routinely exceeds the 1.5× gate with no code
        // change — tq19/dq14 measured); ≥5s rows take 2 samples, and
        // `runs.sorted.apply(size/2)` then reads the LARGER one — a
        // single lucky warm rerun can no longer suppress the report
        // (suppression requires BOTH samples to clear the gate)
        val reps = if (!regressedRaw.contains(name)) 1
          else if (baseline.get(name).exists(_ < 5.0)) 3 else 2
        val runs = (1 to reps).flatMap { _ =>
          val t0 = System.nanoTime()
          val r = try {
            SparkEntry.queries(name)(spark, sfDir)
              .write.mode("overwrite").format("noop").save()
            Some((System.nanoTime() - t0) / 1e9)
          } catch { case _: Throwable => None }
          spark.catalog.clearCache()
          r
        }
        if (runs.nonEmpty) isolated(name) = runs.sorted.apply(runs.size / 2)
      }
    }
    // a regression is REPORTED only when the isolated (median) figure
    // still trips the gate; the main-pass candidates stay visible
    // under "regressed_candidates" so the artifact carries both sides
    val regressed = regressedRaw.filter { case (name, _) =>
      isolated.get(name).forall(t => gate(name, t))
    }
    def jnum(m: collection.Map[String, Double]) =
      m.map { case (k, v) => s""""$k":${"%.3f".format(v)}""" }.mkString("{", ",", "}")
    def jstr(m: collection.Map[String, String]) =
      m.map { case (k, v) => s""""$k":"$v"""" }.mkString("{", ",", "}")
    val total = timings.values.sum
    // two subtotals (VERDICT r12 #4): deliberate measurement rows
    // (build+store+serve latency/recall splits) accumulate wall every
    // round, and inside one grand total they would drown a regression
    // in a 1-second engine query — report both trends separately
    val measured = SparkEntry.measurementRows
    val engineSec = timings.collect {
      case (n, t) if !measured(n) => t }.sum
    val measurementSec = total - engineSec
    val nMeas = timings.count { case (n, _) => measured(n) }
    val subtotals = s""""engine_queries_sec":${"%.3f".format(engineSec)},"measurement_rows_sec":${"%.3f".format(measurementSec)},"n_engine":${timings.size - nMeas},"n_measurement":$nMeas"""
    val line = s"""{"metric":"total","value":${"%.3f".format(total)},"unit":"sec",$subtotals,"queries":${jnum(timings)},"isolated_rerun":${jnum(isolated)},"regressed_vs_baseline":${jnum(regressed.map { case (k, _) => k -> baseline(k) })},"regressed_candidates":${jnum(regressedRaw.map { case (k, _) => k -> baseline(k) })},"errors":${jstr(errors)},"n_ok":${timings.size},"n_err":${errors.size},"sf":"$sfDir"}"""
    println(line)
    // the full line above is ~7 KB at 237 queries and the driver's
    // stdout capture truncates from the HEAD — emit a compact summary
    // LAST so a truncated tail still carries one complete, parseable
    // JSON line (the per-query map lives in the file below and in the
    // committed bench_out.json)
    println(s"""{"metric":"total_compact","value":${"%.3f".format(total)},"unit":"sec",$subtotals,"n_ok":${timings.size},"n_err":${errors.size},"n_regressed":${regressed.size},"sf":"$sfDir"}""")
    // Also persist the line: the driver captures stdout, which has been
    // observed truncated at the head for long runs (BENCH_r03 lost the
    // aq-jq rows) — a committed file survives that. Filtered dev runs
    // (SPARK_GRAFT_ONLY) must not clobber the last full-suite record.
    // Path is overridable and the write is non-fatal: a read-only or
    // foreign cwd must not turn a completed benchmark into a crash.
    if (only.isEmpty)
      try {
        val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")
        java.nio.file.Files.writeString(java.nio.file.Paths.get(out), line + "\n")
      } catch { case _: Throwable => () }
    spark.stop()
  }

  /** The per-query map of a baseline Bench line, for the regression
    * gate — only when the baseline ran at THIS run's scale factor (its
    * `sf` equals `sfDir`, compared as strings): walls from another sf
    * differ by the data-size ratio, so the gate would flag or hide
    * every query. Empty on a mismatch and when the baseline names no
    * `sf`. */
  private[graft] def baselineFor(json: String, sfDir: String): Map[String, Double] =
    if (!"\"sf\":\"([^\"]*)\"".r.findFirstMatchIn(json).map(_.group(1)).contains(sfDir))
      Map.empty
    else json.split("\"queries\":\\{", 2).lift(1).map(_.takeWhile(_ != '}'))
      .map("\"([^\"]+)\":([0-9.]+)".r.findAllMatchIn(_)
        .map(m => m.group(1) -> m.group(2).toDouble).toMap).getOrElse(Map.empty)
}
