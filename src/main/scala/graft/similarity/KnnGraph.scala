package graft.similarity

import graft.operators.TopKPerGroup
import graft.similarity.VectorOps.cosine
import graft.util.SparkOrdering
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate k-NN graph: NN-Descent construction (Dong et al. 2011)
  * plus the stored-serving layout — the graph-index counterpart of
  * [[StoredIndex]]'s IVF-PQ pair. Build is pure relational algebra
  * (2-hop self-joins + exact-cosine top-k per node, each round
  * persisted durably and restartable); serving is HNSW's layer-0
  * beam loop.
  *
  * Storage layout: the UNDIRECTED adjacency partitioned by
  * `bucket = src % NumBuckets`, so one beam step reads only the
  * frontier nodes' buckets — a partition-pruned scan exactly like
  * sq14's nprobe-pruned codes read (StoredGraphSpec asserts
  * `selectedPartitions ≤ frontier buckets` on the real plan). The
  * registry/pin lifecycle (ml/IndexLifecycle) applies to the store
  * path unchanged.
  *
  * 100 TB: the graph is the k·n edge list — index-sized, not
  * corpus-sized; a beam step shuffles only (qid, node) frontiers and
  * scans ≤ beam·|Q| buckets of it. */
object KnnGraph {

  val NumBuckets = 32

  /** e_0..e_rounds of the NN-Descent build, each (src, nbr, cos):
    * prime-stride spread init (never self), then per round the 2-hop
    * expansion over the undirected current graph, exact double-cosine
    * scoring and a (cos DESC, nbr) top-k per node. Rounds persist to a
    * process-lifetime scratch dir via [[buildDurable]] — see there for
    * why persistence (not localCheckpoint) is the round barrier. */
  def build(vecs: DataFrame, k: Int, rounds: Int): Seq[DataFrame] =
    buildDurable(vecs, k, rounds,
      graft.util.Scratch.tempDir("graft-knng-build"))

  /** The durable NN-Descent build: each round's edge frame lands as
    * parquet under `workDir/e_<r>` and is read BACK as the next round's
    * input, so (a) the self-join lineage never doubles (the round-10
    * trap — Catalyst re-analysis otherwise dominates wall time), and
    * (b) the build is RESTARTABLE: a round whose `_SUCCESS` marker
    * exists is reloaded, not recomputed. The earlier localCheckpoint
    * variant had property (a) only — checkpoint blocks live on
    * executors, so at cluster scale one lost executor killed a
    * multi-hour build unretryably (r11 verdict ask #1). Every stage is
    * deterministic (prime-stride init, exact cosine, (cos DESC, nbr)
    * tie-break), so a resumed build is bit-identical to an
    * uninterrupted one — KnnGraphBuildSpec proves it.
    *
    * 100 TB: per-round cost is the k²-per-node candidate shuffle plus
    * one k·n-row parquet write — the write is index-sized, not
    * corpus-sized, and buys both fault tolerance and a warm resume. */
  def buildDurable(vecs: DataFrame, k: Int, rounds: Int,
      workDir: String): Seq[DataFrame] = {
    val spark = vecs.sparkSession
    import spark.implicits._
    val hfs = new org.apache.hadoop.fs.Path(workDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a resume must fail LOUDLY if the workDir was built under different
    // parameters — otherwise stale rounds reload silently and the
    // "resumed ≡ uninterrupted" contract is quietly broken. The
    // fingerprint is (k, n): it catches the k-change and corpus-resize
    // cases; same-size content changes remain the caller's contract
    // (the workDir names the corpus).
    val metaPath = new org.apache.hadoop.fs.Path(workDir, "_graft_build")
    // the prime-stride ring init below SYNTHESIZES neighbor ids as
    // arithmetic over 0..n-1 — each synthesized id that has no corpus
    // row is a phantom scoreEdges' inner join silently drops. A few
    // holes are harmless (hold-out fixtures, an erased id — NN-Descent
    // tolerates a slightly thinner init), but on a sparse or offset id
    // space MOST init edges vanish and the build degrades to a
    // near-edgeless graph with no error (the serveCoordinated
    // dense-fallback bug's build-side twin). The guard measures the
    // exact failure quantity — the fraction of the init's target range
    // 0..n-1 that actually exists — and refuses below 50% (ids 13i+7
    // survive ~8%; ids offset by ≥n survive 0%; one hole in 500
    // survives 99.8%). Two cheap aggregates next to a multi-round
    // build; the first also supplies the fingerprint's n. Sparse-id
    // corpora: build over a dense rank, then remap both edge endpoints
    // (StoredGraphSpec's sparse test does exactly this) — stores and
    // serving handle arbitrary ids.
    val n = vecs.count()
    require(n > 0, "cannot build a k-NN graph over an empty corpus")
    val inRange = vecs.filter($"vec_id" >= 0 && $"vec_id" < n).count()
    require(inRange * 2 >= n,
      s"NN-Descent's ring init targets ids 0..${n - 1} but only " +
        s"$inRange of $n corpus ids fall in that range — most init " +
        "edges would be silently dropped; remap to a dense rank before " +
        "building, then remap the edge endpoints back")
    val fingerprint = s"k=$k,n=$n"
    if (hfs.exists(metaPath)) {
      val in = hfs.open(metaPath)
      val prev = try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
        finally in.close()
      require(prev == fingerprint,
        s"workDir $workDir holds a build with parameters [$prev]; " +
          s"refusing to resume with [$fingerprint] — use a fresh workDir")
    } else {
      val out = hfs.create(metaPath, true)
      try out.write(fingerprint.getBytes("UTF-8")) finally out.close()
    }
    def roundDir(r: Int) = s"$workDir/e_$r"
    def done(r: Int) = hfs.exists(
      new org.apache.hadoop.fs.Path(roundDir(r), "_SUCCESS"))
    def persist(r: Int, df: DataFrame): DataFrame = {
      if (!done(r)) df.write.mode("overwrite").parquet(roundDir(r))
      spark.read.parquet(roundDir(r))
    }
    val nn = vecs.agg(count(lit(1)).as("n"))
    def init = vecs.select($"vec_id".as("src"))
      .crossJoin(broadcast(nn))
      .select($"src", explode(sequence(lit(1), lit(k))).as("j"), $"n")
      .select($"src",
        pmod($"src" + 1 + pmod($"j" * 193, $"n" - 1), $"n").cast("long").as("nbr"))
      .distinct()
    var e = persist(0, scoreEdges(vecs, init))
    val out = scala.collection.mutable.ArrayBuffer(e)
    for (r <- 1 to rounds) {
      e = persist(r, tighten(vecs, e, k))
      out += e
    }
    out.toSeq
  }

  /** BUILD-TO-SERVED-RECALL — the stop policy the COMPOSED serving
    * store needs (r14's measured finding made callable): build depth is
    * an n-dependent knob (recall ~doubles per NN-Descent round at 200k:
    * 0.016/0.055/0.125 at rounds 2/4/6), and Dong et al.'s δ-stop (stop
    * when the fraction of changed neighbor-list entries drops below δ)
    * targets the EXACT graph's fixpoint — the wrong objective for the
    * α-pruned artifact. Measured (COVERAGE.md "The converged arm"): at
    * a fixed degree/L budget the pruned store's recall peaked at depth
    * ~6 and FELL by depth 12 on the 200k replica (0.125 → 0.070, exact
    * head confirmed), because a converged graph's 2-hop candidate pool
    * is tight and local, and the prune then starves the long edges
    * cold-entry beams need (DiskANN generates prune candidates from
    * BEAM SEARCHES for exactly this reason). This
    * policy stops on the quantity a deployment actually ships: every
    * `step` build rounds it PRUNES the current graph (the real recipe —
    * [[searchCandidates]] pool, durable [[robustPrune]] at the serving
    * degree/α budget, each eval's prune in a depth-suffixed workDir so
    * resumes never cross depths) and SERVES a deterministic held-out
    * probe set over the pruned edges (the same beam walk + exact-cosine
    * rule the stored heads run — ComposedGraphStoreSpec proves the
    * stored layouts answer exactly what this in-memory walk answers
    * over the same edges and entries), measuring recall@k against an
    * exact brute-force ground truth computed ONCE. Pass `entriesFor` =
    * [[plannedEntries]] over the centroids the store WILL use: the
    * eval walks and the prune candidates then start where the stored
    * head's beams will start — without it the policy optimizes
    * ring-start navigation that sidecar-entry serving never sees
    * (measured at x100: eval recall 0.773, stored head 0.063 — the
    * α-prune keeps only the approach edges of the walks it is shown).
    * When the recall
    * improvement stays below `eps` for two consecutive evaluations, it
    * stops and returns the best depth's PRUNED adjacency — the store's
    * artifact, so the caller pays no second prune.
    *
    * Returns (build rounds, chosen depth, pruned edges at that depth,
    * the (depth, recall) trace). The chosen depth is the SMALLEST whose
    * recall reaches within `eps` of the best seen — the cost-optimal
    * point on the measured curve; the two post-plateau evaluations in
    * the trace are the evidence deeper building buys nothing.
    *
    * Durability: build rounds extend `workDir` through
    * [[buildDurable]]'s `_SUCCESS` resume; each eval's prune persists
    * under `workDir/policy_prune_r<d>` with the fingerprint guard. All
    * stages are deterministic, so a resumed run re-reads the same
    * recalls and stops at the SAME depth (BuildPolicySpec).
    *
    * 100 TB: each evaluation costs ~(candBeamRounds + degree) passes of
    * tighten-round shape over index-sized frames plus a |Q|-bounded
    * probe serve — a constant factor over the build ladder it tunes,
    * bought once per index build; the alternative it replaces is a
    * hand-tuned constant that silently under-builds at the next corpus
    * size (0.117 → 0.016 measured). */
  def buildToServedRecall(vecs: DataFrame, k: Int, maxRounds: Int,
      workDir: String, degree: Int, alpha: Double, candBeamRounds: Int,
      serveK: Int, serveBeamRounds: Int, nProbes: Int = 16,
      eps: Double = 0.02, step: Int = 2,
      entriesFor: Option[DataFrame => DataFrame] = None,
      entriesTag: String = ""):
      (Seq[DataFrame], Int, DataFrame, Seq[(Int, Double)]) = {
    import vecs.sparkSession.implicits._
    require(step >= 1, s"step must be ≥ 1, got $step")
    require(maxRounds >= step, s"maxRounds $maxRounds < step $step")
    require(nProbes > 0 && serveK > 0, "probe set and k must be non-empty")
    // an entries discipline MUST carry a content tag: the tag is the
    // only thing that keys the decision file and the prune dir family
    // to the discipline's content (e.g. the routing centroids), and a
    // defaulted "" would let a later run with DIFFERENT centroids
    // silently replay this run's decision and reload its prune (r16
    // advice — the replay path trusts knownFingerprint, so the tag is
    // load-bearing, not cosmetic)
    require(entriesFor.isEmpty || entriesTag.nonEmpty,
      "entriesFor without entriesTag: pass a content tag " +
        "(e.g. KnnGraph.entriesTagOf(cents)) so decision replay cannot " +
        "cross entry disciplines")
    // THE DECISION IS A DURABLE ARTIFACT OF THE WORKDIR (r16, after the
    // x100 probe filled the disk RE-LADDERING a decision it had already
    // made): once a run picks a depth, the pick + the chosen prune's
    // fingerprint + the trace persist under a budget-keyed file, and
    // any later run over the same workDir and budgets REPLAYS — build
    // rounds resume, the chosen prune reloads through robustPrune's
    // knownFingerprint seam, and crucially the LOSING depths (5–14 GB
    // of reaped prune state each at 200k) are never recomputed. The
    // budget tag covers every decision input; a different corpus needs
    // a different workDir, which is already buildDurable's contract.
    val budgetTag = s"m${maxRounds}_d${degree}_a${alpha}" +
      s"_c${candBeamRounds}_sk${serveK}_sb${serveBeamRounds}" +
      s"_np${nProbes}_e${eps}_st${step}_" +
      (if (entriesFor.isEmpty) "ring" else entriesTag)
    val hfs0 = new org.apache.hadoop.fs.Path(workDir).getFileSystem(
      vecs.sparkSession.sparkContext.hadoopConfiguration)
    val decisionPath = new org.apache.hadoop.fs.Path(workDir,
      s"_graft_policy_$budgetTag")
    val decisionTag = policyPruneTag(entriesFor.isDefined, entriesTag,
      degree, alpha, candBeamRounds)
    def readSmall(p: org.apache.hadoop.fs.Path): String = {
      val in = hfs0.open(p)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
      finally in.close()
    }
    if (hfs0.exists(decisionPath)) {
      // a truncated decision (crash inside the small write) must fall
      // back to the ladder, never brick the build — parse failures
      // delete the file and recompute
      val parsed = scala.util.Try {
        val lines = readSmall(decisionPath).split("\n")
        val depth = lines(0).stripPrefix("depth=").toInt
        val fp = lines(1).stripPrefix("fingerprint=")
        val storedTrace = lines(2).stripPrefix("trace=").split(",")
          .filter(_.nonEmpty).map { e =>
            val Array(dd, r) = e.split(":"); (dd.toInt, r.toDouble)
          }.toSeq
        (depth, fp, storedTrace)
      }
      parsed match {
        case scala.util.Success((depth, fp, storedTrace)) =>
          val rounds = buildDurable(vecs, k, depth, workDir)
          val pruned = robustPrune(vecs,
              searchCandidates(vecs, rounds.last, k, candBeamRounds,
                entries = entriesFor.map(f =>
                  f(vecs.select($"vec_id".as("qid"), $"v")))),
              degree, alpha, Some(s"$workDir/$decisionTag$depth"),
              knownFingerprint = Some(fp))
            .select($"src", $"nbr").localCheckpoint(true)
          return (rounds, depth, pruned, storedTrace)
        case scala.util.Failure(_) =>
          hfs0.delete(decisionPath, false): Unit
      }
    }
    // deterministic held-out probes: the first nProbes corpus vectors
    // as queries (self excluded from both truth and serve — the probe
    // measures navigation to NEIGHBORS, not self-lookup). Built only
    // on the LADDER path — a decision replay must not pay the
    // corpus-wide brute-force truth it will never read.
    val qv = vecs.filter($"vec_id" < nProbes)
      .select($"vec_id".as("qid"), $"v").localCheckpoint(true)
    val nq = qv.count()
    require(nq > 0, s"no probe queries: no vec_id < $nProbes in the corpus")
    // exact ground truth, computed ONCE for every evaluation
    val bf = exactTruth(qv, vecs, serveK).localCheckpoint(true)
    // ENTRY DISCIPLINE IS PART OF THE ARTIFACT (r15 measured): the
    // eval serve AND every eval prune's candidate searches start from
    // `entriesFor` when given — the serving head's own entry rule
    // ([[plannedEntries]]). Evaluating a ring-start prune and then
    // serving it from sidecar members read 0.773 vs 0.063 at x100:
    // the α-prune keeps the approach edges of exactly the beams it
    // sees, so the eval must walk the deployment's walks.
    val entryOf: DataFrame => DataFrame =
      entriesFor.getOrElse(ringEntries(vecs, _))
    def servedRecall(pruned: DataFrame): Double = {
      val und = undirected(pruned).localCheckpoint(true)
      val pool = beamTrace(entryOf(qv), expandEdges(und),
        fresh => rankPool(vecs, qv, fresh.localCheckpoint(true), serveK),
        serveBeamRounds).last._2
      val served = rankPool(vecs, qv, pool, serveK)
      val recall = served.join(bf, Seq("qid", "node"), "left_semi").count()
        .toDouble / (nq * serveK)
      // the eval's undirected closure is dead once the recall lands —
      // freed so a multi-eval policy run doesn't pile index-sized
      // checkpoint blocks on the shuffle disk (the r15 disk lesson)
      und.unpersist()
      recall
    }
    var rounds: Seq[DataFrame] = Seq.empty
    val trace = scala.collection.mutable.ArrayBuffer.empty[(Int, Double)]
    val prunedAt = scala.collection.mutable.Map.empty[Int, DataFrame]
    var stale = 0
    var best = 0.0
    var d = step
    // the prune dir name carries every PRUNE-DETERMINING parameter
    // (degree, α, candidate beam depth, and the caller's entries tag —
    // e.g. a centroid digest), so distinct serving budgets or entry
    // disciplines over one shared workDir COEXIST as sibling dir
    // families instead of colliding on robustPrune's fingerprint
    // guard (r15 advice: a second same-process caller with a
    // different degree/α/centroids hard-failed where it should have
    // computed). Entry-consistent prunes still get their own family:
    // their candidates differ from ring-start prunes.
    val pruneDirTag = policyPruneTag(entriesFor.isDefined, entriesTag,
      degree, alpha, candBeamRounds)
    // corpus count once for every depth's slice derivation — a ladder
    // would otherwise pay one count() job per evaluation (r15 advice)
    val nCorpus = vecs.count()
    while (d <= maxRounds && stale < 2) {
      rounds = buildDurable(vecs, k, d, workDir)
      val last = rounds.last
      val pruned = robustPrune(vecs,
          searchCandidates(vecs, last, k, candBeamRounds,
            entries = entriesFor.map(f =>
              f(vecs.select($"vec_id".as("qid"), $"v"))),
            corpusCount = nCorpus),
          degree, alpha, Some(s"$workDir/$pruneDirTag$d"))
        .select($"src", $"nbr").localCheckpoint(true)
      val recall = servedRecall(pruned)
      trace += d -> recall
      prunedAt(d) = pruned
      if (trace.size == 1 || recall >= best + eps) stale = 0 else stale += 1
      if (recall > best) best = recall
      d += step
    }
    // cost-optimal pick: the SMALLEST depth within eps of the best
    val chosen = trace.find(_._2 >= best - eps).map(_._1).get
    // losing evaluations' prune dirs are DEAD the moment the pick
    // lands — each holds rounds × candidate-list-sized state (5-6 GB
    // per depth on the 200k replica; the r15 probe filled the box's
    // disk before this cleanup existed). The chosen depth's dir IS the
    // artifact and stays. A later resume re-pays only the deleted
    // losers, deterministically (BuildPolicySpec's resume test).
    val hfs = new org.apache.hadoop.fs.Path(workDir).getFileSystem(
      vecs.sparkSession.sparkContext.hadoopConfiguration)
    trace.map(_._1).filter(_ != chosen).foreach { dd =>
      hfs.delete(new org.apache.hadoop.fs.Path(
        s"$workDir/$pruneDirTag$dd"), true): Unit
      prunedAt(dd).unpersist(): Unit
    }
    // persist the decision (see the replay block above): the chosen
    // prune's own durable metadata carries the fingerprint the replay
    // hands back to robustPrune's knownFingerprint seam
    val chosenMeta = new org.apache.hadoop.fs.Path(
      s"$workDir/$pruneDirTag$chosen", "_graft_prune")
    if (hfs.exists(chosenMeta)) {
      val body = s"depth=$chosen\nfingerprint=${readSmall(chosenMeta)}\n" +
        s"trace=${trace.map { case (dd, r) => s"$dd:$r" }.mkString(",")}"
      val out = hfs.create(decisionPath, true)
      try out.write(body.getBytes("UTF-8")) finally out.close()
    }
    (rounds, chosen, prunedAt(chosen), trace.toSeq)
  }

  /** The depth-keyed policy prune dir family's name prefix — shared by
    * [[buildToServedRecall]] (which writes dirs under it) and
    * [[buildPolicyCached]]'s decision replay (which must reopen the
    * CHOSEN depth's dir in a later process). */
  private def policyPruneTag(hasEntries: Boolean, entriesTag: String,
      degree: Int, alpha: Double, candBeamRounds: Int): String = {
    val e = if (hasEntries)
      "e" + (if (entriesTag.nonEmpty) s"_${entriesTag}" else "") + "_"
    else ""
    s"policy_prune_${e}d${degree}_a${alpha}_c${candBeamRounds}_r"
  }

  private val sharedBuildDirs =
    new java.util.concurrent.ConcurrentHashMap[(String, Int), String]()
  private val sharedBuildLocks =
    new java.util.concurrent.ConcurrentHashMap[(String, Int), Object]()

  /** The process-shared workDir for a (corpusKey, k) — DETERMINISTIC
    * across processes (r15 verdict #6): named by a CONTENT digest of
    * the corpus plus k under [[graft.util.Scratch.sharedDir]], so the
    * per-round bench process resumes the previous process's build
    * rounds, durable prunes, and policy decisions instead of re-paying
    * them. The digest in the NAME is the staleness guard buildDurable's
    * (k, n) fingerprint is too weak for cross-process reuse: the driver
    * regenerates the test corpus between rounds at the SAME n, and a
    * surviving temp dir would silently serve the old corpus's graph.
    * One aggregate digest pass per (process, key) — cached here. */
  private[similarity] def sharedWorkDir(vecs: DataFrame,
      key: (String, Int)): String =
    sharedBuildDirs.computeIfAbsent(key, _ => {
      // the dir NAME is the staleness guard, so it carries the full
      // 128 bits of frameDigest's two xxhash64 streams — a 32-bit
      // rehash (pre-r17) gave real collision odds across regenerated
      // corpora, and a collision silently serves another corpus's
      // rounds, prunes, and policy decisions (r16 advice)
      val Array(_, x1, x2) = frameDigest(vecs, col("vec_id"), col("v"))
        .split(":")
      val tag = f"${x1.toLong}%016x${x2.toLong}%016x"
      graft.util.Scratch.sharedDir(s"knng-k${key._2}-$tag")
    })

  /** PROCESS-SHARED durable build: the first caller for a given
    * (corpusKey, k, rounds) pays the build; every later caller reloads
    * the persisted rounds through [[buildDurable]]'s `_SUCCESS` resume
    * (bit-identical by KnnGraphBuildSpec's resumed ≡ uninterrupted
    * proof — every stage is deterministic, so sharing cannot change
    * any query's answer). This is the deployment reality — a graph is
    * built once and served by many consumers — and in a batch run it
    * collapses N serving queries' builds into one. `corpusKey` must
    * identify the corpus CONTENT (the sf dir path here); callers with
    * a modified corpus (held-out slices, erasures) must NOT share and
    * should call [[buildDurable]] with their own workDir. Callers whose
    * MEASUREMENT is the build itself (sq21's construction metrics,
    * sq22b's build_s, [[graft.ScaleProbe]]'s warm-then-time pattern)
    * must not ride the cache either — ScaleProbe disables it
    * process-wide via the `graft.noBuildCache` system property, which
    * restores the build-fresh-per-call behavior. */
  def buildCached(vecs: DataFrame, corpusKey: String, k: Int,
      rounds: Int): Seq[DataFrame] = {
    if (sys.props.get("graft.noBuildCache").contains("1"))
      return build(vecs, k, rounds)
    // serialized PER KEY: two concurrent first-callers for the SAME
    // (corpus, k) must not race one workDir's round writes, but callers
    // for a different key must not queue behind an unrelated
    // multi-minute build — the lock is a per-key monitor, not one
    // global mutex (a resume hit returns quickly, so even the per-key
    // lock costs nothing steady-state)
    val key = (corpusKey, k)
    sharedBuildLocks.computeIfAbsent(key, _ => new Object).synchronized {
      // keyed by (corpus digest, k): buildDurable's per-round _SUCCESS
      // markers make different round counts over one workDir a safe
      // prefix-share — a 2-round caller reloads rounds 0..2 of a
      // 4-round build, and a later deeper caller extends in place;
      // the deterministic digest-named dir extends the share across
      // PROCESSES (sharedWorkDir's staleness argument)
      buildDurable(vecs, k, rounds, sharedWorkDir(vecs, key))
    }
  }

  /** PROCESS-SHARED served-recall policy build — [[buildCached]]'s
    * contract applied to [[buildToServedRecall]]: the first caller for
    * a (corpusKey, k) pays the policy run; later callers (and resumed
    * runs) ride the SAME shared workDir, where `_SUCCESS` markers
    * resume the build rounds and the depth-suffixed policy prunes
    * resume through the fingerprint guard — a re-run re-reads the same
    * recalls and stops at the same depth (BuildPolicySpec). The build
    * rounds PREFIX-SHARE with plain [[buildCached]] consumers of the
    * same corpus (the policy extends the rounds a fixed-depth caller
    * built, and vice versa). Distinct prune parameters (degree, alpha,
    * candBeamRounds) and entry disciplines on the SAME key COEXIST:
    * the prune dir names carry them (plus the caller's `entriesTag`,
    * e.g. [[entriesTagOf]] over the routing centroids), so a second
    * caller with a different serving budget computes its own dir
    * family instead of tripping the first family's fingerprint guard
    * (r15 advice). `graft.noBuildCache` restores the ephemeral
    * fresh-workDir behavior for probes that measure the policy
    * itself. */
  def buildPolicyCached(vecs: DataFrame, corpusKey: String, k: Int,
      maxRounds: Int, degree: Int, alpha: Double, candBeamRounds: Int,
      serveK: Int, serveBeamRounds: Int, nProbes: Int = 16,
      eps: Double = 0.02, step: Int = 2,
      entriesFor: Option[DataFrame => DataFrame] = None,
      entriesTag: String = ""):
      (Seq[DataFrame], Int, DataFrame, Seq[(Int, Double)]) = {
    if (sys.props.get("graft.noBuildCache").contains("1"))
      return buildToServedRecall(vecs, k, maxRounds,
        graft.util.Scratch.tempDir(s"graft-knng-policy-$k"), degree,
        alpha, candBeamRounds, serveK, serveBeamRounds, nProbes, eps,
        step, entriesFor, entriesTag)
    val key = (corpusKey, k)
    sharedBuildLocks.computeIfAbsent(key, _ => new Object).synchronized {
      // THE POLICY DECISION IS ITSELF A DURABLE ARTIFACT (r15 verdict
      // #6): buildToServedRecall records (chosen depth, the chosen
      // prune's fingerprint, the recall trace) under a budget-keyed
      // file in its workDir and REPLAYS it on any later run — no
      // ladder, no eval serves, no loser-prune recompute. Here the
      // workDir is the corpus-digest-named shared dir, so the replay
      // extends across PROCESSES (the per-round bench), and a changed
      // corpus or budget misses the digest/file and re-ladders.
      buildToServedRecall(vecs, k, maxRounds, sharedWorkDir(vecs, key),
        degree, alpha, candBeamRounds, serveK, serveBeamRounds, nProbes,
        eps, step, entriesFor, entriesTag)
    }
  }

  /** A filesystem-safe content tag for an entry discipline derived
    * from routing centroids — folded into the policy prune dir name so
    * [[plannedEntries]] over DIFFERENT centroids (another cells count,
    * another training sample) gets its own coexisting dir family
    * rather than a fingerprint hard-fail. MurmurHash3 over the nested
    * Seq contents: deterministic across JVMs (pure function of the
    * doubles), 8 hex chars. */
  def entriesTagOf(cents: Seq[Seq[Double]]): String =
    f"c${cents.length}_${scala.util.hashing.MurmurHash3.seqHash(cents.map(_.hashCode)) & 0x7fffffff}%08x"

  /** SERVE-BUDGET POLICY (r16 verdict #2): the quantized head has two
    * serving knobs — beam width L (per-round ADC keep, the walk's pool
    * ceiling) and rerank width W (the exact re-rank's shortlist) — and
    * the r16 ADC sweep proved L is the binding recall lever (x1 ADC
    * 0.336 → 0.680 as L grew k → 8k at ~1.3× latency) while BUILD
    * depth already self-tunes via [[buildToServedRecall]]. This closes
    * the calibration asymmetry: ladder over candidate (L, W) points in
    * ascending cost order (L outer — it drives the walk's work; W
    * inner — it only widens one final fetch), measure the quantized
    * head's served recall on the caller's probe set, and stop at the
    * FIRST point whose recall reaches `targetRecall − eps`, where
    * `targetRecall` is the EXACT head's measured recall on the same
    * store and probes — the quantization layer then provably costs at
    * most eps of whatever quality the graph delivers. If no candidate
    * reaches it, the best-recall point wins (the curve's ceiling is
    * the graph's, not the budget's) — and because a budget-starved
    * curve PLATEAUS well below an unreachable target (near-orthogonal
    * synthetic embeddings: the ADC ceiling is code resolution, not
    * width), the ladder also stops after two consecutive evaluations
    * that improve the best seen by < eps/2 — the build policy's stale
    * rule, so an unreachable target costs ~3 evals, not the whole
    * grid. The default W ladder is the single point 4k: the r16 ADC
    * sweep measured W saturating at the walk's pool while L moved
    * recall 0.336 → 0.680, and a wider final fetch is the cheap knob —
    * callers sweeping W pass `candidatesW` explicitly. Returns
    * ((L, W), recall at the pick, the evaluated (L, W, recall) trace).
    *
    * Like the build-depth decision, the pick is a DURABLE ARTIFACT:
    * with `workDir` given it persists under
    * `_graft_policy_serve_<tag>` and any later run over the same
    * workDir + budgets replays it without serving a single eval
    * (truncated file → delete + re-ladder). The caller's `tag` must
    * carry every serve-determining budget outside (k, eps, candidate
    * lists) — beam rounds, codebook/entry discipline — the same
    * contract as [[buildToServedRecall]]'s entriesTag.
    *
    * 100 TB: each evaluation is one |Q|-bounded quantized serve —
    * request-shaped, corpus-size-free — bought once per (store,
    * budget); the alternative is a hand-pinned default that was
    * measured quality-poor on hard corpora (x1 ADC 0.336). */
  def serveBudgetPolicy(spark: SparkSession,
      serve: (Int, Int) => DataFrame, truth: DataFrame, nq: Long, k: Int,
      targetRecall: Double, eps: Double = 0.05,
      candidatesL: Seq[Int] = Nil, candidatesW: Seq[Int] = Nil,
      workDir: Option[String] = None, tag: String = ""):
      ((Int, Int), Double, Seq[(Int, Int, Double)]) = {
    require(nq > 0 && k > 0, "probe set and k must be non-empty")
    val ls = if (candidatesL.nonEmpty) candidatesL
      else Seq(k, 2 * k, 4 * k, 8 * k)
    val ws = if (candidatesW.nonEmpty) candidatesW else Seq(4 * k)
    // the TARGET is part of the file key: it is a measured property of
    // the exact head on this store, so a workDir that outlives a
    // corpus regeneration (a probe work root) almost surely measures a
    // different target and must miss the stale decision rather than
    // replay it (the digest-named shared dirs never hit this; explicit
    // probe workDirs can)
    val budgetTag = f"k${k}_e${eps}_t$targetRecall%.4f" +
      s"_L${ls.mkString("-")}_W${ws.mkString("-")}" +
      (if (tag.nonEmpty) s"_$tag" else "")
    val decisionPath = workDir.map(wd =>
      new org.apache.hadoop.fs.Path(wd, s"_graft_policy_serve_$budgetTag"))
    val hfs = decisionPath.map(_.getFileSystem(
      spark.sparkContext.hadoopConfiguration))
    for (p <- decisionPath; fs <- hfs if fs.exists(p)) {
      val parsed = scala.util.Try {
        val in = fs.open(p)
        val lines = try scala.io.Source.fromInputStream(in, "UTF-8")
          .mkString.trim.split("\n") finally in.close()
        val l = lines(0).stripPrefix("l=").toInt
        val w = lines(1).stripPrefix("w=").toInt
        val r = lines(2).stripPrefix("recall=").toDouble
        val t = lines(3).stripPrefix("trace=").split(",")
          .filter(_.nonEmpty).map { e =>
            val Array(el, ew, er) = e.split(":")
            (el.toInt, ew.toInt, er.toDouble)
          }.toSeq
        ((l, w), r, t)
      }
      parsed match {
        case scala.util.Success(d) => return d
        case scala.util.Failure(_) => fs.delete(p, false): Unit
      }
    }
    def recallOf(ans: DataFrame): Double =
      ans.join(truth, Seq("qid", "node"), "left_semi").count()
        .toDouble / (nq * k)
    val trace = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, Double)]
    var pick: Option[((Int, Int), Double)] = None
    var best = 0.0
    var stale = 0
    // staleness is judged per L STEP (the best recall across that L's
    // W ladder), never per grid cell: with a multi-point candidatesW a
    // W-plateau at the smallest L would otherwise burn both stale
    // slots before L — the binding lever — ever moved (r17 review)
    val lIt = ls.iterator
    var firstStep = true
    while (pick.isEmpty && stale < 2 && lIt.hasNext) {
      val l = lIt.next()
      var lBest = 0.0
      val wIt = ws.iterator
      while (pick.isEmpty && wIt.hasNext) {
        val w = wIt.next()
        val r = recallOf(serve(l, w))
        trace += ((l, w, r))
        if (r > lBest) lBest = r
        if (r >= targetRecall - eps) pick = Some(((l, w), r))
      }
      if (firstStep || lBest >= best + eps / 2) stale = 0 else stale += 1
      firstStep = false
      if (lBest > best) best = lBest
    }
    val ((cl, cw), cr) = pick.getOrElse {
      val best = trace.maxBy(_._3)
      ((best._1, best._2), best._3)
    }
    for (p <- decisionPath; fs <- hfs) {
      val body = s"l=$cl\nw=$cw\nrecall=$cr\n" +
        s"trace=${trace.map { case (l, w, r) => s"$l:$w:$r" }.mkString(",")}"
      val out = fs.create(p, true)
      try out.write(body.getBytes("UTF-8")) finally out.close()
    }
    ((cl, cw), cr, trace.toSeq)
  }

  /** PROCESS-SHARED serve-budget policy — [[buildPolicyCached]]'s
    * caching discipline applied to [[serveBudgetPolicy]]: the decision
    * persists in the corpus-digest-named shared workDir, so the
    * per-round bench replays a pick an earlier process laddered, and a
    * regenerated corpus misses the digest and re-ladders. Honors
    * `graft.noBuildCache` (probes that MEASURE the ladder must pay
    * it). */
  def servePolicyCached(vecs: DataFrame, corpusKey: String, k: Int,
      serve: (Int, Int) => DataFrame, truth: DataFrame, nq: Long,
      targetRecall: Double, eps: Double = 0.05,
      candidatesL: Seq[Int] = Nil, candidatesW: Seq[Int] = Nil,
      tag: String = ""): ((Int, Int), Double, Seq[(Int, Int, Double)]) = {
    val spark = vecs.sparkSession
    if (sys.props.get("graft.noBuildCache").contains("1"))
      return serveBudgetPolicy(spark, serve, truth, nq, k, targetRecall,
        eps, candidatesL, candidatesW, None, tag)
    val key = (corpusKey, k)
    sharedBuildLocks.computeIfAbsent(key, _ => new Object).synchronized {
      serveBudgetPolicy(spark, serve, truth, nq, k, targetRecall, eps,
        candidatesL, candidatesW, Some(sharedWorkDir(vecs, key)), tag)
    }
  }

  // pruneCached (a process-shared durable prune keyed by caller-named
  // candidate lineage) lived here through r14; sq28 — its only caller —
  // now gets durable, process-shared prunes from [[buildPolicyCached]]'s
  // depth-keyed policy dirs, which carry the lineage in the path instead
  // of trusting the caller to name it (the r14-advice staleness hole,
  // closed by construction). robustPrune's `knownFingerprint` hook stays:
  // it is the generic warm-resume seam any future cache needs.

  /** Exact-cosine scoring of an edge frame: fetch both endpoints'
    * vectors (candidate-bounded joins, never a corpus pass per edge). */
  private def scoreEdges(vecs: DataFrame, pairs: DataFrame): DataFrame = {
    import vecs.sparkSession.implicits._
    pairs
      .join(vecs.select($"vec_id".as("src"), $"v".as("vs")), Seq("src"))
      .join(vecs.select($"vec_id".as("nbr"), $"v".as("vn")), Seq("nbr"))
      .select($"src", $"nbr", cosine($"vs", $"vn").as("cos"))
  }

  /** ONE NN-Descent tightening round over edge frame `e` (src, nbr,
    * ...): 2-hop candidates through the undirected closure, union the
    * current edges, exact-cosine score, (cos DESC, nbr) top-k per
    * node. The shared step of [[buildDurable]] and [[refineDurable]];
    * since candidates ⊇ the current edges, each node's kept list
    * dominates its old one elementwise — per-node neighbor quality is
    * monotone non-decreasing (KnnGraphRefineSpec pins it).
    *
    * The keep runs as [[TopKPerGroup.TopK]] — one
    * mergeable aggregation, ordered by [[SparkOrdering.bestFirst]], with
    * MAP-SIDE partial top-k (guide §2.3 "aggregate before you
    * shuffle") replacing the former candidate-wide `.distinct()` + a
    * `row_number` window (r17 verdict ask #1): the window shuffled and
    * sorted EVERY candidate row per round, the aggregator ships at
    * most k distinct rows per (map task, node). The candidate
    * multiset's duplicates (one per shared 2-hop witness) are deduped
    * INSIDE the k-bounded buffers instead of in their own exchange —
    * safe because a duplicate (src, nbr) pair always carries the same
    * bit-identical cos (one deterministic expression over the same two
    * vectors), and exact because an id in the global distinct top-k is
    * beaten by < k distinct ids globally, hence by < k in every
    * partition, hence survives every partial trim.
    * KnnGraphBuildSpec pins every round's (src, nbr, cos) set
    * bit-exactly against the relational distinct+window reference. */
  private def tighten(vecs: DataFrame, e: DataFrame, k: Int): DataFrame = {
    val spark = vecs.sparkSession
    import spark.implicits._
    val agg = new TopKPerGroup.TopK(k)
    scoreEdges(vecs, candidatePairsDup(e))
      .select($"src".as[Long],
        struct($"nbr", $"cos").as[(Long, Double)])
      .groupByKey(_._1)
      .mapValues(_._2)
      .agg(agg.toColumn.name("top"))
      .flatMap { case (src, top) =>
        top.iterator.map { case (nbr, cos) => (src, nbr, cos) } }
      .toDF("src", "nbr", "cos")
  }

  /** One round's candidate PAIR MULTISET — each node's 2-hop
    * neighborhood through the undirected closure ∪ its current edges,
    * WITH duplicates (one per shared witness). [[tighten]] dedups
    * inside its k-bounded aggregation buffers; [[scoredCandidates]]
    * distincts it for consumers that need the pool as a set. The
    * closure keeps ITS distinct: duplicate closure rows would multiply
    * the self-join's output quadratically, and it is an index-sized
    * (≤ 2kn-row, 16-byte-wide) frame — the cheapest place to dedup. */
  private def candidatePairsDup(e: DataFrame): DataFrame = {
    import e.sparkSession.implicits._
    val und = undirected(e)
    und.as("a")
      .join(und.as("b"), $"a.nbr" === $"b.src")
      .select($"a.src".as("src"), $"b.nbr".as("nbr"))
      .filter($"src" =!= $"nbr")
      .union(e.select($"src", $"nbr"))
  }

  /** The scored candidate frame of one NN-Descent round — each node's
    * 2-hop neighborhood through the undirected closure ∪ its current
    * edges, exact-cosine scored (k² candidates per node), as a SET.
    * [[robustPrune]] consumes it whole as the diversification pool
    * (sq26 — the DuckDB oracle replays the prune over exactly this
    * distinct pool); [[tighten]] runs the same pairs through its
    * dedup-aggregating keep instead. */
  private[graft] def scoredCandidates(vecs: DataFrame, e: DataFrame): DataFrame =
    scoreEdges(vecs, candidatePairsDup(e).distinct())

  /** SEARCH-BASED prune candidates — DiskANN/Vamana's actual candidate
    * generation (Subramanya et al. 2019 §4, `GreedySearch`'s visited
    * set): each node's diversification pool is the VISITED SET of a
    * beam search for its OWN vector over the current graph, union its
    * current edges, exact-cosine scored. The r14 converged-arm probe
    * measured why this matters: a kNN 2-hop pool TIGHTENS as NN-Descent
    * converges, and an α-prune over it starves the long edges
    * cold-entry beams navigate on (composed-store recall fell 0.125 →
    * 0.070 as build depth rose 6 → 12). The visited set instead
    * contains the APPROACH PATH — every hop the search itself took to
    * reach the node — so the pruned graph keeps exactly the edges
    * serving uses, at any build depth.
    *
    * Batch shape: every node is a query over the in-memory undirected
    * graph — [[beamTrace]]'s skeleton, one (n·k)-row frontier expansion
    * + one exact-scored top-k keep per round, the same cost shape as a
    * NN-Descent tighten round. The per-node pool is ≤ 1 + rounds·k
    * rows — the L bound [[robustPrune]] requires, by construction.
    * Deterministic (ring entries, (cos DESC, nbr) keeps), so the
    * downstream durable prune's fingerprint guard works unchanged.
    *
    * `entries` overrides the per-node warm start: the [[ringEntries]]
    * default SYNTHESIZES node (qid·37+1) mod n and so assumes DENSE ids
    * 0..n-1 — on a post-erase/post-insert store (holes in the id space,
    * inserted ids far above n) a synthesized phantom's beam collapses
    * to just the node's current edges with no error. [[repruneStored]],
    * which is documented as exactly that maintenance rung, passes
    * [[slotEntries]] (real, erase-aware store members) instead. */
  def searchCandidates(vecs: DataFrame, graph: DataFrame, k: Int,
      beamRounds: Int, entries: Option[DataFrame] = None,
      querySlices: Int = 0, corpusCount: Long = -1L,
      subset: Option[DataFrame] = None,
      graphIsSymmetric: Boolean = false): DataFrame = {
    import vecs.sparkSession.implicits._
    // `subset` (a qid frame) restricts candidate generation to those
    // nodes — the incremental-reprune scope ([[repruneStoredIncremental]]):
    // walks run only for subset queries, and the current-edge union
    // keeps only subset-sourced edges, so the returned candidate frame
    // (hence the downstream prune) is subset-sized. The walks still
    // navigate the FULL graph — scope bounds whose neighborhoods are
    // regenerated, never where their searches may travel.
    val queries = subset match {
      case Some(s) => vecs.select($"vec_id".as("qid"), $"v")
        .join(s.select($"qid"), Seq("qid"), "left_semi")
        .localCheckpoint(true)
      case None => vecs.select($"vec_id".as("qid"), $"v")
    }
    // `graphIsSymmetric` skips the undirected-closure shuffle when the
    // caller's graph ALREADY holds both directions — the clustered
    // store's writer contract ([[writeStoreClustered]] unions, the
    // ingest writes both edge directions, the incremental publish
    // splices symmetrized rows), so the maintenance rungs were paying
    // an index-sized union+distinct to re-derive what they read (r16
    // verdict #3). Replayed streamed appends may leave duplicate
    // physical rows; that is safe here — expandEdges distincts each
    // frontier and the final candidate union distincts edges — dups
    // cost join width, never answers.
    val und = (if (graphIsSymmetric) graph.select($"src", $"nbr")
      else undirected(graph)).localCheckpoint(true)
    def keep(fresh: DataFrame): DataFrame = fresh
      .join(queries.select($"qid", $"v".as("qv")), Seq("qid"))
      .join(vecs.select($"vec_id".as("node"), $"v".as("cv")), Seq("node"))
      .withColumn("rn", row_number().over(
        Window.partitionBy($"qid").orderBy(cosine($"qv", $"cv").desc, $"node")))
      .filter($"rn" <= k).select($"qid", $"node")
    // BOUNDED WORKING SETS (r15): with every corpus node a query, one
    // beam round attaches two d-dim vectors to |Q|·k·degree expansion
    // rows — ~20M rows / tens of GB of shuffle-sort at 200k queries,
    // measured filling the probe box's disk in one stage. Per-query
    // beams are INDEPENDENT, so slicing the query set is EXACT (the
    // union of sliced pools ≡ the unsliced pool — SearchCandidatesSpec
    // pins it); each slice's peak state shrinks by the slice count at
    // the cost of serialized waves. Default derives ~50k queries per
    // slice (from `corpusCount` when the caller already knows n — a
    // multi-depth policy run would otherwise pay one count() job per
    // evaluated depth); pass querySlices=1 to force the single-wave
    // shape.
    val nSlices = if (querySlices > 0) querySlices
      else {
        val nq = if (corpusCount >= 0) corpusCount else queries.count()
        math.max(1L, math.ceil(nq / 50000.0).toLong).toInt
      }
    val poolOf: DataFrame => DataFrame = qs =>
      beamTrace(entries.map(_.join(qs.select($"qid"), Seq("qid"), "left_semi"))
          .getOrElse(ringEntries(vecs, qs)),
        expandEdges(und), keep, beamRounds).last._2
    val pool = if (nSlices <= 1) poolOf(queries)
      else {
        // materialize the merged pool ONCE, then free the per-slice
        // checkpoint blocks immediately: the merged frame is (qid,
        // node) pairs — vectors long detached, ~n·(1+rounds·k) rows —
        // while each slice pool held the same rows in its own blocks;
        // keeping both until the 2-minute periodic GC fired re-created
        // a slice-count's worth of the disk pressure slicing exists to
        // remove (r15 advice).
        val slices = (0 until nSlices).map { s =>
          poolOf(queries.filter(pmod($"qid", lit(nSlices.toLong)) === s))
            .localCheckpoint(true)
        }
        val merged = slices.reduce(_ union _).localCheckpoint(true)
        slices.foreach(_.unpersist(blocking = false))
        // the undirected closure's blocks are likewise dead once every
        // slice's walk has run (the single-wave path returns a LAZY
        // pool, so only the sliced path may free it here)
        und.unpersist(blocking = false)
        merged
      }
    val currentEdges = subset match {
      case Some(s) => graph.select($"src", $"nbr")
        .join(s.select($"qid".as("src")), Seq("src"), "left_semi")
      case None => graph.select($"src", $"nbr")
    }
    scoreEdges(vecs,
      pool.filter($"qid" =!= $"node").select($"qid".as("src"), $"node".as("nbr"))
        .union(currentEdges)
        .distinct())
  }

  /** RE-PRUNE — the α-pruned SERVING store's maintenance rung (the
    * r14 probe arms' prescription): read the current stored adjacency
    * and vector store, regenerate SEARCH-BASED candidates over exactly
    * that graph ([[searchCandidates]] — the pool that carries approach
    * paths), α-prune at the degree budget, and publish the result as a
    * NEW clustered store version at `outPath` (same centroids as the
    * source store, fresh `_graft_entries`) — never an in-place rewrite
    * of a serving store; register + promote through
    * [[graft.ml.IndexLifecycle]] like any rebuild. Counterpart of
    * [[refineDurable]], which is the EXACT graph's rung: refining a
    * pruned store tightens it back toward the kNN fixpoint and throws
    * the navigation edges away (measured: served recall 0.125 → 0.063
    * on the x100 search-pruned store), while a re-prune regenerates
    * them from the searches serving actually runs. Erased nodes cannot
    * resurface: candidates score via an inner join against the vector
    * store, so a victim with no vector row appears in no pool and no
    * v2 edge (RepruneSpec). `pruneWorkDir` gives the prune
    * [[robustPrune]]'s durable `_SUCCESS` resume.
    *
    * 100 TB: candidate generation is beam-rounds × (k·n-row expansion
    * + score) — tighten-round shaped; the prune is r passes over the
    * L·n candidate list; the writes are index-sized. All build-side
    * costs; serving stays on the old pin until the promote. */
  def repruneStored(spark: SparkSession, graphPath: String,
      vecPath: String, outPath: String, degree: Int, alpha: Double,
      k: Int, beamRounds: Int,
      pruneWorkDir: Option[String] = None): Unit = {
    import spark.implicits._
    // distinct: streamed appends may hold replayed duplicate rows
    // ([[fetch]]'s contract, applied at the maintenance pass too)
    val vecs = openStore(spark, vecPath).rel
      .select($"vec_id", $"v").distinct().localCheckpoint(true)
    val graph = openStore(spark, graphPath).rel.select($"src", $"nbr")
    val cents = centroidsOf(spark, graphPath)
    // entries from the vector store's sidecar, NOT ringEntries: this is
    // the POST-erase/POST-insert rung by definition, so the id space has
    // holes and inserted ids sit far above n — a synthesized ring entry
    // can be a phantom whose search pool silently collapses to the
    // node's current edges. Sidecar members are real and erase-aware.
    val pruned = robustPrune(vecs,
        searchCandidates(vecs, graph, k, beamRounds,
          entries = Some(slotEntries(spark, vecPath,
            vecs.select($"vec_id".as("qid")))),
          graphIsSymmetric = true),
        degree, alpha, pruneWorkDir)
      .select($"src", $"nbr")
    writeStoreClustered(pruned, vecs, outPath, cents)
    writeEntries(vecs, outPath)
  }

  /** INCREMENTAL (cell-scoped) RE-PRUNE — FreshDiskANN's
    * delta-consolidate (Singh et al. 2021 §4.2, StreamingMerge) as the
    * maintenance rung whose cost scales with CHURN, not index size
    * (r15 verdict #2: a full [[repruneStored]] re-candidates all n
    * nodes for a 4-insert/4-erase cycle — 206–775 s at 200k). The
    * re-prune scope is
    *
    *   S = members of churn-touched cells (arrival cells read from the
    *       STORE's `bucket` partition column — the assignment already
    *       exists as the layout, so no corpus-wide `Pq.nearestCol`
    *       recompute (r16 verdict #3); erased victims' cells via
    *       `extraCells` — a victim has no rows left to read)
    *     ∪ the 1-hop graph fringe of the churned ids still in the
    *       store (the nodes whose neighborhoods the insert back-edges
    *       perturbed),
    *
    * candidates are regenerated by searches FOR S's vectors over the
    * FULL current graph ([[searchCandidates]] `subset` — scope bounds
    * whose lists are rebuilt, never where searches travel), α-pruned at
    * the serving budget, and SPLICED AT THE PARTITION LEVEL: every
    * stored edge incident to S is dropped and S's fresh pruned edges
    * (symmetrized) replace them, but only the cluster-bucket partitions
    * that actually gain or lose a row are REWRITTEN — every other
    * partition's files are HARD-LINKED into the new version (copy-on-
    * write publish; the linked data stays alive however v1 is later
    * rewritten, since links hold the inode). Graph neighborhoods are
    * spatially coherent, so churn touches a few cells and the publish
    * write is churn-sized, not index-sized. The entries sidecar splices
    * the same way: cells outside the repair scope keep their v1 rows,
    * repaired cells re-pick members at the store's density. Returns |S|.
    *
    * 100 TB: candidate walks are |S|-bounded, the prune is r passes
    * over an |S|·L candidate list, the publish rewrites only touched
    * partitions (link = a metadata operation; on an object store the
    * same move is a manifest splice, Iceberg-style), and the only
    * corpus-sized touches left are EDGE-COLUMN SCANS (the fringe
    * semi-joins and the walk's expansion) — every assignment is read
    * from the store's `bucket` column, churn arrives as a frame (so a
    * production-sized churn batch is a join, never a driver-side
    * literal list — r16 verdict #4), and cycle cost follows
    * accumulated churn, with the full [[repruneStored]] as the
    * occasional deep-consolidate. */
  def repruneStoredIncremental(spark: SparkSession, graphPath: String,
      vecPath: String, outPath: String, degree: Int, alpha: Double,
      k: Int, beamRounds: Int, churn: DataFrame,
      extraCells: Seq[Int] = Nil,
      pruneWorkDir: Option[String] = None): Long = {
    import spark.implicits._
    val vecs = openStore(spark, vecPath).rel
      .select($"vec_id", $"v").distinct().localCheckpoint(true)
    val stored = openStore(spark, graphPath).rel
      .select($"src", $"nbr", $"nbr_bucket", $"bucket")
    val cents = centroidsOf(spark, graphPath)
    val churnB = churn.select($"vec_id").distinct().localCheckpoint(true)
    val nChurn = churnB.count()
    // cells touched by churn, READ FROM THE STORE's bucket partition
    // column (the writer routed every node's own edges there by
    // centroid — recomputing Pq.nearestCol over the full vector store was
    // the r16 verdict-#3 corpus-shaped stage). Erased victims' cells
    // arrive via extraCells (recorded by the maintainer at erase time,
    // when the rows still existed); a churned id with a vector but no
    // adjacency rows (outside the entry-published-ingest contract)
    // falls back to centroid routing rather than silently dropping its
    // cell — churn-bounded, normally empty.
    val wiredCells = if (nChurn > 0)
        stored.join(churnB.select($"vec_id".as("src")), Seq("src"), "left_semi")
          .select($"bucket").distinct().as[Int].collect().toSeq
      else Nil
    // churn-bounded frame, normally empty: an unwired node is not a
    // src anywhere, so cellMembers (distinct stored srcs) would miss
    // it — its IDS must join the repair scope directly (the scoped
    // searches are what wire it in), not just its cells (r17 review)
    val unwired = (if (nChurn > 0)
        vecs.join(churnB, Seq("vec_id"), "left_semi")
          .join(stored.select($"src".as("vec_id")), Seq("vec_id"), "left_anti")
          .select($"vec_id", Pq.nearestCol($"v", cents).as("c"))
      else spark.emptyDataset[(Long, Int)].toDF("vec_id", "c"))
      .localCheckpoint(true)
    val unwiredCells = unwired.select($"c").distinct().as[Int].collect().toSeq
    val churnCells = (wiredCells ++ unwiredCells ++ extraCells).distinct
    // cell membership is the store's own layout: distinct sources of a
    // cell's partition ARE its members (every node's own edge rows live
    // in its cell — writer contract), and the isin on the partition
    // column prunes the scan to exactly the churn cells
    val cellMembers =
      (if (churnCells.nonEmpty)
        stored.filter($"bucket".isin(churnCells: _*))
          .select($"src".as("vec_id")).distinct()
      else spark.emptyDataset[Long].toDF("vec_id"))
        .union(unwired.select($"vec_id")).distinct()
    val fringe =
      if (nChurn > 0)
        stored.join(churnB.select($"vec_id".as("nbr")), Seq("nbr"), "left_semi")
          .select($"src".as("vec_id"))
          .union(stored
            .join(churnB.select($"vec_id".as("src")), Seq("src"), "left_semi")
            .select($"nbr".as("vec_id")))
      else spark.emptyDataset[Long].toDF("vec_id")
    val scope = cellMembers.union(fringe).distinct()
      // fringe ids may reference rows erased since the edges were wired
      .join(vecs.select($"vec_id"), Seq("vec_id"), "left_semi")
      .select($"vec_id".as("qid")).localCheckpoint(true)
    val nScope = scope.count()
    val hfs = new org.apache.hadoop.fs.Path(outPath).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    if (nScope == 0) {
      // nothing to repair: v2 links every partition of v1 verbatim
      linkStorePartitions(spark, graphPath, outPath, Set.empty)
      writeBucketMeta(outPath, cents.length, stored)
      copySidecar(hfs, graphPath, outPath, "_graft_centroids")
      copySidecar(hfs, graphPath, outPath, "_graft_entries")
      return 0L
    }
    val prunedScope = robustPrune(vecs,
        searchCandidates(vecs, stored.select($"src", $"nbr"), k, beamRounds,
          entries = Some(slotEntries(spark, vecPath, scope)),
          corpusCount = nScope, subset = Some(scope),
          // the stored adjacency is symmetric by writer contract — no
          // index-sized union+distinct to re-derive the closure
          graphIsSymmetric = true),
        degree, alpha, pruneWorkDir)
      .select($"src", $"nbr")
    // S's fresh edges, symmetrized and bucket-routed like the writer's
    val sym = prunedScope
      .union(prunedScope.select($"nbr".as("src"), $"src".as("nbr")))
      .distinct()
    // bucket routing for sym's endpoints, scope-bounded and read from
    // the store (semi-join first, THEN distinct — the assignment frame
    // never exceeds the repair scope ∪ its chosen neighbors); the
    // centroid fallback covers endpoints with no stored rows
    val needed = sym.select($"src".as("vec_id"))
      .union(sym.select($"nbr".as("vec_id"))).distinct()
      .localCheckpoint(true)
    val assignStored = stored.select($"src".as("vec_id"), $"bucket".as("c"))
      .join(needed, Seq("vec_id"), "left_semi").distinct()
    val assignMissing = vecs.join(needed, Seq("vec_id"), "left_semi")
      .join(assignStored.select($"vec_id"), Seq("vec_id"), "left_anti")
      .select($"vec_id", Pq.nearestCol($"v", cents).as("c"))
    val assign = assignStored.union(assignMissing).localCheckpoint(true)
    val newRows = sym
      .join(assign.select($"vec_id".as("nbr"), $"c".as("nbr_bucket")), Seq("nbr"))
      .join(assign.select($"vec_id".as("src"), $"c".as("bucket")), Seq("src"))
      .select($"src", $"nbr", $"nbr_bucket", $"bucket")
      .localCheckpoint(true)
    // partitions that change: hold an S-incident row (to drop) or gain
    // a fresh row — everything else hard-links (driver-bounded lists)
    val sIncident = stored
      .join(scope.select($"qid".as("src")), Seq("src"), "left_semi")
      .select($"bucket")
      .union(stored
        .join(scope.select($"qid".as("nbr")), Seq("nbr"), "left_semi")
        .select($"bucket"))
    val touched = sIncident.union(newRows.select($"bucket"))
      .distinct().as[Int].collect().toSet
    linkStorePartitions(spark, graphPath, outPath, touched)
    val keepRows = stored
      .filter($"bucket".isin(touched.toSeq: _*))
      .join(scope.select($"qid".as("src")), Seq("src"), "left_anti")
      .join(scope.select($"qid".as("nbr")), Seq("nbr"), "left_anti")
      .select($"src", $"nbr", $"nbr_bucket", $"bucket")
    // append: the untouched partitions are already linked in, and the
    // touched partition dirs do not exist yet in the new version
    keepRows.union(newRows)
      .write.mode("append").partitionBy("bucket").parquet(outPath)
    writeBucketMeta(outPath, cents.length, stored)
    copySidecar(hfs, graphPath, outPath, "_graft_centroids")
    // entries splice at the same granularity: cells outside the repair
    // scope keep their v1 rows (erase already dropped victim rows;
    // ingest already appended arrivals), repaired cells re-pick their
    // members at the store's density
    val v1e = spark.read.parquet(s"$graphPath/_graft_entries")
    val keepE = v1e.filter(!$"cid".isin(churnCells: _*))
    val per = resolvePerCell(vecs, cents.length, AutoSlots)
    val newE = entryMembers(
        vecs.join(cellMembers, Seq("vec_id"), "left_semi"), cents, per)
      .select($"cid", $"node", $"cid".as("node_bucket"))
    replaceEntriesSidecar(spark, outPath, keepE.unionByName(newE))
    nScope
  }

  /** Seq sugar over the frame-shaped rung — for probe-sized churn
    * lists. A PRODUCTION consolidate's churn batch (millions of ids
    * from a stream's replay log) must use the DataFrame overload: a
    * driver-side literal list does not survive that scale (r16
    * verdict #4). */
  def repruneStoredIncremental(spark: SparkSession, graphPath: String,
      vecPath: String, outPath: String, degree: Int, alpha: Double,
      k: Int, beamRounds: Int, churnedIds: Seq[Long],
      extraCells: Seq[Int], pruneWorkDir: Option[String]): Long = {
    import spark.implicits._
    repruneStoredIncremental(spark, graphPath, vecPath, outPath, degree,
      alpha, k, beamRounds, churnedIds.toDF("vec_id"), extraCells,
      pruneWorkDir)
  }

  /** Hard-link every `bucket=N` partition of `srcDir` into `dstDir`
    * except the `skip` set — the copy-on-write leg of the incremental
    * publish (local-filesystem realization; an object-store deployment
    * does the same splice in a table-format manifest). Falls back to a
    * byte copy when the filesystem refuses links (cross-device). */
  private def linkStorePartitions(spark: SparkSession, srcDir: String,
      dstDir: String, skip: Set[Int]): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val srcP = new org.apache.hadoop.fs.Path(srcDir)
    val dstP = new org.apache.hadoop.fs.Path(dstDir)
    val fs = srcP.getFileSystem(conf)
    def kept(name: String): Boolean = name.startsWith("bucket=") &&
      !skip.contains(name.stripPrefix("bucket=").toInt)
    // scheme detection through Hadoop Path/FileSystem, not raw
    // java.net.URI (r16 advice: URI(path) throws on spaces, and a
    // non-file scheme's scheme-specific part is NOT a local path) —
    // only a genuinely local store takes the java.nio hard-link fast
    // path; everything else byte-copies per partition via FileUtil
    // (an object-store deployment splices in a table-format manifest
    // instead — see the method scaladoc)
    if (fs.getScheme == "file") {
      val src = java.nio.file.Paths.get(fs.makeQualified(srcP).toUri)
      val dst = java.nio.file.Paths.get(fs.makeQualified(dstP).toUri)
      java.nio.file.Files.createDirectories(dst)
      def listClosed(p: java.nio.file.Path): Seq[java.nio.file.Path] = {
        val s = java.nio.file.Files.list(p)
        try { import scala.jdk.CollectionConverters._
          s.iterator().asScala.toList }
        finally s.close()
      }
      for (part <- listClosed(src)
           if kept(part.getFileName.toString)) {
        val dp = dst.resolve(part.getFileName.toString)
        java.nio.file.Files.createDirectories(dp)
        for (f <- listClosed(part)
             if java.nio.file.Files.isRegularFile(f)) {
          val target = dp.resolve(f.getFileName)
          try java.nio.file.Files.createLink(target, f)
          catch { case _: UnsupportedOperationException |
                       _: java.nio.file.FileSystemException =>
            java.nio.file.Files.copy(f, target): Unit }
        }
      }
    } else {
      fs.mkdirs(dstP): Unit
      for (st <- fs.listStatus(srcP)
           if st.isDirectory && kept(st.getPath.getName))
        org.apache.hadoop.fs.FileUtil.copy(fs, st.getPath, fs,
          new org.apache.hadoop.fs.Path(dstP, st.getPath.getName),
          false, conf): Unit
    }
  }

  /** Copy a small underscore sidecar dir (or file) between store
    * versions — metadata-sized, never the index. */
  private def copySidecar(hfs: org.apache.hadoop.fs.FileSystem,
      srcDir: String, dstDir: String, name: String): Unit = {
    val s = new org.apache.hadoop.fs.Path(srcDir, name)
    val d = new org.apache.hadoop.fs.Path(dstDir, name)
    if (hfs.exists(s))
      org.apache.hadoop.fs.FileUtil.copy(hfs, s, hfs, d, false,
        hfs.getConf): Unit
  }

  /** REFINE — NN-Descent tightening rounds seeded from an EXISTING
    * graph (typically the stored adjacency after a run of streamed
    * [[graft.streaming.StreamingGraphIngest]] inserts): the middle
    * rung of the maintenance ladder. Inserts are cheap but greedy
    * (neighborhoods go stale, sq23's measured drift); a full
    * [[buildDurable]] rebuild re-derives everything from the ring
    * init; refine reuses the graph already built — its 2-hop
    * neighborhoods are exactly NN-Descent's candidate generator, so
    * one round re-tightens every stale list at one round's cost
    * (DiskANN's consolidate / FreshDiskANN's background merge play
    * the same role). Durable like the build: each round persists
    * under `workDir/r_<i>` with `_SUCCESS` resume and a fingerprint
    * guard over (k, n, seed-graph digest) — the digest makes resuming
    * a workDir against a DIFFERENT same-size seed a loud error rather
    * than a silent stale reload. Returns the final refined (src, nbr, cos)
    * frame — write it to a NEW store version and promote through the
    * lifecycle registry (never overwrite a pinned serving store in
    * place).
    *
    * Two properties make it safe to run any time (KnnGraphRefineSpec):
    * the exact k-NN graph is a FIXPOINT (candidates ⊇ current edges,
    * and nothing beats the true top-k), and per-node neighbor quality
    * never decreases (same argument, elementwise).
    *
    * SCOPE (measured, r14 converged/search probe arms): those
    * guarantees are about K-NN QUALITY — the right maintenance rung for
    * the exact-graph consumers (dedup, sq22-style serving, build
    * seeds). An α-PRUNED serving store is a different objective:
    * refining it tightens edges back toward the kNN fixpoint and
    * throws away the approach-path edges navigation needs (served
    * recall 0.125 → 0.063 on the x100 search-pruned store). Maintain a
    * pruned store by RE-PRUNING over fresh [[searchCandidates]]
    * instead.
    *
    * 100 TB: a round costs the k²-per-node candidate shuffle + one
    * index-sized parquet write — identical to a build round, but you
    * run ONE instead of the build's full ladder. */
  def refineDurable(vecs: DataFrame, graph: DataFrame, k: Int,
      rounds: Int, workDir: String): DataFrame = {
    val spark = vecs.sparkSession
    val hfs = new org.apache.hadoop.fs.Path(workDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val metaPath = new org.apache.hadoop.fs.Path(workDir, "_graft_refine")
    // unlike buildDurable (whose output is a pure function of (vecs, k)),
    // the SEED GRAPH is a varying input here — a workDir resumed with a
    // different same-size seed (an erased store, or the rebuilt graph of
    // the same corpus) would silently return the OLD seed's refined
    // rounds. The fingerprint therefore includes a content digest of the
    // seed's edge set (count + order-independent XOR of edge hashes).
    val fingerprint = s"k=$k,n=${vecs.count()},seed=${graphDigest(graph)}"
    if (hfs.exists(metaPath)) {
      val in = hfs.open(metaPath)
      val prev = try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
        finally in.close()
      require(prev == fingerprint,
        s"workDir $workDir holds a refine with parameters [$prev]; " +
          s"refusing to resume with [$fingerprint] — use a fresh workDir")
    } else {
      val out = hfs.create(metaPath, true)
      try out.write(fingerprint.getBytes("UTF-8")) finally out.close()
    }
    def roundDir(r: Int) = s"$workDir/r_$r"
    def done(r: Int) = hfs.exists(
      new org.apache.hadoop.fs.Path(roundDir(r), "_SUCCESS"))
    def persist(r: Int, df: => DataFrame): DataFrame = {
      if (!done(r)) df.write.mode("overwrite").parquet(roundDir(r))
      spark.read.parquet(roundDir(r))
    }
    var e = graph
    for (r <- 1 to rounds) e = persist(r, tighten(vecs, e, k))
    e
  }

  /** Order-independent content digest of an edge frame: row count plus
    * the XOR of per-edge hashes in TWO differently-keyed hash streams
    * (both order/partitioning-independent). Distinct (src, nbr) pairs
    * rule out pairwise cancellation, but one XOR stream can still
    * cancel coincidentally across four or more edges (h(a)⊕h(b) ==
    * h(c)⊕h(d)); the second stream is keyed from the RAW columns with
    * a distinct salt — not derived from the first stream's hash, so a
    * per-edge collision h(a)==h(b) in stream 1 does NOT imply one in
    * stream 2 — and a resume-guard failure needs both streams to
    * cancel on the same edge set simultaneously (heuristically ~2⁻¹²⁸
    * treating xxhash64 under distinct salts as independent; the
    * streams share the algorithm, so this is a modeling assumption,
    * not a proof). One index-sized aggregate. */
  private def graphDigest(graph: DataFrame): String =
    frameDigest(graph, col("src"), col("nbr"))

  /** Order/partitioning-independent digest of `df` over `cols` — count
    * plus two differently-salted XOR streams (see [[graphDigest]]'s
    * collision argument). Cost: one aggregate pass over the frame. */
  private def frameDigest(df: DataFrame, cols: org.apache.spark.sql.Column*): String = {
    val h = xxhash64(cols: _*)
    // stream 2 re-hashes the raw columns under a salt, NOT h itself —
    // a function of h would collide exactly when h does, collapsing
    // the two streams into one
    val h2 = xxhash64((lit(0x9e3779b9L) +: cols): _*)
    val row = df
      .agg(count(lit(1)), bit_xor(h), bit_xor(h2))
      .head()
    val x1 = if (row.isNullAt(1)) 0L else row.getLong(1)
    val x2 = if (row.isNullAt(2)) 0L else row.getLong(2)
    s"${row.getLong(0)}:$x1:$x2"
  }

  /** ROBUST PRUNE — Vamana's α-diversification (Subramanya et al.
    * 2019, DiskANN; the same rule HNSW's "select neighbors heuristic"
    * applies): from each node's scored candidate list `cand`
    * (src, nbr, cos), greedily keep the closest remaining candidate
    * and DISCARD every candidate c that the new pick c* already covers
    * — α·d(c*, c) ≤ d(src, c) with d = 1 − cos — until `r` neighbors
    * are kept or candidates run out. A plain top-r list spends the
    * whole degree budget on one tight cluster; the pruned list spends
    * it on DIRECTIONS (each kept neighbor is provably not α-reachable
    * through an earlier one), and α > 1 keeps useful LONG edges: a far
    * candidate has d(c*, c) ≈ d(src, c) against every near pick, so
    * α·d(c*, c) > d(src, c) and it survives to take a slot. That is
    * what a cold-entry beam needs to cross the corpus (sq26 measures
    * it against the plain graph at the same degree budget).
    *
    * Deterministic and ORACLE-REPLAYABLE. Per-src greedy sequences are
    * INDEPENDENT (the α-cover test only ever compares a src's own pick
    * against its own remaining candidates), so the r logical rounds of
    * [pick the (cos DESC, nbr) top-1 remaining per src] → [anti-prune
    * the remainder through the pick's α-cover test] execute as ONE
    * shuffle: group the vector-attached candidates by src and replay
    * the greedy locally per node with [[cosineLocal]] — the arithmetic
    * twin of the `cosine` native expression (GraphPruneSpec proves the
    * driver-side replay's edge set EQUALS the relational unrolling's,
    * bit for bit; sq26's DuckDB oracle replays the same rounds in SQL).
    * The r17 rewrite collapsed the former r-round distributed loop
    * (r windows + r α-cover joins + 2r+1 parquet round-trips on the
    * durable path) into that single grouped pass — same edges, one
    * shuffle, one write (guide §2.4: remove shuffles outright).
    * `cand` should be BOUNDED per node — Vamana's search-list
    * parameter L plays exactly this role (sq26 uses the top-24 scored
    * 2-hop candidates ∪ the ring init's spread edges ≈ L = 32); an
    * unbounded 2-hop pool at 100× corpus scale is a k²·n-row frame
    * with vectors attached, which is what the L bound exists to
    * prevent. The per-group state is L candidate rows — request-sized,
    * never corpus-sized. At 100 TB the cost is ONE pass over the
    * L·n-row candidate list — cheaper than one NN-Descent round. */
  def robustPrune(vecs: DataFrame, cand0: => DataFrame, r: Int,
      alpha: Double, workDir: Option[String] = None,
      knownFingerprint: Option[String] = None): DataFrame = {
    import vecs.sparkSession.implicits._
    require(r > 0, s"degree budget r must be positive, got $r")
    // by-name + lazy: a fully-resumed durable prune (all rounds
    // persisted, fingerprint supplied) never evaluates the candidate
    // frame at all; a cold run evaluates it exactly once
    lazy val cand = cand0
    // candidate vectors attach ONCE — the r prune rounds then join only
    // the picks frame, never the corpus (at 100× the per-round re-fetch
    // was the memory killer; the attached frame is |cand| rows and
    // shrinks every round)
    def attached = cand.select($"src", $"nbr", $"cos")
      .join(vecs.select($"vec_id".as("nbr"), $"v".as("cv")), Seq("nbr"))
      .select($"src", $"nbr", $"cos", $"cv")
    workDir match {
      case Some(wd) =>
        // BUILD-side durability: the prune's output becomes the stored
        // index, so like buildDurable/refineDurable each round persists
        // under the workDir with `_SUCCESS` resume — a lost executor
        // mid-prune costs one round's recompute after a job restart,
        // never the whole prune. Every stage is deterministic ((cos
        // DESC, nbr) picks, pure filters), so a resumed prune is
        // bit-identical to an uninterrupted one (GraphPruneSpec).
        val spark = vecs.sparkSession
        val hfs = new org.apache.hadoop.fs.Path(wd)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        // loud-resume guard, the refineDurable pattern: a workDir holds
        // ONE prune. The fingerprint must cover EVERYTHING the prune
        // depends on — not just the candidate edge ids: the same
        // (src, nbr) set over re-scored cosines, or over re-embedded
        // vectors (the α-cover test reads them), is a DIFFERENT prune,
        // and a pair-only digest would silently reload the stale one.
        val metaPath = new org.apache.hadoop.fs.Path(wd, "_graft_prune")
        // `knownFingerprint` skips the two digest aggregate passes on a
        // warm resume ([[pruneCached]]'s per-key cache); the guard below
        // still compares it against the workDir's recorded metadata
        val fingerprint = knownFingerprint.getOrElse(
          pruneFingerprint(vecs, cand, r, alpha))
        if (hfs.exists(metaPath)) {
          val in = hfs.open(metaPath)
          val prev = try scala.io.Source.fromInputStream(in, "UTF-8")
            .mkString.trim finally in.close()
          require(prev == fingerprint,
            s"workDir $wd holds a prune with parameters [$prev]; " +
              s"refusing to resume with [$fingerprint] — use a fresh workDir")
        } else {
          val out = hfs.create(metaPath, true)
          try out.write(fingerprint.getBytes("UTF-8")) finally out.close()
        }
        def done(name: String) = hfs.exists(
          new org.apache.hadoop.fs.Path(s"$wd/$name", "_SUCCESS"))
        // `k_$r` is the layout the former r-round loop left behind as
        // its cumulative final round — keeping the name means every
        // prune persisted by earlier builds (and every decision-replay
        // path that reloads through knownFingerprint) resumes unchanged,
        // and a partially-written legacy dir (some m_i/k_i rounds, no
        // complete k_r) simply recomputes the one-pass greedy, which is
        // bit-identical to finishing the rounds (GraphPruneSpec's
        // partial-resume case)
        if (!done(s"k_$r"))
          greedyPrune(attached, r, alpha)
            .write.mode("overwrite").parquet(s"$wd/k_$r")
        spark.read.parquet(s"$wd/k_$r")
      case None =>
        // ephemeral path (in-memory prunes over query-sized or
        // fixture-sized candidate frames): one grouped pass; checkpoint
        // the RESULT (k·n rows, vectors detached) so the caller's
        // candidate lineage — often a scored 2-hop frame — evaluates
        // exactly once however many times the pruned edges are consumed
        greedyPrune(attached, r, alpha).localCheckpoint(true)
    }
  }

  /** The one-pass grouped greedy both [[robustPrune]] paths run: shuffle
    * the vector-attached candidate rows once by src, then replay
    * Vamana's sequential pick-and-cover locally per node. Sort order
    * ([[SparkOrdering.bestFirst]]: cos DESC, then nbr ASC, NaN greatest,
    * -0.0 == 0.0, Spark's own double ordering) and the α-cover
    * arithmetic ([[cosineLocal]], the native expression's bit-exact
    * twin, compared with [[SparkOrdering.compare]] like Spark's `<=`) are
    * EXACTLY the relational rounds' — GraphPruneSpec pins edge-set
    * equality against the driver-side reference replay, including the
    * zero-vector (NaN cosine) and ±0.0-score cases. */
  private def greedyPrune(attached: DataFrame, r: Int,
      alpha: Double): DataFrame = {
    val spark = attached.sparkSession
    import spark.implicits._
    attached.select(col("src"), col("nbr"), col("cos"), col("cv"))
      .as[(Long, Long, Double, Seq[Double])]
      .groupByKey(_._1)
      .flatMapGroups { (src, it) =>
        val sorted = it.map { case (_, nbr, cos, cv) =>
          (nbr, cos, cv.toArray) }.toArray
          .sortBy { case (nbr, cos, _) => (nbr, cos) }(SparkOrdering.bestFirst)
        val kept = scala.collection.mutable.ArrayBuffer
          .empty[(Long, Double, Array[Double])]
        var i = 0
        while (i < sorted.length && kept.size < r) {
          val (nbr, cos, cv) = sorted(i)
          var covered = false
          var j = 0
          while (j < kept.size && !covered) {
            // the pick covers c when α·(1−cos(pick, c)) ≤ (1−cos(src, c))
            // under Spark's `<=` (SparkOrdering.compare): a NaN-scored candidate
            // (zero vector — RHS NaN, the greatest value) is covered by
            // the FIRST pick, exactly as the relational filter pruned it
            if (SparkOrdering.compare(
                alpha * (1.0 - cosineLocal(kept(j)._3, cv)), 1.0 - cos) <= 0)
              covered = true
            j += 1
          }
          if (!covered) kept += ((nbr, cos, cv))
          i += 1
        }
        kept.iterator.map { case (nbr, cos, _) => (src, nbr, cos) }
      }
      .toDF("src", "nbr", "cos")
  }

  /** The prune's loud-resume fingerprint — covers EVERYTHING the prune
    * depends on: r, α, the candidate edges WITH their scores (the same
    * pair set re-scored is a different prune), and the vectors (the
    * α-cover test reads them). Two full aggregate passes. */
  private def pruneFingerprint(vecs: DataFrame, cand: DataFrame, r: Int,
      alpha: Double): String =
    s"r=$r,alpha=$alpha," +
      s"cand=${frameDigest(cand, col("src"), col("nbr"), col("cos"))}," +
      s"vecs=${frameDigest(vecs, col("vec_id"), col("v"))}"

  /** The bucket count is a property OF THE STORE, not of the code: the
    * writer records it in `_graft_buckets` and every reader derives it
    * from there — a writer/reader modulus mismatch would silently
    * mis-prune (empty expansions, quiet recall loss), and at 100 TB
    * the count must scale with n (buckets ≈ n / rows-per-file keeps a
    * pruned read proportional to its candidate set), so it cannot be
    * a constant. Stores written before the marker read as the old
    * default.
    *
    * The marker's second line records the store's schema as a parquet
    * read infers it — the `written` frame's columns other than
    * `bucket`, all nullable, then the int `bucket` partition column —
    * so [[openStore]] pins a new version's relation without a
    * footer-inference job (an append or erase never changes the
    * schema). StampedCacheSpec checks it against inference for every
    * writer. The format change is one-way: this build reads a marker
    * with or without the schema line, but a build that parses the
    * marker as a single integer fails on one written here, so a store
    * version (a kept rollback version too) cannot be handed back to
    * such a build. */
  private def writeBucketMeta(path: String, n: Int,
      written: DataFrame): Unit = {
    import org.apache.spark.sql.types._
    def asRead(t: DataType): DataType = t match {
      case s: StructType => StructType(s.fields.map(f =>
        f.copy(dataType = asRead(f.dataType), nullable = true)))
      case a: ArrayType => ArrayType(asRead(a.elementType), containsNull = true)
      case m: MapType => MapType(asRead(m.keyType), asRead(m.valueType),
        valueContainsNull = true)
      case other => other
    }
    val schema = StructType(written.schema.fields.filterNot(_.name == "bucket")
      .map(f => f.copy(dataType = asRead(f.dataType), nullable = true)) :+
      StructField("bucket", IntegerType))
    val p = new org.apache.hadoop.fs.Path(path, "_graft_buckets")
    val f = p.getFileSystem(written.sparkSession.sparkContext.hadoopConfiguration)
    val out = f.create(p, true)
    try out.write(s"$n\n${schema.json}".getBytes("UTF-8")) finally out.close()
  }

  /** THE driver-side bucket function — Math.floorMod, the arithmetic
    * twin of the `pmod` every writer partitions by. Scala's `%` agrees
    * only for non-negative ids; a negative vec_id routed by `%` would
    * be written to a valid bucket (pmod) but silently unfindable at
    * read time (`%` names a bucket that doesn't exist). Readers and
    * writers must share ONE modulus definition; this is it. */
  private[graft] def bucketOf(id: Long, nb: Int): Int =
    Math.floorMod(id, nb.toLong).toInt

  /** A store RESOLVED once per request: its path, its recorded bucket
    * count ([[writeBucketMeta]]), the schema-pinned relation, and its
    * layout — CLUSTERED ([[writeStoreClustered]]: rows carry
    * `nbr_bucket`) or hash (`bucket = pmod(id, buckets)`). Every serving
    * walk, fetch, expansion and maintenance rung reads a store through
    * one of these; the stores are immutable within a request. The
    * relation is built on first use, so a caller that only needs the
    * bucket count (an append) never pays the schema inference.
    *
    * The driver-side reads ([[vectors]], [[neighbours]]) answer from
    * the version's RESIDENT buckets, held by its [[StoreMeta]] and
    * keyed by bucket number, and read the rest in one job. Residency is
    * valid for exactly the stamp [[openStore]] computes — the top-level
    * `name:len:mtime` listing, which covers every `bucket=b/`
    * directory, `_SUCCESS` and `_graft_buckets` — so a rewrite, erase
    * or append mints a new version with nothing resident, and nothing
    * is invalidated in place. The cache holds store DATA, not just a
    * schema: on a filesystem whose directory mtimes do not move when
    * their contents change (object stores), an in-place rewrite that
    * keeps every top-level name and length would be served stale — a
    * known limit of listing stamps, open in ROADMAP.md. */
  final class Store private[graft] (val path: String, spark: SparkSession,
      meta: StoreMeta) {
    val buckets: Int = meta.buckets
    lazy val rel: DataFrame = spark.read.schema(meta.schema).parquet(path)
    lazy val clustered: Boolean = meta.schema.fieldNames.contains("nbr_bucket")

    /** Marks one coordinated request on this version: false for the
      * version's first, which reads points only (a streamed insert
      * re-stamps the store every micro-batch and a probe serves a store
      * once, so neither pays for whole buckets it never reuses), true
      * from the second on, when missing buckets may be admitted. */
    private[graft] def admitting(): Boolean = meta.served.getAndSet(true)

    /** `vec_id` → `v` for the ids present in a [[writeVectors]] store;
      * an absent id has no entry. */
    private[graft] def vectors(ids: Set[Long],
        admit: Boolean): Map[Long, Array[Double]] =
      read(meta.vectors, "vec_id", "v", ids, admit)(
        _.map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap)

    /** `src` → its neighbour ids for the sources present in a hash
      * [[writeStore]] store. */
    private[graft] def neighbours(srcs: Set[Long],
        admit: Boolean): Map[Long, Array[Long]] =
      read(meta.adjacency, "src", "nbr", srcs, admit)(
        _.groupMap(_.getLong(0))(_.getLong(1)))

    /** How many of this version's buckets are resident. */
    private[graft] def residentBuckets: Int =
      meta.vectors.size + meta.adjacency.size

    /** The `key` rows for `ids`, in at most ONE job: resident buckets
      * answer locally; the missing ones are read by one filter —
      * whole for buckets [[StoreMeta.admit]] takes now, the pruned
      * `bucket IN … AND key IN …` point read for the rest (a version's
      * first request, or buckets over the budget). */
    private def read[V](held: java.util.concurrent.ConcurrentHashMap[Int, Map[Long, V]],
        key: String, value: String, ids: Set[Long], admit: Boolean)(
        decode: Array[org.apache.spark.sql.Row] => Map[Long, V]): Map[Long, V] = {
      // buckets are only ever added to `held`, so a hit stays a hit
      val (resident, missing) = ids.groupBy(bucketOf(_, buckets))
        .partition { case (b, _) => held.containsKey(b) }
      val out = Map.newBuilder[Long, V]
      resident.foreach { case (b, bIds) =>
        val m = held.get(b)
        bIds.foreach(id => m.get(id).foreach(v => out += id -> v))
      }
      if (missing.nonEmpty) {
        val whole = if (admit) meta.admit(missing.keys, bucketBytes) else Set.empty[Int]
        val points = missing.collect { case (b, bIds) if !whole(b) => bIds }.flatten.toSeq
        val bucket = col("bucket")
        val pruned = bucket.isin(missing.keys.toSeq: _*)
        val filter =
          if (whole.isEmpty) pruned && col(key).isin(points: _*)
          else if (points.isEmpty) bucket.isin(whole.toSeq: _*)
          else pruned && (bucket.isin(whole.toSeq: _*) || col(key).isin(points: _*))
        val got = try decode(rel.filter(filter).select(col(key), col(value)).collect())
          catch { case e: Throwable => meta.release(whole); throw e }
        if (whole.nonEmpty) {
          val byBucket = got.groupBy { case (id, _) => bucketOf(id, buckets) }
          whole.foreach(b => held.put(b, byBucket.getOrElse(b, Map.empty)))
        }
        out ++= got.filter { case (id, _) => ids.contains(id) }
      }
      out.result()
    }

    /** A bucket's on-disk bytes: the sum of its directory's file
      * lengths; a drained or never-written bucket is 0. */
    private def bucketBytes(b: Int): Long = {
      val dir = new org.apache.hadoop.fs.Path(path, s"bucket=$b")
      val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      try fs.listStatus(dir).iterator.map(_.getLen).sum
      catch { case _: java.io.FileNotFoundException => 0L }
    }
  }

  /** Driver-resident store bytes allowed per store version, in on-disk
    * bytes. A corpus that outgrows it keeps point-reading the buckets
    * that do not fit, at the cold path's cost. */
  private val ResidentBudget: Long = Runtime.getRuntime.maxMemory / 16

  /** One store VERSION's cached state: the bucket count read from the
    * marker, the parquet schema (recorded, or inferred at most once),
    * whether a coordinated request has served it yet, and the resident buckets —
    * vector rows or adjacency lists, whichever the store holds —
    * admitted while their on-disk bytes fit `budget`. A new stamp is a
    * new StoreMeta ([[storeMetaCache]] replaces the entry), so nothing
    * here is ever invalidated in place. */
  private[graft] final class StoreMeta(val buckets: Int,
      infer: () => org.apache.spark.sql.types.StructType,
      budget: Long = ResidentBudget) {
    lazy val schema: org.apache.spark.sql.types.StructType = infer()
    /** Set by the version's first coordinated request. */
    val served = new java.util.concurrent.atomic.AtomicBoolean
    val vectors = new java.util.concurrent.ConcurrentHashMap[Int, Map[Long, Array[Double]]]
    val adjacency = new java.util.concurrent.ConcurrentHashMap[Int, Map[Long, Array[Long]]]
    /** Every bucket considered for admission, with its on-disk bytes:
      * each is listed once per version, and one that did not fit never
      * fits later (the spent bytes only grow). */
    private val sized = scala.collection.mutable.Map.empty[Int, Long]
    private var spent = 0L

    /** The `candidates` to read whole now, charged to the budget. */
    def admit(candidates: Iterable[Int], bytes: Int => Long): Set[Int] = synchronized {
      candidates.filter { b =>
        !sized.contains(b) && {
          val n = bytes(b)
          sized(b) = n
          n <= budget - spent && { spent += n; true }
        }
      }.toSet
    }

    /** Undo [[admit]] for buckets whose read failed. */
    def release(bs: Set[Int]): Unit = synchronized {
      bs.foreach(b => sized.remove(b).foreach(spent -= _))
    }
  }

  /** JVM-wide store metadata, stamped by the store's top-level listing
    * ([[graft.util.StampedCache.listingStamp]] — a rewrite or append
    * mints or touches files and bucket dirs, and the listing covers the
    * `_graft_buckets` marker itself). An unpinned `spark.read.parquet`
    * runs a footer-inference JOB per read — ~80 of them in one sq28
    * pass, each a plan+job+gap round-trip for metadata the writer
    * already knows (r17 event logs; guide §1.5/§6) — and the marker was
    * one filesystem read per lookup; on a stamp hit neither happens. */
  private val storeMetaCache = new graft.util.StampedCache[StoreMeta]

  /** Resolve a store: ONE listing; the schema and bucket count come
    * from [[storeMetaCache]] on a stamp hit, and from the one marker
    * read ([[writeBucketMeta]]) on a miss. Stores written before the
    * marker read as [[NumBuckets]]; a marker without a recorded schema
    * leaves it to inference. */
  def openStore(spark: SparkSession, path: String): Store = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val listing = fs.listStatus(p).toSeq
    val meta = storeMetaCache(path, graft.util.StampedCache.listingStamp(listing)) {
      val marker = listing.find(_.getPath.getName == "_graft_buckets").map { m =>
        val in = fs.open(m.getPath)
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim.split("\n")
        finally in.close()
      }
      val recorded = marker.flatMap(_.lift(1)).map(json =>
        org.apache.spark.sql.types.DataType.fromJson(json)
          .asInstanceOf[org.apache.spark.sql.types.StructType])
      new StoreMeta(marker.fold(NumBuckets)(_.head.trim.toInt),
        () => recorded.getOrElse(spark.read.parquet(path).schema))
    }
    new Store(path, spark, meta)
  }

  /** Persist the UNDIRECTED adjacency of a built graph, partitioned by
    * src bucket — the layout that makes each beam step a pruned scan.
    * The default bucket count is BYTES-driven ([[autoBuckets]] over the
    * undirected edge frame — the measured policy); pass an explicit
    * count to pin a layout (probe arms, pruning-mechanics specs). */
  def writeStore(graph: DataFrame, path: String,
      numBuckets: Int = AutoBuckets): Unit = {
    import graph.sparkSession.implicits._
    val closure = undirected(graph)
    // auto-sizing reads the frame once for (n, width) and the write
    // reads it again — checkpoint the INDEX-sized (≤2·k·n rows)
    // closure so the caller's lineage and the union+distinct shuffle
    // run exactly once under the default policy (a pinned count skips
    // the sizing job, so there's nothing to share)
    val und =
      if (numBuckets > 0) closure else closure.localCheckpoint(true)
    val nb = resolveBuckets(und, numBuckets)
    und
      .withColumn("bucket", pmod($"src", lit(nb.toLong)).cast("int"))
      .write.mode("overwrite").partitionBy("bucket").parquet(path)
    writeBucketMeta(path, nb, und)
  }

  /** Erase victim NODES from the stored adjacency — the graph edition
    * of [[graft.sources.PartitionedLayout.delete]]. A victim appears in
    * TWO forms: its own adjacency rows (`src = victim`, all in the
    * victim's bucket) and DANGLING edges in its neighbors' lists
    * (`nbr = victim`, living in the neighbors' buckets) — deleting only
    * the former leaves beam search still expanding INTO the victim.
    * The rewrite is bucket-pruned to victim buckets ∪ the victims'
    * neighbor buckets (every dangling edge's `src` is by construction a
    * neighbor of the victim, so no other bucket can hold one), and the
    * victims' surviving neighbors are RE-LINKED pairwise — the standard
    * graph-index delete repair — so local connectivity, and with it
    * recall, survives the hole instead of fragmenting around it.
    *
    * The driver holds only the victims' neighbor ids (≤ |victims|·k·2,
    * bounded by the erasure request like the key lists in
    * PartitionedLayout.delete); untouched buckets keep byte-identical
    * files (StoredGraphSpec asserts it). Pass `vecPath` to also erase
    * the victims from the [[writeVectors]] store in the same call —
    * then even a stale pool entry or a poisoned entry list can never
    * ANSWER the victim, because serving scores via an inner join
    * against that store (and the corpus table's own row is wq06's
    * delete, unchanged). Pass `codesPath` to erase the victims' PQ
    * code rows from the [[writeCodes]] sidecar in the same call — a
    * surviving code row is still a (quantized) representation of the
    * victim, so erasure must reach it. */
  def eraseStored(spark: SparkSession, path: String,
      victims: Seq[Long], vecPath: Option[String] = None,
      codesPath: Option[String] = None): Unit = {
    import spark.implicits._
    require(victims.nonEmpty, "empty victim list")
    // the VECTOR store (and the codes sidecar) erase through a
    // bucket-pruned rewrite: the victims' buckets are ARITHMETIC
    // (vec_id % recorded count), so unlike the generic
    // PartitionedLayout.delete no table scan is needed to find them —
    // the read prunes to victim buckets only, keeping the erase
    // request-sized even though the stores are the corpus-sized
    // artifacts. Composing it here makes the victim unanswerable even
    // from a stale pool or a poisoned entry list, because serving
    // scores via an inner join against these stores.
    vecPath.foreach(eraseFromIdStore(spark, _, victims))
    codesPath.foreach(eraseFromIdStore(spark, _, victims))
    val victimSet = victims.toSet
    val store = openStore(spark, path)
    val nb = store.buckets
    val victimBuckets = victims.map(bucketOf(_, nb)).distinct
    // the victims' neighbor lists — one pruned scan of the victim
    // buckets; bounded by |victims|·k (the erasure working set)
    val nbrs = store.rel
      .filter($"bucket".isin(victimBuckets: _*))
      .filter($"src".isin(victims: _*))
      .groupBy($"src").agg(collect_set($"nbr").as("ns"))
      .as[(Long, Seq[Long])].collect().toMap
    val nbrIds = nbrs.values.flatten.toSet -- victimSet
    val touched = (victimBuckets ++ nbrIds.map(bucketOf(_, nb)))
      .toSeq.distinct.sorted
    // pairwise re-link among each victim's surviving neighbors, both
    // directions (the store is undirected)
    val repair = nbrs.values.toSeq.flatMap { ns =>
      val s = ns.filterNot(victimSet).distinct.sorted
      for (a <- s; b <- s if a < b) yield Seq((a, b), (b, a))
    }.flatten.distinct
    val repairDf = repair.toDF("src", "nbr")
      .withColumn("bucket", pmod($"src", lit(nb.toLong)).cast("int"))
    rewriteBuckets(spark, path, touched, store.rel
      .filter($"bucket".isin(touched: _*))
      .filter(!$"src".isin(victims: _*) && !$"nbr".isin(victims: _*))
      .select($"src", $"nbr", $"bucket")
      .unionByName(repairDf).distinct())
  }

  /** Rewrite the `touched` buckets of a bucket-partitioned store with
    * `slice` — staged, then a dynamic overwrite, so every other bucket
    * keeps byte-identical files. A touched bucket the slice leaves
    * empty (every row was a victim) drains: dynamic overwrite never
    * touches a partition it writes no rows for, so its directory is
    * removed explicitly (PartitionedLayout's drained-partition blind
    * spot). The one rewrite every erase path runs. */
  private def rewriteBuckets(spark: SparkSession, path: String,
      touched: Seq[Int], slice: => DataFrame): Unit = {
    import spark.implicits._
    import graft.sources.PartitionedLayout.{withDynamicOverwrite, withStaging}
    withDynamicOverwrite(spark) {
      withStaging(spark, path, slice) { staged =>
        staged.write.mode("overwrite").partitionBy("bucket").parquet(path)
        val present = staged.select($"bucket").distinct()
          .as[Int].collect().toSet
        val root = new org.apache.hadoop.fs.Path(path)
        val f = root.getFileSystem(spark.sessionState.newHadoopConf())
        touched.filterNot(present.contains).foreach(b =>
          f.delete(new org.apache.hadoop.fs.Path(root, s"bucket=$b"), true))
      }
    }
  }

  /** Bucket-pruned erase of victim rows from any `vec_id`-bucketed
    * store ([[writeVectors]], [[writeCodes]]): rewrite only the
    * victims' arithmetic buckets (all other buckets keep byte-identical
    * files), schema-agnostic — every non-bucket column of the store
    * survives untouched — and a bucket whose every row was a victim
    * has its directory removed explicitly (dynamic overwrite never
    * touches a partition it writes no rows for). */
  private def eraseFromIdStore(spark: SparkSession, path: String,
      victims: Seq[Long]): Unit = {
    import spark.implicits._
    val store = openStore(spark, path)
    val vBuckets = victims.map(bucketOf(_, store.buckets)).distinct
    rewriteBuckets(spark, path, vBuckets, store.rel
      .filter($"bucket".isin(vBuckets: _*))
      .filter(!$"vec_id".isin(victims: _*)))
    // a victim can linger as an ENTRY representative
    // ([[writeHashEntries]]) — a stale entry would warm-start every
    // insert search at the victim, so the sidecar drops those rows
    // (readers fail loudly if it drains; writeHashEntries refreshes it)
    dropEntryRows(spark, path, victims)
  }

  /** Drop victim rows from a store's `_graft_entries` sidecar, if one
    * exists — shared by both erase paths (a stale entry must never
    * re-seed a pool or warm-start a search at an erased node). The
    * sidecar is ≤cells/slots rows, so the rewrite is a driver-bounded
    * collect + one tiny staged file ([[replaceEntriesSidecar]]). */
  private[graft] def dropEntryRows(spark: SparkSession, path: String,
      victims: Seq[Long]): Unit = sidecarLock(path).synchronized {
    import spark.implicits._
    val entriesPath = new org.apache.hadoop.fs.Path(path, "_graft_entries")
    val hfs = entriesPath.getFileSystem(spark.sessionState.newHadoopConf())
    if (hfs.exists(entriesPath)) {
      val sidecar = spark.read.parquet(entriesPath.toString)
      val kept = sidecar.filter(!$"node".isin(victims: _*)).collect()
      replaceEntriesSidecar(spark, path,
        spark.createDataFrame(
          java.util.Arrays.asList(kept: _*), sidecar.schema))
    }
  }

  /** Append entry rows (cid, node, node_bucket) to a store's
    * `_graft_entries` sidecar through the SAME read-snapshot → staged
    * swap discipline every other sidecar mutation uses — never a bare
    * `mode("append")` into the live dir. A bare append races the
    * read-then-rename of a concurrent [[dropEntryRows]] (erase) or
    * [[writeEntries]] refresh: whichever reader snapshotted before the
    * append and renamed after it silently drops the appended rows (or
    * strands them under `_graft_entries__old`) — breaking
    * [[graft.streaming.StreamingGraphIngest]]'s findability-by-
    * construction invariant with no error. Routing the append through
    * the per-store [[sidecarLock]] + [[replaceEntriesSidecar]] makes
    * every in-process sidecar mutation atomic with respect to every
    * other (ComposedGraphStoreSpec races them). Cross-PROCESS writers
    * remain the store contract's single-writer responsibility — the
    * lifecycle registry's version pin is the cross-process mechanism
    * (a maintainer publishes a NEW version; it never mutates a store
    * another process is mutating). */
  private[graft] def appendEntryRows(spark: SparkSession, path: String,
      rows: DataFrame): Unit = sidecarLock(path).synchronized {
    val entriesPath = new org.apache.hadoop.fs.Path(path, "_graft_entries")
    val hfs = entriesPath.getFileSystem(spark.sessionState.newHadoopConf())
    val merged =
      if (hfs.exists(entriesPath))
        spark.read.parquet(entriesPath.toString).unionByName(rows)
      else rows
    // snapshot to the driver BEFORE the swap: the union's sidecar leg
    // reads the dir replaceEntriesSidecar is about to rename — a lazy
    // frame would evaluate mid-swap and read a half-staged path
    val local = merged.collect()
    replaceEntriesSidecar(spark, path,
      spark.createDataFrame(
        java.util.Arrays.asList(local: _*), merged.schema))
  }

  /** Per-store monitor serializing every in-process `_graft_entries`
    * mutation (replace, drop, append): the sidecar swap is
    * read-snapshot → staged write → rename, and two interleaved
    * mutators can silently lose one side's rows (see
    * [[appendEntryRows]]). Keyed by the store path string — one JVM,
    * one store, one mutation at a time. */
  private val sidecarLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private def sidecarLock(storePath: String): Object =
    sidecarLocks.computeIfAbsent(storePath, _ => new Object)

  /** Durably replace a store's `_graft_entries` sidecar: the new
    * content lands WHOLLY under an underscore-prefixed staging dir
    * (invisible to the store's own scans) before the old sidecar is
    * touched, and the swap is two filesystem renames. A plain
    * `mode("overwrite")` on the final path deletes first and commits
    * at job end — a crash inside that window leaves the sidecar
    * MISSING, which readers cannot distinguish from a never-written
    * store ([[hashEntries]]'s "rerun writeHashEntries" message would
    * then conflate a crashed erase with a fresh build). Staging shrinks
    * the vulnerable window from a whole Spark write job to one
    * metadata rename, and a crash there leaves the previous sidecar
    * recoverable under `_graft_entries__old`. Serialized per store via
    * [[sidecarLock]] (reentrant for callers already holding it). */
  private def replaceEntriesSidecar(spark: SparkSession, storePath: String,
      rows: DataFrame): Unit = sidecarLock(storePath).synchronized {
    val fin = new org.apache.hadoop.fs.Path(storePath, "_graft_entries")
    val tmp = new org.apache.hadoop.fs.Path(storePath, "_graft_entries__staging")
    val old = new org.apache.hadoop.fs.Path(storePath, "_graft_entries__old")
    val fs = fin.getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(tmp, true); fs.delete(old, true)
    rows.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    if (fs.exists(fin))
      require(fs.rename(fin, old), s"could not stage old sidecar $fin")
    require(fs.rename(tmp, fin), s"could not commit sidecar $fin")
    fs.delete(old, true)
  }

  /** LOCALITY-bucketed adjacency store: partition by the SOURCE
    * VECTOR's nearest coarse centroid (IVF's routing, applied to
    * storage layout) instead of `src % N`, and carry each edge's
    * NEIGHBOR bucket as a column. Graph neighborhoods are spatially
    * coherent, and a query's beam stays inside a few cells — so a beam
    * round reads the frontier's FEW distinct cluster buckets instead
    * of `min(|frontier|, N)` hash buckets (with ring/hash layout a
    * 128-node frontier touches essentially every bucket). The
    * `nbr_bucket` column closes the lookup problem a non-arithmetic
    * bucket function creates: the expansion that DISCOVERS a node also
    * tells the next round where that node's adjacency lives, so no
    * node→bucket dictionary and no extra round trip — only the ENTRY
    * nodes need their bucket computed, and entries always come with
    * their vectors (centroid assign is one broadcast argmin,
    * [[Pq.nearestCol]]). Centroids persist in a `_graft_centroids` sidecar
    * next to the bucket-count marker; answers are provably identical
    * to the hash store's ([[StoredGraphSpec]]) — the layout changes
    * WHERE edges live, never which edges exist.
    *
    * 100 TB: bucket count scales like IVF's nlist (≈ √n cells keeps
    * cells row-group-sized); a beam round's scan is proportional to
    * the query batch's CLUSTER footprint, not to the bucket count. */
  def writeStoreClustered(graph: DataFrame, vecs: DataFrame, path: String,
      centroids: Seq[Seq[Double]]): Unit = {
    import graph.sparkSession.implicits._
    val assign = vecs.select($"vec_id",
      Pq.nearestCol($"v", centroids).as("cb"))
    val rows = undirected(graph)
      .join(assign.select($"vec_id".as("nbr"), $"cb".as("nbr_bucket")), Seq("nbr"))
      .join(assign.select($"vec_id".as("src"), $"cb".as("bucket")), Seq("src"))
      .select($"src", $"nbr", $"nbr_bucket", $"bucket")
    rows.write.mode("overwrite").partitionBy("bucket").parquet(path)
    writeBucketMeta(path, centroids.length, rows)
    // underscore-prefixed dirs are invisible to the store's own scans
    centroids.zipWithIndex.map { case (c, i) => (i, c) }
      .toDF("cid", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/_graft_centroids")
  }

  /** JVM-wide centroid sidecar cache ([[graft.util.StampedCache]]'s
    * rule, stamped by the sidecar's listing — every write mints fresh
    * UUID-named parts, so a same-path rewrite can never serve stale
    * centroids): a serving process holds its index metadata in memory
    * rather than re-running a collect job per request batch (r17: one
    * sq28 pass makes ~10 centroidsOf calls against the same store; each
    * was a full plan+job round-trip for an 8 KB read). Values are
    * cells×dim doubles — KBs, one live entry per store path. */
  private val centroidsCache = new graft.util.StampedCache[Seq[Seq[Double]]]

  /** The centroids a [[writeStoreClustered]] store was routed by. */
  def centroidsOf(spark: SparkSession, path: String): Seq[Seq[Double]] = {
    import spark.implicits._
    val dir = new org.apache.hadoop.fs.Path(s"$path/_graft_centroids")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // missing sidecar must stay a loud error, same as the uncached read
    centroidsCache(dir.toString, graft.util.StampedCache.listingStamp(fs, dir))(
      spark.read
        .schema("cid INT, centroid ARRAY<DOUBLE>")
        .parquet(s"$path/_graft_centroids")
        .orderBy($"cid").select($"centroid")
        .as[Seq[Double]].collect().toSeq)
  }

  /** Erase victim nodes from a CLUSTERED adjacency store — the
    * [[eraseStored]] contract (both edge directions removed, surviving
    * neighbors re-linked pairwise, untouched buckets byte-identical)
    * on the [[writeStoreClustered]] layout. The carried buckets make
    * the erase request-sized WITHOUT arithmetic routing: the victims'
    * own buckets come from [[Pq.nearestCol]] over their vectors (read from
    * the vector store BEFORE it is erased — pass the same `vecPath`
    * the serving loop uses), and every dangling edge's location is
    * named by the victim's own rows (`nbr` + `nbr_bucket` — the
    * neighbor holding the reverse edge and the bucket it lives in), so
    * the rewrite prunes to victim buckets ∪ carried neighbor buckets.
    * Re-linked pairs inherit their endpoints' carried buckets. When
    * `vecPath`/`codesPath` erase is wanted too, this must run FIRST —
    * it needs the victims' vectors to route. */
  def eraseStoredClustered(spark: SparkSession, path: String,
      victims: Seq[Long], vecPath: String,
      eraseVectors: Boolean = false,
      codesPath: Option[String] = None): Unit = {
    import spark.implicits._
    require(victims.nonEmpty, "empty victim list")
    val cents = centroidsOf(spark, path)
    val vicFrame = fetch(openStore(spark, vecPath),
      victims.toDF("node")).localCheckpoint(true)
    // EVERY victim must resolve a vector — a missing one would silently
    // keep its own bucket (and its dangling edges) out of the rewrite,
    // half-completing an erasure request with no error
    val found = vicFrame.select($"vec_id").as[Long].collect().toSet
    val missing = victims.filterNot(found)
    require(missing.isEmpty,
      s"victims ${missing.mkString(",")} have no vector in $vecPath — " +
        "clustered erase routes by vector; erase the graph before the " +
        "vector store (or re-insert the vectors first)")
    val vicBuckets = vicFrame
      .select(Pq.nearestCol($"v", cents).as("b")).distinct()
      .as[Int].collect().toSeq
    val victimSet = victims.toSet
    // the victims' own rows: one pruned read; each row carries the
    // neighbor AND the bucket its reverse edge lives in
    val store = openStore(spark, path)
    val vicRows = store.rel
      .filter($"bucket".isin(vicBuckets: _*))
      .filter($"src".isin(victims: _*))
      .select($"src", $"nbr", $"nbr_bucket")
      .as[(Long, Long, Int)].collect()
    val nbrs = vicRows.groupBy(_._1)
      .map { case (s, rows) => s -> rows.map(r => (r._2, r._3)).toSeq }
    val nbrBuckets = vicRows.filterNot(r => victimSet(r._2)).map(_._3)
      .distinct.toSeq
    val touched = (vicBuckets ++ nbrBuckets).distinct.sorted
    // pairwise re-link among each victim's surviving neighbors, both
    // directions, each row routed by its OWN carried source bucket
    val repair = nbrs.values.toSeq.flatMap { ns =>
      val s = ns.filterNot(n => victimSet(n._1)).distinctBy(_._1)
        .sortBy(_._1)
      for {
        (a, ab) <- s; (b, bb) <- s if a < b
      } yield Seq((a, b, bb, ab), (b, a, ab, bb))
    }.flatten.distinct
    val repairDf = repair.toDF("src", "nbr", "nbr_bucket", "bucket")
    rewriteBuckets(spark, path, touched, store.rel
      .filter($"bucket".isin(touched: _*))
      .filter(!$"src".isin(victims: _*) && !$"nbr".isin(victims: _*))
      .select($"src", $"nbr", $"nbr_bucket", $"bucket")
      .unionByName(repairDf).distinct())
    // a victim can linger as a CELL ENTRY ([[writeEntries]]) — a stale
    // entry would re-seed every pool with the victim, so the sidecar
    // drops those rows (the cell then routes to the next-nearest
    // present cell until the next writeEntries refresh)
    dropEntryRows(spark, path, victims)
    if (eraseVectors) eraseFromIdStore(spark, vecPath, victims)
    codesPath.foreach(eraseFromIdStore(spark, _, victims))
  }

  /** One frontier expansion: reads ONLY the frontier's buckets and
    * returns the distinct (qid, node) pairs it discovers. On a hash
    * store the buckets are the frontier ids' `pmod` (≤ buckets values,
    * driver-bounded); on a CLUSTERED store the frontier carries each
    * node's bucket (`node_bucket` — known from the edge that discovered
    * it), so the scan prunes to the frontier's DISTINCT CLUSTER buckets
    * and the result carries the next frontier's buckets. */
  private[graft] def expand(store: Store, frontier: DataFrame): DataFrame = {
    import frontier.sparkSession.implicits._
    val bucketCol =
      if (store.clustered) $"node_bucket"
      else pmod($"node", lit(store.buckets.toLong)).cast("int")
    val buckets = frontier.select(bucketCol).distinct().as[Int].collect().toSeq
    val pruned = store.rel.filter($"bucket".isin(buckets: _*))
    val carried =
      if (store.clustered) Seq(pruned("nbr_bucket").as("node_bucket")) else Nil
    frontier.join(pruned, frontier("node") === pruned("src"))
      .select(Seq(frontier("qid"), pruned("nbr").as("node")) ++ carried: _*)
      .distinct()
  }

  /** Persist per-cell ENTRY POINTS next to a clustered store: for each
    * centroid, the `perCell` graph nodes whose vectors are nearest to
    * it (ties → smallest id), each with the node's own routing bucket.
    * This is HNSW's upper-layer hierarchy collapsed onto the store's
    * cells — a warm start that costs ZERO corpus I/O at serve time
    * ([[storedEntries]] reads the ≤cells·perCell-row sidecar and
    * broadcasts; compare [[sampledEntries]], whose warm start scans
    * n/stride corpus rows per batch). One corpus pass at WRITE time,
    * like every other sidecar.
    *
    * The default density is n-DEPENDENT: total entries ≈
    * [[scaledSlots]](n) spread over the cells (perCell = round(√n /
    * cells), ≥1). The r14 composed-store measurement (COVERAGE.md "The
    * deep arms") showed why 1-per-cell is not a constant either: the deep x100 arm's insert-findability
    * read 3/4 — a fresh insert links where its entry-seeded beam walked,
    * and one entry per cell leaves the walk's start ~a cell radius from
    * the query at any n. Denser entries shorten the cold start WITHOUT
    * touching walls: a query's extra entries share its cell, so round-1
    * reads the same cluster bucket. Pass an explicit `perCell` to pin a
    * fixture (StoredClusteredSpec's nearest-member mechanics pin 1). */
  def writeEntries(vecs: DataFrame, path: String,
      perCell: Int = AutoSlots): Unit = {
    import vecs.sparkSession.implicits._
    val cents = centroidsOf(vecs.sparkSession, path)
    replaceEntriesSidecar(vecs.sparkSession, path,
      entryMembers(vecs, cents, resolvePerCell(vecs, cents.length, perCell))
        .select($"cid", $"node", $"cid".as("node_bucket")))
  }

  private def resolvePerCell(vecs: DataFrame, nCells: Int,
      perCell: Int): Int =
    if (perCell > 0) perCell
    else math.max(1L, math.round(
      scaledSlots(vecs.count()).toDouble / nCells)).toInt

  /** The [[writeEntries]] pick, as a frame: each cell's `per` nearest
    * MEMBERS (ties → smallest id) — one corpus pass, n rows through
    * the per-cell window. Shared by the sidecar writer and
    * [[plannedEntries]] so that what a policy evaluates pre-store is
    * BY CONSTRUCTION what the store will serve from. */
  private def entryMembers(vecs: DataFrame, cents: Seq[Seq[Double]],
      per: Int): DataFrame = {
    import vecs.sparkSession.implicits._
    Pq.withNearest(vecs.select($"vec_id", $"v"), $"v", cents, "cid", Some("dist"))
      .withColumn("rn", row_number().over(
        Window.partitionBy($"cid").orderBy($"dist".asc, $"vec_id")))
      .filter($"rn" <= per)
      .select($"cid", $"vec_id".as("node"))
  }

  /** THE SERVING HEAD'S ENTRY DISCIPLINE, computed BEFORE any store
    * exists: given the centroids a clustered store WILL be written
    * with, return a queries → (qid, node) entry resolver that answers
    * exactly what [[storedEntries]] will answer once
    * [[writeStoreClustered]] + [[writeEntries]] run with the same
    * centroids (same member pick via [[entryMembers]], same
    * route-to-nearest-NON-EMPTY-cell rule; StoredClusteredSpec pins
    * the equality). Exists because of an r15 measured failure:
    * [[buildToServedRecall]] evaluating over [[ringEntries]] read
    * held-out recall 0.773 on a depth-12 x100 prune whose STORED head
    * then served 0.063 — the α-prune keeps the approach edges of the
    * beams it actually sees, so candidates generated from ring starts
    * navigate beautifully from ring starts and not at all from the
    * sidecar's per-cell members. Entry discipline is part of the
    * artifact: evaluate (and prune) with the entries serving will use.
    *
    * 100 TB: the member frame is one corpus pass, checkpointed once
    * per policy run; each resolution touches the ≤cells·per-row
    * broadcast and the queries frame — no corpus scan. */
  def plannedEntries(vecs: DataFrame, cents: Seq[Seq[Double]],
      perCell: Int = AutoSlots, probes: Int = 1): DataFrame => DataFrame = {
    import vecs.sparkSession.implicits._
    val members = entryMembers(vecs, cents,
      resolvePerCell(vecs, cents.length, perCell)).localCheckpoint(true)
    val present = members.select($"cid").distinct()
      .as[Int].collect().sorted.toSeq
    require(present.nonEmpty, "no cell has a member — empty corpus?")
    // multi-probe parity with storedEntries(probes): a policy that
    // will SERVE at P cells must evaluate (and prune) at P cells
    enterCells(_, present, cents, members, probes)
  }

  /** THE entry rule [[plannedEntries]] and [[storedEntries]] share:
    * route each query to its `probes` nearest centroids AMONG THE
    * `present` CELLS (an empty cell has no member to enter at; ties →
    * smaller index, [[Pq.nearestCol]]'s rule at P=1; [[Pq.nearestCols]]
    * deeper) and enter at every `members` row (cid, node, carried
    * columns) of those cells. Why P > 1: on corpora whose neighborhoods
    * are noise-like (the r17 family-free battery), a query's true
    * neighbors spread over several near-tied cells, and a single-cell
    * start caps recall no matter how wide the beam is — entry diversity
    * is the lever orthogonal to L and R, at P× the sidecar rows per
    * query and ≤ P first-round buckets. */
  private def enterCells(queries: DataFrame, present: Seq[Int],
      cents: Seq[Seq[Double]], members: DataFrame, probes: Int): DataFrame = {
    import queries.sparkSession.implicits._
    val presentCents = present.map(cents(_))
    val out = ("qid" +: members.columns.filterNot(_ == "cid")).map(col)
    if (probes <= 1)
      queries
        .select($"qid", Pq.nearestCol($"v", presentCents).as("pidx"))
        .withColumn("cid", element_at(typedlit(present), $"pidx" + 1))
        .join(broadcast(members), Seq("cid"))
        .select(out: _*)
    else
      queries
        .select($"qid",
          posexplode(Pq.nearestCols($"v", presentCents, probes)))
        .withColumn("cid", element_at(typedlit(present), $"col" + 1))
        .join(broadcast(members), Seq("cid"))
        .select(out: _*)
        .distinct()
  }

  /** Serve-time entry resolution from the [[writeEntries]] sidecar:
    * route each query to its nearest centroid AMONG CELLS THAT HAVE AN
    * ENTRY (an empty cell has no member to enter at), enter at ALL of
    * that cell's stored nodes (≤perCell rows per query — they share the
    * query's cell, so the first expansion reads the same cluster
    * bucket). Touches the ≤cells·perCell-row sidecar and the broadcast
    * centroid list — NO corpus scan. */
  def storedEntries(spark: SparkSession, path: String,
      queries: DataFrame, probes: Int = 1): DataFrame = {
    import spark.implicits._
    val cents = centroidsOf(spark, path)
    // ONE collect reads the whole sidecar (≤ cells·slots rows — the
    // broadcast-sized contract the join below already assumes): both
    // the present-cell set and the entry rows derive from it, where a
    // separate distinct-collect plus a scan-backed broadcast paid two
    // plan+job round-trips per serve (r17). r18: the collected rows
    // are held in the JVM entry cache ([[graft.util.StampedCache]]'s
    // rule — path-keyed, listing-stamped, one live entry per store), so
    // a warm serve pays NO job here at all: the frame below is a local
    // dataset, and its broadcast builds collect-job-free.
    val entryRows = entriesSidecar(spark, path, clusteredEntriesCache,
        "rerun writeEntries")(
      _.select($"cid", $"node", $"node_bucket").as[(Int, Long, Int)].collect())
    val entries = spark.createDataset(entryRows.toSeq)
      .toDF("cid", "node", "node_bucket")
    val present = entryRows.map(_._1).distinct.sorted.toSeq
    // an empty sidecar (every cell entry erased before a writeEntries
    // refresh) must be a loud error: silently returning an empty entry
    // frame would answer every query with zero rows, and an empty
    // `present` would make Pq.nearestCol yield a null pidx downstream
    require(present.nonEmpty,
      s"$path/_graft_entries is empty — rerun writeEntries before serving")
    enterCells(queries, present, cents, entries, probes)
  }

  /** JVM-wide `_graft_entries` sidecar cache for the CLUSTERED layout
    * (cid, node, node_bucket rows; [[graft.util.StampedCache]]'s rule —
    * every sidecar swap mints fresh UUID-named parts, so an erase,
    * append, or refresh re-stamps and replaces the entry). A serving
    * process holds its index metadata in memory; values are ≤
    * cells·slots small rows. */
  private val clusteredEntriesCache =
    new graft.util.StampedCache[Array[(Int, Long, Int)]]

  /** A store's `_graft_entries` sidecar rows through `cache`, stamped by
    * the sidecar's listing; a missing sidecar stays a loud error (`hint`
    * names the writer to rerun), as the uncached read was. */
  private def entriesSidecar[V](spark: SparkSession, path: String,
      cache: graft.util.StampedCache[V], hint: String)(read: DataFrame => V): V = {
    val dir = new org.apache.hadoop.fs.Path(path, "_graft_entries")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // one filesystem call on the hot path: the listing is the stamp, and
    // its absence is the missing sidecar
    val listing = try Some(fs.listStatus(dir).toSeq)
      catch { case _: java.io.FileNotFoundException => None }
    require(listing.isDefined, s"$path has no _graft_entries sidecar — $hint")
    cache(dir.toString, graft.util.StampedCache.listingStamp(listing.get))(
      read(spark.read.parquet(dir.toString)))
  }

  /** The undirected closure of an edge frame: (src, nbr) both ways,
    * distinct — the adjacency every store and walk expands over. */
  private[graft] def undirected(g: DataFrame): DataFrame = {
    import g.sparkSession.implicits._
    g.select($"src", $"nbr")
      .union(g.select($"nbr".as("src"), $"src".as("nbr"))).distinct()
  }

  /** One frontier expansion over an in-memory UNDIRECTED edge frame
    * (src, nbr): the distinct (qid, neighbor) pairs — the corpus-side
    * walks' twin of the stored [[expand]]. */
  private[graft] def expandEdges(und: DataFrame)(frontier: DataFrame): DataFrame =
    frontier.join(und, frontier("node") === und("src"))
      .select(frontier("qid"), und("nbr").as("node")).distinct()

  /** The default RING entry: node (qid·37 + 1) mod n per query — zero
    * extra I/O, but a cold start the beam must walk in from. ASSUMES
    * DENSE ids 0..n-1 (the synthesized node must exist): on a sparse
    * or erased-id corpus pass explicit entries instead — the
    * `_graft_entries` sidecar ([[hashEntries]]/[[storedEntries]], what
    * [[serveCoordinated]]'s default reads) or [[sampledEntries]]; a
    * phantom entry dedups but never answers, silently shrinking
    * results. */
  def ringEntries(vecs: DataFrame, queries: DataFrame): DataFrame = {
    import vecs.sparkSession.implicits._
    val nn = vecs.agg(count(lit(1)).as("n"))
    queries.crossJoin(broadcast(nn))
      .select($"qid", pmod($"qid" * 37 + 1, $"n").cast("long").as("node"))
  }

  /** WARM entry by sampled medoid: score each query against every
    * `stride`-th candidate node and enter at the best — one
    * |Q|·(n/stride) broadcast pass (sq01's bounded brute-force shape),
    * buying the beam a start already near the target neighborhood.
    * `candidates` must be nodes PRESENT in the served graph. */
  def sampledEntries(candidates: DataFrame, queries: DataFrame,
      stride: Long): DataFrame = {
    import candidates.sparkSession.implicits._
    candidates.filter(pmod($"vec_id", lit(stride)) === 0)
      .select($"vec_id".as("node"), $"v".as("cv"))
      .crossJoin(broadcast(queries.select($"qid", $"v".as("qv"))))
      .withColumn("rn", row_number().over(
        Window.partitionBy($"qid").orderBy(cosine($"qv", $"cv").desc, $"node")))
      .filter($"rn" === 1).select($"qid", $"node")
  }

  /** Beam-search serve from the STORED graph: `beamRounds` pruned
    * expansion steps, keeping the best `k` unvisited nodes per query
    * each step (the beam width equals `k`), answering with the visited
    * pool's exact-cosine top-k. `queries` is (qid, v); the entry nodes
    * default to [[ringEntries]] — pass [[sampledEntries]] (or any
    * (qid, node) frame of graph nodes) for a warm start. */
  def serveStored(spark: SparkSession, path: String, vecs: DataFrame,
      queries: DataFrame, k: Int, beamRounds: Int,
      entries: Option[DataFrame] = None): DataFrame =
    rankPool(vecs, queries,
      serveStoredTrace(spark, path, vecs, queries, k, beamRounds, entries)
        .last._2, k)

  /** THE exact score-and-keep every distributed walk shares: each
    * candidate (qid, node, carried columns) is scored by cosine against
    * its query (`queries` — (qid, v), broadcast-sized) and the top
    * `keep` per query by (cosine DESC, node ASC) survive, candidate
    * columns unchanged. `vecs` is a (vec_id, v) frame — a corpus or a
    * [[fetch]] — and scoring is an INNER join, so a node whose VECTOR
    * has been erased can never be kept, even from a stale pool. */
  private[graft] def scoreKeep(cand: DataFrame, queries: DataFrame,
      vecs: DataFrame, keep: Int): DataFrame = {
    import cand.sparkSession.implicits._
    cand
      .join(broadcast(queries), Seq("qid"))
      .join(vecs.select($"vec_id".as("node"), $"v".as("cv")), Seq("node"))
      .withColumn("rn", row_number().over(
        Window.partitionBy($"qid").orderBy(cosine($"v", $"cv").desc, $"node")))
      .filter($"rn" <= keep).select(cand.columns.map(col): _*)
  }

  /** The exact top-k truth a served recall is scored against: each
    * query's k nearest corpus rows by (cosine DESC, id ASC), the query
    * itself excluded — one broadcast nested-loop pass over the corpus
    * (|Q|-bounded, never a cartesian). */
  private[graft] def exactTruth(queries: DataFrame, vecs: DataFrame,
      k: Int): DataFrame = {
    import vecs.sparkSession.implicits._
    broadcast(queries.select($"qid".as("src"), $"v".as("qv")))
      .join(vecs.select($"vec_id".as("nbr"), $"v".as("cv")), $"src" =!= $"nbr")
      .withColumn("rn", row_number().over(
        Window.partitionBy($"src").orderBy(cosine($"qv", $"cv").desc, $"nbr")))
      .filter($"rn" <= k)
      .select($"src".as("qid"), $"nbr".as("node"))
  }

  /** The visited pool's exact-cosine top-`keep` per query, the query
    * itself excluded — [[scoreKeep]] plus the self filter. */
  private[graft] def rankPool(vecs: DataFrame, queries: DataFrame,
      pool: DataFrame, keep: Int): DataFrame = {
    import vecs.sparkSession.implicits._
    scoreKeep(pool.filter($"node" =!= $"qid"), queries, vecs, keep)
  }

  /** Persist the corpus VECTORS bucket-partitioned by `vec_id` — the
    * serving-side companion of [[writeStore]]. The in-memory serve
    * loop joins candidates against a provided corpus frame, which at
    * 100 TB means a corpus SCAN per beam round; with this store the
    * scan becomes a partition-pruned, filter-pushed point fetch of the
    * round's ≤ |Q|·beam·k candidate ids ([[fetch]]). The default
    * bucket count is BYTES-driven ([[autoBuckets]] — wide vector rows
    * get proportionally more buckets than narrow code rows at the same
    * n, the r13-measured constraint); pass an explicit count to pin a
    * layout. */
  def writeVectors(vecs: DataFrame, path: String,
      numBuckets: Int = AutoBuckets): Unit = {
    import vecs.sparkSession.implicits._
    val frame = vecs.select($"vec_id", $"v")
    // ONE sizing job feeds BOTH layout knobs (bucket count by bytes,
    // entry slots by √n) — the corpus-sized frame is deliberately NOT
    // checkpointed (duplicating the corpus to executor storage costs
    // more than the sizing pass it would save; the input here is a
    // source-backed or cached frame in every deployment shape)
    val (nb, slots) =
      if (numBuckets > 0) (numBuckets, AutoSlots)
      else {
        val (n, b) = frameSizing(frame)
        (if (n == 0) 1 else scaledBucketsByBytes(b, n), scaledSlots(n))
      }
    frame
      .withColumn("bucket", pmod($"vec_id", lit(nb.toLong)).cast("int"))
      .write.mode("overwrite").partitionBy("bucket").parquet(path)
    writeBucketMeta(path, nb, frame)
    writeHashEntries(vecs, path, slots)
  }

  /** ROW-count bucket sizing — nb ≈ n / targetRowsPerBucket, clamped
    * to [1, maxBuckets]. KEPT for callers that know their row width is
    * ~constant, but ROWS IS THE WRONG UNIT in general: the r13 erase
    * and serve U-curves (COVERAGE.md "Graph-erase scaling probe, round
    * 13") measured that the governing constraint is BYTES per bucket —
    * past the point where a bucket amortizes its own listing/file
    * overhead, more
    * buckets only multiply metadata cost (erase wall 5.4→34.8 s as nb
    * grew 32→3125 on KB-sized buckets; serve ms/q 3–4× worse), and a
    * 64-double vector row vs an M-byte code row differ ~60× in
    * bytes/row at the same rows target. Prefer
    * [[scaledBucketsByBytes]] / [[autoBuckets]]; `maxBuckets` lets a
    * rows-based caller own the clamp's top end instead of re-deriving
    * it at call sites. */
  def scaledBuckets(n: Long, targetRowsPerBucket: Long = 4096,
      maxBuckets: Int = 1 << 16): Int = {
    require(targetRowsPerBucket > 0, "targetRowsPerBucket must be positive")
    require(maxBuckets > 0, "maxBuckets must be positive")
    math.max(1L, math.min(maxBuckets.toLong,
      (n + targetRowsPerBucket - 1) / targetRowsPerBucket)).toInt
  }

  /** The default byte budget per bucket (4 MiB of LOGICAL row width —
    * a few parquet row groups after encoding). Chosen from the r13/r14
    * probe U-curves: the x100 vector corpus (~100 MB logical) measured
    * fastest around nb=32 (≈3 MB buckets) on both the erase and serve
    * paths, and KB-sized buckets paid 3–6× in listing/metadata. */
  val DefaultBucketBytes: Long = 4L << 20

  /** THE bucket-count SIZING POLICY — nb ≈ n·estRowBytes /
    * targetBytesPerBucket, clamped to [1, 2¹⁶]. Sizing by BYTES keeps
    * the cost of touching one bucket (a pruned rewrite, a point-read, a
    * directory listing) constant as the corpus grows AND as the row
    * width varies across stores: the same target yields ~60× fewer
    * buckets for an M-byte PQ-code store than for a d=64 double-vector
    * store of the same row count — exactly the spread a rows-based
    * policy mis-sizes (the r13 metadata-floor pathology: 3125 KB-sized
    * buckets, 6× erase wall). Both clamp ends live HERE, not at call
    * sites. Readers need no code change: every store records its own
    * count in `_graft_buckets` ([[openStore]]). */
  def scaledBucketsByBytes(estRowBytes: Long, n: Long,
      targetBytesPerBucket: Long = DefaultBucketBytes): Int = {
    require(estRowBytes > 0, "estRowBytes must be positive")
    require(targetBytesPerBucket > 0, "targetBytesPerBucket must be positive")
    require(n >= 0, "n must be non-negative")
    val total = n * estRowBytes
    math.max(1L, math.min(1L << 16,
      (total + targetBytesPerBucket - 1) / targetBytesPerBucket)).toInt
  }

  /** Fixed LOGICAL width of a data type, when it has one. */
  private def fixedWidth(dt: org.apache.spark.sql.types.DataType): Option[Long] = {
    import org.apache.spark.sql.types._
    dt match {
      case LongType | DoubleType | TimestampType | TimestampNTZType => Some(8L)
      case IntegerType | FloatType | DateType => Some(4L)
      case ShortType => Some(2L)
      case ByteType | BooleanType => Some(1L)
      case _: DecimalType => Some(16L)
      case _ => None
    }
  }

  /** LOGICAL byte width of column `c` of type `dt`, as a Catalyst
    * expression — the executor-side twin of the old driver-side
    * head-sample estimator, derived from the SCHEMA so sizing runs
    * inside the same aggregate as the count (no sample, no ordered-skew
    * bias: variable-width rows — strings, ragged arrays — contribute
    * their exact mean). Nulls are 0; strings/binaries floor at 1. */
  private def byteSizeCol(dt: org.apache.spark.sql.types.DataType,
      c: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.types._
    val sized = dt match {
      case t if fixedWidth(t).isDefined => lit(fixedWidth(t).get)
      case StringType => greatest(lit(1L), length(c).cast("long"))
      case BinaryType => greatest(lit(1L), octet_length(c).cast("long"))
      case ArrayType(et, _) => fixedWidth(et) match {
        case Some(w) => size(c).cast("long") * w
        case None => aggregate(c, lit(0L), (acc, x) => acc + byteSizeCol(et, x))
      }
      case MapType(kt, vt, _) =>
        aggregate(map_entries(c), lit(0L), (acc, e) =>
          acc + byteSizeCol(kt, e.getField("key")) +
            byteSizeCol(vt, e.getField("value")))
      case st: StructType =>
        st.fields.map(f => byteSizeCol(f.dataType, c.getField(f.name)))
          .reduceOption(_ + _).getOrElse(lit(0L))
      case _ => lit(8L)
    }
    when(c.isNull, lit(0L)).otherwise(sized)
  }

  /** ONE sizing job: (row count, exact mean LOGICAL bytes per row) of
    * `frame` from a single aggregate pass — what the writers' auto
    * sizing calls, so the layout choice costs one evaluation of the
    * caller's lineage, not a count plus a sample (the r14 shape: three
    * passes over an uncheckpointed expensive frame under the DEFAULT
    * policy). Mean bytes is 0 for an empty frame. */
  private def frameSizing(frame: DataFrame): (Long, Long) = {
    val rowBytes = frame.schema.fields
      .map(f => byteSizeCol(f.dataType, col(f.name)))
      .reduceOption(_ + _).getOrElse(lit(0L))
    val row = frame.agg(count(lit(1)), avg(rowBytes)).head()
    val n = row.getLong(0)
    val b = if (row.isNullAt(1)) 0L
      else math.max(1L, math.round(row.getDouble(1)))
    (n, b)
  }

  /** Exact mean LOGICAL bytes per row of `frame` — every row weighed by
    * type (fixed widths) and content (strings/binaries/arrays/structs),
    * in one aggregate pass. Parquet encodes narrower than this
    * (dictionary/RLE/compression), so [[DefaultBucketBytes]] is a
    * logical-width budget calibrated against the measured probe
    * optimum, not a file-size promise. */
  def estRowBytes(frame: DataFrame): Long = {
    val (n, b) = frameSizing(frame)
    require(n > 0, "cannot estimate row bytes of an empty frame")
    b
  }

  /** Bytes-driven bucket count for writing `frame`: exact (count, mean
    * row width) through [[scaledBucketsByBytes]], derived in ONE
    * aggregate job ([[frameSizing]]) — safe by construction on an
    * expensive lineage: auto-sizing adds exactly one evaluation, and
    * [[writeStore]] checkpoints its (index-sized) undirected frame so
    * sizing + write together evaluate the caller's lineage once. */
  def autoBuckets(frame: DataFrame,
      targetBytesPerBucket: Long = DefaultBucketBytes): Int = {
    val (n, b) = frameSizing(frame)
    // an empty frame has no width and needs no layout choice
    if (n == 0) 1
    else scaledBucketsByBytes(b, n, targetBytesPerBucket)
  }

  /** Sentinel for the writers' `numBuckets`: ≤0 = size the store by
    * bytes at write time ([[autoBuckets]] over the frame being
    * written). */
  val AutoBuckets = 0

  /** Cell-count sizing for the CLUSTERED layout — IVF's nlist
    * guidance: ≈ √n cells keeps per-cell membership (and with it a
    * beam round's cluster-bucket reads) row-group-sized at any corpus
    * size, clamped to [minCells, maxCells] (tiny fixtures need a floor
    * for the layout to mean anything; the cap bounds the broadcast
    * centroid list, the codebook-training cost, and [[Pq.nearestCol]]'s
    * per-row argmin width). COVERAGE.md "Composed-store lifecycle at
    * 100×" records the composed store under this policy at x1 (44
    * cells) and x100 (256). */
  def scaledCells(n: Long, minCells: Int = 16, maxCells: Int = 256): Int = {
    require(minCells > 0 && maxCells >= minCells, "bad cell clamp")
    math.min(maxCells, math.max(minCells, math.sqrt(n.toDouble).toInt))
  }

  /** ENTRY-density sizing — the [[scaledCells]] move applied to the
    * `_graft_entries` sidecars: ≈ √n entry points, clamped. The r14
    * composed-store measurement (COVERAGE.md "The deep arms") showed
    * why a CONSTANT is wrong here: at
    * 200k nodes on the deliberately sparse search-pruned graph, a fresh
    * insert's beam from 64 fixed entries missed the inserted node
    * (findability 3/4 — StreamingGraphInsertSpec's comment named denser
    * entries as the remedy). √n keeps the expected entry→target walk
    * length flat as n grows while the sidecar stays driver-bounded
    * (collect-able, broadcast-able): 4096 rows ≈ a 2 MB broadcast at
    * d=64, reached only past n ≈ 16M — beyond that the cap holds and
    * beam length grows like the log factor HNSW's hierarchy absorbs. */
  def scaledSlots(n: Long, minSlots: Int = 64, maxSlots: Int = 4096): Int = {
    require(minSlots > 0 && maxSlots >= minSlots, "bad slot clamp")
    math.min(maxSlots, math.max(minSlots, math.sqrt(n.toDouble).toInt))
  }

  /** Sentinel for the entry writers' density knobs: ≤0 = size by
    * [[scaledSlots]] over the frame's row count at write time. */
  val AutoSlots = 0

  private def resolveBuckets(frame: DataFrame, requested: Int): Int =
    if (requested > 0) requested else autoBuckets(frame)

  /** Persist per-slot ENTRY POINTS next to a hash-layout
    * [[writeVectors]] store: for each of `slots` id-hash slots, ONE
    * deterministic pseudo-random member (the slot's min (xxhash64(id),
    * id) — hash-ranked so the picks spread over the corpus; a min-id
    * pick would clump into the lowest-id region, which on fixtures
    * with id-correlated clusters made a measurably biased entry set),
    * with its vector, as the `_graft_entries` sidecar. The hash twin
    * of [[writeEntries]] (no centroids to rank by): a consumer needing
    * a warm start — [[graft.streaming.StreamingGraphIngest
    * .insertBatch]]'s arrival search — reads this ≤`slots`-row sidecar
    * instead of collecting an O(n/nb) corpus bucket to the driver.
    * Cost at write: one map-side-combined min per slot plus one
    * broadcast join to attach vectors — never a corpus shuffle.
    * Erase-aware: [[eraseFromIdStore]] drops victim rows, so a stale
    * entry can never resurrect an erased node. The default slot count
    * is n-DEPENDENT ([[scaledSlots]] — ≈√n clamped; the r14 probe's
    * insert-findability miss at 200k was a fixed-64 entry set); pass an
    * explicit count to pin a fixture's sidecar. */
  def writeHashEntries(vecs: DataFrame, path: String,
      slots: Int = AutoSlots): Unit = {
    import vecs.sparkSession.implicits._
    val nSlots = if (slots > 0) slots else scaledSlots(vecs.count())
    val reps = vecs
      .select($"vec_id",
        pmod($"vec_id", lit(nSlots.toLong)).cast("int").as("slot"),
        xxhash64($"vec_id").as("h"))
      .groupBy($"slot")
      .agg(min(struct($"h", $"vec_id")).as("m"))
      .select($"slot", $"m.vec_id".as("node"))
    // dropDuplicates: a streamed-append store may hold replayed
    // physical duplicates of a vec_id (readers dedup, fetch's
    // contract) — the join would otherwise emit the entry twice
    replaceEntriesSidecar(vecs.sparkSession, path,
      reps.join(vecs.select($"vec_id".as("node"), $"v"), Seq("node"))
        .dropDuplicates("slot", "node")
        .select($"slot", $"node", $"v"))
  }

  /** Backfill the `_graft_entries` sidecar on a [[writeVectors]]-layout
    * store that predates it (or was populated by raw bucket appends):
    * one executor-side pass over the store, no driver collect. A
    * PRESENT-but-drained sidecar is left alone — that state means an
    * erasure emptied it, and resurrecting entries implicitly would
    * hide the operator decision [[hashEntries]]'s loud error asks for. */
  def ensureHashEntries(spark: SparkSession, path: String,
      slots: Int = AutoSlots): Unit = {
    import spark.implicits._
    val p = new org.apache.hadoop.fs.Path(path, "_graft_entries")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p))
      writeHashEntries(
        openStore(spark, path).rel.select($"vec_id", $"v"), path, slots)
  }

  /** The hash store's entry representatives ([[writeHashEntries]]),
    * collected — ≤ slots rows by construction, the warm-start working
    * set. A missing or drained sidecar is a LOUD error: silently
    * falling back to a corpus scan would reintroduce the driver-sized
    * collect this sidecar exists to remove. */
  def hashEntries(spark: SparkSession,
      path: String): Seq[(Long, Array[Double])] = {
    import spark.implicits._
    // JVM sidecar cache ([[graft.util.StampedCache]]'s rule): a warm
    // serve's entry resolution then costs no job. Callers never mutate
    // the returned arrays (score-and-pick only).
    val rows = entriesSidecar(spark, path, hashEntriesCache,
        "rerun writeHashEntries (stores written by writeVectors carry it " +
          "automatically)")(
      _.select($"node", $"v").as[(Long, Seq[Double])]
        .collect().map { case (id, v) => id -> v.toArray }.toSeq)
    require(rows.nonEmpty,
      s"$path/_graft_entries is empty — rerun writeHashEntries")
    rows
  }

  /** See [[hashEntries]] — values are ≤ slots (id, vector) pairs. */
  private val hashEntriesCache =
    new graft.util.StampedCache[Seq[(Long, Array[Double])]]

  /** Sidecar warm entries for the DISTRIBUTED heads — the
    * [[serveCoordinated]] default's one-broadcast-join twin: each query
    * enters at its best `_graft_entries` representative by the same
    * (cosine DESC, node ASC) rule, computed as `queries ×
    * broadcast(≤slots-row sidecar)` with a per-query top-1 — no
    * driver-side query vectors needed, no corpus scan, id-layout-safe
    * (the entries are real store members, erase-aware). Use this where
    * [[ringEntries]]' dense-id assumption doesn't hold, or whenever a
    * warm start is worth one tiny broadcast. Loud when the sidecar is
    * missing or drained ([[hashEntries]]' contract). */
  def sidecarEntries(spark: SparkSession, vecPath: String,
      queries: DataFrame): DataFrame = {
    import spark.implicits._
    val reps = hashEntries(spark, vecPath)
      .map { case (node, v) => (node, v.toSeq) }.toDF("node", "cv")
    queries.crossJoin(broadcast(reps))
      .withColumn("rn", row_number().over(
        Window.partitionBy($"qid").orderBy(cosine($"v", $"cv").desc, $"node")))
      .filter($"rn" === 1).select($"qid", $"node")
  }

  /** RING-cost warm entries from a store's `_graft_entries` sidecar:
    * each query enters at the sidecar member indexed by qid mod
    * |entries| — a deterministic SPREAD over real, erase-aware store
    * members at [[ringEntries]]' cost (pure arithmetic, no per-query
    * scoring, no corpus I/O). [[sidecarEntries]] stays the warm start
    * for request-sized batches (it scores |Q|·slots cosines to enter
    * each query at its BEST representative); this is the entry source
    * for corpus-sized search waves — [[repruneStored]]'s every-node
    * queries — over stores whose id space has holes, where ringEntries'
    * dense-id synthesis would hand some nodes a phantom start. Needs
    * only `qid` on `queries`. */
  def slotEntries(spark: SparkSession, vecPath: String,
      queries: DataFrame): DataFrame = {
    import spark.implicits._
    val nodes = hashEntries(spark, vecPath).map(_._1).sorted
    queries.select($"qid",
      element_at(typedlit(nodes),
        (pmod($"qid", lit(nodes.length.toLong)) + 1).cast("int")).as("node"))
  }

  /** Point-fetch the rows of a BOUNDED id frame (`node`) from a
    * `vec_id`-bucketed store ([[writeVectors]], [[writeCodes]]):
    * partition pruning cuts the scan to the ids' buckets, and the pushed
    * `vec_id IN (...)` filter skips row groups inside them. Returns the
    * store's rows without `bucket`. `ids` must be serving-bounded (a
    * frontier or visited pool — ≤ |Q|·(1+rounds·k) ids by construction;
    * the driver-side list is the same boundedness [[expand]]'s bucket
    * collect already relies on). */
  private[graft] def fetch(store: Store, ids: DataFrame): DataFrame = {
    import ids.sparkSession.implicits._
    val idList = ids.select($"node").distinct().as[Long].collect()
    val buckets = idList.map(bucketOf(_, store.buckets)).distinct.toSeq
    // distinct: streamed appends are retry-safe at the ANSWER level —
    // a replayed micro-batch may leave duplicate physical rows, and
    // without the dedup one node could occupy several top-k slots
    store.rel
      .filter($"bucket".isin(buckets: _*) && $"vec_id".isin(idList.toSeq: _*))
      .drop("bucket").distinct()
  }

  /** Beam-search serve where every side is a store: edges from the
    * [[writeStore]] or [[writeStoreClustered]] adjacency (pruned
    * [[expand]]), vectors from the [[writeVectors]] store (pruned
    * [[fetch]]) — no corpus frame anywhere in the loop, so one serve
    * touches O(beam·k·steps) vectors and ≤ beam buckets of each store
    * regardless of corpus size. Answers are EXACTLY [[serveStored]]'s
    * (StoredGraphSpec asserts equality and the pruned plans), and a
    * clustered store answers what the hash store of the same edges
    * answers from the same entries, while a round's scan shrinks from
    * `min(|frontier|, N)` hash buckets to the frontier's cluster
    * footprint (StoredClusteredSpec asserts both).
    *
    * Entries default to [[ringEntries]] on a hash store and to the
    * stored per-cell entries ([[storedEntries]] over `entryProbes`
    * cells) on a clustered one — the fully store-resident head: graph,
    * vectors, centroids, and entry points all come from the store.
    * Explicit entries are (qid, node) on a hash store; on a clustered
    * store they carry the node's vector `v` and are routed by
    * [[Pq.nearestCol]] against the store's recorded centroids. `beamWidth`
    * is DiskANN's search-list L applied to the EXACT walk — the
    * per-round keep that sets the pool's ceiling (the quantized head
    * has carried the same knob since r16). 0 = k, the historical
    * budget, so every oracle-pinned walk hash is untouched; the final
    * answer is always top-k regardless of L. */
  def serveFromStores(spark: SparkSession, graphPath: String,
      vecPath: String, queries: DataFrame, k: Int, beamRounds: Int,
      entries: Option[DataFrame] = None, beamWidth: Int = 0,
      entryProbes: Int = 1): DataFrame = {
    val vec = openStore(spark, vecPath)
    storeWalk(spark, graphPath, vec, queries, k, beamRounds, entries,
      beamWidth, entryProbes)(
      (cand, keep) => scoreKeep(cand, queries, fetch(vec, cand), keep),
      (pool, _) => scoreKeep(pool, queries, fetch(vec, pool), k))
  }

  /** Persist flat-PQ CODES bucket-partitioned by `vec_id` — the
    * quantized sidecar of [[writeVectors]] (DiskANN's in-memory
    * companion structure, stored): one row per vector holding M small
    * integer codes, so a pruned point-read of a beam round's
    * candidates moves M bytes per candidate instead of a d×8-byte
    * vector. Input is [[Pq.pqEncode]]'s output (`vec_id`, `c0..c{M-1}`).
    * The default bucket count is BYTES-driven ([[autoBuckets]]): code
    * rows are ~60× narrower than d=64 vector rows, so the same byte
    * budget yields proportionally fewer buckets — sizing the sidecar by
    * the vector store's count is the mis-sizing the r13 probes
    * measured. */
  def writeCodes(codes: DataFrame, path: String,
      numBuckets: Int = AutoBuckets): Unit = {
    import codes.sparkSession.implicits._
    val nb = resolveBuckets(codes, numBuckets)
    codes
      .withColumn("bucket", pmod($"vec_id", lit(nb.toLong)).cast("int"))
      .write.mode("overwrite").partitionBy("bucket").parquet(path)
    writeBucketMeta(path, nb, codes)
  }

  /** PQ-GUIDED stored serving — sq24's algorithm lifted onto the
    * stored layouts: every beam round ranks fresh candidates by ADC
    * distance over codes POINT-FETCHED from the [[writeCodes]] store
    * (M bytes per candidate; the vector store is untouched inside the
    * loop), and only the final answer re-ranks the pool's ADC-top-W
    * shortlist by exact cosine from the [[writeVectors]] store. The
    * codebook (`cb`, a few KB) rides in the query LUT broadcast —
    * serving deployments hold it in memory like sq14's quantizers.
    * Compared to [[serveFromStores]], each round's fetch shrinks by
    * d·8/M (128× at d=64, M=8) at the measured recall cost sq24
    * reports (the walk follows quantized distances); the exact final
    * re-rank touches ≤ W vectors per query. Layout and entries follow
    * [[serveFromStores]] (the ring default is over the CODES store);
    * on a clustered store with its stored entries this is the COMPOSED
    * production head (sq28 — the DiskANN/Vamana deployment shape), and
    * its answers over the same edges and entries EQUAL the hash
    * layout's (ComposedGraphStoreSpec). StoredPqServeSpec replays the
    * whole loop driver-side with bit-identical arithmetic and asserts
    * the answers equal exactly.
    *
    * CONTRACT: the codes store must cover every servable graph node —
    * the ADC rank inner-joins it, so a node with a vector but no code
    * row can be EXPANDED INTO but never kept or answered by this head
    * (the exact [[serveFromStores]] loop on the same stores would find
    * it; the degradation is silent recall loss, not an error). Keep
    * the sidecar in lockstep: streamed inserts append codes via
    * [[graft.streaming.StreamingGraphIngest.insertBatch]]'s `codes`
    * option, and erasure removes them via [[eraseStored]]'s
    * `codesPath`.
    *
    * 100 TB: a request batch touches the entries, the frontier's
    * buckets of the k·n edge list, M-byte code rows for
    * O(beam·k·rounds) candidates, and ≤ W full vectors per query at the
    * end — nothing corpus-sized anywhere. */
  def serveFromStoresPq(spark: SparkSession, graphPath: String,
      codesPath: String, vecPath: String, queries: DataFrame,
      cb: Seq[Seq[Seq[Double]]], k: Int, beamRounds: Int,
      entries: Option[DataFrame] = None, rerankWidth: Int = 0,
      beamWidth: Int = 0, entryProbes: Int = 1): DataFrame = {
    import spark.implicits._
    val m = cb.length
    val sub = cb.head.head.length
    val codes = openStore(spark, codesPath)
    val vec = openStore(spark, vecPath)
    val qluts = queries.select($"qid", Pq.lutsCol($"v", cb, sub).as("luts"))
    // candidate columns ride through the keep unchanged — the clustered
    // walk needs each kept candidate's bucket (the edge that discovered
    // a node names where its adjacency lives)
    def adcKeep(cand: DataFrame, keep: Int) = Pq.adcKeep(cand, qluts,
      fetch(codes, cand).withColumnRenamed("vec_id", "node"), m, keep).drop("rn")
    // `beamWidth` (DiskANN's L) widens the per-round ADC keep past k:
    // the pool a query can ever re-rank is ≈ entries + rounds·L rows,
    // so past the shortlist knob the WALK's coverage is the other
    // recall ceiling — the probe sweep measures both
    storeWalk(spark, graphPath, codes, queries, k, beamRounds, entries,
      beamWidth, entryProbes)(adcKeep, { (pool, start) =>
      // the exact re-rank's shortlist width is the quantization-error
      // recovery knob (the standard two-stage recipe: ADC ranks, exact
      // re-ranks the top-W): W = 2k default; the ADC sweep in COVERAGE.md
      // "ADC ceiling swept" records the recall-vs-W curve that justifies
      // it. The query's ENTRY NODES always join
      // the exact re-rank (r16, measured on the perturbed-unique x100
      // replica): an entry-published fresh insert was read 0/4 through
      // this head while the exact head read 4/4 — its PQ code collided
      // with enough near-duplicates that the ADC top-W's ascending-id
      // tie-break never admitted the (largest-id) arrival. Ranking by
      // code resolution systematically disadvantages exactly the rows
      // freshness publishes, so the freshness contract ("entry-published
      // ⇒ servable", StreamingGraphIngest) must not pass through ADC:
      // entries are ≤slots-per-cell rows per query, already resolved,
      // and the exact re-rank is the authority — unioning them costs a
      // few extra vector fetches and makes the guarantee head-invariant.
      // the pool is a lazy union of already-checkpointed frontiers, so
      // the two evaluations adcKeep makes of it (the code-fetch id
      // collect, then the scoring join) each cost a scan of a handful of
      // local blocks — cheaper than the eager checkpoint job+plan this
      // used to pay per serve (r17)
      val shortlist = adcKeep(pool, if (rerankWidth > 0) rerankWidth else 2 * k)
        .select($"qid", $"node")
        .union(start.select($"qid", $"node").filter($"node" =!= $"qid"))
        .distinct().localCheckpoint(true)
      // the loop's ONLY full-precision reads: ≤ max(2k, W) + entry rows
      // of vectors per query
      scoreKeep(shortlist, queries, fetch(vec, shortlist), k)
    })
  }

  /** THE store-served beam walk both heads run — [[beamTrace]]'s
    * skeleton over a graph store resolved once per request, with the
    * head's scorer: `keep` ranks a round's fresh candidates down to the
    * next frontier (carried columns unchanged), and `answer` turns the
    * visited pool (self excluded) and the resolved entries into the
    * final (qid, node) top-k. `scored` is the store the scorer reads
    * per round — the ring default's node count comes from it. One walk,
    * one entry rule, one layout switch: a walk fix lands once for every
    * head, and the heads' answers stay equality-provable over the same
    * edges. */
  private def storeWalk(spark: SparkSession, graphPath: String,
      scored: Store, queries: DataFrame, k: Int, beamRounds: Int,
      entries: Option[DataFrame], beamWidth: Int, entryProbes: Int)(
      keep: (DataFrame, Int) => DataFrame,
      answer: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    import spark.implicits._
    val graph = openStore(spark, graphPath)
    require(graph.clustered || entryProbes == 1,
      s"entryProbes = $entryProbes routes by cell, but $graphPath is a " +
        "hash-layout store")
    val start = (entries, graph.clustered) match {
      case (None, false) => ringEntries(scored.rel, queries)
      case (None, true) => storedEntries(spark, graphPath, queries, entryProbes)
      case (Some(e), false) => e
      case (Some(e), true) => e.select($"qid", $"node",
        Pq.nearestCol($"v", centroidsOf(spark, graphPath)).as("node_bucket"))
    }
    val pool = beamTrace(start, expand(graph, _),
      // checkpoint the candidate set ONCE: a keep evaluates its input
      // twice (the driver-side id collect for the pruned fetch, then
      // the scoring join) — without this the pruned store scan and
      // anti-join would re-run per evaluation
      fresh => keep(fresh.localCheckpoint(true),
        if (beamWidth > 0) beamWidth else k),
      beamRounds).last._2
    // the pool is a lazy union of checkpointed frontiers: cheaper to
    // evaluate twice than to checkpoint once
    answer(pool.filter($"node" =!= $"qid"), start).select($"qid", $"node")
  }

  /** Driver-side replica of [[graft.functions.CosineSimilarity]]'s
    * arithmetic — same accumulation order, same final division, so the
    * coordinated loop's tie-breaks are bit-identical to the
    * distributed one's. */
  private[graft] def cosineLocal(x: Array[Double], y: Array[Double]): Double = {
    val n = math.min(x.length, y.length)
    var dot = 0.0; var nx = 0.0; var ny = 0.0; var i = 0
    while (i < n) {
      dot += x(i) * y(i); nx += x(i) * x(i); ny += y(i) * y(i); i += 1
    }
    dot / math.sqrt(nx * ny)
  }

  /** The k best (node, cos) candidates under
    * [[graft.util.SparkOrdering.bestFirst]]. */
  private[graft] def keepTopK(cands: Seq[(Long, Double)], k: Int): Seq[(Long, Double)] =
    cands.sorted(SparkOrdering.bestFirst).take(k)

  /** LOW-LATENCY serving head: the beam state (≤ |Q|·(1+rounds·k)
    * (node, cos) rows) lives on the COORDINATOR, and the stores answer
    * through two driver-side reads — frontier adjacency from the
    * [[writeStore]] layout ([[Store.neighbours]]) and candidate vectors
    * from the [[writeVectors]] store ([[Store.vectors]]). Cost per
    * request batch, by what the store VERSION ([[openStore]]'s stamp)
    * has already served:
    *  - COLD, the version's first request: one pruned point read for
    *    the entry vectors, then TWO per round (adjacency, vectors) —
    *    1 + 2·rounds scan jobs instead of the distributed loop's
    *    join/window/checkpoint chain;
    *  - ADMITTING, from its second request on: still at most one job
    *    per store per round, but that job reads each missing bucket
    *    WHOLE and keeps it on the driver while its on-disk bytes fit
    *    the version's budget ([[ResidentBudget]], a share of the driver
    *    heap); buckets that do not fit keep the point read in the same
    *    job;
    *  - RESIDENT: once every bucket a request touches is held, it runs
    *    NO Spark job — three small listings (the two stores' stamps and
    *    the entry sidecar's) and the beam's local cosines.
    * A corpus that outgrows the budget degrades to the cold cost rather
    * than failing. Only store bytes are held; answers, frontiers and
    * pools are computed per request. This is the graph analogue of
    * sq14's batched stored-index serving, and the shape an online
    * serving endpoint runs (coordinator holds beams, storage answers
    * pruned gets). Answers are EXACTLY [[serveFromStores]]'s: same
    * entries, same candidate sets, and [[cosineLocal]] replays the
    * native expression's arithmetic bit for bit (StoredGraphSpec and
    * CoordinatedResidencySpec assert equality, cold and resident). For
    * |Q| in the thousands the per-round state outgrows a coordinator —
    * use [[serveFromStores]] there; the boundedness contract HERE is
    * the request batch. MEASURED on the cold path (COVERAGE.md
    * "Serving-head crossover probe", same stores, answers equal): on
    * the 100× corpus this head reads 270/38/50 ms-per-query at
    * |Q|=16/128/1024 vs the distributed loop's 334/61/23 — the wall
    * crossover sits between 128 and 1024 queries, where the per-round
    * `isin` candidate filters and driver collects outgrow the
    * distributed join; on the 1× corpus the point-reads are so cheap
    * the coordinated head wins at every measured |Q|. */
  def serveCoordinated(spark: SparkSession, graphPath: String,
      vecPath: String, queries: Seq[(Long, Array[Double])], k: Int,
      beamRounds: Int,
      entries: Option[Map[Long, Long]] = None): Seq[(Long, Long)] = {
    // one resolution per request batch for each store (each carries
    // its own recorded bucket count and resident buckets); the stores
    // are immutable within a serve
    val graph = openStore(spark, graphPath)
    val vec = openStore(spark, vecPath)
    val entry: Map[Long, Long] = entries.getOrElse {
      // default entries come from the store's own `_graft_entries`
      // sidecar (≤slots rows, erase-aware, every writeVectors store
      // carries one; loud error when absent): each query warm-starts at
      // its best representative under SparkOrdering.bestFirst (cosine DESC, then
      // node ASC) — the rule the streamed insert uses. The earlier
      // fallback synthesized floorMod(qid·37+1, n), which assumes DENSE
      // ids 0..n-1 — on a store with sparse or erased ids the
      // synthesized node may not exist, and the beam then starts at a
      // phantom: it dedups but never answers, silently returning few or
      // zero rows (StoredGraphSpec's sparse-id test pins the fixed
      // behavior).
      val reps = hashEntries(spark, vecPath)
      queries.map { case (qid, qvec) =>
        qid -> reps.map { case (node, cv) => node -> cosineLocal(qvec, cv) }
          .min(SparkOrdering.bestFirst)._1
      }.toMap
    }
    coordinatedWalk(graph, vec, queries, k, beamRounds, entry)
  }

  /** [[serveCoordinated]]'s beam over resolved stores from resolved
    * entries — every store byte it reads goes through the two [[Store]]
    * reads. */
  private[graft] def coordinatedWalk(graph: Store, vec: Store,
      queries: Seq[(Long, Array[Double])], k: Int, beamRounds: Int,
      entry: Map[Long, Long]): Seq[(Long, Long)] = {
    val admitAdj = graph.admitting()
    val admitVec = vec.admitting()
    val qv = queries.toMap
    // visited = the distributed loop's pool frame (dedup semantics);
    // scores = what the final scoring join would see — a visited node
    // whose vector is absent (e.g. erased) dedups but never answers,
    // exactly like the inner join drops it
    val entryVecs = vec.vectors(entry.values.toSet, admitVec)
    val visited = scala.collection.mutable.Map(queries.map { case (qid, _) =>
      qid -> scala.collection.mutable.LinkedHashSet(entry(qid)) }: _*)
    val scores = scala.collection.mutable.Map(queries.map { case (qid, _) =>
      val e = entry(qid)
      qid -> scala.collection.mutable.LinkedHashMap(
        entryVecs.get(e).map(v => e -> cosineLocal(qv(qid), v)).toSeq: _*)
    }: _*)
    var frontier: Map[Long, Seq[Long]] =
      queries.map { case (qid, _) => qid -> Seq(entry(qid)) }.toMap
    for (_ <- 1 to beamRounds if frontier.valuesIterator.exists(_.nonEmpty)) {
      val adj = graph.neighbours(frontier.valuesIterator.flatten.toSet, admitAdj)
      val cands: Map[Long, Seq[Long]] = frontier.map { case (qid, fs) =>
        qid -> fs.flatMap(adj.getOrElse(_, Array.emptyLongArray)).distinct
          .filterNot(visited(qid).contains)
      }
      val vecs = vec.vectors(cands.valuesIterator.flatten.toSet, admitVec)
      frontier = cands.map { case (qid, cs) =>
        val kept = keepTopK(
          cs.flatMap(c => vecs.get(c).map(v => c -> cosineLocal(qv(qid), v))), k)
        kept.foreach { case (node, cos) =>
          visited(qid) += node; scores(qid)(node) = cos }
        qid -> kept.map(_._1)
      }
    }
    queries.flatMap { case (qid, _) =>
      keepTopK(scores(qid).toSeq.filterNot(_._1 == qid), k)
        .map { case (node, _) => qid -> node }
    }
  }

  /** The serving loop with its per-round visited pools exposed:
    * (round, pool) for rounds 0..beamRounds — what sq22b's
    * rounds-to-recall measurement and the insertion path build on.
    * FRONTIERS are localCheckpoint'd (serving state is ephemeral per
    * request, so executor-local blocks are the right durability — the
    * BUILD is the durable side, [[buildDurable]]); the pool stays a
    * lazy union of those checkpointed frontiers, disjoint by
    * construction, costing no per-round materialization job. */
  def serveStoredTrace(spark: SparkSession, path: String, vecs: DataFrame,
      queries: DataFrame, k: Int, beamRounds: Int,
      entries: Option[DataFrame] = None): Seq[(Int, DataFrame)] = {
    val adj = openStore(spark, path)
    beamTrace(
      entries.getOrElse(ringEntries(vecs, queries)),
      expand(adj, _),
      scoreKeep(_, queries, vecs, k),
      beamRounds)
  }

  /** THE beam-walk skeleton every serving loop shares — entries become
    * round-0's pool; each round expands the frontier, anti-joins the
    * pool (dedup), keeps `keep`'s top candidates as the next frontier
    * (checkpointed — serving state is ephemeral per request, so
    * executor-local blocks are the right durability; the BUILD is the
    * durable side), and grows the pool as a LAZY union of the
    * checkpoint-backed frontiers — disjoint by construction (the
    * anti-join), so no distinct and no per-round pool materialization.
    * Returns (round, pool) for rounds 0..rounds. `expand` maps a
    * frontier to candidate (qid, node) pairs; `keep` ranks a fresh
    * candidate frame down to the next frontier (checkpointing its
    * input first if it evaluates it more than once). One skeleton, four
    * scorers: exact-from-corpus ([[serveStoredTrace]]), exact-from-store
    * ([[serveFromStores]]) and ADC-from-codes ([[serveFromStoresPq]]) —
    * the store heads through [[storeWalk]] — and the in-memory query
    * loops (sq22/sq24/sq25) — a walk fix lands once. */
  private[graft] def beamTrace(entries: DataFrame,
      expand: DataFrame => DataFrame,
      keep: DataFrame => DataFrame,
      rounds: Int): Seq[(Int, DataFrame)] = {
    var pool = entries.localCheckpoint(true)
    var frontier = pool
    val out = scala.collection.mutable.ArrayBuffer(0 -> pool)
    for (r <- 1 to rounds) {
      val fresh = expand(frontier)
        .join(pool, Seq("qid", "node"), "left_anti")
      frontier = keep(fresh).localCheckpoint(true)
      pool = pool.union(frontier)
      out += (r -> pool)
    }
    out.toSeq
  }
}
