package graft.similarity

import graft.TestSpark
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The stored k-NN graph: bucket-partitioned adjacency makes each beam
  * step a partition-pruned scan (sq14's plan property, graph edition),
  * store-backed serving equals in-memory serving exactly, and the
  * registry/pin lifecycle applies to the store path unchanged. */
class StoredGraphSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val K = 8

  private def corpus() = {
    import spark.implicits._
    import graft.similarity.VectorOps.toDouble
    graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select($"vec_id", toDouble($"embedding").as("v")).cache()
  }

  test("a beam step's scan is partition-pruned to the frontier's buckets") {
    import spark.implicits._
    val vecs = corpus()
    val graph = KnnGraph.build(vecs, K, rounds = 2).last
    val store = java.nio.file.Files.createTempDirectory("graft-kgraph").toString + "/g"
    // pinned 32-bucket layout: this test asserts pruning MECHANICS
    // against known id→bucket arithmetic; the default (bytes-driven
    // autoBuckets) would collapse the fixture to ~1 bucket and make the
    // prune assertion vacuous
    KnnGraph.writeStore(graph, store, KnnGraph.NumBuckets)
    // two frontier nodes → at most two distinct buckets may be read
    val frontier = Seq((0L, 5L), (1L, 7L)).toDF("qid", "node")
    val expanded = KnnGraph.expand(KnnGraph.openStore(spark, store), frontier)
    val expectedBuckets = Set(5L % KnnGraph.NumBuckets, 7L % KnnGraph.NumBuckets)
    val scans = expanded.queryExecution.sparkPlan.collect {
      case f: FileSourceScanExec if f.relation.location.rootPaths
        .exists(_.toString.contains("graft-kgraph")) => f
    }
    assert(scans.nonEmpty, "the expansion must read the stored graph")
    scans.foreach { f =>
      val selected = f.selectedPartitions.partitionCount
      assert(selected <= expectedBuckets.size,
        s"read $selected bucket dirs for a ${expectedBuckets.size}-bucket frontier")
    }
    // and the expansion itself is the graph's adjacency rows
    val viaStore = expanded.as[(Long, Long)].collect().toSet
    val und = graph.select($"src", $"nbr")
      .union(graph.select($"nbr".as("src"), $"src".as("nbr"))).distinct()
    val inMem = frontier.join(und, frontier("node") === und("src"))
      .select(frontier("qid"), und("nbr")).as[(Long, Long)].collect().toSet
    assert(viaStore == inMem)
    vecs.unpersist()
  }

  test("serveFromStores: vector point-fetch is bucket-pruned and answers equal serveStored exactly") {
    import spark.implicits._
    val vecs = corpus()
    val graph = KnnGraph.build(vecs, K, rounds = 2).last
    val root = java.nio.file.Files.createTempDirectory("graft-kgraph-vs").toString
    // pinned 32: the fetch assertions below use known %32 arithmetic
    KnnGraph.writeStore(graph, s"$root/g", KnnGraph.NumBuckets)
    KnnGraph.writeVectors(vecs, s"$root/vec", KnnGraph.NumBuckets)
    // the pruned point-fetch: 3 ids spanning 2 buckets may read at most
    // 2 bucket dirs, with the id filter pushed to the scan
    val ids = Seq(5L, 37L, 70L).toDF("node") // buckets {5, 6}: 5%32 = 37%32 = 5, 70%32 = 6
    val fetched = KnnGraph.fetch(KnnGraph.openStore(spark, s"$root/vec"), ids)
    val expectBuckets = Set(5L % 32, 37L % 32, 70L % 32)
    val scans = fetched.queryExecution.sparkPlan.collect {
      case f: FileSourceScanExec if f.relation.location.rootPaths
        .exists(_.toString.contains("graft-kgraph-vs")) => f
    }
    assert(scans.nonEmpty)
    scans.foreach { f =>
      assert(f.selectedPartitions.partitionCount <= expectBuckets.size,
        "vector fetch read more bucket dirs than the ids span")
      assert(f.dataFilters.nonEmpty, "vec_id filter not pushed to the scan")
    }
    assert(fetched.select($"vec_id").as[Long].collect().toSet == Set(5L, 37L, 70L))
    // full-loop equality: no corpus frame anywhere vs the corpus-frame loop
    val queries = vecs.filter($"vec_id" < 16).select($"vec_id".as("qid"), $"v")
    val viaStores = KnnGraph.serveFromStores(
      spark, s"$root/g", s"$root/vec", queries, K, beamRounds = 3)
      .as[(Long, Long)].collect().toSet
    val viaCorpus = KnnGraph.serveStored(
      spark, s"$root/g", vecs, queries, K, beamRounds = 3)
      .as[(Long, Long)].collect().toSet
    assert(viaStores == viaCorpus,
      "store-only serving diverged from corpus-frame serving")
    // the COORDINATED head (beam state on the driver, two pruned
    // point-reads per round) must answer identically too — its local
    // cosine replays the native expression's arithmetic bit for bit
    val qLocal = queries.as[(Long, Seq[Double])].collect()
      .map { case (qid, v) => qid -> v.toArray }.toSeq
    // explicit ring map = the distributed loops' ringEntries default
    // (this fixture is dense ids 0..n-1, so ring nodes all exist);
    // the coordinated head's own no-entries default is the sidecar
    // warm start, pinned by the sparse-id test below
    val n = vecs.count()
    val ringMap = qLocal.map { case (qid, _) =>
      qid -> Math.floorMod(qid * 37 + 1, n) }.toMap
    val viaCoordinator = KnnGraph.serveCoordinated(
      spark, s"$root/g", s"$root/vec", qLocal, K, beamRounds = 3,
      entries = Some(ringMap)).toSet
    assert(viaCoordinator == viaCorpus,
      "coordinated serving diverged from the distributed loop")
    vecs.unpersist()
  }

  test("bucket count is a store property: a 64-bucket store serves and erases identically") {
    import spark.implicits._
    val vecs = corpus()
    val graph = KnnGraph.build(vecs, K, rounds = 2).last
    val r32 = java.nio.file.Files.createTempDirectory("graft-kg-b32").toString
    val r64 = java.nio.file.Files.createTempDirectory("graft-kg-b64").toString
    KnnGraph.writeStore(graph, s"$r32/g", numBuckets = 32)
    KnnGraph.writeVectors(vecs, s"$r32/vec", numBuckets = 32)
    KnnGraph.writeStore(graph, s"$r64/g", numBuckets = 64)
    KnnGraph.writeVectors(vecs, s"$r64/vec", numBuckets = 64)
    assert(KnnGraph.openStore(spark, s"$r64/g").buckets == 64 &&
      KnnGraph.openStore(spark, s"$r32/g").buckets == 32)
    val queries = vecs.filter($"vec_id" < 16).select($"vec_id".as("qid"), $"v")
    def serve(root: String) = KnnGraph.serveFromStores(
      spark, s"$root/g", s"$root/vec", queries, K, beamRounds = 2)
      .as[(Long, Long)].collect().toSet
    assert(serve(r64) == serve(r32),
      "64-bucket store serves differently from 32-bucket store")
    // erase works against the recorded count too (victim rows land in
    // different bucket dirs under each modulus)
    val victim = serve(r32).head._2
    KnnGraph.eraseStored(spark, s"$r64/g", Seq(victim),
      vecPath = Some(s"$r64/vec"))
    val after = spark.read.parquet(s"$r64/g")
    assert(after.filter($"src" === victim || $"nbr" === victim).isEmpty,
      "victim survived in the 64-bucket store")
    vecs.unpersist()
  }

  test("eraseStored removes a node in BOTH directions, repairs around it, and serving never reaches it") {
    import spark.implicits._
    val vecs = corpus()
    val graph = KnnGraph.build(vecs, K, rounds = 3).last
    val eroot = java.nio.file.Files.createTempDirectory("graft-kgraph-erase").toString
    val store = s"$eroot/g"
    // pinned 32: `touchable` below uses known %NumBuckets arithmetic
    KnnGraph.writeStore(graph, store, KnnGraph.NumBuckets)
    KnnGraph.writeVectors(vecs, s"$eroot/vec", KnnGraph.NumBuckets)
    val queries = vecs.filter($"vec_id" < 16).select($"vec_id".as("qid"), $"v")
    val before = KnnGraph.serveStored(spark, store, vecs, queries, K, beamRounds = 3)
      .as[(Long, Long)].collect().toSet
    // victim: a node that IS currently being served — the strongest case
    // (and never one of the 16 query ids or their ring entry nodes, so
    // post-erase serving must forget it via the GRAPH alone)
    val n = vecs.count()
    val entries = (0L until 16L).map(q => (q * 37 + 1) % n).toSet
    val victim = before.map(_._2)
      .find(v => v >= 16 && !entries.contains(v)).get
    // file-identity snapshot of the buckets the erase must NOT touch
    val und = spark.read.parquet(store).cache()
    val nbrsOfVictim = und.filter($"src" === victim)
      .select($"nbr").as[Long].collect().toSet
    val touchable = (nbrsOfVictim + victim).map(_ % KnnGraph.NumBuckets)
    und.unpersist()
    def files(): Map[String, Long] = {
      val root = java.nio.file.Paths.get(store)
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(root).iterator().asScala
        .filter(p => p.toString.endsWith(".parquet"))
        .map(p => root.relativize(p).toString ->
          java.nio.file.Files.getLastModifiedTime(p).toMillis).toMap
    }
    val filesBefore = files()

    KnnGraph.eraseStored(spark, store, Seq(victim),
      vecPath = Some(s"$eroot/vec"))

    // 0. the victim's VECTOR row is gone from the vector store, so
    //    store-only serving is structurally unable to answer it even
    //    from a poisoned entry list
    assert(spark.read.parquet(s"$eroot/vec")
      .filter($"vec_id" === victim).isEmpty,
      "victim vector survives in the vector store")
    val poisonedEntries = queries.select($"qid", lit(victim).as("node"))
    val servedPoisoned = KnnGraph.serveFromStores(
      spark, store, s"$eroot/vec", queries, K, beamRounds = 2,
      entries = Some(poisonedEntries))
      .as[(Long, Long)].collect().toSet
    assert(!servedPoisoned.exists(_._2 == victim),
      "erased node answered from a poisoned entry list")

    // 1. no trace of the victim in either edge direction
    val after = spark.read.parquet(store).cache()
    assert(after.filter($"src" === victim || $"nbr" === victim).isEmpty,
      "victim still present in the adjacency")
    // 2. untouched buckets keep their exact files
    val filesAfter = files()
    filesBefore.foreach { case (rel, mtime) =>
      val bucket = rel.split("/").head.stripPrefix("bucket=").toLong
      if (!touchable.contains(bucket))
        assert(filesAfter.get(rel).contains(mtime),
          s"clean bucket file $rel was rewritten")
    }
    // 3. repair: the victim's surviving neighbors were re-linked
    val survivors = nbrsOfVictim.filter(_ != victim)
    if (survivors.size >= 2) {
      val s = survivors.toSeq.sorted
      val relinked = after
        .filter($"src" === s.head && $"nbr" === s(1)).count()
      assert(relinked == 1, "victim's neighbors were not re-linked")
    }
    // 4. serving: victim never expanded into (no dangling edge can
    //    produce it, and it is no entry node), recall holds
    val served = KnnGraph.serveStored(spark, store, vecs, queries, K, beamRounds = 3)
      .as[(Long, Long)].collect().toSet
    assert(!served.exists(_._2 == victim), "erased node was served")
    // recall floor vs pre-erase: losing one corpus node may cost at most
    // its own slots; the repaired graph must not fragment beyond that
    val beforeMinusVictim = before.filterNot(_._2 == victim)
    val retained = served.intersect(beforeMinusVictim).size.toDouble /
      beforeMinusVictim.size
    assert(retained >= 0.9,
      f"post-erase serving retained only $retained%.2f of pre-erase answers")
    after.unpersist()
    vecs.unpersist()
  }

  test("store-backed beam serving equals the in-memory loop exactly; lifecycle pin applies") {
    import spark.implicits._
    import graft.ml.IndexLifecycle
    val vecs = corpus()
    val graph = KnnGraph.build(vecs, K, rounds = 3).last
    val root = java.nio.file.Files.createTempDirectory("graft-kgraph-serve").toString
    KnnGraph.writeStore(graph, s"$root/v1")
    val queries = vecs.filter($"vec_id" < 16).select($"vec_id".as("qid"), $"v")
    val served = KnnGraph.serveStored(
      spark, s"$root/v1", vecs, queries, K, beamRounds = 3)
      .as[(Long, Long)].collect().toSet
    // in-memory replica of the same loop (sq22's): identical pools ⇒
    // identical answers — the store adds pruning, never changes results
    val und = graph.select($"src", $"nbr")
      .union(graph.select($"nbr".as("src"), $"src".as("nbr"))).distinct()
      .localCheckpoint(true)
    val nn = vecs.agg(count(lit(1)).as("n"))
    var pool = queries.crossJoin(broadcast(nn))
      .select($"qid", pmod($"qid" * 37 + 1, $"n").cast("long").as("node"))
      .localCheckpoint(true)
    var frontier = pool
    import org.apache.spark.sql.expressions.Window
    import graft.similarity.VectorOps.cosine
    for (_ <- 1 to 3) {
      val fresh = frontier.join(und, frontier("node") === und("src"))
        .select(frontier("qid"), und("nbr").as("node")).distinct()
        .join(pool, Seq("qid", "node"), "left_anti")
      frontier = fresh
        .join(broadcast(queries), Seq("qid"))
        .join(vecs.select($"vec_id".as("node"), $"v".as("cv")), Seq("node"))
        .withColumn("rn", row_number().over(
          Window.partitionBy($"qid").orderBy(cosine($"v", $"cv").desc, $"node")))
        .filter($"rn" <= K).select($"qid", $"node")
        .localCheckpoint(true)
      pool = pool.union(frontier).distinct().localCheckpoint(true)
    }
    val inMem = pool.filter($"node" =!= $"qid")
      .join(broadcast(queries), Seq("qid"))
      .join(vecs.select($"vec_id".as("node"), $"v".as("cv")), Seq("node"))
      .withColumn("rn", row_number().over(
        Window.partitionBy($"qid").orderBy(cosine($"v", $"cv").desc, $"node")))
      .filter($"rn" <= K).select($"qid", $"node")
      .as[(Long, Long)].collect().toSet
    assert(served == inMem, "store-backed serving diverged from the in-memory loop")
    // the same registry lifecycle the other stored indexes use
    val registry = s"$root/registry"
    IndexLifecycle.register(spark, registry, "knn_graph", "knn_graph_index",
      s"$root/v1", 1)
    IndexLifecycle.promote(spark, registry, "knn_graph", 1)
    val pinned = IndexLifecycle.pinnedPath(spark, registry, "knn_graph")
    assert(pinned.contains(s"$root/v1"))
    val servedPinned = KnnGraph.serveStored(
      spark, pinned.get, vecs, queries, K, beamRounds = 3)
      .as[(Long, Long)].collect().toSet
    assert(servedPinned == served)
    vecs.unpersist()
  }

  test("coordinated no-entries default serves a SPARSE-id (and erased) store via the sidecar") {
    import spark.implicits._
    // the retired fallback synthesized entry ids as floorMod(qid·37+1, n)
    // — valid only for DENSE ids 0..n-1. This store's ids are 13i+7, so
    // that arithmetic names phantom nodes for almost every query and the
    // beam would dedup-but-never-answer. The default must instead read
    // the `_graft_entries` sidecar (erase-aware, always present on a
    // writeVectors store).
    val dense = corpus()
    val graph = KnnGraph.build(dense, K, rounds = 2).last
    def sparse(c: org.apache.spark.sql.Column) = c * 13 + 7
    val vecs = dense.select(sparse($"vec_id").as("vec_id"), $"v")
    val sparseGraph = graph.select(
      sparse($"src").as("src"), sparse($"nbr").as("nbr"))
    val root = java.nio.file.Files.createTempDirectory("graft-kg-sparse").toString
    KnnGraph.writeStore(sparseGraph, s"$root/g")
    KnnGraph.writeVectors(vecs, s"$root/vec")
    val queries = dense.filter($"vec_id" < 8).select($"vec_id".as("qid"), $"v")
    val qLocal = queries.as[(Long, Seq[Double])].collect()
      .map { case (q, v) => q -> v.toArray }.toSeq
    val served = KnnGraph.serveCoordinated(
      spark, s"$root/g", s"$root/vec", qLocal, K, beamRounds = 3)
    // full answers, every node a REAL sparse id
    assert(served.size == qLocal.size * K,
      s"expected ${qLocal.size * K} answers, got ${served.size}")
    assert(served.forall { case (_, node) => (node - 7) % 13 == 0 })
    // the default is exactly the sidecar warm start: sidecarEntries (the
    // distributed twin, one broadcast join) must pick the same entry
    // nodes, and the distributed loop entered there must answer the same
    val reps = KnnGraph.hashEntries(spark, s"$root/vec")
    val manualPicks = qLocal.map { case (qid, qvec) =>
      qid -> reps.maxBy { case (node, cv) =>
        (KnnGraph.cosineLocal(qvec, cv), -node) }._1
    }.toMap
    val entryFrame = KnnGraph.sidecarEntries(spark, s"$root/vec", queries)
    assert(entryFrame.as[(Long, Long)].collect().toMap == manualPicks,
      "sidecarEntries diverged from the coordinated default's picks")
    val viaStores = KnnGraph.serveFromStores(
      spark, s"$root/g", s"$root/vec", queries, K, beamRounds = 3,
      entries = Some(entryFrame)).as[(Long, Long)].collect().toSet
    assert(served.toSet == viaStores,
      "coordinated sidecar default diverged from the distributed loop")
    // erase two answered nodes: the sidecar drops victim entries, so the
    // no-entries path still answers, and never with a victim
    val victims = served.map(_._2).distinct.take(2)
    KnnGraph.eraseStored(spark, s"$root/g", victims,
      vecPath = Some(s"$root/vec"))
    val postErase = KnnGraph.serveCoordinated(
      spark, s"$root/g", s"$root/vec", qLocal, K, beamRounds = 3)
    assert(postErase.nonEmpty)
    assert(postErase.forall { case (_, node) => !victims.contains(node) })
    dense.unpersist()
  }
}
