package graft.similarity

import graft.TestSpark
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** [[KnnGraph.writeStoreClustered]] / [[KnnGraph.serveFromStores]]
  * — the locality-bucketed adjacency layout. Three contracts: the
  * layout changes WHERE edges live, never which edges exist (clustered
  * serving answers EQUAL the hash store's on the same graph and
  * entries); a beam round's scan prunes to the frontier's distinct
  * CLUSTER buckets (plan-asserted), which on a spatially-coherent
  * frontier is strictly narrower than the hash layout's
  * min(|frontier|, N) buckets; and the centroid sidecar round-trips. */
class StoredClusteredSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val K = 8
  private val Cells = 16

  test("clustered store: answers equal the hash store, scans prune to the cluster footprint") {
    import spark.implicits._
    import graft.similarity.VectorOps.toDouble
    val vecs = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select($"vec_id", toDouble($"embedding").as("v")).cache()
    val graph = KnnGraph.build(vecs, K, rounds = 2).last
    val root = java.nio.file.Files.createTempDirectory("graft-clus").toString
    val sample = vecs.select($"v").as[Seq[Double]].collect()
      .map(_.toArray).toIndexedSeq
    val cents = Pq.trainCodebook(sample, Cells).map(_.toSeq).toSeq
    KnnGraph.writeStore(graph, s"$root/hash")
    KnnGraph.writeStoreClustered(graph, vecs, s"$root/clus", cents)
    KnnGraph.writeVectors(vecs, s"$root/vec")

    // the two layouts hold the SAME undirected edge set
    val eh = spark.read.parquet(s"$root/hash").select($"src", $"nbr")
      .as[(Long, Long)].collect().toSet
    val ec = spark.read.parquet(s"$root/clus").select($"src", $"nbr")
      .as[(Long, Long)].collect().toSet
    assert(ec == eh, "clustered layout changed the edge set")
    // and every edge's nbr_bucket is the neighbor's own routing bucket
    val assignments = vecs.select($"vec_id",
        Pq.nearestCol($"v", cents).as("cb"))
      .as[(Long, Int)].collect().toMap
    val wrong = spark.read.parquet(s"$root/clus")
      .select($"nbr", $"nbr_bucket").as[(Long, Int)].collect()
      .filter { case (nbr, b) => assignments(nbr) != b }
    assert(wrong.isEmpty, s"${wrong.length} edges carry a wrong nbr_bucket")
    assert(KnnGraph.centroidsOf(spark, s"$root/clus") == cents,
      "centroid sidecar did not round-trip")

    // identical answers from identical entries
    val queries = vecs.filter($"vec_id" < 16).select($"vec_id".as("qid"), $"v")
    val nq = queries.count()
    val ring = KnnGraph.ringEntries(vecs, queries)
    val entryVecs = ring
      .join(vecs.select($"vec_id".as("node"), $"v"), Seq("node"))
      .select($"qid", $"node", $"v")
    val hashServed = KnnGraph.serveFromStores(spark, s"$root/hash",
        s"$root/vec", queries, K, beamRounds = 3, entries = Some(ring))
      .as[(Long, Long)].collect().toSet
    val clusServed = KnnGraph.serveFromStores(spark, s"$root/clus",
        s"$root/vec", queries, K, beamRounds = 3, entries = Some(entryVecs))
      .as[(Long, Long)].collect().toSet
    assert(clusServed == hashServed,
      "clustered serving diverged from the hash store's answers")

    // pruning: a one-cluster frontier reads exactly one bucket dir of
    // the clustered store, regardless of how many nodes it holds
    val oneCell = spark.read.parquet(s"$root/clus")
      .filter($"bucket" === assignments.head._2)
      .select($"src".as("node"), $"bucket".as("node_bucket"))
      .distinct().limit(8).withColumn("qid", lit(0L))
      .select($"qid", $"node", $"node_bucket")
    val expanded = KnnGraph.expand(KnnGraph.openStore(spark, s"$root/clus"), oneCell)
    val scans = expanded.queryExecution.sparkPlan.collect {
      case f: FileSourceScanExec if f.relation.location.rootPaths
        .exists(_.toString.contains("graft-clus")) => f
    }
    assert(scans.nonEmpty)
    scans.foreach(f => assert(f.selectedPartitions.partitionCount == 1,
      "a one-cluster frontier must read exactly one bucket"))
    assert(expanded.count() > 0)

    // erasure parity: the clustered erase removes both edge directions,
    // re-links survivors, leaves clean buckets byte-identical, and the
    // two layouts keep serving the SAME answers after the same erase
    val victim = 101L
    val vBucket = assignments(victim)
    val cleanBefore = new java.io.File(s"$root/clus").listFiles()
      .filter(d => d.getName.startsWith("bucket=") &&
        d.getName != s"bucket=$vBucket")
      .flatMap(_.listFiles()).filter(_.getName.endsWith(".parquet"))
      .map(f => f.getPath ->
        java.nio.file.Files.getLastModifiedTime(f.toPath)).toMap
    val vicNbrBuckets = spark.read.parquet(s"$root/clus")
      .filter($"src" === victim).select($"nbr_bucket")
      .as[Int].collect().toSet
    KnnGraph.eraseStoredClustered(spark, s"$root/clus", Seq(victim),
      vecPath = s"$root/vec")
    KnnGraph.eraseStored(spark, s"$root/hash", Seq(victim))
    val after = spark.read.parquet(s"$root/clus").cache()
    assert(after.filter($"src" === victim || $"nbr" === victim).isEmpty,
      "victim edges survived the clustered erase in some direction")
    // the edge sets still agree layout-to-layout after the repair
    val ehA = spark.read.parquet(s"$root/hash").select($"src", $"nbr")
      .as[(Long, Long)].collect().toSet
    val ecA = after.select($"src", $"nbr").as[(Long, Long)].collect().toSet
    assert(ecA == ehA, "the two layouts diverged after the same erase")
    // a clean bucket (not the victim's, not a dangling-edge holder)
    // kept byte-identical files
    val untouched = cleanBefore.keys.filterNot(p =>
      vicNbrBuckets.exists(b => p.contains(s"bucket=$b/")))
    assert(untouched.nonEmpty, "fixture left no untouched bucket to check")
    untouched.foreach { p =>
      assert(java.nio.file.Files.getLastModifiedTime(
        java.nio.file.Paths.get(p)) == cleanBefore(p),
        s"clean bucket file $p was rewritten")
    }
    // and serving stays answer-identical across layouts (victim gone)
    val hashAfter = KnnGraph.serveFromStores(spark, s"$root/hash",
        s"$root/vec", queries, K, beamRounds = 3, entries = Some(ring))
      .as[(Long, Long)].collect().toSet
    val clusAfter = KnnGraph.serveFromStores(spark, s"$root/clus",
        s"$root/vec", queries, K, beamRounds = 3, entries = Some(entryVecs))
      .as[(Long, Long)].collect().toSet
    assert(clusAfter == hashAfter,
      "post-erase serving diverged between layouts")
    assert(!clusAfter.exists(_._2 == victim), "served an erased victim")
    // a victim the vector store can't resolve must fail LOUDLY — a
    // silent skip would half-complete the erasure request
    val e = intercept[IllegalArgumentException](
      KnnGraph.eraseStoredClustered(spark, s"$root/clus", Seq(9999999L),
        vecPath = s"$root/vec"))
    assert(e.getMessage.contains("no vector"))
    after.unpersist(); vecs.unpersist()
  }

  test("exact beam width L: 0 ≡ k bit-exact, layouts agree at any L, answers stay top-k-shaped") {
    import spark.implicits._
    import graft.similarity.VectorOps.toDouble
    val vecs = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select($"vec_id", toDouble($"embedding").as("v")).cache()
    val graph = KnnGraph.build(vecs, K, rounds = 2).last
    val root = java.nio.file.Files.createTempDirectory("graft-clusl").toString
    val sample = vecs.select($"v").as[Seq[Double]].collect()
      .map(_.toArray).toIndexedSeq
    val cents = Pq.trainCodebook(sample, Cells).map(_.toSeq).toSeq
    KnnGraph.writeStore(graph, s"$root/hash")
    KnnGraph.writeStoreClustered(graph, vecs, s"$root/clus", cents)
    KnnGraph.writeVectors(vecs, s"$root/vec")
    val queries = vecs.filter($"vec_id" < 16).select($"vec_id".as("qid"), $"v")
    val ring = KnnGraph.ringEntries(vecs, queries)
    val entryVecs = ring
      .join(vecs.select($"vec_id".as("node"), $"v"), Seq("node"))
      .select($"qid", $"node", $"v")
    def hashAt(l: Int) = KnnGraph.serveFromStores(spark, s"$root/hash",
        s"$root/vec", queries, K, beamRounds = 3, entries = Some(ring),
        beamWidth = l).as[(Long, Long)].collect().toSet
    def clusAt(l: Int) = KnnGraph.serveFromStores(spark,
        s"$root/clus", s"$root/vec", queries, K, beamRounds = 3,
        entries = Some(entryVecs), beamWidth = l)
      .as[(Long, Long)].collect().toSet
    // default (0) IS L = k — the oracle-pinned historical walk
    assert(hashAt(0) == hashAt(K), "hash head: L=k diverged from default")
    assert(clusAt(0) == clusAt(K), "clustered head: L=k diverged from default")
    // the two layouts keep answering identically at a WIDER L (one
    // walk skeleton, one keep rule — the width is layout-independent)
    val wideHash = hashAt(4 * K)
    val wideClus = clusAt(4 * K)
    assert(wideClus == wideHash, "layouts diverged at L = 4k")
    // answers stay top-k-SHAPED at any L: exactly k rows per query
    // (the final keep is k regardless of the walk's width)
    val perQ = wideHash.groupBy(_._1).view.mapValues(_.size).toMap
    assert(perQ.values.forall(_ == K),
      s"some query served != $K answers at L=4k: $perQ")
    // fixture pin (not a theorem): on this corpus the wider walk's
    // recall vs brute-force truth is no worse than the default's
    val bf = broadcast(queries.select($"qid", $"v".as("qv")))
      .join(vecs.select($"vec_id".as("node"), $"v".as("cv")),
        $"qid" =!= $"node")
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy($"qid")
          .orderBy(VectorOps.cosine($"qv", $"cv").desc, $"node")))
      .filter($"rn" <= K).select($"qid", $"node")
      .as[(Long, Long)].collect().toSet
    val rDefault = (hashAt(0) & bf).size
    val rWide = (wideHash & bf).size
    assert(rWide >= rDefault,
      s"fixture pin moved: recall at L=4k ($rWide) < default ($rDefault)")
    vecs.unpersist()
  }

  test("multi-probe entries: P=1 ≡ single-cell routing, P>1 supersets per query, recall pin") {
    import spark.implicits._
    import graft.similarity.VectorOps.toDouble
    val vecs = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select($"vec_id", toDouble($"embedding").as("v")).cache()
    val graph = KnnGraph.build(vecs, K, rounds = 2).last
    val root = java.nio.file.Files.createTempDirectory("graft-clusp").toString
    val sample = vecs.select($"v").as[Seq[Double]].collect()
      .map(_.toArray).toIndexedSeq
    val cents = Pq.trainCodebook(sample, Cells).map(_.toSeq).toSeq
    KnnGraph.writeStoreClustered(graph, vecs, s"$root/clus", cents)
    KnnGraph.writeEntries(vecs, s"$root/clus")
    KnnGraph.writeVectors(vecs, s"$root/vec")
    val queries = vecs.filter($"vec_id" < 16).select($"vec_id".as("qid"), $"v")
    // routing parity: nearestCols' top-1 IS nearestCol's pick on every
    // corpus row (same distance arithmetic, same tie rule)
    val parity = vecs.select(
        Pq.nearestCol($"v", cents).as("one"),
        org.apache.spark.sql.functions.element_at(
          Pq.nearestCols($"v", cents, 1), 1).as("top"))
      .filter($"one" =!= $"top").count()
    assert(parity == 0, s"nearestCols top-1 diverged from nearestCol on $parity rows")
    // P=1 goes through the historical single-cell path bit-exactly
    def entriesAt(p: Int) = KnnGraph.storedEntries(spark, s"$root/clus",
        queries, probes = p)
      .as[(Long, Long, Int)].collect().toSet
    assert(entriesAt(1) == KnnGraph.storedEntries(spark, s"$root/clus", queries)
      .as[(Long, Long, Int)].collect().toSet, "P=1 diverged from the default path")
    // P>1 strictly widens per query: every P=1 entry row survives, the
    // extra rows come from other cells, and per-query cells ≤ P
    val e1 = entriesAt(1); val e4 = entriesAt(4)
    assert(e1.subsetOf(e4), "P=4 dropped a P=1 entry row")
    val cellsPerQ = e4.groupBy(_._1).view.mapValues(_.map(_._3).size).toMap
    assert(cellsPerQ.values.forall(_ <= 4),
      s"some query entered more than P=4 distinct cells: $cellsPerQ")
    // serving at P keeps the top-k answer shape, and on this fixture
    // entry diversity never hurts recall (pin, not a theorem)
    def serveAt(p: Int) = KnnGraph.serveFromStores(spark,
        s"$root/clus", s"$root/vec", queries, K, beamRounds = 3,
        entryProbes = p).as[(Long, Long)].collect().toSet
    val a1 = serveAt(1); val a4 = serveAt(4)
    assert(a4.groupBy(_._1).values.forall(_.size == K),
      "P=4 serve broke the k-per-query shape")
    val bf = broadcast(queries.select($"qid", $"v".as("qv")))
      .join(vecs.select($"vec_id".as("node"), $"v".as("cv")),
        $"qid" =!= $"node")
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy($"qid")
          .orderBy(VectorOps.cosine($"qv", $"cv").desc, $"node")))
      .filter($"rn" <= K).select($"qid", $"node")
      .as[(Long, Long)].collect().toSet
    assert((a4 & bf).size >= (a1 & bf).size,
      s"fixture pin moved: recall at P=4 (${(a4 & bf).size}) < P=1 (${(a1 & bf).size})")
    vecs.unpersist()
  }

  test("stored entry points: per-cell nearest members, zero corpus scan at serve, erase-aware") {
    import spark.implicits._
    import graft.similarity.VectorOps.toDouble
    val vecs = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select($"vec_id", toDouble($"embedding").as("v")).cache()
    val graph = KnnGraph.build(vecs, K, rounds = 2).last
    val root = java.nio.file.Files.createTempDirectory("graft-entry").toString
    val sample = vecs.select($"v").as[Seq[Double]].collect()
      .map(_.toArray).toIndexedSeq
    val cents = Pq.trainCodebook(sample, Cells).map(_.toSeq).toSeq
    KnnGraph.writeStoreClustered(graph, vecs, s"$root/clus", cents)
    KnnGraph.writeVectors(vecs, s"$root/vec")
    // perCell pinned to 1: this test asserts the NEAREST-MEMBER pick
    // mechanics (one row per cell, exact dist/id tie-break) — the
    // n-dependent density default would add rows and make the per-cell
    // replay ambiguous (density is the probes' measured subject)
    KnnGraph.writeEntries(vecs, s"$root/clus", perCell = 1)

    // sidecar correctness vs a driver replay: one row per nonempty
    // cell, each the cell's nearest member (dist ASC, id tie-break)
    val vLocal = vecs.as[(Long, Seq[Double])].collect()
      .map { case (id, v) => id -> v.toArray }.toMap
    def sqd(a: Array[Double], b: Seq[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
      s
    }
    def cellOf(v: Array[Double], cs: Seq[Seq[Double]]): Int =
      cs.zipWithIndex.minBy { case (c, i) => (sqd(v, c), i) }._2
    val expected = vLocal.toSeq
      .map { case (id, v) => (cellOf(v, cents), id, sqd(v, cents(cellOf(v, cents)))) }
      .groupBy(_._1).map { case (cid, rows) =>
        cid -> rows.minBy { case (_, id, d) => (d, id) }._2 }
    val sidecar = spark.read.parquet(s"$root/clus/_graft_entries")
      .select($"cid", $"node", $"node_bucket").as[(Int, Long, Int)]
      .collect()
    assert(sidecar.map(r => r._1 -> r._2).toMap == expected,
      "entry sidecar diverged from the per-cell nearest member")
    sidecar.foreach { case (cid, _, b) =>
      assert(b == cid, "an entry's routing bucket must be its own cell") }

    // entry resolution reads the sidecar only — no corpus scan. The
    // probe carries the vector of a DIRECT GRAPH NEIGHBOR of its
    // cell's entry (same cell as the entry, so the walk starts there
    // and reaches it in one expansion by construction — a findability
    // guarantee that does not depend on this rough graph's longer-range
    // navigability; entry QUALITY is sq22b's measured subject)
    val entryNode = sidecar.head._2
    val target = spark.read.parquet(s"$root/clus")
      .filter($"src" === entryNode)
      .join(vecs.select($"vec_id".as("nbr"), $"v"), Seq("nbr"))
      .withColumn("cid", Pq.nearestCol($"v", cents))
      .filter($"cid" === sidecar.head._1)
      .orderBy($"nbr").select($"nbr", $"v").as[(Long, Seq[Double])]
      .head()
    val probe = Seq((target._1 + 1000000L, target._2)).toDF("qid", "v")
    val resolved = KnnGraph.storedEntries(spark, s"$root/clus", probe)
    val scanned = resolved.queryExecution.sparkPlan.collect {
      case f: FileSourceScanExec => f.relation.location.rootPaths.map(_.toString)
    }.flatten
    assert(scanned.forall(_.contains("_graft_entries")),
      s"entry resolution scanned beyond the sidecar: $scanned")
    assert(resolved.select($"node").as[Long].head() == entryNode,
      "probe did not route to its cell's stored entry")

    // the fully store-resident warm serve finds the target
    val served = KnnGraph.serveFromStores(spark, s"$root/clus",
        s"$root/vec", probe, K, beamRounds = 3)
      .as[(Long, Long)].collect()
    assert(served.exists(_._2 == target._1),
      "warm stored-entry serving did not find the entry's own neighbor; " +
        s"served=${served.map(_._2).mkString(",")}")

    // erasing a node that IS a cell entry drops it from the sidecar
    val entryVictim = sidecar.head._2
    KnnGraph.eraseStoredClustered(spark, s"$root/clus", Seq(entryVictim),
      vecPath = s"$root/vec")
    val sidecarAfter = spark.read.parquet(s"$root/clus/_graft_entries")
      .select($"node").as[Long].collect().toSet
    assert(!sidecarAfter.contains(entryVictim),
      "an erased victim survived as a stored entry point")

    // a DRAINED sidecar (every entry erased before a writeEntries
    // refresh) must be a loud error — a silent empty entries frame
    // would answer every query with zero rows
    val sidecarDf = spark.read.parquet(s"$root/clus/_graft_entries")
    spark.createDataFrame(java.util.Collections.emptyList[org.apache.spark.sql.Row](),
        sidecarDf.schema)
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$root/clus/_graft_entries")
    val drained = intercept[IllegalArgumentException](
      KnnGraph.storedEntries(spark, s"$root/clus", probe))
    assert(drained.getMessage.contains("rerun writeEntries"))
    vecs.unpersist()
  }

  test("clustered ingest: streamed inserts append mutual edges with correct carried buckets") {
    import spark.implicits._
    import graft.similarity.VectorOps.toDouble
    val all = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select($"vec_id", toDouble($"embedding").as("v")).cache()
    val newId = 289L
    val base = all.filter($"vec_id" =!= newId)
    val root = java.nio.file.Files.createTempDirectory("graft-cgrow").toString
    val sample = base.select($"v").as[Seq[Double]].collect()
      .map(_.toArray).toIndexedSeq
    val cents = Pq.trainCodebook(sample, Cells).map(_.toSeq).toSeq
    KnnGraph.writeStoreClustered(KnnGraph.build(base, K, rounds = 2).last,
      base, s"$root/clus", cents)
    KnnGraph.writeVectors(base, s"$root/vec")
    KnnGraph.writeEntries(base, s"$root/clus")
    val newVec = all.filter($"vec_id" === newId)
      .select($"v").as[Seq[Double]].head()
    graft.streaming.StreamingGraphIngest.insertClusteredBatch(
      Seq((newId, newVec)).toDF("vec_id", "v"), s"$root/clus",
      s"$root/vec", K, beamRounds = 3)
    val adj = spark.read.parquet(s"$root/clus").cache()
    val out = adj.filter($"src" === newId)
      .select($"nbr", $"nbr_bucket", $"bucket").as[(Long, Int, Int)].collect()
    assert(out.length == K, s"inserted node has ${out.length} != $K out-edges")
    val assign = all.select($"vec_id",
        Pq.nearestCol($"v", cents).as("c"))
      .as[(Long, Int)].collect().toMap
    out.foreach { case (nbr, nb, b) =>
      assert(b == assign(newId), "new edge routed outside its own cell")
      assert(nb == assign(nbr), s"edge to $nbr carries wrong nbr_bucket")
    }
    val back = adj.filter($"nbr" === newId)
      .select($"src", $"nbr_bucket", $"bucket").as[(Long, Int, Int)].collect()
    assert(back.map(_._1).toSet == out.map(_._1).toSet,
      "inserted node's edges are not mutual")
    back.foreach { case (src, nb, b) =>
      assert(b == assign(src) && nb == assign(newId),
        s"reverse edge from $src carries wrong buckets")
    }
    // findable through the fully store-resident warm head
    val probe = Seq((newId + 1000000L, newVec)).toDF("qid", "v")
    val served = KnnGraph.serveFromStores(spark, s"$root/clus",
        s"$root/vec", probe, K, beamRounds = 4)
      .as[(Long, Long)].collect()
    assert(served.exists(_._2 == newId),
      "warm clustered serving did not find the streamed insert")
    adj.unpersist(); all.unpersist()
  }

  test("centroidsOf caches per sidecar content: a same-path rewrite is never served stale") {
    import spark.implicits._
    // r17: centroidsOf memoizes the immutable sidecar per (path,
    // part-file listing) so a serve pays no collect job per call — this
    // pins the invalidation side: rewriting _graft_centroids at the SAME
    // path (fresh UUID-named parts) must miss the cache and return the
    // new centroids, and a repeat read must return the same object
    val root = java.nio.file.Files.createTempDirectory("graft-centcache").toString
    def writeCents(cents: Seq[Seq[Double]]): Unit =
      cents.zipWithIndex.map { case (c, i) => (i, c) }
        .toDF("cid", "centroid")
        .coalesce(1).write.mode("overwrite").parquet(s"$root/_graft_centroids")
    val c1 = Seq(Seq(0.0, 1.0), Seq(2.0, 3.0))
    val c2 = Seq(Seq(9.0, 8.0), Seq(7.0, 6.0))
    writeCents(c1)
    assert(KnnGraph.centroidsOf(spark, root) == c1, "first read wrong")
    assert(KnnGraph.centroidsOf(spark, root) == c1, "cached re-read wrong")
    writeCents(c2)
    assert(KnnGraph.centroidsOf(spark, root) == c2,
      "same-path rewrite served STALE centroids — cache key failed to miss")
  }
}
