package graft.similarity

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** repruneStored — the α-pruned serving store's maintenance rung:
  * search candidates over the CURRENT store, re-α-pruned, published as
  * a new clustered version (the r14 counterpart of refineDurable,
  * which maintains the exact graph and measurably damages a pruned
  * serving store). */
class RepruneSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val K = 8

  test("reprune publishes a servable v2; erased nodes appear in no v2 edge; lifecycle + determinism") {
    import spark.implicits._
    import graft.similarity.VectorOps.toDouble
    val vecs = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select($"vec_id", toDouble($"embedding").as("v"))
      .filter($"vec_id" < 256).cache()
    val graph = KnnGraph.build(vecs, K, rounds = 2).last
    val pruned = KnnGraph.robustPrune(vecs,
        KnnGraph.searchCandidates(vecs, graph, K, beamRounds = 3),
        r = K, alpha = 1.25)
      .select($"src", $"nbr")
    val sample = vecs.select($"v").as[Seq[Double]].collect()
      .map(_.toArray).toIndexedSeq
    val cents = Pq.trainCodebook(sample, 16).map(_.toSeq).toSeq
    val root = java.nio.file.Files.createTempDirectory("graft-reprune").toString
    KnnGraph.writeStoreClustered(pruned, vecs, s"$root/g", cents)
    KnnGraph.writeEntries(vecs, s"$root/g")
    KnnGraph.writeVectors(vecs, s"$root/vec")
    // erase two served nodes — the maintenance pass must not resurrect
    // them in ANY form (their vectors are gone, so no pool can score
    // them and no v2 edge may name them)
    val victims = Seq(50L, 99L)
    KnnGraph.eraseStoredClustered(spark, s"$root/g", victims,
      vecPath = s"$root/vec", eraseVectors = true)
    KnnGraph.repruneStored(spark, s"$root/g", s"$root/vec", s"$root/g2",
      degree = K, alpha = 1.25, k = K, beamRounds = 3)
    val v2 = spark.read.parquet(s"$root/g2")
    assert(v2.filter($"src".isin(victims: _*) || $"nbr".isin(victims: _*))
      .isEmpty, "an erased node survived into the repruned version")
    // v2 serves full answers through the warm clustered head, never a victim
    val queries = vecs.filter($"vec_id" < 8).select($"vec_id".as("qid"), $"v")
    val served = KnnGraph.serveFromStores(
      spark, s"$root/g2", s"$root/vec", queries, K, beamRounds = 4)
      .as[(Long, Long)].collect()
    assert(served.length == 8 * K, s"expected ${8 * K} answers, got ${served.length}")
    assert(served.forall { case (_, node) => !victims.contains(node) })
    // the same lifecycle control plane as every rebuild
    import graft.ml.IndexLifecycle
    val reg = s"$root/registry"
    IndexLifecycle.register(spark, reg, "g", "knn_graph_composed", s"$root/g", 1)
    IndexLifecycle.promote(spark, reg, "g", 1)
    IndexLifecycle.register(spark, reg, "g", "knn_graph_composed", s"$root/g2", 2)
    IndexLifecycle.promote(spark, reg, "g", 2)
    assert(IndexLifecycle.pinnedPath(spark, reg, "g").contains(s"$root/g2"))
    assert(IndexLifecycle.rollback(spark, reg, "g").isDefined)
    assert(IndexLifecycle.pinnedPath(spark, reg, "g").contains(s"$root/g"))
    // deterministic: a second reprune of the same store publishes the
    // identical edge set
    KnnGraph.repruneStored(spark, s"$root/g", s"$root/vec", s"$root/g3",
      degree = K, alpha = 1.25, k = K, beamRounds = 3)
    val v3 = spark.read.parquet(s"$root/g3")
    assert(v2.select($"src", $"nbr").except(v3.select($"src", $"nbr")).isEmpty &&
      v3.select($"src", $"nbr").except(v2.select($"src", $"nbr")).isEmpty)
    vecs.unpersist()
  }

  test("incremental reprune: churn-scoped repair, untouched edges survive verbatim, victims stay dead") {
    import spark.implicits._
    import graft.similarity.VectorOps.toDouble
    val vecs = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select($"vec_id", toDouble($"embedding").as("v"))
      .filter($"vec_id" < 256).cache()
    val graph = KnnGraph.build(vecs, K, rounds = 2).last
    val pruned = KnnGraph.robustPrune(vecs,
        KnnGraph.searchCandidates(vecs, graph, K, beamRounds = 3),
        r = K, alpha = 1.25)
      .select($"src", $"nbr")
    val sample = vecs.select($"v").as[Seq[Double]].collect()
      .map(_.toArray).toIndexedSeq
    val cents = Pq.trainCodebook(sample, 16).map(_.toSeq).toSeq
    val root = java.nio.file.Files
      .createTempDirectory("graft-ireprune").toString
    KnnGraph.writeStoreClustered(pruned, vecs, s"$root/g", cents)
    KnnGraph.writeEntries(vecs, s"$root/g")
    KnnGraph.writeVectors(vecs, s"$root/vec")
    // churn: 2 perturbed arrivals inserted, then one of them erased —
    // the insert→erase cycle the incremental rung exists to absorb
    val arrivals = vecs.filter($"vec_id" < 2)
      .select(($"vec_id" + 5000L).as("vec_id"),
        transform($"v", (x, i) => when(i === 0,
          x + lit(0.01) * (abs(x) + lit(1.0))).otherwise(x)).as("v"))
      .localCheckpoint(true)
    graft.streaming.StreamingGraphIngest.insertClusteredBatch(
      arrivals, s"$root/g", s"$root/vec", K, beamRounds = 3)
    val vicCells = arrivals.filter($"vec_id" === 5001L)
      .select(Pq.nearestCol($"v", cents).as("c"))
      .as[Int].collect().toSeq
    KnnGraph.eraseStoredClustered(spark, s"$root/g", Seq(5001L),
      vecPath = s"$root/vec", eraseVectors = true)
    val v1 = spark.read.parquet(s"$root/g")
      .select($"src", $"nbr").localCheckpoint(true)
    // churn arrives as a 10,000-row FRAME (r16 verdict #4): the rung
    // must take production-shaped churn through joins, never a
    // driver-side literal list. Only two of the ids exist (the
    // arrivals — one since erased); the other 9,998 are ids the store
    // never held, which the frame path must shrug off exactly like the
    // erased one (no stored rows → no cells, no fringe)
    val churnFrame = spark.range(5000L, 15000L).toDF("vec_id")
    val nScope = KnnGraph.repruneStoredIncremental(spark, s"$root/g",
      s"$root/vec", s"$root/g2", degree = K, alpha = 1.25, k = K,
      beamRounds = 3, churn = churnFrame, extraCells = vicCells)
    // churn-scoped: the repair set is a strict subset of the corpus
    // (cells are 16-way over 256 nodes, churn touches a couple)
    assert(nScope > 0 && nScope < 200,
      s"scope $nScope is not churn-scoped on a 257-node store")
    val v2 = spark.read.parquet(s"$root/g2")
      .select($"src", $"nbr").localCheckpoint(true)
    // the erased arrival names no v2 edge
    assert(v2.filter($"src" === 5001L || $"nbr" === 5001L).isEmpty,
      "erased victim survived the incremental reprune")
    // UNTOUCHED edges survive VERBATIM: every v1 edge with neither
    // endpoint in a repaired list is present in v2 (cost scales with
    // churn precisely because these rows are spliced, not recomputed)
    val touched = v1.select($"src", $"nbr")
      .except(v2.select($"src", $"nbr"))
      .select($"src").union(v1.select($"src", $"nbr")
        .except(v2.select($"src", $"nbr")).select($"nbr"))
      .distinct().as[Long].collect().toSet
    // every dropped v1 edge must be explainable by the repair scope: it
    // touches a churn cell member or the churn fringe — proxy check:
    // the number of distinct endpoints behind dropped edges is bounded
    // by the scope (plus the scope's own former neighbors)
    assert(touched.size <= nScope * (K + 2),
      s"splice dropped edges far beyond the repair scope: " +
        s"${touched.size} endpoints vs scope $nScope")
    // the SURVIVING arrival is still served by the exact head on the
    // new version (entries refreshed, edges repaired)
    val probe = arrivals.filter($"vec_id" === 5000L)
      .select(($"vec_id" + 1000L).as("qid"), $"v")
    val found = KnnGraph.serveFromStores(spark, s"$root/g2",
        s"$root/vec", probe, K, beamRounds = 4)
      .filter($"node" === 5000L).count()
    assert(found == 1, "surviving arrival unfindable after incremental reprune")
    // empty churn publishes the old adjacency verbatim
    val zero = KnnGraph.repruneStoredIncremental(spark, s"$root/g2",
      s"$root/vec", s"$root/g3", degree = K, alpha = 1.25, k = K,
      beamRounds = 3, churnedIds = Nil, extraCells = Nil,
      pruneWorkDir = None)
    assert(zero == 0L)
    val v3 = spark.read.parquet(s"$root/g3").select($"src", $"nbr")
    assert(v2.except(v3).isEmpty && v3.except(v2).isEmpty,
      "empty-churn incremental reprune changed the edge set")
    vecs.unpersist()
  }
}
