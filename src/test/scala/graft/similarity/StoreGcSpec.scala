package graft.similarity

import graft.TestSpark
import graft.ml.IndexLifecycle
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Store-version retention/GC (r16 verdict #6): copy-on-write
  * maintenance publishes version DAGs with shared inodes, and
  * [[IndexLifecycle.reap]] is the registry-driven reclaim. The two
  * contracts under test: the RETENTION rule (pinned, rollback target,
  * and newest registered are never reapable) and the HARD-LINK safety
  * property — a surviving version serves bit-identically after the
  * version its files were linked from is deleted, because links hold
  * the inode. */
class StoreGcSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val K = 8

  test("reap keeps pinned + rollback target + latest; links survive the parent's delete") {
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
    val root = java.nio.file.Files.createTempDirectory("graft-gc").toString
    KnnGraph.writeStoreClustered(pruned, vecs, s"$root/v1", cents)
    KnnGraph.writeEntries(vecs, s"$root/v1")
    KnnGraph.writeVectors(vecs, s"$root/vec")
    val reg = s"$root/registry"
    IndexLifecycle.register(spark, reg, "g", "knn_graph_composed", s"$root/v1", 1)
    IndexLifecycle.promote(spark, reg, "g", 1)
    // two copy-on-write maintenance publishes: v2 links v1's untouched
    // partitions, v3 links v2's — the inode chain the reap must not break
    def publish(src: String, dst: String): Unit =
      KnnGraph.repruneStoredIncremental(spark, src, s"$root/vec", dst,
        degree = K, alpha = 1.25, k = K, beamRounds = 3,
        churnedIds = Seq(1L, 2L), extraCells = Nil, pruneWorkDir = None)
    publish(s"$root/v1", s"$root/v2")
    IndexLifecycle.register(spark, reg, "g", "knn_graph_composed", s"$root/v2", 2)
    IndexLifecycle.promote(spark, reg, "g", 2)
    publish(s"$root/v2", s"$root/v3")
    IndexLifecycle.register(spark, reg, "g", "knn_graph_composed", s"$root/v3", 3)
    IndexLifecycle.promote(spark, reg, "g", 3)
    // retention: pinned v3, rollback target v2, latest v3 → only v1 goes
    val eligible = IndexLifecycle.reapable(spark, reg, "g")
    assert(eligible.map(_.model_id) == Seq("g-v1"),
      s"retention picked ${eligible.map(_.model_id)}, expected only g-v1")
    val queries = vecs.filter($"vec_id" < 8).select($"vec_id".as("qid"), $"v")
    def served(path: String): Set[(Long, Long)] =
      KnnGraph.serveFromStores(spark, path, s"$root/vec",
        queries, K, beamRounds = 4).as[(Long, Long)].collect().toSet
    val beforeV3 = served(s"$root/v3")
    val beforeV2 = served(s"$root/v2")
    val reclaimed = IndexLifecycle.reap(spark, reg, "g")
    assert(reclaimed == Seq(s"$root/v1"))
    assert(!new java.io.File(s"$root/v1").exists(), "reaped dir survived")
    // the PINNED version's files survive the reap of the version they
    // were hard-linked from: v3 serves bit-identically
    assert(served(s"$root/v3") == beforeV3,
      "pinned v3's answers changed after reaping its link ancestor")
    // the rollback escape hatch stays honorable: roll back to v2, serve
    assert(IndexLifecycle.rollback(spark, reg, "g").contains("g-v2"))
    assert(IndexLifecycle.pinnedPath(spark, reg, "g").contains(s"$root/v2"))
    assert(served(s"$root/v2") == beforeV2)
    // idempotent: nothing left to reap (v1 is in the .reaped log; the
    // post-rollback keeps are v2 = pinned, v3 = rollback target + latest)
    assert(IndexLifecycle.reap(spark, reg, "g").isEmpty)
    // an unpromoted fresh registration is protected as "latest"
    IndexLifecycle.register(spark, reg, "g", "knn_graph_composed", s"$root/v4", 4)
    assert(!IndexLifecycle.reapable(spark, reg, "g")
      .exists(_.model_id == "g-v4"),
      "an unpromoted latest build must not be reapable")
    vecs.unpersist()
  }
}
