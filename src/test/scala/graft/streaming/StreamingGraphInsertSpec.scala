package graft.streaming

import graft.TestSpark
import graft.similarity.KnnGraph
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Streamed HNSW-style insertion into the stored k-NN graph (r11
  * verdict ask #4): new nodes become reachable as their micro-batch
  * commits, streamed-inserted serving stays within a recall floor of a
  * full rebuild, and the registry pin keeps a rebuild invisible until
  * promote — the same lifecycle the IVF family proves. */
class StreamingGraphInsertSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val K = 8

  test("streamed inserts are mutually linked, findable, and serve within a recall floor of a rebuild") {
    import spark.implicits._
    import graft.similarity.VectorOps.{toDouble, cosine}
    val all = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select($"vec_id", toDouble($"embedding").as("v")).cache()
    val newIds = Seq(173L, 289L, 407L, 463L)
    val base = all.filter(!$"vec_id".isin(newIds: _*))
    val root = java.nio.file.Files.createTempDirectory("graft-ggrow").toString
    // pinned 32: assertion 1 below checks appended rows landed in the
    // id%NumBuckets dir (bucket arithmetic, not the sizing policy)
    KnnGraph.writeStore(KnnGraph.build(base, K, rounds = 3).last, s"$root/v1",
      KnnGraph.NumBuckets)
    KnnGraph.writeVectors(base, s"$root/vec", KnnGraph.NumBuckets)

    // stream the 4 held-out nodes in two micro-batches
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Long, Seq[Double])]
    val newVecs = all.filter($"vec_id".isin(newIds: _*))
      .as[(Long, Seq[Double])].collect().toMap
    val q = StreamingGraphIngest.start(
      stream.toDS().toDF("vec_id", "v"), s"$root/v1", s"$root/vec", K,
      beamRounds = 3, checkpointDir = s"$root/ckpt")
    try {
      stream.addData(newIds.take(2).map(id => (id, newVecs(id))))
      q.processAllAvailable()
      stream.addData(newIds.drop(2).map(id => (id, newVecs(id))))
      q.processAllAvailable()
    } finally q.stop()

    // 1. each inserted node carries k mutual edges, bucket-partitioned
    val adj = spark.read.parquet(s"$root/v1").cache()
    newIds.foreach { id =>
      val out = adj.filter($"src" === id)
      assert(out.count() == K, s"node $id has != $K out-edges")
      val back = adj.filter($"nbr" === id).select($"src").as[Long].collect().toSet
      val fwd = out.select($"nbr").as[Long].collect().toSet
      assert(back == fwd, s"node $id's edges are not mutual")
      assert(out.select($"bucket").distinct().as[Int].collect().toSeq ==
        Seq((id % KnnGraph.NumBuckets).toInt))
    }
    // 2. an inserted node is FINDABLE: a probe query carrying the exact
    //    vector of each new node must rank it first. Six beam rounds
    //    (was 4): partly this rounds-3 rough graph — the beam reaches an
    //    inserted node's DIRECT neighbors in ~4 rounds and needs extra
    //    expansions to step into the node itself — and partly the r13
    //    entry-selection change: insertBatch's warm start moved from an
    //    O(n/nb) bucket sample to the ≤64-row `_graft_entries` sidecar,
    //    which shifts WHERE inserted nodes link, and 4 rounds stopped
    //    clearing the assertion in the same commit. The drift floor
    //    below stays the real guard; if findability degrades further,
    //    raise writeHashEntries slots (a denser entry set), not beam
    //    rounds (sq22b measures rounds-to-recall).
    val probes = newIds.map(id => (id + 1000000L, newVecs(id)))
      .toDF("qid", "v")
    val found = KnnGraph.serveStored(spark, s"$root/v1", all, probes, K,
      beamRounds = 6,
      entries = Some(KnnGraph.sampledEntries(all, probes, stride = 8)))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy($"qid")
          .orderBy($"node")))
    newIds.foreach { id =>
      val nodes = found.filter($"qid" === id + 1000000L)
        .select($"node").as[Long].collect().toSet
      assert(nodes.contains(id),
        s"probe with node $id's own vector did not serve $id")
    }
    // 2b. the vector store grew with the stream: STORE-ONLY serving
    //     (no corpus frame anywhere) also finds the inserted nodes
    val foundStoreOnly = KnnGraph.serveFromStores(
      spark, s"$root/v1", s"$root/vec", probes, K, beamRounds = 6,
      entries = Some(KnnGraph.sampledEntries(all, probes, stride = 8)))
    newIds.foreach { id =>
      val nodes = foundStoreOnly.filter($"qid" === id + 1000000L)
        .select($"node").as[Long].collect().toSet
      assert(nodes.contains(id),
        s"store-only serving did not find streamed node $id")
    }
    // 3. recall floor vs a full rebuild over the same corpus
    val queries = all.filter($"vec_id" < 16).select($"vec_id".as("qid"), $"v")
    val bf = broadcast(queries.select($"qid", $"v".as("qv")))
      .join(all.select($"vec_id".as("node"), $"v".as("cv")), $"qid" =!= $"node")
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy($"qid")
          .orderBy(cosine($"qv", $"cv").desc, $"node")))
      .filter($"rn" <= K).select($"qid", $"node").cache()
    def recallFrom(path: String): Double =
      KnnGraph.serveStored(spark, path, all, queries, K, beamRounds = 3)
        .join(bf, Seq("qid", "node"), "left_semi").count().toDouble / (16 * K)
    // the rebuild stays INVISIBLE under the v1 pin until promote
    val registry = s"$root/registry"
    import graft.ml.IndexLifecycle
    IndexLifecycle.register(spark, registry, "g", "knn_graph_index", s"$root/v1", 1)
    IndexLifecycle.promote(spark, registry, "g", 1)
    KnnGraph.writeStore(KnnGraph.build(all, K, rounds = 3).last, s"$root/v2")
    IndexLifecycle.register(spark, registry, "g", "knn_graph_index", s"$root/v2", 2)
    assert(IndexLifecycle.pinnedPath(spark, registry, "g").contains(s"$root/v1"),
      "a written-but-unpromoted rebuild must stay invisible")
    val streamedRecall = recallFrom(
      IndexLifecycle.pinnedPath(spark, registry, "g").get)
    IndexLifecycle.promote(spark, registry, "g", 2)
    val rebuildRecall = recallFrom(
      IndexLifecycle.pinnedPath(spark, registry, "g").get)
    assert(streamedRecall >= rebuildRecall - 0.15,
      f"streamed-inserted serving recall $streamedRecall%.3f fell more than " +
        f"0.15 below the rebuild's $rebuildRecall%.3f")
    adj.unpersist(); bf.unpersist(); all.unpersist()
  }

  test("hash-layout entry sidecar: bounded strided representatives, erase-aware, drained is loud") {
    import spark.implicits._
    import graft.similarity.VectorOps.toDouble
    val vecs = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select($"vec_id", toDouble($"embedding").as("v")).cache()
    val root = java.nio.file.Files.createTempDirectory("graft-hentry").toString
    KnnGraph.writeStore(KnnGraph.build(vecs, K, rounds = 2).last, s"$root/g")
    KnnGraph.writeVectors(vecs, s"$root/vec")

    // the sidecar holds ONE member per id-hash slot — 64 slots here
    // (the n-dependent default scaledSlots(n) sits at its 64 floor for
    // every n ≤ 4096, so this fixture's slot arithmetic is exact), and
    // insertBatch's warm start is zero-corpus-I/O on this layout too
    // (the clustered twin is StoredClusteredSpec's scan assertion)
    val sidecar = KnnGraph.hashEntries(spark, s"$root/vec")
    assert(sidecar.size <= 64, s"sidecar holds ${sidecar.size} rows > 64 slots")
    val ids = vecs.select($"vec_id").as[Long].collect().toSet
    assert(sidecar.map(_._1).forall(ids), "an entry is not a corpus member")
    val slots = sidecar.map(e => Math.floorMod(e._1, 64L))
    assert(slots.distinct.size == sidecar.size,
      "two entry representatives share a slot")
    assert(slots.toSet == ids.map(Math.floorMod(_, 64L)),
      "a non-empty slot is missing its representative")

    // a store-only insert batch searches from sidecar entries and links
    val arrival = vecs.orderBy($"vec_id".desc).limit(1)
      .select(($"vec_id" + 1000L).as("vec_id"), $"v")
    val newId = arrival.select($"vec_id").as[Long].head()
    StreamingGraphIngest.insertBatch(arrival, s"$root/g", s"$root/vec", K,
      beamRounds = 3)
    assert(spark.read.parquet(s"$root/g").filter($"src" === newId).count() == K)

    // erasing a victim that IS an entry representative drops it from
    // the sidecar — a stale entry must never warm-start at an erased node
    val victim = sidecar.map(_._1).min
    KnnGraph.eraseStored(spark, s"$root/g", Seq(victim),
      vecPath = Some(s"$root/vec"))
    val after = KnnGraph.hashEntries(spark, s"$root/vec")
    assert(!after.map(_._1).contains(victim),
      "an erased victim survived as an entry representative")

    // a DRAINED sidecar fails loudly rather than silently rescanning
    val sidecarDf = spark.read.parquet(s"$root/vec/_graft_entries")
    spark.createDataFrame(
        java.util.Collections.emptyList[org.apache.spark.sql.Row](),
        sidecarDf.schema)
      .coalesce(1).write.mode("overwrite").parquet(s"$root/vec/_graft_entries")
    val boom = intercept[IllegalArgumentException](
      StreamingGraphIngest.insertBatch(arrival
        .select(($"vec_id" + 1L).as("vec_id"), $"v"), s"$root/g", s"$root/vec", K,
        beamRounds = 3))
    assert(boom.getMessage.contains("writeHashEntries"))
    vecs.unpersist()
  }
}
