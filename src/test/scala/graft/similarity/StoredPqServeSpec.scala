package graft.similarity

import graft.TestSpark
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** [[KnnGraph.serveFromStoresPq]] — the stored edition of sq24's
  * PQ-guided serving: beam rounds point-fetch M-byte codes (bucket-
  * pruned, id filter pushed), the vector store is touched only by the
  * final exact re-rank. The whole loop is replayed DRIVER-SIDE with
  * bit-identical arithmetic (the left-associated LUT folds and the
  * cosineLocal replica) and the answers must match exactly — the
  * StoredGraphSpec discipline applied to the quantized path. */
class StoredPqServeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val K = 8
  private val M = 8
  private val Sub = 8

  private def corpus() = {
    import spark.implicits._
    import graft.similarity.VectorOps.toDouble
    graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select($"vec_id", toDouble($"embedding").as("v")).cache()
  }

  test("stored PQ serving: codes fetch is pruned and the loop replays bit-exactly on the driver") {
    import spark.implicits._
    val vecs = corpus()
    val sample = vecs.select($"vec_id", $"v").orderBy($"vec_id").limit(20000)
      .collect().map(_.getSeq[Double](1).toArray).toIndexedSeq
    val cb = Pq.trainSubspaces(sample, M, Sub, 16)
    val root = java.nio.file.Files.createTempDirectory("graft-pqserve").toString
    val graph = KnnGraph.build(vecs, K, rounds = 2).last
    KnnGraph.writeStore(graph, s"$root/g")
    KnnGraph.writeVectors(vecs, s"$root/vec")
    KnnGraph.writeCodes(Pq.pqEncode(vecs, cb, Sub), s"$root/codes")

    // (1) pruning: a 3-id fetch spanning 2 buckets reads ≤ 2 bucket
    // dirs with the id filter pushed
    val ids = Seq(5L, 37L, 70L).toDF("node")
    val fetched = KnnGraph.fetch(KnnGraph.openStore(spark, s"$root/codes"), ids)
      .withColumnRenamed("vec_id", "node")
    val scans = fetched.queryExecution.sparkPlan.collect {
      case f: FileSourceScanExec if f.relation.location.rootPaths
        .exists(_.toString.contains("graft-pqserve")) => f
    }
    assert(scans.nonEmpty, "the fetch must read the codes store")
    scans.foreach { f =>
      assert(f.selectedPartitions.partitionCount <= 2,
        "codes fetch read more bucket dirs than the ids span")
      assert(f.dataFilters.nonEmpty, "vec_id filter not pushed to the scan")
    }
    assert(fetched.select($"node").as[Long].collect().toSet == Set(5L, 37L, 70L))

    // (2) the served answers equal a driver-side replay exactly
    val beamRounds = 3
    val queries = vecs.filter($"vec_id" < 16).select($"vec_id".as("qid"), $"v")
    val served = KnnGraph.serveFromStoresPq(spark, s"$root/g", s"$root/codes",
        s"$root/vec", queries, cb, K, beamRounds)
      .as[(Long, Long)].collect().toSet

    val vLocal = vecs.as[(Long, Seq[Double])].collect()
      .map { case (id, v) => id -> v.toArray }.toMap
    val n = vLocal.size.toLong
    val codeLocal = spark.read.parquet(s"$root/codes")
      .select(($"vec_id" +: (0 until M).map(mi => col(s"c$mi"))): _*)
      .collect().map(r => r.getLong(0) ->
        (0 until M).map(mi => r.getInt(mi + 1)).toArray).toMap
    val undLocal = {
      val e = graph.select($"src", $"nbr").as[(Long, Long)].collect()
      (e ++ e.map(p => (p._2, p._1))).distinct
        .groupBy(_._1).map { case (s, a) => s -> a.map(_._2).toSet }
    }
    // bit-exact LUT: left-associated fold per subspace, mi-ordered sum
    def lut(q: Array[Double], mi: Int, ki: Int): Double = {
      var s = 0.0; var j = 0
      while (j < Sub) {
        val d = q(mi * Sub + j) - cb(mi)(ki)(j); s += d * d; j += 1
      }
      s
    }
    def adist(q: Array[Double], code: Array[Int]): Double = {
      var s = lut(q, 0, code(0)); var mi = 1
      while (mi < M) { s += lut(q, mi, code(mi)); mi += 1 }
      s
    }
    def keepAsc(c: Seq[(Long, Double)], k: Int) = c.sortWith {
      case ((na, da), (nb, db)) =>
        val cmp = java.lang.Double.compare(da, db)
        cmp < 0 || (cmp == 0 && na < nb)
    }.take(k)
    val qids = vLocal.keySet.filter(_ < 16).toSeq.sorted
    val expected = qids.flatMap { qid =>
      val q = vLocal(qid)
      val entry = (qid * 37 + 1) % n
      var pool = Set(entry)
      var frontier = Seq(entry)
      for (_ <- 1 to beamRounds) {
        val fresh = frontier.flatMap(undLocal.getOrElse(_, Set.empty))
          .distinct.filterNot(pool.contains)
        val kept = keepAsc(fresh.flatMap(c =>
          codeLocal.get(c).map(code => c -> adist(q, code))), K).map(_._1)
        frontier = kept
        pool ++= kept
      }
      // ADC top-2k ∪ the entry node (r16: entries always join the
      // exact re-rank — the freshness contract must not pass through
      // ADC's resolution; see serveFromStoresPq)
      val shortlist = (keepAsc((pool - qid).toSeq.flatMap(c =>
        codeLocal.get(c).map(code => c -> adist(q, code))), 2 * K).map(_._1) ++
        Seq(entry).filter(_ != qid)).distinct
      shortlist.flatMap(c => vLocal.get(c)
          .map(cv => c -> KnnGraph.cosineLocal(q, cv)))
        .sortWith { case ((na, ca), (nb, cbs)) =>
          val cmp = java.lang.Double.compare(cbs, ca)
          cmp < 0 || (cmp == 0 && na < nb)
        }.take(K).map { case (node, _) => qid -> node }
    }.toSet
    assert(served == expected,
      "stored PQ serving diverged from the bit-exact driver replay")
    vecs.unpersist()
  }

  test("codes sidecar stays in lockstep: streamed inserts append codes, erasure removes them") {
    import spark.implicits._
    val vecs = corpus()
    val sample = vecs.select($"vec_id", $"v").orderBy($"vec_id").limit(20000)
      .collect().map(_.getSeq[Double](1).toArray).toIndexedSeq
    val cb = Pq.trainSubspaces(sample, M, Sub, 16)
    val root = java.nio.file.Files.createTempDirectory("graft-pqlock").toString
    val newId = 173L
    val base = vecs.filter($"vec_id" =!= newId)
    KnnGraph.writeStore(KnnGraph.build(base, K, rounds = 2).last, s"$root/g")
    KnnGraph.writeVectors(base, s"$root/vec")
    KnnGraph.writeCodes(Pq.pqEncode(base, cb, Sub), s"$root/codes")
    val newVec = vecs.filter($"vec_id" === newId)
      .select($"v").as[Seq[Double]].head()

    // an insert with the codes option appends the arrival's code row
    // into its arithmetic bucket — the PQ head's serving contract
    graft.streaming.StreamingGraphIngest.insertBatch(
      Seq((newId, newVec)).toDF("vec_id", "v"), s"$root/g", s"$root/vec", K,
      beamRounds = 3, codes = Some((s"$root/codes", cb)))
    val codeRow = spark.read.parquet(s"$root/codes")
      .filter($"vec_id" === newId)
    assert(codeRow.count() == 1, "insert must append exactly one code row")
    assert(codeRow.select($"bucket").as[Int].head() ==
      (newId % KnnGraph.openStore(spark, s"$root/codes").buckets).toInt,
      "code row landed outside the store's recorded bucket arithmetic")
    // the appended code equals the frozen-codebook encode of the vector
    val appended = codeRow
      .select((0 until M).map(mi => col(s"c$mi")): _*).head()
    val direct = Pq.pqEncode(Seq((newId, newVec)).toDF("vec_id", "v"), cb, Sub)
      .select((0 until M).map(mi => col(s"c$mi")): _*).head()
    assert(appended == direct, "appended code diverged from the encode")

    // findable THROUGH the quantized head — would fail without the
    // codes append (the ADC rank inner-joins the codes store)
    val probe = Seq((newId + 1000000L, newVec)).toDF("qid", "v")
    def pqServe() = KnnGraph.serveFromStoresPq(spark, s"$root/g",
        s"$root/codes", s"$root/vec", probe, cb, K, beamRounds = 4,
        entries = Some(KnnGraph.sampledEntries(vecs, probe, stride = 8)))
      .as[(Long, Long)].collect()
    assert(pqServe().exists(_._2 == newId),
      s"quantized head did not find inserted node $newId")

    // erasure reaches the sidecar: the victim's code row — still a
    // (quantized) representation of the victim — is physically gone,
    // and the quantized head can never answer the victim again
    KnnGraph.eraseStored(spark, s"$root/g", Seq(newId),
      vecPath = Some(s"$root/vec"), codesPath = Some(s"$root/codes"))
    assert(spark.read.parquet(s"$root/codes")
      .filter($"vec_id" === newId).isEmpty,
      "victim's code row survived the erase")
    assert(!pqServe().exists(_._2 == newId),
      "quantized head served an erased victim")
    vecs.unpersist()
  }
}
