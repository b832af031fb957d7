package graft.similarity

import graft.TestSpark
import graft.similarity.VectorOps.cosine
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The COMPOSED production graph store (sq28): α-pruned adjacency in
  * the clustered layout + entries/centroids sidecars + PQ codes +
  * bucketed vectors, served through [[KnnGraph
  * .serveFromStoresPq]] on a clustered store. Two anchors: the composed head's
  * answers EQUAL the hash-layout quantized head's over the same edges
  * and entries (composition changes where edges live and what a round
  * reads, never which candidates are ranked), and the full lifecycle —
  * insert with code append, erase reaching every sidecar, refine
  * promoted as v2 — holds on ONE store, not one store per feature. */
class ComposedGraphStoreSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val K = 8
  private val Cells = 8
  private val M = 8
  private val Sub = 8
  private val Beam = 3

  private def corpus() = {
    import spark.implicits._
    import graft.similarity.VectorOps.toDouble
    graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select($"vec_id", toDouble($"embedding").as("v")).cache()
  }

  private def answers(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] = {
    import spark.implicits._
    df.select($"qid", $"node").as[(Long, Long)].collect().toSet
  }

  /** Build the full composed store under a fresh root; returns (root,
    * centroids, codebook, pruned edge frame). */
  private def buildComposed(vecs: org.apache.spark.sql.DataFrame) = {
    import spark.implicits._
    val es = KnnGraph.build(vecs, K, rounds = 2)
    val cand = KnnGraph.scoredCandidates(vecs, es.last)
      .withColumn("rn", row_number().over(
        Window.partitionBy($"src").orderBy($"cos".desc, $"nbr")))
      .filter($"rn" <= 24).drop("rn")
      .union(es.head.select($"src", $"nbr", $"cos"))
      .distinct().localCheckpoint(true)
    val pruned = KnnGraph.robustPrune(vecs, cand, K, alpha = 1.25)
      .select($"src", $"nbr").localCheckpoint(true)
    val sample = vecs.select($"vec_id", $"v").orderBy($"vec_id").limit(20000)
      .collect().map(_.getSeq[Double](1).toArray).toIndexedSeq
    val cents = Pq.trainCodebook(sample, Cells).map(_.toSeq).toSeq
    val cb = Pq.trainSubspaces(sample, M, Sub, 16)
    val root = java.nio.file.Files.createTempDirectory("graft-composed").toString
    // bytes-driven sizing (the writers' default) — the same policy sq28
    // deploys: vectors and codes size separately by their own row width
    KnnGraph.writeStoreClustered(pruned, vecs, s"$root/g", cents)
    KnnGraph.writeEntries(vecs, s"$root/g")
    KnnGraph.writeVectors(vecs, s"$root/vec")
    KnnGraph.writeCodes(Pq.pqEncode(vecs, cb, Sub), s"$root/codes")
    (root, cents, cb, pruned)
  }

  test("composed quantized head equals the hash-layout quantized head over the same edges and entries") {
    import spark.implicits._
    val vecs = corpus()
    val (root, _, cb, pruned) = buildComposed(vecs)
    // the SAME pruned edges in the plain hash layout
    KnnGraph.writeStore(pruned, s"$root/ghash")
    val qv = vecs.filter($"vec_id" < 16).select($"vec_id".as("qid"), $"v")
    val composed = answers(KnnGraph.serveFromStoresPq(spark,
      s"$root/g", s"$root/codes", s"$root/vec", qv, cb, K, Beam))
    // hash head warm-started at the SAME stored entry nodes
    val entries = KnnGraph.storedEntries(spark, s"$root/g", qv)
      .select($"qid", $"node")
    val hash = answers(KnnGraph.serveFromStoresPq(spark, s"$root/ghash",
      s"$root/codes", s"$root/vec", qv, cb, K, Beam,
      entries = Some(entries)))
    assert(composed == hash,
      s"composed head diverged from the hash-layout quantized head: " +
        s"only-composed=${(composed -- hash).take(5)} " +
        s"only-hash=${(hash -- composed).take(5)}")
    assert(composed.nonEmpty, "no answers served")
    vecs.unpersist()
  }

  test("lifecycle on ONE composed store: insert appends codes, erase reaches every sidecar, refine v2 serves") {
    import spark.implicits._
    val vecs = corpus()
    val (root, cents, cb, _) = buildComposed(vecs)
    // INSERT: a clone vector under a new id, with code append
    val newId = 1000007L
    val srcVec = vecs.filter($"vec_id" === 7L).select($"v")
      .as[Seq[Double]].head()
    val batch = Seq((newId, srcVec)).toDF("vec_id", "v")
    graft.streaming.StreamingGraphIngest.insertClusteredBatch(
      batch, s"$root/g", s"$root/vec", K, Beam,
      codes = Some((s"$root/codes", cb)))
    // the code row exists and the QUANTIZED head answers the new node
    // from its own vector — the sidecar stayed in lockstep
    assert(spark.read.parquet(s"$root/codes")
      .filter($"vec_id" === newId).count() == 1, "no code row appended")
    // the arrival publishes as an ENTRY of its own cell (r15 — fresh
    // inserts are servable by construction, not by a walk-length
    // lottery; the x100 entry-consistent store measured 0/4 without it)
    assert(spark.read.parquet(s"$root/g/_graft_entries")
      .filter($"node" === newId).count() == 1,
      "fresh arrival not published as a cell entry")
    val probe = Seq((5000007L, srcVec)).toDF("qid", "v")
    val found = answers(KnnGraph.serveFromStoresPq(spark,
      s"$root/g", s"$root/codes", s"$root/vec", probe, cb, K, Beam))
    assert(found.exists(_._2 == newId),
      s"quantized head did not find the inserted node; got $found")
    // ERASE the insert again: adjacency both directions, vectors,
    // codes, entries — nothing anywhere can answer it
    KnnGraph.eraseStoredClustered(spark, s"$root/g", Seq(newId),
      vecPath = s"$root/vec", eraseVectors = true,
      codesPath = Some(s"$root/codes"))
    val adj = spark.read.parquet(s"$root/g")
    assert(adj.filter($"src" === newId || $"nbr" === newId).count() == 0,
      "erased node still present in the adjacency")
    assert(spark.read.parquet(s"$root/vec")
      .filter($"vec_id" === newId).count() == 0, "vector row survived")
    assert(spark.read.parquet(s"$root/codes")
      .filter($"vec_id" === newId).count() == 0, "code row survived")
    assert(spark.read.parquet(s"$root/g/_graft_entries")
      .filter($"node" === newId).count() == 0, "entry row survived")
    val postErase = answers(KnnGraph.serveFromStoresPq(spark,
      s"$root/g", s"$root/codes", s"$root/vec", probe, cb, K, Beam))
    assert(!postErase.exists(_._2 == newId), "erased node was answered")
    // REFINE: one tightening round from the store's current edges,
    // promoted as a NEW version — which serves, and still never
    // answers the erased node
    val seed = spark.read.parquet(s"$root/g").select($"src", $"nbr")
    val refined = KnnGraph.refineDurable(vecs, seed, K, rounds = 1,
      java.nio.file.Files.createTempDirectory("graft-composed-ref").toString)
    KnnGraph.writeStoreClustered(refined.select($"src", $"nbr"), vecs,
      s"$root/g2", cents)
    KnnGraph.writeEntries(vecs, s"$root/g2")
    val v2 = answers(KnnGraph.serveFromStoresPq(spark,
      s"$root/g2", s"$root/codes", s"$root/vec", probe, cb, K, Beam))
    assert(v2.nonEmpty, "refined v2 store served no answers")
    assert(!v2.exists(_._2 == newId), "v2 answered the erased node")
    vecs.unpersist()
  }

  test("concurrent entry appends and erases never lose a surviving sidecar row") {
    // The r15-advice race: a bare mode("append") into _graft_entries
    // interleaved with an erase's read-snapshot → rename silently drops
    // whichever side lost the rename race. appendEntryRows +
    // dropEntryRows now serialize on the per-store sidecar lock, so
    // ANY interleaving of N appends and M erases of DISTINCT nodes
    // must end with exactly (initial + N − M) rows: every appended
    // row present except the explicitly erased ones. 8 threads hammer
    // one store; the assertion is exact, not statistical.
    import spark.implicits._
    val vecs = corpus()
    val (root, _, _, _) = buildComposed(vecs)
    val initial = spark.read.parquet(s"$root/g/_graft_entries")
      .select($"node").as[Long].collect().toSet
    val appended = (0 until 24).map(i => 2000000L + i)
    val erased = appended.take(8)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutorService(pool)
    val appends = appended.map { id =>
      scala.concurrent.Future {
        KnnGraph.appendEntryRows(spark, s"$root/g",
          Seq((0, id, 0)).toDF("cid", "node", "node_bucket"))
      }
    }
    // erases run only after their target's append landed (a drop of a
    // never-appended node is a no-op and would weaken the count check);
    // dropEntryRows is the sidecar leg every erase path shares
    val drops = erased.zip(appends.take(8)).map { case (id, fut) =>
      fut.flatMap { _ =>
        scala.concurrent.Future {
          KnnGraph.dropEntryRows(spark, s"$root/g", Seq(id))
        }
      }
    }
    scala.concurrent.Await.result(
      scala.concurrent.Future.sequence(appends ++ drops),
      scala.concurrent.duration.Duration(300, "seconds"))
    pool.shutdown()
    val fin = spark.read.parquet(s"$root/g/_graft_entries")
      .select($"node").as[Long].collect().toSet
    val expected = initial ++ appended -- erased
    assert(fin == expected,
      s"sidecar lost rows under concurrency: missing=${(expected -- fin).take(8)} " +
        s"extra=${(fin -- expected).take(8)}")
    vecs.unpersist()
  }
}
