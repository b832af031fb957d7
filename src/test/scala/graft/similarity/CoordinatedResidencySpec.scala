package graft.similarity

import graft.TestSpark
import graft.TestSpark.jobsOf
import org.scalacheck.{Gen, Prop}
import org.scalatest.funsuite.AnyFunSuite

/** [[KnnGraph.serveCoordinated]]'s bucket residency: a store version's
  * first request runs the cold point reads (1 + 2·rounds jobs), a later
  * request admits the buckets it touches, and a request whose buckets
  * are all resident runs no Spark job — with the same answers as the
  * cold path and as the distributed [[KnnGraph.serveFromStores]] from
  * the same entries. Fixtures are ≤ 64 rows. */
class CoordinatedResidencySpec extends AnyFunSuite {
  import CoordinatedResidencySpec.budgeted
  private lazy val spark = TestSpark.spark

  private def tmp(prefix: String) =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** The two stores under `root`, 4 buckets each: `vecs` as the vector
    * store and `edges` as the undirected adjacency store. */
  private def writeStores(root: String, vecs: Seq[(Long, Array[Double])],
      edges: Seq[(Long, Long)]): Unit = {
    import spark.implicits._
    KnnGraph.writeStore(edges.toDF("src", "nbr"), s"$root/g", 4)
    KnnGraph.writeVectors(vecs.map { case (id, v) => (id, v.toSeq) }
      .toDF("vec_id", "v"), s"$root/vec", 4)
  }

  test("a warm coordinated request runs no Spark job and answers as the cold one") {
    import spark.implicits._
    val root = tmp("graft-coord-jobs")
    // 64 rows of 4-d vectors on a ring with chords: every node has
    // fresh neighbours for three rounds
    val vecs = (0 until 64).map { i =>
      i.toLong -> Array.tabulate(4)(j => math.sin(i * 0.37 + j) + 0.01 * j)
    }
    val edges = (0 until 64).flatMap(i =>
      Seq(i.toLong -> ((i + 1) % 64).toLong, i.toLong -> ((i + 7) % 64).toLong))
    writeStores(root, vecs, edges)
    val queries = Seq(3, 17, 40, 58).map(i =>
      (1000L + i) -> vecs(i)._2.map(_ + 0.05))
    val ring = queries.map { case (qid, _) => qid -> Math.floorMod(qid * 37 + 1, 64L) }.toMap
    val rounds = 3
    def serve() = KnnGraph.serveCoordinated(spark, s"$root/g", s"$root/vec",
      queries, 4, rounds, entries = Some(ring))
    // the schema inference is the version's, not the request's
    KnnGraph.openStore(spark, s"$root/g").rel
    KnnGraph.openStore(spark, s"$root/vec").rel
    val (cold, coldJobs) = jobsOf(serve())
    assert(coldJobs == 1 + 2 * rounds, "a version's first request runs the cold point reads")
    val (admitted, admittingJobs) = jobsOf(serve())
    assert(admittingJobs <= 1 + 2 * rounds)
    val warm = (1 to 3).map(_ => jobsOf(serve()))
    assert(warm.map(_._2) == Seq(0, 0, 0), "a request over resident buckets ran Spark jobs")
    assert(cold.size == queries.size * 4)
    assert(admitted == cold && warm.forall(_._1 == cold), "warm answers differ from cold ones")
    val viaStores = KnnGraph.serveFromStores(spark, s"$root/g", s"$root/vec",
        queries.map { case (q, v) => (q, v.toSeq) }.toDF("qid", "v"), 4, rounds,
        entries = Some(ring.toSeq.toDF("qid", "node")))
      .as[(Long, Long)].collect().toSet
    assert(cold.toSet == viaStores, "coordinated answers differ from serveFromStores")
  }

  /** A generated pair of stores, its queries and their entries. */
  private final case class Case(vecs: Seq[(Long, Array[Double])],
      edges: Seq[(Long, Long)], queries: Seq[(Long, Array[Double])],
      entries: Map[Long, Long], erase: Seq[Long]) {
    override def toString: String =
      s"Case(ids=${vecs.map(_._1)}, vecs=${vecs.map(_._2.mkString("[", ",", "]"))}, " +
        s"edges=$edges, queries=${queries.map(q => q._1 -> q._2.mkString("[", ",", "]"))}, " +
        s"entries=$entries, erase=$erase)"
  }

  private val Dim = 4

  /** Generator classes: sparse ids (strided, possibly negative), erased
    * ids, duplicate vectors, ±0.0 components, and a zero vector (in the
    * corpus and as a query). */
  private val Classes = Seq("sparse", "erased", "duplicate", "signed-zero", "zero-vector")

  private def caseOf(kind: String): Gen[Case] = {
    val component =
      if (kind == "signed-zero") Gen.oneOf(0.0, -0.0, 1.0, -1.0, 0.5)
      else Gen.choose(-1.0, 1.0)
    val vec = Gen.listOfN(Dim, component).map(_.toArray)
    for {
      n <- Gen.choose(12, 40)
      step <- if (kind == "sparse") Gen.choose(2L, 17L) else Gen.const(1L)
      offset <- if (kind == "sparse") Gen.choose(-50L, 50L) else Gen.const(0L)
      ids = (0 until n).map(i => i * step + offset)
      raw <- (if (kind == "duplicate")
          Gen.listOfN(3, vec).flatMap(pool => Gen.listOfN(n, Gen.oneOf(pool)))
        else Gen.listOfN(n, vec))
      zeroAt <- Gen.choose(0, n - 1)
      vs = raw.zipWithIndex.map { case (v, i) =>
        if (kind == "zero-vector" && i == zeroAt) Array.fill(Dim)(0.0) else v }
      pairs <- Gen.listOfN(2 * n, Gen.zip(Gen.choose(0, n - 1), Gen.choose(0, n - 1)))
      qvs <- Gen.listOfN(3, vec)
      picks <- Gen.listOfN(3, Gen.choose(0, n - 1))
      erase <- (if (kind == "erased") Gen.choose(1, 3).flatMap(m => Gen.pick(m, ids))
        else Gen.const(Seq.empty[Long]))
    } yield {
      val queries = qvs.zipWithIndex.map { case (v, i) =>
        (1000000L + i) -> (if (kind == "zero-vector" && i == 0) Array.fill(Dim)(0.0) else v) }
      Case(ids.zip(vs), pairs.collect { case (a, b) if a != b => ids(a) -> ids(b) },
        queries, queries.map(_._1).zip(picks.map(ids)).toMap, erase.toSeq)
    }
  }

  /** ScalaCheck without shrinking (each trial writes two stores):
    * `trials` cases from a fixed seed, failing on any falsification. */
  private def check(seed: Long, trials: Int)(prop: Prop): Unit = {
    val res = org.scalacheck.Test.check(org.scalacheck.Test.Parameters.default
      .withMinSuccessfulTests(trials)
      .withInitialSeed(org.scalacheck.rng.Seed(seed)), prop)
    assert(res.passed, res.status.toString)
  }

  Classes.zipWithIndex.foreach { case (kind, i) =>
    test(s"property ($kind): warm answers equal cold ones and serveFromStores'") {
      import spark.implicits._
      val (k, rounds) = (3, 2)
      check(seed = 8100L + i, trials = 3)(Prop.forAllNoShrink(caseOf(kind)) { c =>
        val root = tmp("graft-coord-prop")
        writeStores(root, c.vecs, c.edges)
        if (c.erase.nonEmpty)
          KnnGraph.eraseStored(spark, s"$root/g", c.erase, vecPath = Some(s"$root/vec"))
        def serve() = KnnGraph.serveCoordinated(spark, s"$root/g", s"$root/vec",
          c.queries, k, rounds, entries = Some(c.entries))
        val cold = serve()
        val warm = Seq(serve(), serve())
        // nothing fits a 1-byte budget: the admitting request point-reads
        val (g1, v1) = (budgeted(spark, s"$root/g", 1L), budgeted(spark, s"$root/vec", 1L))
        val pointOnly = (1 to 2).map(_ =>
          KnnGraph.coordinatedWalk(g1, v1, c.queries, k, rounds, c.entries))
        val viaStores = KnnGraph.serveFromStores(spark, s"$root/g", s"$root/vec",
            c.queries.map { case (q, v) => (q, v.toSeq) }.toDF("qid", "v"), k, rounds,
            entries = Some(c.entries.toSeq.toDF("qid", "node")))
          .as[(Long, Long)].collect().toSet
        Prop(warm.forall(_ == cold)) :| s"warm ${warm} != cold $cold" &&
          Prop(pointOnly.forall(_ == cold)) :| s"point-only $pointOnly != cold $cold" &&
          Prop(cold.toSet == viaStores) :| s"coordinated $cold != serveFromStores $viaStores" &&
          Prop(c.erase.forall(v => !cold.exists(_._2 == v))) :| "a victim answered"
      })
    }
  }
}

object CoordinatedResidencySpec {

  /** A handle over the store at `path` with a residency of its own,
    * holding at most `budget` on-disk bytes. */
  def budgeted(spark: org.apache.spark.sql.SparkSession, path: String,
      budget: Long): KnnGraph.Store = {
    val open = KnnGraph.openStore(spark, path)
    new KnnGraph.Store(path, spark,
      new KnnGraph.StoreMeta(open.buckets, () => open.rel.schema, budget))
  }
}
