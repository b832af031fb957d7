package graft.similarity

import graft.TestSpark
import org.scalatest.funsuite.AnyFunSuite

/** The durable NN-Descent build (r11 verdict ask #1): every round lands
  * as parquet and is read back, so the build survives lost executors —
  * and a build RESUMED from a prior run's persisted rounds must equal
  * the uninterrupted build exactly (every stage is deterministic). */
class KnnGraphBuildSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val K = 8

  private def corpus() = {
    import spark.implicits._
    import graft.similarity.VectorOps.toDouble
    graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select($"vec_id", toDouble($"embedding").as("v")).cache()
  }

  private def edges(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Double)] = {
    import spark.implicits._
    df.as[(Long, Long, Double)].collect().toSet
  }

  test("a build resumed from persisted rounds equals the uninterrupted build exactly") {
    val vecs = corpus()
    val full = java.nio.file.Files.createTempDirectory("graft-knng-full").toString
    val part = java.nio.file.Files.createTempDirectory("graft-knng-part").toString
    // uninterrupted 3-round build
    val uninterrupted = KnnGraph.buildDurable(vecs, K, rounds = 3, full)
    // a build that "died" after round 1: only e_0/e_1 are on disk
    KnnGraph.buildDurable(vecs, K, rounds = 1, part)
    val e1Success = java.nio.file.Paths.get(part, "e_1", "_SUCCESS")
    assert(java.nio.file.Files.exists(e1Success), "round 1 must be durable")
    val mtimeBefore = java.nio.file.Files.getLastModifiedTime(e1Success)
    // resume to 3 rounds from the same workDir
    val resumed = KnnGraph.buildDurable(vecs, K, rounds = 3, part)
    // persisted rounds were RELOADED, not recomputed/rewritten
    assert(java.nio.file.Files.getLastModifiedTime(e1Success) == mtimeBefore,
      "resume must not rewrite an already-persisted round")
    // every round of the resumed build is bit-identical to the
    // uninterrupted one (src, nbr AND the scored cosines)
    uninterrupted.zip(resumed).zipWithIndex.foreach { case ((a, b), r) =>
      assert(edges(a) == edges(b), s"round $r diverged after resume")
    }
    vecs.unpersist()
  }

  test("resuming a workDir built under different parameters fails loudly, never silently reloads") {
    val vecs = corpus()
    val work = java.nio.file.Files.createTempDirectory("graft-knng-mismatch").toString
    KnnGraph.buildDurable(vecs, K, rounds = 1, work)
    val e = intercept[IllegalArgumentException](
      KnnGraph.buildDurable(vecs, K + 4, rounds = 1, work))
    assert(e.getMessage.contains("refusing to resume"))
    vecs.unpersist()
  }

  test("the persisted final round serves identically to the in-memory frame") {
    import spark.implicits._
    val vecs = corpus()
    val work = java.nio.file.Files.createTempDirectory("graft-knng-serve").toString
    val graph = KnnGraph.buildDurable(vecs, K, rounds = 2, work).last
    // the read-back frame IS rooted at the persisted files — re-reading
    // the round dir gives the same edges (what a restarted serving job
    // would load)
    val reread = spark.read.parquet(s"$work/e_2")
    assert(edges(graph) == edges(reread))
    vecs.unpersist()
  }

  test("build refuses SPARSE ids loudly — ring init would silently drop phantom edges") {
    import spark.implicits._
    // the prime-stride init synthesizes neighbor ids over 0..n-1;
    // against sparse ids scoreEdges' inner join drops the phantoms and
    // the build silently degrades — the guard measures the survival
    // fraction and makes <50% a loud error. A near-dense corpus (one
    // held-out id — the hold-out fixtures' shape) must stay buildable.
    // (Serve-side sparse ids are fine: StoredGraphSpec's sparse test
    // builds dense and remaps the edge endpoints.)
    val vecs = corpus()
    val sparse = vecs.select(($"vec_id" * 13 + 7).as("vec_id"), $"v")
    val e = intercept[IllegalArgumentException] {
      KnnGraph.build(sparse, K, rounds = 1)
    }
    assert(e.getMessage.contains("ring init"))
    val oneHole = vecs.filter($"vec_id" =!= 173L)
    val built = KnnGraph.build(oneHole, K, rounds = 1).last
    assert(built.filter($"src" === 173L || $"nbr" === 173L).isEmpty)
    assert(built.count() > 0)
    vecs.unpersist()
  }

  test("every tighten round equals the relational distinct+window reference bit-exactly") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    // the r18 keep (TopKPerGroup.TopK — map-side-partial, dedup-in-buffer)
    // must reproduce the former shape EXACTLY: distinct over the
    // candidate pairs, exact-cosine score, row_number over
    // (cos DESC, nbr ASC), keep k — per round, (src, nbr, cos) with
    // bit-identical doubles
    val vecs = corpus()
    val rounds = KnnGraph.build(vecs, K, rounds = 3)
    def bits(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long)] =
      df.select($"src", $"nbr", $"cos").as[(Long, Long, Double)]
        .collect().toSet
        .map((t: (Long, Long, Double)) =>
          (t._1, t._2, java.lang.Double.doubleToRawLongBits(t._3)))
    for (r <- 1 to 3) {
      val ref = KnnGraph.scoredCandidates(vecs, rounds(r - 1))
        .withColumn("rn", row_number().over(
          Window.partitionBy($"src").orderBy($"cos".desc, $"nbr")))
        .filter($"rn" <= K).drop("rn")
      assert(bits(rounds(r)) == bits(ref),
        s"tighten round $r diverged from the relational reference")
    }
    vecs.unpersist()
  }

  test("buildConverged stops when the changed-edge fraction flattens, identically across resume") {
    import spark.implicits._
    val vecs = corpus().filter($"vec_id" < 256).cache()
    val wd = java.nio.file.Files.createTempDirectory("graft-knng-conv").toString
    val delta = 0.05
    val rounds = KnnGraph.buildConverged(vecs, K, maxRounds = 10, delta, wd)
    val stopped = rounds.length - 1
    assert(stopped < 10, s"fixture did not converge inside the cap")
    assert(stopped >= 2, "convergence cannot be declared before one measured transition")
    // the stopping transition is genuinely below delta — recomputed here
    // from the persisted rounds (deterministic, so resume must agree)
    def changedFrac(r: Int): Double =
      rounds(r).select($"src", $"nbr")
        .join(rounds(r - 1).select($"src", $"nbr"), Seq("src", "nbr"), "left_anti")
        .count().toDouble / rounds(r).count()
    assert(changedFrac(stopped) < delta)
    assert(changedFrac(stopped - 1) >= delta,
      "stopped a round later than the rule demands")
    // a resumed run reloads the persisted rounds and stops at the SAME depth
    val again = KnnGraph.buildConverged(vecs, K, maxRounds = 10, delta, wd)
    assert(again.length == rounds.length)
    // and the converged graph IS the fixed-depth build of that depth
    val fixed = KnnGraph.buildDurable(vecs, K, stopped, wd).last
    assert(edges(rounds.last) == edges(fixed))
    vecs.unpersist()
  }
}
