package graft.similarity

import graft.TestSpark
import graft.util.SparkOrdering
import graft.similarity.VectorOps.cosine
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** [[KnnGraph.robustPrune]] — Vamana's α-diversification. Three
  * contracts: the pruned list is a ≤R-subset of the candidates whose
  * first element is the greedy top-1; with α → ∞ the prune condition
  * can never fire, so the result IS the plain top-R truncation (the
  * algebraic pin that the two sq26 arms differ only by the α rule);
  * and the whole greedy replays driver-side with [[KnnGraph
  * .cosineLocal]]'s bit-identical arithmetic — edge-set equality, the
  * StoredPqServeSpec discipline. */
class GraphPruneSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val K = 8
  private val R = 4
  private val Alpha = 1.2

  private def corpus() = {
    import spark.implicits._
    import graft.similarity.VectorOps.toDouble
    graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select($"vec_id", toDouble($"embedding").as("v")).cache()
  }

  private def edges(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] = {
    import spark.implicits._
    df.select($"src", $"nbr").as[(Long, Long)].collect().toSet
  }

  test("robust prune keeps a ≤R candidate subset led by the greedy top-1; α→∞ is exactly top-R") {
    import spark.implicits._
    val vecs = corpus()
    val cand = KnnGraph.build(vecs, K, rounds = 1).last.cache()
    val pruned = KnnGraph.robustPrune(vecs, cand, R, Alpha).cache()
    val candSet = edges(cand)
    val prunedSet = edges(pruned)
    assert(prunedSet.subsetOf(candSet), "pruned edges must come from the candidates")
    val deg = pruned.groupBy($"src").agg(count(lit(1)).as("d"))
      .agg(max($"d")).as[Long].head()
    assert(deg <= R, s"out-degree $deg exceeds the budget $R")
    // the first kept neighbor is the unpruned greedy anchor: top-1 by (cos DESC, nbr)
    val top1 = cand.withColumn("rn", row_number().over(
        Window.partitionBy($"src").orderBy($"cos".desc, $"nbr")))
      .filter($"rn" === 1).select($"src", $"nbr")
    assert(edges(top1).subsetOf(prunedSet), "every node's top-1 candidate must be kept")
    // α so large the covering test never fires → plain top-R truncation
    val topR = cand.withColumn("rn", row_number().over(
        Window.partitionBy($"src").orderBy($"cos".desc, $"nbr")))
      .filter($"rn" <= R).select($"src", $"nbr")
    val noPrune = KnnGraph.robustPrune(vecs, cand, R, alpha = 1e18)
    assert(edges(noPrune) == edges(topR),
      "α→∞ robust prune must equal the plain top-R list")
    cand.unpersist(); pruned.unpersist(); vecs.unpersist()
  }

  test("durable prune equals the ephemeral prune, resumes bit-identically, and guards its workDir") {
    import spark.implicits._
    val vecs = corpus()
    val cand = KnnGraph.build(vecs, K, rounds = 1).last.cache()
    val ephemeral = edges(KnnGraph.robustPrune(vecs, cand, R, Alpha))
    val wd = graft.util.Scratch.tempDir("graft-prune-spec")
    val durable = edges(KnnGraph.robustPrune(vecs, cand, R, Alpha,
      workDir = Some(wd)))
    assert(durable == ephemeral,
      "durable prune must produce the ephemeral prune's edge set")
    // a second call over the same workDir is a resume: every round's
    // _SUCCESS exists, so it reloads — and must be bit-identical
    val resumed = edges(KnnGraph.robustPrune(vecs, cand, R, Alpha,
      workDir = Some(wd)))
    assert(resumed == durable, "resumed prune diverged from the original")
    // PARTIAL resume: drop the last round's outputs and re-run — the
    // prune must recompute only from the last complete round and still
    // land on the same edge set
    val fs = new org.apache.hadoop.fs.Path(wd).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$wd/k_$R"), true)
    fs.delete(new org.apache.hadoop.fs.Path(s"$wd/m_$R"), true)
    val partial = edges(KnnGraph.robustPrune(vecs, cand, R, Alpha,
      workDir = Some(wd)))
    assert(partial == durable, "partially-resumed prune diverged")
    // resuming with different parameters must fail LOUDLY, never
    // silently reload the old prune
    val boom = intercept[IllegalArgumentException] {
      KnnGraph.robustPrune(vecs, cand, R, alpha = Alpha + 0.5,
        workDir = Some(wd))
    }
    assert(boom.getMessage.contains("refusing to resume"))
    cand.unpersist(); vecs.unpersist()
  }

  test("the greedy replays driver-side bit-exactly") {
    import spark.implicits._
    val vecs = corpus()
    val cand = KnnGraph.build(vecs, K, rounds = 1).last.cache()
    val pruned = edges(KnnGraph.robustPrune(vecs, cand, R, Alpha))
    val vLocal = vecs.as[(Long, Seq[Double])].collect()
      .map { case (id, v) => id -> v.toArray }.toMap
    // the reference replay compares with SparkOrdering.compare — Spark SQL's
    // double semantics (NaN greatest, -0.0 == 0.0), i.e. the ordering
    // and `<=` the former relational rounds (and the DuckDB oracle's
    // SQL replay) use — NOT Java's primitive comparisons (r17 advice)
    val expected = cand.select($"src", $"nbr", $"cos")
      .as[(Long, Long, Double)].collect()
      .groupBy(_._1).toSeq.flatMap { case (src, rows) =>
        var remaining = rows.map { case (_, nbr, cos) => (nbr, cos) }
          .sortWith { case ((na, ca), (nb, cb)) =>
            val c = SparkOrdering.compare(cb, ca)
            c < 0 || (c == 0 && na < nb)
          }.toList
        val kept = scala.collection.mutable.ArrayBuffer.empty[Long]
        while (kept.size < R && remaining.nonEmpty) {
          val (pick, _) = remaining.head
          kept += pick
          remaining = remaining.tail.filterNot { case (c, cos) =>
            SparkOrdering.compare(
              Alpha * (1.0 - KnnGraph.cosineLocal(vLocal(pick), vLocal(c))),
              1.0 - cos) <= 0
          }
        }
        kept.map(src -> _)
      }.toSet
    assert(pruned == expected, "engine prune diverged from the driver replay")
    cand.unpersist(); vecs.unpersist()
  }

  test("NaN (zero-vector) and ±0.0 scores follow Spark SQL semantics — the relational rounds' outcome") {
    import spark.implicits._
    import graft.similarity.VectorOps.cosine
    // src 0's candidates, engineered to discriminate Java double
    // semantics from Spark SQL's (r17 advice): nbr 2 is a ZERO VECTOR
    // (cosine NaN — sorts FIRST under Spark's DESC, covers nothing but
    // other NaNs); nbrs 3/4 carry -0.0/0.0 scores (a TIE under
    // nanSafeCompareDoubles → nbr ASC picks 3, which then α-covers its
    // duplicate 4; Java's Double.compare would order 4 first and keep
    // 4 instead); nbr 5 duplicates nbr 1's vector and is covered by it.
    val vecs = Seq(
      (0L, Seq(1.0, 0.0)),
      (1L, Seq(1.0, 0.0)),
      (2L, Seq(0.0, 0.0)),
      (3L, Seq(0.0, 1.0)),
      (4L, Seq(0.0, 1.0)),
      (5L, Seq(1.0, 0.0))).toDF("vec_id", "v")
    val cand = Seq(
      (0L, 1L, 0.9),
      (0L, 2L, Double.NaN),
      (0L, 3L, -0.0),
      (0L, 4L, 0.0),
      (0L, 5L, 0.8)).toDF("src", "nbr", "cos")
    val pruned = edges(KnnGraph.robustPrune(vecs, cand, r = 4, Alpha))
    assert(pruned == Set((0L, 2L), (0L, 1L), (0L, 3L)),
      s"Spark-SQL-semantics prune expected {2,1,3}, got $pruned")
    // and that outcome IS the relational rounds' — replay the former
    // round-structured prune (window top-1 + α-cover anti-filter, the
    // shape the DuckDB oracle replays in SQL) with Spark operators
    val attached = cand
      .join(vecs.select($"vec_id".as("nbr"), $"v".as("cv")), Seq("nbr"))
      .select($"src", $"nbr", $"cos", $"cv")
    var remaining = attached
    var kept: Set[(Long, Long)] = Set.empty
    for (_ <- 1 to 4) {
      val pick = remaining.withColumn("rn", row_number().over(
          Window.partitionBy($"src").orderBy($"cos".desc, $"nbr")))
        .filter($"rn" === 1).drop("rn").localCheckpoint(true)
      kept = kept ++ edges(pick)
      val pickV = pick.select($"src", $"nbr".as("pnbr"), $"cv".as("pv"))
      remaining = remaining
        .join(pickV, Seq("src"))
        .filter($"nbr" =!= $"pnbr")
        .filter(!(lit(Alpha) * (lit(1.0) - cosine($"pv", $"cv")) <=
          (lit(1.0) - $"cos")))
        .select($"src", $"nbr", $"cos", $"cv")
        .localCheckpoint(true)
    }
    assert(pruned == kept,
      s"grouped greedy $pruned diverged from the relational rounds $kept")
  }
}
