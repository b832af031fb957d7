package graft.ml

import org.apache.spark.sql.functions._

/** One-off trainer behind [[FrozenSkillGbt]]'s constants (mq17): fits
  * the reference-shaped hot-score GBT (train_gbt.py:147-153 —
  * maxIter=50, maxDepth=5, seed=42) on the sf0.01 per-skill aggregate
  * and prints the ensemble — every tree plus its boosting weight — as
  * the Scala literal to paste into FrozenSkillGbt. Like [[FreezeRf]]
  * it trains on RAW features (tree splits are scale-invariant, and
  * mq04's scaler stage would put thresholds in scaled units the oracle
  * could only reach through frozen means/stds); unlike the forest
  * AVERAGE the GBT serves a boosting-WEIGHTED sum, so the weights are
  * part of the published model.
  *
  * Before printing, [[TreeKernel.replayGate]] checks the replay column
  * (the exact arithmetic [[FrozenSkillGbt.scoreCol]] will serve)
  * against `model.transform`'s prediction on every training row. NOT
  * bitwise: spark.ml's GBT predict is `blas.dot(treePredictions,
  * treeWeights)` and the netlib dot may VECTORIZE the reduction
  * (measured: 7 of 10 rows differ in the last ulps vs a sequential
  * fold), so the gate is a 1e-12 relative bound — the replay's own determinism (Spark side ≡
  * DuckDB side) is what mq17 hash-checks, and THAT is exact because
  * both sides spell out the same left-associated sum. Re-run to
  * re-freeze:
  *
  *   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.01 sbt "runMain graft.ml.FreezeGbt"
  */
object FreezeGbt {

  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = graft.Sessions.local("graft-freeze-gbt",
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt)
    val featCols = FrozenSkillGbt.featureNames
    val skills = graft.queries.MlQueries.skillHotFrame(spark, dir)
      .select((col("skill") +: col("skill_hot_score") +:
        featCols.map(c => col(c).cast("double").as(c))): _*)
      .coalesce(1) // ~10 skill rows: 50 boosting iterations × 32 near-empty tasks is pure overhead
      .cache()
    val assembled = new org.apache.spark.ml.feature.VectorAssembler()
      .setInputCols(featCols.toArray).setOutputCol("features")
      .transform(skills)
    val gbt = new org.apache.spark.ml.regression.GBTRegressor()
      .setLabelCol("skill_hot_score").setFeaturesCol("features")
      .setMaxIter(50).setMaxDepth(5).setSeed(42)
      .fit(assembled)
    // within-1e-12-relative, not bitwise (see the scaladoc); the
    // Spark↔DuckDB replay itself IS bitwise
    val trained = gbt.trees.map(t => TreeKernel.fromSpark(t.rootNode)).toSeq
    TreeKernel.replayGate(gbt.transform(assembled),
      FrozenSkillGbt.scoreCol(i => col(featCols(i)), trained, gbt.treeWeights.toSeq),
      relTol = 1e-12)
    println(s"// frozen from GBTRegressor(maxIter=50, maxDepth=5, seed=42) " +
      s"fit on $dir (${skills.count()} skill rows), features = " +
      featCols.mkString("(", ", ", ")"))
    println(s"// treeWeights: Seq(${gbt.treeWeights.mkString(", ")})")
    trained.zipWithIndex.foreach { case (t, i) =>
      println(s"// tree $i")
      println(TreeKernel.render(t) + ",")
    }
    spark.stop()
  }
}
