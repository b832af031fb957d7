package graft.ml

/** One-off trainer behind [[FrozenSalaryRf]]'s constants (mq13): fits
  * the reference-shaped salary forest (train_random_forest.py features,
  * a deliberately SMALL serving model — 3 trees, depth 3, seed 42 — the
  * "publish a trained model's parameters" move of jq08's centroids) on
  * the sf0.01 featurized postings and prints each tree as the Scala
  * literal to paste into FrozenSalaryRf.
  *
  * Before printing, [[TreeKernel.replayGate]] checks the serving
  * arithmetic ([[FrozenSalaryRf.rawCol]] over the just-trained trees)
  * against `model.transform`'s prediction on every training row, and
  * exactly: spark.ml's forest `predict` is a sequential sum divided by
  * numTrees, which is the kernel's left-associated sum. Re-run to
  * re-freeze:
  *
  *   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.01 sbt "runMain graft.ml.FreezeRf"
  */
object FreezeRf {

  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = graft.Sessions.local("graft-freeze-rf",
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt)
    import org.apache.spark.sql.functions._
    val featCols = graft.queries.MlQueries.jobFeatureCols
    val feats = graft.queries.MlQueries.featurizedJobs(spark, dir)
      .select((col("salary_final") +: featCols.map(col)): _*)
      .na.fill(0.0).coalesce(8).cache()
    // raw features, no scaler stage: tree splits are scale-invariant,
    // and raw-unit thresholds make the frozen replay a plain
    // comparison on the ETL columns in BOTH engines
    val assembled = new org.apache.spark.ml.feature.VectorAssembler()
      .setInputCols(featCols).setOutputCol("features")
      .transform(feats)
    val rf = new org.apache.spark.ml.regression.RandomForestRegressor()
      .setLabelCol("salary_final").setFeaturesCol("features")
      .setNumTrees(3).setMaxDepth(3).setSeed(42)
      .fit(assembled)
    val trained = rf.trees.map(t => TreeKernel.fromSpark(t.rootNode)).toSeq
    TreeKernel.replayGate(rf.transform(assembled),
      FrozenSalaryRf.rawCol(i => col(featCols(i)), trained), relTol = 0.0)
    println(s"// frozen from RandomForestRegressor(numTrees=3, maxDepth=3, " +
      s"seed=42) fit on $dir (${feats.count()} rows), features = " +
      featCols.mkString("(", ", ", ")"))
    trained.zipWithIndex.foreach { case (t, i) =>
      println(s"// tree $i (weight ${rf.treeWeights(i)})")
      println(TreeKernel.render(t) + ",")
    }
    spark.stop()
  }
}
