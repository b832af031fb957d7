package graft.queries

import graft.QueryDef
import graft.QueryDef.rowsOnly
import graft.etl.{JobEtl, JobFeatures, JobsFixture}
import graft.ml.Pipelines
import graft.sources.Tables
import org.apache.spark.ml.functions.{array_to_vector, vector_to_array}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** ML pipeline surface (SURVEY §2.10) exposed as engine queries. All
  * rowsOnly: training outcomes aren't SQL-expressible — each query's
  * output embeds its own acceptance metric (silhouette, R², AUC, recall),
  * mirroring the reference's metric-as-correctness instrument (SURVEY §5).
  *
  * Scale guards: training inputs are capped at 50 000 rows via limit(),
  * the exact cap the reference used for its Cassandra loads (pyc
  * load_data_from_cassandra@108); featurized frames are cached across the
  * iterative fit (the reference rescanned per action — we don't).
  */
object MlQueries {

  /** 16 features: exp + 15 flags (train_random_forest.py:150-170 shape). */
  val jobFeatureCols: Array[String] =
    ("exp_final" +: JobFeatures.flags.map(_.name)).toArray

  /** The oracles' flag columns over `postings`, one per line: every
    * [[JobFeatures.flags]] entry a frozen model's `features` reads, in
    * table order. */
  private def flagsSql(features: Seq[String]): String =
    JobFeatures.flags.filter(f => features.contains(f.name)).map(f =>
      s"    CAST(${JobFeatures.flagSql(f)} AS DOUBLE) AS ${f.name}").mkString(",\n")

  def featurizedJobs(spark: SparkSession, dir: String): DataFrame =
    JobFeatures.withFlags(JobFeatures.withLabels(
      JobEtlQueries.cleanJobs(spark, dir)))

  /** M1-M3+M12: k-means over the embedding vectors (k=10 to match the
    * corpus's 10 labels), cluster sizes + silhouette in one summary. */
  val mq01KmeansEmbeddings: QueryDef = rowsOnly("mq01_kmeans_embeddings") { (spark, dir) =>
    import spark.implicits._
    val df = Tables.embeddings(spark, dir)
      .select($"vec_id", $"label", array_to_vector($"embedding").as("features"))
      .cache()
    val model = new org.apache.spark.ml.clustering.KMeans()
      .setK(10).setSeed(42).setFeaturesCol("features").setPredictionCol("cluster")
      .fit(df)
    val pred = model.transform(df)
    val sil = new org.apache.spark.ml.evaluation.ClusteringEvaluator()
      .setPredictionCol("cluster").setFeaturesCol("features").evaluate(pred)
    pred.groupBy($"cluster").agg(count(lit(1)).as("n"))
      .withColumn("silhouette", lit(sil))
      .orderBy($"cluster")
  }

  /** M3+M12 reference-shaped: k-means (k=5, seed=42) over scaled job
    * features, silhouette as the acceptance metric (train_kmeans.py). */
  val mq02KmeansJobs: QueryDef = rowsOnly("mq02_kmeans_jobs") { (spark, dir) =>
    import spark.implicits._
    val feats = featurizedJobs(spark, dir)
      .select(($"salary_final" +: jobFeatureCols.map(col)): _*)
      .limit(50000)
      .na.fill(0.0)
      .coalesce(8) // iterative fit: fewer, fuller partitions ≫ 32 slivers
      .cache()
    val model = Pipelines.kmeans("salary_final" +: jobFeatureCols).fit(feats)
    val pred = model.transform(feats)
    val sil = Pipelines.silhouette(pred)
    pred.groupBy($"cluster").agg(count(lit(1)).as("n"))
      .withColumn("silhouette", lit(sil))
      .orderBy($"cluster")
  }

  /** M5+M13+M14+M12: random-forest salary model — seeded 80/20 split,
    * the PUBLISHED headline config (numTrees=100, maxDepth=10 —
    * train_random_forest.py:206-212, the run behind BASELINE.md's
    * RMSE 7.91 / R² 0.26), RMSE/MAE/R² + top feature importance.
    * The legacy trainer's adaptive tier table stays available as
    * Pipelines.adaptiveForestParams (unit-spec'd); at 40k rows it picks
    * depth 18, which costs ~4× the headline model for no metric gain. */
  val mq03RfSalary: QueryDef = rowsOnly("mq03_rf_salary") { (spark, dir) =>
    import spark.implicits._
    val feats = featurizedJobs(spark, dir)
      .select(($"salary_final" +: jobFeatureCols.map(col)): _*)
      .limit(50000)
      .na.fill(0.0)
      .coalesce(8) // iterative fit: fewer, fuller partitions ≫ 32 slivers
      .cache()
    val Array(train, test) = feats.randomSplit(Array(0.8, 0.2), 42)
    val nTrain = train.count()
    val (numTrees, maxDepth) = (100, 10)
    val model = Pipelines.salaryForest(jobFeatureCols, numTrees, maxDepth).fit(train)
    val pred = model.transform(test)
    val rf = model.stages.last.asInstanceOf[org.apache.spark.ml.regression.RandomForestRegressionModel]
    val imp = rf.featureImportances.toArray
    val topIdx = imp.indices.maxBy(imp)
    Seq((nTrain, test.count(), numTrees, maxDepth,
        Pipelines.regMetric(pred, "salary_final", "rmse"),
        Pipelines.regMetric(pred, "salary_final", "mae"),
        Pipelines.regMetric(pred, "salary_final", "r2"),
        jobFeatureCols(topIdx), imp(topIdx)))
      .toDF("n_train", "n_test", "num_trees", "max_depth", "rmse", "mae",
        "r2", "top_feature", "top_importance")
  }

  /** M4: GBT over per-skill aggregates with the hot-score label
    * (train_gbt.py:123-175); RMSE on the seeded split. Falls back to
    * whole-set eval when the skill cardinality is too small to split. */
  val mq04GbtHotScore: QueryDef = rowsOnly("mq04_gbt_hot_score") { (spark, dir) =>
    import spark.implicits._
    val skills = JobFeatures.skillHotScores(JobFeatures.explodeSkills(
        JobEtlQueries.cleanJobs(spark, dir)))
      .select($"skill", $"avg_salary", $"job_count".cast("double").as("job_count"),
        $"avg_exp", $"big_city_ratio", $"skill_hot_score")
      .coalesce(1) // ~10 skill rows: 50 GBT iterations × 32 near-empty tasks is pure overhead
      .cache()
    val featCols = Array("avg_salary", "job_count", "avg_exp", "big_city_ratio")
    val model = Pipelines.hotScoreGbt(featCols, "skill_hot_score").fit(skills)
    val pred = model.transform(skills)
    Seq((skills.count(),
        Pipelines.regMetric(pred, "skill_hot_score", "rmse"),
        Pipelines.regMetric(pred, "skill_hot_score", "r2")))
      .toDF("n_skills", "rmse_train", "r2_train")
  }

  /** M6-M8+M12: attractiveness logistic (indexed/one-hot city+position,
    * regParam=0.01), AUC on the held-out split. */
  val mq05LogisticAttractiveness: QueryDef = rowsOnly("mq05_logistic_attractiveness") { (spark, dir) =>
    import spark.implicits._
    val feats = featurizedJobs(spark, dir)
      .withColumn("is_hot", ($"salary_final" > 25).cast("double"))
      .select($"city", $"position_level", $"salary_final", $"exp_final", $"is_hot")
      .limit(50000)
      .coalesce(8) // LR runs ~100 iterations; per-task overhead dominates slivers
      .cache()
    val Array(train, test) = feats.randomSplit(Array(0.8, 0.2), 42)
    val model = Pipelines.attractivenessLogistic(Array("salary_final", "exp_final")).fit(train)
    // same trap mq09 documents: the retained training summary pins the
    // SparkSession inside the transform closure — drop it before transform
    org.apache.spark.ml.GraftMlBridge.dropTrainingSummary(
      model.stages.last.asInstanceOf[org.apache.spark.ml.classification.LogisticRegressionModel])
    val pred = model.transform(test)
    Seq((train.count(), test.count(), Pipelines.auc(pred, "is_hot")))
      .toDF("n_train", "n_test", "auc")
  }

  /** M9: TF-IDF text pipeline over documents; per-lang mean tf-idf norm
    * (vector ops via vector_to_array + aggregate — no UDF). */
  val mq06TfidfDocs: QueryDef = rowsOnly("mq06_tfidf_docs") { (spark, dir) =>
    import spark.implicits._
    val docs = Tables.documents(spark, dir).select($"lang", $"text")
    val model = Pipelines.tfidf("text").fit(docs)
    model.transform(docs)
      .withColumn("arr", vector_to_array($"tfidf"))
      .withColumn("norm", sqrt(aggregate(transform($"arr", x => x * x), lit(0.0), _ + _)))
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_docs"), avg($"norm").as("avg_tfidf_norm"))
      .orderBy($"lang")
  }

  /** M10: Word2Vec over document tokens + findSynonyms("data", 5). */
  val mq07Word2vecSynonyms: QueryDef = rowsOnly("mq07_word2vec_synonyms") { (spark, dir) =>
    import spark.implicits._
    val toks = Tables.documents(spark, dir)
      .select(split(lower($"text"), "\\s+").as("tokens"))
    val model = Pipelines.word2vec("tokens", vectorSize = 50).fit(toks)
    model.findSynonyms("data", 5).select($"word", $"similarity")
  }

  /** M11: CountVectorizer + LDA (k=8, seed=42); topic → top-term indices.
    * maxIter=10 keeps the bench window sane (the reference's 1000 is a
    * cost knob, not semantics). */
  val mq08LdaTopics: QueryDef = rowsOnly("mq08_lda_topics") { (spark, dir) =>
    import spark.implicits._
    val toks = Tables.documents(spark, dir)
      .select(split(lower($"text"), "\\s+").as("tokens"))
    val model = Pipelines.ldaTopics("tokens", maxIter = 10).fit(toks)
    val lda = model.stages.last.asInstanceOf[org.apache.spark.ml.clustering.LDAModel]
    lda.describeTopics(5).select($"topic", size($"termIndices").as("n_terms"))
  }

  /** M6+M9 composed end-to-end: the reference's job_attractiveness_lr_v1
    * persisted pipeline (stage graph + hyper-params verbatim from its
    * model metadata — Pipelines.attractivenessLrV1), trained on the jobs
    * fixture. The v1 trainer script is NOT in the reference tree (only
    * the saved model), so the feature text is composed from the posting
    * fields the tokenizer stage would have seen (title + fields +
    * skills) and the label mirrors mq05's salary-threshold proxy.
    * Self-validating metrics: held-out AUC, plus coefficient sparsity —
    * elasticNetParam=0.8 is mostly-L1, so most of the 3000-dim text
    * block must zero out (a dense vector would mean the elastic-net mix
    * was silently dropped). */
  val mq09AttractivenessLrV1: QueryDef = rowsOnly("mq09_attractiveness_lr_v1") { (spark, dir) =>
    import spark.implicits._
    val feats = featurizedJobs(spark, dir)
      .withColumn("is_attractive", ($"salary_final" > 25).cast("double"))
      .withColumn("full_text_features",
        concat_ws(" ", $"job_title", $"job_fields", $"skills"))
      .select($"city", $"position_level", $"full_text_features",
        $"exp_final".as("experience_years"), $"is_attractive")
      .na.fill(0.0, Seq("experience_years"))
      .limit(50000)
      .coalesce(8) // iterative LR fit: fewer, fuller partitions ≫ 32 slivers
      .cache()
    val Array(train, test) = feats.randomSplit(Array(0.8, 0.2), 42)
    val model = Pipelines.attractivenessLrV1().fit(train)
    val lr = model.stages.last
      .asInstanceOf[org.apache.spark.ml.classification.LogisticRegressionModel]
    // the summary pins the training SparkSession inside the transform
    // closure (non-serializable once observe() has run anywhere in the
    // JVM) — drop it before the model is shipped to tasks
    org.apache.spark.ml.GraftMlBridge.dropTrainingSummary(lr)
    val pred = model.transform(test)
    Seq((train.count(), test.count(), Pipelines.auc(pred, "is_attractive"),
        lr.coefficients.size, lr.coefficients.numNonzeros))
      .toDF("n_train", "n_test", "auc", "n_coeffs", "n_nonzero_coeffs")
  }

  /** Model-based corpus quality filtering — heuristic rules label the
    * corpus, an LR text classifier distills them, and the model scores
    * every document; the pipeline keeps what the model trusts. Mirrors
    * the classifier-filter stage of large-scale data curation: heuristics
    * are brittle per-document but cheap to label with, while the
    * distilled model generalizes and runs as one map-side transform at
    * 100 TB (no shuffle — scoring is embarrassingly parallel). */
  val mq10QualityFilterLr: QueryDef = rowsOnly("mq10_quality_filter_lr") { (spark, dir) =>
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
      .withColumn("is_quality", ($"n_chars" >= 200).cast("double"))
      .select($"doc_id", $"lang", $"text", $"is_quality")
      .coalesce(8) // iterative LR fit: fewer, fuller partitions ≫ 32 slivers
      .cache()
    val Array(train, test) = docs.randomSplit(Array(0.8, 0.2), 42)
    val model = Pipelines.qualityFilterLr("is_quality").fit(train)
    val lr = model.stages.last
      .asInstanceOf[org.apache.spark.ml.classification.LogisticRegressionModel]
    org.apache.spark.ml.GraftMlBridge.dropTrainingSummary(lr)
    val auc = Pipelines.auc(model.transform(test), "is_quality")
    val scored = model.transform(docs).select($"lang",
      (element_at(org.apache.spark.ml.functions.vector_to_array($"probability"), 2)
        >= 0.5).cast("long").as("keep"))
    scored.groupBy($"lang")
      .agg(count(lit(1)).as("n_docs"), sum($"keep").cast("long").as("n_kept"))
      .withColumn("test_auc", round(lit(auc), 4))
      .orderBy($"lang")
  }

  /** SemDeDup (Abbas et al., 2023): semantic deduplication by clustering
    * embeddings FIRST, then checking cosine only WITHIN clusters — the
    * k-means partition bounds the quadratic (Σ cᵢ² pairs instead of n²),
    * which is the paper's entire scale argument and the alternative
    * candidate-generation to sq05's LSH buckets. Pairs at cos ≥ τ are
    * semantic duplicates; the lower vec_id wins, every higher id in a dup
    * pair is dropped. The synthetic embeddings are near-orthogonal (max
    * pairwise cosine 0.51 at sf0.01), which would make the τ=0.995 check
    * vacuous — so, like fq05/fq06, the query PLANTS deterministic
    * duplicates: every vec_id % 20 == 0 vector re-enters under id+100000.
    * Identical vectors land in the same k-means cell by definition, so
    * the operator must drop EXACTLY the planted copies — n_dropped sums
    * to the planted count, n = n_kept + n_dropped per cluster, and the
    * output self-validates. kmeans keeps this rows-only (seeded, but no
    * SQL oracle replays the fit). */
  val mq11SemDedup: QueryDef = rowsOnly("mq11_semdedup") { (spark, dir) =>
    import spark.implicits._
    import graft.similarity.VectorOps
    val base = Tables.embeddings(spark, dir)
    val planted = base.filter($"vec_id" % 20 === 0)
      .select(($"vec_id" + 100000L).as("vec_id"), $"embedding")
    val df = base.select($"vec_id", $"embedding").unionByName(planted)
      .select($"vec_id", array_to_vector($"embedding").as("features"),
        VectorOps.toDouble($"embedding").as("v"))
      .cache()
    val model = new org.apache.spark.ml.clustering.KMeans()
      .setK(10).setSeed(42).setFeaturesCol("features").setPredictionCol("cluster")
      .fit(df)
    val pred = model.transform(df).select($"vec_id", $"v", $"cluster").cache()
    val a = pred.select($"cluster", $"vec_id".as("i"), $"v".as("vi"))
    val b = pred.select($"cluster", $"vec_id".as("j"), $"v".as("vj"))
    // equi-join on cluster + i<j: the quadratic never leaves a cluster
    val pairs = a.join(b, Seq("cluster"))
      .filter($"i" < $"j")
      .select($"cluster", $"i", $"j",
        VectorOps.cosine($"vi", $"vj").as("cos"))
    val dropped = pairs.filter($"cos" >= 0.995)
      .select($"cluster", $"j".as("vec_id")).distinct()
    pred.join(dropped.select($"vec_id", lit(1).as("is_dup")), Seq("vec_id"), "left")
      .groupBy($"cluster")
      .agg(count(lit(1)).as("n"),
        count($"is_dup").as("n_dropped"),
        (count(lit(1)) - count($"is_dup")).as("n_kept"))
      .orderBy($"cluster")
  }

  /** Hyperparameter tuning — the operator every production trainer adds
    * on top of the reference's fixed params: TrainValidationSplit over
    * the attractiveness LR pipeline with a regParam × elasticNetParam
    * grid, parallelism 4 (candidate fits run CONCURRENTLY — at cluster
    * scale the grid parallelizes across the same executors the single
    * fit underuses), seed 42 throughout so the winner is deterministic.
    * TVS refits the best candidate on the full train split; output
    * carries the candidate count, winning params, validation AUC and
    * held-out test AUC (floored in PipelinesSpec). rowsOnly like every
    * mq — the metric IS the check. */
  val mq12CvTuning: QueryDef = rowsOnly("mq12_cv_tuning") { (spark0, dir) =>
    // tuning runs in a CLONED session (shared SparkContext, fresh session
    // state): TVS's parallel candidate fits capture the active session's
    // state into their async execution, and a session that has ever
    // registered observe() metrics carries a non-serializable
    // ObservationManager into that capture (the GraftMlBridge trap's
    // sibling). Isolation is also just good practice for a tuning fleet.
    val spark = spark0.newSession()
    import spark.implicits._
    val feats = featurizedJobs(spark, dir)
      .withColumn("is_hot", ($"salary_final" > 25).cast("double"))
      .select($"city", $"position_level", $"salary_final", $"exp_final", $"is_hot")
      .limit(20000)
      .coalesce(8)
      .cache()
    val Array(train, test) = feats.randomSplit(Array(0.8, 0.2), 42)
    // the label derives from salary, so salary stays OUT of the features:
    // the grid has to trade off regularization on a genuinely predictive
    // task (exp + city + position -> is_hot), not memorize the threshold
    val pipe = Pipelines.attractivenessLogistic(Array("exp_final"))
    val lr = pipe.getStages.last
      .asInstanceOf[org.apache.spark.ml.classification.LogisticRegression]
    val grid = new org.apache.spark.ml.tuning.ParamGridBuilder()
      .addGrid(lr.regParam, Array(0.01, 0.1))
      .addGrid(lr.elasticNetParam, Array(0.0, 0.5))
      .build()
    val eval = new org.apache.spark.ml.evaluation.BinaryClassificationEvaluator()
      .setLabelCol("is_hot").setMetricName("areaUnderROC")
    val tvs = new org.apache.spark.ml.tuning.TrainValidationSplit()
      .setEstimator(pipe).setEvaluator(eval).setEstimatorParamMaps(grid)
      .setTrainRatio(0.75).setParallelism(4).setSeed(42)
    val model = tvs.fit(train)
    val metrics = model.validationMetrics
    val bestIdx = metrics.indices.maxBy(metrics)
    val best = model.bestModel.asInstanceOf[org.apache.spark.ml.PipelineModel]
    // mq09's trap: the retained training summary pins the SparkSession
    org.apache.spark.ml.GraftMlBridge.dropTrainingSummary(
      best.stages.last.asInstanceOf[org.apache.spark.ml.classification.LogisticRegressionModel])
    val testAuc = Pipelines.auc(best.transform(test), "is_hot")
    Seq((grid.length.toLong,
        grid(bestIdx).get(lr.regParam).get,
        grid(bestIdx).get(lr.elasticNetParam).get,
        metrics(bestIdx), testAuc))
      .toDF("n_candidates", "best_reg_param", "best_elastic_net",
        "val_auc", "test_auc")
  }

  /** FROZEN-MODEL INFERENCE, hash-checked (r12 verdict #6): the
    * reference's model-serving path (streamlit_app.py:556-640 — load
    * the persisted model → assemble the 16 features → predict → clamp
    * to the position tier → IT bonus) with the trained forest's trees
    * frozen as published constants ([[graft.ml.FrozenSalaryRf]],
    * provenance in [[graft.ml.FreezeRf]], tree walk and SQL twin in
    * [[graft.ml.TreeKernel]]) — jq08's frozen-centroid move applied
    * to the RF. mq03/mq05 stay rows-only because TRAINING
    * outcomes aren't SQL-expressible; INFERENCE over published
    * parameters is exactly specified IEEE arithmetic, so the oracle
    * replays every tree walk, the forest average, the tier clamp, and
    * the bonus — the first hash-green trained-model serving row.
    *
    * 100 TB: pure per-row projection over the ETL output — one
    * codegen'd CASE nest, no shuffle, no model object in the hot path
    * (the registry's load happens once at plan build, as constants). */
  val mq13FrozenRfInference: QueryDef = QueryDef.sqlChecked(
    "mq13_frozen_rf_inference", {
      s"""WITH ${JobsFixture.duckParsedSql},
         |${JobsFixture.duckLabeledSql},
         |feats AS (
         |  SELECT job_id, exp_final,
         |${flagsSql(graft.ml.FrozenSalaryRf.featureNames)}
         |  FROM postings)
         |SELECT job_id,
         |  ${graft.ml.FrozenSalaryRf.predictionSql(graft.ml.FrozenSalaryRf.featureNames, nm => nm)} AS pred_salary
         |FROM feats""".stripMargin
    }) { (spark, dir) =>
    import spark.implicits._
    val df = featurizedJobs(spark, dir)
    df.select($"job_id",
      graft.ml.FrozenSalaryRf.predictionCol(
        i => col(graft.ml.FrozenSalaryRf.featureNames(i)), col)
        .as("pred_salary"))
  }

  /** FROZEN-LR SERVING, hash-checked (r13 verdict #5): the reference's
    * other persisted serving model — the attractiveness logistic
    * (job_attractiveness_logistic_v2 metadata, the pipeline mq05
    * trains) — with the trained coefficients frozen as published
    * constants ([[graft.ml.FrozenAttractivenessLr]], provenance in
    * [[graft.ml.FreezeLr]]). mq13 proved the pattern on trees (pure
    * comparisons); the logistic adds the transcendental trap: sigmoid's
    * `exp` is NOT guaranteed bit-identical across engines, so the row
    * hashes the MARGIN (wᵀx + b — multiplies and left-associated adds,
    * IEEE-exact in both engines) and the predicted CLASS (the margin's
    * sign ≡ the P>0.5 decision, sigmoid being monotone), never the
    * probability.
    *
    * 100 TB: per-row projection — two multiplies, two broadcast-free
    * CASE lookups, five adds; no shuffle, no model object in the hot
    * path. */
  val mq14FrozenLrServing: QueryDef = QueryDef.sqlChecked(
    "mq14_frozen_lr_serving", {
      import graft.ml.FrozenAttractivenessLr
      val margin = FrozenAttractivenessLr.marginSql(
        "salary_final", "exp_final", "city_clean", "position_level")
      s"""WITH ${JobsFixture.duckParsedSql},
         |${JobsFixture.duckLabeledSql}
         |SELECT job_id,
         |  $margin AS margin,
         |  ${FrozenAttractivenessLr.classSql(margin)} AS is_hot_pred
         |FROM postings""".stripMargin
    }) { (spark, dir) =>
    import spark.implicits._
    import graft.ml.FrozenAttractivenessLr
    val df = featurizedJobs(spark, dir)
    val margin = FrozenAttractivenessLr.marginCol(
      $"salary_final", $"exp_final", $"city", $"position_level")
    df.select($"job_id", margin.as("margin"),
      FrozenAttractivenessLr.classCol(margin).as("is_hot_pred"))
  }

  /** FROZEN-KMEANS ASSIGNMENT, hash-checked (r14 verdict #6): the
    * reference's THIRD persisted serving model — the job clusterer
    * (`models/job_clustering_kmeans`, the scale→cluster pipeline mq02
    * trains) — with the fitted scaler and the 5 centroids frozen as
    * published constants ([[graft.ml.FrozenJobKmeans]], provenance in
    * [[graft.ml.FreezeKmeans]]). mq13 proved trees (pure comparisons),
    * mq14 proved linear margins (dodging the sigmoid); the clusterer
    * completes the model zoo's serving story and needs no dodge at all:
    * assignment is an argmin of squared L2 — subtract/divide/multiply/
    * left-associated adds/compares, every one exactly-rounded IEEE —
    * so the row hashes the CLUSTER (first-index tie-break) and the
    * squared distance itself, over all 12,857 postings.
    *
    * 100 TB: per-row projection — 16 scale ops, 5×16 multiply-adds, 10
    * compares; no shuffle, no model object in the hot path. */
  val mq15FrozenKmeansAssign: QueryDef = QueryDef.sqlChecked(
    "mq15_frozen_kmeans_assign", {
      import graft.ml.FrozenJobKmeans
      val scaledExprs = FrozenJobKmeans.featureNames.indices.map(i =>
        s"    ${FrozenJobKmeans.scaledSql(i, FrozenJobKmeans.featureNames(i))} AS sf$i")
        .mkString(",\n")
      val distExprs = (0 until FrozenJobKmeans.k).map(c =>
        s"    ${FrozenJobKmeans.distSql(c, i => s"sf$i")} AS d$c")
        .mkString(",\n")
      s"""WITH ${JobsFixture.duckParsedSql},
         |${JobsFixture.duckLabeledSql},
         |feats AS (
         |  SELECT job_id, salary_final, exp_final,
         |${flagsSql(FrozenJobKmeans.featureNames)}
         |  FROM postings),
         |scaled AS (
         |  SELECT job_id,
         |$scaledExprs
         |  FROM feats),
         |dists AS (
         |  SELECT job_id,
         |$distExprs
         |  FROM scaled)
         |SELECT job_id,
         |  ${FrozenJobKmeans.clusterSql(c => s"d$c")} AS cluster,
         |  ${FrozenJobKmeans.minDistSql(c => s"d$c")} AS dist2
         |FROM dists""".stripMargin
    }) { (spark, dir) =>
    import spark.implicits._
    import graft.ml.FrozenJobKmeans
    val df = featurizedJobs(spark, dir)
    // stage scaled features and distances as NAMED columns so the Spark
    // plan mirrors the oracle's CTE ladder term for term
    val scaled = df.select(($"job_id" +:
      FrozenJobKmeans.featureNames.indices.map(i =>
        FrozenJobKmeans.scaledCol(i,
          col(FrozenJobKmeans.featureNames(i))).as(s"sf$i"))): _*)
    val dists = scaled.select(($"job_id" +:
      (0 until FrozenJobKmeans.k).map(c =>
        FrozenJobKmeans.distCol(c, i => col(s"sf$i")).as(s"d$c"))): _*)
    dists.select($"job_id",
      FrozenJobKmeans.clusterCol(c => col(s"d$c")).as("cluster"),
      FrozenJobKmeans.minDistCol(c => col(s"d$c")).as("dist2"))
  }

  /** FROZEN TF-IDF DOCUMENT SCORING, hash-checked (r15 verdict #4):
    * the reference's FOURTH persisted serving pipeline — the
    * job_attractiveness_lr_v1 TEXT leg (Tokenizer → StopWords →
    * HashingTF(3000) → IDF, stages 04–07 of the persisted model) —
    * with the trained IDF vector frozen as published constants
    * ([[graft.ml.FrozenJobTfidf]], provenance + vector-exact replay
    * validation in [[graft.ml.FreezeTfidf]]). mq13 proved trees, mq14
    * margins, mq15 centroids; the text leg completes the zoo and adds
    * the two genuinely new replication problems:
    *   - the FEATURE HASH: HashingTF's murmur3 (hashUnsafeBytes2,
    *     seed 42) is NOT SQL `hash()` — the Spark side uses the native
    *     codegen'd [[graft.functions.MlMurmur3]] (the same platform
    *     method the model called), and the DuckDB oracle replays the
    *     algorithm arithmetically over each DISTINCT token
    *     (CREATE MACRO murmur3 over 32-bit-masked BIGINTs);
    *   - ORDER-SENSITIVE double folds: the per-doc norm² and top-term
    *     reductions fold left-associated over ASCENDING buckets in
    *     both engines (Spark `aggregate` over the sorted distinct
    *     array ≡ DuckDB `list_reduce` over `list(… ORDER BY bucket)`),
    *     so the doubles hash identically.
    * The row hashes, per posting: clean-token count, distinct-bucket
    * count, the TF-IDF norm², and the top-weighted bucket with its
    * weight (strict-> fold ≡ `ORDER BY w DESC, bucket`) — over all
    * 12,857 postings.
    *
    * 100 TB: per-row projection (tokenize + hash + fold in one
    * whole-stage-codegen'd map, no shuffle, no model object); the
    * oracle's distinct-token hashing is checker-side only. */
  val mq16FrozenTfidfScoring: QueryDef = QueryDef.sqlChecked(
    "mq16_frozen_tfidf_scoring", {
      import graft.ml.FrozenJobTfidf
      val text = "concat_ws(' ', job_title, job_fields, skills)"
      s"""${FrozenJobTfidf.murmurMacrosSql}
         |WITH ${JobsFixture.duckParsedSql},
         |${JobsFixture.duckLabeledSql},
         |docs AS MATERIALIZED (
         |  SELECT job_id,
         |  ${FrozenJobTfidf.cleanTokensSql(text)} AS ctoks
         |  FROM postings),
         |tok_rows AS MATERIALIZED (
         |  SELECT job_id, unnest(ctoks) AS t FROM docs),
         |vocab AS MATERIALIZED (SELECT DISTINCT t FROM tok_rows),
         |${FrozenJobTfidf.vocabBucketsSql("vocab")},
         |${FrozenJobTfidf.idfTableSql},
         |tfs AS MATERIALIZED (
         |  SELECT job_id, bucket, count(*) AS tf
         |  FROM tok_rows JOIN g_vbucket USING (t) GROUP BY 1, 2),
         |terms AS MATERIALIZED (
         |  SELECT job_id, bucket, tf::DOUBLE * w AS wgt
         |  FROM tfs JOIN g_idf USING (bucket)),
         |agg AS (
         |  SELECT job_id,
         |    CAST(count(*) AS INTEGER) AS n_buckets,
         |    list_reduce(list_prepend(0.0::DOUBLE, list(wgt * wgt ORDER BY bucket)),
         |      (a, b) -> a + b) AS tfidf_norm2
         |  FROM terms GROUP BY job_id),
         |ntc AS (
         |  SELECT job_id, CAST(sum(tf) AS INTEGER) AS n_terms
         |  FROM tfs GROUP BY job_id),
         |top AS (
         |  SELECT job_id, bucket AS top_bucket, wgt AS top_weight FROM (
         |    SELECT job_id, bucket, wgt,
         |      row_number() OVER (PARTITION BY job_id ORDER BY wgt DESC, bucket ASC) AS rn
         |    FROM terms) WHERE rn = 1)
         |SELECT d.job_id,
         |  coalesce(n.n_terms, 0) AS n_terms,
         |  coalesce(a.n_buckets, 0) AS n_buckets,
         |  coalesce(a.tfidf_norm2, 0.0) AS tfidf_norm2,
         |  coalesce(t.top_bucket, -1) AS top_bucket,
         |  coalesce(t.top_weight, -1.0) AS top_weight
         |FROM docs d
         |LEFT JOIN agg a USING (job_id)
         |LEFT JOIN ntc n USING (job_id)
         |LEFT JOIN top t USING (job_id)""".stripMargin
    }) { (spark, dir) =>
    import spark.implicits._
    import graft.ml.FrozenJobTfidf
    val df = featurizedJobs(spark, dir)
      .withColumn("ftx",
        concat_ws(" ", $"job_title", $"job_fields", $"skills"))
    df.withColumn("ctoks", FrozenJobTfidf.cleanTokensCol($"ftx"))
      .withColumn("buckets", FrozenJobTfidf.bucketsCol($"ctoks"))
      .withColumn("terms", FrozenJobTfidf.termsCol($"buckets"))
      .withColumn("top", FrozenJobTfidf.topCol($"terms"))
      .select($"job_id",
        size($"ctoks").as("n_terms"),
        size($"terms").as("n_buckets"),
        FrozenJobTfidf.norm2Col($"terms").as("tfidf_norm2"),
        $"top"("bucket").as("top_bucket"),
        $"top"("w").as("top_weight"))
  }

  /** FROZEN-GBT SERVING, hash-checked (r16 verdict #5): the fifth and
    * last frozen-serving row — the reference's OTHER persisted tree
    * model, the hot-score gradient-boosted ensemble mq04 trains
    * (train_gbt.py:147-175; maxIter=50, maxDepth=5, seed=42) — with
    * the trained trees AND boosting weights frozen as published
    * constants ([[graft.ml.FrozenSkillGbt]], provenance + the
    * replay-vs-transform gate in [[graft.ml.FreezeGbt]], tree walk and
    * SQL twin in [[graft.ml.TreeKernel]], shared with mq13). mq13's
    * forest AVERAGE becomes a boosting-WEIGHTED left-associated sum —
    * still pure comparisons and IEEE adds/multiplies, so the oracle
    * replays the whole ensemble as CASE arithmetic over the per-skill
    * aggregate (itself hash-green — jq06's own CTE chain, spliced from
    * the same [[JobEtlQueries.skillHotSql]] one-source-of-truth).
    *
    * 100 TB: per-row projection over a grouped aggregate — the CASE
    * nest is one codegen'd expression; the only shuffle is the skill
    * groupBy the input already pays. */
  /** The per-skill hot-score frame mq04 trains on and mq17 serves
    * over — one public accessor so [[graft.ml.FreezeGbt]]'s training
    * frame is mq17's serving input by construction. */
  def skillHotFrame(spark: SparkSession, dir: String): DataFrame =
    JobFeatures.skillHotScores(JobFeatures.explodeSkills(
      JobEtlQueries.cleanJobs(spark, dir)))

  val mq17FrozenGbtScoring: QueryDef = QueryDef.sqlChecked(
    "mq17_frozen_gbt_scoring", {
      import graft.ml.FrozenSkillGbt
      val featSql: Int => String = i => FrozenSkillGbt.featureNames(i) match {
        case "job_count" => "CAST(job_count AS DOUBLE)"
        case other => other
      }
      s"""WITH ${graft.etl.JobsFixture.duckParsedSql},
         |${JobEtlQueries.skillHotSql}
         |SELECT skill, skill_hot_score,
         |  ${FrozenSkillGbt.scoreSql(featSql)} AS gbt_score
         |FROM hot""".stripMargin
    }) { (spark, dir) =>
    import spark.implicits._
    import graft.ml.FrozenSkillGbt
    val featCol: Int => org.apache.spark.sql.Column =
      i => FrozenSkillGbt.featureNames(i) match {
        case "job_count" => $"job_count".cast("double")
        case other => col(other)
      }
    skillHotFrame(spark, dir)
      .select($"skill", $"skill_hot_score",
        FrozenSkillGbt.scoreCol(featCol).as("gbt_score"))
  }

  val all: Seq[QueryDef] = Seq(
    mq01KmeansEmbeddings, mq02KmeansJobs, mq03RfSalary, mq04GbtHotScore,
    mq05LogisticAttractiveness, mq06TfidfDocs, mq07Word2vecSynonyms,
    mq08LdaTopics, mq09AttractivenessLrV1, mq10QualityFilterLr, mq11SemDedup,
    mq12CvTuning, mq13FrozenRfInference, mq14FrozenLrServing,
    mq15FrozenKmeansAssign, mq16FrozenTfidfScoring, mq17FrozenGbtScoring)
}
