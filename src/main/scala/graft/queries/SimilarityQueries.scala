package graft.queries

import graft.QueryDef
import graft.QueryDef.{rowsOnly, sqlChecked}
import graft.similarity.{KnnGraph, Pq}
import graft.similarity.VectorOps._
import graft.sources.Tables
import graft.util.Num._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over the `embeddings` table (Array[Float] 64-dim):
  * brute-force cosine top-K as the exactness baseline, LSH-bucketed ANN as
  * the scale path (with measured recall against the baseline), and
  * element-wise centroid analytics.
  *
  * 100 TB notes: the brute-force form is O(|Q|·N) and only acceptable for
  * a small bounded query set (broadcast Q, stream N — no shuffle of the
  * corpus). The ANN path buckets the corpus once (a projection), joins
  * query↔corpus on bucket id (equi-join, no CartesianProduct), and reranks
  * only within buckets.
  */
object SimilarityQueries {

  /** The first `nq` corpus rows of `emb` (vec_id, v) as queries (qid, v). */
  private def queriesOf(emb: DataFrame, nq: Int): DataFrame =
    emb.filter(col("vec_id") < nq).select(col("vec_id").as("qid"), col("v"))

  /** Brute-force baseline: the exact cosine top-5 (qid, cid) of the
    * first `nq` rows — [[KnnGraph.exactTruth]], the one truth every
    * recall row is scored against. */
  private def truth5(emb: DataFrame, nq: Int): DataFrame =
    KnnGraph.exactTruth(queriesOf(emb, nq), emb, 5).withColumnRenamed("node", "cid")

  /** Exact re-rank of a (qid, cid) candidate frame to each query's
    * cosine top-5 over `emb`'s raw vectors — [[KnnGraph.scoreKeep]]. */
  private def rerank5(cand: DataFrame, emb: DataFrame, nq: Int): DataFrame =
    KnnGraph.scoreKeep(cand.withColumnRenamed("cid", "node"), queriesOf(emb, nq),
      emb, 5).withColumnRenamed("node", "cid")

  /** sq09's flat-PQ pipeline, which sq17 runs once per arm: encode
    * `frame` (vec_id, v) under `cb`, ADC-rank every other row against
    * the first 20 rows' LUTs into a 50-deep shortlist, then re-rank the
    * shortlist by exact cosine over `emb`'s RAW vectors to (qid, cid)
    * top-5 — so every arm shares the raw-cosine ground truth. */
  private def pqTop5(emb: DataFrame, frame: DataFrame,
      cb: Seq[Seq[Seq[Double]]], sub: Int): DataFrame = {
    val codes = Pq.pqEncode(frame, cb, sub).withColumnRenamed("vec_id", "cid")
    val luts = queriesOf(frame, 20)
      .select(col("qid"), Pq.lutsCol(col("v"), cb, sub).as("luts"))
    val shortlist = Pq.adcTop(broadcast(luts).join(codes, col("qid") =!= col("cid")),
      cb.length, "cid", 50)
    rerank5(shortlist.select("qid", "cid"), emb, 20)
  }

  /** Brute-force cosine top-5 for a bounded query set: broadcast 5 query
    * vectors against the corpus, rank per query. Oracle-checked (ranks are
    * FP-robust; DuckDB computes the same double cosine). */
  val sq01KnnBruteForce: QueryDef = sqlChecked(
    "sq01_knn_brute_force",
    """WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
      |           FROM embeddings WHERE vec_id < 5),
      |c AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
      |s AS (SELECT qid, cid, list_cosine_similarity(qv, cv) AS cos
      |      FROM q, c WHERE qid <> cid),
      |r AS (SELECT qid, cid,
      |        ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rank
      |      FROM s)
      |SELECT qid, cid, rank FROM r WHERE rank <= 5 ORDER BY qid, rank""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir)
      .select($"vec_id", toDouble($"embedding").as("v"))
    val q = emb.filter($"vec_id" < 5).select($"vec_id".as("qid"), $"v".as("qv"))
    val c = emb.select($"vec_id".as("cid"), $"v".as("cv"))
    val w = Window.partitionBy($"qid").orderBy($"cos".desc, $"cid")
    // |Q| × N with the BOUNDED query set broadcast; the corpus streams —
    // the driver never materializes N rows
    broadcast(q).join(c, $"qid" =!= $"cid")
      .withColumn("cos", cosine($"qv", $"cv"))
      .withColumn("rank", row_number().over(w))
      .filter($"rank" <= 5)
      .select($"qid", $"cid", $"rank")
      .orderBy($"qid", $"rank")
  }

  /** Multi-table LSH ANN with measured recall@5 against in-query brute
    * force for 20 query vectors: 12 independent tables × 4 sign bits (the
    * OR-construction — a neighbor is a candidate if it collides in ANY
    * table, which is what makes signed-projection LSH recall usable;
    * 8 tables measured 0.68 recall@5, 12 raise the collision odds).
    * Candidates = union of per-table bucket joins; rerank by exact cosine.
    * rowsOnly: hyperplanes are engine-side seeded constants, not
    * oracle-reproducible; the self-validating metric IS the recall column. */
  val sq02AnnLshRecall: QueryDef = rowsOnly("sq02_ann_lsh_recall") { (spark, dir) =>
    import spark.implicits._
    val rng = new scala.util.Random(42)
    val tables = Seq.fill(12)(Seq.fill(4)(Array.fill(64)(rng.nextGaussian())))
    val emb0 = Tables.embeddings(spark, dir)
      .select($"vec_id", toDouble($"embedding").as("v"))
    // one row per (vector, table): bucket = (table id, 4 sign bits).
    // The bucket frame carries ONLY ids — at 100 TB the candidate
    // union/dedup below shuffles 16-byte pairs, not 512-byte vectors.
    val emb = emb0.select($"vec_id", explode(array(
        tables.zipWithIndex.map { case (planes, t) =>
          struct(lit(t).as("tbl"), lshBucket($"v", planes).as("bits"))
        }: _*)).as("bk"))
      .select($"vec_id", $"bk.tbl", $"bk.bits")
    val q = emb.filter($"vec_id" < 20)
      .select($"vec_id".as("qid"), $"tbl", $"bits")
    // union of per-table bucket collisions, deduped on the id pair alone
    val candidates = q
      .join(emb.select($"vec_id".as("cid"), $"tbl", $"bits"), Seq("tbl", "bits"))
      .filter($"qid" =!= $"cid")
      .select($"qid", $"cid").distinct()
    // rerank gather: broadcast the 20 query vectors, equi-join corpus
    // vectors back on cid (the standard ANN rerank shape)
    val ann = rerank5(candidates, emb0, 20)
    // baseline: exact top-5 for the same queries (unexploded frames)
    val bf = truth5(emb0, 20)
    val hits = ann.intersect(bf).groupBy($"qid").agg(count(lit(1)).as("n_hit"))
    val annCounts = ann.groupBy($"qid").agg(count(lit(1)).as("n_ann"))
    bf.groupBy($"qid").agg(count(lit(1)).as("n_bf"))
      .join(annCounts, Seq("qid"), "left")
      .join(hits, Seq("qid"), "left")
      .agg(
        count(lit(1)).as("n_queries"),
        avg(coalesce($"n_ann", lit(0))).as("avg_candidates_kept"),
        avg(coalesce($"n_hit", lit(0)) / $"n_bf").as("recall_at_5"))
  }

  /** Element-wise centroid analytics: per-label per-dimension mean over
    * the first 8 dims (posexplode → hash agg; dimension is data, not
    * columns — scales to any dim count). */
  val sq03LabelCentroids: QueryDef = sqlChecked(
    "sq03_label_centroids",
    s"""WITH ex AS (
       |  SELECT label, CAST(i.i - 1 AS BIGINT) AS dim,
       |    CAST(embedding[i.i] AS DOUBLE) AS e
       |  FROM embeddings, (SELECT unnest([1,2,3,4,5,6,7,8]) AS i) i)
       |SELECT label, dim,
       |  ${sqlDavg("e")} AS centroid,
       |  COUNT(*) AS n
       |FROM ex
       |GROUP BY label, dim
       |ORDER BY label, dim""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    Tables.embeddings(spark, dir)
      .select($"label", posexplode(toDouble($"embedding")).as(Seq("pos", "e")))
      .filter($"pos" < 8)
      .groupBy($"label", $"pos".cast("long").as("dim"))
      .agg(davg($"e").as("centroid"), count(lit(1)).as("n"))
      .orderBy($"label", $"dim")
  }

  /** IVF-style ANN: a k-means coarse quantizer partitions the corpus into
    * inverted lists; queries probe the 4 nearest centroids and rerank only
    * those lists (4/16 of the corpus scanned per query — the standard
    * recall-vs-cost knob; 2 probes measured 0.53 recall@5, 4 probes ~0.8).
    * The 100 TB shape: centroids are a tiny broadcast table, list
    * assignment is a map, the probe is an equi-join on list id.
    * rowsOnly with self-measured recall@5 vs brute force. */
  val sq04AnnIvfRecall: QueryDef = rowsOnly("sq04_ann_ivf_recall") { (spark, dir) =>
    import spark.implicits._
    import org.apache.spark.ml.functions.array_to_vector
    val emb = Tables.embeddings(spark, dir)
      .select($"vec_id", toDouble($"embedding").as("v"))
      .cache()
    // coarse quantizer: k-means on the corpus (k = 16 lists, seed 42)
    val asVec = emb.withColumn("features", array_to_vector($"v"))
    val km = new org.apache.spark.ml.clustering.KMeans()
      .setK(16).setSeed(42).setFeaturesCol("features").setPredictionCol("list_id")
      .fit(asVec)
    val assigned = km.transform(asVec).select($"vec_id", $"v", $"list_id")
    val centroids = km.clusterCenters.zipWithIndex.toSeq
      .map { case (c, i) => (i, c.toArray) }
      .toDF("list_id", "centroid")
    // probe: 2 nearest centroid lists per query (16 centroids → broadcast)
    val wProbe = Window.partitionBy($"qid").orderBy($"cdist".asc, $"list_id")
    val probes = emb.filter($"vec_id" < 20).select($"vec_id".as("qid"), $"v".as("qv"))
      .crossJoin(broadcast(centroids))
      .withColumn("cdist", Pq.sqd($"qv", $"centroid"))
      .withColumn("prank", row_number().over(wProbe))
      .filter($"prank" <= 4)
      .select($"qid", $"list_id")
    val ann = rerank5(probes
      .join(assigned.select($"vec_id".as("cid"), $"list_id"), Seq("list_id"))
      .filter($"qid" =!= $"cid").select($"qid", $"cid"), emb, 20)
    val bf = truth5(emb, 20)
    val hits = ann.intersect(bf).groupBy($"qid").agg(count(lit(1)).as("n_hit"))
    bf.groupBy($"qid").agg(count(lit(1)).as("n_bf"))
      .join(hits, Seq("qid"), "left")
      .agg(
        count(lit(1)).as("n_queries"),
        lit(16).as("n_lists"),
        lit(4).as("n_probes"),
        avg(coalesce($"n_hit", lit(0)) / $"n_bf").as("recall_at_5"))
  }

  /** Embedding-cosine near-duplicate detection: LSH-bucketed candidate
    * pairs (same sign-projection bucket) + cosine ≥ τ verification —
    * the embedding-space analogue of MinHash near-dup. rowsOnly summary. */
  val sq05EmbeddingNearDup: QueryDef = rowsOnly("sq05_embedding_near_dup") { (spark, dir) =>
    import spark.implicits._
    val rng = new scala.util.Random(7)
    val planes = Seq.fill(8)(Array.fill(64)(rng.nextGaussian()))
    val emb = Tables.embeddings(spark, dir)
      .select($"vec_id", toDouble($"embedding").as("v"))
      .withColumn("bucket", lshBucket($"v", planes))
    val pairs = emb.as("a")
      .join(emb.as("b"), $"a.bucket" === $"b.bucket" && $"a.vec_id" < $"b.vec_id")
      .select($"a.vec_id".as("id_a"), $"b.vec_id".as("id_b"),
        cosine($"a.v", $"b.v").as("cos"))
    pairs.agg(
      count(lit(1)).as("n_candidate_pairs"),
      count(when($"cos" >= 0.95, 1)).as("n_near_dups"),
      count(when($"cos" >= 0.8, 1)).as("n_ge_08"),
      max($"cos").as("max_cos"))
  }

  /** Int8 scalar quantization of the embedding column — the storage/
    * bandwidth lever for vector corpora (4 B float → 1 B int per dim;
    * at 100 TB of embeddings that's 75 TB saved and 4× more vectors per
    * shuffle block or ANN bucket). Per-vector max-abs scaling:
    * scale = max|x|/127, q_i = floor(x_i/scale + .5), dequant q_i·scale.
    * Everything is codegen'd array built-ins (transform/aggregate/
    * zip_with) — no UDF, map-only, no shuffle before the tiny per-label
    * summary. The oracle recomputes quantization in DuckDB: the summed
    * squared int8 codes are EXACT BIGINTs (a bit-level cross-engine proof
    * of identical codes) while the reconstruction-error means are rounded
    * at 1e-9 against summation-order ulp drift. floor(x+0.5) is used on
    * both sides because Spark/DuckDB round() disagree on half-way ties;
    * the 1e-12 scale floor makes all-zero vectors quantize to zeros
    * instead of dividing by zero. */
  val sq06Int8Quantization: QueryDef = sqlChecked(
    "sq06_int8_quantization",
    """WITH s AS (
      |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e,
      |    greatest(list_max(list_transform(embedding,
      |      x -> abs(CAST(x AS DOUBLE)))), 1e-12) / 127.0 AS scale
      |  FROM embeddings),
      |q AS (
      |  SELECT vec_id, label, e, scale,
      |    list_transform(e, x -> floor(x / scale + 0.5)) AS qv
      |  FROM s),
      |m AS (
      |  SELECT vec_id, label,
      |    CAST(list_sum(list_transform(qv, x -> CAST(x * x AS BIGINT)))
      |      AS BIGINT) AS q2,
      |    list_sum(list_transform(range(len(e)),
      |      i -> (e[i+1] - qv[i+1] * scale) * (e[i+1] - qv[i+1] * scale)))
      |      / len(e) AS mse,
      |    list_max(list_transform(range(len(e)),
      |      i -> abs(e[i+1] - qv[i+1] * scale))) AS maxerr
      |  FROM q)
      |SELECT label, COUNT(*) AS n_vecs,
      |  CAST(SUM(q2) AS BIGINT) AS sum_q2,
      |  ROUND(AVG(mse), 9) AS avg_mse,
      |  ROUND(MAX(maxerr), 9) AS max_abs_err
      |FROM m GROUP BY label ORDER BY label""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val e = transform($"embedding", x => x.cast("double"))
    val absmax = aggregate(e, lit(0.0), (acc, x) => greatest(acc, abs(x)))
    Tables.embeddings(spark, dir)
      .select($"vec_id", $"label", e.as("e"),
        (greatest(absmax, lit(1e-12)) / 127.0).as("scale"))
      .select($"vec_id", $"label", $"e", $"scale",
        transform($"e", x => floor(x / $"scale" + 0.5)).as("qv"))
      .select($"vec_id", $"label",
        aggregate($"qv", lit(0L), (acc, x) => acc + (x * x)).as("q2"),
        (aggregate(zip_with($"e", $"qv", (x, q) =>
            (x - q * $"scale") * (x - q * $"scale")),
          lit(0.0), (acc, d) => acc + d) / size($"e")).as("mse"),
        aggregate(zip_with($"e", $"qv", (x, q) => abs(x - q * $"scale")),
          lit(0.0), (acc, d) => greatest(acc, d)).as("maxerr"))
      .groupBy($"label")
      .agg(count(lit(1)).as("n_vecs"),
        sum($"q2").cast("long").as("sum_q2"),
        round(avg($"mse"), 9).as("avg_mse"),
        round(max($"maxerr"), 9).as("max_abs_err"))
      .orderBy($"label")
  }

  /** Product-quantization ANN (the FAISS PQ path) with measured recall@5:
    * the third ANN scale shape next to sign-LSH (sq02) and IVF (sq04).
    *
    * Train: the 64-dim space splits into M=8 subspaces of 8 dims; one
    * tiny k-means (K=16, seeded) per subspace learns a codebook.
    * Encode: each corpus vector becomes M 4-bit codes — 4 BYTES per
    * vector instead of 512 (128× memory compression), and the raw
    * vectors never participate in the search again.
    * Search (asymmetric distance): each query precomputes an M×K lookup
    * table of partial squared distances to every centroid (pure array
    * expressions over the broadcast codebook literal), then a candidate's
    * distance estimate is M table lookups + adds over its CODES — no
    * per-pair vector arithmetic at all. The ADC pass produces a SHORTLIST
    * (top 50 of 500 here — 10%); only shortlist members' raw vectors are
    * fetched for the exact cosine rerank to top-5, the standard
    * production PQ shape (shortlist recall is what matters; raw ADC
    * ordering alone measured 0.32 on these unstructured synthetic
    * vectors). Unit-norm embeddings make L2-ascending ≡ cosine-
    * descending, so recall is measured against the exact cosine brute
    * force in-query.
    *
    * 100 TB shape: the bounded query set (with LUTs) broadcasts; the
    * full-corpus scan streams 4-byte codes — the entire index for 10^11
    * vectors is ~400 GB where raw vectors are 51 TB; scans are ADC
    * lookups inside codegen, and raw vectors are touched only for the
    * per-query shortlist (an id equi-join). rowsOnly: codebooks are
    * engine-side seeded k-means, not portable SQL. */
  val sq09AnnPqRecall: QueryDef = rowsOnly("sq09_ann_pq_recall") { (spark, dir) =>
    import spark.implicits._
    val M = 8; val sub = 8; val K = 16
    val emb = Tables.embeddings(spark, dir)
      .select($"vec_id", toDouble($"embedding").as("v"))
      .cache()
    // codebooks train DRIVER-SIDE on a bounded sample (the FAISS recipe:
    // even a 10^11-vector corpus trains PQ on ~10^5 sampled vectors) —
    // similarity/Pq.scala's seeded Lloyd's loop; the distributed
    // alternative costs ~90 Spark jobs for 16×8-dim subproblems and
    // forces ML UDFs into the encode path
    // orderBy before limit: LIMIT alone has no contractual row order, so
    // codebooks (and the spec-gated recall) would depend on partition
    // layout; TakeOrderedAndProject keeps the sample deterministic for a
    // per-partition top-K + driver merge, never a global sort
    val sample = emb.select($"vec_id", $"v").orderBy($"vec_id").limit(20000)
      .collect().map(_.getSeq[Double](1).toArray).toIndexedSeq
    val cb: Seq[Seq[Seq[Double]]] = Pq.trainSubspaces(sample, M, sub, K)
    // encode: nearest centroid per subspace as PURE column expressions
    // over the codebook literal, fully codegen, no UDFs; queries
    // precompute per-subspace LUTs of partial squared distances; ADC
    // (distance estimate = Σ_m lut_m[code_m] — lookups, no vectors)
    // keeps a 50-deep shortlist, and the exact rerank touches raw
    // vectors ONLY for it
    val ann = pqTop5(emb, emb, cb, sub)
    val bf = truth5(emb, 20)
    val hits = ann.intersect(bf).groupBy($"qid").agg(count(lit(1)).as("n_hit"))
    bf.groupBy($"qid").agg(count(lit(1)).as("n_bf"))
      .join(hits, Seq("qid"), "left")
      .agg(
        count(lit(1)).as("n_queries"),
        lit(M).as("m_subspaces"),
        lit(K).as("k_centroids"),
        lit(M * 4).as("bits_per_vec"),
        lit(50).as("shortlist_depth"),
        avg(coalesce($"n_hit", lit(0)) / $"n_bf").as("recall_at_5"))
  }

  /** IVF-PQ with residual encoding — the composition production vector
    * indexes actually ship (FAISS IndexIVFPQ): sq04's coarse router and
    * sq09's PQ fused, with PQ trained on RESIDUALS (v − its list
    * centroid), which concentrates the quantizer's budget on the
    * within-cell distribution and is what makes 4 B/vector usable at
    * billion scale.
    *
    * Search: route each query to its NPROBE nearest lists, build one
    * LUT per (query, probed list) from the QUERY residual w.r.t. THAT
    * list's centroid (the detail that distinguishes IVF-PQ from flat PQ),
    * equi-join the LUT frame to codes ON list_id — so only probed lists'
    * codes are ever touched (at 100 TB: codes bucketed by list_id make
    * this partition pruning; 12/16 of the corpus is never scanned) —
    * ADC-shortlist 50 deep, exact-rerank only the shortlist.
    *
    * The SHIPPED encode rotates residuals per OPQ (sq17's rotation
    * composed inside IVF — the FAISS `OPQ..,IVF..,PQ..` chain): the
    * same 32 bits buy more recall when per-subspace residual variances
    * balance (measured 0.65 → 0.71 at sf0.01, scan fraction identical),
    * and the row carries the unrotated arm as `recall_at_5_unrotated`
    * so the gain stays an in-row A/B, not a claim.
    *
    * rowsOnly: codebooks are engine-side seeded k-means, not portable
    * SQL; the self-validating metric is recall@5 vs the in-query exact
    * brute force (floor spec'd in PqRecallSpec). */
  val sq10AnnIvfPqRecall: QueryDef = rowsOnly("sq10_ann_ivfpq_recall") { (spark, dir) =>
    import spark.implicits._
    // L=32/nprobe=10 (was 16/4): finer routing cells halve each list's
    // within-cell variance — which is what the residual quantizer's
    // budget is spent on — and 10 probes cover routing misses; measured
    // recall@5 rose 0.53 → 0.65 at nprobe 8, higher at 10 (PqRecallSpec
    // floors it). sq09 (flat PQ, 100% scan) is the recall ceiling at
    // ~0.74; the gap is the price of scanning less than a third of the
    // codes
    val M = 8; val sub = 8; val K = 16; val L = 32; val NPROBE = 10
    val emb = Tables.embeddings(spark, dir)
      .select($"vec_id", toDouble($"embedding").as("v"))
      .cache()
    // bounded deterministic sample trains BOTH quantizers driver-side
    // (sq09's FAISS recipe + its orderBy-before-limit determinism note)
    val sample = emb.select($"vec_id", $"v").orderBy($"vec_id").limit(20000)
      .collect().map(_.getSeq[Double](1).toArray).toIndexedSeq
    val coarse = Pq.trainCodebook(sample, L, seed = 101L)
    val resSample = sample.map { p =>
      val cc = coarse(Pq.nearest(p, coarse))
      Array.tabulate(p.length)(i => p(i) - cc(i))
    }
    // OPQ arm: rotate residuals before the subspace split (Ge et al.
    // 2014 inside IVF — the FAISS OPQ..,IVF..,PQ.. chain); coarse
    // routing stays on raw vectors, so scan fraction is IDENTICAL in
    // both arms. Codebooks per arm train on that arm's residual space.
    val rot = Pq.trainOpqRotation(resSample, M, sub)
    val cbPlain: Seq[Seq[Seq[Double]]] = Pq.trainSubspaces(resSample, M, sub, K)
    val cbRot: Seq[Seq[Seq[Double]]] =
      Pq.trainSubspaces(resSample.map(Pq.rotateVec(_, rot)), M, sub, K)
    val bf = truth5(emb, 20).cache()
    // one arm = sq10's full encode→probe→LUT→ADC→rerank pipeline under a
    // given (codebooks, optional rotation); both arms share bf
    def armHits(cb: Seq[Seq[Seq[Double]]],
        rotOpt: Option[Seq[Seq[Double]]]): DataFrame = {
      // corpus: coarse-assign + residual (+ rotation) + per-subspace
      // encode — the SHARED frozen-quantizer projection
      // (similarity/Pq.ivfPqEncode), identical on the batch index build
      // here and the streaming maintenance path (StreamingIndexIngest)
      val codes = Pq.ivfPqEncode(emb, coarse.map(_.toSeq).toSeq, cb, sub, rotOpt)
        .select(($"vec_id".as("cid") +: $"list_id" +: (0 until M).map(m => col(s"c$m"))): _*)
      // queries: NPROBE nearest lists, then one LUT per (query, list)
      // from the query residual w.r.t. that list's centroid — rotated
      // exactly like the stored residuals when the arm rotates
      val wProbe = Window.partitionBy($"qid").orderBy($"cdist".asc, $"list_id")
      val centroidsDf = coarse.toSeq.zipWithIndex
        .map { case (c, i) => (i, c.toSeq) }.toDF("list_id", "centroid")
      val rawQres = zip_with($"qv", $"centroid", (x, y) => x - y)
      val probes = emb.filter($"vec_id" < 20).select($"vec_id".as("qid"), $"v".as("qv"))
        .crossJoin(broadcast(centroidsDf))
        .withColumn("cdist", Pq.sqd($"qv", $"centroid"))
        .withColumn("prank", row_number().over(wProbe))
        .filter($"prank" <= NPROBE)
        .withColumn("qres", rotOpt.fold(rawQres)(r => Pq.rotateCol(rawQres, r)))
        .select($"qid", $"list_id", Pq.lutsCol($"qres", cb, sub).as("luts"))
      // equi-join ON list_id: only probed lists' codes are touched
      val shortlist = Pq.adcTop(broadcast(probes).join(codes, Seq("list_id"))
          .filter($"qid" =!= $"cid"), M, "cid", 50)
        .select($"qid", $"cid")
      rerank5(shortlist, emb, 20).intersect(bf)
    }
    val hitsOpq = armHits(cbRot, Some(rot))
      .groupBy($"qid").agg(count(lit(1)).as("n_hit"))
    val hitsPlain = armHits(cbPlain, None)
      .groupBy($"qid").agg(count(lit(1)).as("n_p"))
    bf.groupBy($"qid").agg(count(lit(1)).as("n_bf"))
      .join(hitsOpq, Seq("qid"), "left")
      .join(hitsPlain, Seq("qid"), "left")
      .agg(
        count(lit(1)).as("n_queries"),
        lit(L).as("n_lists"),
        lit(NPROBE).as("n_probes"),
        lit(M).as("m_subspaces"),
        lit(M * 4).as("bits_per_vec"),
        (lit(NPROBE.toDouble) / lit(L.toDouble)).as("scan_fraction"),
        avg(coalesce($"n_hit", lit(0)) / $"n_bf").as("recall_at_5"),
        avg(coalesce($"n_p", lit(0)) / $"n_bf").as("recall_at_5_unrotated"))
  }

  /** Hard-negative mining for contrastive / embedding training — per
    * anchor, the top-3 most-similar vectors with a DIFFERENT label, capped
    * at cos < 0.9 (the standard semi-hard band: a wrong-label neighbor
    * above that is more likely label noise than a useful negative; Schroff
    * et al. 2015's semi-hard selection is the same idea for triplet loss).
    * The anchor set is bounded and broadcast, the corpus streams past it,
    * and per-anchor top-3 runs through the K-bounded TopKPerGroup
    * aggregator — the shuffle carries at most 3 rows per (task, anchor)
    * instead of one sorted window partition per anchor, so the shape holds
    * when the corpus is 100 TB and the anchor set is a training batch.
    * Oracle recomputes the same double cosines brute-force (sq01's proven
    * pairing); ranks tie-break on cid. */
  val sq11HardNegatives: QueryDef = sqlChecked(
    "sq11_hard_negatives",
    """WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv,
      |                  label AS ql
      |           FROM embeddings WHERE vec_id < 50),
      |c AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cv,
      |             label AS cl FROM embeddings),
      |s AS (SELECT qid, cid, list_cosine_similarity(qv, cv) AS cos
      |      FROM q, c WHERE ql <> cl),
      |r AS (SELECT qid, cid, cos,
      |        ROW_NUMBER() OVER (PARTITION BY qid
      |                           ORDER BY cos DESC, cid) AS rnk
      |      FROM s WHERE cos < 0.9)
      |SELECT qid, cid, rnk, round(cos, 6) AS hard_cos
      |FROM r WHERE rnk <= 3 ORDER BY qid, rnk""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir)
      .select($"vec_id", toDouble($"embedding").as("v"), $"label")
    val q = emb.filter($"vec_id" < 50)
      .select($"vec_id".as("qid"), $"v".as("qv"), $"label".as("ql"))
    val c = emb.select($"vec_id".as("cid"), $"v".as("cv"), $"label".as("cl"))
    val pairs = broadcast(q).join(c, $"ql" =!= $"cl")
      .withColumn("cos", cosine($"qv", $"cv"))
      .filter($"cos" < 0.9)
      .select($"qid", $"cid", $"cos")
    graft.operators.TopKPerGroup
      .topK(spark, pairs, "qid", "cos", "cid", 3)
      .select($"qid", $"cid", $"rnk".as("rnk"),
        round($"cos", 6).as("hard_cos"))
      .orderBy($"qid", $"rnk")
  }

  /** MMR-diversified retrieval (Carbonell & Goldstein 1998) — rerank each
    * anchor's relevance shortlist for diversity: greedily pick the
    * candidate maximizing λ·rel(q,c) − (1−λ)·max_{s∈selected} sim(c,s),
    * λ=0.7 — the standard de-redundancy step when retrieved context feeds
    * a training batch or a RAG prompt (top-k alone returns five copies of
    * the same fact). Scale shape: the expensive stage is the shortlist
    * (broadcast bounded anchors, stream the corpus — sq01's shape); the
    * greedy rerank then touches only K=8 rows per anchor (K² pair sims,
    * corpus-size-independent), unrolled as THREE deterministic argmax
    * rounds. Determinism: all cosines rounded 6 dp before any compare
    * (sq11's proven pairing), λ-blend is one IEEE multiply-subtract on
    * identical doubles, ties break on cid — so DuckDB replays the same
    * unrolled recurrence hash-exactly. */
  val sq12MmrRerank: QueryDef = sqlChecked(
    "sq12_mmr_rerank",
    """WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
      |           FROM embeddings WHERE vec_id < 10),
      |c AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
      |s AS (SELECT qid, cid, cv,
      |        round(list_cosine_similarity(qv, cv), 6) AS rel
      |      FROM q, c WHERE qid <> cid),
      |short AS (SELECT qid, cid, cv, rel FROM (
      |        SELECT qid, cid, cv, rel,
      |          ROW_NUMBER() OVER (PARTITION BY qid ORDER BY rel DESC, cid) AS rk
      |        FROM s) WHERE rk <= 8),
      |pair AS (SELECT a.qid, a.cid AS c1, b.cid AS c2,
      |           round(list_cosine_similarity(a.cv, b.cv), 6) AS sim
      |         FROM short a JOIN short b
      |           ON a.qid = b.qid AND a.cid <> b.cid),
      |sel1 AS (SELECT qid, cid, rel, rel AS score FROM (
      |        SELECT qid, cid, rel,
      |          ROW_NUMBER() OVER (PARTITION BY qid ORDER BY rel DESC, cid) AS rn
      |        FROM short) WHERE rn = 1),
      |u1 AS (SELECT qid, cid FROM sel1),
      |sc2 AS (SELECT s.qid, s.cid, s.rel,
      |          CAST(0.7 AS DOUBLE) * s.rel - CAST(0.3 AS DOUBLE) * MAX(p.sim) AS score
      |        FROM short s
      |        JOIN pair p ON p.qid = s.qid AND p.c1 = s.cid
      |        JOIN u1 ON u1.qid = p.qid AND u1.cid = p.c2
      |        WHERE NOT EXISTS (SELECT 1 FROM u1 x
      |                          WHERE x.qid = s.qid AND x.cid = s.cid)
      |        GROUP BY s.qid, s.cid, s.rel),
      |sel2 AS (SELECT qid, cid, rel, score FROM (
      |        SELECT qid, cid, rel, score,
      |          ROW_NUMBER() OVER (PARTITION BY qid ORDER BY score DESC, cid) AS rn
      |        FROM sc2) WHERE rn = 1),
      |u2 AS (SELECT qid, cid FROM sel1 UNION ALL SELECT qid, cid FROM sel2),
      |sc3 AS (SELECT s.qid, s.cid, s.rel,
      |          CAST(0.7 AS DOUBLE) * s.rel - CAST(0.3 AS DOUBLE) * MAX(p.sim) AS score
      |        FROM short s
      |        JOIN pair p ON p.qid = s.qid AND p.c1 = s.cid
      |        JOIN u2 ON u2.qid = p.qid AND u2.cid = p.c2
      |        WHERE NOT EXISTS (SELECT 1 FROM u2 x
      |                          WHERE x.qid = s.qid AND x.cid = s.cid)
      |        GROUP BY s.qid, s.cid, s.rel),
      |sel3 AS (SELECT qid, cid, rel, score FROM (
      |        SELECT qid, cid, rel, score,
      |          ROW_NUMBER() OVER (PARTITION BY qid ORDER BY score DESC, cid) AS rn
      |        FROM sc3) WHERE rn = 1),
      |out AS (SELECT qid, cid, rel, score, 1 AS step FROM sel1
      |        UNION ALL SELECT qid, cid, rel, score, 2 FROM sel2
      |        UNION ALL SELECT qid, cid, rel, score, 3 FROM sel3)
      |SELECT qid, step, cid, rel, round(score, 6) AS mmr_score
      |FROM out ORDER BY qid, step""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir)
      .select($"vec_id", toDouble($"embedding").as("v"))
    val q = emb.filter($"vec_id" < 10)
      .select($"vec_id".as("qid"), $"v".as("qv"))
    val wRel = Window.partitionBy($"qid").orderBy($"rel".desc, $"cid")
    // shortlist: the only corpus-sized stage — bounded anchors broadcast,
    // corpus streams past them (no shuffle of N)
    val short = broadcast(q)
      .join(emb.select($"vec_id".as("cid"), $"v".as("cv")), $"qid" =!= $"cid")
      .withColumn("rel", round(cosine($"qv", $"cv"), 6))
      .withColumn("rk", row_number().over(wRel))
      .filter($"rk" <= 8)
      .select($"qid", $"cid", $"cv", $"rel")
      .localCheckpoint(true) // K-bounded: anchors × 8 rows from here on
    val pair = short.select($"qid", $"cid".as("c1"), $"cv".as("v1"))
      .join(short.select($"qid", $"cid".as("c2"), $"cv".as("v2")), Seq("qid"))
      .filter($"c1" =!= $"c2")
      .select($"qid", $"c1", $"c2", round(cosine($"v1", $"v2"), 6).as("sim"))
    val cand = short.drop("cv")
    val wSel = Window.partitionBy($"qid").orderBy($"score".desc, $"cid")
    val sel1 = cand.withColumn("score", $"rel")
      .withColumn("rn", row_number().over(wSel)).filter($"rn" === 1)
      .select($"qid", $"cid", $"rel", $"score")
    // greedy rounds 2..3: score survivors against the selected set
    def nextSel(selected: org.apache.spark.sql.DataFrame)
        : org.apache.spark.sql.DataFrame = {
      val u = selected.select($"qid", $"cid")
      val ms = pair.join(u.select($"qid", $"cid".as("c2")), Seq("qid", "c2"))
        .groupBy($"qid", $"c1").agg(max($"sim").as("ms"))
        .select($"qid", $"c1".as("cid"), $"ms")
      cand.join(u, Seq("qid", "cid"), "left_anti")
        .join(ms, Seq("qid", "cid"))
        .select($"qid", $"cid", $"rel",
          (lit(0.7) * $"rel" - lit(0.3) * $"ms").as("score"))
        .withColumn("rn", row_number().over(wSel)).filter($"rn" === 1)
        .select($"qid", $"cid", $"rel", $"score")
    }
    val sel2 = nextSel(sel1)
    val sel3 = nextSel(sel1.unionByName(sel2))
    sel1.withColumn("step", lit(1))
      .unionByName(sel2.withColumn("step", lit(2)))
      .unionByName(sel3.withColumn("step", lit(3)))
      .select($"qid", $"step", $"cid", $"rel",
        round($"score", 6).as("mmr_score"))
      .orderBy($"qid", $"step")
  }

  /** Embedding-corpus QA audit — the pre-flight a vector corpus gets
    * before any index is built over it: per label, vector count,
    * dimensionality bounds (a ragged corpus breaks every ANN index),
    * average squared L2 norm (unit-norm drift breaks the L2≡cosine
    * equivalence sq09/sq10 rely on), and global element bounds (detects
    * scaling/overflow corruption). One scan, per-vector work is a
    * codegen'd fold, tiny per-label aggregate. Oracle replays the same
    * decimal-exact squared norms via unnest — hash-green, so the audit
    * itself is verified, not just executed. */
  val sq13EmbeddingAudit: QueryDef = sqlChecked(
    "sq13_embedding_audit",
    s"""WITH el AS (
       |  SELECT vec_id, label, CAST(unnest(embedding) AS DOUBLE) AS x
       |  FROM embeddings),
       |v AS (
       |  SELECT vec_id, label, COUNT(*) AS dim,
       |    CAST(SUM(CAST(x * x AS DECIMAL(30,6))) AS DOUBLE) AS sq_norm,
       |    MIN(x) AS mn, MAX(x) AS mx
       |  FROM el GROUP BY vec_id, label)
       |SELECT label, COUNT(*) AS n_vecs,
       |  CAST(MIN(dim) AS BIGINT) AS dim_min,
       |  CAST(MAX(dim) AS BIGINT) AS dim_max,
       |  ${sqlDavg("sq_norm")} AS avg_sq_norm,
       |  MIN(mn) AS min_element, MAX(mx) AS max_element
       |FROM v GROUP BY label ORDER BY label""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val D = org.apache.spark.sql.types.DecimalType(30, 6)
    val v = Tables.embeddings(spark, dir)
      .select($"vec_id", $"label", toDouble($"embedding").as("v"))
      .select($"vec_id", $"label",
        size($"v").cast("long").as("dim"),
        // decimal-exact fold: each square rounds to 6 dp once, the sum
        // is then order-independent — same associativity shield as
        // Num.dsum, applied per vector
        aggregate($"v", lit(java.math.BigDecimal.ZERO).cast(D),
          // re-cast after the add: decimal + widens precision, and the
          // fold's accumulator type must stay fixed at (30,6)
          (acc, x) => (acc + (x * x).cast(D)).cast(D)).cast("double").as("sq_norm"),
        array_min($"v").as("mn"), array_max($"v").as("mx"))
    v.groupBy($"label")
      .agg(
        count(lit(1)).as("n_vecs"),
        min($"dim").as("dim_min"),
        max($"dim").as("dim_max"),
        davg($"sq_norm").as("avg_sq_norm"),
        min($"mn").as("min_element"),
        max($"mx").as("max_element"))
      .orderBy($"label")
  }

  /** Search over the STORED index — closes the loop the streaming
    * maintenance path opens. [[graft.streaming.StreamingIndexIngest]]
    * appends IVF-PQ codes partitioned by list_id and claims that layout
    * makes search a partition-pruned scan; this query demonstrates it:
    * the corpus is streamed through the maintenance path (same frozen
    * quantizers and seeds as sq10, same [[Pq.ivfPqEncode]]
    * arithmetic), then 5 serving requests run against the STORED table
    * via [[graft.similarity.StoredIndex.serve]] — each a literal
    * `list_id IN (nprobe lists)` read, so each request opens 10/32 of
    * the stored directories and never touches the rest
    * (StoredIndexSearchSpec asserts `selectedPartitions ≤ nprobe` on
    * this exact plan). Exact rerank of the 100-deep shortlist (depth is
    * free recall here — it widens the rerank, not the scan); recall@5
    * vs in-query brute force, floored at sq10's 0.65.
    *
    * 100 TB: the index build is the maintenance stream (stateless
    * map-side encode, scales with arrival rate); a serving request's
    * cost is nprobe/L of the codes bytes regardless of corpus size.
    * The output row SPLITS the two: `build_s` is codebook training +
    * stream ingest (one-time), `serve_ms_per_query` is the measured
    * per-request cost of the ADC shortlist from the stored table — the
    * pruned-scan path the index exists for (rerank/recall arithmetic is
    * the measurement harness, not serving cost). rowsOnly: codebooks are
    * engine-side seeded k-means, not portable SQL; recall + the plan
    * property are spec'd instead (timings vary by machine, by design). */
  val sq14AnnStoredIndexSearch: QueryDef = rowsOnly("sq14_ann_stored_index_search") { (spark, dir) =>
    import spark.implicits._
    val M = 8; val sub = 8; val K = 16; val L = 32; val NPROBE = 10
    val emb = Tables.embeddings(spark, dir)
      .select($"vec_id", toDouble($"embedding").as("v")).cache()
    val tBuild0 = System.nanoTime()
    // frozen quantizers — sq10's exact training recipe and seeds, so the
    // stored index equals sq10's in-memory build code-for-code
    val sample = emb.orderBy($"vec_id").limit(20000)
      .collect().map(_.getSeq[Double](1).toArray).toIndexedSeq
    val coarse = Pq.trainCodebook(sample, L, seed = 101L)
    val coarseSeq: Seq[Seq[Double]] = coarse.map(_.toSeq).toSeq
    val resSample = sample.map { p =>
      val cc = coarse(Pq.nearest(p, coarse))
      Array.tabulate(p.length)(i => p(i) - cc(i))
    }
    // sq10's OPQ arm applied to the STORED path: rotate residuals before
    // the subspace split at encode time AND in every serving LUT —
    // coarse routing (and so partition pruning) is untouched
    val rot = Pq.trainOpqRotation(resSample, M, sub)
    val cb = Pq.trainSubspaces(resSample.map(Pq.rotateVec(_, rot)), M, sub, K)
    // 1. build the stored table THROUGH the maintenance stream: vectors
    // arrive as a file stream; codes land under root/codes, one
    // directory per list_id
    val root = graft.util.Scratch.tempDir("graft-sq14")
    emb.write.parquet(root + "/vecs")
    val vecsSchema = spark.read.parquet(root + "/vecs").schema
    graft.streaming.StreamingIndexIngest.start(
        spark.readStream.schema(vecsSchema).parquet(root + "/vecs"),
        coarseSeq, cb, sub, root + "/codes", root + "/ckpt",
        Some(org.apache.spark.sql.streaming.Trigger.AvailableNow()),
        rot = Some(rot))
      .awaitTermination()
    val buildS = (System.nanoTime() - tBuild0) / 1e9
    // 2. eight serving requests, each its own partition-pruned scan —
    // TIMED per request, each forced to completion (cache + count) so
    // serve_ms_per_query is the stored-index shortlist cost alone
    val reqs = emb.filter($"vec_id" < 8).as[(Long, Seq[Double])]
      .collect().sortBy(_._1).map { case (id, v) => (id, v.toArray) }
    val tServe0 = System.nanoTime()
    val shortlists = reqs.map { case (qid, qv) =>
      val s = graft.similarity.StoredIndex.serve(
        spark, root + "/codes", qid, qv, coarseSeq, cb, sub, NPROBE, 100,
        rot = Some(rot)).cache()
      s.count()
      s
    }
    val serveMs = (System.nanoTime() - tServe0) / 1e6 / reqs.length
    // batched serving: same 8 requests in ONE job — the production
    // shape; per-request cost amortizes the scheduling + listing tax
    // (StoredIndexSearchSpec asserts batched ≡ per-request exactly)
    val tBatch0 = System.nanoTime()
    graft.similarity.StoredIndex.serveBatch(
      spark, root + "/codes", reqs.toSeq, coarseSeq, cb, sub, NPROBE, 100,
      rot = Some(rot)).count()
    val batchMs = (System.nanoTime() - tBatch0) / 1e6 / reqs.length
    val shortlist = shortlists.reduce(_ unionByName _)
    // 3. exact rerank + recall vs brute force (sq10's closing shape)
    val ann = rerank5(shortlist, emb, 8)
    val bf = truth5(emb, 8)
    val hits = ann.intersect(bf).groupBy($"qid").agg(count(lit(1)).as("n_hit"))
    bf.groupBy($"qid").agg(count(lit(1)).as("n_bf"))
      .join(hits, Seq("qid"), "left")
      .agg(
        count(lit(1)).as("n_queries"),
        lit(L).as("n_lists"),
        lit(NPROBE).as("n_probes"),
        lit(NPROBE.toDouble / L).as("scan_fraction"),
        avg(coalesce($"n_hit", lit(0)) / $"n_bf").as("recall_at_5"),
        round(lit(buildS), 3).as("build_s"),
        round(lit(serveMs), 1).as("serve_ms_per_query"),
        round(lit(batchMs), 1).as("serve_ms_batched_per_query"))
  }

  /** sq05's portable twin (the dq03b pattern for embeddings): the
    * Gaussian hyperplanes that keep sq05 rows-only are replaced by
    * Achlioptas sign projections (±1 components — Achlioptas 2001 proves
    * sign matrices suffice for random projection) whose signs both
    * engines DERIVE from md5 parity over the literal "<plane>:<dim>"
    * strings — the oracle re-derives the matrix itself, it is not handed
    * the answer. Elements round once to 6 dp and accumulate in
    * DECIMAL(30,6), so every projection sum is EXACT and the bucket bit
    * can never flip on summation order; candidate cosines round 6 dp
    * before the threshold compares (dq13's shield). The full LSH
    * pipeline — sign matrix → bucket bits → bucket self-join → cosine
    * rerank → flag counts — is hash-checked end to end.
    *
    * The fixture corpus carries no genuine cosine-near-dups at test SF,
    * which would leave the flag columns vacuously zero — so, like fq05,
    * BOTH engines append the same deterministic plants: every 40th
    * vector gains a sibling whose first component is nudged by +0.05
    * (cosine ≈ 0.999) — the detector must find every planted pair that
    * shares a bucket, and the counts/hash prove it did. */
  val sq05bEmbeddingNearDupPortable: QueryDef = sqlChecked(
    "sq05b_embedding_near_dup_portable",
    """WITH base AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |vecs AS (
      |  SELECT vec_id, v FROM base
      |  UNION ALL
      |  SELECT vec_id + 100000 AS vec_id,
      |    list_concat([v[1] + 0.05], v[2:64]) AS v
      |  FROM base WHERE vec_id % 40 = 0),
      |dims AS (SELECT unnest(range(0, 64)) AS i),
      |planes AS (SELECT unnest(range(0, 8)) AS p),
      |signs AS (
      |  SELECT p, i,
      |    CASE WHEN substr(md5(CAST(p AS VARCHAR) || ':' || CAST(i AS VARCHAR)), 1, 1)
      |      BETWEEN '0' AND '7' THEN 1 ELSE -1 END AS s
      |  FROM planes, dims),
      |el AS (
      |  SELECT vec_id, CAST(i0 AS INT) - 1 AS i,
      |    CAST(round(v[i0], 6) AS DECIMAL(30,6)) AS xq
      |  FROM (SELECT vec_id, v,
      |          unnest(range(1, len(v) + 1)) AS i0 FROM vecs)),
      |proj AS (
      |  SELECT vec_id, p, SUM(s * xq) AS dot
      |  FROM el JOIN signs ON el.i = signs.i
      |  GROUP BY vec_id, p),
      |bits AS (
      |  SELECT vec_id,
      |    string_agg(CASE WHEN dot > 0 THEN '1' ELSE '0' END, '' ORDER BY p) AS bucket
      |  FROM proj GROUP BY vec_id),
      |pairs AS (
      |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
      |    round(list_cosine_similarity(va.v, vb.v), 6) AS cos
      |  FROM bits a JOIN bits b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
      |  JOIN vecs va ON va.vec_id = a.vec_id
      |  JOIN vecs vb ON vb.vec_id = b.vec_id)
      |SELECT COUNT(*) AS n_candidate_pairs,
      |  COUNT(*) FILTER (cos >= 0.95) AS n_near_dups,
      |  COUNT(*) FILTER (cos >= 0.8) AS n_ge_08,
      |  round(MAX(cos), 6) AS max_cos
      |FROM pairs""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val D = org.apache.spark.sql.types.DecimalType(30, 6)
    // the SAME md5-parity derivation as the oracle, computed driver-side
    // over the identical strings (java MD5 ≡ DuckDB md5)
    val mdf = java.security.MessageDigest.getInstance("MD5")
    def sign(p: Int, i: Int): Int = {
      val hex = mdf.digest(s"$p:$i".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      if (hex.charAt(0) <= '7') 1 else -1
    }
    val signs = Seq.tabulate(8, 64)(sign)
    val base = Tables.embeddings(spark, dir)
      .select($"vec_id", toDouble($"embedding").as("v"))
    val plants = base.filter(pmod($"vec_id", lit(40)) === 0)
      .select(($"vec_id" + 100000L).as("vec_id"),
        concat(array(element_at($"v", 1) + 0.05), slice($"v", 2, 63)).as("v"))
    val emb = base.union(plants)
      .withColumn("xq", transform($"v", x => round(x, 6).cast(D)))
    // 8 exact in-row decimal projections → the 8-bit bucket
    val bucket = concat((0 until 8).map { p =>
      val sArr = typedlit(signs(p))
      val dot = aggregate(sequence(lit(0), lit(63)),
        lit(java.math.BigDecimal.ZERO).cast(D),
        (acc, i) => (acc + element_at(sArr, i + 1) * element_at($"xq", i + 1)).cast(D))
      when(dot > 0, "1").otherwise("0")
    }: _*)
    val b = emb.select($"vec_id", $"v", bucket.as("bucket"))
    val pairs = b.as("a")
      .join(b.as("b"), $"a.bucket" === $"b.bucket" && $"a.vec_id" < $"b.vec_id")
      .select(round(cosine($"a.v", $"b.v"), 6).as("cos"))
    pairs.agg(
      count(lit(1)).as("n_candidate_pairs"),
      count(when($"cos" >= 0.95, 1)).as("n_near_dups"),
      count(when($"cos" >= 0.8, 1)).as("n_ge_08"),
      round(max($"cos"), 6).as("max_cos"))
  }

  /** Power-iteration rounds for sq15's oracle: the same fixed-point
    * matvec recurrence, mechanically unrolled for DuckDB (tq19's
    * PageRank-unroll move, applied to an eigensolve). Reads CTEs
    * `q(i, j, q)` and `dims(i)`, ends in CTE `vT`. */
  private def powerIterSql(rounds: Int): String = {
    val steps = (1 to rounds).map { t =>
      s"""w$t AS MATERIALIZED (SELECT q.i, SUM(CAST(q.q AS HUGEINT) * v.v) AS w
         |  FROM q JOIN v${t - 1} v ON q.j = v.i GROUP BY q.i),
         |x$t AS (SELECT GREATEST(MAX(abs(w)) // 1000, 1) AS mxd FROM w$t),
         |v$t AS MATERIALIZED (SELECT i, CASE WHEN w < 0 THEN -(abs(w) // mxd)
         |  ELSE abs(w) // mxd END AS v FROM w$t, x$t)""".stripMargin
    }
    s"""v0 AS (SELECT i, CAST(1000 AS HUGEINT) AS v FROM dims),
       |${steps.mkString(",\n")},
       |vT AS MATERIALIZED (SELECT i, CAST(v AS BIGINT) AS v FROM v$rounds)""".stripMargin
  }

  /** PCA prep over the embedding corpus — the whitening/rotation
    * statistics an OPQ-style index (Ge et al. 2014, "Optimized Product
    * Quantization") or a mean-centering pass needs before sq09/sq10's
    * codebooks are trained: per-dimension means, the full scaled
    * covariance Q = n·Σxxᵀ − (Σx)(Σx)ᵀ, and the top principal component
    * by 12 fixed-point power-iteration rounds — with the eigenvector,
    * its Rayleigh eigenvalue, and the variance-explained share all
    * computed IN-QUERY and oracle-hash-checked.
    *
    * Determinism is the whole design: elements quantize once to integer
    * milli-units (a float32 × 1000 can never land exactly on .5, so the
    * rounding is unambiguous), every moment is an exact BIGINT sum, the
    * matvec runs in HUGEINT/DECIMAL(38,0), and each round renormalizes
    * by integer division of ABSOLUTE values (floor ≡ truncate on
    * non-negatives — the portable subset; Spark DIV truncates toward
    * zero, DuckDB // floors, they only agree above zero). Fixed 12
    * rounds — no convergence test, no floats until the single final
    * variance division.
    *
    * 100 TB shape: the corpus is touched ONCE (the in-row upper-triangle
    * outer product explodes d(d+1)/2 terms per row and map-side partial
    * aggregation collapses them to 4096·P before the only data-sized
    * shuffle). Everything after is bounded model state: Q is d², the
    * iteration frames are d rows, each matvec a broadcast join. At
    * vision-scale d the per-row d² fanout is the standard cost of a
    * one-pass Gram — you shrink it by blocking dims, not by more passes. */
  val sq15PcaPower: QueryDef = sqlChecked(
    "sq15_pca_power",
    s"""WITH el0 AS (SELECT vec_id, embedding,
       |    unnest(range(1, len(embedding) + 1)) AS i0 FROM embeddings),
       |el AS MATERIALIZED (SELECT vec_id, CAST(i0 AS INT) AS i,
       |    CAST(round(CAST(embedding[i0] AS DOUBLE) * 1000) AS BIGINT) AS xq
       |  FROM el0),
       |nn AS (SELECT COUNT(*) AS n FROM embeddings),
       |m AS MATERIALIZED (SELECT i, CAST(SUM(xq) AS BIGINT) AS m FROM el GROUP BY i),
       |s AS MATERIALIZED (SELECT a.i AS i, b.i AS j, CAST(SUM(a.xq * b.xq) AS BIGINT) AS s
       |  FROM el a JOIN el b ON a.vec_id = b.vec_id AND a.i <= b.i
       |  GROUP BY a.i, b.i),
       |qu AS (SELECT s.i, s.j, nn.n * s.s - mi.m * mj.m AS q
       |  FROM s
       |  JOIN m mi ON s.i = mi.i
       |  JOIN m mj ON s.j = mj.i
       |  CROSS JOIN nn),
       |q AS MATERIALIZED (SELECT i, j, q FROM qu
       |  UNION ALL SELECT j AS i, i AS j, q FROM qu WHERE i <> j),
       |dims AS (SELECT i FROM m),
       |${powerIterSql(12)},
       |vqv AS (SELECT SUM(CAST(q.q AS HUGEINT) * va.v * vb.v) AS vqv
       |  FROM q JOIN vT va ON q.i = va.i JOIN vT vb ON q.j = vb.i),
       |vv AS (SELECT SUM(CAST(v AS HUGEINT) * v) AS vv FROM vT),
       |lam AS (SELECT CAST(vqv // vv AS BIGINT) AS lambda_fp FROM vqv, vv),
       |tr AS (SELECT CAST(SUM(q) AS BIGINT) AS trace_q FROM q WHERE i = j)
       |SELECT m.i AS dim_idx, m.m AS m_sum, d.q AS q_diag, vT.v AS v_fp,
       |  lambda_fp, trace_q,
       |  CAST(lambda_fp AS DOUBLE) / trace_q AS var_explained
       |FROM m
       |JOIN (SELECT i, q FROM q WHERE i = j) d ON m.i = d.i
       |JOIN vT ON m.i = vT.i, lam, tr
       |ORDER BY dim_idx""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val Dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val x = Tables.embeddings(spark, dir)
      .select($"vec_id",
        transform(toDouble($"embedding"), e => round(e * 1000).cast("long")).as("xq"))
      .cache() // two moment scans (means + outer products) of one projection
    val el = x.select($"vec_id", posexplode($"xq").as(Seq("i0", "xq")))
      .select(($"i0" + 1).cast("int").as("i"), $"xq")
    val m = el.groupBy($"i").agg(sum($"xq").cast("long").as("m"))
    val pairs = flatten(transform(sequence(lit(1), size($"xq")), i =>
      transform(sequence(i, size($"xq")), j =>
        struct(i.cast("int").as("i"), j.cast("int").as("j"),
          (element_at($"xq", i) * element_at($"xq", j)).as("p")))))
    val s = x.select(explode(pairs).as("c"))
      .groupBy($"c.i".as("i"), $"c.j".as("j"))
      .agg(sum($"c.p").cast("long").as("s"))
    val nF = x.agg(count(lit(1)).as("n"))
    val qu = s
      .join(m.select($"i".as("mi_i"), $"m".as("mi")), $"i" === $"mi_i")
      .join(m.select($"i".as("mj_i"), $"m".as("mj")), $"j" === $"mj_i")
      .crossJoin(broadcast(nF))
      .select($"i", $"j", ($"n" * $"s" - $"mi" * $"mj").as("q"))
    val q = qu.union(
        qu.filter($"i" =!= $"j").select($"j".as("i"), $"i".as("j"), $"q"))
      .localCheckpoint()
    var v = m.select($"i", lit(1000L).cast(Dec).as("v")).localCheckpoint()
    for (_ <- 1 to 12) {
      val w = q.join(broadcast(v.select($"i".as("vi"), $"v")), $"j" === $"vi")
        .groupBy($"i").agg(sum($"q".cast(Dec) * $"v").as("w"))
      val mxd = w.agg(greatest(expr("max(abs(w)) DIV 1000"), lit(1L)).as("mxd"))
      v = w.crossJoin(broadcast(mxd))
        .select($"i",
          when($"w" < 0, -expr("abs(w) DIV mxd")).otherwise(expr("abs(w) DIV mxd"))
            .cast(Dec).as("v"))
        .localCheckpoint()
    }
    val vT = v.select($"i", $"v".cast("long").as("v"))
    val vqv = q
      .join(broadcast(vT.select($"i".as("ai"), $"v".as("va"))), $"i" === $"ai")
      .join(broadcast(vT.select($"i".as("bi"), $"v".as("vb"))), $"j" === $"bi")
      .agg(sum($"q".cast(Dec) * $"va" * $"vb").as("vqv"))
    val vv = vT.agg(sum($"v" * $"v").as("vv"))
    val lam = vqv.crossJoin(broadcast(vv))
      .select(expr("vqv DIV vv").cast("long").as("lambda_fp"))
    val tr = q.filter($"i" === $"j").agg(sum($"q").cast("long").as("trace_q"))
    m.join(q.filter($"i" === $"j").select($"i".as("di"), $"q".as("q_diag")), $"i" === $"di")
      .join(vT.select($"i".as("vti"), $"v".as("v_fp")), $"i" === $"vti")
      .crossJoin(broadcast(lam))
      .crossJoin(broadcast(tr))
      .select($"i".as("dim_idx"), $"m".as("m_sum"), $"q_diag", $"v_fp",
        $"lambda_fp", $"trace_q",
        ($"lambda_fp".cast("double") / $"trace_q").as("var_explained"))
      .orderBy($"dim_idx")
  }

  /** sq02's portable twin — the first ANN RECALL number that is
    * oracle-hash-checked rather than self-reported: the whole pipeline
    * (sign matrix → per-table buckets → candidate union → exact-cosine
    * rerank → recall@5 vs in-query brute force) runs identically in both
    * engines. The Gaussian hyperplanes that keep sq02 rows-only become
    * sq05b's md5-parity Achlioptas signs (the oracle re-derives the
    * matrix, it is not handed the answer); projections run over BIGINT
    * micro-unit elements (round(x·10⁶) — the same once-rounded values
    * the DECIMAL(30,6) fold used, scaled: signs identical, but exact
    * integer arithmetic in both engines and, engine-side, one fused
    * SignProjection codegen nest instead of an interpreted per-plane
    * HOF fold); the rerank ranks raw-double cosines with a cid
    * tie-break (sq01's hash-green precedent). 10 tables × 4 sign bits —
    * the OR-construction: a neighbor is a candidate if it collides in
    * ANY table (bits per table sizes the buckets and scales with corpus
    * size in production; 4 bits fits the fixture's 500-vector corpus —
    * MEASURED, not asserted: sq02c sweeps 4/6/8 bits and shows the
    * candidate fraction falling 0.48 → 0.24 with recall held).
    *
    * 100 TB: the bucket frame carries (id, tbl, bits) only — candidate
    * generation is an equi-join on (tbl, bits), never all-pairs; the
    * rerank gathers vectors for candidates alone. The brute-force arm
    * exists to MEASURE recall and stays |Q|-bounded (broadcast the 16
    * queries, stream the corpus). */
  val sq02bAnnLshRecallPortable: QueryDef = sqlChecked(
    "sq02b_ann_lsh_recall_portable",
    """WITH base AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |signs AS (
      |  SELECT p, i,
      |    CASE WHEN substr(md5(CAST(p AS VARCHAR) || ':' || CAST(i AS VARCHAR)), 1, 1)
      |      BETWEEN '0' AND '7' THEN 1 ELSE -1 END AS s
      |  FROM (SELECT unnest(range(0, 40)) AS p), (SELECT unnest(range(0, 64)) AS i)),
      |el AS MATERIALIZED (
      |  SELECT vec_id, CAST(i0 AS INT) - 1 AS i,
      |    CAST(round(v[i0] * 1000000) AS BIGINT) AS xq
      |  FROM (SELECT vec_id, v, unnest(range(1, len(v) + 1)) AS i0 FROM base)),
      |proj AS (
      |  SELECT vec_id, p, SUM(s * xq) AS dot
      |  FROM el JOIN signs ON el.i = signs.i
      |  GROUP BY vec_id, p),
      |bits AS MATERIALIZED (
      |  SELECT vec_id, p // 4 AS tbl,
      |    string_agg(CASE WHEN dot > 0 THEN '1' ELSE '0' END, '' ORDER BY p) AS bucket
      |  FROM proj GROUP BY vec_id, p // 4),
      |cand AS MATERIALIZED (
      |  SELECT DISTINCT q.vec_id AS qid, c.vec_id AS cid
      |  FROM bits q JOIN bits c ON q.tbl = c.tbl AND q.bucket = c.bucket
      |  WHERE q.vec_id < 16 AND q.vec_id <> c.vec_id),
      |ann AS (
      |  SELECT qid, cid FROM (
      |    SELECT qid, cid, ROW_NUMBER() OVER (PARTITION BY qid
      |        ORDER BY list_cosine_similarity(qv.v, cv.v) DESC, cid) AS rank
      |    FROM cand JOIN base qv ON cand.qid = qv.vec_id
      |    JOIN base cv ON cand.cid = cv.vec_id)
      |  WHERE rank <= 5),
      |bf AS (
      |  SELECT qid, cid FROM (
      |    SELECT q.vec_id AS qid, c.vec_id AS cid,
      |      ROW_NUMBER() OVER (PARTITION BY q.vec_id
      |        ORDER BY list_cosine_similarity(q.v, c.v) DESC, c.vec_id) AS rank
      |    FROM base q, base c WHERE q.vec_id < 16 AND q.vec_id <> c.vec_id)
      |  WHERE rank <= 5),
      |hits AS (SELECT qid, COUNT(*) AS n_hit
      |  FROM (SELECT * FROM ann INTERSECT SELECT * FROM bf) GROUP BY qid),
      |nc AS (SELECT qid, COUNT(*) AS n_cand FROM cand GROUP BY qid),
      |qs AS (SELECT vec_id AS qid FROM base WHERE vec_id < 16)
      |SELECT COUNT(*) AS n_queries,
      |  CAST(SUM(COALESCE(n_cand, 0)) AS DOUBLE) / COUNT(*) AS avg_candidates,
      |  CAST(SUM(COALESCE(n_hit, 0)) AS DOUBLE) / (5 * COUNT(*)) AS recall_at_5
      |FROM qs LEFT JOIN nc USING (qid) LEFT JOIN hits USING (qid)""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val T = 10; val B = 4
    val mdf = java.security.MessageDigest.getInstance("MD5")
    def sign(p: Int, i: Int): Int = {
      val hex = mdf.digest(s"$p:$i".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      if (hex.charAt(0) <= '7') 1 else -1
    }
    val signsFlat = Array.tabulate(T * B * 64)(
      idx => sign(idx / 64, idx % 64).toByte)
    val emb0 = Tables.embeddings(spark, dir)
      .select($"vec_id", toDouble($"embedding").as("v"))
    // BIGINT micro-units: round(x·10⁶) is the DECIMAL(30,6) fold's exact
    // values scaled by 10⁶, so every projection sign — hence every
    // bucket bit, candidate, and the recall itself — is unchanged; the
    // 40 per-plane interpreted HOF folds become one SignProjection nest
    val quant = emb0.select($"vec_id",
      transform($"v", x => round(x * 1000000).cast("long")).as("xqa"))
    val dots = quant.select($"vec_id",
      graft.functions.SignProjection($"xqa", signsFlat, T * B, 64).as("dots"))
    // one row per (vector, table): ids + sign bits, nothing else —
    // the candidate join below shuffles 16-byte pairs, not vectors
    val buckets = (0 until T).map { t =>
      struct(lit(t).as("tbl"),
        concat((0 until B).map(b =>
          when(element_at($"dots", t * B + b + 1) > 0, "1").otherwise("0")): _*)
          .as("bits"))
    }
    val emb = dots.select($"vec_id", explode(array(buckets: _*)).as("bk"))
      .select($"vec_id", $"bk.tbl", $"bk.bits")
    val cand = emb.filter($"vec_id" < 16).select($"vec_id".as("qid"), $"tbl", $"bits")
      .join(emb.select($"vec_id".as("cid"), $"tbl", $"bits"), Seq("tbl", "bits"))
      .filter($"qid" =!= $"cid")
      .select($"qid", $"cid").distinct()
    val ann = rerank5(cand, emb0, 16)
    val bf = truth5(emb0, 16)
    val hits = ann.intersect(bf).groupBy($"qid").agg(count(lit(1)).as("n_hit"))
    val nc = cand.groupBy($"qid").agg(count(lit(1)).as("n_cand"))
    emb0.filter($"vec_id" < 16).select($"vec_id".as("qid"))
      .join(nc, Seq("qid"), "left")
      .join(hits, Seq("qid"), "left")
      .agg(
        count(lit(1)).as("n_queries"),
        (sum(coalesce($"n_cand", lit(0L))).cast("double") / count(lit(1)))
          .as("avg_candidates"),
        (sum(coalesce($"n_hit", lit(0L))).cast("double") / (count(lit(1)) * 5))
          .as("recall_at_5"))
  }

  /** The (bits, tables) settings sq02c sweeps: as bits per table rise the
    * per-table collision probability falls geometrically, so tables rise
    * to hold recall — signatures are cheap map-side compute, candidates
    * are the expensive shuffle+rerank, and this trade is exactly why
    * production LSH scales bits with corpus size. */
  private val BitScaleSettings = Seq((4, 10), (6, 30), (8, 60))

  /** DuckDB SQL for the full sq02c sweep — sq02b's portable pipeline
    * (md5-parity sign matrix, exact integer projections, per-table
    * buckets, candidate union, exact-cosine rerank, recall@5 vs brute
    * force), replicated once per (bits, tables) setting and unioned into
    * one summary frame. Projections use round(x·1000) BIGINT milli-units
    * (sq15's quantization — exact in both engines, much cheaper than the
    * DECIMAL fold at 700 planes total). */
  private def bitScaleSql(settings: Seq[(Int, Int)]): String = {
    val perSetting = settings.map { case (b, t) =>
      val p = b * t
      s"""signs_$b AS (
         |  SELECT p, i,
         |    CASE WHEN substr(md5(CAST(p AS VARCHAR) || ':' || CAST(i AS VARCHAR)), 1, 1)
         |      BETWEEN '0' AND '7' THEN 1 ELSE -1 END AS s
         |  FROM (SELECT unnest(range(0, $p)) AS p), (SELECT unnest(range(0, 64)) AS i)),
         |proj_$b AS (
         |  SELECT vec_id, p, SUM(s * xq) AS dot
         |  FROM el JOIN signs_$b ON el.i = signs_$b.i
         |  GROUP BY vec_id, p),
         |bits_$b AS MATERIALIZED (
         |  SELECT vec_id, p // $b AS tbl,
         |    string_agg(CASE WHEN dot > 0 THEN '1' ELSE '0' END, '' ORDER BY p) AS bucket
         |  FROM proj_$b GROUP BY vec_id, p // $b),
         |cand_$b AS MATERIALIZED (
         |  SELECT DISTINCT q.vec_id AS qid, c.vec_id AS cid
         |  FROM bits_$b q JOIN bits_$b c ON q.tbl = c.tbl AND q.bucket = c.bucket
         |  WHERE q.vec_id < 16 AND q.vec_id <> c.vec_id),
         |ann_$b AS (
         |  SELECT qid, cid FROM (
         |    SELECT c0.qid, c0.cid, ROW_NUMBER() OVER (PARTITION BY c0.qid
         |        ORDER BY list_cosine_similarity(qv.v, cv.v) DESC, c0.cid) AS rank
         |    FROM cand_$b c0 JOIN base qv ON c0.qid = qv.vec_id
         |    JOIN base cv ON c0.cid = cv.vec_id)
         |  WHERE rank <= 5),
         |hits_$b AS (SELECT qid, COUNT(*) AS n_hit
         |  FROM (SELECT * FROM ann_$b INTERSECT SELECT * FROM bf) GROUP BY qid),
         |nc_$b AS (SELECT qid, COUNT(*) AS n_cand FROM cand_$b GROUP BY qid),
         |sum_$b AS (SELECT CAST($b AS BIGINT) AS bits_per_table,
         |  CAST($t AS BIGINT) AS n_tables, COUNT(*) AS n_queries,
         |  round(CAST(SUM(COALESCE(n_cand, 0)) AS DOUBLE) / COUNT(*) / nn.n, 6) AS cand_fraction,
         |  CAST(SUM(COALESCE(n_hit, 0)) AS DOUBLE) / (5 * COUNT(*)) AS recall_at_5
         |  FROM qs LEFT JOIN nc_$b USING (qid) LEFT JOIN hits_$b USING (qid), nn
         |  GROUP BY nn.n)""".stripMargin
    }
    val unions = settings.map { case (b, _) => s"SELECT * FROM sum_$b" }
      .mkString(" UNION ALL ")
    s"""WITH base AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |el AS MATERIALIZED (
       |  SELECT vec_id, CAST(i0 AS INT) - 1 AS i,
       |    CAST(round(v[i0] * 1000) AS BIGINT) AS xq
       |  FROM (SELECT vec_id, v, unnest(range(1, len(v) + 1)) AS i0 FROM base)),
       |bf AS MATERIALIZED (
       |  SELECT qid, cid FROM (
       |    SELECT q.vec_id AS qid, c.vec_id AS cid,
       |      ROW_NUMBER() OVER (PARTITION BY q.vec_id
       |        ORDER BY list_cosine_similarity(q.v, c.v) DESC, c.vec_id) AS rank
       |    FROM base q, base c WHERE q.vec_id < 16 AND q.vec_id <> c.vec_id)
       |  WHERE rank <= 5),
       |nn AS (SELECT COUNT(*) AS n FROM base),
       |qs AS (SELECT vec_id AS qid FROM base WHERE vec_id < 16),
       |${perSetting.mkString(",\n")}
       |SELECT * FROM ($unions) ORDER BY bits_per_table""".stripMargin
  }

  /** LSH bit-scaling A/B — the measurement behind sq02b's scaladoc claim
    * that "bits per table sizes the buckets and scales with corpus size
    * in production": one hash-checked frame sweeps (4 bits × 10 tables),
    * (6 × 30), (8 × 60) over the SAME corpus/queries and shows the
    * candidate fraction falling monotonically (0.49 → 0.38 → 0.23 at
    * sf0.1) while recall@5 holds ≥ 0.67 — per-table collisions fall
    * geometrically in bits, tables rise only linearly to compensate.
    * Signatures are map-side compute (cheap, scales with planes);
    * candidates are the shuffle+rerank (expensive, scales with corpus) —
    * which is why production raises bits as the corpus grows.
    *
    * Same portability toolkit as sq02b, with BIGINT milli-unit
    * projections replacing the DECIMAL fold (exact in both engines,
    * cheap enough for 700 total planes), and the engine computes
    * projections via an explode + broadcast-signs join + partial agg
    * instead of 700 per-row fold expressions. */
  val sq02cLshBitScaling: QueryDef = sqlChecked(
    "sq02c_lsh_bit_scaling", bitScaleSql(BitScaleSettings)) { (spark, dir) =>
    import spark.implicits._
    // the corpus frame feeds every arm's rerank joins plus bf/qs/nn —
    // cache it once so the parquet scan doesn't multiply per arm
    val emb0 = Tables.embeddings(spark, dir)
      .select($"vec_id", toDouble($"embedding").as("v"))
      .cache()
    val quant = emb0
      .select($"vec_id", transform($"v", x =>
        round(x * 1000).cast("long")).as("xqa"))
    val nn = emb0.agg(count(lit(1)).as("n"))
    val mdf = java.security.MessageDigest.getInstance("MD5")
    def sign(p: Int, i: Int): Int = {
      val hex = mdf.digest(s"$p:$i".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      if (hex.charAt(0) <= '7') 1 else -1
    }
    val bf = truth5(emb0, 16).cache()
    // The sign of plane p depends only on (p, i) — md5-parity, not the
    // (bits, tables) setting — so the three arms' plane sets are NESTED
    // PREFIXES of 0 until max(b·t): compute ALL projections once per
    // vector with the fused-loop codegen expression (SignProjection —
    // one in-row multiply-add nest; the explode × broadcast-signs join
    // materialized rows·dim·planes tuples through the hash aggregate and
    // an in-row HOF fold never codegens, both ~9-15 s shapes at 480
    // planes) and let each arm take its prefix of the cached dots.
    val maxPlanes = BitScaleSettings.map { case (b, t) => b * t }.max
    val signsFlat = Array.tabulate(maxPlanes * 64)(
      idx => sign(idx / 64, idx % 64).toByte)
    val dots = quant.select($"vec_id",
      graft.functions.SignProjection($"xqa", signsFlat, maxPlanes, 64)
        .as("dots")).cache()
    val perSetting = BitScaleSettings.map { case (b, t) =>
      val planes = b * t
      val proj = dots
        .select($"vec_id", posexplode($"dots").as(Seq("p", "dot")))
        .filter($"p" < planes)
      val bits = proj
        .groupBy($"vec_id", ($"p" / b).cast("int").as("tbl"))
        .agg(array_join(transform(array_sort(collect_list(struct($"p",
          when($"dot" > 0, "1").otherwise("0").as("bit")))), _.getField("bit")),
          "").as("bucket"))
      val cand = bits.filter($"vec_id" < 16)
        .select($"vec_id".as("qid"), $"tbl", $"bucket")
        .join(bits.select($"vec_id".as("cid"), $"tbl", $"bucket"),
          Seq("tbl", "bucket"))
        .filter($"qid" =!= $"cid")
        .select($"qid", $"cid").distinct()
      val ann = rerank5(cand, emb0, 16)
      val hits = ann.intersect(bf).groupBy($"qid").agg(count(lit(1)).as("n_hit"))
      val nc = cand.groupBy($"qid").agg(count(lit(1)).as("n_cand"))
      emb0.filter($"vec_id" < 16).select($"vec_id".as("qid"))
        .join(nc, Seq("qid"), "left")
        .join(hits, Seq("qid"), "left")
        .crossJoin(broadcast(nn))
        .groupBy($"n")
        .agg(
          lit(b.toLong).as("bits_per_table"),
          lit(t.toLong).as("n_tables"),
          count(lit(1)).as("n_queries"),
          round(sum(coalesce($"n_cand", lit(0L))).cast("double") /
            count(lit(1)) / first($"n"), 6).as("cand_fraction"),
          (sum(coalesce($"n_hit", lit(0L))).cast("double") / (count(lit(1)) * 5))
            .as("recall_at_5"))
        .select($"bits_per_table", $"n_tables", $"n_queries",
          $"cand_fraction", $"recall_at_5")
    }
    perSetting.reduce(_ unionByName _).orderBy($"bits_per_table")
  }

  /** The adaptive-LSH sizing rule sq02d runs and its oracle replays:
    * the smallest b ∈ [4, 14] with 2^b · 32 ≥ n (per-table buckets hold
    * ~32 rows at any corpus size — the corpus-stats gate, one COUNT),
    * and t = b·(b−2) tables (the integer-exact stand-in for the
    * OR-construction's ln-based table count, calibrated against
    * sq02c's measured sweep: (4,8)/(6,24)/(8,48) vs the sweep's
    * (4,10)/(6,30)/(8,60) — integer-exact so both engines derive the
    * SAME setting with no float-boundary risk). */
  private[graft] def adaptiveLshSetting(n: Long): (Int, Int) = {
    val b = (4 to 14).find(bb => (1L << bb) * 32 >= n).getOrElse(14)
    (b, b * (b - 2))
  }

  /** ADAPTIVE LSH — closes the sq02c loop (r12 verdict #5): the
    * signature width is no longer a scaladoc promise ("production
    * scales bits with corpus") but IS picked from a cheap corpus-stats
    * gate ([[adaptiveLshSetting]] over one COUNT — dq03's pairStats
    * pattern), and the ADAPTIVITY ITSELF is hash-checked: the oracle
    * re-derives (b, t) from its own COUNT(*) in a params CTE, so an
    * engine/oracle disagreement on the sizing rule — not just on the
    * pipeline — fails the gate. Pipeline is sq02c's portable arm
    * (md5-parity signs, exact BIGINT milli-unit projections via one
    * fused SignProjection nest, per-table buckets, candidate union,
    * exact-cosine rerank, recall@5 vs in-query brute force) at the
    * derived setting.
    *
    * 100 TB: per-table buckets hold ~32 rows regardless of n, so the
    * candidate fraction per query ~ t·32/n FALLS with corpus size
    * instead of the fixed-width arm's constant ~0.5 (the r12 audit's
    * flagged weak spot — sq02c's 4-bit arm measured 32.6 at the 100×
    * probe because its candidate set was half the corpus at any n).
    * COVERAGE.md "Round 13 — composing the graph board" records the
    * adaptive arm's fraction 1×→100×. */
  val sq02dAnnLshAdaptive: QueryDef = sqlChecked(
    "sq02d_lsh_adaptive",
    """WITH base AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |nn AS (SELECT COUNT(*) AS n FROM base),
      |params AS (
      |  SELECT b, b * (b - 2) AS t, b * b * (b - 2) AS planes
      |  FROM (SELECT COALESCE(MIN(b), 14) AS b
      |        FROM (SELECT unnest(range(4, 15)) AS b), nn
      |        WHERE (CAST(1 AS BIGINT) << b) * 32 >= n)),
      |el AS MATERIALIZED (
      |  SELECT vec_id, CAST(i0 AS INT) - 1 AS i,
      |    CAST(round(v[i0] * 1000) AS BIGINT) AS xq
      |  FROM (SELECT vec_id, v, unnest(range(1, len(v) + 1)) AS i0 FROM base)),
      |signs AS MATERIALIZED (
      |  SELECT p, i,
      |    CASE WHEN substr(md5(CAST(p AS VARCHAR) || ':' || CAST(i AS VARCHAR)), 1, 1)
      |      BETWEEN '0' AND '7' THEN 1 ELSE -1 END AS s
      |  FROM (SELECT unnest(range(0, 2352)) AS p), (SELECT unnest(range(0, 64)) AS i)
      |  WHERE p < (SELECT planes FROM params)),
      |proj AS (
      |  SELECT vec_id, p, SUM(s * xq) AS dot
      |  FROM el JOIN signs ON el.i = signs.i
      |  GROUP BY vec_id, p),
      |bits AS MATERIALIZED (
      |  SELECT vec_id, p // (SELECT b FROM params) AS tbl,
      |    string_agg(CASE WHEN dot > 0 THEN '1' ELSE '0' END, '' ORDER BY p) AS bucket
      |  FROM proj GROUP BY vec_id, p // (SELECT b FROM params)),
      |cand AS MATERIALIZED (
      |  SELECT DISTINCT q.vec_id AS qid, c.vec_id AS cid
      |  FROM bits q JOIN bits c ON q.tbl = c.tbl AND q.bucket = c.bucket
      |  WHERE q.vec_id < 16 AND q.vec_id <> c.vec_id),
      |ann AS (
      |  SELECT qid, cid FROM (
      |    SELECT c0.qid, c0.cid, ROW_NUMBER() OVER (PARTITION BY c0.qid
      |        ORDER BY list_cosine_similarity(qv.v, cv.v) DESC, c0.cid) AS rank
      |    FROM cand c0 JOIN base qv ON c0.qid = qv.vec_id
      |    JOIN base cv ON c0.cid = cv.vec_id)
      |  WHERE rank <= 5),
      |bf AS (
      |  SELECT qid, cid FROM (
      |    SELECT q.vec_id AS qid, c.vec_id AS cid,
      |      ROW_NUMBER() OVER (PARTITION BY q.vec_id
      |        ORDER BY list_cosine_similarity(q.v, c.v) DESC, c.vec_id) AS rank
      |    FROM base q, base c WHERE q.vec_id < 16 AND q.vec_id <> c.vec_id)
      |  WHERE rank <= 5),
      |hits AS (SELECT qid, COUNT(*) AS n_hit
      |  FROM (SELECT * FROM ann INTERSECT SELECT * FROM bf) GROUP BY qid),
      |nc AS (SELECT qid, COUNT(*) AS n_cand FROM cand GROUP BY qid),
      |qs AS (SELECT vec_id AS qid FROM base WHERE vec_id < 16)
      |SELECT p.b AS bits_per_table, p.t AS n_tables, nn.n AS n_vectors,
      |  COUNT(*) AS n_queries,
      |  round(CAST(SUM(COALESCE(n_cand, 0)) AS DOUBLE) / COUNT(*) / nn.n, 6) AS cand_fraction,
      |  CAST(SUM(COALESCE(n_hit, 0)) AS DOUBLE) / (5 * COUNT(*)) AS recall_at_5
      |FROM qs LEFT JOIN nc USING (qid) LEFT JOIN hits USING (qid), params p, nn
      |GROUP BY p.b, p.t, nn.n""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val emb0 = Tables.embeddings(spark, dir)
      .select($"vec_id", toDouble($"embedding").as("v"))
      .cache()
    // THE GATE: one count — the only corpus statistic the sizing needs
    val n = emb0.count()
    val (b, t) = adaptiveLshSetting(n)
    val planes = b * t
    val nn = emb0.agg(count(lit(1)).as("n"))
    val mdf = java.security.MessageDigest.getInstance("MD5")
    def sign(p: Int, i: Int): Int = {
      val hex = mdf.digest(s"$p:$i".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      if (hex.charAt(0) <= '7') 1 else -1
    }
    val signsFlat = Array.tabulate(planes * 64)(
      idx => sign(idx / 64, idx % 64).toByte)
    val quant = emb0.select($"vec_id", transform($"v", x =>
      round(x * 1000).cast("long")).as("xqa"))
    val dots = quant.select($"vec_id",
      graft.functions.SignProjection($"xqa", signsFlat, planes, 64)
        .as("dots"))
    // posexplode + groupBy (sq02c's arm shape): the bucket strings are
    // built by aggregation, not by a planes-wide static expression —
    // the derived plane count is data-dependent and an expression per
    // plane would blow up the plan at large b (the r10 lesson)
    val proj = dots
      .select($"vec_id", posexplode($"dots").as(Seq("p", "dot")))
    val bits = proj
      .groupBy($"vec_id", ($"p" / b).cast("int").as("tbl"))
      .agg(array_join(transform(array_sort(collect_list(struct($"p",
        when($"dot" > 0, "1").otherwise("0").as("bit")))), _.getField("bit")),
        "").as("bucket"))
    val cand = bits.filter($"vec_id" < 16)
      .select($"vec_id".as("qid"), $"tbl", $"bucket")
      .join(bits.select($"vec_id".as("cid"), $"tbl", $"bucket"),
        Seq("tbl", "bucket"))
      .filter($"qid" =!= $"cid")
      .select($"qid", $"cid").distinct()
    val ann = rerank5(cand, emb0, 16)
    val bf = truth5(emb0, 16)
    val hits = ann.intersect(bf).groupBy($"qid").agg(count(lit(1)).as("n_hit"))
    val nc = cand.groupBy($"qid").agg(count(lit(1)).as("n_cand"))
    emb0.filter($"vec_id" < 16).select($"vec_id".as("qid"))
      .join(nc, Seq("qid"), "left")
      .join(hits, Seq("qid"), "left")
      .crossJoin(broadcast(nn))
      .groupBy($"n")
      .agg(
        lit(b.toLong).as("bits_per_table"),
        lit(t.toLong).as("n_tables"),
        count(lit(1)).as("n_queries"),
        round(sum(coalesce($"n_cand", lit(0L))).cast("double") /
          count(lit(1)) / first($"n"), 6).as("cand_fraction"),
        (sum(coalesce($"n_hit", lit(0L))).cast("double") / (count(lit(1)) * 5))
          .as("recall_at_5"))
      .select($"bits_per_table", $"n_tables", $"n".as("n_vectors"),
        $"n_queries", $"cand_fraction", $"recall_at_5")
  }

  /** DuckDB CTEs for `rounds` fixed Lloyd iterations over the integer
    * element frame `el(vec_id, i, xq)` starting from `cent0(k, i, c)`:
    * each round assigns every vector to its nearest centroid by EXACT
    * BIGINT squared distance (ties → smallest k) and recomputes centroids
    * by the portable truncating division (abs // n with the sign
    * reapplied — Spark DIV truncates, DuckDB // floors, they agree on
    * non-negatives). sq15's unroll move applied to k-means. Ends in
    * CTEs `cent{rounds}` and the final assignment `aF(vec_id, k)`. */
  private def lloydSql(rounds: Int): String = {
    def assign(name: String, cent: String) =
      s"""d_$name AS (SELECT el.vec_id, c.k,
         |    SUM((el.xq - c.c) * (el.xq - c.c)) AS dist
         |  FROM el JOIN $cent c ON el.i = c.i GROUP BY el.vec_id, c.k),
         |$name AS MATERIALIZED (SELECT vec_id, k FROM (
         |    SELECT vec_id, k, ROW_NUMBER() OVER (PARTITION BY vec_id
         |      ORDER BY dist, k) AS rn FROM d_$name) WHERE rn = 1)""".stripMargin
    val steps = (1 to rounds).map { r =>
      s"""${assign(s"a$r", s"cent${r - 1}")},
         |cent$r AS MATERIALIZED (
         |  SELECT a.k, el.i,
         |    CASE WHEN SUM(el.xq) < 0 THEN -(abs(SUM(el.xq)) // COUNT(*))
         |         ELSE abs(SUM(el.xq)) // COUNT(*) END AS c
         |  FROM a$r a JOIN el ON a.vec_id = el.vec_id GROUP BY a.k, el.i)""".stripMargin
    }
    s"""${steps.mkString(",\n")},
       |${assign("aF", s"cent$rounds")}""".stripMargin
  }

  /** sq04's portable twin — the IVF/k-means family's first oracle-HASH-
    * checked recall, closing the other end of the ANN board (the LSH end
    * is sq02b): coarse quantizer seeds are the 16 corpus vectors with the
    * smallest md5(vec_id) (both engines re-derive them — nothing is
    * handed to the oracle), 3 fixed Lloyd rounds run in EXACT integer
    * milli-unit arithmetic (elements quantize once via round(x·1000) —
    * a float32×1000 never lands exactly on .5 — squared distances are
    * exact BIGINTs, argmin ties break on k, centroid means use the
    * portable truncating division), queries probe the 6 nearest final
    * centroids, candidates equi-join on list id, and the exact-cosine
    * rerank + recall@5 vs in-query brute force reuse sq01/sq02b's
    * hash-green ranking precedent.
    *
    * 100 TB: seed choice is a TakeOrdered top-16 (collected as bounded
    * model state, the codebook precedent), each Lloyd round is one
    * corpus-scan groupBy against 16 broadcast centroids, assignment
    * frames carry (vec_id, k) pairs only, and the probe is the IVF
    * equi-join on list_id — identical shape to sq04, now replayable. */
  val sq04bAnnIvfRecallPortable: QueryDef = sqlChecked(
    "sq04b_ann_ivf_recall_portable",
    s"""WITH base AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |el AS MATERIALIZED (
       |  SELECT vec_id, CAST(i0 AS INT) AS i,
       |    CAST(round(v[i0] * 1000) AS BIGINT) AS xq
       |  FROM (SELECT vec_id, v, unnest(range(1, len(v) + 1)) AS i0 FROM base)),
       |seeds AS (
       |  SELECT vec_id, ROW_NUMBER() OVER (
       |      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS k
       |  FROM base),
       |cent0 AS MATERIALIZED (
       |  SELECT s.k, el.i, el.xq AS c
       |  FROM seeds s JOIN el ON s.vec_id = el.vec_id WHERE s.k < 16),
       |${lloydSql(3)},
       |pd AS (SELECT el.vec_id AS qid, c.k,
       |    SUM((el.xq - c.c) * (el.xq - c.c)) AS dist
       |  FROM el JOIN cent3 c ON el.i = c.i
       |  WHERE el.vec_id < 20 GROUP BY el.vec_id, c.k),
       |probes AS (SELECT qid, k FROM (
       |    SELECT qid, k, ROW_NUMBER() OVER (PARTITION BY qid
       |      ORDER BY dist, k) AS rn FROM pd) WHERE rn <= 6),
       |cand AS MATERIALIZED (
       |  SELECT p.qid, a.vec_id AS cid
       |  FROM probes p JOIN aF a ON p.k = a.k WHERE p.qid <> a.vec_id),
       |ann AS (
       |  SELECT qid, cid FROM (
       |    SELECT cand.qid, cand.cid, ROW_NUMBER() OVER (PARTITION BY cand.qid
       |        ORDER BY list_cosine_similarity(qv.v, cv.v) DESC, cand.cid) AS rank
       |    FROM cand JOIN base qv ON cand.qid = qv.vec_id
       |    JOIN base cv ON cand.cid = cv.vec_id)
       |  WHERE rank <= 5),
       |bf AS (
       |  SELECT qid, cid FROM (
       |    SELECT q.vec_id AS qid, c.vec_id AS cid,
       |      ROW_NUMBER() OVER (PARTITION BY q.vec_id
       |        ORDER BY list_cosine_similarity(q.v, c.v) DESC, c.vec_id) AS rank
       |    FROM base q, base c WHERE q.vec_id < 20 AND q.vec_id <> c.vec_id)
       |  WHERE rank <= 5),
       |hits AS (SELECT qid, COUNT(*) AS n_hit
       |  FROM (SELECT * FROM ann INTERSECT SELECT * FROM bf) GROUP BY qid),
       |nc AS (SELECT qid, COUNT(*) AS n_cand FROM cand GROUP BY qid),
       |nl AS (SELECT COUNT(DISTINCT k) AS n_lists FROM aF),
       |qs AS (SELECT vec_id AS qid FROM base WHERE vec_id < 20)
       |SELECT COUNT(*) AS n_queries, nl.n_lists, CAST(6 AS BIGINT) AS n_probes,
       |  CAST(SUM(COALESCE(n_cand, 0)) AS DOUBLE) / COUNT(*) AS avg_candidates,
       |  CAST(SUM(COALESCE(n_hit, 0)) AS DOUBLE) / (5 * COUNT(*)) AS recall_at_5
       |FROM qs LEFT JOIN nc USING (qid) LEFT JOIN hits USING (qid), nl
       |GROUP BY nl.n_lists""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val K = 16; val Rounds = 3; val NProbe = 6
    val emb0 = Tables.embeddings(spark, dir)
      .select($"vec_id", toDouble($"embedding").as("v"))
    val el = emb0
      .select($"vec_id", posexplode(transform($"v", x =>
        round(x * 1000).cast("long"))).as(Seq("i0", "xq")))
      .select($"vec_id", ($"i0" + 1).cast("int").as("i"), $"xq")
      .cache()
    // seeds: TakeOrdered top-16 by md5(vec_id) — bounded model state
    val seedIds = emb0.select($"vec_id", md5($"vec_id".cast("string")).as("h"))
      .orderBy($"h", $"vec_id").limit(K)
      .collect().map(_.getLong(0)).zipWithIndex
    val seeds = seedIds.map { case (id, k) => (id, k) }.toSeq.toDF("svid", "k")
    var cent = el.join(broadcast(seeds), $"vec_id" === $"svid")
      .select($"k", $"i", $"xq".as("c"))
      .localCheckpoint()
    def assign(c: org.apache.spark.sql.DataFrame) = {
      val w = Window.partitionBy($"vec_id").orderBy($"dist", $"k")
      el.join(broadcast(c.select($"k", $"i".as("ci"), $"c")), $"i" === $"ci")
        .groupBy($"vec_id", $"k")
        .agg(sum(($"xq" - $"c") * ($"xq" - $"c")).as("dist"))
        .withColumn("rn", row_number().over(w))
        .filter($"rn" === 1)
        .select($"vec_id", $"k")
    }
    for (_ <- 1 to Rounds) {
      val a = assign(cent)
      cent = a.join(el, Seq("vec_id"))
        .groupBy($"k", $"i")
        .agg(sum($"xq").as("s"), count(lit(1)).as("n"))
        .select($"k", $"i",
          when($"s" < 0, -expr("abs(s) DIV n")).otherwise(expr("abs(s) DIV n"))
            .as("c"))
        .localCheckpoint()
    }
    val aF = assign(cent).localCheckpoint()
    // probe: 6 nearest final centroids per query, then the IVF equi-join
    val wP = Window.partitionBy($"qid").orderBy($"dist", $"k")
    val probes = el.filter($"vec_id" < 20)
      .withColumnRenamed("vec_id", "qid")
      .join(broadcast(cent.select($"k", $"i".as("ci"), $"c")), $"i" === $"ci")
      .groupBy($"qid", $"k")
      .agg(sum(($"xq" - $"c") * ($"xq" - $"c")).as("dist"))
      .withColumn("rn", row_number().over(wP))
      .filter($"rn" <= NProbe)
      .select($"qid", $"k")
    val cand = probes.join(aF.select($"vec_id".as("cid"), $"k"), Seq("k"))
      .filter($"qid" =!= $"cid")
      .select($"qid", $"cid")
    val ann = rerank5(cand, emb0, 20)
    val bf = truth5(emb0, 20)
    val hits = ann.intersect(bf).groupBy($"qid").agg(count(lit(1)).as("n_hit"))
    val nc = cand.groupBy($"qid").agg(count(lit(1)).as("n_cand"))
    val nl = aF.agg(countDistinct($"k").as("n_lists"))
    emb0.filter($"vec_id" < 20).select($"vec_id".as("qid"))
      .join(nc, Seq("qid"), "left")
      .join(hits, Seq("qid"), "left")
      .crossJoin(broadcast(nl))
      .groupBy($"n_lists")
      .agg(
        count(lit(1)).as("n_queries"),
        lit(6L).as("n_probes"),
        (sum(coalesce($"n_cand", lit(0L))).cast("double") / count(lit(1)))
          .as("avg_candidates"),
        (sum(coalesce($"n_hit", lit(0L))).cast("double") / (count(lit(1)) * 5))
          .as("recall_at_5"))
      .select($"n_queries", $"n_lists", $"n_probes",
        $"avg_candidates", $"recall_at_5")
  }

  /** OPQ — Optimized Product Quantization (Ge et al. 2014, the
    * parametric OPQ-P solution): rotate the space BEFORE sq09's product
    * quantizer so the per-subspace variances balance, closing the loop
    * sq15's PCA machinery opened. Pipeline: driver-side mean + centered
    * scatter over the bounded codebook sample → deterministic cyclic
    * Jacobi eigendecomposition ([[graft.similarity.Eig.jacobiSym]]) →
    * eigenvalue allocation (descending eigenvalues dealt greedily onto
    * the bucket with the smallest log-variance sum —
    * [[graft.similarity.Eig.eigenAllocation]]) → the allocated eigenbasis
    * IS the rotation. Both arms (plain PQ on raw dims, PQ on the rotated
    * corpus) then run sq09's exact encode/LUT/ADC/rerank shape against
    * the SAME raw-cosine brute-force ground truth, so the output row is
    * a self-validating A/B: recall_opq vs recall_pq under identical
    * budgets (M=8, K=16, 4 B/vector), plus the per-bucket log-variance
    * spread before/after allocation (the quantity OPQ-P minimizes).
    * OpqSpec pins the deterministic fixture values with floors.
    *
    * 100 TB: rotation is one dense matvec per row (d² flops, fully
    * codegen — the standard OPQ serving cost) fused into the same scan
    * as the encode; everything else inherits sq09's shape. rowsOnly:
    * eigensolve + codebooks are engine-side; the A/B metric is the
    * self-validation. */
  val sq17AnnOpqRecall: QueryDef = rowsOnly("sq17_ann_opq_recall") { (spark, dir) =>
    import spark.implicits._
    val M = 8; val sub = 8; val K = 16
    val emb = Tables.embeddings(spark, dir)
      .select($"vec_id", toDouble($"embedding").as("v")).cache()
    val sample = emb.orderBy($"vec_id").limit(20000)
      .collect().map(_.getSeq[Double](1).toArray).toIndexedSeq
    val d = sample.head.length
    val n = sample.length
    val mean = Array.tabulate(d) { j =>
      var s = 0.0; var i = 0; while (i < n) { s += sample(i)(j); i += 1 }; s / n
    }
    val cov = Array.ofDim[Double](d, d)
    locally {
      var i = 0
      while (i < n) {
        val p = sample(i)
        var r = 0
        while (r < d) {
          val cr = p(r) - mean(r)
          var c2 = r
          while (c2 < d) { cov(r)(c2) += cr * (p(c2) - mean(c2)); c2 += 1 }
          r += 1
        }
        i += 1
      }
      var r = 0
      while (r < d) {
        var c2 = r + 1
        while (c2 < d) { cov(c2)(r) = cov(r)(c2); c2 += 1 }
        r += 1
      }
    }
    val (evals, evecs) = graft.similarity.Eig.jacobiSym(cov)
    val alloc = graft.similarity.Eig.eigenAllocation(evals, M, sub)
    val R: Seq[Seq[Double]] = alloc.map(i => evecs(i).toSeq)
    // x' = R(x − mean): one codegen'd dense matvec per row — L2 distances
    // are translation+rotation invariant, so ADC in the rotated space
    // ranks exactly the geometry the raw space has
    val meanLit = typedlit(mean.toSeq)
    val embRot = emb.select($"vec_id",
      Pq.rotateCol(zip_with($"v", meanLit, (x, mu) => x - mu), R).as("v")).cache()
    def rotDriver(p: Array[Double]): Array[Double] =
      Pq.rotateVec(Array.tabulate(d)(i => p(i) - mean(i)), R)
    val cbPlain = Pq.trainSubspaces(sample, M, sub, K)
    val cbRot = Pq.trainSubspaces(sample.map(rotDriver), M, sub, K)
    val bf = truth5(emb, 20)
    // sq09's pipeline per arm; the exact rerank always gathers RAW
    // vectors, so both arms share the raw-cosine ground truth
    val hitsP = pqTop5(emb, emb, cbPlain, sub).intersect(bf)
      .groupBy($"qid").agg(count(lit(1)).as("n_p"))
    val hitsO = pqTop5(emb, embRot, cbRot, sub).intersect(bf)
      .groupBy($"qid").agg(count(lit(1)).as("n_o"))
    // balance diagnostic: per-bucket Σ log(variance) spread for the
    // natural contiguous split vs the eigen-allocated split — the
    // objective OPQ-P minimizes, reported from the same scatter
    def spreadOf(varsByBucket: Seq[Seq[Double]]): Double = {
      val sums = varsByBucket.map(_.map(x => math.log(math.max(x, 1e-30))).sum)
      sums.max - sums.min
    }
    val naturalSpread = spreadOf(
      (0 until M).map(b => (0 until sub).map(j => cov(b * sub + j)(b * sub + j) / n)))
    val opqSpread = spreadOf(
      (0 until M).map(b => (0 until sub).map(j => evals(alloc(b * sub + j)) / n)))
    bf.groupBy($"qid").agg(count(lit(1)).as("n_bf"))
      .join(hitsP, Seq("qid"), "left")
      .join(hitsO, Seq("qid"), "left")
      .agg(
        count(lit(1)).as("n_queries"),
        lit(M).as("m_subspaces"),
        lit(K).as("k_centroids"),
        avg(coalesce($"n_p", lit(0)) / $"n_bf").as("recall_pq"),
        avg(coalesce($"n_o", lit(0)) / $"n_bf").as("recall_opq"),
        round(lit(naturalSpread), 6).as("log_var_spread_natural"),
        round(lit(opqSpread), 6).as("log_var_spread_opq"))
  }

  /** Embedding isotropy audit + PCA whitening (Su et al. 2021,
    * "Whitening Sentence Representations"; anisotropy per Ethayarajh
    * 2019): contextual embeddings cluster in a narrow cone — average
    * |cosine| between UNRELATED vectors sits far above 0, which
    * compresses the usable similarity range. The whitening transform
    * W = diag(1/√λ)·U from the corpus PCA (sq17's deterministic Jacobi
    * eigensolve, reused) maps the cloud to zero mean and unit
    * covariance; this query measures the before/after in one row:
    * the off-diagonal energy share of the sample covariance (which MUST
    * collapse toward 0 — it drops 0.99997 → 0.0033 on the fixture,
    * whose embeddings carry strong low-rank label structure) and the
    * mean |pairwise cosine| over a bounded sample, reported honestly:
    * the fixture is already at the d=64 directional-isotropy baseline
    * (≈0.10), so the cone-collapse effect real contextual embeddings
    * show has nothing to bite on here — the audit SAYS so, which is its
    * job (tq41's non-Zipfian finding, for geometry). The whitened
    * transform is one codegen'd d² matvec per row, sq17's serving
    * cost.
    *
    * rowsOnly: eigensolve engine-side; the before/after metric IS the
    * self-validation. */
  val sq19WhiteningAudit: QueryDef = rowsOnly("sq19_whitening_audit") { (spark, dir) =>
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir)
      .select($"vec_id", toDouble($"embedding").as("v")).cache()
    val sample = emb.orderBy($"vec_id").limit(20000)
      .collect().map(_.getSeq[Double](1).toArray).toIndexedSeq
    val d = sample.head.length
    val n = sample.length
    val mean = Array.tabulate(d) { j =>
      var s = 0.0; var i = 0; while (i < n) { s += sample(i)(j); i += 1 }; s / n
    }
    val cov = Array.ofDim[Double](d, d)
    locally {
      var i = 0
      while (i < n) {
        val p = sample(i)
        var r = 0
        while (r < d) {
          val cr = p(r) - mean(r)
          var c2 = r
          while (c2 < d) { cov(r)(c2) += cr * (p(c2) - mean(c2)); c2 += 1 }
          r += 1
        }
        i += 1
      }
      var r = 0
      while (r < d) {
        var c2 = 0
        while (c2 <= r) { cov(r)(c2) = cov(c2)(r) / n; c2 += 1 }
        c2 = r
        while (c2 < d) { cov(r)(c2) = cov(r)(c2) / n; c2 += 1 }
        r += 1
      }
      r = 0
      while (r < d) {
        var c2 = r + 1
        while (c2 < d) { cov(c2)(r) = cov(r)(c2); c2 += 1 }
        r += 1
      }
    }
    val (evals, evecs) = graft.similarity.Eig.jacobiSym(cov)
    // W rows: u_i / sqrt(λ_i + eps) — PCA whitening
    val W: Seq[Seq[Double]] = evals.indices.map { i =>
      val s0 = 1.0 / math.sqrt(math.max(evals(i), 0.0) + 1e-9)
      evecs(i).map(_ * s0).toSeq
    }
    val meanLit = typedlit(mean.toSeq)
    def whiten(vCol: org.apache.spark.sql.Column) =
      transform(typedlit(W), r =>
        aggregate(zip_with(r, zip_with(vCol, meanLit, (x, mu) => x - mu),
          (ri, xi) => ri * xi), lit(0.0), _ + _))
    val small = emb.filter($"vec_id" < 100)
      .select($"vec_id", $"v", whiten($"v").as("w")).cache()
    val pairs = small.as("a")
      .join(small.as("b"), $"a.vec_id" < $"b.vec_id")
      .select(
        abs(cosine($"a.v", $"b.v")).as("ac_raw"),
        abs(cosine($"a.w", $"b.w")).as("ac_white"))
    // off-diagonal energy share of the sample covariance, before/after:
    // whitening must drive Σ_offdiag² / Σ_total² toward 0
    def offdiagShare(m: Array[Array[Double]]): Double = {
      var tot = 0.0; var off = 0.0
      for (i <- 0 until d; j <- 0 until d) {
        val e = m(i)(j) * m(i)(j)
        tot += e; if (i != j) off += e
      }
      off / tot
    }
    val covW = Array.ofDim[Double](d, d)
    locally {
      // whitened sample covariance, driver-side over the same sample
      val sw = sample.map { p =>
        val c = Array.tabulate(d)(i => p(i) - mean(i))
        Array.tabulate(d) { i =>
          var s2 = 0.0; var j = 0; val r = W(i)
          while (j < d) { s2 += r(j) * c(j); j += 1 }; s2
        }
      }
      var i = 0
      while (i < n) {
        val p = sw(i)
        var r = 0
        while (r < d) {
          var c2 = 0
          while (c2 < d) { covW(r)(c2) += p(r) * p(c2) / n; c2 += 1 }
          r += 1
        }
        i += 1
      }
    }
    // davg: the self-join's shuffle order varies run to run, and a
    // double avg would carry that order into the last bits
    pairs.agg(
      count(lit(1)).as("n_pairs"),
      davg($"ac_raw").as("avg_abs_cos_raw"),
      davg($"ac_white").as("avg_abs_cos_white"),
      round(lit(offdiagShare(cov)), 6).as("cov_offdiag_share_raw"),
      round(lit(offdiagShare(covW)), 6).as("cov_offdiag_share_white"))
  }

  /** Matryoshka (MRL) truncation audit: how much of each embedding's
    * energy lives in its first m dimensions — exactly the question asked
    * before serving truncated vectors from a matryoshka-trained model
    * (Kusupati et al. 2022). cos(x, truncate_m(x)) reduces algebraically
    * to ‖x[1..m]‖/‖x‖, so per (vector, budget) the audit is one
    * decimal-exact prefix-energy fold (sq13's per-element CAST shield);
    * ratios round once to 6 dp and average via the davg pattern. Budgets
    * 8/16/32/64 over 64-dim vectors.
    *
    * 100 TB: one scan, all per-vector work is an in-row codegen'd fold
    * (no explode on the Spark side), output is 4 rows — the same
    * map-side-collapse shape as sq13. */
  val sq16MatryoshkaAudit: QueryDef = sqlChecked(
    "sq16_matryoshka_audit",
    s"""WITH el AS (
       |  SELECT vec_id, CAST(i0 AS INT) AS i, CAST(embedding[i0] AS DOUBLE) AS x
       |  FROM (SELECT vec_id, embedding,
       |          unnest(range(1, len(embedding) + 1)) AS i0 FROM embeddings)),
       |m AS (SELECT unnest([8, 16, 32, 64]) AS m),
       |e AS (
       |  SELECT vec_id, m.m AS m,
       |    CAST(SUM(CAST(x * x AS DECIMAL(30,6))) FILTER (i <= m.m) AS DOUBLE) AS e_m,
       |    CAST(SUM(CAST(x * x AS DECIMAL(30,6))) AS DOUBLE) AS e_full
       |  FROM el CROSS JOIN m GROUP BY vec_id, m.m),
       |r AS (SELECT m, round(sqrt(e_m) / sqrt(e_full), 6) AS r6 FROM e)
       |SELECT CAST(m AS BIGINT) AS m, COUNT(*) AS n_vecs,
       |  ${sqlDavg("r6")} AS avg_prefix_cos,
       |  MIN(r6) AS min_prefix_cos
       |FROM r GROUP BY m ORDER BY m""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val D = org.apache.spark.sql.types.DecimalType(30, 6)
    val v = Tables.embeddings(spark, dir)
      .select($"vec_id", toDouble($"embedding").as("v"))
    def energy(m: Int) =
      aggregate(slice($"v", 1, m), lit(java.math.BigDecimal.ZERO).cast(D),
        (acc, x) => (acc + (x * x).cast(D)).cast(D)).cast("double")
    val budgets = Seq(8, 16, 32, 64)
    val perVec = v.select(explode(array(budgets.map(m =>
        struct(lit(m.toLong).as("m"),
          (sqrt(energy(m)) / sqrt(energy(64))).as("ratio"))): _*)).as("b"))
      .select($"b.m".as("m"), round($"b.ratio", 6).as("r6"))
    perVec.groupBy($"m")
      .agg(count(lit(1)).as("n_vecs"),
        davg($"r6").as("avg_prefix_cos"),
        min($"r6").as("min_prefix_cos"))
      .orderBy($"m")
  }

  /** DuckDB CTEs for `rounds` NN-Descent iterations over `vecs(vec_id, v)`
    * with `nn(n)`: deterministic SPREAD init — nbr = (src + 1 +
    * (j·193 mod (n−1))) mod n for j = 1..k, a prime stride that lands
    * the initial neighbors across the whole id space (a ±k ring would
    * make 2-hop reach grow only linearly per round) and can never be
    * self — then per round
    * the neighbor-of-neighbor expansion over the UNDIRECTED graph
    * (B = N ∪ N⁻¹; candidates = 2-hop pairs ∪ current edges), exact
    * double-cosine scoring and a (cos DESC, nbr) top-k per node — the
    * same deterministic rerank contract as sq01/sq02b. Ends in CTEs
    * e_0 .. e_{rounds} plus `bf` (true top-k of the 16-query subset). */
  private[queries] def nnDescentSql(k: Int, rounds: Int): String = {
    def summary(r: Int) =
      s"""sum_$r AS (SELECT CAST($r AS BIGINT) AS round,
         |  COUNT(*) AS n_edges,
         |  round(CAST(SUM(CAST(round(cos, 6) AS DECIMAL(30,6))) AS DOUBLE)
         |    / COUNT(*), 6) AS avg_nbr_cos,
         |  CAST((SELECT COUNT(*) FROM (SELECT src, nbr FROM e_$r WHERE src < 16
         |    INTERSECT SELECT src, nbr FROM bf)) AS DOUBLE) / (16 * $k) AS recall_at_k
         |  FROM e_$r)""".stripMargin
    val steps = (1 to rounds).map { r =>
      val prev = s"e_${r - 1}"
      s"""b_$r AS MATERIALIZED (
         |  SELECT src, nbr FROM $prev
         |  UNION
         |  SELECT nbr AS src, src AS nbr FROM $prev),
         |c_$r AS MATERIALIZED (
         |  SELECT a.src, b.nbr FROM b_$r a JOIN b_$r b ON a.nbr = b.src
         |  WHERE a.src <> b.nbr
         |  UNION
         |  SELECT src, nbr FROM $prev),
         |s_$r AS MATERIALIZED (
         |  SELECT c.src, c.nbr, list_cosine_similarity(x.v, y.v) AS cos
         |  FROM c_$r c JOIN vecs x ON c.src = x.vec_id
         |  JOIN vecs y ON c.nbr = y.vec_id),
         |e_$r AS MATERIALIZED (
         |  SELECT src, nbr, cos FROM (
         |    SELECT src, nbr, cos, ROW_NUMBER() OVER (PARTITION BY src
         |      ORDER BY cos DESC, nbr) AS rn FROM s_$r)
         |  WHERE rn <= $k)""".stripMargin
    }
    s"""nn AS (SELECT COUNT(*) AS n FROM vecs),
       |init AS (
       |  SELECT DISTINCT v0.vec_id AS src,
       |    (v0.vec_id + 1 + (j * 193) % (nn.n - 1)) % nn.n AS nbr
       |  FROM vecs v0, (SELECT unnest(range(1, ${k + 1})) AS j) js, nn),
       |e_0 AS MATERIALIZED (
       |  SELECT i.src, i.nbr, list_cosine_similarity(x.v, y.v) AS cos
       |  FROM init i JOIN vecs x ON i.src = x.vec_id
       |  JOIN vecs y ON i.nbr = y.vec_id),
       |bf AS MATERIALIZED (
       |  SELECT src, nbr FROM (
       |    SELECT q.vec_id AS src, c.vec_id AS nbr,
       |      ROW_NUMBER() OVER (PARTITION BY q.vec_id
       |        ORDER BY list_cosine_similarity(q.v, c.v) DESC, c.vec_id) AS rn
       |    FROM vecs q, vecs c WHERE q.vec_id < 16 AND q.vec_id <> c.vec_id)
       |  WHERE rn <= $k),
       |${steps.mkString(",\n")},
       |${(0 to rounds).map(summary).mkString(",\n")}""".stripMargin
  }

  /** Approximate k-NN GRAPH construction by NN-Descent (Dong et al.
    * 2011, "Efficient K-Nearest Neighbor Graph Construction for Generic
    * Similarity Measures") — the graph-based end of the ANN board next
    * to the hashing (LSH) and quantization (IVF/PQ/OPQ) families, and
    * the build stage every HNSW-style serving index starts from. The
    * algorithm is pure relational algebra, which is why it fits Spark:
    * start from any cheap graph (deterministic ring init here), then
    * each round proposes every node's 2-HOP NEIGHBORHOOD over the
    * undirected current graph (neighbors' neighbors — a self-join on
    * the k·n edge list, never all-pairs), scores candidates with exact
    * cosine, and keeps each node's top-k. "A neighbor of a neighbor is
    * likely a neighbor" converges in a handful of rounds.
    *
    * The frame carries one row per round 0..3: edge count, mean
    * neighbor cosine (decimal-exact average of once-rounded values —
    * must rise monotonically as the graph improves), and recall@8 of
    * the 16-query subset vs the in-query brute-force truth (ring init
    * starts near 0; three rounds reach production-useful recall). The
    * oracle replays ALL of it — init, every expansion round, scoring,
    * tie-breaks, recall — so the whole construction is hash-checked.
    *
    * 100 TB: per round the shuffle is the 2-hop self-join on (k·n)
    * edges — k² candidates per node, independent of corpus size; scoring
    * joins fetch only candidate endpoints' vectors. This is the standard
    * distributed kNN-graph recipe (NN-Descent MapReduce, Faiss's
    * build-graph-by-blocks); the ring init swaps for LSH buckets (sq02)
    * when a warm start is worth the extra scan. */
  val sq21KnnGraphNnDescent: QueryDef = sqlChecked(
    "sq21_knn_graph_nndescent",
    s"""WITH vecs AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |${nnDescentSql(8, 4)}
       |SELECT * FROM (
       |  SELECT * FROM sum_0 UNION ALL SELECT * FROM sum_1
       |  UNION ALL SELECT * FROM sum_2 UNION ALL SELECT * FROM sum_3
       |  UNION ALL SELECT * FROM sum_4)
       |ORDER BY round""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val k = 8; val rounds = 4
    val D = org.apache.spark.sql.types.DecimalType(30, 6)
    val vecs = Tables.embeddings(spark, dir)
      .select($"vec_id", toDouble($"embedding").as("v"))
      .cache()
    // |Q|-bounded truth: broadcast the 16 queries, stream the corpus
    // (BroadcastNestedLoopJoin, never a cartesian)
    val bf = KnnGraph.exactTruth(queriesOf(vecs, 16), vecs, k)
      .select($"qid".as("src"), $"node".as("nbr")).cache()
    def summary(r: Int, e: org.apache.spark.sql.DataFrame) = {
      val hits = e.filter($"src" < 16).select($"src", $"nbr")
        .join(bf, Seq("src", "nbr"), "left_semi")
        .agg(count(lit(1)).as("nhit"))
      e.agg(
        count(lit(1)).as("n_edges"),
        round(sum(round($"cos", 6).cast(D)).cast("double") / count(lit(1)), 6)
          .as("avg_nbr_cos"))
        .crossJoin(broadcast(hits))
        .select(lit(r.toLong).as("round"), $"n_edges", $"avg_nbr_cos",
          ($"nhit".cast("double") / (16 * k)).as("recall_at_k"))
    }
    // sq21 IS the construction query: it always builds fresh (its
    // bench/probe number means "what a build costs"); the serving
    // queries share the cached build instead (nnDescentBuild)
    val es = KnnGraph.build(vecs, k, rounds)
    es.zipWithIndex.map { case (e, r) => summary(r, e) }
      .reduce(_ unionByName _).orderBy($"round")
  }

  /** The NN-Descent build rounds shared by sq21 (construction metrics)
    * and every full-corpus serving query over the final graph
    * (sq22/sq24/sq25/sq26) — the real implementation lives in
    * [[KnnGraph.build]] next to the stored layout and
    * serving loop, and the rounds are PROCESS-SHARED through
    * [[KnnGraph.buildCached]]: the first query pays
    * the build, the rest reload its persisted rounds (bit-identical by
    * the durable-resume proof — build once, serve many, exactly like a
    * deployment). Queries over a MODIFIED corpus (sq23's held-out
    * slices) or that TIME the build (sq22b) keep their own workDirs. */
  private def nnDescentBuild(vecs: org.apache.spark.sql.DataFrame,
      dir: String, k: Int, rounds: Int): Seq[org.apache.spark.sql.DataFrame] =
    KnnGraph.buildCached(vecs, dir, k, rounds)

  /** DuckDB CTEs for `rounds` greedy BEAM-SEARCH steps over the graph
    * CTE `graph(src, nbr)`: deterministic entry node per query, each
    * step expands the frontier through the UNDIRECTED edges, drops
    * already-visited nodes, keeps the best `beam` new nodes by exact
    * cosine, and accumulates the visited pool; per-step summaries
    * report pool size and recall@k of the pool's best k vs `bf`. */
  private def beamSql(k: Int, rounds: Int, graph: String,
      prefix: String = ""): String = {
    val P = prefix
    def ansAndSum(r: Int) =
      s"""${P}ans_$r AS (SELECT qid, node FROM (
         |  SELECT p.qid, p.node, ROW_NUMBER() OVER (PARTITION BY p.qid
         |    ORDER BY list_cosine_similarity(q.v, c.v) DESC, p.node) AS rn
         |  FROM ${P}p_$r p JOIN ${P}qv q ON p.qid = q.qid
         |  JOIN vecs c ON p.node = c.vec_id
         |  WHERE p.node <> p.qid) WHERE rn <= $k),
         |${P}bsum_$r AS (SELECT CAST($r AS BIGINT) AS round,
         |  (SELECT COUNT(*) FROM ${P}p_$r) AS pool_nodes,
         |  CAST((SELECT COUNT(*) FROM (SELECT qid, node FROM ${P}ans_$r
         |    INTERSECT SELECT src, nbr FROM bf)) AS DOUBLE) / (16 * $k)
         |    AS recall_at_k)""".stripMargin
    val steps = (1 to rounds).map { r =>
      s"""${P}x_$r AS (SELECT DISTINCT f.qid, u.nbr AS node
         |  FROM ${P}f_${r - 1} f JOIN ${P}und u ON f.node = u.src),
         |${P}nw_$r AS (SELECT x.qid, x.node FROM ${P}x_$r x
         |  ANTI JOIN ${P}p_${r - 1} p ON x.qid = p.qid AND x.node = p.node),
         |${P}sc_$r AS (SELECT n.qid, n.node, list_cosine_similarity(q.v, c.v) AS cos
         |  FROM ${P}nw_$r n JOIN ${P}qv q ON n.qid = q.qid
         |  JOIN vecs c ON n.node = c.vec_id),
         |${P}f_$r AS MATERIALIZED (SELECT qid, node FROM (
         |  SELECT qid, node, ROW_NUMBER() OVER (PARTITION BY qid
         |    ORDER BY cos DESC, node) AS rn FROM ${P}sc_$r) WHERE rn <= $k),
         |${P}p_$r AS MATERIALIZED (
         |  SELECT qid, node FROM ${P}p_${r - 1}
         |  UNION SELECT qid, node FROM ${P}f_$r)""".stripMargin
    }
    s"""${P}und AS MATERIALIZED (
       |  SELECT src, nbr FROM $graph UNION SELECT nbr, src FROM $graph),
       |${P}qv AS (SELECT vec_id AS qid, v FROM vecs WHERE vec_id < 16),
       |${P}p_0 AS MATERIALIZED (
       |  SELECT q.qid, (q.qid * 37 + 1) % nn.n AS node FROM ${P}qv q, nn),
       |${P}f_0 AS (SELECT qid, node FROM ${P}p_0),
       |${steps.mkString(",\n")},
       |${(0 to rounds).map(ansAndSum).mkString(",\n")}""".stripMargin
  }

  /** Graph-ANN SERVING — greedy beam search over the NN-Descent graph
    * sq21 builds, completing the graph family's build+serve pair the
    * way sq14 does for IVF-PQ (this is HNSW's layer-0 search loop, the
    * algorithm every graph index serves with): start each query at a
    * deterministic entry node, repeatedly expand the current frontier
    * through the undirected edges, keep the best `beam` UNVISITED nodes
    * by exact cosine, and answer with the visited pool's top-k. One row
    * per step shows the pool growing and recall@8 climbing — the
    * beam-depth/recall trade a serving deployment tunes. The oracle
    * replays the ENTIRE stack: the 4-round graph build, the entry
    * choice, every beam step's expansion/dedup/tie-breaks, and the
    * recall accounting.
    *
    * 100 TB: serving touches O(beam · k · steps) vectors per query —
    * corpus-size-free once the graph is built; the graph itself is the
    * k·n edge list, stored partitioned by src bucket exactly like
    * sq14's codes table (the registry/pin lifecycle applies unchanged). */
  val sq22GraphAnnServe: QueryDef = sqlChecked(
    "sq22_graph_ann_serve",
    s"""WITH vecs AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |${nnDescentSql(8, 4)},
       |${beamSql(8, 4, "e_4")}
       |SELECT * FROM (
       |  SELECT * FROM bsum_0 UNION ALL SELECT * FROM bsum_1
       |  UNION ALL SELECT * FROM bsum_2 UNION ALL SELECT * FROM bsum_3
       |  UNION ALL SELECT * FROM bsum_4)
       |ORDER BY round""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val k = 8; val buildRounds = 4; val beamRounds = 4
    val vecs = Tables.embeddings(spark, dir)
      .select($"vec_id", toDouble($"embedding").as("v"))
      .cache()
    val graph = nnDescentBuild(vecs, dir, k, buildRounds).last
    val und = KnnGraph.undirected(graph).localCheckpoint(true)
    val qv = vecs.filter($"vec_id" < 16).select($"vec_id".as("qid"), $"v")
    val bf = KnnGraph.exactTruth(qv, vecs, k).cache()
    def bsummary(r: Int, pool: org.apache.spark.sql.DataFrame) = {
      val ans = KnnGraph.rankPool(vecs, qv, pool, k)
      val hits = ans.join(bf, Seq("qid", "node"), "left_semi")
        .agg(count(lit(1)).as("nhit"))
      pool.agg(count(lit(1)).as("pool_nodes"))
        .crossJoin(broadcast(hits))
        .select(lit(r.toLong).as("round"), $"pool_nodes",
          ($"nhit".cast("double") / (16 * k)).as("recall_at_k"))
    }
    blindBeamPools(vecs, und, qv, k, beamRounds)
      .map { case (r, pool) => bsummary(r, pool) }
      .reduce(_ unionByName _).orderBy($"round")
  }

  /** The blind (filter-free, exact-cosine) beam walk sq22 hash-freezes,
    * shared verbatim with sq25 (which answers from the same pools under
    * a metadata filter): ring entries, per-round undirected expansion,
    * anti-join dedup, exact-cosine top-k frontier, checkpointed pool
    * union. Returns (round, pool) for rounds 0..beamRounds. */
  private def blindBeamPools(vecs: org.apache.spark.sql.DataFrame,
      und: org.apache.spark.sql.DataFrame,
      qv: org.apache.spark.sql.DataFrame,
      k: Int, beamRounds: Int): Seq[(Int, org.apache.spark.sql.DataFrame)] = {
    KnnGraph.beamTrace(KnnGraph.ringEntries(vecs, qv),
      KnnGraph.expandEdges(und), KnnGraph.scoreKeep(_, qv, vecs, k),
      beamRounds)
  }

  /** Build-vs-serve latency split for the STORED k-NN graph — sq18b's
    * measurement, graph edition (r11 verdict ask #3): sq22's hash-green
    * rows prove beam-serving CORRECT but carry no wall cost (timings
    * would break the oracle hash). This row builds ONCE (durably, the
    * buildDurable path), stores the adjacency, then times the batched
    * 16-query beam loop end to end — `serve_ms_per_query` is the
    * number a serving deployment budgets — measured three ways:
    * against a cached corpus frame (`serve_ms_per_query`), in the
    * store-ONLY distributed loop (`serve_ms_store_only`,
    * [[KnnGraph.serveFromStores]] — the 100 TB batch shape where
    * vectors come from a pruned point-fetch, never a corpus scan), and
    * through the COORDINATED head (`serve_ms_coordinated`,
    * [[KnnGraph.serveCoordinated]] — beam state on the driver: the
    * online-endpoint shape, answers provably identical; this row serves
    * each store version once, so it times the COLD path, two pruned
    * point-reads per round, never the resident one), and through the
    * QUANTIZED store head (`serve_ms_pq_store`,
    * [[KnnGraph.serveFromStoresPq]] — rounds fetch M-byte codes, the
    * vector store only serves the final re-rank; `recall_pq_final`
    * records what the quantized walk costs next to the ring's exact
    * walk).
    * `recall_ring_final` must equal sq22's round-4
    * recall_at_k (GraphServingParitySpec asserts it — the timed path
    * is the correct one, sq18b's matches_batch pattern).
    *
    * Entry A/B in the same frame: the deterministic RING entry
    * (qid·37+1 mod n, zero extra I/O) vs a WARM entry from
    * [[KnnGraph.sampledEntries]] (best of every 8th
    * node — a |Q|·n/8 broadcast pass), compared as
    * rounds-to-recall@8 ≥ 0.5: a warm start should buy the beam one or
    * more rounds, and the frame records whether it does.
    *
    * 100 TB: build cost is the per-round k²-candidate shuffle ONCE;
    * each served batch touches O(beam·k·steps) vectors and ≤ frontier
    * buckets of the k·n edge list regardless of corpus size — the
    * split this row records. */
  val sq22bGraphServingLatency: QueryDef = rowsOnly("sq22b_graph_serving_latency") { (spark, dir) =>
    import spark.implicits._
    val k = 8; val buildRounds = 4; val beamRounds = 4
    val vecs = Tables.embeddings(spark, dir)
      .select($"vec_id", toDouble($"embedding").as("v")).cache()
    val qv = vecs.filter($"vec_id" < 16).select($"vec_id".as("qid"), $"v")
    val bf = KnnGraph.exactTruth(qv, vecs, k).cache()
    val nq = qv.count()
    val root = graft.util.Scratch.tempDir("graft-sq22b")
    val tBuild0 = System.nanoTime()
    val graph = KnnGraph.buildDurable(vecs, k, buildRounds, s"$root/build").last
    val buildS = (System.nanoTime() - tBuild0) / 1e9
    val tStore0 = System.nanoTime()
    KnnGraph.writeStore(graph, s"$root/g")
    KnnGraph.writeVectors(vecs, s"$root/vec")
    val storeS = (System.nanoTime() - tStore0) / 1e9
    // all of a trace's per-round recalls in ONE windowed job (the pools
    // are tiny checkpointed frames; 5 separate count jobs would pay 5×
    // the scheduling overhead for no reason)
    def recallsOf(trace: Seq[(Int, org.apache.spark.sql.DataFrame)]): Seq[(Int, Double)] = {
      val tagged = trace.map { case (r, p) => p.withColumn("rnd", lit(r)) }
        .reduce(_ unionByName _)
      val hits = tagged.filter($"node" =!= $"qid")
        .join(broadcast(qv), Seq("qid"))
        .join(vecs.select($"vec_id".as("node"), $"v".as("cv")), Seq("node"))
        .withColumn("rn", row_number().over(
          Window.partitionBy($"rnd", $"qid")
            .orderBy(cosine($"v", $"cv").desc, $"node")))
        .filter($"rn" <= k).select($"rnd", $"qid", $"node")
        .join(bf, Seq("qid", "node"), "left_semi")
        .groupBy($"rnd").agg(count(lit(1)).as("nhit"))
        .as[(Int, Long)].collect().toMap
      trace.map { case (r, _) =>
        r -> hits.getOrElse(r, 0L).toDouble / (nq * k) }
    }
    // ring serve, timed end to end: trace pools are eagerly
    // checkpointed, so the clock covers every beam step + final rank
    val tServe0 = System.nanoTime()
    val ringTrace = KnnGraph.serveStoredTrace(
      spark, s"$root/g", vecs, qv, k, beamRounds)
    val ringServed = KnnGraph.rankPool(vecs, qv, ringTrace.last._2, k).collect()
    val serveMs = (System.nanoTime() - tServe0) / 1e6 / nq
    val ringRecalls = recallsOf(ringTrace)
    // the store-ONLY loop (pruned vector point-fetch, no corpus frame
    // anywhere — the 100 TB deployment shape), timed the same way;
    // answers are provably identical (StoredGraphSpec)
    val tStores0 = System.nanoTime()
    val storeServed = KnnGraph.serveFromStores(
      spark, s"$root/g", s"$root/vec", qv, k, beamRounds).collect()
    val storeOnlyMs = (System.nanoTime() - tStores0) / 1e6 / nq
    // the coordinated head: beam state on the driver — the online-
    // endpoint shape; answers provably identical (StoredGraphSpec).
    // This is the store version's FIRST request, so it times the cold
    // path (two pruned point-reads per round for the whole batch); a
    // warm endpoint's later requests serve from resident buckets with
    // no Spark job, which this row does not measure. The explicit
    // ring map mirrors ringEntries (this corpus is dense ids 0..n-1) so
    // the three heads compare over the SAME walk — the head's own
    // no-entries default is the sidecar warm start, a different entry
    // policy this row doesn't measure
    val qLocal = qv.as[(Long, Seq[Double])].collect()
      .map { case (q, v) => q -> v.toArray }.toSeq
    // one corpus count, not one per query: the closure ran
    // vecs.count() INSIDE the per-query map — 16 identical count jobs
    // per pass for one constant (r18 event-log finding)
    val nCorpus = vecs.count()
    val ringMap = qLocal.map { case (q, _) =>
      q -> Math.floorMod(q * 37 + 1, nCorpus) }.toMap
    val tCoord0 = System.nanoTime()
    val coordServed = KnnGraph.serveCoordinated(
      spark, s"$root/g", s"$root/vec", qLocal, k, beamRounds,
      entries = Some(ringMap))
    val coordMs = (System.nanoTime() - tCoord0) / 1e6 / nq
    // the QUANTIZED stored head (serveFromStoresPq): beam rounds fetch
    // M-byte codes, vectors only at the final re-rank — the
    // 128×-smaller-read path, timed after its one-off train/encode
    val sample = vecs.select($"vec_id", $"v").orderBy($"vec_id")
      .limit(20000).collect().map(_.getSeq[Double](1).toArray).toIndexedSeq
    val cbq = Pq.trainSubspaces(sample, 8, 8, 16)
    KnnGraph.writeCodes(
      Pq.pqEncode(vecs, cbq, 8), s"$root/codes")
    val bfSet = bf.as[(Long, Long)].collect().toSet
    // serve-budget policy for the quantized head (r16 verdict #2):
    // target = the exact stored head's recall on the same store —
    // storeServed's, measured above — so the quantized serve runs at
    // the cheapest (L, W) within eps of what the graph delivers
    val storeRecall = storeServed
      .map(r => (r.getLong(0), r.getLong(1)))
      .count(bfSet.contains).toDouble / (nq * k)
    val ((pqL, pqW), _, _) = KnnGraph.servePolicyCached(
      vecs, dir, k,
      (l, w) => KnnGraph.serveFromStoresPq(spark, s"$root/g",
        s"$root/codes", s"$root/vec", qv, cbq, k, beamRounds,
        rerankWidth = w, beamWidth = l),
      bf, nq, targetRecall = storeRecall, eps = 0.05,
      tag = s"hashpq_b$beamRounds")
    val tPq0 = System.nanoTime()
    val pqServed = KnnGraph.serveFromStoresPq(spark, s"$root/g",
        s"$root/codes", s"$root/vec", qv, cbq, k, beamRounds,
        rerankWidth = pqW, beamWidth = pqL)
      .as[(Long, Long)].collect()
    val pqMs = (System.nanoTime() - tPq0) / 1e6 / nq
    val pqRecall = pqServed.count(bfSet.contains).toDouble / (nq * k)
    val warmTrace = KnnGraph.serveStoredTrace(
      spark, s"$root/g", vecs, qv, k, beamRounds,
      Some(KnnGraph.sampledEntries(vecs, qv, stride = 8)))
    val warmRecalls = recallsOf(warmTrace)
    def toHalf(rs: Seq[(Int, Double)]): Long =
      rs.find(_._2 >= 0.5).map(_._1.toLong).getOrElse(-1L)
    vecs.unpersist(); bf.unpersist()
    Seq((nq, math.round(buildS * 1000) / 1000.0,
        math.round(storeS * 1000) / 1000.0,
        math.round(serveMs * 10) / 10.0,
        math.round(storeOnlyMs * 10) / 10.0,
        math.round(coordMs * 10) / 10.0,
        math.round(pqMs * 10) / 10.0,
        math.max(math.max(ringServed.length, storeServed.length),
          coordServed.length).toLong,
        ringRecalls.last._2, toHalf(ringRecalls),
        warmRecalls.last._2, toHalf(warmRecalls), pqRecall,
        pqL.toLong, pqW.toLong))
      .toDF("n_queries", "build_s", "store_write_s", "serve_ms_per_query",
        "serve_ms_store_only", "serve_ms_coordinated", "serve_ms_pq_store",
        "rows_served",
        "recall_ring_final", "rounds_to_half_ring", "recall_warm_final",
        "rounds_to_half_warm", "recall_pq_final", "pq_l", "pq_w")
  }

  /** Incremental graph maintenance measured — the cost/quality frame
    * for [[graft.streaming.StreamingGraphIngest]] (r11 verdict ask #4
    * stretch): build the NN-Descent graph WITHOUT a held-out slice,
    * stream the slice back in through the HNSW-style insert path
    * (beam-search k nearest over the current store, link mutually,
    * append bucket-partitioned), and compare serving against a full
    * rebuild over the same corpus. `insert_ms_per_node` is the
    * maintenance budget; `recall_drift` (rebuild − streamed) is what
    * greedy insertion costs vs re-tightening — the number that sets
    * the offline-rebuild cadence (same freeze/refresh rhythm as the
    * IVF family). The sign can go NEGATIVE at small corpus scale: each
    * insert's mutual links add long-range shortcut edges a symmetric
    * top-k rebuild deliberately lacks, which helps the cold ring-entry
    * beam more than the slightly-stale neighborhoods hurt.
    * StreamingGraphInsertSpec proves the streamed path's semantics
    * (mutual links, findability, pin lifecycle); this row measures it.
    * Between those ends sits [[KnnGraph.refineDurable]] — ONE
    * NN-Descent tightening round seeded from the grown store
    * (`refine_s`, `recall_refined`): the three rungs in one frame are
    * what set a deployment's insert→refine→rebuild cadence. At small
    * scale the recalls land streamed > refined > rebuild, the same
    * shortcut-edge effect read the other way: refine provably tightens
    * every neighborhood (KnnGraphRefineSpec's dominance case) and in
    * doing so REMOVES the long-range insert edges, walking cold-entry
    * beam recall back toward the symmetric rebuild's — neighbor
    * quality and cold-start searchability are different axes, which is
    * exactly why HNSW keeps a layer hierarchy. The frame measures the
    * prescribed pairing too: `recall_refined_warm` serves the refined
    * graph from [[KnnGraph.sampledEntries]] — at sf0.01 it reads 0.72
    * vs 0.45 streamed-cold / 0.32 refined-cold, i.e. the warm start
    * supplies the long-range hop and the tightened neighborhoods then
    * finish BETTER than any cold-entry variant.
    *
    * 100 TB: an insert touches O(beam·k·steps) vectors + ≤ beam
    * buckets of the edge list — corpus-size-free; a refine round costs
    * one build round (k² candidates per node); the rebuild it's
    * compared against is the once-in-a-while durable build. */
  val sq23GraphInsertDrift: QueryDef = rowsOnly("sq23_graph_insert_drift") { (spark, dir) =>
    import spark.implicits._
    val k = 8; val buildRounds = 3; val beamRounds = 3
    val all = Tables.embeddings(spark, dir)
      .select($"vec_id", toDouble($"embedding").as("v")).cache()
    val n = all.count()
    val nHold = math.min(128L, n / 10)
    val base = all.filter($"vec_id" < n - nHold)
    val held = all.filter($"vec_id" >= n - nHold)
    val root = graft.util.Scratch.tempDir("graft-sq23")
    val tB1 = System.nanoTime()
    KnnGraph.writeStore(
      KnnGraph.buildDurable(base, k, buildRounds, s"$root/b1").last,
      s"$root/grown")
    KnnGraph.writeVectors(base, s"$root/vec")
    val buildBaseS = (System.nanoTime() - tB1) / 1e9
    // stream the slice back in, two batches (the micro-batch shape);
    // with the vector store present the inserts run through the
    // coordinated head — the online insert path
    val batches = Seq(held.filter($"vec_id" % 2 === 0),
      held.filter($"vec_id" % 2 =!= 0))
    val tIns0 = System.nanoTime()
    batches.foreach(b => graft.streaming.StreamingGraphIngest
      .insertBatch(b, s"$root/grown", s"$root/vec", k, beamRounds))
    val insMs = (System.nanoTime() - tIns0) / 1e6 / nHold
    val queries = all.filter($"vec_id" < 16).select($"vec_id".as("qid"), $"v")
    val bf = KnnGraph.exactTruth(queries, all, k).cache()
    def recallFrom(path: String,
        entries: Option[org.apache.spark.sql.DataFrame] = None): Double =
      KnnGraph.serveStored(spark, path, all, queries, k, beamRounds, entries)
        .join(bf, Seq("qid", "node"), "left_semi").count().toDouble / (16 * k)
    val streamed = recallFrom(s"$root/grown")
    // the maintenance MIDDLE rung: one NN-Descent tightening round
    // seeded from the streamed-grown store (KnnGraph.refineDurable) —
    // re-tightens every stale neighborhood at one round's cost instead
    // of the rebuild's full ladder; refine_s vs build_rebuild_s and
    // recall_refined vs the two recall ends are the numbers that set
    // the insert→refine→rebuild cadence
    val tRef0 = System.nanoTime()
    KnnGraph.writeStore(
      KnnGraph.refineDurable(all,
        spark.read.parquet(s"$root/grown").select($"src", $"nbr"),
        k, rounds = 1, s"$root/ref"),
      s"$root/refined")
    val refineS = (System.nanoTime() - tRef0) / 1e9
    val refined = recallFrom(s"$root/refined")
    // the pairing the refine doc prescribes: a tightened graph plus a
    // WARM entry (sq22b's sampled medoid) — the warm start supplies
    // the long-range hop the removed insert edges used to provide
    val refinedWarm = recallFrom(s"$root/refined",
      Some(KnnGraph.sampledEntries(all, queries, stride = 8)))
    val tB2 = System.nanoTime()
    KnnGraph.writeStore(
      KnnGraph.buildDurable(all, k, buildRounds, s"$root/b2").last,
      s"$root/rebuilt")
    val buildRebuildS = (System.nanoTime() - tB2) / 1e9
    val rebuilt = recallFrom(s"$root/rebuilt")
    all.unpersist(); bf.unpersist()
    Seq((n - nHold, nHold,
        math.round(buildBaseS * 1000) / 1000.0,
        math.round(buildRebuildS * 1000) / 1000.0,
        math.round(refineS * 1000) / 1000.0,
        math.round(insMs * 10) / 10.0,
        streamed, refined, refinedWarm, rebuilt,
        math.round((rebuilt - streamed) * 1e6) / 1e6))
      .toDF("n_base", "n_inserted", "build_base_s", "build_rebuild_s",
        "refine_s", "insert_ms_per_node",
        "recall_streamed", "recall_refined", "recall_refined_warm",
        "recall_rebuild", "recall_drift")
  }

  /** DuckDB CTEs replaying PQ-guided beam search over the graph CTE
    * `graph(src, nbr)` from the codebook FIXTURE at `store` (the
    * tq43b persisted-artifact pattern): codes and per-query LUTs are
    * RE-DERIVED from the fixture with the exact left-associated
    * arithmetic Spark's `aggregate(zip_with(...))` fold produces
    * (explicit j-ordered term sums — bit-identical IEEE doubles, so
    * argmin/rank tie-breaks agree), each beam step ranks fresh
    * candidates by ADC distance (mi-ordered list extract sum), and
    * each round's answer re-ranks the pool's ADC-top-2k shortlist by
    * exact cosine. Only the k-means TRAINING stays engine-side —
    * encode, LUTs, every beam step, the re-rank, and the recall
    * accounting are all independently replayed. */
  private def pqBeamSql(k: Int, rounds: Int, m: Int, sub: Int,
      graph: String, store: String): String = {
    // left-assoc explicit sum over j = Spark's zip_with/aggregate fold
    def pdExpr(vcol: String, mi: Int) =
      (1 to sub).map { j =>
        val d = s"($vcol[${mi * sub + j}] - c.vec[$j])"
        s"($d * $d)"
      }.mkString(" + ")
    val cdBranches = (0 until m).map(mi =>
      s"""SELECT v.vec_id, $mi AS mi, c.ki, ${pdExpr("v.v", mi)} AS pd
         |    FROM vecs v JOIN cbt c ON c.mi = $mi""".stripMargin)
      .mkString("\n  UNION ALL\n  ")
    // ADC distance of every (qid, node) pair in CTE `src`: the node's m
    // codes look up the query's LUT rows; mi-ordered list extract keeps
    // the addition order identical to Spark's reduce over mi
    def adcOf(name: String, src: String) = {
      val sumExpr = (1 to m).map(i => s"ls[$i]").mkString(" + ")
      s"""$name AS MATERIALIZED (SELECT qid, node, $sumExpr AS adist FROM (
         |  SELECT p.qid, p.node, list(l.pd ORDER BY l.mi) AS ls
         |  FROM $src p JOIN codes cs ON p.node = cs.vec_id
         |  JOIN lut l ON l.qid = p.qid AND l.mi = cs.mi AND l.ki = cs.ki
         |  GROUP BY p.qid, p.node))""".stripMargin
    }
    def ansAndSum(r: Int) =
      s"""${adcOf(s"pa_$r", s"(SELECT qid, node FROM p_$r WHERE node <> qid)")},
         |shl_$r AS (SELECT qid, node, adist FROM (
         |  SELECT qid, node, adist, ROW_NUMBER() OVER (PARTITION BY qid
         |    ORDER BY adist ASC, node) AS rn FROM pa_$r) WHERE rn <= ${2 * k}),
         |aadc_$r AS (SELECT qid, node FROM (
         |  SELECT qid, node, ROW_NUMBER() OVER (PARTITION BY qid
         |    ORDER BY adist ASC, node) AS rn FROM shl_$r) WHERE rn <= $k),
         |ans_$r AS (SELECT qid, node FROM (
         |  SELECT s.qid, s.node, ROW_NUMBER() OVER (PARTITION BY s.qid
         |    ORDER BY list_cosine_similarity(q.v, cv.v) DESC, s.node) AS rn
         |  FROM shl_$r s JOIN qvv q ON s.qid = q.qid
         |  JOIN vecs cv ON s.node = cv.vec_id) WHERE rn <= $k),
         |qsum_$r AS (SELECT CAST($r AS BIGINT) AS round,
         |  (SELECT COUNT(*) FROM p_$r) AS pool_nodes,
         |  CAST((SELECT COUNT(*) FROM (SELECT qid, node FROM aadc_$r
         |    INTERSECT SELECT src, nbr FROM bf)) AS DOUBLE) / (16 * $k)
         |    AS recall_adc,
         |  CAST((SELECT COUNT(*) FROM (SELECT qid, node FROM ans_$r
         |    INTERSECT SELECT src, nbr FROM bf)) AS DOUBLE) / (16 * $k)
         |    AS recall_at_k)""".stripMargin
    val steps = (1 to rounds).map { r =>
      s"""x_$r AS (SELECT DISTINCT f.qid, u.nbr AS node
         |  FROM f_${r - 1} f JOIN undq u ON f.node = u.src),
         |nw_$r AS (SELECT x.qid, x.node FROM x_$r x
         |  ANTI JOIN p_${r - 1} p ON x.qid = p.qid AND x.node = p.node),
         |${adcOf(s"sc_$r", s"nw_$r")},
         |f_$r AS MATERIALIZED (SELECT qid, node FROM (
         |  SELECT qid, node, ROW_NUMBER() OVER (PARTITION BY qid
         |    ORDER BY adist ASC, node) AS rn FROM sc_$r) WHERE rn <= $k),
         |p_$r AS MATERIALIZED (
         |  SELECT qid, node FROM p_${r - 1}
         |  UNION SELECT qid, node FROM f_$r)""".stripMargin
    }
    s"""cbt AS MATERIALIZED (
       |  SELECT mi, ki, vec FROM read_parquet('$store/*.parquet')),
       |cd AS MATERIALIZED (
       |  ${cdBranches}),
       |codes AS MATERIALIZED (SELECT vec_id, mi, ki FROM (
       |  SELECT vec_id, mi, ki, ROW_NUMBER() OVER (PARTITION BY vec_id, mi
       |    ORDER BY pd ASC, ki) AS rn FROM cd) WHERE rn = 1),
       |lut AS MATERIALIZED (
       |  SELECT vec_id AS qid, mi, ki, pd FROM cd WHERE vec_id < 16),
       |undq AS MATERIALIZED (
       |  SELECT src, nbr FROM $graph UNION SELECT nbr, src FROM $graph),
       |qvv AS (SELECT vec_id AS qid, v FROM vecs WHERE vec_id < 16),
       |p_0 AS MATERIALIZED (
       |  SELECT q.qid, (q.qid * 37 + 1) % nn.n AS node FROM qvv q, nn),
       |f_0 AS (SELECT qid, node FROM p_0),
       |${steps.mkString(",\n")},
       |${(0 to rounds).map(ansAndSum).mkString(",\n")}""".stripMargin
  }

  // the codebook fixture the sq24 oracle replays from; oracleDir
  // survives JVM exit so the driver's DuckDB pass can read it
  private val sq24Store = graft.util.Scratch.oracleDir("graft-sq24-cb")

  /** PQ-GUIDED graph serving with exact re-rank — the DiskANN serving
    * design (Subramanya et al. 2019: graph walk steered by
    * product-quantized distances held in memory, full-precision
    * vectors touched only for the final candidates) composed from this
    * repo's two proven halves: sq21's NN-Descent graph and sq09's PQ
    * codebook/ADC machinery. Each beam round ranks fresh candidates by
    * ADC distance over their M=8 4-bit codes — 4 BYTES per candidate
    * instead of a 512-byte vector, so the beam's working set is 128×
    * smaller and the vector store is NOT read inside the loop at all —
    * then each round's answer takes the pool's ADC-top-2k shortlist
    * and re-ranks it by exact cosine (the only full-vector reads,
    * 2k per query). `recall_adc` vs `recall_at_k` in the same row
    * shows what the re-rank buys at every beam depth.
    *
    * The oracle replays EVERYTHING below the k-means training from the
    * persisted codebook fixture ([[pqBeamSql]]): code assignment, the
    * query LUTs, every ADC-ranked beam step, the exact re-rank, and
    * the recall accounting — hash-green end to end, unlike sq09 whose
    * ADC stage is engine-only.
    *
    * 100 TB: the beam loop touches only the graph's edge buckets and
    * an 0.4 GB-per-10^9-vector code sidecar (broadcastable shards or a
    * bucket-pruned point-read exactly like [[KnnGraph.fetch]]);
    * full vectors stream only through the per-query 2k-row re-rank
    * join. Graph build + PQ train/encode are the amortized index cost,
    * shared with sq21/sq09. */
  val sq24GraphPqServe: QueryDef = sqlChecked(
    "sq24_graph_pq_serve",
    s"""WITH vecs AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |${nnDescentSql(8, 4)},
       |${pqBeamSql(8, 4, 8, 8, "e_4", sq24Store)}
       |SELECT * FROM (
       |  SELECT * FROM qsum_0 UNION ALL SELECT * FROM qsum_1
       |  UNION ALL SELECT * FROM qsum_2 UNION ALL SELECT * FROM qsum_3
       |  UNION ALL SELECT * FROM qsum_4)
       |ORDER BY round""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val k = 8; val buildRounds = 4; val beamRounds = 4
    val M = 8; val sub = 8; val K = 16
    val vecs = Tables.embeddings(spark, dir)
      .select($"vec_id", toDouble($"embedding").as("v"))
      .cache()
    // codebooks: driver-side seeded Lloyd's on the deterministic
    // ordered sample (sq09's recipe), persisted for the oracle replay
    val sample = vecs.select($"vec_id", $"v").orderBy($"vec_id").limit(20000)
      .collect().map(_.getSeq[Double](1).toArray).toIndexedSeq
    val cb: Seq[Seq[Seq[Double]]] = Pq.trainSubspaces(sample, M, sub, K)
    cb.zipWithIndex.flatMap { case (entries, mi) =>
      entries.zipWithIndex.map { case (vec, ki) => (mi, ki, vec) }
    }.toDF("mi", "ki", "vec")
      .coalesce(1).write.mode("overwrite").parquet(sq24Store)
    // 4-bit codes: the beam's entire per-candidate working set
    // (Pq.pqEncode — one implementation shared with
    // the stored-codes serving path, KnnGraph.serveFromStoresPq)
    val codes = Pq.pqEncode(vecs, cb, sub)
      .withColumnRenamed("vec_id", "node")
      .localCheckpoint(true)
    val qv = queriesOf(vecs, 16)
    // per-query M×K LUTs of partial squared distances (sq09's shape)
    val qluts = qv.select($"qid", Pq.lutsCol($"v", cb, sub).as("luts"))
    val graph = nnDescentBuild(vecs, dir, k, buildRounds).last
    val und = KnnGraph.undirected(graph).localCheckpoint(true)
    val bf = KnnGraph.exactTruth(qv, vecs, k).cache()
    // each query's `keep` best pairs by ADC distance (ties → node ASC)
    def adcTop(pairs: DataFrame, keep: Int) = Pq.adcKeep(pairs, qluts, codes, M, keep)
    def qsummary(r: Int, pool: org.apache.spark.sql.DataFrame) = {
      val shl = adcTop(pool.filter($"node" =!= $"qid"), 2 * k)
      val hitsAdc = shl.filter($"rn" <= k).select($"qid", $"node")
        .join(bf, Seq("qid", "node"), "left_semi")
        .agg(count(lit(1)).as("nhit_adc"))
      val hits = graft.similarity.KnnGraph
        .scoreKeep(shl.select($"qid", $"node"), qv, vecs, k)
        .join(bf, Seq("qid", "node"), "left_semi")
        .agg(count(lit(1)).as("nhit"))
      pool.agg(count(lit(1)).as("pool_nodes"))
        .crossJoin(broadcast(hitsAdc))
        .crossJoin(broadcast(hits))
        .select(lit(r.toLong).as("round"), $"pool_nodes",
          ($"nhit_adc".cast("double") / (16 * k)).as("recall_adc"),
          ($"nhit".cast("double") / (16 * k)).as("recall_at_k"))
    }
    KnnGraph.beamTrace(
      KnnGraph.ringEntries(vecs, qv),
      KnnGraph.expandEdges(und),
      // the round's ranking reads 4-byte codes, never vectors
      adcTop(_, k).select($"qid", $"node"),
      beamRounds)
      .map { case (r, pool) => qsummary(r, pool) }
      .reduce(_ unionByName _).orderBy($"round")
  }

  /** DuckDB CTEs for the FILTERED answer stages over [[beamSql]]'s
    * pools p_0..p_rounds: per-query target label, filtered brute-force
    * truth, per-round matching-pool extraction and exact-cosine top-k
    * among matches, and the joined per-round summary (unfiltered
    * recall from beamSql's bsum_r + filtered recall side by side). */
  private def filteredAnswerSql(k: Int, rounds: Int, nLabels: Int): String = {
    def perRound(r: Int) =
      s"""fp_$r AS (SELECT p.qid, p.node FROM p_$r p
         |  JOIN lbl l ON p.node = l.vec_id
         |  JOIN tgt t ON p.qid = t.qid AND l.label = t.tl
         |  WHERE p.node <> p.qid),
         |fans_$r AS (SELECT qid, node FROM (
         |  SELECT f.qid, f.node, ROW_NUMBER() OVER (PARTITION BY f.qid
         |    ORDER BY list_cosine_similarity(q.v, c.v) DESC, f.node) AS rn
         |  FROM fp_$r f JOIN qv q ON f.qid = q.qid
         |  JOIN vecs c ON f.node = c.vec_id) WHERE rn <= $k),
         |fsum_$r AS (SELECT CAST($r AS BIGINT) AS round,
         |  (SELECT pool_nodes FROM bsum_$r) AS pool_nodes,
         |  (SELECT COUNT(*) FROM fp_$r) AS match_pool_nodes,
         |  (SELECT recall_at_k FROM bsum_$r) AS recall_at_k,
         |  CAST((SELECT COUNT(*) FROM (SELECT qid, node FROM fans_$r
         |    INTERSECT SELECT qid, node FROM fbf)) AS DOUBLE) / (16 * $k)
         |    AS recall_filtered)""".stripMargin
    s"""lbl AS (SELECT vec_id, label FROM embeddings),
       |tgt AS (SELECT qid, qid % $nLabels AS tl FROM qv),
       |fbf AS MATERIALIZED (
       |  SELECT qid, node FROM (
       |    SELECT q.qid, c.vec_id AS node,
       |      ROW_NUMBER() OVER (PARTITION BY q.qid
       |        ORDER BY list_cosine_similarity(q.v, c.v) DESC, c.vec_id) AS rn
       |    FROM qv q JOIN tgt t ON q.qid = t.qid
       |    JOIN vecs c ON c.vec_id <> q.qid
       |    JOIN lbl l ON l.vec_id = c.vec_id AND l.label = t.tl)
       |  WHERE rn <= $k),
       |${(0 to rounds).map(perRound).mkString(",\n")}""".stripMargin
  }

  /** FILTERED graph ANN — top-k under a metadata predicate (per-query
    * target label, ~10% selectivity here), the other production ANN
    * requirement next to sq24's quantized serving: RAG with tenant or
    * language constraints, dedup within a source, hard negatives from
    * a domain. Strategy measured: the beam walks the graph BLIND to
    * the filter (the standard post-filter approach — constraining the
    * WALK fragments it, since matching nodes form a sparse
    * disconnected subgraph at 10% selectivity) and each round answers
    * with the pool's matching members re-ranked by exact cosine, scored
    * against the FILTERED brute-force truth. `match_pool_nodes` next
    * to `pool_nodes` shows the filter discarding ~90% of every pool —
    * the measured price of post-filtering (at sf0.01, round 4: pool
    * 528, matching 48, recall_filtered 0.28 vs recall_at_k 0.56 —
    * HALF the unfiltered recall at equal beam depth) that sets the
    * flip point to the alternative: when selectivity · corpus is
    * small, scan the label-partition-pruned slice exactly (the fbf
    * plan itself — at 100 TB a label-bucketed layout makes that a
    * pruned scan, and the graph walk only wins above the crossover).
    * Everything is oracle-replayed: the build, the blind walk, the
    * filter, the filtered truth, both recalls. The walk is the SAME
    * code as sq22's ([[blindBeamPools]]) — recall_at_k must equal
    * sq22's column exactly, which FilteredGraphAnnSpec asserts.
    *
    * 100 TB: identical walk cost to sq22 (the filter adds one
    * broadcast-joined label lookup per answer stage); the filtered
    * truth's plan is the label-pruned exact scan a deployment flips
    * to below the selectivity crossover. */
  val sq25FilteredGraphAnn: QueryDef = sqlChecked(
    "sq25_filtered_graph_ann",
    s"""WITH vecs AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |${nnDescentSql(8, 4)},
       |${beamSql(8, 4, "e_4")},
       |${filteredAnswerSql(8, 4, 10)}
       |SELECT * FROM (
       |  SELECT * FROM fsum_0 UNION ALL SELECT * FROM fsum_1
       |  UNION ALL SELECT * FROM fsum_2 UNION ALL SELECT * FROM fsum_3
       |  UNION ALL SELECT * FROM fsum_4)
       |ORDER BY round""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val k = 8; val buildRounds = 4; val beamRounds = 4; val nLabels = 10
    val emb = Tables.embeddings(spark, dir)
    val vecs = emb.select($"vec_id", toDouble($"embedding").as("v")).cache()
    val lbl = emb.select($"vec_id".as("node"), $"label")
    val graph = nnDescentBuild(vecs, dir, k, buildRounds).last
    val und = KnnGraph.undirected(graph).localCheckpoint(true)
    val qv = vecs.filter($"vec_id" < 16).select($"vec_id".as("qid"), $"v")
    val tgt = qv.select($"qid", pmod($"qid", lit(nLabels.toLong)).as("tl"))
    val bf = KnnGraph.exactTruth(qv, vecs, k).cache()
    // filtered truth: the label-pruned exact scan (at scale, a
    // label-bucketed layout turns this into a partition-pruned read)
    val fbf = broadcast(qv.join(tgt, Seq("qid")).select($"qid", $"v".as("qv"), $"tl"))
      .join(vecs.select($"vec_id".as("node"), $"v".as("cv"))
        .join(lbl, Seq("node")), $"qid" =!= $"node" && $"label" === $"tl")
      .withColumn("rn", row_number().over(
        Window.partitionBy($"qid").orderBy(cosine($"qv", $"cv").desc, $"node")))
      .filter($"rn" <= k)
      .select($"qid", $"node")
      .cache()
    def fsummary(r: Int, pool: org.apache.spark.sql.DataFrame) = {
      val ans = KnnGraph.rankPool(vecs, qv, pool, k)
      val hits = ans.join(bf, Seq("qid", "node"), "left_semi")
        .agg(count(lit(1)).as("nhit"))
      val fp = pool.filter($"node" =!= $"qid")
        .join(lbl, Seq("node"))
        .join(broadcast(tgt), Seq("qid"))
        .filter($"label" === $"tl")
        .select($"qid", $"node")
      val fans = KnnGraph.scoreKeep(fp, qv, vecs, k)
      val fhits = fans.join(fbf, Seq("qid", "node"), "left_semi")
        .agg(count(lit(1)).as("fhit"))
      pool.agg(count(lit(1)).as("pool_nodes"))
        .crossJoin(broadcast(fp.agg(count(lit(1)).as("match_pool_nodes"))))
        .crossJoin(broadcast(hits))
        .crossJoin(broadcast(fhits))
        .select(lit(r.toLong).as("round"), $"pool_nodes", $"match_pool_nodes",
          ($"nhit".cast("double") / (16 * k)).as("recall_at_k"),
          ($"fhit".cast("double") / (16 * k)).as("recall_filtered"))
    }
    blindBeamPools(vecs, und, qv, k, beamRounds)
      .map { case (r, pool) => fsummary(r, pool) }
      .reduce(_ unionByName _).orderBy($"round")
  }

  /** DuckDB CTEs replaying [[KnnGraph.robustPrune]]'s
    * greedy over candidate CTE `cand(src, nbr, cos)`: `r` unrolled
    * rounds of [top-1 remaining per src by (cos DESC, nbr)] →
    * [discard remaining candidates the pick α-covers], ending in
    * `pruned(src, nbr)` = the union of the picks. α must be a
    * binary-exact literal (1.25 here) so DuckDB's decimal parse and
    * Spark's double literal agree bit for bit. */
  private def pruneSql(r: Int, alpha: String): String = {
    val rounds = (1 to r).map { i =>
      s"""pk_$i AS MATERIALIZED (SELECT src, nbr, cos FROM (
         |  SELECT src, nbr, cos, ROW_NUMBER() OVER (PARTITION BY src
         |    ORDER BY cos DESC, nbr) AS rn FROM rem_${i - 1}) WHERE rn = 1),
         |rem_$i AS MATERIALIZED (
         |  SELECT r.src, r.nbr, r.cos
         |  FROM rem_${i - 1} r JOIN pk_$i p ON r.src = p.src
         |  JOIN vecs pv ON p.nbr = pv.vec_id
         |  JOIN vecs cv ON r.nbr = cv.vec_id
         |  WHERE r.nbr <> p.nbr
         |    AND NOT ($alpha * (1 - list_cosine_similarity(pv.v, cv.v))
         |      <= (1 - r.cos)))""".stripMargin
    }
    s"""rem_0 AS MATERIALIZED (SELECT src, nbr, cos FROM cand),
       |${rounds.mkString(",\n")},
       |pruned AS MATERIALIZED (
       |${(1 to r).map(i => s"  SELECT src, nbr FROM pk_$i")
           .mkString("\n  UNION ALL\n")})""".stripMargin
  }

  /** GRAPH DIVERSIFICATION — Vamana's α-robust prune (Subramanya et
    * al. 2019, DiskANN; HNSW's "select neighbors by heuristic" is the
    * same rule) measured against the plain k-NN graph at the SAME
    * degree budget. The plain graph spends all 8 slots on the 8
    * closest neighbors — one tight cluster, so a COLD ring-entry beam
    * crawls in hop by hop; the pruned graph picks from a richer
    * candidate pool (the NN-Descent top-8 ∪ the ring init's spread
    * edges — Vamana's random-init-plus-prune recipe) and keeps only
    * neighbors no earlier pick α-covers, which provably retains
    * long-range edges: a far candidate c has d(pick, c) ≈ d(src, c)
    * against every near pick, so α·d(pick, c) > d(src, c) at α > 1
    * and c survives to take a slot. One frame, both walks, cold ring
    * entries: `recall_plain` per round (which must EQUAL sq22's
    * hash-green recall column — same build, same walk) next to
    * `recall_pruned`, with the two graphs' edge counts. The oracle
    * replays EVERYTHING: the 4-round build, the candidate union, all
    * 8 greedy prune rounds with their α-cover tests and tie-breaks,
    * both 4-round beam walks, and both recall accountings.
    *
    * 100 TB: the prune is r passes over the index-sized candidate
    * list (candidate-bounded joins, never corpus-sized) — cheaper
    * than one NN-Descent round; it changes WHICH k·n edges the store
    * holds, not how many, so every serving path (stored, PQ-guided,
    * coordinated) rides it unchanged. */
  val sq26GraphAlphaPrune: QueryDef = sqlChecked(
    "sq26_graph_alpha_prune",
    s"""WITH vecs AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |${nnDescentSql(8, 4)},
       |b_5 AS MATERIALIZED (
       |  SELECT src, nbr FROM e_4
       |  UNION
       |  SELECT nbr AS src, src AS nbr FROM e_4),
       |c_5 AS MATERIALIZED (
       |  SELECT a.src, b.nbr FROM b_5 a JOIN b_5 b ON a.nbr = b.src
       |  WHERE a.src <> b.nbr
       |  UNION
       |  SELECT src, nbr FROM e_4),
       |s_5 AS MATERIALIZED (
       |  SELECT c.src, c.nbr, list_cosine_similarity(x.v, y.v) AS cos
       |  FROM c_5 c JOIN vecs x ON c.src = x.vec_id
       |  JOIN vecs y ON c.nbr = y.vec_id),
       |s5top AS MATERIALIZED (
       |  SELECT src, nbr, cos FROM (
       |    SELECT src, nbr, cos, ROW_NUMBER() OVER (PARTITION BY src
       |      ORDER BY cos DESC, nbr) AS rn FROM s_5) WHERE rn <= 24),
       |cand AS MATERIALIZED (
       |  SELECT src, nbr, cos FROM s5top
       |  UNION
       |  SELECT src, nbr, cos FROM e_0),
       |${pruneSql(8, "1.25")},
       |${beamSql(8, 4, "e_4")},
       |${beamSql(8, 4, "pruned", prefix = "pr")}
       |SELECT b.round,
       |  b.pool_nodes AS pool_plain, b.recall_at_k AS recall_plain,
       |  p.pool_nodes AS pool_pruned, p.recall_at_k AS recall_pruned,
       |  (SELECT COUNT(*) FROM e_4) AS edges_plain,
       |  (SELECT COUNT(*) FROM pruned) AS edges_pruned
       |FROM (
       |  SELECT * FROM bsum_0 UNION ALL SELECT * FROM bsum_1
       |  UNION ALL SELECT * FROM bsum_2 UNION ALL SELECT * FROM bsum_3
       |  UNION ALL SELECT * FROM bsum_4) b
       |JOIN (
       |  SELECT * FROM prbsum_0 UNION ALL SELECT * FROM prbsum_1
       |  UNION ALL SELECT * FROM prbsum_2 UNION ALL SELECT * FROM prbsum_3
       |  UNION ALL SELECT * FROM prbsum_4) p USING (round)
       |ORDER BY round""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val k = 8; val buildRounds = 4; val beamRounds = 4; val degree = 8
    val alpha = 1.25
    val vecs = Tables.embeddings(spark, dir)
      .select($"vec_id", toDouble($"embedding").as("v"))
      .cache()
    val es = nnDescentBuild(vecs, dir, k, buildRounds)
    val plain = es.last
    // the diversification pool: the BOUNDED top of one more NN-Descent
    // candidate stage (each node's 24 best scored 2-hop candidates —
    // Vamana's search-list bound L) ∪ the ring init's spread edges, so
    // the pool is wide AND long while staying L·n rows at any scale
    val cand = KnnGraph.scoredCandidates(vecs, plain)
      .withColumn("rn", row_number().over(
        Window.partitionBy($"src").orderBy($"cos".desc, $"nbr")))
      .filter($"rn" <= 24).drop("rn")
      .union(es.head.select($"src", $"nbr", $"cos"))
      .distinct().localCheckpoint(true)
    val pruned = graft.similarity.KnnGraph
      .robustPrune(vecs, cand, degree, alpha)
      .select($"src", $"nbr").localCheckpoint(true)
    val qv = vecs.filter($"vec_id" < 16).select($"vec_id".as("qid"), $"v")
    val bf = KnnGraph.exactTruth(qv, vecs, k).cache()
    def closure(g: org.apache.spark.sql.DataFrame) =
      KnnGraph.undirected(g).localCheckpoint(true)
    def recallRows(pools: Seq[(Int, org.apache.spark.sql.DataFrame)]) =
      pools.map { case (r, pool) =>
        val ans = KnnGraph.rankPool(vecs, qv, pool, k)
        val hits = ans.join(bf, Seq("qid", "node"), "left_semi")
          .agg(count(lit(1)).as("nhit"))
        pool.agg(count(lit(1)).as("pool_nodes"))
          .crossJoin(broadcast(hits))
          .select(lit(r.toLong).as("round"), $"pool_nodes",
            ($"nhit".cast("double") / (16 * k)).as("recall_at_k"))
      }.reduce(_ unionByName _)
    val a = recallRows(blindBeamPools(vecs, closure(plain), qv, k, beamRounds))
      .select($"round", $"pool_nodes".as("pool_plain"),
        $"recall_at_k".as("recall_plain"))
    val b = recallRows(blindBeamPools(vecs, closure(pruned), qv, k, beamRounds))
      .select($"round", $"pool_nodes".as("pool_pruned"),
        $"recall_at_k".as("recall_pruned"))
    a.join(b, Seq("round"))
      .crossJoin(broadcast(plain.agg(count(lit(1)).as("edges_plain"))))
      .crossJoin(broadcast(pruned.agg(count(lit(1)).as("edges_pruned"))))
      .orderBy($"round")
  }

  /** The OTHER side of sq25's flip point, made concrete: below some
    * selectivity, filtered ANN should not walk a filter-blind graph at
    * all — it should run the EXACT top-k over a LABEL-PARTITIONED
    * vector store, reading only the target labels' partitions. This
    * query serves 16 filtered queries (target label = qid % 3, so only
    * labels {0,1,2} of 10 are touched — the scan provably prunes 7/10
    * partitions, FilteredExactStoreSpec plan-asserts it) from such a
    * store and is HASH-GREEN: DuckDB replays the label-filtered exact
    * rank, so the storage path's answers are oracle-anchored, and its
    * recall is 1.0 by construction — against sq25's measured 0.28
    * post-filter recall at beam depth 4. The flip: the pruned exact
    * scan reads |label-slice| vectors per query batch (~10% of the
    * corpus at sq25's selectivity) and is EXACT; the blind walk reads
    * O(beam·k·rounds) vectors but HALVES recall at matching depth —
    * so below the selectivity where a label slice outgrows the beam's
    * touch count, the partitioned scan wins on both axes at once.
    *
    * 100 TB: label partitioning is the same layout discipline as
    * every PartitionedLayout table — the filtered exact scan is a
    * partition-pruned, filter-pushed columnar read, embarrassingly
    * parallel, no index maintenance at all. */
  val sq25bFilteredExactStored: QueryDef = sqlChecked(
    "sq25b_filtered_exact_stored",
    s"""WITH vecs AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |lbl AS (SELECT vec_id, label FROM embeddings),
       |qv AS (SELECT vec_id AS qid, v FROM vecs WHERE vec_id < 16),
       |tgt AS (SELECT qid, qid % 3 AS tl FROM qv)
       |SELECT qid, node FROM (
       |  SELECT q.qid, c.vec_id AS node,
       |    ROW_NUMBER() OVER (PARTITION BY q.qid
       |      ORDER BY list_cosine_similarity(q.v, c.v) DESC, c.vec_id) AS rn
       |  FROM qv q JOIN tgt t ON q.qid = t.qid
       |  JOIN vecs c ON c.vec_id <> q.qid
       |  JOIN lbl l ON l.vec_id = c.vec_id AND l.label = t.tl)
       |WHERE rn <= 8
       |ORDER BY qid, node""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val k = 8
    val emb = Tables.embeddings(spark, dir)
    val root = graft.util.Scratch.tempDir("graft-sq25b")
    emb.select($"vec_id", toDouble($"embedding").as("v"), $"label")
      .write.partitionBy("label").mode("overwrite").parquet(root)
    val qv = emb.filter($"vec_id" < 16)
      .select($"vec_id".as("qid"), toDouble($"embedding").as("v"),
        pmod($"vec_id", lit(3L)).as("tl"))
    val targets = Seq(0, 1, 2)
    spark.read.parquet(root)
      .filter($"label".isin(targets: _*))
      .join(broadcast(qv.select($"qid", $"v".as("qv"), $"tl")),
        $"label" === $"tl" && $"vec_id" =!= $"qid")
      .withColumn("rn", row_number().over(
        Window.partitionBy($"qid").orderBy(cosine($"qv", $"v").desc, $"vec_id")))
      .filter($"rn" <= k)
      .select($"qid", $"vec_id".as("node"))
      .orderBy($"qid", $"node")
  }

  /** LOCALITY-BUCKETED graph storage measured — the I/O-layout
    * counterpart of sq26's edge-selection result: the same undirected
    * adjacency stored two ways, hash (`src % N`, the default layout)
    * vs CLUSTERED ([[KnnGraph.writeStoreClustered]] —
    * partition by the source vector's nearest coarse centroid, each
    * edge carrying its neighbor's bucket so the walk always knows
    * where to read next — no node→bucket dictionary, no extra round
    * trip). The frame reports, per beam round, the frontier size and
    * BOTH layouts' bucket footprints — batch-union AND per-query
    * average (computed from one shared trace: the walk, and therefore
    * the answers, are provably layout-independent,
    * StoredClusteredSpec) — plus the timed store-only serve through
    * each layout and the answer-match count.
    *
    * Measured honestly: on this fixture's WEAKLY clustered embeddings
    * (mq11's silhouette ≈ 0.37) the per-query footprint gap is modest
    * — ≈ 5.6–6.3 cells clustered vs 7.0–7.3 hash buckets per request
    * at sf0.01 — because a beam over near-unclustered vectors is only
    * mildly spatially coherent. The STRUCTURAL difference is what
    * scales: the hash footprint approaches min(|frontier|, N) as the
    * bucket count N grows with the store (≈ n / rows-per-file, so a
    * per-request read touches ~8 of N ever-smaller slices scattered
    * across the store), while the clustered footprint is bounded by
    * the beam's cluster membership, independent of N — and tightens
    * with real cluster structure. StoredClusteredSpec pins the
    * mechanism exactly: a one-cluster frontier reads ONE bucket
    * directory regardless of how many nodes it holds. */
  val sq27ClusteredGraphStore: QueryDef = rowsOnly("sq27_clustered_graph_store") { (spark, dir) =>
    import spark.implicits._
    val k = 8; val buildRounds = 4; val beamRounds = 4; val cells = 16
    val vecs = Tables.embeddings(spark, dir)
      .select($"vec_id", toDouble($"embedding").as("v")).cache()
    val graph = nnDescentBuild(vecs, dir, k, buildRounds).last
    val root = graft.util.Scratch.tempDir("graft-sq27")
    val sample = vecs.select($"vec_id", $"v").orderBy($"vec_id").limit(20000)
      .collect().map(_.getSeq[Double](1).toArray).toIndexedSeq
    val cents = Pq.trainCodebook(sample, cells).map(_.toSeq).toSeq
    // the hash arm is PINNED at the legacy 32-bucket constant: this row
    // measures layout ROUTING (hash scatter vs cluster locality at a
    // fixed count), not the sizing policy — the bytes-driven default
    // would collapse the fixture to ~1 bucket and erase the contrast
    KnnGraph.writeStore(graph, s"$root/hash", KnnGraph.NumBuckets)
    KnnGraph.writeStoreClustered(graph, vecs, s"$root/clus", cents)
    KnnGraph.writeVectors(vecs, s"$root/vec")
    val nbHash = KnnGraph.openStore(spark, s"$root/hash").buckets
    val qv = vecs.filter($"vec_id" < 16).select($"vec_id".as("qid"), $"v")
    val nq = qv.count()
    val ring = KnnGraph.ringEntries(vecs, qv).localCheckpoint(true)
    val entryVecs = ring
      .join(vecs.select($"vec_id".as("node"), $"v"), Seq("node"))
      .select($"qid", $"node", $"v")
    // ONE trace yields both layouts' per-round footprints: the walk is
    // layout-independent, frontier_r = pool_r \ pool_{r-1}, and each
    // frontier's bucket sets follow from the two routing functions
    val trace = KnnGraph.serveStoredTrace(spark, s"$root/hash", vecs, qv,
      k, beamRounds, entries = Some(ring))
    val perRound = (1 to beamRounds).map { r =>
      val frontier = trace(r)._2
        .join(trace(r - 1)._2, Seq("qid", "node"), "left_anti")
        .join(vecs.select($"vec_id".as("node"), $"v"), Seq("node"))
        .withColumn("bh", pmod($"node", lit(nbHash.toLong)).cast("int"))
        .withColumn("bc", Pq.nearestCol($"v", cents))
        .localCheckpoint(true)
      val n = frontier.select($"node").distinct().count()
      // batch-union footprints (what one driver-batched scan prunes to)
      val bh = frontier.select($"bh").distinct().count()
      val bc = frontier.select($"bc").distinct().count()
      // per-QUERY footprints — the number a per-request serving
      // endpoint reads, and the one that stays flat as bucket counts
      // scale with n: a beam is spatially local under the clustered
      // routing, uniform under the hash routing
      val row = frontier.groupBy($"qid")
        .agg(countDistinct($"bh").as("h"), countDistinct($"bc").as("c"))
        .agg(avg($"h"), avg($"c")).head()
      (r.toLong, n, bh, bc,
        math.round(row.getDouble(0) * 100) / 100.0,
        math.round(row.getDouble(1) * 100) / 100.0)
    }
    val tH0 = System.nanoTime()
    val hashServed = KnnGraph.serveFromStores(spark, s"$root/hash",
        s"$root/vec", qv, k, beamRounds, entries = Some(ring))
      .as[(Long, Long)].collect()
    val hashMs = (System.nanoTime() - tH0) / 1e6 / nq
    val tC0 = System.nanoTime()
    val clusServed = KnnGraph.serveFromStores(spark, s"$root/clus",
        s"$root/vec", qv, k, beamRounds, entries = Some(entryVecs))
      .as[(Long, Long)].collect()
    val clusMs = (System.nanoTime() - tC0) / 1e6 / nq
    val matches = clusServed.toSet.intersect(hashServed.toSet).size.toLong
    vecs.unpersist()
    perRound.map { case (r, n, bh, bc, ah, ac) =>
      (r, n, bh, bc, ah, ac, hashServed.length.toLong, matches,
        math.round(hashMs * 10) / 10.0, math.round(clusMs * 10) / 10.0,
        cells.toLong, nbHash.toLong)
    }.toDF("round", "frontier_nodes", "buckets_hash", "buckets_clustered",
      "per_query_hash", "per_query_clustered",
      "rows_served", "rows_matching", "serve_ms_hash", "serve_ms_clustered",
      "n_cells", "n_hash_buckets")
      .orderBy($"round")
  }

  /** THE COMPOSED PRODUCTION GRAPH INDEX (r12 verdict #1): every piece
    * the graph family proved separately, composed into ONE stored
    * artifact and taken through its whole lifecycle — the DiskANN/
    * Vamana deployment shape end-to-end:
    *
    *   1. build depth chosen BY POLICY, not by hand (r15 —
    *      [[KnnGraph.buildToServedRecall]]: build in
    *      steps, prune each step, serve a held-out probe set over the
    *      pruned edges, stop when recall plateaus — the depth knob was
    *      n-dependent, 0.117→0.016 at a fixed depth across 2k→200k),
    *      the prune α-robust over SEARCH-BASED candidates
    *      (r14 — [[KnnGraph.searchCandidates]],
    *      DiskANN's visited-set rule: the pool carries the approach
    *      paths, L-bounded by construction; durable prune with
    *      `_SUCCESS` resume) written through the CLUSTERED layout
    *      (sq27 — locality buckets, carried nbr_bucket), with
    *      `_graft_centroids` + `_graft_entries` sidecars;
    *   2. PQ codes sidecar (sq22b/sq24's quantized head) + bucketed
    *      vector store, both BYTES-sized ([[graft.similarity.KnnGraph
    *      .scaledBucketsByBytes]] via the writers' autoBuckets default
    *      — wide vector rows and narrow code rows get separate counts
    *      at the same byte budget, the r13-measured constraint);
    *   3. served through the fully store-resident WARM QUANTIZED head
    *      ([[KnnGraph.serveFromStoresPq]] on the
    *      clustered store — stored entries, clustered expansion, ADC ranking, one
    *      exact re-rank), recall + per-query latency in-row;
    *   4. then insert → erase → RE-PRUNE → re-serve → ROLLBACK on the
    *      same artifact: streamed clustered insert WITH code append
    *      (sq23's rung), clustered erase reaching vectors + codes +
    *      entries (wq08's contract), one search-candidate re-prune
    *      ([[KnnGraph.repruneStored]] — the pruned
    *      serving store's maintenance rung, r14)
    *      published as a v2 store and PROMOTED through
    *      [[graft.ml.IndexLifecycle]] (every serve resolves the PINNED
    *      path — an unpromoted build is invisible), then one rollback
    *      re-pins v1 with an in-row answers-equal invariant (the same
    *      control plane the BM25/IVF-PQ stores use).
    *
    * Rows-only by nature (walls are measured), but the answers are
    * anchored: ComposedGraphStoreSpec proves the composed head's
    * answers EQUAL the hash-layout quantized head's over the same
    * edges and entries, and the lifecycle invariants (inserted nodes
    * found by the quantized head, erased victims unanswerable, refine
    * serves) are asserted both here (in-row counters) and in the spec.
    *
    * 100 TB: each phase's cost shape is the one its component query
    * measured — index-sized build/prune/refine passes, request-sized
    * insert/erase rewrites, corpus-size-free serving. */
  val sq28ComposedGraphStore: QueryDef = rowsOnly("sq28_composed_graph_store") { (spark, dir) =>
    import spark.implicits._
    val k = 8; val beamRounds = 4
    val degree = 8; val alpha = 1.25
    val cells = 16; val m = 8; val sub = 8
    val vecs = Tables.embeddings(spark, dir)
      .select($"vec_id", toDouble($"embedding").as("v")).cache()
    val n = vecs.count()
    // BUILD VIA THE SERVED-RECALL STOP POLICY (r14 verdict #1 made the
    // flagship's default): no hand-picked depth — the r13/r14 constant
    // buildRounds=4 was an n-dependent knob wearing a constant's
    // clothes (a depth that saturates 2k under-builds 200k: recall
    // 0.117→0.016 measured). KnnGraph.buildToServedRecall builds in
    // steps, prunes each step over its own SEARCH-BASED pool
    // (DiskANN's visited-set rule — the approach-path edges serving
    // actually uses; sq26 keeps the 2-hop pool, measuring the α-rule
    // at a fixed pool), serves a held-out probe set over the pruned
    // edges, and stops when recall plateaus — returning the chosen
    // depth's pruned artifact, so the flagship pays no second prune.
    // PROCESS-SHARED + durable (buildCached's contract): build rounds
    // and depth-keyed policy prunes resume from the shared workDir —
    // the deployment shape, where an index is built once and every
    // consumer reloads it (BuildPolicySpec pins resume-same-depth).
    // centroids train BEFORE the policy (they are graph-independent —
    // a corpus sample), because the policy evaluates with the SERVING
    // HEAD'S entry discipline: plannedEntries over these exact
    // centroids answers what writeEntries will persist, so eval walks
    // ≡ deployed walks (the r15 entry-consistency finding: ring-start
    // evals read 0.773 on a prune whose sidecar-entry store served
    // 0.063 at x100)
    val sample = vecs.select($"vec_id", $"v").orderBy($"vec_id").limit(20000)
      .collect().map(_.getSeq[Double](1).toArray).toIndexedSeq
    val cents = Pq.trainCodebook(sample, cells).map(_.toSeq).toSeq
    val cb = Pq.trainSubspaces(sample, m, sub, 16)
    val tP0 = System.nanoTime()
    // maxRounds = 6 caps the ladder at one step past the fixed arms'
    // measured sf0.1 sweet spot (depth 4) — the policy stops earlier
    // when flat (3 evaluations minimum: one sets best, two stale)
    val (_, depth, prunedRaw, recallTrace) = KnnGraph.buildPolicyCached(
      vecs, dir, k, maxRounds = 6, degree, alpha, candBeamRounds = 3,
      serveK = k, serveBeamRounds = beamRounds,
      entriesFor = Some(KnnGraph.plannedEntries(vecs, cents)),
      entriesTag = KnnGraph.entriesTagOf(cents))
    val pruned = prunedRaw.select($"src", $"nbr").localCheckpoint(true)
    val pruneS = (System.nanoTime() - tP0) / 1e9
    val edgesPruned = pruned.count()
    val root = graft.util.Scratch.tempDir("graft-sq28")
    // ONE composed store: clustered α-pruned adjacency + entries +
    // centroids, BYTES-sized bucketed vectors, BYTES-sized PQ codes
    // sidecar — the r13 hand cap (min(scaledBuckets(n,64), 256)) is
    // retired: the probe sweeps proved the governing constraint is
    // bytes per bucket (erase 5.4→34.8 s as nb grew 32→3125 on
    // KB-sized buckets), and the writers' autoBuckets default now owns
    // both clamp ends, sizing the wide vector rows and the narrow code
    // rows SEPARATELY at the same byte budget.
    val tS0 = System.nanoTime()
    KnnGraph.writeStoreClustered(pruned, vecs, s"$root/g", cents)
    KnnGraph.writeEntries(vecs, s"$root/g")
    KnnGraph.writeVectors(vecs, s"$root/vec")
    KnnGraph.writeCodes(Pq.pqEncode(vecs, cb, sub), s"$root/codes")
    val storeS = (System.nanoTime() - tS0) / 1e9
    // GRAPH VERSIONS GO THROUGH THE LIFECYCLE REGISTRY (r13 verdict #4):
    // the same promote/pin/rollback control plane BM25 and the IVF-PQ
    // stores use — serving always resolves the PINNED version's path,
    // so a rebuild is invisible until promoted and a bad promote is one
    // rollback from restored. Every serve below reads `pinned()`.
    val registry = s"$root/registry"
    graft.ml.IndexLifecycle.register(spark, registry, "composed_graph",
      "knn_graph_composed", s"$root/g", 1)
    graft.ml.IndexLifecycle.promote(spark, registry, "composed_graph", 1)
    def pinned(): String = graft.ml.IndexLifecycle
      .pinnedPath(spark, registry, "composed_graph")
      .getOrElse(throw new IllegalStateException(
        "no pinned composed_graph version — promote before serving"))
    val qv = vecs.filter($"vec_id" < 16)
      .select($"vec_id".as("qid"), $"v").cache()
    val nq = qv.count()
    val bf = KnnGraph.exactTruth(qv, vecs, k).cache()
    bf.count()
    // SERVE-BUDGET POLICY (r16 verdict #2): build depth already
    // self-tunes (buildToServedRecall above); the quantized head's
    // (L, W) was the remaining hand-pinned knob, and the r16 ADC sweep
    // proved L is the binding recall lever. Target = the EXACT head's
    // measured recall on this store and probe set — the policy then
    // guarantees the quantization layer costs at most eps of whatever
    // quality the graph delivers. Process-shared + durable like the
    // depth decision (servePolicyCached).
    val tPol0 = System.nanoTime()
    val exactAns = KnnGraph.serveFromStores(spark, pinned(),
      s"$root/vec", qv, k, beamRounds).localCheckpoint(true)
    val exactRecall = exactAns.join(bf, Seq("qid", "node"), "left_semi")
      .count().toDouble / (nq * k)
    val ((servL, servW), polRecall, polTrace) = KnnGraph.servePolicyCached(
      vecs, dir, k,
      (l, w) => KnnGraph.serveFromStoresPq(spark, pinned(),
        s"$root/codes", s"$root/vec", qv, cb, k, beamRounds,
        rerankWidth = w, beamWidth = l),
      bf, nq, targetRecall = exactRecall, eps = 0.05,
      tag = s"pq_b${beamRounds}_${KnnGraph.entriesTagOf(cents)}")
    val polS = (System.nanoTime() - tPol0) / 1e9
    def serveRecall(graphPath: String): (Double, Double, Long, Set[(Long, Long)]) = {
      val t0 = System.nanoTime()
      val ans = KnnGraph.serveFromStoresPq(spark, graphPath,
        s"$root/codes", s"$root/vec", qv, cb, k, beamRounds,
        rerankWidth = servW, beamWidth = servL)
        .localCheckpoint(true)
      val nAns = ans.count()
      val ms = (System.nanoTime() - t0) / 1e6 / nq
      val hit = ans.join(bf, Seq("qid", "node"), "left_semi").count()
      (hit.toDouble / (nq * k), ms, nAns,
        ans.as[(Long, Long)].collect().toSet)
    }
    val (recall0, serveMs0, nAns0, _) = serveRecall(pinned())
    // LIFECYCLE on the same store. Arrivals: 4 PERTURBED clones under
    // new ids (first coordinate moved by an ADDITIVE 0.01·(|x|+1) —
    // a multiplicative ×1.01 would leave a zero coordinate unmoved) —
    // near existing mass like a real arrival, but UNIQUE, so each
    // probe's true top-1 is the insert itself and the findability
    // invariant is well-posed on any corpus (an exact clone's top-k
    // can be legitimately owned by pre-existing duplicates — the r15
    // replica-probe lesson)
    val arrivals = vecs.filter($"vec_id" < 4)
      .select(($"vec_id" + 1000000L).as("vec_id"),
        transform($"v", (x, i) => when(i === 0,
          x + lit(0.01) * (abs(x) + lit(1.0))).otherwise(x))
          .as("v"))
      .localCheckpoint(true)
    val tI0 = System.nanoTime()
    graft.streaming.StreamingGraphIngest.insertClusteredBatch(
      arrivals, pinned(), s"$root/vec", k, beamRounds,
      codes = Some((s"$root/codes", cb)))
    val insertS = (System.nanoTime() - tI0) / 1e9
    // the QUANTIZED head must find each inserted node from its own
    // vector — entry-published arrivals (insertClusteredBatch, r15)
    // are in their probe's entry set by construction, so this verifies
    // the entry + code + vector appends stayed in lockstep
    val probes = arrivals
      .select(($"vec_id" + 4000000L).as("qid"), $"v")
    val foundIns = KnnGraph.serveFromStoresPq(spark,
        pinned(), s"$root/codes", s"$root/vec", probes, cb, k,
        beamRounds, rerankWidth = servW, beamWidth = servL)
      .filter($"node" === $"qid" - 4000000L).count()
    // erase the arrivals again — vectors, codes, entries, both edge
    // directions (erase must run BEFORE the vector rows vanish)
    val victims = (0 until 4).map(_ + 1000000L)
    val tE0 = System.nanoTime()
    KnnGraph.eraseStoredClustered(spark, pinned(), victims,
      vecPath = s"$root/vec", eraseVectors = true,
      codesPath = Some(s"$root/codes"))
    val eraseS = (System.nanoTime() - tE0) / 1e9
    val (recallPost, serveMsPost, nAnsPost, ansPost) = serveRecall(pinned())
    val victimsServed = KnnGraph.serveFromStoresPq(spark,
        pinned(), s"$root/codes", s"$root/vec", probes, cb, k, beamRounds,
        rerankWidth = servW, beamWidth = servL)
      .filter($"node".isin(victims: _*)).count()
    // RE-PRUNE rung (r14): the pruned SERVING store's maintenance —
    // search candidates regenerated over the CURRENT store, re-α-pruned
    // and published as a NEW version, PROMOTED through the registry
    // (never an in-place overwrite; the unpromoted build is invisible
    // to traffic). Measured against the kNN-refine rung on the x100
    // search-pruned store: reprune 0.188 vs refine 0.063 served recall
    // at the same wall class (COVERAGE r14) — refine stays the
    // EXACT-graph rung, which sq23 measures and KnnGraphRefineSpec
    // proves monotone.
    val tR0 = System.nanoTime()
    KnnGraph.repruneStored(spark, pinned(), s"$root/vec", s"$root/g2",
      degree, alpha, k, beamRounds = 3,
      Some(graft.util.Scratch.tempDir("graft-sq28-reprune")))
    graft.ml.IndexLifecycle.register(spark, registry, "composed_graph",
      "knn_graph_composed", s"$root/g2", 2)
    graft.ml.IndexLifecycle.promote(spark, registry, "composed_graph", 2)
    val refineS = (System.nanoTime() - tR0) / 1e9
    val (recallV2, serveMsV2, nAnsV2, _) = serveRecall(pinned())
    // ROLLBACK rung: one step back in the pointer log re-pins v1 — the
    // bad-promote escape hatch; serving through the SAME pinned path
    // must answer exactly what post-erase v1 answered (in-row invariant:
    // metric = 1.0 iff the answer SETS are equal)
    val tRb0 = System.nanoTime()
    graft.ml.IndexLifecycle.rollback(spark, registry, "composed_graph")
    val (_, _, nAnsBack, ansBack) = serveRecall(pinned())
    val rollbackS = (System.nanoTime() - tRb0) / 1e9
    val rollbackOk = if (ansBack == ansPost) 1.0 else 0.0
    vecs.unpersist(); qv.unpersist(); bf.unpersist()
    def r2(x: Double) = math.round(x * 100) / 100.0
    def r3(x: Double) = math.round(x * 1000) / 1000.0
    Seq(
      // metric on the policy row = CHOSEN depth; the trace row's
      // metric = best held-out probe recall over n_rows evaluations —
      // the plateau evidence, in-row
      (0L, "policy_build_prune", r2(pruneS), Some(depth.toDouble), edgesPruned),
      (1L, "policy_trace", 0.0, Some(r3(recallTrace.map(_._2).max)),
        recallTrace.size.toLong),
      (2L, "write_store", r2(storeS), None, n),
      // the serve-budget decision IN-ROW (r16 verdict #2): the chosen
      // point rides the phase name, its recall the metric, the exact
      // head's target recall the companion row — every quantized serve
      // below runs at this (L, W)
      (3L, s"serve_budget_L${servL}_W$servW", r2(polS),
        Some(r3(polRecall)), polTrace.size.toLong),
      (4L, "serve_exact_target", 0.0, Some(r3(exactRecall)), nq),
      (5L, "serve_pq_warm", r2(serveMs0 / 1000 * nq), Some(r3(recall0)), nAns0),
      (6L, "insert_with_codes", r2(insertS), Some(foundIns / 4.0), 4L),
      (7L, "erase_full", r2(eraseS), Some(victimsServed.toDouble), victims.size.toLong),
      (8L, "serve_post_erase", r2(serveMsPost / 1000 * nq), Some(r3(recallPost)), nAnsPost),
      (9L, "reprune_v2", r2(refineS), None, n),
      (10L, "serve_v2", r2(serveMsV2 / 1000 * nq), Some(r3(recallV2)), nAnsV2),
      (11L, "rollback_serve_v1", r2(rollbackS), Some(rollbackOk), nAnsBack))
      .toDF("phase_id", "phase", "wall_s", "metric", "n_rows")
      .orderBy($"phase_id")
  }

  // `.measured` rows output engine METRICS (recall, latency splits,
  // drift, footprints, candidate fractions) rather than query answers —
  // Bench subtotals them separately from the engine queries
  val all: Seq[QueryDef] = Seq(sq01KnnBruteForce,
    sq02AnnLshRecall.measured,
    sq03LabelCentroids, sq04AnnIvfRecall.measured, sq05EmbeddingNearDup,
    sq06Int8Quantization, sq09AnnPqRecall.measured,
    sq10AnnIvfPqRecall.measured,
    sq05bEmbeddingNearDupPortable, sq02bAnnLshRecallPortable.measured,
    sq11HardNegatives, sq12MmrRerank, sq13EmbeddingAudit,
    sq14AnnStoredIndexSearch.measured, sq15PcaPower, sq16MatryoshkaAudit,
    sq17AnnOpqRecall.measured, sq19WhiteningAudit,
    sq04bAnnIvfRecallPortable.measured,
    // sq02c is RETIRED from the quiet bench (r13 verdict #6): its 3-arm
    // fixed-width sweep measured the weakness sq02d's adaptive sizing
    // has closed, and the lesson is banked in COVERAGE — the ~2 s/round
    // bench wall bought nothing. It stays compiled, hash-checkable, and
    // spec-exercised (LshBitScaleSpec runs the sweep every `sbt test`).
    sq02dAnnLshAdaptive.measured,
    sq21KnnGraphNnDescent.measured,
    sq22GraphAnnServe,
    sq22bGraphServingLatency.measured, sq23GraphInsertDrift.measured,
    sq24GraphPqServe,
    sq25FilteredGraphAnn, sq25bFilteredExactStored.measured,
    sq26GraphAlphaPrune.measured,
    sq27ClusteredGraphStore.measured,
    sq28ComposedGraphStore.measured)
}
