package graft.ml

import graft.similarity.Pq
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The PUBLISHED job-clustering k-means (mq15): the trained
  * scale→cluster pipeline's parameters frozen as constants —
  * [[FrozenSalaryRf]]/[[FrozenAttractivenessLr]]'s frozen-parameters
  * move applied to the reference's THIRD persisted serving model, the
  * `models/job_clustering_kmeans` clusterer (StandardScaler(withMean,
  * withStd) → KMeans(k=5, seed=42) over salary + exp + the 15 flags —
  * the exact shape [[Pipelines.kmeans]] builds and mq02 trains).
  *
  * What is hashed and why: the assigned CLUSTER (argmin of squared L2
  * in scaled space, first-index tie-break — the arithmetic
  * [[graft.similarity.Pq.nearestCol]] and Spark's own
  * KMeansModel.predict use) and the squared distance to that centroid.
  * Every operation is exactly-rounded IEEE (subtract, divide, multiply,
  * left-associated adds, compares) — no transcendental anywhere, so
  * unlike mq14's sigmoid there is nothing to dodge: both engines replay
  * the full assignment bit for bit.
  *
  * Zero-variance features: Spark's StandardScaler maps a zero-std
  * feature to 0.0 (it never divides by zero), making it the constant 0
  * in scaled space with centroid coordinate exactly 0.0 — it
  * contributes 0 to every distance, so the frozen arithmetic DROPS it
  * ([[FreezeKmeans]] asserts the centroid coords are exactly 0.0 before
  * publishing; at sf0.01 that dropped `is_staff`).
  *
  * Provenance: frozen by [[FreezeKmeans]] from the sf0.01 featurized
  * postings (12,857 rows). Double.toString literals round-trip
  * identically in Scala and DuckDB.
  *
  * 100 TB: pure per-row projection — 16 scale ops, 5×16 multiply-adds,
  * one argmin over 5; no shuffle, no model object in the hot path. */
object FrozenJobKmeans {

  // frozen from Pipelines.kmeans(k=5, seed=42) fit on
  // /root/testdata/sf0.01 (12857 rows), features = (salary_final,
  // exp_final, 15 flags); zero-variance (dropped): is_staff
  val featureNames: Seq[String] = Seq(
    "salary_final", "exp_final", "is_hcm", "is_hanoi", "is_danang",
    "is_it", "is_sales", "is_finance", "is_education", "is_engineering",
    "is_intern", "is_fresher", "is_junior", "is_senior", "is_team_lead",
    "is_manager")
  val means: Seq[Double] = Seq(
    29.790814342381754, 2.875243058256195, 0.3333592595473283, 0.16667962977366416, 0.16660185113167925, 0.19996888854320605, 0.20004666718519096, 0.19996888854320605, 0.19996888854320605, 0.20004666718519096, 0.16667962977366416, 0.16667962977366416, 0.16667962977366416, 0.16667962977366416, 0.16667962977366416, 0.16660185113167925)
  val stds: Seq[Double] = Seq(
    18.48496493178684, 3.179741630162172, 0.47143202031752035, 0.3727040848901805, 0.3726345051108212, 0.39999222024514947, 0.40005055413263735, 0.39999222024514947, 0.39999222024514947, 0.40005055413263735, 0.3727040848901805, 0.3727040848901805, 0.3727040848901805, 0.3727040848901805, 0.3727040848901805, 0.3726345051108212)
  val centroids: Seq[Seq[Double]] = Seq(
    Seq(-0.28622257937225537, 3.2731861168051174E-4, -5.499459705230829E-5, -3.47812313391635E-5, 1.7393862913504883E-4, -3.8908233345792594E-4, 5.835383983738776E-4, -3.8908233345785796E-4, 7.780738870898393E-4, -5.834476317847207E-4, -0.44721707255441795, -0.44721707255441795, -0.44721707255441795, -0.44721707255441795, -0.44721707255441795, 2.2365028934195164),
    Seq(-0.42146762902346924, 4.188506192362366E-4, 1.099763628885205E-4, -2.4345238921303914E-4, -3.4771492637598226E-5, -3.888100363431376E-5, 3.499233694713381E-4, -6.221867956119269E-4, 5.444247883423911E-4, -2.3329736701929949E-4, -0.4472170725544063, 0.8943298014148661, -0.4472170725544063, 0.8943298014148654, -0.4472170725544063, -0.44709185232891674),
    Seq(1.7014694345306933, -6.817943668292286E-4, -3.84936516932526E-4, 0.0010085745580287848, -3.4771492637237444E-5, -6.22186795611157E-4, 3.499233694714733E-4, 5.4442478834284E-4, -6.221867956113538E-4, 3.4992336947153754E-4, -0.44721707255441795, -0.44721707255441795, 2.2358766753841324, -0.44721707255441795, -0.44721707255441795, -0.44709185232895826),
    Seq(-0.28615946922309504, -2.415363724031146E-4, 6.048892427073575E-4, -2.4345238921266696E-4, -3.477149263734618E-5, 5.444247883420913E-4, -8.165181035100584E-4, 5.44424788342786E-4, -6.221867956115029E-4, 3.499233694715123E-4, -0.44721707255441795, -0.44721707255441795, -0.44721707255441795, -0.44721707255441795, 2.2358766753841324, -0.44709185232895826),
    Seq(-0.2862856895214159, -2.415363724030149E-4, -3.8493651693279226E-4, -2.4345238921259476E-4, -3.477149263787757E-5, 5.444247883427555E-4, -8.16518103509973E-4, 5.444247883427921E-4, -6.221867956112189E-4, 3.4992336947146436E-4, 2.2358766753841324, -0.44721707255441795, -0.44721707255441795, -0.44721707255441795, -0.44721707255441795, -0.44709185232895826))

  val k: Int = centroids.length

  /** Scaled feature i: (raw − mean) / std — subtract then divide,
    * both exactly rounded, identical in both engines. */
  def scaledCol(i: Int, raw: Column): Column =
    (raw - lit(means(i))) / lit(stds(i))

  def scaledSql(i: Int, raw: String): String =
    s"(($raw - ${means(i)}) / ${stds(i)})"

  /** Squared L2 to centroid `c` over the scaled features `sf`:
    * [[Pq.sqd]] of the feature array against the centroid literal, its
    * per-term (sf−coord)·(sf−coord) summed LEFT-ASSOCIATED in published
    * feature order from 0.0 — bit for bit [[distSql]]'s `t0 + t1 + …`,
    * since every term is ≥ +0.0 or NaN and so `0.0 + t0 == t0`. A null
    * feature nulls the sum in both. */
  def distCol(c: Int, sf: Int => Column): Column =
    Pq.sqd(array(featureNames.indices.map(sf): _*), typedlit(centroids(c)))

  def distSql(c: Int, sf: Int => String): String =
    featureNames.indices.map { i =>
      s"(${sf(i)} - ${centroids(c)(i)}) * (${sf(i)} - ${centroids(c)(i)})"
    }.mkString(" + ")

  /** First-index-wins argmin over the k distances — Spark's
    * KMeansModel.predict tie-break. Spark takes [[Pq]]'s argmin over
    * `array(d(0..k-1))`, so each distance is written once; DuckDB keeps
    * [[clusterSql]]'s cascade "first c with d(c) <= every later d(j),
    * else k-1". They agree: both engines order doubles with NaN greatest
    * and NaN = NaN (distances are never −0.0), and under a total order
    * the first c that is <= every later distance is the first index of
    * the minimum. The k distances read the same features, so they are
    * all null or none: then array_min is null and the coalesce answers
    * k-1, as the cascade does when no comparison holds. */
  def clusterCol(d: Int => Column): Column =
    coalesce(Pq.argmin(array((0 until k).map(d): _*)), lit(k - 1))

  def clusterSql(d: Int => String): String = {
    val whens = (0 until k - 1).map { c =>
      val conds = (c + 1 until k).map(j => s"${d(c)} <= ${d(j)}")
        .mkString(" AND ")
      s"WHEN $conds THEN $c"
    }.mkString(" ")
    s"CASE $whens ELSE ${k - 1} END"
  }

  /** The assigned centroid's squared distance (= min over the k). */
  def minDistCol(d: Int => Column): Column =
    least((0 until k).map(d): _*)

  def minDistSql(d: Int => String): String =
    s"least(${(0 until k).map(d).mkString(", ")})"
}
