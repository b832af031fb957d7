package graft.ml

import graft.TestSpark
import graft.similarity.Pq
import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}
import org.scalacheck.{Gen, Prop}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** [[FrozenJobKmeans.distCol]] is [[Pq.sqd]] and
  * [[FrozenJobKmeans.clusterCol]] is [[Pq]]'s first-index argmin, while
  * the DuckDB oracle keeps the per-term sum and the `<=` cascade. Both
  * Spark columns must equal, bit for bit, two references: that sum and
  * cascade written as Spark columns (kept here only), and a driver
  * replay with [[Pq.sqdist]] and [[Pq.nearest]]. Generated inputs carry
  * tied distances, ±0.0, NaN features and rows whose distances are all
  * null. */
class FrozenJobKmeansPropertySpec extends AnyFunSuite {
  import FrozenJobKmeans.{centroids, featureNames, k, means, stds}

  private lazy val spark = TestSpark.spark

  /** The per-term squared distance, summed left to right — the
    * arithmetic of [[FrozenJobKmeans.distSql]]. */
  private def termSum(c: Int, sf: Int => Column): Column =
    featureNames.indices.map { i =>
      (sf(i) - lit(centroids(c)(i))) * (sf(i) - lit(centroids(c)(i)))
    }.reduce(_ + _)

  /** The first c whose distance is <= every later one, else k-1 — the
    * comparison cascade of [[FrozenJobKmeans.clusterSql]]. */
  private def cascade(d: Int => Column): Column =
    (0 until k - 1).foldRight(lit(k - 1)) { (c, els) =>
      when((c + 1 until k).map(j => d(c) <= d(j)).reduce(_ && _), lit(c))
        .otherwise(els)
    }

  private def check(seed: Long, prop: Prop): Unit = {
    val res = org.scalacheck.Test.check(org.scalacheck.Test.Parameters.default
      .withMinSuccessfulTests(10)
      .withInitialSeed(org.scalacheck.rng.Seed(seed)), prop)
    assert(res.passed, res.status.toString)
  }

  private def frame(names: Seq[String], rows: Seq[Seq[Option[Double]]]) =
    spark.createDataFrame(
      rows.zipWithIndex.map { case (r, i) =>
        Row.fromSeq(i.toLong +: r.map(_.map(Double.box).orNull)) }.asJava,
      StructType(StructField("id", LongType, nullable = false) +:
        names.map(StructField(_, DoubleType, nullable = true))))

  private def bits(d: Double): Long = java.lang.Double.doubleToRawLongBits(d)

  /** Spark's double order: NaN greatest, −0.0 equal to 0.0. */
  private def sparkLess(a: Double, b: Double): Boolean =
    a != b && (java.lang.Double.isNaN(b) && !java.lang.Double.isNaN(a) || a < b)

  private val distance: Gen[Double] =
    Gen.oneOf(Gen.oneOf(0.0, -0.0, 1.0, 2.5, Double.NaN), Gen.choose(0.0, 3.0))

  /** k distances from a small pool, so ties are likely, or all null. */
  private val distanceRow: Gen[Seq[Option[Double]]] = Gen.frequency(
    8 -> Gen.listOfN(k, distance).map(_.map(Some(_))),
    1 -> Gen.const(Seq.fill(k)(None)))

  test("property: clusterCol over given distances equals the cascade and a driver argmin") {
    val names = (0 until k).map(c => s"d$c")
    check(9200L, Prop.forAllNoShrink(Gen.choose(1, 64).flatMap(Gen.listOfN(_, distanceRow))) {
      rows =>
        val got = frame(names, rows)
          .select(col("id"), FrozenJobKmeans.clusterCol(c => col(s"d$c")),
            cascade(c => col(s"d$c")))
          .collect().map(r => r.getLong(0).toInt -> (r.getInt(1), r.getInt(2))).toMap
        Prop(rows.zipWithIndex.forall { case (ds, i) =>
          val want =
            if (ds.exists(_.isEmpty)) k - 1
            else ds.indices.foldLeft(0)((b, c) => if (sparkLess(ds(c).get, ds(b).get)) c else b)
          got(i) == (want, want)
        }) :| s"clusterCol vs cascade vs driver: $got for $rows"
    })
  }

  /** A raw feature `i`: its mean (scaled to exactly 0.0), ±0.0, a
    * centroid's coordinate unscaled, or any value. */
  private def feature(i: Int): Gen[Double] = Gen.oneOf(
    Gen.const(means(i)), Gen.oneOf(0.0, -0.0, 1.0),
    Gen.choose(0, k - 1).map(c => centroids(c)(i) * stds(i) + means(i)),
    Gen.choose(-10.0, 120.0))

  /** A raw feature row: plain, or with one NaN or one null feature. */
  private val featureRow: Gen[Seq[Option[Double]]] = for {
    raw <- Gen.sequence[Seq[Double], Double](featureNames.indices.map(feature))
    kind <- Gen.frequency(6 -> 0, 1 -> 1, 1 -> 2)
    at <- Gen.choose(0, featureNames.length - 1)
  } yield raw.zipWithIndex.map {
    case (_, i) if i == at && kind == 1 => Some(Double.NaN)
    case (_, i) if i == at && kind == 2 => None
    case (v, _) => Some(v)
  }

  test("property: distCol and clusterCol over scaled features equal the term sum, " +
      "the cascade and Pq's driver replay") {
    check(9201L, Prop.forAllNoShrink(Gen.choose(1, 64).flatMap(Gen.listOfN(_, featureRow))) {
      rows =>
        def sf(i: Int) = FrozenJobKmeans.scaledCol(i, col(featureNames(i)))
        val got = frame(featureNames, rows).select((
          col("id") +:
            FrozenJobKmeans.clusterCol(c => FrozenJobKmeans.distCol(c, sf)) +:
            cascade(c => termSum(c, sf)) +:
            ((0 until k).map(FrozenJobKmeans.distCol(_, sf)) ++
              (0 until k).map(termSum(_, sf)))): _*)
          .collect().map { r =>
            r.getLong(0).toInt -> (r.getInt(1), r.getInt(2),
              (3 until 3 + 2 * k).map(j => if (r.isNullAt(j)) None else Some(bits(r.getDouble(j)))))
          }.toMap
        Prop(rows.zipWithIndex.forall { case (raw, i) =>
          val (cluster, cascaded, dists) = got(i)
          val want =
            if (raw.exists(_.isEmpty)) (k - 1, Seq.fill(2 * k)(None))
            else {
              val s = featureNames.indices.map(j => (raw(j).get - means(j)) / stds(j)).toArray
              val ds = centroids.map(c => Some(bits(Pq.sqdist(s, c.toArray))))
              (Pq.nearest(s, centroids.map(_.toArray).toArray), ds ++ ds)
            }
          (cluster, cascaded, dists) == (want._1, want._1, want._2)
        }) :| s"distCol/clusterCol vs references: $got for $rows"
    })
  }
}
