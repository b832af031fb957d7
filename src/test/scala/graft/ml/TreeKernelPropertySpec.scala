package graft.ml

import graft.TestSpark
import org.apache.spark.ml.feature.VectorAssembler
import org.apache.spark.ml.linalg.Vectors
import org.apache.spark.ml.regression.{GBTRegressor, RandomForestRegressor}
import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}
import org.scalacheck.{Gen, Prop}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** [[TreeKernel]] against spark.ml itself: a tiny forest and a tiny
  * boosted ensemble are trained, converted with
  * [[TreeKernel.fromSpark]] and served through the same composition as
  * the frozen models ([[FrozenSalaryRf.rawCol]], [[FrozenSkillGbt.scoreCol]]).
  * On generated rows carrying NaN, ±0.0 and features exactly equal to
  * a split threshold, the kernel's Column and its SQL text (evaluated
  * by Spark through `expr`) equal the model's own `predict`: bit for
  * bit for the forest, within 1e-12 relative for the boosted model,
  * whose `predict` is a BLAS dot that may vectorize ([[FreezeGbt]]). */
class TreeKernelPropertySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val nFeatures = 4
  private val names = (0 until nFeatures).map(i => s"f$i")

  /** A few hundred training rows: discrete features, so the trees
    * split on them, and a positive label far from zero, so the
    * boosted model's relative bound is meaningful. */
  private lazy val training = {
    val rnd = new scala.util.Random(7)
    val rows = (0 until 300).map { _ =>
      val f = Array.fill(nFeatures)(rnd.nextInt(7) - 2.0)
      Row.fromSeq(f.toSeq :+ (20.0 + 3 * f(0) - 2 * f(1) + f(2) * f(3) + rnd.nextDouble()))
    }
    val df = spark.createDataFrame(rows.asJava,
      StructType((names :+ "label").map(StructField(_, DoubleType, nullable = false))))
    new VectorAssembler().setInputCols(names.toArray).setOutputCol("features").transform(df)
  }

  private lazy val forest = new RandomForestRegressor()
    .setNumTrees(3).setMaxDepth(3).setSeed(42).fit(training)

  private lazy val boosted = new GBTRegressor()
    .setMaxIter(10).setMaxDepth(3).setSeed(42).fit(training)

  private def thresholds(n: TreeKernel.Node): Seq[Double] = n match {
    case TreeKernel.L(_) => Nil
    case TreeKernel.S(_, t, lo, hi) => t +: (thresholds(lo) ++ thresholds(hi))
  }

  /** A feature: NaN, ±0.0, one of the model's split thresholds, or any
    * value around the training range. */
  private def row(ts: Seq[Double]): Gen[Seq[Double]] = Gen.listOfN(nFeatures,
    Gen.frequency(1 -> Gen.oneOf(Double.NaN, 0.0, -0.0), 2 -> Gen.oneOf(ts),
      2 -> Gen.choose(-4.0, 6.0)))

  private def check(seed: Long, prop: Prop): Unit = {
    val res = org.scalacheck.Test.check(org.scalacheck.Test.Parameters.default
      .withMinSuccessfulTests(10)
      .withInitialSeed(org.scalacheck.rng.Seed(seed)), prop)
    assert(res.passed, res.status.toString)
  }

  /** (Column, SQL-through-expr) per generated row, by row index. */
  private def served(rows: Seq[Seq[Double]], c: Column, sql: String): Map[Int, (Double, Double)] =
    spark.createDataFrame(
      rows.zipWithIndex.map { case (r, i) => Row.fromSeq(i.toLong +: r) }.asJava,
      StructType(StructField("id", LongType, nullable = false) +:
        names.map(StructField(_, DoubleType, nullable = false))))
      .select(col("id"), c, expr(sql))
      .collect().map(r => r.getLong(0).toInt -> (r.getDouble(1), r.getDouble(2))).toMap

  private def bits(d: Double): Long = java.lang.Double.doubleToRawLongBits(d)

  test("property: the kernel's forest Column and SQL equal RandomForestRegressionModel.predict bit for bit") {
    val ts = forest.trees.map(t => TreeKernel.fromSpark(t.rootNode)).toSeq
    val splits = ts.flatMap(thresholds).distinct
    assert(splits.nonEmpty, "the tiny forest has no split to sit on")
    check(9300L, Prop.forAllNoShrink(Gen.choose(1, 64).flatMap(Gen.listOfN(_, row(splits)))) {
      rows =>
        val got = served(rows, FrozenSalaryRf.rawCol(i => col(names(i)), ts),
          FrozenSalaryRf.rawSql(names, ts))
        Prop(rows.zipWithIndex.forall { case (r, i) =>
          val want = bits(forest.predict(Vectors.dense(r.toArray)))
          bits(got(i)._1) == want && bits(got(i)._2) == want
        }) :| s"kernel vs predict: $got for $rows"
    })
  }

  test("property: the kernel's boosted Column and SQL equal GBTRegressionModel.predict within 1e-12") {
    val ts = boosted.trees.map(t => TreeKernel.fromSpark(t.rootNode)).toSeq
    val ws = boosted.treeWeights.toSeq
    val splits = ts.flatMap(thresholds).distinct
    assert(splits.nonEmpty, "the tiny boosted model has no split to sit on")
    check(9301L, Prop.forAllNoShrink(Gen.choose(1, 64).flatMap(Gen.listOfN(_, row(splits)))) {
      rows =>
        val got = served(rows, FrozenSkillGbt.scoreCol(i => col(names(i)), ts, ws),
          FrozenSkillGbt.scoreSql(names, ts, ws))
        Prop(rows.zipWithIndex.forall { case (r, i) =>
          val want = boosted.predict(Vectors.dense(r.toArray))
          val (c, s) = got(i)
          // the two kernel forms are the same left-associated sum
          bits(c) == bits(s) && math.abs(c - want) / math.abs(want) < 1e-12
        }) :| s"kernel vs predict: $got for $rows"
    })
  }
}
