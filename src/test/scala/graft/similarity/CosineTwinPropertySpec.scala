package graft.similarity

import graft.TestSpark
import graft.functions.CosineSimilarity
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.types.{ArrayType, DoubleType}
import org.scalacheck.{Gen, Prop}
import org.scalatest.funsuite.AnyFunSuite

/** [[KnnGraph.cosineLocal]] is the driver-side twin of `graft_cosine`
  * ([[CosineSimilarity]]): the coordinated walk's tie-breaks are
  * bit-identical to the distributed walk's only while the two agree on
  * every input. On generated pairs with zero vectors, ±0.0, NaN,
  * infinities, duplicate vectors and unequal lengths, the twin equals
  * the expression bit for bit (NaNs compare as NaN: Spark canonicalises
  * their payload when it writes a row), both through whole-stage codegen
  * and interpreted. */
class CosineTwinPropertySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val element: Gen[Double] = Gen.frequency(
    3 -> Gen.oneOf(0.0, -0.0, 1.0, -1.0, 0.5),
    1 -> Gen.oneOf(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity,
      Double.MinPositiveValue, 1e300, -1e-300),
    4 -> Gen.choose(-10.0, 10.0))

  private def vector(n: Int): Gen[Array[Double]] = Gen.frequency(
    1 -> Gen.oneOf(Array.fill(n)(0.0), Array.fill(n)(-0.0)),
    5 -> Gen.listOfN(n, element).map(_.toArray))

  /** (x, y): equal or unequal lengths, y sometimes a copy or a prefix of x. */
  private val pair: Gen[(Array[Double], Array[Double])] = for {
    nx <- Gen.choose(0, 6)
    x <- vector(nx)
    y <- Gen.frequency(
      1 -> Gen.const(x.clone()),
      1 -> Gen.choose(0, nx).map(x.take),
      3 -> Gen.choose(0, 6).flatMap(vector))
  } yield (x, y)

  private def bits(d: Double): Long = java.lang.Double.doubleToLongBits(d)

  private def show(ds: Array[Double]): String = ds.mkString("[", ", ", "]")

  test("property: cosineLocal equals graft_cosine bit for bit") {
    import spark.implicits._
    val prop = Prop.forAllNoShrink(Gen.listOfN(120, pair)) { pairs =>
      // an RDD-backed frame, so the projection runs whole-stage codegen
      val codegen = spark.sparkContext.parallelize(
          pairs.zipWithIndex.map { case ((x, y), i) => (i, x.toSeq, y.toSeq) }, 2)
        .toDF("i", "x", "y")
        .select($"i", CosineSimilarity($"x", $"y"))
        .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
      val t = ArrayType(DoubleType, containsNull = false)
      val bad = pairs.zipWithIndex.flatMap { case ((x, y), i) =>
        val local = KnnGraph.cosineLocal(x, y)
        val interpreted = CosineSimilarity(Literal.create(x.toSeq, t), Literal.create(y.toSeq, t))
          .eval().asInstanceOf[Double]
        if (bits(local) == bits(codegen(i)) && bits(local) == bits(interpreted)) None
        else Some(s"x=${show(x)} y=${show(y)}: cosineLocal $local, " +
          s"codegen ${codegen(i)}, interpreted $interpreted")
      }
      Prop(bad.isEmpty) :| bad.mkString("\n")
    }
    val res = org.scalacheck.Test.check(org.scalacheck.Test.Parameters.default
      .withMinSuccessfulTests(5)
      .withInitialSeed(org.scalacheck.rng.Seed(9300L)), prop)
    assert(res.passed, res.status.toString)
  }
}
