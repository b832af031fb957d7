package graft.functions

import graft.TestSpark
import graft.similarity.VectorOps
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The native cosine expression must agree with the zip_with/aggregate
  * composition bit-for-bit on clean inputs, handle nulls/zero vectors, and
  * register into SQL via GraftExtensions. */
class CosineSimilaritySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("matches the built-in composition on the embeddings fixture") {
    import spark.implicits._
    val df = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select($"vec_id", VectorOps.toDouble($"embedding").as("v"))
    val a = df.select($"vec_id".as("ida"), $"v".as("va")).filter($"ida" < 10)
    val b = df.select($"vec_id".as("idb"), $"v".as("vb")).filter($"idb" >= 10 && $"idb" < 20)
    val both = a.crossJoin(b)
      .select(
        CosineSimilarity($"va", $"vb").as("native"),
        VectorOps.cosineComposed($"va", $"vb").as("composed"))
      .collect()
    assert(both.length == 100)
    // native uses sqrt(nx*ny), the composition sqrt(nx)*sqrt(ny) — equal
    // up to 1 ulp, so compare with a tight tolerance, not bitwise
    both.foreach { r =>
      assert(math.abs(r.getDouble(0) - r.getDouble(1)) < 1e-12,
        s"native ${r.getDouble(0)} != composed ${r.getDouble(1)}")
    }
  }

  test("null inputs and zero vectors") {
    import spark.implicits._
    val df = Seq(
      (Some(Seq(1.0, 0.0)), Some(Seq(1.0, 0.0))),
      (Some(Seq(1.0, 0.0)), Some(Seq(0.0, 1.0))),
      (Some(Seq(0.0, 0.0)), Some(Seq(1.0, 0.0))),
      (None, Some(Seq(1.0, 0.0))))
      .toDF("a", "b")
      .select(CosineSimilarity($"a", $"b").as("cos"))
      .collect()
    assert(df(0).getDouble(0) == 1.0)
    assert(df(1).getDouble(0) == 0.0)
    assert(df(2).getDouble(0).isNaN) // zero norm → NaN, matching 0/0
    assert(df(3).isNullAt(0))        // null propagates
  }

  test("registers into SQL as graft_cosine via extensions") {
    val row = spark.sql(
      "SELECT graft_cosine(array(1.0d, 2.0d), array(2.0d, 4.0d)) AS c").head()
    assert(math.abs(row.getDouble(0) - 1.0) < 1e-12)
  }

  test("type mismatch is rejected at analysis time") {
    import spark.implicits._
    val e = intercept[Exception] {
      Seq(("x", Seq(1.0))).toDF("a", "b")
        .select(CosineSimilarity($"a", $"b")).collect()
    }
    assert(e.getMessage.contains("graft_cosine") || e.getMessage.contains("DATATYPE"),
      e.getMessage)
  }
}
