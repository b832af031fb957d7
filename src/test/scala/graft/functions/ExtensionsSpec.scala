package graft.functions

import graft.TestSpark
import org.scalatest.funsuite.AnyFunSuite

/** Driver-side stat API coverage. */
class ExtensionsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("df.stat.approxQuantile (A5: driver-side outlier bounds)") {
    val li = graft.sources.Tables.lineitem(spark, "/root/testdata/sf0.001")
    // the reference's outlier-bound idiom: p01/p99 with 0.25 relative error
    // (pyc preprocess_data@177), then filter to the inner range
    val Array(p01, p99) =
      li.stat.approxQuantile("l_extendedprice", Array(0.01, 0.99), 0.25)
    assert(p01 < p99)
    val kept = li.filter(li("l_extendedprice") >= p01 && li("l_extendedprice") <= p99).count()
    val total = li.count()
    assert(kept > total / 2 && kept <= total)
  }
}
