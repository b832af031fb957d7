package graft.util

/** Spark SQL's double ordering, replayed driver-side — the ONE rule
  * every local twin of a Spark sort or BinaryComparison routes through
  * (the graph build's keep and prune, the coordinated serving walk,
  * [[graft.operators.TopKPerGroup]]).
  *
  * Spark compares doubles with `nanSafeCompareDoubles`: NaN is GREATEST
  * (and equal to itself), and -0.0 == 0.0. Java's `Double.compare`
  * agrees on NaN but orders -0.0 < 0.0, Scala's default `Ordering[Double]`
  * is `Double.compare`, and Java's primitive `<=` makes EVERY NaN
  * comparison false — each diverges from the relational operator it
  * stands in for (a zero vector's NaN cosine survived a cover test it
  * should fail, and ±0.0 ties broke by sign instead of falling through
  * to the id tie-break).
  */
object SparkOrdering {

  /** Spark's `nanSafeCompareDoubles`: NaN greatest, -0.0 == 0.0. */
  def compare(x: Double, y: Double): Int = {
    val xN = java.lang.Double.isNaN(x)
    val yN = java.lang.Double.isNaN(y)
    if ((xN && yN) || (x == y)) 0
    else if (xN) 1
    else if (yN) -1
    else if (x > y) 1 else -1
  }

  /** (id, score) by score DESC under [[compare]] (NaN first, -0.0 tied
    * with 0.0), then id ASC — `ORDER BY score DESC, id`, the
    * `row_number` ordering of every top-k the driver replays. No
    * allocation per comparison: the specialized tuple's fields are read
    * unboxed. */
  val bestFirst: Ordering[(Long, Double)] = new Ordering[(Long, Double)] {
    def compare(a: (Long, Double), b: (Long, Double)): Int = {
      val c = SparkOrdering.compare(b._2, a._2)
      if (c != 0) c else java.lang.Long.compare(a._1, b._1)
    }
  }
}
