package graft.similarity

/** Product-quantization codebook training — driver-side Lloyd's k-means
  * over a BOUNDED sample, the standard FAISS recipe: even for a 10^11-
  * vector corpus, PQ codebooks train on ~10^5 sampled vectors (here the
  * whole fixture corpus, a few hundred KB). Distributed k-means buys
  * nothing for 16-centroid × 8-dim subproblems and costs ~90 Spark jobs
  * (8 fits × init + iterations); a seeded local loop is deterministic,
  * instant, and keeps the ENCODE and SEARCH paths pure codegen column
  * expressions over the codebook literal — no ML UDFs anywhere.
  */
object Pq {

  private def sqdist(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
    s
  }

  /** Seeded Lloyd's iterations; empty clusters keep their centroid. */
  def trainCodebook(points: IndexedSeq[Array[Double]], k: Int,
      iters: Int = 10, seed: Long = 42L): Array[Array[Double]] = {
    require(points.length >= k, s"need >= $k training points, got ${points.length}")
    val rnd = new scala.util.Random(seed)
    val dim = points.head.length
    val centroids = rnd.shuffle(points.indices.toVector).take(k)
      .map(i => points(i).clone).toArray
    var it = 0
    while (it < iters) {
      val sums = Array.fill(k)(new Array[Double](dim))
      val counts = new Array[Int](k)
      points.foreach { p =>
        var best = 0
        var bd = Double.MaxValue
        var c = 0
        while (c < k) {
          val d = sqdist(p, centroids(c))
          if (d < bd) { bd = d; best = c }
          c += 1
        }
        counts(best) += 1
        var j = 0
        while (j < dim) { sums(best)(j) += p(j); j += 1 }
      }
      var c = 0
      while (c < k) {
        if (counts(c) > 0) {
          var j = 0
          while (j < dim) { centroids(c)(j) = sums(c)(j) / counts(c); j += 1 }
        }
        c += 1
      }
      it += 1
    }
    centroids
  }

  /** Train one codebook per contiguous subspace of `sub` dims. */
  def trainSubspaces(sample: IndexedSeq[Array[Double]], m: Int, sub: Int,
      k: Int, iters: Int = 10, seed: Long = 42L): Seq[Seq[Seq[Double]]] =
    (0 until m).map { mi =>
      trainCodebook(sample.map(_.slice(mi * sub, (mi + 1) * sub)), k, iters, seed + mi)
        .map(_.toSeq).toSeq
    }

  import org.apache.spark.sql.{Column, DataFrame}
  import org.apache.spark.sql.functions._

  /** Squared distance as the left-associated zip_with/aggregate fold —
    * the ONE definition of the arithmetic every DuckDB oracle replays
    * with explicit j-ordered sums ([[lutCol]], [[ivfPqEncode]]'s coarse
    * routing, and through lutCol every encode/LUT path; the stored
    * layouts' cell routing, [[KnnGraph.clusterOf]]). Keep them in
    * lockstep: a fold-order change here changes hashes everywhere. */
  private[similarity] def sqd(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)), lit(0.0), _ + _)

  /** OPQ rotation for the RESIDUAL space (Ge et al. 2014 applied inside
    * IVF, the FAISS `OPQ..,IVF..,PQ..` chain): eigendecompose the
    * residual scatter Σrrᵀ (deterministic cyclic Jacobi — sq17's
    * machinery) and deal eigenvalues onto subspace buckets so per-bucket
    * log-variances balance. Rows of the result are the allocated
    * eigenvectors; apply with [[rotateCol]] (engine) or [[rotateVec]]
    * (driver, for query residuals). No centering: a shared translation
    * cancels in every LUT distance, and residuals are near zero-mean by
    * construction. */
  def trainOpqRotation(resSample: IndexedSeq[Array[Double]], m: Int,
      sub: Int): Seq[Seq[Double]] = {
    val d = resSample.head.length
    val scatter = Array.ofDim[Double](d, d)
    resSample.foreach { r =>
      var i = 0
      while (i < d) {
        var j = i
        while (j < d) { scatter(i)(j) += r(i) * r(j); j += 1 }
        i += 1
      }
    }
    var i = 0
    while (i < d) {
      var j = i + 1
      while (j < d) { scatter(j)(i) = scatter(i)(j); j += 1 }
      i += 1
    }
    val (evals, evecs) = Eig.jacobiSym(scatter)
    Eig.eigenAllocation(evals, m, sub).map(evecs(_).toSeq)
  }

  /** x' = R·x as a codegen'd dense matvec (d² flops/row, the standard
    * OPQ serving cost, fused into the same scan as the encode). */
  def rotateCol(v: Column, rot: Seq[Seq[Double]]): Column =
    transform(typedlit(rot), r =>
      aggregate(zip_with(r, v, _ * _), lit(0.0), _ + _))

  /** Driver-side twin of [[rotateCol]] for query residuals. */
  def rotateVec(v: Array[Double], rot: Seq[Seq[Double]]): Array[Double] =
    Array.tabulate(rot.length) { i =>
      val r = rot(i); var s = 0.0; var j = 0
      while (j < v.length) { s += r(j) * v(j); j += 1 }
      s
    }

  /** Per-subspace K-entry LUT column: squared distances of `v`'s
    * `mi`-th subspace slice to every codebook entry, as the
    * left-associated zip_with/aggregate fold (the arithmetic the
    * DuckDB oracles replay with explicit j-ordered sums — keep them in
    * lockstep). Shared by flat-PQ encode, query LUTs (sq24), and the
    * stored-codes serving path. */
  def lutCol(v: Column, cb: Seq[Seq[Seq[Double]]], sub: Int, mi: Int): Column =
    transform(typedlit(cb(mi)), c => sqd(slice(v, mi * sub + 1, sub), c))

  /** Flat-PQ encode (no coarse stage): `vec_id` + one 4-bit code per
    * subspace as columns `c0..c{M-1}` — argmin via
    * array_position(d, array_min(d)), first-index-wins like the
    * oracle's (pd ASC, ki) rank. The per-candidate working set of
    * PQ-guided serving. */
  def pqEncode(vecs: DataFrame, cb: Seq[Seq[Seq[Double]]], sub: Int): DataFrame = {
    val m = cb.length
    (0 until m).foldLeft(vecs.select(col("vec_id"), col("v"))) { (df, mi) =>
        df.withColumn(s"d$mi", lutCol(col("v"), cb, sub, mi))
          .withColumn(s"c$mi",
            (array_position(col(s"d$mi"), array_min(col(s"d$mi"))) - 1).cast("int"))
          .drop(s"d$mi")
      }
      .drop("v")
  }

  /** IVF-PQ encode as a pure COLUMN projection over frozen quantizers —
    * the shared arithmetic of the batch index build (sq10) and the
    * streaming incremental maintenance path: coarse-assign each vector
    * (`v`: array<double>) to its nearest `coarse` centroid → `list_id`,
    * subtract that centroid (residual), then per subspace emit the
    * nearest `cb` codebook entry index → `c0..c{M-1}`. Everything is
    * array built-ins over codebook literals, fully codegen, no UDFs —
    * and therefore stateless, so it runs unchanged on a stream. Each
    * per-subspace distance array materializes once in its own
    * projection (inlining it into both array_position and array_min
    * would double the K×subdim arithmetic per row). */
  def ivfPqEncode(vecs: DataFrame, coarse: Seq[Seq[Double]],
      cb: Seq[Seq[Seq[Double]]], sub: Int,
      rot: Option[Seq[Seq[Double]]] = None): DataFrame = {
    val m = cb.length
    val coarseLit = typedlit(coarse)
    def subDist(vCol: Column, mi: Int) = lutCol(vCol, cb, sub, mi)
    val rawRes = zip_with(col("v"), element_at(coarseLit, col("list_id") + 1),
      (x, y) => x - y)
    val assigned = vecs
      .withColumn("cd", transform(coarseLit, c => sqd(col("v"), c)))
      .withColumn("list_id", (array_position(col("cd"), array_min(col("cd"))) - 1).cast("int"))
      .drop("cd")
      // OPQ seam: rotate the residual BEFORE the subspace split — coarse
      // routing stays on raw vectors, so scan fraction is untouched
      .withColumn("res", rot.fold(rawRes)(r => rotateCol(rawRes, r)))
    (0 until m).foldLeft(assigned) { (df, mi) =>
        df.withColumn(s"d$mi", subDist(col("res"), mi))
          .withColumn(s"c$mi",
            (array_position(col(s"d$mi"), array_min(col(s"d$mi"))) - 1).cast("int"))
          .drop(s"d$mi")
      }
      .drop("res")
  }
}
