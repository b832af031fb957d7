package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Product-quantization codebook training — driver-side Lloyd's k-means
  * over a BOUNDED sample, the standard FAISS recipe: even for a 10^11-
  * vector corpus, PQ codebooks train on ~10^5 sampled vectors (here the
  * whole fixture corpus, a few hundred KB). Distributed k-means buys
  * nothing for 16-centroid × 8-dim subproblems and costs ~90 Spark jobs
  * (8 fits × init + iterations); a seeded local loop is deterministic,
  * instant, and keeps the ENCODE and SEARCH paths pure codegen column
  * expressions over the codebook literal — no ML UDFs anywhere.
  *
  * This object is the ONE home of the quantization arithmetic, column
  * and driver side: squared distance ([[sqd]] / [[sqdist]]), the
  * first-index nearest-centroid argmin ([[nearestCol]], [[withNearest]]
  * / [[nearest]]) and its multi-probe depth ([[nearestCols]]), the
  * per-subspace encode fold, the query LUT fold
  * ([[lutsCol]] / [[luts]]), the ADC sum ([[adcCol]]) and the ADC rank
  * ([[adcTop]], [[adcKeep]]). PqKernelSpec pins column ≡ driver bit for
  * bit and fails if another file under src/main writes the fold or the
  * argmin out by hand.
  */
object Pq {

  /** Driver-side squared distance: [[sqd]]'s left-associated fold,
    * bit for bit. */
  def sqdist(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
    s
  }

  /** Index of `p`'s nearest centroid, the first on a tie — the driver
    * twin of [[nearestCol]]. */
  def nearest(p: Array[Double], centroids: Array[Array[Double]]): Int = {
    var best = 0
    var bd = Double.MaxValue
    var c = 0
    while (c < centroids.length) {
      val d = sqdist(p, centroids(c))
      if (d < bd) { bd = d; best = c }
      c += 1
    }
    best
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
        val best = nearest(p, centroids)
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

  /** Squared distance as the left-associated zip_with/aggregate fold —
    * the ONE definition of the arithmetic every DuckDB oracle replays
    * with explicit j-ordered sums. Its consumers, all through
    * [[dists]]: [[nearestCol]], [[nearestCols]] and [[withNearest]]
    * (IVF coarse routing in [[ivfPqEncode]], the stored layouts' cell
    * routing and entry pick in [[KnnGraph]], jq08's salary/experience
    * tiers), the per-subspace encode fold of [[pqEncode]] and
    * [[ivfPqEncode]], and [[lutsCol]] (the query LUTs of sq09, sq10,
    * sq17, sq24 and [[KnnGraph.serveFromStoresPq]]); directly,
    * sq04/sq10's probe distance and
    * [[graft.ml.FrozenJobKmeans.distCol]]. [[sqdist]] is its driver
    * twin (training, [[StoredIndex]]'s routing and LUTs). A fold-order
    * change here changes hashes everywhere, and PqKernelSpec pins
    * column ≡ driver. */
  private[graft] def sqd(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)), lit(0.0), _ + _)

  /** `v`'s squared distance to every centroid, as one array column. */
  private def dists(v: Column, centroids: Seq[Seq[Double]]): Column =
    transform(typedlit(centroids), c => sqd(v, c))

  /** First-index argmin of a distance array: array_position finds the
    * FIRST element equal to the minimum — the oracle's (d ASC, index
    * ASC) rank, and [[nearest]]'s strict `<`. Null when every element
    * is null. [[graft.ml.FrozenJobKmeans.clusterCol]] reads it directly. */
  private[graft] def argmin(d: Column): Column =
    (array_position(d, array_min(d)) - 1).cast("int")

  /** Nearest-centroid index of `v` as one expression. Both argmin reads
    * rebuild the distance array; [[withNearest]] builds it once. */
  def nearestCol(v: Column, centroids: Seq[Seq[Double]]): Column =
    argmin(dists(v, centroids))

  /** IVF-style multi-probe routing: the indices (into `centroids`) of
    * `v`'s `probes` nearest centroids, ascending by (distance, index) —
    * at `probes` = 1 exactly [[nearestCol]]'s pick, from the same one
    * distance array sliced deeper. */
  def nearestCols(v: Column, centroids: Seq[Seq[Double]], probes: Int): Column = {
    // zip each distance with its index, sort the struct array (distance
    // first), take the top-P indices
    val idx = transform(dists(v, centroids), (d, i) => struct(d.as("d"), i.as("i")))
    slice(transform(array_sort(idx), s => s.getField("i")), 1,
      math.min(probes, centroids.length))
  }

  /** `df` plus column `out`, [[nearestCol]] of `v` (and with `dist` set,
    * that nearest distance). The distance array materializes ONCE in
    * its own projection: inlining it into both argmin reads would double
    * the centroids×dim arithmetic per row. */
  private[graft] def withNearest(df: DataFrame, v: Column,
      centroids: Seq[Seq[Double]], out: String,
      dist: Option[String] = None): DataFrame = {
    val d = s"${out}_dists"
    val idx = df.withColumn(d, dists(v, centroids)).withColumn(out, argmin(col(d)))
    dist.fold(idx)(n => idx.withColumn(n, array_min(col(d)))).drop(d)
  }

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
    * `mi`-th subspace slice to every codebook entry. The encode fold
    * runs it per subspace; [[lutsCol]] stacks it per query. */
  private def lutCol(v: Column, cb: Seq[Seq[Seq[Double]]], sub: Int, mi: Int): Column =
    dists(slice(v, mi * sub + 1, sub), cb(mi))

  /** A query's LUTs as ONE array<array<double>> column, entry `mi` being
    * [[lutCol]] of subspace `mi` — the one LUT representation every ADC
    * path reads ([[adcCol]]), built here or driver-side by [[luts]]. */
  def lutsCol(v: Column, cb: Seq[Seq[Seq[Double]]], sub: Int): Column =
    array(cb.indices.map(lutCol(v, cb, sub, _)): _*)

  /** Driver twin of [[lutsCol]], for LUTs built on the coordinator. */
  def luts(v: Array[Double], cb: Seq[Seq[Seq[Double]]],
      sub: Int): Seq[Seq[Double]] =
    cb.indices.map { mi =>
      val s = v.slice(mi * sub, (mi + 1) * sub)
      cb(mi).map(e => sqdist(s, e.toArray))
    }

  /** The per-subspace encode fold: `c0..c{M-1}`, the index of each
    * `sub`-dim slice of `v`'s nearest `cb` entry, first index on a tie. */
  private def encode(df: DataFrame, v: Column, cb: Seq[Seq[Seq[Double]]],
      sub: Int): DataFrame =
    cb.indices.foldLeft(df)((acc, mi) =>
      withNearest(acc, slice(v, mi * sub + 1, sub), cb(mi), s"c$mi"))

  /** The ADC distance Σ_m luts[m][c_m] of a row carrying a [[lutsCol]]
    * column and the codes `c0..c{m-1}`, summed left to right. */
  def adcCol(luts: Column, m: Int): Column =
    (0 until m).map(mi =>
      element_at(element_at(luts, mi + 1), col(s"c$mi") + 1)).reduce(_ + _)

  /** The ADC rank: each `qid`'s `depth` best rows of `pairs` (which
    * carry `luts` and the candidate's `m` codes) by (ADC distance ASC,
    * `id` ASC), numbered `rn`, the distance kept as `adc`. */
  def adcTop(pairs: DataFrame, m: Int, id: String, depth: Int): DataFrame =
    pairs.withColumn("adc", adcCol(col("luts"), m))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("adc").asc, col(id))))
      .filter(col("rn") <= depth)

  /** The graph walk's ADC keep (sq24's beam and
    * [[KnnGraph.serveFromStoresPq]]): each query's `keep` best
    * candidates of `cand` (qid, node, …) by [[adcTop]] over its query's
    * `qluts` (qid, luts) and the node's `codes` (node, c0..). Returns
    * cand's columns unchanged, plus `rn`. */
  def adcKeep(cand: DataFrame, qluts: DataFrame, codes: DataFrame, m: Int,
      keep: Int): DataFrame =
    adcTop(cand.join(broadcast(qluts), Seq("qid")).join(codes, Seq("node")),
      m, "node", keep).select((cand.columns :+ "rn").map(col): _*)

  /** Flat-PQ encode (no coarse stage): `vec_id` + one 4-bit code per
    * subspace as columns `c0..c{M-1}`, first-index-wins like the
    * oracle's (pd ASC, ki) rank. The per-candidate working set of
    * PQ-guided serving. */
  def pqEncode(vecs: DataFrame, cb: Seq[Seq[Seq[Double]]], sub: Int): DataFrame =
    encode(vecs.select(col("vec_id"), col("v")), col("v"), cb, sub).drop("v")

  /** IVF-PQ encode as a pure COLUMN projection over frozen quantizers —
    * the shared arithmetic of the batch index build (sq10) and the
    * streaming incremental maintenance path: coarse-assign each vector
    * (`v`: array<double>) to its nearest `coarse` centroid → `list_id`,
    * subtract that centroid (residual), then per subspace emit the
    * nearest `cb` codebook entry index → `c0..c{M-1}`. Everything is
    * array built-ins over codebook literals, fully codegen, no UDFs —
    * and therefore stateless, so it runs unchanged on a stream. */
  def ivfPqEncode(vecs: DataFrame, coarse: Seq[Seq[Double]],
      cb: Seq[Seq[Seq[Double]]], sub: Int,
      rot: Option[Seq[Seq[Double]]] = None): DataFrame = {
    val rawRes = zip_with(col("v"), element_at(typedlit(coarse), col("list_id") + 1),
      (x, y) => x - y)
    // OPQ seam: rotate the residual BEFORE the subspace split — coarse
    // routing stays on raw vectors, so scan fraction is untouched
    val assigned = withNearest(vecs, col("v"), coarse, "list_id")
      .withColumn("res", rot.fold(rawRes)(r => rotateCol(rawRes, r)))
    encode(assigned, col("res"), cb, sub).drop("res")
  }
}
