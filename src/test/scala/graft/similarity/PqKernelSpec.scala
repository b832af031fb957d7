package graft.similarity

import graft.TestSpark
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** [[Pq]] is the one home of the quantization arithmetic. Its column
  * kernels — the encode folds ([[Pq.pqEncode]], [[Pq.ivfPqEncode]]),
  * the query LUTs ([[Pq.lutsCol]]) and the ADC sum ([[Pq.adcCol]]) —
  * must equal a driver replay bit for bit: [[Pq.sqdist]] distances, the
  * FIRST index among equal minima, and the ADC terms summed left to
  * right. Generated codebooks carry duplicate and tied entries and ±0.0
  * components, the inputs where an argmin or a fold order shows. A
  * source check keeps every other file from writing the fold (over
  * identifiers or calls), the argmin, a per-index `<=` argmin cascade
  * or a per-centroid distance array out by hand. */
class PqKernelSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val Sub = 3

  private case class Case(m: Int, cb: Seq[Seq[Seq[Double]]],
      coarse: Seq[Seq[Double]], vecs: Seq[Array[Double]])

  private val component = Gen.oneOf(Gen.oneOf(0.0, -0.0, 1.0, -1.0, 0.5),
    Gen.choose(-2.0, 2.0))

  private def vec(dim: Int) = Gen.listOfN(dim, component).map(_.toArray)

  /** `k` entries where a duplicate of an earlier entry and an entry
    * mirrored through the origin (tied for every vector symmetric to
    * them) are likely. */
  private def entries(k: Int, dim: Int): Gen[Seq[Seq[Double]]] =
    Gen.listOfN(k, vec(dim)).flatMap { es =>
      Gen.listOfN(k, Gen.choose(0, 2)).map(_.zipWithIndex.map {
        case (1, i) if i > 0 => es(i - 1).toSeq
        case (2, i) if i > 0 => es(i - 1).map(-_).toSeq
        case (_, i) => es(i).toSeq
      })
    }

  private val cases: Gen[Case] = for {
    m <- Gen.choose(1, 3)
    k <- Gen.choose(2, 6)
    cb <- Gen.listOfN(m, entries(k, Sub))
    coarse <- entries(3, m * Sub)
    n <- Gen.choose(1, 8)
    vs <- Gen.listOfN(n, vec(m * Sub))
    // vectors equal to a codebook entry or a coarse centroid tie exactly
    dup <- Gen.oneOf(cb.head.head, cb.head.last)
  } yield Case(m, cb, coarse, vs :+ (dup ++ Seq.fill((m - 1) * Sub)(0.0)).toArray :+
    coarse.head.toArray)

  /** The driver replay: squared distances by [[Pq.sqdist]], the first
    * index among equal minima. */
  private def argmin(v: Array[Double], cents: Seq[Seq[Double]]): Int = {
    val ds = cents.map(c => Pq.sqdist(v, c.toArray))
    ds.indices.foldLeft(0)((b, i) => if (ds(i) < ds(b)) i else b)
  }

  private def codesOf(v: Array[Double], cb: Seq[Seq[Seq[Double]]]): Seq[Int] =
    cb.indices.map(mi => argmin(v.slice(mi * Sub, (mi + 1) * Sub), cb(mi)))

  private def bits(ds: Seq[Double]) = ds.map(java.lang.Double.doubleToRawLongBits)

  private def check(prop: Prop): Unit = {
    val res = org.scalacheck.Test.check(org.scalacheck.Test.Parameters.default
      .withMinSuccessfulTests(12)
      .withInitialSeed(org.scalacheck.rng.Seed(9100L)), prop)
    assert(res.passed, res.status.toString)
  }

  test("property: codes, LUTs and ADC sums equal the driver replay bit for bit") {
    import spark.implicits._
    check(Prop.forAllNoShrink(cases) { c =>
      val rows = c.vecs.zipWithIndex.map { case (v, i) => (i.toLong, v.toSeq) }
      val df = rows.toDF("vec_id", "v")
      val codes = Pq.pqEncode(df, c.cb, Sub).collect().map(r =>
        r.getLong(0) -> (1 to c.m).map(r.getInt)).toMap
      val wantCodes = rows.map { case (id, v) => id -> codesOf(v.toArray, c.cb) }.toMap
      val ivf = Pq.ivfPqEncode(df, c.coarse, c.cb, Sub)
        .select(($"vec_id" +: $"list_id" +: (0 until c.m).map(mi => col(s"c$mi"))): _*)
        .collect().map(r => r.getLong(0) -> (0 to c.m).map(i => r.getInt(i + 1))).toMap
      val wantIvf = rows.map { case (id, v) =>
        val list = argmin(v.toArray, c.coarse)
        val res = v.toArray.zip(c.coarse(list)).map { case (x, y) => x - y }
        id -> (list +: codesOf(res, c.cb))
      }.toMap
      val luts = df.select($"vec_id", Pq.lutsCol($"v", c.cb, Sub).as("luts"))
        .as[(Long, Seq[Seq[Double]])].collect().toMap
      val lutsOk = rows.forall { case (id, v) =>
        luts(id).map(bits) == Pq.luts(v.toArray, c.cb, Sub).map(bits) }
      // each query's LUTs against every row's codes
      val adc = df.select($"vec_id".as("qid"), Pq.lutsCol($"v", c.cb, Sub).as("luts"))
        .crossJoin(Pq.pqEncode(df, c.cb, Sub))
        .select($"qid", $"vec_id", Pq.adcCol($"luts", c.m).as("adc"))
        .as[(Long, Long, Double)].collect()
      val vecOf = rows.toMap
      val adcOk = adc.forall { case (q, id, got) =>
        val qLuts = Pq.luts(vecOf(q).toArray, c.cb, Sub)
        val want = wantCodes(id).zipWithIndex
          .map { case (code, mi) => qLuts(mi)(code) }.reduce(_ + _)
        java.lang.Double.doubleToRawLongBits(got) ==
          java.lang.Double.doubleToRawLongBits(want)
      }
      Prop(codes == wantCodes) :| s"pqEncode $codes != replay $wantCodes" &&
        Prop(ivf == wantIvf) :| s"ivfPqEncode $ivf != replay $wantIvf" &&
        Prop(lutsOk) :| "lutsCol != Pq.luts" &&
        Prop(adc.length == rows.length * rows.length && adcOk) :| "ADC sum != replay"
    })
  }

  test("property: StoredIndex.luts equals lutsCol on the same residual") {
    import spark.implicits._
    check(Prop.forAllNoShrink(cases, Gen.choose(0, 2)) { (c, list) =>
      val rot = Pq.trainOpqRotation(c.vecs.toIndexedSeq, c.m, Sub)
      c.vecs.forall { qv =>
        val res = qv.zip(c.coarse(list)).map { case (x, y) => x - y }
        val viaCol = Seq(Tuple1(Pq.rotateVec(res, rot).toSeq)).toDF("r")
          .select(Pq.lutsCol($"r", c.cb, Sub)).as[Seq[Seq[Double]]].head()
        val driver = StoredIndex.luts(qv, list, c.coarse, c.cb, Sub, Some(rot))
        viaCol.map(bits) == driver.map(bits)
      }
    })
  }

  /** An operand of a hand-written fold: an identifier, optionally
    * called, `sf(i)` or `lit(centroids(c)(i))`. Dotted SQL names
    * (`el.xq`) and `${…}` interpolations do not match, so the oracles'
    * SQL folds stay allowed, and neither do `$"col"` element columns
    * summed by a grouped aggregate (sq04b's long-format integer Lloyd
    * rounds), which hold no array to fold. */
  private val operand = "\\w+(?:\\((?:[^()]|\\([^()]*\\))*\\))*"
  private val fold = s"\\(\\s*($operand)\\s*-\\s*($operand)\\s*\\)\\s*\\*\\s*\\(\\s*\\1\\s*-\\s*\\2\\s*\\)".r
  private val argminRe = "(?s)array_position\\s*\\(.{0,80}?array_min\\s*\\(".r
  /** A per-index `<=` argmin cascade: `when(… d(c) <= d(j) …)`. */
  private val cascadeRe = "(?s)when\\s*\\(.{0,120}?\\b(\\w+)\\((\\w+)\\)\\s*<=\\s*\\1\\(\\w+\\)".r
  // a per-centroid distance array: transform over a literal whose
  // lambda calls sqd (Pq.dists is its one home)
  private val distsRe = "(?s)transform\\s*\\(\\s*typedlit\\s*\\(.{0,80}?sqd\\s*\\(".r

  private def handWritten(src: String): Boolean =
    Seq(fold, argminRe, cascadeRe, distsRe).exists(_.findFirstIn(src).isDefined)

  test("the source patterns flag hand-written copies and pass the oracles' forms") {
    val copies = Seq(
      // a k-means distance over call operands and its comparison cascade
      "(sf(i) - lit(centroids(c)(i))) * (sf(i) - lit(centroids(c)(i)))",
      "when((c + 1 until k).map(j => d(c) <= d(j)).reduce(_ && _), lit(c))",
      "aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)), lit(0.0), _ + _)",
      "(array_position(d, array_min(d)) - 1)",
      "transform(typedlit(centroids), c => sqd(v, c))")
    copies.foreach(c => assert(handWritten(c), s"not flagged: $c"))
    val allowed = Seq(
      "s\"(${sf(i)} - ${centroids(c)(i)}) * (${sf(i)} - ${centroids(c)(i)})\"",
      "s\"WHEN ${(i + 1 until d.length).map(j => s\"${d(i)} <= ${d(j)}\")}\"",
      "SUM((el.xq - c.c) * (el.xq - c.c)) AS dist",
      """sum(($"xq" - $"c") * ($"xq" - $"c")).as("dist")""")
    allowed.foreach(c => assert(!handWritten(c), s"flagged: $c"))
  }

  test("the fold and the argmin are written only in Pq.scala") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the project root (cwd ${Paths.get("").toAbsolutePath})")
    val copies = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .map(p => root.relativize(p).toString -> Files.readString(p))
      .filter { case (name, src) => name != "graft/similarity/Pq.scala" && handWritten(src) }
      .map(_._1).toSeq
    assert(copies.isEmpty, s"quantization arithmetic copied outside Pq.scala: $copies")
  }
}
