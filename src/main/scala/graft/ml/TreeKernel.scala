package graft.ml

import org.apache.spark.ml.tree.{ContinuousSplit, InternalNode, LeafNode}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The frozen-tree kernel behind [[FrozenSalaryRf]] (forest average)
  * and [[FrozenSkillGbt]] (boosting-weighted sum): the node ADT, one
  * tree as a nested `CASE` in both engines, the ensemble sum, and the
  * spark.ml side [[FreezeRf]] and [[FreezeGbt]] share — conversion,
  * literal renderer and the pre-publish replay gate. Every tree walk is
  * pure comparisons over constants and every sum is left-associated in
  * tree order, so a Spark column and its DuckDB twin compute the same
  * IEEE value, and both equal spark.ml's own `predict`
  * (TreeKernelPropertySpec).
  *
  * 100 TB: per-row projection — one codegen'd CASE nest per tree, no
  * shuffle, no model object in the hot path. */
object TreeKernel {

  sealed trait Node
  final case class L(v: Double) extends Node
  /** spark.ml ContinuousSplit semantics: feature(f) <= t → lo, else hi.
    * NaN compares greatest in Spark, DuckDB and spark.ml alike, so a NaN
    * feature goes to `hi` in all three. */
  final case class S(f: Int, t: Double, lo: Node, hi: Node) extends Node

  def treeCol(n: Node, feat: Int => Column): Column = n match {
    case L(v) => lit(v)
    case S(f, t, lo, hi) =>
      when(feat(f) <= lit(t), treeCol(lo, feat)).otherwise(treeCol(hi, feat))
  }

  /** SQL literals go through CAST('<Double.toString>' AS DOUBLE): a
    * bare numeric literal is typed DECIMAL by DuckDB and its
    * DECIMAL→DOUBLE conversion rounds differently than strtod (1 ulp
    * on e.g. 0.40346533333333323 — measured), while the string cast
    * takes the strtod path and round-trips bit-exactly. The oracle
    * check renders at 9 significant digits so a ulp never trips it, but
    * the replay's bit-identity claim should be true, not just
    * untestable. */
  def sqlD(v: Double): String = s"CAST('$v' AS DOUBLE)"

  def treeSql(n: Node, feat: Int => String): String = n match {
    case L(v) => sqlD(v)
    case S(f, t, lo, hi) =>
      s"CASE WHEN ${feat(f)} <= ${sqlD(t)} THEN ${treeSql(lo, feat)} " +
        s"ELSE ${treeSql(hi, feat)} END"
  }

  /** The ensemble sum, left-associated in tree order — spark.ml's
    * sequential sum, spelled the same in both engines. */
  def sumCol(terms: Seq[Column]): Column = terms.reduce(_ + _)

  def sumSql(terms: Seq[String]): String = terms.mkString("(", " + ", ")")

  /** spark.ml node → frozen node. */
  def fromSpark(n: org.apache.spark.ml.tree.Node): Node = n match {
    case l: LeafNode => L(l.prediction)
    case i: InternalNode => i.split match {
      case c: ContinuousSplit =>
        S(c.featureIndex, c.threshold, fromSpark(i.leftChild), fromSpark(i.rightChild))
      case other => throw new IllegalStateException(
        s"unexpected split type ${other.getClass} — every frozen feature is continuous")
    }
  }

  /** The Scala literal of a frozen tree, as pasted into the frozen
    * models: Double.toString round-trips, so the literal re-parses to
    * the trained tree's exact thresholds and leaves. */
  def render(n: Node): String = n match {
    case L(v) => s"L($v)"
    case S(f, t, lo, hi) => s"S($f, $t, ${render(lo)}, ${render(hi)})"
  }

  /** The pre-publish gate of [[FreezeRf]] and [[FreezeGbt]]: `replay`
    * (the serving arithmetic over the just-trained trees) against
    * `model.transform`'s `prediction` on every row of `transformed`.
    * `relTol` 0 demands equality on every row; otherwise the max
    * relative difference must stay below it. Prints that difference as
    * a comment line of the frozen literal. */
  def replayGate(transformed: DataFrame, replay: Column, relTol: Double): Unit = {
    val maxRel = transformed.agg(max(abs(replay - col("prediction")) /
      greatest(abs(col("prediction")), lit(1e-300)))).head().getDouble(0)
    println(s"// replay vs model.transform: max relative diff $maxRel")
    require(maxRel == 0.0 || maxRel < relTol,
      s"replay diverged from model.transform: max relative diff $maxRel")
  }
}
