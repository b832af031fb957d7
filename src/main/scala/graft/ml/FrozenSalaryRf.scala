package graft.ml

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The PUBLISHED salary-serving model (mq13): a trained random
  * forest's trees frozen as constants — jq08's frozen-centroid move
  * applied to the reference's model-serving path
  * (streamlit_app.py:556-640: load the persisted model → assemble the
  * 16 features → predict → clamp to the position tier's floor/ceiling
  * → IT bonus). At serving time a trained model's parameters ARE
  * published constants (the model registry holds them; the dashboard
  * only ever reads them), which is what makes the full inference
  * arithmetic replayable by the SQL oracle — the tree walks, the
  * forest average, the tier clamp, and the bonus are all exactly
  * specified IEEE ops, so mq13 is hash-checked end to end.
  *
  * Provenance: frozen by [[FreezeRf]] — RandomForestRegressor
  * (numTrees=3, maxDepth=3, seed=42), raw features (tree splits are
  * scale-invariant; no scaler stage), fit on the sf0.01 featurized
  * postings (12857 rows). Thresholds/leaves are Double.toString
  * round-trip literals, identical when re-parsed by Scala and DuckDB.
  *
  * The tree walk, the ensemble sum and the SQL literal rule are
  * [[TreeKernel]]'s; this object holds the model's data (trees, tiers)
  * and its composition: the forest average, the tier clamp and the IT
  * bonus. */
object FrozenSalaryRf {
  import TreeKernel._

  /** The model's feature signature — index i of every split's `f`
    * (train_random_forest.py:150-170's 16-feature shape). */
  val featureNames: Seq[String] = Seq("exp_final", "is_hcm", "is_hanoi",
    "is_danang", "is_it", "is_sales", "is_finance", "is_education",
    "is_engineering", "is_intern", "is_fresher", "is_junior", "is_staff",
    "is_senior", "is_team_lead", "is_manager")

  /** Frozen trees — the literals [[FreezeRf]] prints (fit on the
    * sf0.01 featurized postings, 12857 rows). */
  val trees: Seq[Node] = Seq(
    // tree 0
    S(15, 0.5, S(11, 0.5, S(10, 0.5, L(24.5711453408571), L(19.312146892655367)), S(7, 0.5, L(60.94918224299065), L(65.8029197080292))), S(7, 0.5, S(3, 0.5, L(23.412617839013777), L(28.36)), S(1, 0.5, L(24.166666666666668), L(27.705882352941178)))),
    // tree 1
    S(10, 0.5, S(13, 0.5, S(7, 0.5, L(33.37209637858895), L(35.26137052759248)), S(4, 0.5, L(25.064478311840563), L(22.799479166666668))), S(5, 0.5, S(2, 0.5, L(20.351078167115904), L(16.3)), L(18.1256038647343))),
    // tree 2
    S(14, 0.5, S(11, 0.5, S(10, 0.5, L(24.49570288520565), L(19.377072477498817)), S(7, 0.5, L(60.79210672595887), L(63.17928730512249))), S(8, 0.5, S(3, 0.5, L(23.15994623655914), L(25.444444444444443)), S(2, 0.5, L(26.27027027027027), L(24.0)))))

  /** The reference's per-position clamp tiers
    * (streamlit_app.py:620-629), keyed by the flag that selects the
    * tier; first set flag wins in seniority-ascending order, default
    * (5, 100) — the reference's fallback for an unrecognized level. */
  val tiers: Seq[(String, Double, Double)] = Seq(
    ("is_intern", 2.0, 5.0),
    ("is_fresher", 4.0, 10.0),
    ("is_junior", 7.0, 15.0),
    ("is_staff", 10.0, 25.0),
    ("is_senior", 18.0, 45.0),
    ("is_team_lead", 25.0, 60.0),
    ("is_manager", 35.0, 100.0))

  /** Raw forest prediction: the tree average, left-associated in tree
    * order — identical in both engines and bit-identical to spark.ml's
    * `predict`. `ts` defaults to the published forest; [[FreezeRf]]
    * passes the just-trained one. */
  def rawCol(feat: Int => Column, ts: Seq[Node] = trees): Column =
    sumCol(ts.map(treeCol(_, feat))) / lit(ts.length.toDouble)

  def rawSql(feat: Int => String, ts: Seq[Node] = trees): String =
    sumSql(ts.map(treeSql(_, feat))) + s" / ${ts.length}.0"

  private def tierCol(pick: ((String, Double, Double)) => Double,
      flag: String => Column, default: Double): Column =
    tiers.foldRight(lit(default)) { case (tier, els) =>
      when(flag(tier._1) === 1.0, lit(pick(tier))).otherwise(els)
    }

  private def tierSql(pick: ((String, Double, Double)) => Double,
      flag: String => String, default: Double): String = {
    val whens = tiers.map(t =>
      s"WHEN ${flag(t._1)} = 1.0 THEN ${pick(t)}").mkString(" ")
    s"CASE $whens ELSE $default END"
  }

  /** The full serving arithmetic (streamlit_app.py:629-636): clamp the
    * raw prediction into the position tier's [floor, ceiling], then
    * the IT bonus — ×1.2 capped at the ceiling, only while strictly
    * below it. */
  def predictionCol(feat: Int => Column, flag: String => Column): Column = {
    val raw = rawCol(feat)
    val fl = tierCol(_._2, flag, 5.0)
    val ce = tierCol(_._3, flag, 100.0)
    val clamped = greatest(fl, least(raw, ce))
    when(flag("is_it") === 1.0 && clamped < ce,
      least(clamped * lit(1.2), ce)).otherwise(clamped)
  }

  def predictionSql(feat: Int => String, flag: String => String): String = {
    val raw = rawSql(feat)
    val fl = tierSql(_._2, flag, 5.0)
    val ce = tierSql(_._3, flag, 100.0)
    // name the pieces once via scalar-subquery-free nesting: DuckDB
    // evaluates the CASEs inline exactly as Spark's codegen does
    s"""CASE WHEN ${flag("is_it")} = 1.0
       |  AND GREATEST($fl, LEAST($raw, $ce)) < $ce
       |THEN LEAST(GREATEST($fl, LEAST($raw, $ce)) * 1.2, $ce)
       |ELSE GREATEST($fl, LEAST($raw, $ce)) END""".stripMargin
  }
}
