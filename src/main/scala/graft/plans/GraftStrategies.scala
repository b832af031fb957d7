package graft.plans

import org.apache.spark.sql.{DataFrame, GraftBridge}
import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy}

/** Planner strategy turning graft logical nodes into physical operators.
  * Injected through GraftExtensions, which every [[graft.Sessions]]
  * session carries. */
object GraftStrategies extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case p: AsOfJoinPlan =>
      AsOfJoinExec(planLater(p.left), planLater(p.right),
        p.leftKey, p.rightKey, p.leftTime, p.rightTime,
        p.payload, p.payloadOut) :: Nil
    case _ => Nil
  }
}

/** DataFrame-level entry point for the physical as-of join. Same contract
  * as graft.operators.AsOfJoin.joinAsOf (payload emitted as `asof_<name>`,
  * inclusive time match, right unique per (key, time)); OperatorsSpec
  * proves the two row-identical, eq01b proves it against DuckDB's native
  * ASOF JOIN. */
object AsOfJoinPhysical {

  def joinAsOf(left: DataFrame, right: DataFrame, key: String,
      leftTime: String, rightTime: String,
      rightPayload: Seq[String]): DataFrame = {
    val spark = left.sparkSession
    val lPlan = GraftBridge.analyzedPlan(left)
    // Re-key the right side with fresh exprIds: left and right often share
    // a lineage (e.g. two filters of the same events frame), and a custom
    // node gets no DeduplicateRelations help from the analyzer — without
    // this the optimizer can't tell which side an attribute reads from and
    // misprunes the children.
    val rPlan0 = GraftBridge.analyzedPlan(right)
    val rAliases = rPlan0.output.map(a => Alias(a, a.name)())
    val rPlan = Project(rAliases, rPlan0)
    val rAttrs = rAliases.map(_.toAttribute)
    def lAttr(n: String) = lPlan.output.find(_.name == n)
      .getOrElse(throw new IllegalArgumentException(
        s"column $n not found in ${lPlan.output.map(_.name).mkString(", ")}"))
    def rAttr(n: String) = rAttrs.find(_.name == n)
      .getOrElse(throw new IllegalArgumentException(
        s"column $n not found in ${rAttrs.map(_.name).mkString(", ")}"))
    val payload = rightPayload.map(rAttr)
    val payloadOut = payload.map(a =>
      AttributeReference(s"asof_${a.name}", a.dataType, nullable = true)())
    GraftBridge.ofRows(spark,
      AsOfJoinPlan(lPlan, rPlan,
        lAttr(key), rAttr(key),
        lAttr(leftTime), rAttr(rightTime),
        payload, payloadOut))
  }
}
