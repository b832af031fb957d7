package graft

import org.apache.spark.sql.execution.ExplainMode

/** Plan-audit main: prints the formatted physical plan of selected
  * queries (SPARK_GRAFT_ONLY prefix filter) against a given SF dir.
  * Used to eyeball PushedFilters / ReadSchema / broadcast choices /
  * WholeStageCodegen spans; PlanSpec asserts the critical properties.
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = Sessions.local("graft-plan-audit", cpus)
    SparkEntry.selected(sys.env.get("SPARK_GRAFT_ONLY")).foreach { case (name, fn) =>
      println(s"\n========== $name ==========")
      println(fn(spark, sfDir).queryExecution
        .explainString(ExplainMode.fromString("formatted")))
    }
    spark.stop()
  }
}
