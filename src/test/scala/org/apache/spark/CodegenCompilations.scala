package org.apache.spark

import org.apache.spark.metrics.source.CodegenMetrics

/** Test shim: how many classes Janino has compiled in this JVM so far.
  * Spark compiles only on a miss of its generated-code cache, so a
  * count that does not move means the code was reused. The metrics
  * source is private[spark]. */
object CodegenCompilations {
  def apply(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
}
