package org.apache.spark

/** Test shim: block until every listener event posted so far has been
  * delivered, so a listener's counts are exact when a call returns.
  * The bus is private[spark]. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
