package graft

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** One shared local SparkSession for the whole test run (sessions are
  * expensive; ScalaTest suites run sequentially in the forked JVM). */
object TestSpark {
  lazy val spark: SparkSession = Sessions.local("graft-test", 4)

  /** `body`'s result and the Spark jobs started while it ran, counted
    * after the listener bus has delivered every event. */
  def jobsOf[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val n = new java.util.concurrent.atomic.AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    ListenerBusDrain(sc)
    sc.addSparkListener(l)
    try {
      val r = body
      ListenerBusDrain(sc)
      (r, n.get)
    } finally sc.removeSparkListener(l)
  }
}
