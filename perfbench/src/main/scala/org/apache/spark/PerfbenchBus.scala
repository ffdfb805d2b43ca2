package org.apache.spark

/** Waits until every listener has seen every event posted so far, so the
  * benchmark's SparkListener totals are complete when a job returns. The
  * bus is private to Spark; this file lives in Spark's package for that
  * one call.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
