package org.apache.spark

/** Lets the benchmark wait for the listener bus to deliver every queued
  * event, so task metrics are attributed to the span that ran the tasks.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
