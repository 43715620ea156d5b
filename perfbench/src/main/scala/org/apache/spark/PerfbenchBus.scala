package org.apache.spark

/** The listener bus is internal to Spark; the benchmark only needs to
  * wait until its listener has seen every event posted so far. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(120000L)
}
