package org.apache.spark

/** Waits until every event posted so far has reached the registered
  * listeners, so a traced run reads complete counters. The listener bus is
  * package-private to Spark, hence this file's package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
