package org.apache.spark

/** The listener bus is private to Spark. The traced run drains it after
  * every op, so that each event the listeners see is attributed to the
  * op that caused it before the next op starts. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
