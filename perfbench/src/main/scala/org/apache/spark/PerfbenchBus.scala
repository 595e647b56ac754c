package org.apache.spark

/** The driver's listener bus is private to Spark; the harness drains it so
 * that every task, stage and query event of a finished job has reached its
 * listeners before their counters are read. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
