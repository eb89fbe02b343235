package org.apache.spark

/** The listener bus drain is Spark-private; the traced run needs it so that
  * every task-end event has reached the span counters before they are read. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
