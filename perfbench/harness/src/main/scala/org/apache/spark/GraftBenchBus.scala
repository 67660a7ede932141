package org.apache.spark

/** Access to the listener bus drain, which is private to Spark: the
  * benchmark's trace recorder drains the bus at every span boundary so
  * each event is attributed to the span that caused it. */
object GraftBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
