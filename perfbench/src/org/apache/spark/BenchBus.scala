package org.apache.spark

/** Waits until every listener event posted so far has been delivered,
  * so counters read after an op include all of that op's events. The
  * bus is package-private to Spark, hence this one-line shim. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
