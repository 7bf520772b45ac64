package org.apache.spark

/** Lets the benchmark wait until every listener event posted so far has
  * been delivered, so that counters read after an operation belong to it.
  * `LiveListenerBus.waitUntilEmpty` is package-private to Spark.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
