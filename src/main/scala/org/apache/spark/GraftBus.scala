package org.apache.spark

/** The one exact wait for Spark's asynchronous listener bus: returns once
  * every event posted so far has been delivered to every listener, so a
  * counter read after an action belongs to that action. The SQL
  * `ExecutionListenerBus` sits on the same shared queue, so this also
  * covers `QueryExecutionListener` callbacks. `LiveListenerBus.
  * waitUntilEmpty` is package-private to Spark.
  */
object GraftBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
