package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session base for all graft specs (one JVM-wide session). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  val sf: String = "/root/testdata/sf0.001"

  /** Run `body` with a [[QueryExecutionListener]] capturing EVERY
    * executed plan it triggers, and hand the captured plan strings to
    * `check`. This is the assertion harness for operators with
    * driver-side actions inside (counted broadcast gates, collected
    * offsets, iterative fits): their interesting exchanges/joins never
    * appear in the RESULT's `finalPlan`, only in the intermediate
    * executions. Listener callbacks are async: the listener bus is
    * drained before the listener is registered (so no earlier action's
    * plan leaks in) and after `body` (so every plan `body` executed is
    * in), which makes the capture exact.
    */
  def withCapturedPlans[A](body: => A)(check: List[String] => Unit): A = {
    import scala.collection.mutable
    import org.apache.spark.GraftBus
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    val captured = mutable.Buffer.empty[String]
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
                             durationNs: Long): Unit =
        captured.synchronized { captured += qe.executedPlan.toString }
      override def onFailure(funcName: String, qe: QueryExecution,
                             exception: Exception): Unit = ()
    }
    GraftBus.drain(spark.sparkContext)
    spark.listenerManager.register(listener)
    try {
      val result = body
      GraftBus.drain(spark.sparkContext)
      val plans = captured.synchronized(captured.toList)
      assert(plans.nonEmpty, "listener captured no executed plans")
      check(plans)
      result
    } finally spark.listenerManager.unregister(listener)
  }
}

object SparkSpec {
  lazy val session: SparkSession = GraftSession.local("graft-test", Some(4))
}
