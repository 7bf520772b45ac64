package perfbench

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.WholeStageCodegenExec

/** What the traced run saw during one operation. */
final case class Obs(kind: String, name: String, spanId: Int, start: Double,
                     end: Double, jobs: Seq[JobRec], sqlExecutions: Long,
                     planningNs: Long, compileNs: Long, wscgNs: Long) {
  def seconds: Double = (end - start) / 1e3
  def jobBusyMs: Double = Span.covered(jobs.map(j => (j.start, j.end)), start, end)
}

/** One operation's outcome: its result or what it threw, its time, and
  * the epoch-ms interval it ran in.
  */
final case class Timed[T](result: Either[Throwable, T], seconds: Double,
                          start: Double, end: Double)

/** The closed-loop client: one operation at a time, each started after the
  * previous returned. It counts every attempt; an operation that threw or
  * failed its correctness check counts as failed and yields no timing
  * sample. With `counters`, it waits for Spark's listener events around
  * every operation, outside the timed interval, and keeps an [[Obs]].
  */
final class Client(spark: SparkSession, val tracer: Tracer,
                   counters: Option[SparkCounters]) {
  var attempted = 0L
  var failed = 0L
  val problems: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty
  val observed: mutable.ArrayBuffer[Obs] = mutable.ArrayBuffer.empty

  private def settle(): Seq[JobRec] = counters match {
    case Some(c) => PerfbenchBus.drain(spark.sparkContext); c.takeJobs()
    case None => Nil
  }

  private def cumulative: Array[Long] = counters match {
    case Some(c) => Array(c.sqlExecutions.get, c.planningNs.get,
                          CodeGenerator.compileTime, WholeStageCodegenExec.codeGenTime)
    case None => Array(0L, 0L, 0L, 0L)
  }

  /** Run `body` as one timed operation. */
  def timed[T](kind: String, name: String)(body: => T): Timed[T] = {
    settle()
    val before = cumulative
    val s0 = Span.now
    val t0 = System.nanoTime()
    val r = try Right(tracer.span(kind, name)(body)) catch { case NonFatal(e) => Left(e) }
    val dt = (System.nanoTime() - t0) / 1e9
    val s1 = Span.now
    if (counters.isDefined) {
      val jobs = settle()
      val d = cumulative.zip(before).map { case (a, b) => a - b }
      val id = tracer.lastClosed
      jobs.foreach(j => tracer.add(id, "job", s"job ${j.id} ${j.site}", j.start, j.end))
      observed += Obs(kind, name, id, s0, s1, jobs, d(0), d(1), d(2), d(3))
    }
    Timed(r, dt, s0, s1)
  }

  /** Count an operation and return its timing sample, if it succeeded and
    * `check` (run outside the timed interval) finds no problem.
    */
  def record[T](t: Timed[T], name: String)(check: T => Seq[String]): Option[Double] = {
    attempted += 1
    val found = t.result match {
      case Left(e) => Seq(s"$name threw ${e.getClass.getName}: ${e.getMessage}")
      case Right(v) =>
        try check(v) catch { case NonFatal(e) => Seq(s"$name check threw $e") }
    }
    if (found.isEmpty) Some(t.seconds)
    else { failed += 1; problems ++= found.map(_.take(400)); None }
  }
}
