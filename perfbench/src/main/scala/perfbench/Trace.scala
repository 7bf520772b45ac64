package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** A timed interval: a workload, an operation, a call into a layer, a
  * fetch or a Spark job. Times are epoch milliseconds.
  */
final case class Span(id: Int, parent: Int, kind: String, name: String,
                      start: Double, end: Double) {
  def dur: Double = end - start
}

object Span {
  private val nanoOrigin = System.nanoTime()
  private val epochOrigin = System.currentTimeMillis().toDouble

  /** Epoch ms on the monotonic clock. */
  def now: Double = epochOrigin + (System.nanoTime() - nanoOrigin) / 1e6

  /** Total length of the union of intervals, clipped to [lo, hi]. */
  def covered(xs: Iterable[(Double, Double)], lo: Double, hi: Double): Double = {
    var total = 0.0
    var reach = lo
    xs.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.toSeq.sortBy(_._1)
      .foreach { case (a, b) =>
        if (b > reach) { total += b - math.max(a, reach); reach = b }
      }
    total
  }
}

/** In-memory span recorder. Disabled, it only runs the bodies. The open
  * span ids form a stack on the client thread; `current` is visible to
  * executor threads so a fetch inside a task finds its operation.
  */
final class Tracer(val enabled: Boolean) {
  private val ids = new AtomicInteger(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val stack = mutable.Stack[Int](0)
  @volatile var current: Int = 0
  /** Id of the span that closed last. */
  var lastClosed: Int = 0

  def span[T](kind: String, name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parent = stack.top
      stack.push(id); current = id
      val t0 = Span.now
      try body
      finally {
        spans.add(Span(id, parent, kind, name, t0, Span.now))
        stack.pop(); current = stack.top; lastClosed = id
      }
    }

  /** Record an interval that was timed elsewhere. */
  def add(parent: Int, kind: String, name: String, start: Double, end: Double): Unit =
    if (enabled) spans.add(Span(ids.incrementAndGet(), parent, kind, name, start, end))

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.start)

  /** A span's duration minus the part of it its children cover. */
  def selfTime(s: Span, all: Seq[Span]): Double =
    s.dur - Span.covered(all.filter(_.parent == s.id).map(c => (c.start, c.end)), s.start, s.end)

  /** Writes every span, with its self time, as a JSON array. */
  def write(path: java.nio.file.Path): Unit = {
    val spans = all
    val lines = spans.map { s =>
      f"""{"id":${s.id},"parent":${s.parent},"kind":${Json.str(s.kind)},"name":${Json.str(s.name)},""" +
        f""""start_ms":${s.start}%.3f,"end_ms":${s.end}%.3f,"self_ms":${selfTime(s, spans)}%.3f}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.mkString("[\n", ",\n", "\n]\n").getBytes("UTF-8"))
  }
}

/** One finished Spark job with its tasks' metrics summed. */
final case class JobRec(id: Int, start: Double, end: Double, site: String,
                        stages: Int, tasks: Long, failures: Long, runMs: Long,
                        cpuNs: Long, gcMs: Long, shuffleBytes: Long,
                        fetchWaitMs: Long, inputBytes: Long, outputBytes: Long,
                        spillBytes: Long)

/** The benchmark's own Spark listener. Jobs are attributed to the source
  * file and action that started them through the SQL execution they
  * belong to: jobs run by AQE or broadcast threads carry a
  * `CompletableFuture` call site, while the execution's root keeps the
  * caller's frame.
  */
final class SparkCounters extends SparkListener with QueryExecutionListener {
  private final class Open(val id: Int, val start: Double, val site: String,
                           val stages: Int) {
    val m = Array.fill(10)(0L)
  }
  private val open = mutable.HashMap.empty[Int, Open]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val execSite = mutable.HashMap.empty[Long, (Long, String)]
  private val finished = new ConcurrentLinkedQueue[JobRec]()
  val sqlExecutions = new AtomicLong
  val planningNs = new AtomicLong

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      execSite(s.executionId) = (s.rootExecutionId.getOrElse(s.executionId), s.description)
    }
    case _ =>
  }

  /** The root SQL execution's call site, else the job's own (the name of
    * its final stage).
    */
  private def siteOf(e: SparkListenerJobStart): String = synchronized {
    val exec = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .map(_.toLong)
    val fromExec = exec.flatMap(execSite.get).map { case (root, d) =>
      execSite.get(root).map(_._2).getOrElse(d) }
    SparkCounters.site(fromExec.getOrElse(
      e.stageInfos.sortBy(_.stageId).lastOption.map(_.name).getOrElse("")))
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val site = siteOf(e)
    synchronized {
      open(e.jobId) = new Open(e.jobId, e.time.toDouble, site, e.stageIds.size)
      e.stageIds.foreach(stageJob(_) = e.jobId)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageJob.get(e.stageId).flatMap(open.get).foreach { j =>
      val m = j.m
      m(0) += 1
      if (e.reason != org.apache.spark.Success) m(1) += 1
      val t = e.taskMetrics
      if (t != null) {
        m(2) += t.executorRunTime
        m(3) += t.executorCpuTime
        m(4) += t.jvmGCTime
        m(5) += t.shuffleReadMetrics.totalBytesRead + t.shuffleWriteMetrics.bytesWritten
        m(6) += t.shuffleReadMetrics.fetchWaitTime
        m(7) += t.inputMetrics.bytesRead
        m(8) += t.outputMetrics.bytesWritten
        m(9) += t.memoryBytesSpilled + t.diskBytesSpilled
      }
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    open.remove(e.jobId).foreach { j =>
      val m = j.m
      finished.add(JobRec(j.id, j.start, e.time.toDouble, j.site, j.stages,
        m(0), m(1), m(2), m(3), m(4), m(5), m(6), m(7), m(8), m(9)))
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    sqlExecutions.incrementAndGet()
    planningNs.addAndGet(qe.tracker.phases.values.map(_.durationMs).sum * 1000000L)
  }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    sqlExecutions.incrementAndGet()

  /** Jobs finished since the last call, oldest first. */
  def takeJobs(): Seq[JobRec] = {
    val b = Seq.newBuilder[JobRec]
    var j = finished.poll()
    while (j != null) { b += j; j = finished.poll() }
    b.result().sortBy(_.start)
  }
}

object SparkCounters {
  private val Site = """(\S+) at (\w+)\.(?:scala|java):\d+""".r

  /** `collect at IngestJob.scala:62` becomes `IngestJob.collect`. */
  def site(callSite: String): String = callSite match {
    case Site(action, file) => s"$file.$action"
    case other if other.contains("CompletableFuture") => "CompletableFuture"
    case _ => "other"
  }

  def install(spark: SparkSession): SparkCounters = {
    val c = new SparkCounters
    spark.sparkContext.addSparkListener(c)
    spark.listenerManager.register(c)
    c
  }
}
