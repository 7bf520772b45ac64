package graft.obs

import scala.collection.mutable

import org.apache.spark.{GraftBus, SparkContext, Success}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{GraftCodegenAudit, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** Wall time and number of the finished jobs that carried one job
  * description. */
final case class JobTime(ms: Long, jobs: Long)

/** What a [[Meter]] counted. `jobs` counts started jobs; `jobTime` groups
  * finished jobs by their `spark.job.description` (`<unlabeled>` when
  * none was set), timed by the scheduler's own start and end stamps.
  *
  * `compiles` and `compileMs` are the generated classes Janino compiled
  * and its compile time. They are JVM-wide, read from Spark's codegen
  * counters rather than from the listener bus: they hold compiles by any
  * session or thread of the JVM that ran at the same time, and classes
  * served from the compile cache are not compiles.
  */
final case class Counts(
    jobs: Long = 0L, tasks: Long = 0L, failedTasks: Long = 0L,
    shuffleWriteBytes: Long = 0L, shuffleReadBytes: Long = 0L,
    memorySpillBytes: Long = 0L, diskSpillBytes: Long = 0L,
    inputBytes: Long = 0L, jobTime: Map[String, JobTime] = Map.empty,
    compiles: Long = 0L, compileMs: Double = 0.0) {
  def shuffleBytes: Long = shuffleWriteBytes + shuffleReadBytes
  def spillBytes: Long = memorySpillBytes + diskSpillBytes

  def -(o: Counts): Counts = Counts(
    jobs - o.jobs, tasks - o.tasks, failedTasks - o.failedTasks,
    shuffleWriteBytes - o.shuffleWriteBytes,
    shuffleReadBytes - o.shuffleReadBytes,
    memorySpillBytes - o.memorySpillBytes,
    diskSpillBytes - o.diskSpillBytes, inputBytes - o.inputBytes,
    jobTime.iterator.map { case (d, t) =>
      val b = o.jobTime.getOrElse(d, JobTime(0L, 0L))
      d -> JobTime(t.ms - b.ms, t.jobs - b.jobs)
    }.filter(_._2.jobs != 0L).toMap,
    compiles - o.compiles, compileMs - o.compileMs)
}

/** The one metrics listener: cumulative job, task, shuffle, spill and
  * input counters for one SparkContext. Read it through [[Meter.during]],
  * which waits for the listener bus on both sides of the metered body, so
  * the difference holds every event the body's jobs posted and no other.
  */
final class Meter private () extends SparkListener {
  private var counts = Counts()
  private val started = mutable.Map.empty[Int, (String, Long)]

  /** The listener's counts plus the JVM's codegen counters. */
  private def snapshot: Counts = synchronized(counts).copy(
    compiles = GraftCodegenAudit.compiles,
    compileMs = CodeGenerator.compileTime / 1e6)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val desc = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.job.description")))
      .getOrElse("<unlabeled>")
    started(e.jobId) = (desc, e.time)
    counts = counts.copy(jobs = counts.jobs + 1)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    started.remove(e.jobId).foreach { case (desc, t0) =>
      val t = counts.jobTime.getOrElse(desc, JobTime(0L, 0L))
      counts = counts.copy(jobTime =
        counts.jobTime.updated(desc, JobTime(t.ms + e.time - t0, t.jobs + 1)))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = counts.copy(tasks = counts.tasks + 1,
      failedTasks = counts.failedTasks + (if (e.reason == Success) 0 else 1))
    val m = e.taskMetrics
    counts = if (m == null) c else c.copy(
      shuffleWriteBytes = c.shuffleWriteBytes + m.shuffleWriteMetrics.bytesWritten,
      shuffleReadBytes = c.shuffleReadBytes + m.shuffleReadMetrics.totalBytesRead,
      memorySpillBytes = c.memorySpillBytes + m.memoryBytesSpilled,
      diskSpillBytes = c.diskSpillBytes + m.diskBytesSpilled,
      inputBytes = c.inputBytes + m.inputMetrics.bytesRead)
  }
}

object Meter {
  private val meters = new java.util.WeakHashMap[SparkContext, Meter]()

  /** The context's one Meter, added to its listener bus on first use. */
  private def of(sc: SparkContext): Meter = meters.synchronized {
    Option(meters.get(sc)).getOrElse {
      val m = new Meter
      sc.addSparkListener(m)
      meters.put(sc, m)
      m
    }
  }

  /** Runs `body` and returns its result with what the session's Meter
    * counted while it ran: drains the listener bus, takes a snapshot,
    * runs `body`, drains again and returns the difference. The codegen
    * compiles are the JVM's, not only the session's (see [[Counts]]). */
  def during[A](spark: SparkSession)(body: => A): (A, Counts) = {
    val sc = spark.sparkContext
    val meter = of(sc)
    GraftBus.drain(sc)
    val before = meter.snapshot
    val result = body
    GraftBus.drain(sc)
    (result, meter.snapshot - before)
  }
}

/** The persisted RDDs [[Blocks.release]] let go and the memory and disk
  * bytes they held cached. */
final case class Released(rdds: Int, bytes: Long)

object Blocks {

  /** Unpersists every RDD the session still holds persisted — the local
    * checkpoints a query's operators left pinned, and the query's own
    * result checkpoint, which stays addressable until driver GC — so the
    * next query starts from an empty block manager. The cached bytes are
    * read before the release, from the status store, once the listener
    * bus has delivered every block update posted so far.
    */
  def release(spark: SparkSession): Released = {
    val sc = spark.sparkContext
    GraftBus.drain(sc)
    val rdds = sc.getPersistentRDDs.values.toSeq
    val bytes = sc.getRDDStorageInfo.iterator.map(i => i.memSize + i.diskSize).sum
    rdds.foreach(_.unpersist(blocking = false))
    Released(rdds.size, bytes)
  }
}
