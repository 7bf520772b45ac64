package graft.tools

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

import graft.{GraftSession, SparkEntry}

/** Dev diagnostic: run one registered query and print wall time grouped
  * by job DESCRIPTION (operators label their stages via
  * `setJobDescription`, e.g. q269's `q269:<stage>` marks) — the
  * cheapest way to see where a multi-stage DAG query's seconds go
  * without the UI. Usage:
  *
  *   runMain graft.tools.JobProfile <sfDir> <queryName>
  */
object JobProfile {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, name) = args
    val spark = GraftSession
      .builder("graft-jobprofile", GraftSession.envCores(32)).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val starts = new ConcurrentHashMap[Int, (String, Long)]()
    val totals = new ConcurrentHashMap[String, (Long, Long)]() // ns, jobs
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val desc = Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse("<unlabeled>")
        starts.put(js.jobId, (desc, System.nanoTime()))
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        val s = starts.remove(je.jobId)
        if (s != null) {
          val dt = System.nanoTime() - s._2
          totals.merge(s._1, (dt, 1L),
            (a, b) => (a._1 + b._1, a._2 + b._2))
        }
      }
    })
    val fn = SparkEntry.queries(name)
    fn(spark, sfDir).count() // warmup
    totals.clear()
    val t0 = System.nanoTime()
    fn(spark, sfDir).count()
    val wall = (System.nanoTime() - t0) / 1e9
    Thread.sleep(300)
    println(f"JOBPROFILE $name total ${wall}%.2f s")
    import scala.jdk.CollectionConverters._
    totals.asScala.toSeq.sortBy(-_._2._1).foreach { case (d, (ns, nj)) =>
      println(f"JOBPROFILE  ${ns / 1e9}%7.2f s  $nj%3d jobs  $d")
    }
    spark.stop()
  }
}
