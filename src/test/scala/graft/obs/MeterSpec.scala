package graft.obs

import org.apache.spark.sql.functions.col

import graft.SparkSpec

/** Contracts of [[Meter]] and [[Blocks]]: counts read through
  * `Meter.during` are exact (no settle window, no sleep), job time is
  * grouped by job description, the plan capture of `withCapturedPlans`
  * holds every plan its body executed and no other, and the block
  * release reports what a query left pinned.
  */
class MeterSpec extends SparkSpec {

  test("during counts exactly one job and seven tasks for a 7-partition " +
       "count, 20 times in a row") {
    val sc = spark.sparkContext
    val seen = (1 to 20).map { _ =>
      val (n, c) = Meter.during(spark)(sc.parallelize(1 to 10, 7).count())
      assert(n == 10L)
      (c.jobs, c.tasks, c.failedTasks)
    }
    assert(seen.forall(_ == ((1L, 7L, 0L))), seen)
  }

  test("job wall time is grouped by job description") {
    val sc = spark.sparkContext
    val (_, c) = Meter.during(spark) {
      try {
        sc.setJobDescription("meter-a")
        sc.parallelize(1 to 10, 2).count()
        sc.parallelize(1 to 10, 3).count()
        sc.setJobDescription("meter-b")
        sc.parallelize(1 to 10, 1).count()
      } finally sc.setJobDescription(null)
    }
    assert(c.jobs == 3L)
    assert(c.tasks == 6L)
    assert(c.jobTime.keySet == Set("meter-a", "meter-b"), c.jobTime)
    assert(c.jobTime("meter-a").jobs == 2L)
    assert(c.jobTime("meter-b").jobs == 1L)
    assert(c.jobTime.values.forall(_.ms >= 0L))
  }

  test("withCapturedPlans captures exactly one plan per DataFrame action") {
    val k = 5
    withCapturedPlans {
      (1 to k).foreach { i =>
        spark.range(0, 100L * i, 1, 3).filter(col("id") % 7 === 0).count()
      }
    } { plans =>
      assert(plans.size == k, plans.mkString("\n---\n"))
    }
  }

  test("release reports the RDDs and bytes a localCheckpoint left pinned") {
    Blocks.release(spark)
    assert(Blocks.release(spark) == Released(0, 0L))
    val sc = spark.sparkContext
    val pinned = spark.range(0, 4000, 1, 4).toDF("id").localCheckpoint()
    assert(pinned.count() == 4000L)
    org.apache.spark.GraftBus.drain(sc)
    val info = sc.getRDDStorageInfo.toSeq
    assert(info.map(_.numCachedPartitions) == Seq(4))
    val released = Blocks.release(spark)
    assert(released == Released(1, info.head.memSize + info.head.diskSize))
    assert(released.bytes > 0L, released)
    assert(sc.getPersistentRDDs.isEmpty)
    assert(Blocks.release(spark) == Released(0, 0L))
  }
}
