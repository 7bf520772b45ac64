package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.queries.ChessQueries
import graft.semantic.{Dashboard, FilterContext}

/** Fault-injection drive of [[StreamingDashboard]]'s versioned state
  * (r14 verdict #5): batch 0 commits, then a CRASH MID-WRITE of batch 1
  * is simulated — its version dir exists with plausible-but-WRONG
  * parquet content and NO `_SUCCESS` (exactly what a killed executor
  * leaves). Recovery = the engine replaying batch 1 under its original
  * id must read the prior COMMITTED version (the poisoned counters are
  * inflated ×1000, so reading through the gate would be caught, not
  * lucked past), produce the batch-recompute visuals, and a second
  * replay must rewrite the version identically. A later batch (id 2)
  * must ALSO skip an uncommitted id-1 dir, and the readers must skip an
  * uncommitted dir above every committed one — the cases the id filter
  * alone cannot catch, only the `_SUCCESS` gate.
  */
class StreamingCrashRecoverySpec extends SparkSpec {

  /** Simulate a crash mid-write of version `id`: version 0's rows of
    * `grains` (all six by default) with their games ×1000, written as
    * `<root>/batch=<id>` with no `_SUCCESS`.
    */
  private def poison(root: String, id: Long,
                     grains: Seq[String] = Dashboard.Grains.map(_._1)): Unit = {
    val dir = s"$root/batch=$id"
    spark.read.parquet(s"$root/batch=0")
      .filter(col("grain").isin(grains: _*))
      .withColumn("games", col("games") * 1000)
      .write.mode("overwrite").parquet(dir)
    val ok = new java.io.File(dir, "_SUCCESS")
    assert(ok.delete(), s"fixture: could not remove $ok")
  }

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  /** All six visuals read from the state at `root` equal the batch
    * [[Dashboard]] over `union`.
    */
  private def assertVisuals(union: DataFrame, root: String,
                            label: String): Unit = {
    val b = new Dashboard(union)
    val ctx = FilterContext.empty
    try Seq(
      "cards" -> (b.cards(ctx), StreamingDashboard.cards(spark, root)),
      "matrix" -> (b.winRateByBucketAndColor(ctx),
        StreamingDashboard.winRateByBucketAndColor(spark, root)),
      "bands" -> (b.winRateByOpponentBucket(ctx),
        StreamingDashboard.winRateByOpponentBucket(spark, root)),
      "opponents" -> (b.topOpponents(10, ctx),
        StreamingDashboard.topOpponents(spark, root, 10)),
      "openings" -> (b.topOpenings(5, ctx),
        StreamingDashboard.topOpenings(spark, root, 5)),
      "rolling" -> (b.rollingWinRate(spark, 12, ctx),
        StreamingDashboard.rollingWinRate(spark, root, 12))
    ).foreach { case (name, (batch, stream)) =>
      assert(sortedRows(stream) === sortedRows(batch), s"$label/$name")
    } finally b.close()
  }

  test("StreamingDashboard: crash mid-write of batch 1 across grains — " +
       "recovered visuals equal the batch Dashboard") {
    val fact = ChessQueries.fixtureFact(spark, "/root/testdata/sf0.001")
    val parts = (0 until 2).map(k =>
      fact.filter(pmod(col("white_rating"), lit(2L)) === k))
    val union = parts(0).unionByName(parts(1))

    val root = Files.createTempDirectory("graft-crash-dash").toString
    StreamingDashboard.dashboardBatch(parts(0), root, 0L)
    // a crash mid-write leaves some of the version's rows
    poison(root, 1L, Seq("global", "opponent", "daily"))
    StreamingDashboard.dashboardBatch(parts(1), root, 1L)
    assertVisuals(union, root, "recovered")
    // replay rewrites the version identically
    val before = sortedRows(spark.read.parquet(s"$root/batch=1"))
    StreamingDashboard.dashboardBatch(parts(1), root, 1L)
    assert(sortedRows(spark.read.parquet(s"$root/batch=1")) === before,
           "replay must rewrite the version identically")

    // a batch 1 that never recovers: batch 2 must merge onto committed
    // version 0 past the uncommitted batch=1 dir
    val root2 = Files.createTempDirectory("graft-crash-dash2").toString
    StreamingDashboard.dashboardBatch(parts(0), root2, 0L)
    poison(root2, 1L)
    StreamingDashboard.dashboardBatch(parts(1), root2, 2L)
    assertVisuals(union, root2, "batch 2 skips uncommitted batch=1")
    // a partially written version above every committed one is
    // invisible to the readers
    poison(root2, 99L)
    assertVisuals(union, root2, "readers skip uncommitted batch=99")
  }
}
