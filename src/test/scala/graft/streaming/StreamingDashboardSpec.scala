package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.queries.ChessQueries
import graft.semantic.{Dashboard, FilterContext}

/** Fixture row in the raw game-fact schema (field order = the batch
  * fixture's column order, so `mem.toDF()` needs no rename).
  */
case class GameRowFixture(
    username: String, game_url: String, date_ymd: java.sql.Date,
    white_username: String, black_username: String, white_rating: Long,
    black_rating: Option[Long], result: String, time_control: String,
    pgn: String)

/** End-to-end contract of [[StreamingDashboard]] (r14 verdict #3): after
  * EVERY micro-batch, every visual (v5 cards, v12 bucket×color matrix,
  * v10 rating bands, v7 top-10 opponents, v14 top-5 ECO, v6 rolling
  * 12-day win rate) equals the batch [[Dashboard]] over the union of
  * every game seen so far — row for row, column for column — and a
  * crash replay of a processed batch is a no-op on state and visuals.
  */
class StreamingDashboardSpec extends SparkSpec {

  private val SfDir = "/root/testdata/sf0.001"

  private def fact: DataFrame = ChessQueries.fixtureFact(spark, SfDir)

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq

  /** All six visuals, batch vs stream, under one ctx. */
  private def assertVisualsEqual(union: DataFrame, root: String,
                                 ctx: FilterContext, label: String): Unit = {
    val b = new Dashboard(union)
    try {
      val pairs = Seq(
        "cards" -> (b.cards(ctx),
          StreamingDashboard.cards(spark, root)),
        "matrix" -> (b.winRateByBucketAndColor(ctx),
          StreamingDashboard.winRateByBucketAndColor(spark, root)),
        "bands" -> (b.winRateByOpponentBucket(ctx),
          StreamingDashboard.winRateByOpponentBucket(spark, root)),
        "opponents" -> (b.topOpponents(10, ctx),
          StreamingDashboard.topOpponents(spark, root, 10)),
        "openings" -> (b.topOpenings(5, ctx),
          StreamingDashboard.topOpenings(spark, root, 5)),
        "rolling" -> (b.rollingWinRate(spark, 12, ctx),
          StreamingDashboard.rollingWinRate(spark, root, 12)))
      pairs.foreach { case (name, (batch, stream)) =>
        assert(batch.columns.toSeq === stream.columns.toSeq,
               s"$label/$name: column drift")
        assert(rows(batch) === rows(stream),
               s"$label/$name: streamed visual diverged from batch Dashboard")
      }
    } finally b.close()
  }

  test("every visual equals the batch Dashboard after EVERY batch; " +
       "crash replay is a no-op") {
    val root = Files.createTempDirectory("graft-sdash").toString
    val parts = (0 until 3).map(k =>
      fact.filter(pmod(col("white_rating"), lit(3L)) === k))
    var union: DataFrame = null
    parts.zipWithIndex.foreach { case (b, k) =>
      StreamingDashboard.dashboardBatch(b, root, k.toLong)
      union = if (union == null) b else union.unionByName(b)
      assertVisualsEqual(union, root, FilterContext.empty, s"batch$k")
    }
    // one version per batch, holding all six grains: no per-grain dirs
    assert(new java.io.File(root).list().toSeq.sorted ===
             Seq("batch=0", "batch=1", "batch=2"),
           "the state root must hold exactly one version dir per batch")
    // crash replay of the LAST batch (same id, same input): the version
    // rewrites from the same (predecessor, partials) pair — state and
    // visuals must come back identical
    def version2: Seq[String] = {
      val v = spark.read.parquet(s"$root/batch=2")
      rows(v.orderBy(v.columns.toSeq.map(col): _*))
    }
    val before = version2
    StreamingDashboard.dashboardBatch(parts(2), root, 2L)
    assertVisualsEqual(union, root, FilterContext.empty, "replay")
    assert(version2 === before, "replay must not change the state")
  }

  test("a fixed slicer FilterContext applied per batch equals the batch " +
       "Dashboard under the same ctx (filters commute with union)") {
    val root = Files.createTempDirectory("graft-sdash-ctx").toString
    val ctx = FilterContext.empty
      .in(col("time_control_bucket"), Seq("blitz", "rapid"))
    val parts = (0 until 2).map(k =>
      fact.filter(pmod(col("white_rating"), lit(2L)) === k))
    StreamingDashboard.dashboardBatch(parts(0), root, 0L, ctx)
    StreamingDashboard.dashboardBatch(parts(1), root, 1L, ctx)
    assertVisualsEqual(parts(0).unionByName(parts(1)), root, ctx, "ctx")
  }

  test("a null-ECO group inside the Top-5 openings is kept by batch and " +
       "stream alike (the BI \"(Blank)\" member)") {
    val root = Files.createTempDirectory("graft-sdash-blank").toString
    // the empty PGNs of odd days become null: eco "" and eco null are
    // two of five groups, so both rank inside the Top-5
    val blank = fact.withColumn("pgn",
      when(col("pgn") === "" && pmod(dayofmonth(col("date_ymd")), lit(2)) === 1,
           lit(null).cast("string"))
        .otherwise(col("pgn")))
    val parts = (0 until 2).map(k =>
      blank.filter(pmod(col("white_rating"), lit(2L)) === k))
    StreamingDashboard.dashboardBatch(parts(0), root, 0L)
    StreamingDashboard.dashboardBatch(parts(1), root, 1L)
    val union = parts(0).unionByName(parts(1))
    assertVisualsEqual(union, root, FilterContext.empty, "blank")
    val ecos = new Dashboard(union).topOpenings(5).collect()
      .map(r => Option(r.getAs[String]("eco"))).toSet
    assert(ecos.contains(None) && ecos.contains(Some("")),
           s"both blank ECO groups must be in the Top-5: $ecos")
  }

  test("the foreachBatch stream wires the same per-batch maintenance " +
       "(MemoryStream, two batches)") {
    val root = Files.createTempDirectory("graft-sdash-stream").toString
    val ckpt = Files.createTempDirectory("graft-sdash-ckpt").toString
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[GameRowFixture]
    val stream = mem.toDF()
    def tuples(df: DataFrame): Seq[GameRowFixture] =
      df.collect().map { r =>
        GameRowFixture(
          r.getString(0), r.getString(1), r.getDate(2), r.getString(3),
          r.getString(4), r.getLong(5),
          if (r.isNullAt(6)) None else Some(r.getLong(6)),
          r.getString(7), r.getString(8), r.getString(9))
      }.toSeq
    val parts = (0 until 2).map(k =>
      fact.filter(pmod(col("white_rating"), lit(2L)) === k))
    val q = StreamingDashboard.dashboardStream(stream, root, ckpt).start()
    try {
      mem.addData(tuples(parts(0)): _*)
      q.processAllAvailable()
      mem.addData(tuples(parts(1)): _*)
      q.processAllAvailable()
    } finally q.stop()
    assertVisualsEqual(parts(0).unionByName(parts(1)), root,
                       FilterContext.empty, "stream")
  }
}
