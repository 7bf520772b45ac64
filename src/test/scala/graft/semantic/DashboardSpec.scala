package graft.semantic

import org.apache.spark.sql.{DataFrame, GraftColumns}
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.obs.Meter

/** Measure/dashboard semantics over a hand-built fact with known answers,
  * including the non-canonical result vocabulary and sparse-date rolling
  * window (SURVEY.md §7.4 hard parts).
  */
class DashboardSpec extends SparkSpec {
  import spark.implicits._

  /** (game_url, date, white, black, result, time_control, opp_rating) with
    * tracked user "alice".
    */
  private def fact(rows: Seq[(String, String, String, String, String, String, Integer)]): DataFrame =
    rows.toDF("game_url", "d", "white_username", "black_username", "result",
              "time_control", "opp_rating")
      .withColumn("username", lit("alice"))
      .withColumn("date_ymd", to_date(col("d")))
      .withColumn("white_rating",
        when(col("white_username") === "alice", 1500).otherwise(col("opp_rating")))
      .withColumn("black_rating",
        when(col("black_username") === "alice", 1500).otherwise(col("opp_rating")))
      .withColumn("pgn", lit(""))
      .drop("d", "opp_rating")

  private val base = fact(Seq(
    // alice white, canonical win
    ("g1", "2025-07-01", "alice", "bob", "1-0", "300", 1480),
    // alice black, canonical win for black
    ("g2", "2025-07-01", "bob", "alice", "0-1", "300", 1480),
    // alice white, canonical loss
    ("g3", "2025-07-02", "alice", "carol", "0-1", "60", 1600),
    // draw
    ("g4", "2025-07-02", "carol", "alice", "1/2-1/2", "60", 1600),
    // non-canonical: alice (white) won
    ("g5", "2025-07-05", "alice", "bob", "win / checkmated", "1/86400", 1480),
    // non-canonical: alice (black) lost on time
    ("g6", "2025-07-13", "bob", "alice", "win / timeout", "600", 1480),
    // non-canonical draw
    ("g7", "2025-07-13", "alice", "dave", "agreed / agreed", "300+5", 2000),
    // unknown result
    ("g8", "2025-07-14", "dave", "alice", "", "300", 2000)))

  private val dash = new Dashboard(base)

  test("A1-A5: cards classify canonical AND fallback vocabularies") {
    val r = dash.cards().collect()(0)
    assert(r.getAs[Long]("total_games") == 8)
    assert(r.getAs[Long]("total_wins") == 3)   // g1, g2, g5
    assert(r.getAs[Long]("total_losses") == 2) // g3, g6
    assert(r.getAs[Long]("total_draws") == 2)  // g4, g7
    assert(math.abs(r.getAs[Double]("win_rate") - 3.0 / 8) < 1e-12)
  }

  test("F5/F6: filter context restricts every measure") {
    val ctx = FilterContext.empty
      .dateBetween(col("date_ymd"), "2025-07-01", "2025-07-02")
      .in(col("time_control_bucket"), Seq("blitz"))
    val r = dash.cards(ctx).collect()(0)
    assert(r.getAs[Long]("total_games") == 2) // g1, g2 (bullet g3/g4 excluded)
    assert(r.getAs[Long]("total_wins") == 2)
  }

  test("A9/A10 + F7: top opponents ranked by games, deterministic ties") {
    val rows = dash.topOpponents(2).collect()
    assert(rows.length == 2)
    assert(rows(0).getAs[String]("opponent_username") == "bob") // 4 games
    assert(rows(0).getAs[Long]("games_count") == 4)
    assert(rows(0).getAs[Long]("wins") == 3)
    // carol and dave have 2 each → tie broken alphabetically
    assert(rows(1).getAs[String]("opponent_username") == "carol")
  }

  test("A6: win rate by bucket x color matrix") {
    val m = dash.winRateByBucketAndColor().collect()
      .map(r => (r.getAs[String]("time_control_bucket"),
                 r.getAs[String]("user_color")) -> r.getAs[Double]("win_rate"))
      .toMap
    assert(m(("blitz", "white")) == 0.5)  // g1 win, g7 draw → 1/2
    assert(m(("bullet", "white")) == 0.0) // g3 loss
    assert(m(("daily", "white")) == 1.0)  // g5 win
  }

  test("A11: rolling win rate over sparse dates uses the scaffold") {
    val rows = dash.rollingWinRate(spark, days = 3).collect()
    val byDate = rows.map(r => r.getAs[java.sql.Date]("date").toString -> r).toMap
    // scaffold spans min..max including empty days
    assert(byDate.contains("2025-07-03") && byDate.contains("2025-07-04"))
    assert(byDate("2025-07-03").getAs[Long]("games") == 0)
    // window [07-03..07-05] = only g5 (win): rate 1.0
    assert(byDate("2025-07-05").getAs[Double]("rolling_win_rate") == 1.0)
    // window [07-01..07-03]: g1,g2 win; g3 loss; g4 draw → 2/4
    assert(byDate("2025-07-03").getAs[Double]("rolling_win_rate") == 0.5)
    // empty window → null rate, not division blow-up
    assert(byDate("2025-07-04").isNullAt(
      byDate("2025-07-04").fieldIndex("rolling_win_rate")) == false ||
      byDate("2025-07-04").getAs[Long]("window_games") > 0 ||
      byDate("2025-07-04").isNullAt(byDate("2025-07-04").fieldIndex("rolling_win_rate")))
  }

  test("A11: fully empty window yields null, not error") {
    val lone = fact(Seq(
      ("g1", "2025-07-01", "alice", "bob", "1-0", "300", 1480),
      ("g9", "2025-07-20", "alice", "bob", "1-0", "300", 1480)))
    val rows = new Dashboard(lone).rollingWinRate(spark, days = 3).collect()
    val mid = rows.find(_.getAs[java.sql.Date]("date").toString == "2025-07-10").get
    assert(mid.getAs[Long]("window_games") == 0)
    assert(mid.isNullAt(mid.fieldIndex("rolling_win_rate")))
  }

  test("A11: v6 date-hierarchy attributes ride along, exact at a month boundary") {
    val cross = fact(Seq(
      ("g1", "2025-06-30", "alice", "bob", "1-0", "300", 1480),
      ("g2", "2025-07-01", "alice", "bob", "1-0", "300", 1480)))
    val rows = new Dashboard(cross).rollingWinRate(spark, days = 3).collect()
    assert(rows.map(_.getAs[java.sql.Date]("date").toString).toSeq ==
      Seq("2025-06-30", "2025-07-01"))
    val jun = rows(0)
    val jul = rows(1)
    assert(jun.getAs[Int]("year") == 2025 && jun.getAs[Int]("month") == 6 &&
      jun.getAs[Int]("day") == 30 && jun.getAs[String]("month_name") == "June")
    assert(jul.getAs[Int]("year") == 2025 && jul.getAs[Int]("month") == 7 &&
      jul.getAs[Int]("day") == 1 && jul.getAs[String]("month_name") == "July")
    // the range frame spans the boundary: both games inside the 3-day window
    assert(jul.getAs[Long]("window_games") == 2)
    assert(jul.getAs[Double]("rolling_win_rate") == 1.0)
  }

  test("F8: top openings by ECO") {
    val withEco = fact(Seq(
      ("g1", "2025-07-01", "alice", "bob", "1-0", "300", 1480),
      ("g2", "2025-07-01", "alice", "bob", "1-0", "300", 1480),
      ("g3", "2025-07-02", "alice", "bob", "0-1", "300", 1480)))
      .withColumn("pgn",
        when(col("game_url") === "g3", lit("[ECO \"C00\"]"))
          .otherwise(lit("[ECO \"B20\"]")))
    val rows = new Dashboard(withEco).topOpenings(1).collect()
    assert(rows.length == 1)
    assert(rows(0).getAs[String]("eco") == "B20")
    assert(rows(0).getAs[Double]("win_rate") == 1.0)
  }

  /** Ids of the graft checkpoints the session holds pinned. */
  private def pinnedCheckpoints: Set[Int] =
    spark.sparkContext.getPersistentRDDs.values
      .filter(_.name == GraftColumns.CheckpointTag).map(_.id).toSet

  test("one counter pass per page: under equal contexts the Top-N, matrix " +
       "and band visuals run one job each, with no Exchange") {
    val d = new Dashboard(base)
    // a freshly built context per visual, equal to every other
    def ctx = FilterContext.empty.and(col("username") === "alice")
    assert(d.cards(ctx).collect()(0).getAs[Long]("total_games") == 8)
    val visuals: Seq[(String, () => DataFrame)] = Seq(
      "opponents"       -> (() => d.topOpponents(10, ctx)),
      "bucket_color"    -> (() => d.winRateByBucketAndColor(ctx)),
      "opponent_bucket" -> (() => d.winRateByOpponentBucket(ctx)),
      "openings"        -> (() => d.topOpenings(5, ctx)))
    visuals.foreach { case (name, visual) =>
      val (rows, counts) = Meter.during(spark) {
        withCapturedPlans(visual().collect()) { plans =>
          assert(plans.forall(!_.contains("Exchange")), s"$name: $plans")
        }
      }
      assert(counts.jobs == 1, s"$name ran ${counts.jobs} jobs")
      assert(rows.nonEmpty, name)
    }
    assert(d.rollingWinRate(spark, 3, ctx).collect().length == 14)
  }

  test("cards under a context that matches no game: one row of 0 games " +
       "and null counters") {
    val none = FilterContext.empty.and(col("username") === "nobody")
    val rows = dash.cards(none).collect()
    assert(rows.length == 1)
    assert(rows(0).getAs[Long]("total_games") == 0L)
    assert((1 until 5).forall(rows(0).isNullAt), rows(0))
  }

  test("a null opponent is its own Top-N row, not merged with the rows " +
       "of other grains") {
    val blank = new Dashboard(fact(Seq(
      ("g1", "2025-07-01", "alice", null, "1-0", "300", 1480),
      ("g2", "2025-07-02", "alice", null, "0-1", "300", 1480),
      ("g3", "2025-07-02", "alice", null, "1-0", "60", 1480),
      ("g4", "2025-07-03", "alice", "bob", "1-0", "300", 1480))))
    val rows = blank.topOpponents(10).collect().map(r =>
      (Option(r.getAs[String]("opponent_username")),
       r.getAs[Long]("games_count"), r.getAs[Long]("wins"))).toSeq
    assert(rows === Seq((None, 3L, 2L), (Some("bob"), 1L, 1L)))
    assert(blank.cards().collect()(0).getAs[Long]("total_games") == 4L)
  }

  test("a new context releases the previous context's pass: one stays pinned") {
    val before = pinnedCheckpoints
    val d = new Dashboard(base)
    val white = FilterContext.empty.and(col("user_color") === "white")
    val black = FilterContext.empty.and(col("user_color") === "black")
    assert(d.cards(white).collect()(0).getAs[Long]("total_games") == 4)
    assert(d.topOpponents(10, white).collect().nonEmpty)
    assert(d.cards(black).collect()(0).getAs[Long]("total_games") == 4)
    assert(d.topOpponents(10, black).collect().nonEmpty)
    assert((pinnedCheckpoints -- before).size == 1)
    d.close()
    assert((pinnedCheckpoints -- before).isEmpty)
    // a closed dashboard renders again from a new pass
    assert(d.cards(white).collect()(0).getAs[Long]("total_games") == 4)
    d.close()
    assert((pinnedCheckpoints -- before).isEmpty)
  }

  test("visuals of one page rendered from two threads share one pass") {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    def ctx = FilterContext.empty.and(col("username") === "alice")
    def page(d: Dashboard): Seq[() => DataFrame] = Seq(
      () => d.cards(ctx), () => d.topOpponents(10, ctx),
      () => d.winRateByBucketAndColor(ctx), () => d.winRateByOpponentBucket(ctx),
      () => d.topOpenings(5, ctx), () => d.rollingWinRate(spark, 3, ctx))
    val want = page(new Dashboard(base)).map(_().collect().toSeq)
    val before = pinnedCheckpoints
    val d = new Dashboard(base)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      val got = Await.result(Future.traverse(page(d) ++ page(d))(v =>
        Future(v().collect().toSeq)), 5.minutes)
      assert(got === want ++ want)
    } finally pool.shutdown()
    assert((pinnedCheckpoints -- before).size == 1)
  }
}
