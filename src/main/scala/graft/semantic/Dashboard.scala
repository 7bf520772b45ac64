package graft.semantic

import org.apache.spark.sql.{Column, DataFrame, GraftColumns, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.etl.GameTransforms

/** The reference dashboard's six visuals (SURVEY.md §2.6, pbix Layout
  * v5–v14) over the derived games fact. Every method takes a
  * [[FilterContext]] — the page's active slicers — reproducing the BI
  * cross-filter semantics (each visual's aggregate is evaluated under the
  * conjunction of all active filters), and is `visual(grain(pass, g))`:
  * the companion's reader of the same name over the counters of the
  * visual's grain. The measures A1–A11 are defined there.
  *
  * One pass per page context: the first visual rendered under a context
  * runs [[Dashboard.allCounters]] over `ctx(fact)` — the counters of all
  * six grains in one aggregate — and marks it for a lazy local checkpoint,
  * so the first action materializes it and every visual under an equal
  * context (`FilterContext` equality is structural) reads its grain from
  * the kept rows instead of re-aggregating the fact. The pass still reads
  * the fact: slicers filter games before aggregation, so a non-empty
  * context cannot be answered from unfiltered counters.
  *
  * Only the latest context's pass is kept: rendering under a new context
  * releases the previous pass's blocks, so a frame returned under the old
  * context must be collected before the context changes. Visuals of one
  * page may render from several threads at once; they share one pass.
  * Like the store's file listing, which `gamesFact` fixed when it was
  * built, the pass is a snapshot: later appends do not reach it.
  * [[close]] releases the latest pass, so a page's pass is not left
  * pinned until driver GC; a closed dashboard renders again with a new
  * pass.
  */
final class Dashboard(gamesFact: DataFrame) extends AutoCloseable {

  /** Derived fact shared by all visuals. */
  val fact: DataFrame = GameTransforms.withDerived(gamesFact)

  /** The latest context and its counter pass. */
  private var latest: Option[(FilterContext, DataFrame)] = None

  private def pass(ctx: FilterContext): DataFrame = synchronized {
    latest match {
      case Some((c, all)) if c == ctx => all
      case _ =>
        close()
        val all = GraftColumns.lazyCheckpoint(Dashboard.allCounters(ctx(fact)))
        latest = Some(ctx -> all)
        all
    }
  }

  /** Releases the latest context's pass. Frames rendered from it must
    * be collected first. */
  override def close(): Unit = synchronized {
    latest.foreach { case (_, all) => GraftColumns.unpersistCheckpoint(all) }
    latest = None
  }

  private def at(grain: String, ctx: FilterContext): DataFrame =
    Dashboard.grain(pass(ctx), grain)

  /** v5/v11 KPI cards + donut. */
  def cards(ctx: FilterContext = FilterContext.empty): DataFrame =
    Dashboard.cards(at("global", ctx))

  /** v7 Top-`n` opponents (F7). */
  def topOpponents(n: Int = 10,
                   ctx: FilterContext = FilterContext.empty): DataFrame =
    Dashboard.topOpponents(at("opponent", ctx), n)

  /** v12 win rate by time-control bucket × color. */
  def winRateByBucketAndColor(ctx: FilterContext = FilterContext.empty): DataFrame =
    Dashboard.winRateByBucketAndColor(at("bucket_color", ctx))

  /** v10 win rate by opponent rating band. */
  def winRateByOpponentBucket(ctx: FilterContext = FilterContext.empty): DataFrame =
    Dashboard.winRateByOpponentBucket(at("opp_bucket", ctx))

  /** v14 Top-`n` openings (F8). */
  def topOpenings(n: Int = 5,
                  ctx: FilterContext = FilterContext.empty): DataFrame =
    Dashboard.topOpenings(at("eco", ctx), n)

  /** v6 A11 `Rolling12Days_WinRate` over a trailing `days`-day window. */
  def rollingWinRate(spark: SparkSession, days: Int = 12,
                     ctx: FilterContext = FilterContext.empty): DataFrame =
    Dashboard.rollingWinRate(spark, at("daily", ctx), days)
}

/** The one definition of the visuals and of the 11 chess measures
  * (SURVEY.md §2.6 A1–A11), shared by [[Dashboard]] and
  * [[graft.streaming.StreamingDashboard]].
  *
  * All 11 measures are built from four ADDITIVE counters — games, wins,
  * losses, draws — so a visual needs only those counters at its grain:
  *
  *  - A1–A4 (`TotalGames`, `Total Wins/Losses/Draws`) and A8–A10
  *    (`Games_Count`, `Games_vs_Opponent`, `Wins_vs_Opponent`) are the
  *    counters themselves at the visual's grain;
  *  - A5–A7 (`Win%`, `WinRate`, `WinRate_ByOpening`) are `wins / games`
  *    derived at read time — a rate is not additive, so it is never
  *    aggregated;
  *  - A11 (`Rolling12Days_WinRate`) is the same rate over a trailing
  *    window of the daily grain.
  *
  * Both dashboards aggregate the counters of all six grains in one pass,
  * [[allCounters]], and read one grain of it with [[grain]]: the batch
  * dashboard once per page context; the streaming dashboard once per
  * micro-batch, which it merges ([[mergeCounters]]) into one state
  * version of the same long format, the frame its readers take their
  * grains from. Each reader below takes the counters of one grain (a
  * frame with the grain's dims plus `games`, `wins`, `losses`, `draws`).
  */
object Dashboard {
  import ChessMeasures.{drawExpr, lossExpr, winExpr}

  /** The visual grains and their dimension columns over the derived
    * fact. Every visual reads exactly one grain.
    */
  val Grains: Seq[(String, Seq[String])] = Seq(
    "global"       -> Nil,
    "bucket_color" -> Seq("time_control_bucket", "user_color"),
    "opp_bucket"   -> Seq("opponent_rating_bucket"),
    "opponent"     -> Seq("opponent_username"),
    "eco"          -> Seq("eco"),
    "daily"        -> Seq("date_ymd"))

  private val grainDims: Map[String, Seq[String]] = Grains.toMap

  /** Every grain's dims, once each: the dims of [[allCounters]]. */
  private val AllDims: Seq[String] = Grains.flatMap(_._2).distinct

  /** The additive counters every grain carries. */
  private val Counters: Seq[String] = Seq("games", "wins", "losses", "draws")

  /** The counters of every grain over a DERIVED fact, in one aggregate
    * (`GROUPING SETS`, one set per grain): a long-format frame of
    * `grain` (the grain's name), [[AllDims]] (null where the grain lacks
    * the dim) and `games`, `wins`, `losses`, `draws`. A key's row is
    * told from another grain's by `grain`, never by its nulls, so a null
    * key (the BI "(Blank)" member) is a row of its own grain. An empty
    * fact yields no rows, not even the global one; [[grain]] restores it.
    */
  def allCounters(derived: DataFrame): DataFrame = {
    // grouping_id() sets one bit per dim a set leaves out, the first dim
    // the most significant
    def id(dims: Seq[String]): Long =
      AllDims.foldLeft(0L)((acc, d) => acc * 2 + (if (dims.contains(d)) 0 else 1))
    val name = Grains.foldLeft(lit(null).cast("string")) { case (acc, (g, dims)) =>
      when(col("grouping_id") === id(dims), g).otherwise(acc) }
    derived.groupingSets(Grains.map(_._2.map(col)), AllDims.map(col): _*)
      .agg(grouping_id().as("grouping_id"), count(lit(1)).as("games"),
           sum(winExpr).as("wins"), sum(lossExpr).as("losses"),
           sum(drawExpr).as("draws"))
      .select(name.as("grain") +: (AllDims ++ Counters).map(col): _*)
  }

  /** The counters of two [[allCounters]] frames' games together, in the
    * same format: the counters are additive, so this sums them per key.
    * Keys group within their `grain`, so a null key stays its grain's.
    */
  def mergeCounters(a: DataFrame, b: DataFrame): DataFrame = {
    val sums = Counters.map(c => sum(col(c)).as(c))
    a.unionByName(b).groupBy(("grain" +: AllDims).map(col): _*)
      .agg(sums.head, sums.tail: _*)
  }

  /** One grain of an [[allCounters]] frame: the grain's dims plus the
    * counters, in ONE partition, so the readers' sorts, Top-N and window
    * plan no exchange over it. The global grain is re-aggregated from
    * its row, so an empty fact still yields its one row, `(0, null,
    * null, null)` — the value of a global aggregate over no games.
    */
  def grain(all: DataFrame, g: String): DataFrame = {
    val rows = all.filter(col("grain") === g).coalesce(1)
    if (g == "global")
      rows.agg(coalesce(sum(col("games")), lit(0L)).as("games"),
               sum(col("wins")).as("wins"), sum(col("losses")).as("losses"),
               sum(col("draws")).as("draws"))
    else rows.select((grainDims(g) ++ Counters).map(col): _*)
  }

  /** A5–A7 win rate: null-safe `wins / games`. */
  private def winRate: Column =
    (col("wins").cast("double") / nullif(col("games"), lit(0L))).as("win_rate")

  /** F7/F8 Top-N: the `n` keys with the most games, ties broken by the
    * key ascending — a total order, so the key set is deterministic. A
    * null key (the BI "(Blank)" member) ranks like any other.
    */
  private def topByGames(c: DataFrame, dim: String, n: Int): DataFrame =
    c.orderBy(col("games").desc, col(dim).asc).limit(n)

  /** v5/v11 cards (`global` grain): A1–A5, one row. */
  def cards(c: DataFrame): DataFrame =
    c.select(col("games").as("total_games"), col("wins").as("total_wins"),
             col("losses").as("total_losses"), col("draws").as("total_draws"),
             winRate)

  /** v12 matrix (`bucket_color` grain): A6 per time-control bucket ×
    * color, best win rate first.
    */
  def winRateByBucketAndColor(c: DataFrame): DataFrame =
    c.select(col("time_control_bucket"), col("user_color"),
             col("games").as("games_count"), col("wins").as("total_wins"),
             winRate)
      .orderBy(col("win_rate").desc, col("time_control_bucket").asc,
               col("user_color").asc)

  /** v10 rating bands (`opp_bucket` grain): games/wins/rate per P13
    * 200-point opponent band, best win rate first.
    */
  def winRateByOpponentBucket(c: DataFrame): DataFrame =
    c.select(col("opponent_rating_bucket"),
             col("games").as("games_count"), col("wins").as("total_wins"),
             winRate)
      .orderBy(col("win_rate").desc, col("opponent_rating_bucket").asc)

  /** v7 opponents pivot (`opponent` grain): A9/A10 and the rate for the
    * Top-`n` opponents by games, most games first.
    */
  def topOpponents(c: DataFrame, n: Int): DataFrame =
    topByGames(c, "opponent_username", n)
      .select(col("opponent_username"), col("games").as("games_count"),
              col("wins"), winRate)
      .orderBy(col("games_count").desc, col("opponent_username").asc)

  /** v14 openings (`eco` grain): A7/A8 for the Top-`n` openings by
    * games, best win rate first.
    */
  def topOpenings(c: DataFrame, n: Int): DataFrame =
    topByGames(c, "eco", n)
      .select(col("eco"), col("games").as("games_count"), winRate)
      .orderBy(col("win_rate").desc, col("eco").asc)

  /** v6 (`daily` grain): A11 over a trailing `days`-day window.
    * Scaffold-joins the generated DateTable spanning the grain's min→max
    * date so zero-game days exist in the frame (a row-frame window over
    * sparse dates would silently widen the window — SURVEY.md §7.4), then
    * a range frame over epoch-days. The window has no `partitionBy`, so it
    * runs in one partition — over the days of the grain, not over games.
    * The visual plots the measure on
    * `DateTable.Date Hierarchy.{Year,Month,Day}` (pbix!Layout[v6]), so the
    * dim's year/month/month_name/day attributes ride along in the output —
    * consumers drill the hierarchy without re-deriving date parts.
    */
  def rollingWinRate(spark: SparkSession, c: DataFrame, days: Int): DataFrame = {
    val daily = c.select(col("date_ymd").as("date"), col("games"), col("wins"))
    val scaffold = DateDim.spanning(spark, daily, "date")
    val dense = scaffold.join(daily, Seq("date"), "left")
      .select(col("date"), col("year"), col("month"), col("month_name"),
              col("day"),
              coalesce(col("games"), lit(0L)).as("games"),
              coalesce(col("wins"), lit(0L)).as("wins"))
    val w = Window
      .orderBy(datediff(col("date"), lit("1970-01-01")))
      .rangeBetween(-(days - 1), 0)
    dense
      .withColumn("window_games", sum(col("games")).over(w))
      .withColumn("window_wins", sum(col("wins")).over(w))
      .withColumn("rolling_win_rate",
        col("window_wins").cast("double") / nullif(col("window_games"), lit(0L)))
      .orderBy("date")
  }
}
