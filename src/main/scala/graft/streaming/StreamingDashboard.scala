package graft.streaming

import org.apache.hadoop.fs.Path

import org.apache.spark.sql.{DataFrame, GraftColumns, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

import graft.etl.GameTransforms
import graft.semantic.{Dashboard, FilterContext}

/** The reference BI dashboard (SURVEY §2.6, `pbix!Layout[v5,v7,v10,v12,
  * v14,v6]`) maintained INCREMENTALLY over the game stream. After every
  * micro-batch each visual reads from tiny per-grain state tables and
  * equals the batch [[Dashboard]] over the union of every game seen so
  * far (`StreamingDashboardSpec` pins all six visuals after EVERY batch,
  * plus crash replay as a no-op).
  *
  * This object only keeps the state. The grains, the one counter
  * aggregation and the six visual readers — the definitions of the
  * measures A1–A11 — live in the [[Dashboard]] companion, and the readers
  * here hand it the latest committed state of their grain:
  *
  *  - Each grain's state is the four ADDITIVE counters (games, wins,
  *    losses, draws) per key, so batch partials sum into the accumulated
  *    per-key row. A batch's partials of all six grains come from ONE
  *    aggregate over the batch ([[Dashboard.allCounters]], kept as a lazy
  *    local checkpoint while the six versions are written), read one
  *    grain at a time with [[Dashboard.grain]] — the same pass the batch
  *    dashboard reads its page from. Per batch this costs `|batch| +
  *    |state keys|`, independent of history — the reason a dashboard over
  *    a 100 TB game archive can update per micro-batch at all. Rates are
  *    derived at read time, never merged.
  *  - The Top-N visuals (v7 opponents, v14 openings) and the rolling
  *    12-day window (v6) are CORPUS-GLOBAL, but over the per-key STATE
  *    (opponents/ECO/days — dimension-sized, not fact-sized), so the
  *    per-read recompute is a sort-limit / window over thousands of rows,
  *    never over the accumulated facts.
  *
  * State: versioned parquet, exactly once without sink transactions —
  * one dir per grain per batch id (`<root>/<grain>/batch=<id>`),
  * `_SUCCESS`-gated, batch N merges the latest version STRICTLY below
  * N, so an at-least-once replay rewrites its own version
  * byte-identically and readers never see a partial merge. Old versions
  * stay on disk; the latest committed one is always complete.
  *
  * Slicers: the page's [[FilterContext]] is fixed at stream definition
  * and applied to every batch BEFORE partial aggregation (row-level
  * predicates commute with union, so this equals the batch semantics).
  * A slicer CHANGE defines a different materialized view — rebuild the
  * state from the source, exactly as a BI extract refresh would.
  */
object StreamingDashboard {

  /** The grains kept as state: [[Dashboard.Grains]]. */
  val Grains: Seq[(String, Seq[String])] = Dashboard.Grains

  /** Latest COMMITTED state version strictly below `beforeBatchId`
    * (None = no predecessor). Versions are parquet dirs `batch=<id>`
    * under `root`.
    */
  private def latestState(spark: SparkSession, root: String,
                          beforeBatchId: Long = Long.MaxValue)
      : Option[DataFrame] = {
    val p = new Path(root)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) None
    else {
      // only fully-committed versions count: a crash mid-write leaves a
      // batch=<id> dir without _SUCCESS, and an external reader landing
      // on it would otherwise see a partial merge
      val ids = fs.listStatus(p).toSeq
        .filter(st => st.isDirectory &&
          fs.exists(new Path(st.getPath, "_SUCCESS")))
        .map(_.getPath.getName)
        .collect { case n if n.startsWith("batch=") =>
          n.stripPrefix("batch=").toLong
        }
        .filter(_ < beforeBatchId)
      if (ids.isEmpty) None
      else Some(spark.read.parquet(s"$root/batch=${ids.max}"))
    }
  }

  /** Counter-sum merge of accumulated state ∪ batch partials — the
    * additive-measure form of [[graft.operators.IncrementalAgg]]'s
    * mergeable-state contract, generalized to composite keys.
    */
  private def merge(prev: DataFrame, part: DataFrame,
                    dims: Seq[String]): DataFrame = {
    val sums = Dashboard.Counters.map(c => sum(col(c)).as(c))
    prev.unionByName(part).groupBy(dims.map(col): _*)
      .agg(sums.head, sums.tail: _*)
  }

  /** One micro-batch of RAW game rows into all six grain states.
    * Idempotent per `batchId`: a replay merges the same predecessor
    * version with the same partials and overwrites its own version.
    */
  def dashboardBatch(batch: DataFrame, stateRoot: String, batchId: Long,
                     ctx: FilterContext = FilterContext.empty): Unit = {
    val s = batch.sparkSession
    // one counter pass per batch, read by all six grain merges
    val all = GraftColumns.lazyCheckpoint(
      Dashboard.allCounters(ctx(GameTransforms.withDerived(batch))))
    try {
      Grains.foreach { case (grain, dims) =>
        val part = Dashboard.grain(all, grain)
        val merged = latestState(s, s"$stateRoot/$grain",
                                 beforeBatchId = batchId) match {
          case Some(prev) => merge(prev, part, dims)
          case None       => part
        }
        merged.write.mode("overwrite")
          .parquet(s"$stateRoot/$grain/batch=$batchId")
      }
    } finally GraftColumns.unpersistCheckpoint(all)
  }

  /** Wire the stream: raw game micro-batches → [[dashboardBatch]].
    * At-least-once delivery + per-batch-id idempotent versions =
    * effectively-once state.
    */
  def dashboardStream(games: DataFrame, stateRoot: String,
                      checkpointDir: String,
                      ctx: FilterContext = FilterContext.empty)
      : DataStreamWriter[Row] =
    games.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        dashboardBatch(batch, stateRoot, batchId, ctx)
        (): Unit
      }

  // ------------------------------------------------------- the visuals
  // Each reader hands the latest committed state of its grain to the
  // Dashboard companion's reader of the same name.

  private def state(spark: SparkSession, stateRoot: String,
                    grain: String): DataFrame =
    latestState(spark, s"$stateRoot/$grain").getOrElse(throw new IllegalStateException(
        s"no committed dashboard state under $stateRoot/$grain — " +
          "run at least one batch first"))

  /** v5/v11 KPI cards: ≡ [[Dashboard.cards]]. */
  def cards(spark: SparkSession, stateRoot: String): DataFrame =
    Dashboard.cards(state(spark, stateRoot, "global"))

  /** v12 matrix: ≡ [[Dashboard.winRateByBucketAndColor]]. */
  def winRateByBucketAndColor(spark: SparkSession,
                              stateRoot: String): DataFrame =
    Dashboard.winRateByBucketAndColor(state(spark, stateRoot, "bucket_color"))

  /** v10 rating bands: ≡ [[Dashboard.winRateByOpponentBucket]]. */
  def winRateByOpponentBucket(spark: SparkSession,
                              stateRoot: String): DataFrame =
    Dashboard.winRateByOpponentBucket(state(spark, stateRoot, "opp_bucket"))

  /** v7 Top-N opponents: ≡ [[Dashboard.topOpponents]]. */
  def topOpponents(spark: SparkSession, stateRoot: String,
                   n: Int = 10): DataFrame =
    Dashboard.topOpponents(state(spark, stateRoot, "opponent"), n)

  /** v14 Top-N openings: ≡ [[Dashboard.topOpenings]]. */
  def topOpenings(spark: SparkSession, stateRoot: String,
                  n: Int = 5): DataFrame =
    Dashboard.topOpenings(state(spark, stateRoot, "eco"), n)

  /** v6 rolling 12-day win rate: ≡ [[Dashboard.rollingWinRate]]. */
  def rollingWinRate(spark: SparkSession, stateRoot: String,
                     days: Int = 12): DataFrame =
    Dashboard.rollingWinRate(spark, state(spark, stateRoot, "daily"), days)
}
