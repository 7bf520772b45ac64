package graft.streaming

import org.apache.hadoop.fs.Path

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.streaming.DataStreamWriter
import org.apache.spark.sql.types.StructType

import graft.etl.{GameTransforms, Schemas}
import graft.semantic.{Dashboard, FilterContext}

/** The reference BI dashboard (SURVEY §2.6, `pbix!Layout[v5,v7,v10,v12,
  * v14,v6]`) maintained INCREMENTALLY over the game stream. After every
  * micro-batch each visual reads from one tiny state table and equals
  * the batch [[Dashboard]] over the union of every game seen so far
  * (`StreamingDashboardSpec` pins all six visuals after EVERY batch,
  * plus crash replay as a no-op).
  *
  * This object only keeps the state. Its format, its merge and the six
  * visual readers — the definitions of the measures A1–A11 — live in
  * the [[Dashboard]] companion:
  *
  *  - The state is [[Dashboard.allCounters]]' long format: `grain`, the
  *    grain dims and the four ADDITIVE counters per key, so a batch's
  *    partials sum into the accumulated rows
  *    ([[Dashboard.mergeCounters]]). A batch is one aggregate, one merge
  *    and one write: `|batch| + |state keys|`, independent of history —
  *    the reason a dashboard over a 100 TB game archive can update per
  *    micro-batch at all. Rates are derived at read time, never merged.
  *  - Each reader takes its grain of the latest version with
  *    [[Dashboard.grain]], as the batch dashboard does over its pass.
  *    The Top-N visuals and the rolling window are CORPUS-GLOBAL, but
  *    over the per-key STATE (dimension-sized, not fact-sized).
  *
  * State: versioned parquet, exactly once without sink transactions —
  * one dir per batch id (`<root>/batch=<id>`) holding all six grains,
  * `_SUCCESS`-gated; batch N merges the latest version STRICTLY below
  * N, so an at-least-once replay rewrites its own version
  * byte-identically and readers never see a partial merge. The grains
  * commit together, so a page never mixes two batches. Old versions
  * stay on disk. State of the earlier per-grain layout
  * (`<root>/<grain>/batch=<id>`) is not read: rebuild it from the
  * source, as for a slicer change.
  *
  * Slicers: the page's [[FilterContext]] is fixed at stream definition
  * and applied to every batch BEFORE partial aggregation (row-level
  * predicates commute with union, so this equals the batch semantics).
  * A slicer CHANGE defines a different materialized view — rebuild the
  * state from the source, exactly as a BI extract refresh would.
  */
object StreamingDashboard {

  /** The state's schema: [[Dashboard.allCounters]]' own, from the
    * analysis of an empty fact (no job). Every version is read with it,
    * so no read runs a schema-inference job.
    */
  private lazy val StateSchema: StructType = {
    val s = SparkSession.active
    val empty = s.createDataFrame(java.util.List.of[Row](), Schemas.gamesFact)
    Dashboard.allCounters(GameTransforms.withDerived(empty)).schema
  }

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
      else Some(spark.read.schema(StateSchema)
        .parquet(s"$root/batch=${ids.max}"))
    }
  }

  /** One micro-batch of RAW game rows into the state: one counter pass
    * over the batch, merged with the latest committed version below
    * `batchId` and written as version `batchId`. Idempotent per
    * `batchId`: a replay merges the same predecessor version with the
    * same partials and overwrites its own version.
    */
  def dashboardBatch(batch: DataFrame, stateRoot: String, batchId: Long,
                     ctx: FilterContext = FilterContext.empty): Unit = {
    val part = Dashboard.allCounters(ctx(GameTransforms.withDerived(batch)))
    latestState(batch.sparkSession, stateRoot, beforeBatchId = batchId)
      .fold(part)(Dashboard.mergeCounters(_, part))
      .write.mode("overwrite").parquet(s"$stateRoot/batch=$batchId")
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
  // Each reader hands its grain of the latest committed version to the
  // Dashboard companion's reader of the same name.

  private def at(spark: SparkSession, stateRoot: String,
                 grain: String): DataFrame = {
    val latest = latestState(spark, stateRoot).getOrElse(
      throw new IllegalStateException(s"no committed dashboard state " +
        s"under $stateRoot — run at least one batch first"))
    Dashboard.grain(latest, grain)
  }

  /** v5/v11 KPI cards: ≡ [[Dashboard.cards]]. */
  def cards(spark: SparkSession, stateRoot: String): DataFrame =
    Dashboard.cards(at(spark, stateRoot, "global"))

  /** v12 matrix: ≡ [[Dashboard.winRateByBucketAndColor]]. */
  def winRateByBucketAndColor(spark: SparkSession,
                              stateRoot: String): DataFrame =
    Dashboard.winRateByBucketAndColor(at(spark, stateRoot, "bucket_color"))

  /** v10 rating bands: ≡ [[Dashboard.winRateByOpponentBucket]]. */
  def winRateByOpponentBucket(spark: SparkSession,
                              stateRoot: String): DataFrame =
    Dashboard.winRateByOpponentBucket(at(spark, stateRoot, "opp_bucket"))

  /** v7 Top-N opponents: ≡ [[Dashboard.topOpponents]]. */
  def topOpponents(spark: SparkSession, stateRoot: String,
                   n: Int = 10): DataFrame =
    Dashboard.topOpponents(at(spark, stateRoot, "opponent"), n)

  /** v14 Top-N openings: ≡ [[Dashboard.topOpenings]]. */
  def topOpenings(spark: SparkSession, stateRoot: String,
                  n: Int = 5): DataFrame =
    Dashboard.topOpenings(at(spark, stateRoot, "eco"), n)

  /** v6 rolling 12-day win rate: ≡ [[Dashboard.rollingWinRate]]. */
  def rollingWinRate(spark: SparkSession, stateRoot: String,
                     days: Int = 12): DataFrame =
    Dashboard.rollingWinRate(spark, at(spark, stateRoot, "daily"), days)
}
