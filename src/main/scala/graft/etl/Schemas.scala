package graft.etl

import org.apache.spark.sql.types._

/** Schemas for the chess ingest pipeline.
  *
  * Derived from the reference's attested input/output shapes
  * (FIXTURES.md; reference `fetch_and_post.py:47-53,114-161,319-344`).
  * We keep strong types end-to-end instead of the reference's
  * strings-with-sink-side re-typing — a deliberate divergence documented
  * in FIXTURES.md §3.
  */
object Schemas {

  /** One side of a game (`white`/`black` sub-objects). */
  val sideType: StructType = StructType(Seq(
    StructField("username", StringType),
    StructField("rating", IntegerType),
    StructField("result", StringType)))

  /** A raw game inside a monthly archive payload. */
  val gameType: StructType = StructType(Seq(
    StructField("url", StringType),
    StructField("time_control", StringType),
    StructField("end_time", LongType),
    StructField("pgn", StringType),
    StructField("white", sideType),
    StructField("black", sideType)))

  /** Monthly archive response: `{"games": [...]}`. */
  val archiveType: StructType =
    StructType(Seq(StructField("games", ArrayType(gameType))))

  /** The 13-column games fact table (FIXTURES.md §3). */
  val gamesFact: StructType = StructType(Seq(
    StructField("ingest_time", TimestampType),
    StructField("username", StringType),
    StructField("archive_url", StringType),
    StructField("game_url", StringType),
    StructField("time_control", StringType),
    StructField("end_time_utc", TimestampType),
    StructField("date_ymd", DateType),
    StructField("white_username", StringType),
    StructField("white_rating", IntegerType),
    StructField("black_username", StringType),
    StructField("black_rating", IntegerType),
    StructField("result", StringType),
    StructField("pgn", StringType)))

  /** Processing ledger (reference keeps the `ProceeedArchives` typo as the
    * sheet name; our table is `processed_archives`).
    */
  val ledger: StructType = StructType(Seq(
    StructField("username", StringType),
    StructField("archive_url", StringType),
    StructField("processed_at_utc", TimestampType),
    StructField("game_count", IntegerType)))

  /** Best-effort run/status log. */
  val statusLog: StructType = StructType(Seq(
    StructField("run_id", StringType),
    StructField("username", StringType),
    StructField("stage", StringType),
    StructField("message", StringType),
    StructField("http_status", StringType),
    StructField("timestamp_utc", TimestampType)))
}

/** Typed row of the games fact (SURVEY.md §1.1: `Dataset[GameRow]` as the
  * row-ish logical view over the columnar store — use where compile-time
  * field safety helps, e.g. `mapPartitions` logic; stay `DataFrame` for
  * purely relational plans so Catalyst sees column-level lineage).
  */
case class GameRow(
    ingest_time: java.sql.Timestamp,
    username: String,
    archive_url: String,
    game_url: String,
    time_control: String,
    end_time_utc: java.sql.Timestamp,
    date_ymd: java.sql.Date,
    white_username: String,
    white_rating: Option[Int],
    black_username: String,
    black_rating: Option[Int],
    result: String,
    pgn: String)

/** Watermark/checkpoint state for one user
  * (`state.json`: `{user: {last_end_time, processed_archives}}`).
  */
case class UserState(lastEndTime: Long, processedArchives: Vector[String])

/** Stage vocabulary used by the status log (FIXTURES.md §5). */
object Stages {
  val ErrorFetchArchives    = "error_fetch_archives"
  val ErrorArchiveDownload  = "error_archive_download"
  val ArchiveNoGames        = "archive_no_games"
  val NoNewUniqueGames      = "no_new_unique_games"
  val GamesAppended         = "games_appended"
  val ErrorAppendGames      = "error_append_games"
  val ArchiveProcessed      = "archive_processed"
  val ErrorAppendProcessed  = "error_append_processed"
}
