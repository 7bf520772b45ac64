package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}
import org.apache.spark.sql.Row

import graft.etl.{ArchiveSource, GameTransforms, GamesStore}

/** Structured Streaming variant of the ingest pipeline (SURVEY.md §2.10):
  * the reference's periodic incremental batch (daily cron + `state.json`
  * checkpoint + dedup-on-append) maps 1:1 onto a file-source stream with a
  * checkpointed, idempotent `foreachBatch` sink.
  *
  * | reference mechanism              | here                              |
  * |----------------------------------|-----------------------------------|
  * | daily cron trigger               | `Trigger.AvailableNow` per run    |
  * | `state.json` watermark/ledger    | streaming checkpoint dir          |
  * | re-fetch current month           | file source picks up new files    |
  * | dedup by game_url on append      | anti-join in the sink             |
  * | append may fail → retried run    | `foreachBatch` replays batch id   |
  *
  * At-least-once file delivery + the idempotent anti-join append =
  * effectively-once rows, the same contract the reference reaches with
  * ledger-after-data write ordering.
  */
object StreamingIngest {

  /** Streaming read of archive-payload JSON files landing in `landingDir`
    * (one archive document per file), exploded to raw games — the batch
    * reader's projection ([[ArchiveSource.landing]]) over a file-source
    * stream. The explicit schema streaming sources require comes from it.
    */
  def readLandingStream(spark: SparkSession, landingDir: String,
                        maxFilesPerTrigger: Int = 16): DataFrame =
    ArchiveSource.landing((schema, options) =>
      spark.readStream.schema(schema).options(options)
        .option("maxFilesPerTrigger", maxFilesPerTrigger)
        .json(landingDir))

  /** Full streaming pipeline: landing files → projected 13-col fact rows →
    * idempotent batch append into the store.
    *
    * Dedup lives ENTIRELY in the sink's anti-join (exact, unbounded-safe).
    * A watermarked `dropDuplicates` on the stream would drop a backfilled
    * months-old archive's games as "late", since they arrive below the
    * watermark: silent data loss, where the reference ingests old months.
    */
  def ingestStream(spark: SparkSession, landingDir: String, store: GamesStore,
                   username: String, checkpointDir: String): DataStreamWriter[Row] =
    GameTransforms.projectFact(
      readLandingStream(spark, landingDir)
        .filter(col("game").isNotNull)
        .withColumn("username", lit(username)))
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // foreachBatch may replay a batch after a crash; appendGames'
        // anti-join makes the replay a no-op (effectively-once).
        store.ensureAll(batch.sparkSession)
        store.appendGames(batch.sparkSession, batch)
        (): Unit
      }

  /** Run one incremental pass over whatever has landed (the streaming
    * analog of the reference's daily cron run) and block until done.
    */
  def runAvailableNow(writer: DataStreamWriter[Row]): Unit = {
    val q = writer.trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
  }
}
