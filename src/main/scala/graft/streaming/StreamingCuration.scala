package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

import graft.GraftOps._
import graft.queries.CurationQueries

/** The q269 curation DAG as a STREAMING pipeline (r13 verdict #6):
  * every micro-batch of raw documents flows through the full 11-stage
  * DAG, and after each batch the pipeline's ledger equals `q269` run
  * as a BATCH job over the union of every document seen so far —
  * exactly, row for row (`StreamingCurationSpec` pins the identity and
  * the replay no-op).
  *
  * The composition follows the stages' own algebra
  * ([[CurationQueries.curationDagLedger]]'s split):
  *
  *  - Stages 0–3 (HTML main-content, NFC, quality rules) are
  *    PER-DOCUMENT maps/filters — they commute with union, so the
  *    stream runs them on each new batch ALONE and appends the
  *    survivors to a versioned state table. This is the incremental
  *    win: the per-document text transforms (the bulk of per-byte
  *    cost at crawl scale) run once per document ever.
  *  - Stages 4–10 (minhash keeper election, substring cut, calibrated
  *    lang-id, DSIR, epoch mix, packing, sharding) are CORPUS-GLOBAL:
  *    a new batch can merge two old near-dup components, shift the
  *    calibration base rate, or re-rank every DSIR quartile, so any
  *    "incremental" variant would DIVERGE from the batch DAG. The
  *    stream recomputes them over the accumulated stage-3 survivors —
  *    the only composition whose result is the batch semantics. (At
  *    100 TB the recompute cost is bounded by scheduling cadence, not
  *    by the stream: run stage 4+ per day over state that batches
  *    appended per hour.)
  *
  * State ([[StreamingAgg]]'s versioned-parquet discipline, one dir per
  * batch id, `_SUCCESS`-gated, batch N reads the latest version
  * STRICTLY BELOW N):
  *
  *  - `<stateRoot>/stage3/batch=<id>`: the FULL accumulated stage-3
  *    survivor set (predecessor ∪ this batch's survivors) — full, not
  *    delta, so one read serves the recompute and a replayed batch
  *    rewrites its version byte-identically from (predecessor, batch).
  *  - `<stateRoot>/ledger03/batch=<id>`: the CUMULATIVE stage-0–3
  *    ledger rows (predecessor + this batch's per-stage deltas; valid
  *    because stages 0–3 commute with union).
  *  - `<stateRoot>/ledger/batch=<id>`: the full 11-row ledger after
  *    this batch — rows 0–3 cumulative, rows 4–10 from the global
  *    recompute. This is the pipeline's output table.
  */
object StreamingCuration {

  private val LedgerCols =
    Seq("stage_idx", "stage", "rows_in", "rows_out", "tokens_out")

  /** One micro-batch through the DAG; returns the 11-row ledger that
    * equals batch q269 over every document seen so far. Idempotent per
    * `batchId` (crash replay rewrites the same versions from the same
    * inputs).
    */
  def curationBatch(batch: DataFrame, stateRoot: String,
                    batchId: Long): DataFrame = {
    val s = batch.sparkSession
    val sEnc = s
    import sEnc.implicits._
    import org.apache.spark.sql.GraftColumns

    // stages 0–3 on the NEW batch only (per-document, commutes with union)
    val (d3b, led03b) = CurationQueries.curationStages0to3(s, batch)
    val prior = StreamingAgg
      .latestState(s, s"$stateRoot/stage3", beforeBatchId = batchId)
      .map(_._2)
    val acc = try {
      prior.fold(d3b)(p => p.unionByName(d3b)).graftCheckpoint()
    } finally GraftColumns.unpersistCheckpoint(d3b)
    acc.write.mode("overwrite").parquet(s"$stateRoot/stage3/batch=$batchId")

    // cumulative 0–3 ledger: predecessor + this batch's deltas
    val prior03: Map[Long, (Long, Long, Long)] = StreamingAgg
      .latestState(s, s"$stateRoot/ledger03", beforeBatchId = batchId)
      .map(_._2.collect().map { r: Row =>
        r.getLong(0) -> ((r.getLong(2), r.getLong(3), r.getLong(4)))
      }.toMap)
      .getOrElse(Map.empty)
    val led03 = led03b.map { case (i, name, rin, rout, toks) =>
      val (pin, pout, ptok) =
        prior03.getOrElse(i, (0L, 0L, 0L))
      (i, name, rin + pin, rout + pout, toks + ptok)
    }
    led03.toDF(LedgerCols: _*).coalesce(1)
      .write.mode("overwrite").parquet(s"$stateRoot/ledger03/batch=$batchId")

    // stages 4–10 recomputed over the ACCUMULATED survivors (global
    // semantics; curationStages4to10 owns acc's checkpoint release)
    val n3 = led03.last._4
    val led410 = CurationQueries.curationStages4to10(s, acc, n3)

    val ledger = (led03 ++ led410).toDF(LedgerCols: _*)
      .orderBy("stage_idx")
    ledger.coalesce(1)
      .write.mode("overwrite").parquet(s"$stateRoot/ledger/batch=$batchId")
    ledger
  }

  /** The stream: raw-document micro-batches → [[curationBatch]] under
    * `foreachBatch`. At-least-once source delivery + per-batch-id
    * idempotent state versions = effectively-once ledger/state (the
    * [[StreamingDedup.dedupStream]] contract).
    */
  def curationStream(docs: DataFrame, stateRoot: String,
                     checkpointDir: String): DataStreamWriter[Row] =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        curationBatch(batch, stateRoot, batchId)
        (): Unit
      }
}
