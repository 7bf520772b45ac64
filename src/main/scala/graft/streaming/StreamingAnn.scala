package graft.streaming

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.streaming.DataStreamWriter

import graft.operators.{Partitioning, Similarity}
import graft.functions.VectorFunctions._
import graft.GraftOps._

/** STREAMING ANN INDEX MAINTENANCE — the last loop of the pipeline: new
  * embeddings arrive per micro-batch, the LSH bucket table grows
  * INCREMENTALLY (per-row signature expressions over the batch only —
  * the accumulated corpus is never re-bucketed), and batch-vs-corpus
  * top-k queries probe the stored index (the q64 incremental-dedup
  * shape, ANN edition).
  *
  * Scale contract:
  *  - Per batch, signature work is O(|batch|·tables) row expressions;
  *    the corpus index is append-only parquet, so maintenance cost is
  *    independent of corpus size.
  *  - Queries broadcast their bucket keys into the stored bucket table
  *    (an equi-join on (t, bucket) — candidates only materialize within
  *    colliding buckets), then exact cosine runs on candidates against a
  *    column-pruned corpus scan. The corpus never shuffles.
  *  - Idempotency is BATCH-VERSIONED (the [[StreamingUpsert]] commit
  *    discipline): each micro-batch writes `batch=<id>` partition
  *    directories with overwrite, so an at-least-once replay of a batch
  *    rewrites the same files instead of appending duplicates — corpus
  *    and bucket table can never drift apart permanently (a crash
  *    between the two writes is healed by the replay's overwrite).
  *
  * Parity gate ([[graft.streaming.StreamingAnnSpec]]): after any batch
  * sequence, the accumulated bucket table must equal
  * `Similarity.lshBuckets` over the accumulated corpus row-for-row, and
  * [[topKAgainstIndex]] must reproduce `Similarity.annTopK` on the same
  * corpus exactly — the incremental path buys latency, never answers.
  */
object StreamingAnn {

  /** Append one micro-batch to the corpus + bucket index.
    * `batch` carries (vec_id, embedding); duplicate ids within the
    * batch keep one row (deterministic min struct). Returns rows
    * appended. Replaying the same `batchId` (the foreachBatch replay
    * contract: same data) overwrites the same partition directories —
    * a no-op for the accumulated state.
    */
  def annAppendBatch(batch: DataFrame, batchId: Long, corpusPath: String,
                     bucketPath: String, tables: Int = 16,
                     planesPerTable: Int = 4): Long = {
    import org.apache.spark.sql.GraftColumns.unpersistCheckpoint
    val fresh = batch.select(col("vec_id"), col("embedding"))
      .groupBy(col("vec_id"))
      .agg(min(struct(col("embedding"))).as("__e"))
      .select(col("vec_id"), col("__e.embedding").as("embedding"))
      .graftCheckpoint()
    try {
      val n = fresh.count()
      if (n > 0) {
        fresh.write.mode("overwrite")
          .parquet(s"$corpusPath/batch=$batchId")
        Similarity.lshBuckets(fresh, tables, planesPerTable)
          .write.mode("overwrite")
          .parquet(s"$bucketPath/batch=$batchId")
      }
      n
    } finally unpersistCheckpoint(fresh)
  }

  /** Read the accumulated corpus (batch partition column dropped). */
  def readCorpus(spark: org.apache.spark.sql.SparkSession,
                 corpusPath: String): DataFrame =
    spark.read.parquet(corpusPath).select("vec_id", "embedding")

  /** Read the accumulated bucket index. */
  def readBuckets(spark: org.apache.spark.sql.SparkSession,
                  bucketPath: String): DataFrame =
    spark.read.parquet(bucketPath).select("vec_id", "t", "bucket")

  /** Top-k cosine neighbors for a (small, broadcastable) query set
    * against the STORED index: query bucket keys are per-row
    * expressions, candidates come from the (t, bucket) equi-join into
    * the accumulated bucket table, exact cosine + rank runs on
    * candidates only. Self-matches excluded by id (so corpus members
    * can replay as queries for the parity gate). Output
    * (qid, neighbor_id, rnk, sim_e6) — [[Similarity.annTopK]]'s exact
    * schema and arithmetic.
    */
  def topKAgainstIndex(queries: DataFrame, corpusPath: String,
                       bucketPath: String, k: Int, tables: Int = 16,
                       planesPerTable: Int = 4): DataFrame = {
    val spark = queries.sparkSession
    val corpus = readCorpus(spark, corpusPath)
    val buckets = readBuckets(spark, bucketPath)
    val qb = Similarity.lshBuckets(
        queries.select(col("qid").as("vec_id"), col("qv").as("embedding")),
        tables, planesPerTable)
      .select(col("vec_id").as("qid"), col("t"), col("bucket"))
    val cand = buckets.join(broadcast(qb), Seq("t", "bucket"))
      .filter(col("vec_id") =!= col("qid"))
      .select("qid", "vec_id").distinct()
    val scored = cand
      .join(broadcast(queries.select(col("qid"), col("qv"))), "qid")
      .join(corpus.select(col("vec_id"), col("embedding").as("cv")),
            "vec_id")
      .withColumn("cos", cosine(col("qv"), col("cv")))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cos").desc, col("vec_id").asc)
    scored
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("qid"), col("vec_id").as("neighbor_id"), col("rnk"),
              e6(col("cos")).as("sim_e6"))
  }

  /** The stream: embedding micro-batches → incremental index append.
    * At-least-once source delivery + batch-versioned overwrite =
    * effectively-once index rows (the [[StreamingDedup.dedupStream]]
    * contract).
    */
  def annStream(emb: DataFrame, corpusPath: String, bucketPath: String,
                checkpointDir: String, tables: Int = 16,
                planesPerTable: Int = 4): DataStreamWriter[Row] =
    emb.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        annAppendBatch(batch, batchId, corpusPath, bucketPath,
                       tables, planesPerTable)
        (): Unit
      }
}
