package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

import graft.operators.{Dedup, Membership}
import graft.GraftOps._

/** Streaming corpus deduplication — the operational composition of the
  * dedup pack (SURVEY §8.5) with Structured Streaming: documents arrive
  * as a stream (a crawl feed), and each micro-batch is deduplicated
  * against the ACCUMULATED corpus table before being appended to it.
  *
  * Per `foreachBatch` micro-batch, three pruning stages, cheapest first:
  *  1. within-batch exact dedup (hash-agg on md5, keep min id),
  *  2. batch-vs-corpus exact dedup via the bloom-prefiltered anti-join
  *     ([[Membership.newKeys]] on the content hash — the corpus is
  *     scanned, never shuffled),
  *  3. batch-vs-corpus NEAR-dup via [[Dedup.incrementalMinhashPairs]]
  *     (batch side broadcasts; survivors of any cross pair are dropped).
  * Survivors append to the corpus table.
  *
  * Why `foreachBatch` and not stateful streaming operators: the dedup
  * state IS the corpus table (all content ever seen). Keeping it in the
  * state store would duplicate the corpus into executor state with no
  * eviction policy (near-dup needs shingle sets, not just keys — state
  * would exceed the data), and `dropDuplicates` cannot express
  * similarity. The table-as-state shape is also what survives a 100 TB
  * corpus: each batch pays two corpus streaming passes (bloom build is
  * one aggregate; in a long-lived deployment the bloom can be built once
  * and mutated incrementally outside this loop) and zero corpus
  * shuffles.
  *
  * Exactness: stage 2 equals a plain anti-join at any fpp; stage 3 is
  * LSH-with-exact-verify at the same recall bound as the batch operator
  * (q22/q64 oracles). Crash replay of a micro-batch is idempotent: a
  * replayed batch's rows are all either already in the corpus (dropped
  * by stage 2) or near-dups of their own earlier append (dropped by 3).
  */
object StreamingDedup {

  /** One micro-batch of corpus-append dedup; factored out of the stream
    * so batch callers (a backfill loop) share the exact code path.
    * Returns the number of appended (kept) rows.
    */
  /** `minExpectedCorpusKeys` is a bloom-sizing FLOOR, not the size: the
    * bloom is sized from `max(floor, actual corpus row count)` each batch
    * (the count is parquet-metadata-cheap), so fpp cannot silently decay
    * as the corpus outgrows a static estimate — undersizing a bloom never
    * breaks exactness (stage 2 confirms every survivor) but does decay
    * its pruning toward a plain anti-join. The floor buys headroom for
    * within-run growth across many batches.
    */
  def dedupAppendBatch(batch: DataFrame, corpusPath: String,
                       n: Int = 3, num: Int = 4, den: Int = 5,
                       minExpectedCorpusKeys: Long = 1000000L): Long = {
    import org.apache.spark.sql.GraftColumns.unpersistCheckpoint
    val spark = batch.sparkSession
    // 1a. within-batch exact: one keeper (min doc_id) per distinct text
    val keep = Dedup.exactByContent(batch, "doc_id", "text")
      .select(col("keep_id").as("doc_id"))
    val b1a = batch.join(keep, Seq("doc_id"), "left_semi")

    // 1b. within-batch NEAR-dups (two near-identical crawls of a page
    // landing in the same micro-batch): keeper selection over the pair
    // components — without this, both copies would pass stages 2 and 3
    // (neither is in the corpus yet) and the pair would durably enter
    // the corpus, violating the "corpus already deduped" precondition
    // stage 3 relies on
    val intraPairs = Dedup.minhashDedupPairs(b1a, "doc_id", "text",
                                             n, num, den)
    val (b1Flagged, intraLabels) =
      Dedup.applyDedupReleasable(b1a, "doc_id", intraPairs)
    // b1's lineage carries minhash banding + connected-components joins,
    // and Membership.newKeys scans its input up to four times — checkpoint
    // once so each scan is a block read, not a dedup-pipeline replay. The
    // intra-dedup checkpoints have no consumers past this materialization.
    val b1 = try {
      b1Flagged
        .filter(col("kept")).drop("component", "kept")
        .withColumn("content_md5", md5(col("text")))
        .graftCheckpoint()
    } finally {
      unpersistCheckpoint(intraPairs)
      unpersistCheckpoint(intraLabels)
    }

    val corpusExists = new org.apache.hadoop.fs.Path(corpusPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
      .exists(new org.apache.hadoop.fs.Path(corpusPath))
    val (kept, crossPairs) =
      if (!corpusExists) (b1, None)
      else {
        val corpus = spark.read.parquet(corpusPath)
        // 2. exact vs corpus (bloom-prefiltered, corpus unshuffled);
        // bloom sized from the ACTUAL corpus size (row count is an upper
        // bound on distinct keys, and parquet count() is metadata-only)
        val b2 = Membership.newKeys(
          b1, corpus.select(col("content_md5")), "content_md5",
          math.max(minExpectedCorpusKeys, corpus.count()))
        // 3. near-dup vs corpus: batch ids carrying any cross pair drop
        val pairs = Dedup.incrementalMinhashPairs(
          corpus, b2, "doc_id", "text", n, num, den)
        val nearDup = pairs
          .select(col("batch_id").as("doc_id")).distinct()
        (b2.join(nearDup, Seq("doc_id"), "left_anti"), Some(pairs))
      }
    // localCheckpoint before append: the plan reads the corpus table it
    // is about to append to — materialize first so the write cannot
    // observe its own output files. Every checkpoint this batch created
    // is released once the append lands — a long-lived stream must not
    // pin one RDD per micro-batch until driver GC.
    val out = kept.graftCheckpoint()
    try {
      out.write.mode("append").parquet(corpusPath)
      out.count()
    } finally {
      unpersistCheckpoint(out)
      unpersistCheckpoint(b1)
      crossPairs.foreach(unpersistCheckpoint(_))
    }
  }

  /** The stream: document micro-batches → three-stage dedup → corpus
    * append. At-least-once source delivery + idempotent dedup-append =
    * effectively-once corpus rows (same contract as
    * [[StreamingIngest.ingestStream]]).
    */
  def dedupStream(docs: DataFrame, corpusPath: String, checkpointDir: String,
                  n: Int = 3, num: Int = 4, den: Int = 5)
      : DataStreamWriter[Row] =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        dedupAppendBatch(batch, corpusPath, n, num, den)
        (): Unit
      }

  /** [[dedupAppendBatch]] PLUS corpus-exact-SUBSTRING dedup in the same
    * micro-batch (r12 verdict #4): the daily-crawl pipeline gets
    * within-batch → corpus-exact → corpus-near-dup → corpus-substring
    * in one stream. The substring state is q239's postings table —
    * 16 B per distinct corpus L-gram — kept as a VERSIONED parquet
    * table under `postingsRoot` with [[StreamingAgg]]'s discipline:
    * batch N's pass reads the latest committed version STRICTLY BELOW
    * N, so a replayed batch sees exactly the predecessor it saw the
    * first time and recomputes the same cleaned text.
    *
    * Stage order is substring-cut FIRST ([[Dedup
    * .incrementalDuplicatedSubstringSpans]] against the prior postings
    * + within-batch keep-first via the same op), THEN the exact/near
    * stages on the CLEANED text. The order is what makes crash replay
    * a no-op: the text that would be appended is deterministic given
    * (prior postings, batch), so a replayed batch's cleaned md5 is
    * already in the corpus and the exact stage drops it — cutting
    * after the exact stage would re-append a replayed row whose RAW
    * text differs from its appended cleaned copy.
    *
    * Appended rows carry `__batch_id`, and the postings merge derives
    * its delta FROM THE CORPUS TABLE (`__batch_id = batchId` rows),
    * not from the in-flight batch: after a crash anywhere between the
    * corpus append and the state write, the replay re-derives the
    * identical delta from what actually landed, so the committed
    * version `batch=<id>` always equals
    * `substringGramPostings(corpus table)` — the invariant
    * `StreamingDedupSpec` re-proves after every batch. The corpus this
    * variant writes includes `__batch_id`; it is not interchangeable
    * with [[dedupAppendBatch]]'s corpus.
    */
  def dedupAppendBatchSubstr(batch: DataFrame, corpusPath: String,
                             postingsRoot: String, batchId: Long,
                             minLen: Int = 25,
                             n: Int = 3, num: Int = 4, den: Int = 5,
                             minExpectedCorpusKeys: Long = 1000000L)
      : Long = {
    import org.apache.spark.sql.GraftColumns.unpersistCheckpoint
    val spark = batch.sparkSession
    // Fail LOUD on a corpus layout this derivation does not understand
    // BEFORE appending to it (ADVICE r13): the postings delta below is
    // derived from the corpus's flat top-level *.parquet part files
    // (the only layout [[dedupAppendBatch]] ever writes). A partitioned
    // or nested corpus (a foreign writer's layout) would make the flat
    // glob see nothing — the delta silently lands empty, breaking the
    // postings == recompute invariant with no error — and our flat
    // append would corrupt the foreign layout on top.
    locally {
      val cp = new org.apache.hadoop.fs.Path(corpusPath)
      val fs = cp.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(cp)) {
        val entries = fs.listStatus(cp).filterNot { s =>
          val n = s.getPath.getName
          n.startsWith("_") || n.startsWith(".")
        }
        val nonFlat = entries.filter(s =>
          s.isDirectory || !s.getPath.getName.endsWith(".parquet"))
        require(nonFlat.isEmpty,
          s"corpus at $corpusPath holds non-flat entries " +
            s"(${nonFlat.take(3).map(_.getPath.getName).mkString(", ")}" +
            s"${if (nonFlat.length > 3) ", …" else ""}): the postings " +
            "delta derivation requires a FLAT directory of *.parquet " +
            "part files; a partitioned/nested corpus layout would " +
            "silently yield an empty delta and break the " +
            "postings == recompute invariant")
      }
    }
    val postingsPrev = StreamingAgg
      .latestState(spark, postingsRoot, beforeBatchId = batchId)
      .map(_._2.select(col("gram_h1"), col("gram_h2")))
      .getOrElse {
        import org.apache.spark.sql.types._
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[Row],
          StructType(Seq(StructField("gram_h1", LongType),
                         StructField("gram_h2", LongType))))
      }
    // corpus-substring + within-batch keep-first cut, text rewritten
    val spans = Dedup.incrementalDuplicatedSubstringSpans(
      postingsPrev, batch, "doc_id", "text", minLen)
    val cleaned = try {
      batch.drop("text")
        .join(graft.operators.Intervals
                .cutSpansText(batch, "doc_id", "text", spans,
                              startCol = "span_start", lenCol = "span_len",
                              broadcastSpanCap = graft.operators.Intervals
                                .DefaultBroadcastSpanCap)
                .select(col("doc_id"), col("cut_text").as("text")),
              Seq("doc_id"))
        .withColumn("__batch_id", lit(batchId))
        .graftCheckpoint()
    } finally unpersistCheckpoint(spans)
    try {
      val appended = dedupAppendBatch(cleaned, corpusPath, n, num, den,
                                      minExpectedCorpusKeys)
      // postings delta FROM THE TABLE: exactly what landed this batch id
      // (a batch may empty out entirely — the corpus dir then may not
      // be readable parquet yet, and the delta is empty by definition)
      val fs = new org.apache.hadoop.fs.Path(corpusPath)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val hasParts = Option(fs.globStatus(
          new org.apache.hadoop.fs.Path(corpusPath + "/*.parquet")))
        .exists(_.nonEmpty)
      val delta =
        if (!hasParts) postingsPrev.limit(0)
        else Dedup.substringGramPostings(
          spark.read.parquet(corpusPath)
            .filter(col("__batch_id") === batchId),
          "doc_id", "text", minLen)
      postingsPrev.unionByName(delta).distinct()
        .write.mode("overwrite")
        .parquet(s"$postingsRoot/batch=$batchId")
      appended
    } finally unpersistCheckpoint(cleaned)
  }

  /** The substring-augmented stream: [[dedupAppendBatchSubstr]] per
    * micro-batch under `foreachBatch`, postings state versioned by
    * batch id. Same effectively-once contract as [[dedupStream]].
    */
  def dedupSubstrStream(docs: DataFrame, corpusPath: String,
                        postingsRoot: String, checkpointDir: String,
                        minLen: Int = 25,
                        n: Int = 3, num: Int = 4, den: Int = 5)
      : DataStreamWriter[Row] =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        dedupAppendBatchSubstr(batch, corpusPath, postingsRoot, batchId,
                               minLen, n, num, den)
        (): Unit
      }
}
