package graft.etl

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Idempotent parquet-backed store for the games fact, ledger, and status
  * log (SURVEY.md §2.2 K1–K4, §2.4 F1).
  *
  * Dedup plan: the candidate batch is LEFT ANTI joined against the stored
  * `game_url` key set. The key scan is column-pruned (Catalyst reads only
  * the key column from parquet), and Spark plans the join as a
  * `BroadcastHashJoin … LeftAnti, BuildRight`: the STORE's keys are the
  * broadcast side, collected to the driver and shipped to every task,
  * while the batch streams through without a shuffle. That holds while the
  * key set fits under the broadcast threshold; past it the join becomes a
  * sort-merge join that shuffles the whole key column every run. A
  * bucketed (or archive-month-scoped) probe for such stores is an open
  * item, not built here.
  */
final class GamesStore(root: String) extends Serializable {

  val gamesPath: String  = s"$root/games"
  val ledgerPath: String = s"$root/processed_archives"
  val statusPath: String = s"$root/status_log"

  // --------------------------------------------------------------- DDL/K4

  /** Ensure a table dir exists with the expected schema; on mismatch the
    * table is reset (truncate-and-rewrite-header semantics of the
    * reference's sheet repair, `fetch_and_post.py:197-227`). The check
    * compares the (name, type) pairs of [[footerSchema]] against the
    * expected schema's as a prefix, and runs no Spark job.
    */
  def ensure(spark: SparkSession, path: String, schema: StructType): Unit = {
    def emptyWrite(): Unit =
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
        .write.mode("overwrite").parquet(path)
    if (!exists(spark, path)) emptyWrite()
    else {
      val actual = footerSchema(spark, path)
      val expected = schema.fields.map(f => (f.name, f.dataType)).toSeq
      val got = actual.fields.map(f => (f.name, f.dataType)).toSeq
      if (!got.startsWith(expected)) emptyWrite()
    }
  }

  /** The schema in the footer of the table's first data file by name,
    * read on the driver: the Spark schema a Spark writer stores under
    * `org.apache.spark.sql.parquet.row.metadata`, else the conversion of
    * the parquet schema — what a schema-less read infers with one job.
    * A directory with no data file is left to that read, which raises
    * Spark's own "unable to infer schema" error.
    */
  private def footerSchema(spark: SparkSession, path: String): StructType = {
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
    import org.apache.spark.sql.internal.SQLConf
    val conf = spark.sparkContext.hadoopConfiguration
    val dir = new Path(path)
    val first = dir.getFileSystem(conf).listStatus(dir)
      .collect { case s if s.isFile => s.getPath }
      .filter(p => !p.getName.startsWith("_") && !p.getName.startsWith("."))
      .minByOption(_.getName)
    first match {
      case None => spark.read.parquet(path).schema
      case Some(file) =>
        val reader = ParquetFileReader.open(HadoopInputFile.fromPath(file, conf))
        val footer = try reader.getFooter finally reader.close()
        ParquetFileFormat.readSchemaFromFooter(new Footer(file, footer),
          new ParquetToSparkSchemaConverter(SQLConf.get))
    }
  }

  def ensureAll(spark: SparkSession): Unit = {
    ensure(spark, gamesPath, Schemas.gamesFact)
    ensure(spark, ledgerPath, Schemas.ledger)
    ensure(spark, statusPath, Schemas.statusLog)
  }

  private def exists(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  // --------------------------------------------------------------- reads

  /** Each table is read with its pinned schema ([[Schemas]]): a
    * schema-less parquet read runs a Spark job to infer it from a footer.
    */
  def games(spark: SparkSession): DataFrame =
    spark.read.schema(Schemas.gamesFact).parquet(gamesPath)

  /** Typed view of the fact (same scan; [[GameRow]]'s encoder is
    * checked against [[Schemas.gamesFact]] at analysis time).
    */
  def gamesTyped(spark: SparkSession): org.apache.spark.sql.Dataset[GameRow] = {
    import spark.implicits._
    games(spark).as[GameRow]
  }
  def ledger(spark: SparkSession): DataFrame =
    spark.read.schema(Schemas.ledger).parquet(ledgerPath)
  def status(spark: SparkSession): DataFrame =
    spark.read.schema(Schemas.statusLog).parquet(statusPath)

  /** S4: existing dedup keys — a column-pruned scan. No `distinct`: the
    * store holds each key once, and the anti-join's result is the same
    * with repeated keys, so deduping them would only add an aggregate and
    * an exchange over every stored key before the broadcast.
    */
  def existingGameUrls(spark: SparkSession): DataFrame =
    games(spark).select("game_url")
      .filter(length(trim(col("game_url"))) > 0)

  // --------------------------------------------------------------- writes

  /** K1 + F1: idempotent batched append. Drops rows whose `game_url`
    * already exists (cross-run dedup) and duplicates within the batch
    * itself (intra-batch dedup), keeping rows with empty urls — the
    * reference appends those untracked (`fetch_and_post.py:362-370`).
    * Of a batch's rows sharing a `game_url`, the first by `firstBy` lands.
    * Returns the number of rows appended per `username`, read from the
    * staged parquet.
    *
    * The deduped batch is STAGED to a temp dir before the append: the
    * dedup plan reads `gamesPath` (the anti-join side), so appending from
    * the live plan would race its own scan if any partition were
    * recomputed mid-write (cache eviction / executor loss under a mere
    * `cache()` could recompute the anti-join against a half-appended
    * table, dropping or duplicating rows). Writing the staged parquet
    * severs the read-write cycle deterministically; the append then only
    * reads the staging dir.
    */
  def appendGames(spark: SparkSession, batch: DataFrame,
                  firstBy: Seq[Column] = Seq(col("archive_url"))): Map[String, Long] = {
    val keyed   = batch.filter(length(trim(col("game_url"))) > 0)
    val unkeyed = batch.filter(length(trim(col("game_url"))) <= 0)
    val fresh = keyed
      .join(existingGameUrls(spark), Seq("game_url"), "left_anti")
      .withColumn("_first", row_number().over(
        Window.partitionBy(col("game_url")).orderBy(firstBy: _*)))
      .filter(col("_first") === 1)
      .select(batch.columns.map(col).toSeq: _*)
      .union(unkeyed)
    val stagingPath =
      s"$root/_staging/games_${java.util.UUID.randomUUID().toString}"
    fresh.write.mode("overwrite").parquet(stagingPath)
    try {
      val staged = spark.read.schema(Schemas.gamesFact).parquet(stagingPath)
      val appended = staged.groupBy(col("username")).count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      if (appended.nonEmpty) staged.write.mode("append").parquet(gamesPath)
      appended
    } finally {
      val p = new org.apache.hadoop.fs.Path(stagingPath)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(p, true)
    }
  }

  /** K2: ledger append, BATCHED — one append job (one file) per call,
    * however many archives it covers; an ingest run makes one call for
    * all its users. Per-row appends write a one-row parquet file each; a
    * 10k-archive backfill would litter the table with 20k+ tiny files
    * whose footers dominate every later scan.
    */
  def appendLedgerRows(spark: SparkSession,
                       rows: Seq[(String, String, Long)]): Unit = {
    if (rows.isEmpty) return
    import spark.implicits._
    val ts = new java.sql.Timestamp(System.currentTimeMillis())
    rows.map { case (u, a, n) => (u, a, ts, n.toInt) }
      .toDF("username", "archive_url", "processed_at_utc", "game_count")
      .coalesce(1)
      .write.mode("append").parquet(ledgerPath)
  }

  /** K3: best-effort status append, batched like the ledger (errors
    * swallowed, like the reference — a failed log line must never fail the
    * run). Row shape: (username, stage, message, httpStatus).
    */
  def appendStatusRows(spark: SparkSession, runId: String,
                       rows: Seq[(String, String, String, String)]): Unit =
    try {
      if (rows.isEmpty) return
      import spark.implicits._
      val ts = new java.sql.Timestamp(System.currentTimeMillis())
      rows.map { case (user, stage, msg, http) => (runId, user, stage, msg, http, ts) }
        .toDF("run_id", "username", "stage", "message", "http_status",
              "timestamp_utc")
        .coalesce(1)
        .write.mode("append").parquet(statusPath)
    } catch { case scala.util.control.NonFatal(_) => () }
}
