package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Readers for the chess.com-shaped sources (SURVEY.md §2.1 S2/S3).
  *
  * Archive listing is one tiny request per user → driver-side. Archive
  * payload fetching is the fan-out path: [[readArchives]] runs it INSIDE
  * executors, one task per archive (up to 64 tasks), so a backfill of
  * thousands of archives parallelizes across the cluster instead of
  * serializing on the driver the way the reference does
  * (`fetch_and_post.py:331-344`). It is the only distributed fetch: it
  * takes the caller's [[Fetcher]] instance, which a DataSourceV2
  * connector, building its reader from string options on executors,
  * could not.
  */
object ArchiveSource {

  /** Synthetic status for a 200 response whose body is not valid JSON.
    * The reference's `resp.json()` RAISES on a malformed body so the
    * archive stays unprocessed and is retried next run
    * (`fetch_and_post.py:73,340-344`); without this flag a parse failure
    * would be indistinguishable from a genuinely empty archive and be
    * permanently marked processed — silent data loss.
    */
  val ParseFailureStatus = 598

  /** S2: fetch + parse the archive list for one user. Driver-side. */
  def listArchives(fetcher: Fetcher, baseUrl: String, username: String)
      : Either[Int, Seq[String]] =
    fetcher.fetch(s"$baseUrl/pub/player/$username/games/archives").map {
      body =>
        // tiny payload: parse with Jackson (ships with Spark)
        val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
        val node = mapper.readTree(body).path("archives")
        (0 until node.size()).map(i => node.get(i).asText())
    }

  /** S3: distributed fetch of archive payloads → exploded raw games.
    *
    * Output columns: `username`, `archive_url`, `game` (Schemas.gameType),
    * plus `fetch_status` rows for failed archives (game = null) so the
    * caller can ledger/status-log failures without a second pass.
    *
    * Every task fetches through its own deserialized copy of `fetcher`;
    * a [[RateLimitedFetcher]] inside it still paces all of them, through
    * one gate per executor JVM.
    */
  def readArchives(spark: SparkSession, fetcher: Fetcher,
                   archives: Seq[(String, String)]): DataFrame = {
    import spark.implicits._
    // contiguous slices, one archive per task up to 64 tasks: the list
    // lives on the driver, so slicing it costs no shuffle
    val slices = math.max(1, math.min(archives.size, 64))
    val fetched = spark
      .createDataset(spark.sparkContext.parallelize(archives, slices))
      .map { case (user, url) =>
        fetcher.fetch(url) match {
          case Right(body)  => (user, url, body, 200)
          case Left(status) => (user, url, null: String, status)
        }
      }
      .toDF("username", "archive_url", "body", "fetch_status")

    fetched
      .withColumn("parsed", from_json(col("body"), Schemas.archiveType))
      // from_json is PERMISSIVE (malformed → all-null struct), so test the
      // body's JSON validity directly: get_json_object('$') is null iff the
      // document doesn't parse. A parse failure is remapped to a failure
      // status so callers ledger it like a failed fetch (→ retried next
      // run) instead of recording an empty archive.
      .withColumn("fetch_status",
        when(col("fetch_status") === 200 &&
               get_json_object(col("body"), "$").isNull,
             lit(ParseFailureStatus))
          .otherwise(col("fetch_status")))
      .select(col("username"), col("archive_url"), col("fetch_status"),
              explode_outer(col("parsed.games")).as("game"))
  }

  /** Read already-landed archive JSON files (one JSON doc per file) — the
    * batch path when payloads are staged to a landing dir first.
    */
  def readLanding(spark: SparkSession, landingDir: String): DataFrame =
    landing((schema, options) =>
      spark.read.schema(schema).options(options).json(landingDir))

  /** The landing-file read shared by [[readLanding]] and the streaming
    * reader ([[graft.streaming.StreamingIngest.readLandingStream]]): the
    * archive schema, one multi-line JSON document per file, the file's
    * path as `archive_url`, one row per game (`explode_outer`, so an empty
    * archive still yields a null-game row). `json` opens the files with
    * the given schema and reader options, batch or streaming.
    */
  private[graft] def landing(
      json: (StructType, Map[String, String]) => DataFrame): DataFrame =
    json(Schemas.archiveType, Map("multiLine" -> "true"))
      .withColumn("archive_url", input_file_name())
      .select(col("archive_url"), explode_outer(col("games")).as("game"))
}
