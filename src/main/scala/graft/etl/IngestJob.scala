package graft.etl

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** End-to-end incremental ingest run (SURVEY.md §3.1 lifecycle), one
  * distributed pass over every pending user.
  *
  * The driver lists every user's archives (S2) and skips the processed
  * ones (F2). The rest costs a fixed set of Spark jobs however many users
  * the CSV names: one distributed fetch of every pending (user, archive)
  * pair (S3), one per-archive aggregate (fetch status, game count, newest
  * `end_time`), one dedup-append of all users' games (P1/F1/K1), one
  * ledger append (K2), one status append (K3) and one atomic state save
  * (O5/K5). Per-user Spark passes would cost about twenty jobs a user,
  * and on a daily run's few hundred games that framework cost, not the
  * data, is the run's time.
  *
  * Write ordering matches the reference: data, then ledger, then state.
  * A crash anywhere leaves the state file as the last run saved it, so
  * the next run re-processes the same archives, and the anti-joins on the
  * games (`game_url`) and the ledger (archive, count) make that replay
  * idempotent (at-least-once + dedup = effectively-once, §2.10).
  *
  * A game present in several users' archives lands under the first of
  * them in CSV order, from its earliest archive: the row the reference's
  * user-by-user loop appends first.
  */
final class IngestJob(
    spark: SparkSession,
    fetcher: Fetcher,
    store: GamesStore,
    stateStore: StateStore,
    baseUrl: String = "https://api.chess.com") {

  import IngestJob.Fetched

  def run(usernamesCsv: String, runId: String = java.util.UUID.randomUUID().toString)
      : Map[String, UserState] = {
    // S6: CSV param parse — split, strip, drop empties; a repeated name
    // is processed once
    val users = usernamesCsv.split(",").map(_.trim).filter(_.nonEmpty).distinct.toSeq
    store.ensureAll(spark)
    val state = stateStore.load()

    val listed = users.map(u => u -> ArchiveSource.listArchives(fetcher, baseUrl, u))
    val todo = listed.collect { case (u, Right(archives)) =>
      val done = state.get(u).fold(Set.empty[String])(_.processedArchives.toSet)
      u -> archives.filterNot(done).sorted // chronological (O1-stable)
    }.filter(_._2.nonEmpty)
    val (fetched, appended) =
      if (todo.isEmpty) (Map.empty[(String, String), Fetched], Map.empty[String, Long])
      else fetchAndAppend(users, todo)
    val ok = todo.map { case (u, urls) => u -> urls.filter(url => fetched((u, url)).ok) }

    // K2: one ledger append for the run, minus the (user, archive, count)
    // rows the ledger already holds. A replay's row carries a fresh
    // processed_at_utc, so without this filter it would double-count every
    // `game_count` aggregate over K2. Keyed on the count, not the archive
    // alone, so a deliberate reprocess-latest that FOUND new games still
    // records the updated total; one whose content changed but whose count
    // did not records nothing here, and its visibility lives in the status
    // log (ArchiveProcessed rows are written per run regardless). The
    // anti-join runs in Spark: only this run's candidates reach the driver.
    import spark.implicits._
    val candidates = for ((u, urls) <- ok; url <- urls) yield (u, url, fetched((u, url)).games)
    val unrecorded = candidates
      .toDF("username", "archive_url", "game_count")
      .join(store.ledger(spark).select(col("username"), col("archive_url"),
              col("game_count").cast("long").as("game_count")),
            Seq("username", "archive_url", "game_count"), "left_anti")
      .as[(String, String, Long)].collect().toSet
    store.appendLedgerRows(spark, candidates.filter(unrecorded))

    // K3: one status append for the run, each user's rows in CSV order
    val pending = todo.toMap
    store.appendStatusRows(spark, runId, listed.flatMap {
      case (u, Left(status)) =>
        Seq((u, Stages.ErrorFetchArchives, "archive list fetch failed", status.toString))
      case (u, Right(_)) =>
        val (good, failed) = pending.getOrElse(u, Nil).partition(url => fetched((u, url)).ok)
        failed.map(url => (u, Stages.ErrorArchiveDownload, url, fetched((u, url)).status.toString)) ++
          appended.get(u).filter(_ > 0).map(n => (u, Stages.GamesAppended, s"$n games", "200")) ++
          good.flatMap { url =>
            val noGames =
              if (fetched((u, url)).games == 0L) Seq((u, Stages.ArchiveNoGames, url, "200"))
              else Nil
            noGames :+ ((u, Stages.ArchiveProcessed, url, "200"))
          }
    })

    // K5: one atomic save, after the data and ledger it records. The
    // reference saves after every archive, but each of those saves follows
    // writes this run has already made, so a crash before this line
    // replays the same archives either way, and the dedups absorb it.
    val next = ok.foldLeft(state) { case (st, (u, urls)) =>
      val prior = st.getOrElse(u, UserState(0L, Vector.empty))
      st.updated(u, UserState(
        lastEndTime = (prior.lastEndTime +: urls.map(url => fetched((u, url)).maxEnd)).max, // O5 monotone
        processedArchives = prior.processedArchives ++ urls))
    }
    if (todo.nonEmpty) stateStore.save(next)
    next
  }

  /** Fetch every pending archive in one distributed pass and append the
    * new games. Returns what each fetched (user, archive) held, from one
    * aggregate over the cached fetch, and the games appended per user.
    */
  private def fetchAndAppend(users: Seq[String], todo: Seq[(String, Seq[String])])
      : (Map[(String, String), Fetched], Map[String, Long]) = {
    val raw = ArchiveSource
      .readArchives(spark, fetcher, for ((u, urls) <- todo; url <- urls) yield u -> url)
      .cache()
    try {
      val fetched = raw.groupBy(col("username"), col("archive_url"))
        .agg(max(col("fetch_status")), count(col("game")), max(col("game.end_time")))
        .collect()
        .map(r => (r.getString(0), r.getString(1)) ->
          Fetched(r.getInt(2), r.getLong(3), if (r.isNullAt(4)) 0L else r.getLong(4)))
        .toMap
      val games = GameTransforms.projectFact(
        raw.filter(col("fetch_status") === 200 && col("game").isNotNull))
      // first to land: the earliest user in CSV order, then the earliest archive
      val appended = store.appendGames(spark, games,
        Seq(array_position(typedLit(users), col("username")), col("archive_url")))
      (fetched, appended)
    } finally raw.unpersist(blocking = true)
  }
}

object IngestJob {

  /** One fetched archive: its fetch status, game count and newest
    * `end_time` (0 when it holds no games).
    */
  private final case class Fetched(status: Int, games: Long, maxEnd: Long) {
    def ok: Boolean = status == 200
  }
}
