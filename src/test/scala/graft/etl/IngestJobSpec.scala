package graft.etl

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions.{col, spark_partition_id}

import graft.SparkSpec

/** Golden end-to-end ingest tests over fixture archives (FIXTURES.md §2),
  * exercising the §2.10 incremental semantics: dedup idempotency,
  * ledger/status ordering, watermark monotonicity, reprocess-latest.
  */
class IngestJobSpec extends SparkSpec {

  private val base = "https://api.chess.com"

  private def game(url: String, endTime: Long, result: String,
                   wUser: String = "alice", bUser: String = "bob"): String =
    s"""{"url":"$url","time_control":"300+5","end_time":$endTime,
       |"pgn":"[Result \\"$result\\"]\\n1. e4 1-0",
       |"white":{"username":"$wUser","rating":1500,"result":"win"},
       |"black":{"username":"$bUser","rating":1480,"result":"checkmated"}}"""
      .stripMargin.replace("\n", "")

  private def archivesFor(user: String, urls: String*) =
    s"$base/pub/player/$user/games/archives" ->
      Right(s"""{"archives":[${urls.map("\"" + _ + "\"").mkString(",")}]}""")

  private def freshEnv(pages: Map[String, Either[Int, String]]) = {
    val (job, store, states, _) = freshEnvAt(pages)
    (job, store, states)
  }

  /** [[freshEnv]] plus the directory holding the store and state file. */
  private def freshEnvAt(pages: Map[String, Either[Int, String]]) = {
    val dir = Files.createTempDirectory("graft-ingest").toString
    val store = new GamesStore(s"$dir/warehouse")
    val states = new StateStore(s"$dir/state.json")
    val job = new IngestJob(spark, MapFetcher(pages), store, states, base)
    (job, store, states, dir)
  }

  private def archive(user: String, month: String) =
    s"$base/pub/player/$user/games/2025/$month"

  /** One user's two monthly archives: two games, then one, with game urls
    * unique to the user and `extra` games added to the first month.
    */
  private def userPages(user: String, extra: String*): Map[String, Either[Int, String]] = {
    val (m1, m2) = (archive(user, "07"), archive(user, "08"))
    val first = Seq(game(s"$user-g1", 100, "1-0"), game(s"$user-g2", 200, "0-1")) ++ extra
    Map(archivesFor(user, m1, m2),
      m1 -> Right(s"""{"games":[${first.mkString(",")}]}"""),
      m2 -> Right(s"""{"games":[${game(s"$user-g3", 300, "1/2-1/2")}]}"""))
  }

  /** Spark jobs started while `body` runs. */
  private def jobsDuring(body: => Unit): Int =
    graft.obs.Meter.during(spark)(body)._2.jobs.toInt

  private val a1 = s"$base/pub/player/alice/games/2025/07"
  private val a2 = s"$base/pub/player/alice/games/2025/08"

  test("golden path: two archives, cross-archive dedup, ledger, watermark") {
    val pages = Map(
      archivesFor("alice", a1, a2),
      a1 -> Right(s"""{"games":[${game("g1", 100, "1-0")},${game("g2", 200, "0-1")}]}"""),
      // g2 duplicated across archives; g3 new
      a2 -> Right(s"""{"games":[${game("g2", 200, "0-1")},${game("g3", 300, "1/2-1/2")}]}"""))
    val (job, store, states) = freshEnv(pages)
    val state = job.run("alice")
    states.save(state)

    val games = store.games(spark).collect()
    assert(games.length == 3, "g2 deduped to one row")
    assert(games.map(_.getAs[String]("game_url")).sorted.toSeq == Seq("g1", "g2", "g3"))

    val ledger = store.ledger(spark).collect()
    assert(ledger.length == 2)
    assert(state("alice").lastEndTime == 300L)
    assert(state("alice").processedArchives.toSet == Set(a1, a2))

    // batched flush: BOTH archives' ledger rows land in ONE parquet file
    // (plus the ensure() empty write) — not one file per archive
    def dataFiles(path: String) =
      new java.io.File(path).listFiles
        .count(f => f.getName.endsWith(".parquet") && f.length() > 0)
    assert(dataFiles(store.ledgerPath) <= 2,
      "ledger rows must be batched per run, not written per archive")
  }

  test("idempotency: rerunning the same archives appends nothing") {
    val pages = Map(
      archivesFor("alice", a1),
      a1 -> Right(s"""{"games":[${game("g1", 100, "1-0")}]}"""))
    val (job, store, states) = freshEnv(pages)
    states.save(job.run("alice"))
    // simulate the CI reprocess-latest policy: pop latest archive, rerun
    states.save(states.unmarkLatest(states.load()))
    val state2 = job.run("alice")
    assert(store.games(spark).count() == 1, "dedup makes reprocessing idempotent")
    assert(state2("alice").lastEndTime == 100L)
  }

  test("ledger replay dedupe: reruns add no duplicate rows, new games add an updated row") {
    val pages = Map(
      archivesFor("alice", a1),
      a1 -> Right(s"""{"games":[${game("g1", 100, "1-0")}]}"""))
    val (job, store, states) = freshEnv(pages)
    states.save(job.run("alice"))
    // replay the same archive (crash-recovery / reprocess-latest with no
    // new games): the (archive, count) row already exists → no duplicate
    states.save(states.unmarkLatest(states.load()))
    states.save(job.run("alice"))
    assert(store.ledger(spark).count() == 1,
      "unchanged archive must not duplicate its ledger row on replay")
    // reprocess after the archive GREW: updated total gets its own row
    val pages2 = Map(
      archivesFor("alice", a1),
      a1 -> Right(s"""{"games":[${game("g1", 100, "1-0")},${game("g2", 200, "0-1")}]}"""))
    val job2 = new IngestJob(spark, MapFetcher(pages2), store, states,
      "https://api.chess.com")
    states.save(states.unmarkLatest(states.load()))
    states.save(job2.run("alice"))
    val rows = store.ledger(spark).collect()
    assert(rows.length == 2)
    assert(rows.map(_.getAs[Int]("game_count")).sorted.toSeq == Seq(1, 2))
  }

  test("empty archive gets a zero-count ledger row") {
    val pages = Map(
      archivesFor("alice", a1),
      a1 -> Right("""{"games":[]}"""))
    val (job, store, _) = freshEnv(pages)
    job.run("alice")
    val ledger = store.ledger(spark).collect()
    assert(ledger.length == 1 && ledger(0).getAs[Int]("game_count") == 0)
    val stages = store.status(spark).collect().map(_.getAs[String]("stage")).toSet
    assert(stages.contains(Stages.ArchiveNoGames))
  }

  test("failed archive download is status-logged and left unprocessed") {
    val pages = Map(
      archivesFor("alice", a1, a2),
      a1 -> Left(503),
      a2 -> Right(s"""{"games":[${game("g9", 900, "1-0")}]}"""))
    val (job, store, _) = freshEnv(pages)
    val state = job.run("alice")
    assert(!state("alice").processedArchives.contains(a1),
      "failed archive stays pending for next run")
    assert(state("alice").processedArchives.contains(a2))
    val errs = store.status(spark)
      .filter(org.apache.spark.sql.functions.col("stage") === Stages.ErrorArchiveDownload)
      .collect()
    assert(errs.length == 1 && errs(0).getAs[String]("http_status") == "503")
    assert(store.games(spark).count() == 1)
  }

  test("unparseable archive body is treated as a failed fetch, not empty") {
    val pages = Map(
      archivesFor("alice", a1, a2),
      a1 -> Right("""{"games": [this is not json"""), // 200 but malformed
      a2 -> Right(s"""{"games":[${game("g1", 100, "1-0")}]}"""))
    val (job, store, _) = freshEnv(pages)
    val state = job.run("alice")
    assert(!state("alice").processedArchives.contains(a1),
      "parse failure must leave the archive pending for retry — marking it " +
        "processed with 0 games would be silent data loss")
    assert(state("alice").processedArchives.contains(a2))
    val errs = store.status(spark)
      .filter(org.apache.spark.sql.functions.col("http_status") ===
        ArchiveSource.ParseFailureStatus.toString)
      .collect()
    assert(errs.nonEmpty, "parse failure must be status-logged")
    assert(store.games(spark).count() == 1)
  }

  test("archive-list failure is logged, run continues") {
    val (job, store, _) = freshEnv(Map.empty) // 404 everything
    val state = job.run("alice")
    assert(state.isEmpty)
    val stages = store.status(spark).collect().map(_.getAs[String]("stage"))
    assert(stages.contains(Stages.ErrorFetchArchives))
  }

  test("watermark is monotone: re-ingesting older games never lowers it") {
    val pages1 = Map(
      archivesFor("alice", a2),
      a2 -> Right(s"""{"games":[${game("g3", 300, "1-0")}]}"""))
    val (job1, store, states) = freshEnv(pages1)
    states.save(job1.run("alice"))
    // next run discovers an OLDER archive
    val pages2 = Map(
      archivesFor("alice", a1, a2),
      a1 -> Right(s"""{"games":[${game("g1", 100, "1-0")}]}"""),
      a2 -> Right(s"""{"games":[${game("g3", 300, "1-0")}]}"""))
    val job2 = new IngestJob(spark, MapFetcher(pages2), store, states, base)
    val state2 = job2.run("alice")
    assert(state2("alice").lastEndTime == 300L)
    assert(store.games(spark).count() == 2)
  }

  test("schema repair: mismatched games table is reset (K4)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-repair").toString
    val store = new GamesStore(s"$dir/warehouse")
    Seq(("bad", 1)).toDF("wrong", "schema")
      .write.parquet(store.gamesPath)
    store.ensureAll(spark)
    assert(store.games(spark).schema.fieldNames.head == "ingest_time")
    assert(store.games(spark).count() == 0)
  }

  test("ensureAll over an existing store runs no Spark job, and tables " +
       "whose footers match keep their rows") {
    val (job, store, _) = freshEnv(userPages("alice"))
    job.run("alice")
    def rows = (store.games(spark).count(), store.ledger(spark).count(),
                store.status(spark).count())
    val before = rows
    assert(before._1 == 3L && before._2 == 2L, before)
    assert(jobsDuring(store.ensureAll(spark)) == 0)
    assert(rows == before)
  }

  test("schema repair: a drifted ledger footer (long game_count) is reset (K4)") {
    import spark.implicits._
    val (job, store, _) = freshEnv(userPages("alice"))
    job.run("alice")
    Seq(("alice", "a", new java.sql.Timestamp(0L), 3L))
      .toDF("username", "archive_url", "processed_at_utc", "game_count")
      .write.mode("overwrite").parquet(store.ledgerPath)
    store.ensureAll(spark)
    assert(store.ledger(spark).count() == 0)
    val footer = spark.read.parquet(store.ledgerPath).schema
    assert(footer("game_count").dataType == Schemas.ledger("game_count").dataType)
  }

  test("ensure over a directory with no data file raises, as a schema-less read does") {
    val dir = Files.createTempDirectory("graft-nofile").toString
    val store = new GamesStore(s"$dir/warehouse")
    Files.createDirectories(Paths.get(store.ledgerPath))
    intercept[org.apache.spark.sql.AnalysisException] {
      store.ensure(spark, store.ledgerPath, Schemas.ledger)
    }
  }

  test("typed Dataset view matches the fact schema end-to-end") {
    val pages = Map(
      archivesFor("alice", a1),
      a1 -> Right(s"""{"games":[${game("g1", 100, "1-0")}]}"""))
    val (job, store, _) = freshEnv(pages)
    job.run("alice")
    val rows = store.gamesTyped(spark).collect()
    assert(rows.length == 1)
    val g = rows(0)
    assert(g.game_url == "g1" && g.username == "alice")
    assert(g.white_rating.contains(1500) && g.black_rating.contains(1480))
    assert(g.result == "1-0")
  }

  test("every parquet file of every store table starts with its pinned " +
       "schema (the reads' Schemas match what the writers write)") {
    val (job, store, _) = freshEnv(userPages("alice"))
    job.run("alice")
    Seq(store.gamesPath -> Schemas.gamesFact, store.ledgerPath -> Schemas.ledger,
        store.statusPath -> Schemas.statusLog).foreach { case (path, pinned) =>
      val files = Files.list(Paths.get(path)).toArray.map(_.toString)
        .filter(_.endsWith(".parquet"))
      // the header ensureAll wrote, plus at least one appended file
      assert(files.length >= 2, s"$path: ${files.toSeq}")
      val want = pinned.fields.map(f => (f.name, f.dataType)).toSeq
      files.foreach { f =>
        val footer = spark.read.parquet(f).schema.fields
          .map(f => (f.name, f.dataType)).toSeq
        assert(footer.startsWith(want), s"$f: $footer")
      }
    }
  }

  test("one run costs the same Spark jobs for one user as for three") {
    val users = Seq("ann", "ben", "cal")
    def jobs(csv: Seq[String]): Int = {
      val (job, store, _) = freshEnv(csv.map(userPages(_)).reduce(_ ++ _))
      val n = jobsDuring(job.run(csv.mkString(",")))
      assert(store.games(spark).count() == 3L * csv.size)
      n
    }
    val one = jobs(users.take(1))
    val three = jobs(users)
    assert(one > 0)
    assert(three == one,
      s"an ingest run must not cost Spark jobs per user: 1 user $one jobs, 3 users $three")
  }

  test("a game in two users' archives lands under the first user in CSV order") {
    val shared = game("shared", 150, "1-0")
    val pages = userPages("alice", shared) ++ userPages("bob", shared)
    def owner(csv: String): (String, String) = {
      val (job, store, _) = freshEnv(pages)
      job.run(csv)
      val rows = store.games(spark).filter(col("game_url") === "shared").collect()
      assert(rows.length == 1, s"$csv: the shared game is stored once")
      (rows(0).getAs[String]("username"), rows(0).getAs[String]("archive_url"))
    }
    assert(owner("bob,alice") == ("bob", archive("bob", "07")))
    assert(owner("alice,bob") == ("alice", archive("alice", "07")))
  }

  test("within one user, a game in two archives lands from the earliest archive") {
    val pages = Map(
      archivesFor("alice", a1, a2),
      a2 -> Right(s"""{"games":[${game("g2", 200, "0-1")}]}"""),
      a1 -> Right(s"""{"games":[${game("g2", 200, "0-1")},${game("g1", 100, "1-0")}]}"""))
    val (job, store, _) = freshEnv(pages)
    job.run("alice")
    val rows = store.games(spark).filter(col("game_url") === "g2").collect()
    assert(rows.map(_.getAs[String]("archive_url")).toSeq == Seq(a1))
  }

  test("a name repeated in the CSV is processed once") {
    val pages = Map(
      archivesFor("alice", a1, a2),
      a1 -> Left(503),
      a2 -> Right(s"""{"games":[${game("g1", 100, "1-0")}]}"""))
    val (job, store, _) = freshEnv(pages)
    job.run("alice, alice,alice")
    val ledger = store.ledger(spark).collect()
      .map(r => (r.getAs[String]("archive_url"), r.getAs[Int]("game_count")))
    assert(ledger.toSeq == Seq((a2, 1)))
    val status = store.status(spark).collect()
      .map(r => (r.getAs[String]("username"), r.getAs[String]("stage"), r.getAs[String]("message")))
      .toSeq
    assert(status.sorted == Seq(
      ("alice", Stages.ArchiveProcessed, a2),
      ("alice", Stages.ErrorArchiveDownload, a1),
      ("alice", Stages.GamesAppended, "1 games")).sorted)
    assert(store.games(spark).count() == 1)
  }

  /** K5: a run that crashes after some of its writes, replayed once the
    * cause is gone, leaves the store and state a clean run leaves.
    */
  private def assertReplayEqualsCleanRun(
      obstacle: (GamesStore, String) => java.nio.file.Path,
      cause: Class[_ <: Throwable],
      crashed: GamesStore => Unit): Unit = {
    val pages = userPages("alice", game("shared", 150, "1-0")) ++
      userPages("bob", game("shared", 150, "1-0"))
    val csv = "alice,bob"
    def snapshot(store: GamesStore, states: StateStore) = (
      store.games(spark).collect()
        .map(r => (r.getAs[String]("game_url"), r.getAs[String]("username"))).toSet,
      store.ledger(spark).collect()
        .map(r => (r.getAs[String]("username"), r.getAs[String]("archive_url"),
                   r.getAs[Int]("game_count"))).toSeq.sorted,
      states.load())
    val (cleanJob, cleanStore, cleanStates) = freshEnv(pages)
    cleanJob.run(csv)
    val clean = snapshot(cleanStore, cleanStates)
    assert(clean._1.size == 7 && clean._2.size == 4 && clean._3.size == 2)

    val (job, store, states, dir) = freshEnvAt(pages)
    val blocker = obstacle(store, dir)
    val crash = intercept[Exception](job.run(csv))
    assert(Iterator.iterate[Throwable](crash)(_.getCause).takeWhile(_ != null)
      .exists(cause.isInstance), s"crashed with $crash, expected a ${cause.getName}")
    crashed(store)
    assert(states.load().isEmpty, "the crashed run saved no state")
    Files.delete(blocker)
    job.run(csv)
    assert(snapshot(store, states) == clean)
  }

  test("K5 replay: a crash at the state save, after data and ledger, replays to a clean run") {
    assertReplayEqualsCleanRun(
      // the atomic save writes state.json.tmp first: a directory there fails it
      (_, dir) => Files.createDirectories(Paths.get(s"$dir/state.json.tmp")),
      classOf[java.nio.file.FileSystemException],
      store => {
        assert(store.games(spark).count() > 0, "games were written before the crash")
        assert(store.ledger(spark).count() > 0, "ledger rows were written before the crash")
      })
  }

  test("K5 replay: a crash at the ledger append, after the games append, replays to a clean run") {
    assertReplayEqualsCleanRun(
      // the ledger's output committer cannot make its _temporary dir under a
      // regular file of that name; reads ignore `_`-prefixed files
      (store, _) => {
        store.ensureAll(spark)
        Files.createFile(Paths.get(store.ledgerPath, "_temporary"))
      },
      classOf[org.apache.hadoop.fs.ParentNotDirectoryException],
      store => {
        assert(store.games(spark).count() > 0, "games were written before the crash")
        assert(store.ledger(spark).count() == 0, "the ledger append is what failed")
      })
  }

  /** Two users' two monthly archives each, as (user, archive) pairs. */
  private val twoUsersPages = userPages("alice") ++ userPages("bob")
  private val twoUsersArchives =
    for (u <- Seq("alice", "bob"); m <- Seq("07", "08")) yield u -> archive(u, m)

  test("readArchives fetches one archive per task, with no shuffle") {
    val raw = ArchiveSource.readArchives(spark, MapFetcher(twoUsersPages),
      twoUsersArchives :+ ("bob" -> archive("bob", "09"))) // a 404 is a task too
    assert(!raw.queryExecution.executedPlan.toString.contains("Exchange"),
      raw.queryExecution.executedPlan.toString)
    val partOf = raw.select(col("archive_url"), spark_partition_id())
      .collect().groupBy(_.getString(0)).map { case (url, rows) => url -> rows.map(_.getInt(1)).toSet }
    assert(partOf.size == 5 && partOf.values.forall(_.size == 1),
      s"every archive is fetched by exactly one task: $partOf")
    assert(partOf.values.flatten.toSet == (0 until 5).toSet, s"one archive per partition: $partOf")

    val many = (1 to 70).map(i => "alice" -> s"$base/missing/$i")
    assert(ArchiveSource.readArchives(spark, MapFetcher(Map.empty), many).rdd.getNumPartitions == 64,
      "tasks are capped at 64")
  }

  test("readArchives paces every task through one RateLimitedFetcher") {
    IngestJobSpec.fetchStarts.clear()
    val fetcher = RateLimitedFetcher(StartRecordingFetcher(MapFetcher(twoUsersPages)), minDelayMs = 300)
    ArchiveSource.readArchives(spark, fetcher, twoUsersArchives).collect()
    val starts = IngestJobSpec.fetchStarts.toArray(Array.empty[java.lang.Long]).map(_.longValue).sorted
    assert(starts.length == 4)
    val gapsMs = starts.sliding(2).map { case Array(a, b) => (b - a) / 1e6 }.toSeq
    // the limiter's clock counts whole milliseconds
    assert(gapsMs.forall(_ >= 298), s"fetch-start gaps below 300 ms: $gapsMs")
  }
}

object IngestJobSpec {

  /** `System.nanoTime` at each [[StartRecordingFetcher]] fetch, in this JVM. */
  val fetchStarts = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]()
}

/** Records when each fetch starts, from whichever task's copy it runs in. */
final case class StartRecordingFetcher(inner: Fetcher) extends Fetcher {
  override def fetch(url: String): Either[Int, String] = {
    IngestJobSpec.fetchStarts.add(System.nanoTime())
    inner.fetch(url)
  }
}
