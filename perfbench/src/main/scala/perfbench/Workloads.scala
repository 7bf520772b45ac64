package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.SparkEntry
import graft.etl.{GamesStore, IngestJob, StateStore, Stages}
import graft.semantic.Dashboard

/** Timing samples of one measured window. `setSeconds` is the window's
  * set time: the median daily cycle, or the sum of per-query medians.
  */
final case class Samples(setSeconds: Double, sets: Seq[Double], opsMs: Seq[Double])

/** Shared state of a run. */
final class Env(val spark: SparkSession, val root: Path, val seed: Long) {
  val work: Path = root.resolve(".bench_build").resolve("work")
    .resolve(s"run-${ProcessHandle.current().pid()}")
}

trait Workload {
  /** Set-up; returns its time in seconds. */
  def setup(client: Client): Double
  /** The closed loop: sets until `seconds` of wall time have passed and
    * at least `minSets` sets ran.
    */
  def loop(client: Client, seconds: Double, minSets: Int): Samples
  /** Per-layer metrics from a traced loop's observations. */
  def layers(client: Client, samples: Samples, into: Layers): Unit
}

object Workload {
  /** Spark-runtime metrics, summed over `obs` and divided by `sets`. */
  def sparkLayers(obs: Seq[Obs], sets: Int, into: Layers): Unit = {
    val jobs = obs.flatMap(_.jobs)
    val n = math.max(1, sets).toDouble
    def put(name: String, v: Double): Unit = into.set(name, v / n)
    put("spark.jobs", jobs.size)
    put("spark.stages", jobs.map(_.stages).sum)
    put("spark.tasks", jobs.map(_.tasks).sum)
    put("spark.task_failures", jobs.map(_.failures).sum)
    put("spark.executor_run_s", jobs.map(_.runMs).sum / 1e3)
    put("spark.executor_cpu_s", jobs.map(_.cpuNs).sum / 1e9)
    put("spark.gc_s", jobs.map(_.gcMs).sum / 1e3)
    put("spark.shuffle_bytes", jobs.map(_.shuffleBytes).sum)
    put("spark.shuffle_fetch_wait_s", jobs.map(_.fetchWaitMs).sum / 1e3)
    put("spark.input_bytes", jobs.map(_.inputBytes).sum)
    put("spark.output_bytes", jobs.map(_.outputBytes).sum)
    put("spark.spill_bytes", jobs.map(_.spillBytes).sum)
    val busy = obs.map(_.jobBusyMs).sum / 1e3
    put("spark.job_busy_s", busy)
    put("spark.driver_gap_s", obs.map(_.seconds).sum - busy)
    put("sql.executions", obs.map(_.sqlExecutions).sum)
    put("sql.planning_s", obs.map(_.planningNs).sum / 1e9)
    put("codegen.compile_s", obs.map(_.compileNs).sum / 1e9)
    put("codegen.wscg_s", obs.map(_.wscgNs).sum / 1e9)
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)

  def treeBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_))
      .map(Files.size).sum

  def parquetFiles(p: Path): Long =
    if (!Files.exists(p)) 0L
    else Files.list(p).iterator().asScala
      .count(f => f.getFileName.toString.endsWith(".parquet")).toLong
}

// ------------------------------------------------------------------- store

/** A games store built from a generated world by backfilling it through
  * `IngestJob`, with the model that predicts its content.
  */
final class BuiltStore(env: Env, size: WorldSize, dir: Path) {
  val world = new ArchiveWorld(env.seed, size)
  val model = new IngestModel(world)
  Endpoint.publish(world)
  val store = new GamesStore(dir.resolve("warehouse").toString)
  val statePath: Path = dir.resolve("state.json")
  val stateStore = new StateStore(statePath.toString)
  val job = new IngestJob(env.spark, EndpointFetcher(), store, stateStore, world.baseUrl)
  val usersCsv: String = world.users.mkString(",")

  def snapshot(): StoreSnapshot = {
    val spark = env.spark
    StoreSnapshot(
      store.games(spark).select("game_url").collect().map(_.getString(0)).toSeq,
      store.ledger(spark).select("username", "archive_url", "game_count").collect()
        .map(r => (r.getString(0), r.getString(1), r.getInt(2).toLong)).toSeq,
      store.status(spark).filter(col("stage") === Stages.ErrorArchiveDownload)
        .select("run_id", "username", "message", "http_status").collect()
        .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3))).toSeq,
      stateStore.load())
  }

  /** Replay `runId` on the model and compare the store with it. */
  def gate(runId: String): Seq[String] = {
    model.run(runId)
    IngestGate.check(model, snapshot())
  }

  def storeLayers(into: Layers): Unit = {
    val wh = dir.resolve("warehouse")
    val games = Workload.treeBytes(wh.resolve("games"))
    into.set("store.games_files", Workload.parquetFiles(wh.resolve("games")).toDouble)
    into.set("store.ledger_files", Workload.parquetFiles(wh.resolve("processed_archives")).toDouble)
    into.set("store.status_files", Workload.parquetFiles(wh.resolve("status_log")).toDouble)
    into.set("store.games_bytes", games.toDouble)
    into.set("store.bytes_per_game",
      (Workload.treeBytes(wh) + Workload.treeBytes(statePath)).toDouble /
        math.max(1, model.fact.size))
  }
}

// ------------------------------------------------------------------- daily

/** The paper's daily cron over a backfilled store. One cycle is a daily
  * `IngestJob` run, which first applies the reprocess-latest policy
  * (`StateStore.unmarkLatest`) after the generator added a few games to
  * every open month and opened new months for a quarter of the users, and
  * then a dashboard page over the updated store: the six visuals for one
  * user under a seeded slicer context, each fully collected.
  */
final class DailyCycle(env: Env, size: WorldSize) extends Workload {
  private var b: BuiltStore = _
  import DailyCycle.Run
  private var day = 0
  private var pages = 0
  private val runs = mutable.ArrayBuffer.empty[Run]
  private val rng = new Random(env.seed * 31 + 7)

  /** Generates the archives and backfills an empty store (gated), then
    * renders one warm-up page: the first page a JVM renders pays one-off
    * plan compilation that later pages do not.
    */
  def setup(client: Client): Double = {
    val t = client.timed("setup", "backfill") {
      val s = new BuiltStore(env, size, env.work.resolve("store"))
      client.tracer.span("call", "IngestJob.run")(s.job.run(s.usersCsv, "backfill"))
      s
    }
    client.record(t, "backfill")(_.gate("backfill"))
    b = t.result.fold(e => throw e, identity)
    val t0 = System.nanoTime()
    page(client)
    t.seconds + (System.nanoTime() - t0) / 1e9
  }

  /** One daily run: its time if it passed the ingest gate. */
  private def daily(client: Client): Option[Double] = {
    day += 1
    val runId = f"daily-$day%03d"
    b.world.advanceDay()
    Endpoint.publish(b.world)
    Endpoint.takeListStarts()
    val bytes0 = Endpoint.bytes.get
    val t = client.timed("daily_run", runId) {
      client.tracer.span("call", "StateStore.unmarkLatest") {
        b.stateStore.save(b.stateStore.unmarkLatest(b.stateStore.load()))
      }
      client.tracer.span("call", "IngestJob.run")(b.job.run(b.usersCsv, runId))
    }
    val fetched = Endpoint.bytes.get - bytes0
    // each user's share: from its archive-list fetch to the next user's
    val starts = Endpoint.takeListStarts()
    b.model.unmarkLatest()
    val before = b.model.fact.size
    val sample = client.record(t, runId)(_ => b.gate(runId))
    runs += Run(b.model.fact.size - before, fetched,
      (starts :+ t.end).sliding(2).collect { case Seq(x, y) => y - x }.toSeq)
    sample
  }

  /** The page's slicer: the kind (date range, bucket, colour) rotates with
    * the page count, so every run renders the same mix; the user and the
    * slicer's value are seeded.
    */
  private def slicer(): Slicer = {
    val user = b.world.users(rng.nextInt(b.world.users.size))
    pages += 1
    pages % 3 match {
      case 0 =>
        val from = java.time.LocalDate.of(2023, 1, 1).plusDays(rng.nextInt(150).toLong)
        Slicer(user, dates = Some((from, from.plusDays(30L + rng.nextInt(90)))))
      case 1 => Slicer(user, bucket = Some(Seq("bullet", "blitz", "rapid", "daily", "unknown")(rng.nextInt(5))))
      case _ => Slicer(user, color = Some(if (rng.nextBoolean()) "white" else "black"))
    }
  }

  private def build(dash: Dashboard, v: String, s: Slicer): DataFrame = {
    val ctx = s.context
    v match {
      case "cards"           => dash.cards(ctx)
      case "opponents"       => dash.topOpponents(10, ctx)
      case "bucket_color"    => dash.winRateByBucketAndColor(ctx)
      case "opponent_bucket" => dash.winRateByOpponentBucket(ctx)
      case "openings"        => dash.topOpenings(5, ctx)
      case "rolling"         => dash.rollingWinRate(env.spark, 12, ctx)
    }
  }

  /** One page, each visual checked against the plain-Scala recomputation;
    * returns the page time (None if anything failed) and the visual times
    * in ms.
    */
  private def page(client: Client): (Option[Double], Seq[Double]) = {
    val s = slicer()
    val tr = client.tracer
    val (open, visuals) = tr.span("page", s.toString) {
      val d = client.timed("page_open", "Dashboard.new")(new Dashboard(b.store.games(env.spark)))
      d -> DashboardTruth.Visuals.map { v =>
        v -> client.timed("visual", v) {
          val df = tr.span("call", s"Dashboard.$v")(build(d.result.toOption.get, v, s))
          tr.span("plan", v)(df.queryExecution.executedPlan)
          tr.span("exec", v)(df.collect().toSeq)
        }
      }
    }
    val fact = b.model.fact.values.map(Derived(_)).toVector
    val o = client.record(open, "Dashboard.new")(_ => Nil)
    val vs = visuals.map { case (v, t) =>
      client.record(t, s"$v [$s]")(rows => DashboardTruth.check(v, rows, fact, s)) }
    val ok = o.isDefined && vs.forall(_.isDefined)
    (if (ok) Some(o.get + vs.flatten.sum) else None, vs.flatten.map(_ * 1e3))
  }

  def loop(client: Client, seconds: Double, minSets: Int): Samples = {
    val until = System.nanoTime() + (seconds * 1e9).toLong
    val sets = mutable.ArrayBuffer.empty[Double]
    val ops = mutable.ArrayBuffer.empty[Double]
    runs.clear()
    var attempts = 0
    while ((sets.size < minSets && attempts < minSets + 2) || System.nanoTime() < until) {
      attempts += 1
      val d = daily(client)
      val (p, vs) = page(client)
      for (x <- d; y <- p) sets += x + y
      ops ++= vs
    }
    Samples(Stats.median(sets.toSeq), sets.toSeq, ops.toSeq)
  }

  def layers(client: Client, samples: Samples, into: Layers): Unit = {
    val all = client.observed.toSeq
    val obs = all.filter(_.kind == "daily_run")
    val n = math.max(1, obs.size).toDouble
    Workload.sparkLayers(all, obs.size, into)
    val spans = client.tracer.all
    val ids = obs.map(_.spanId).toSet
    val calls = spans.filter(s => s.kind == "call" && s.name == "IngestJob.run" && ids(s.parent))
    val fetches = spans.filter(s => s.kind == "fetch" &&
      obs.exists(o => s.start >= o.start && s.end <= o.end))
    val users = b.world.users.size
    val shares = runs.flatMap(_.users).toSeq
    into.set("etl.run_s", calls.map(_.dur).sum / 1e3 / n)
    println(f"daily: $users users, ${runs.map(_.newGames).sum / n}%.1f new games per run")
    into.set("etl.archives_fetched", fetches.count(_.name == "archive") / n)
    into.set("etl.fetch.list_calls", fetches.count(_.name == "list") / n)
    into.set("etl.fetch.archive_calls", fetches.count(_.name == "archive") / n)
    into.set("etl.fetch.busy_s", fetches.map(_.dur).sum / 1e3 / n)
    into.set("etl.fetch.bytes", runs.map(_.fetchBytes).sum / n)
    into.set("etl.user_p50_ms", Stats.median(shares))
    into.set("etl.user_p90_ms", Stats.quantile(shares, 0.9))
    into.set("etl.jobs_per_user", obs.map(_.jobs.size).sum / n / users)
    obs.flatMap(_.jobs)
      .groupBy(j => if (Metrics.EtlSites.contains(j.site)) j.site else "other")
      .foreach { case (site, js) =>
        into.set(s"etl.jobs_s.$site", js.map(j => j.end - j.start).sum / 1e3 / n) }
    // run time outside every Spark job and every driver-side fetch
    val driverOnly = calls.map { c =>
      val busy = obs.filter(_.spanId == c.parent).flatMap(_.jobs).map(j => (j.start, j.end)) ++
        fetches.map(f => (f.start, f.end))
      c.dur - Span.covered(busy, c.start, c.end)
    }.sum
    into.set("etl.driver_only_s", driverOnly / 1e3 / n)
    into.set("etl.state_bytes", Workload.treeBytes(b.statePath).toDouble)

    val pages = all.filter(_.kind == "page_open")
    val nPages = math.max(1, pages.size).toDouble
    val pageObs = all.filter(o => o.kind == "page_open" || o.kind == "visual")
    DashboardTruth.Visuals.foreach { v =>
      val vo = all.filter(o => o.kind == "visual" && o.name == v)
      val k = math.max(1, vo.size).toDouble
      val vids = vo.map(_.spanId).toSet
      val kids = spans.filter(s => vids(s.parent))
      into.set(s"dash.$v.plan_ms", kids.filter(s => s.kind == "call" || s.kind == "plan").map(_.dur).sum / k)
      into.set(s"dash.$v.exec_ms", kids.filter(_.kind == "exec").map(_.dur).sum / k)
      into.set(s"dash.$v.jobs", vo.map(_.jobs.size).sum / k)
    }
    into.set("dash.jobs_per_page", pageObs.map(_.jobs.size).sum / nPages)
    into.set("dash.input_bytes_per_page", pageObs.flatMap(_.jobs).map(_.inputBytes).sum / nPages)
    b.storeLayers(into)
  }
}

object DailyCycle {
  /** One daily run as the traced layers see it; `users` holds each
    * user's share in ms.
    */
  final case class Run(newGames: Int, fetchBytes: Long, users: Seq[Double])
}

// ----------------------------------------------------------------- queries

/** A fixed list of `SparkEntry.queries` over the benchmark's copy of the
  * testdata. Set-up is a warm-up pass that collects every result and
  * checks its hash; timed passes materialize every row and column through
  * a `noop` write.
  */
final class QueryList(env: Env, names: Seq[String], dataDir: Path,
                      hashes: Map[String, (String, Long)]) extends Workload {
  private val fns = SparkEntry.queries
  private val bad = mutable.Set.empty[String]
  private val perQuery = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  private var passes = 0

  private def clearBlocks(): Unit =
    env.spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))

  def setup(client: Client): Double = {
    val t0 = System.nanoTime()
    names.foreach { q =>
      val t = client.timed("warmup", q)(fns(q)(env.spark, dataDir.toString).collect().toSeq)
      clearBlocks()
      if (client.record(t, q)(rows => QueryHash.check(q, rows, hashes.get(q))).isEmpty) bad += q
    }
    (System.nanoTime() - t0) / 1e9
  }

  def loop(client: Client, seconds: Double, minSets: Int): Samples = {
    val until = System.nanoTime() + (seconds * 1e9).toLong
    perQuery.clear()
    val sets = mutable.ArrayBuffer.empty[Double]
    passes = 0
    while (passes < minSets || System.nanoTime() < until) {
      passes += 1
      val times = names.map { q =>
        val t = client.timed("query", q) {
          fns(q)(env.spark, dataDir.toString).write.format("noop").mode("overwrite").save()
        }
        clearBlocks()
        val s = client.record(t, q)(_ =>
          if (bad(q)) Seq(s"$q failed its result check in the warm-up pass") else Nil)
        s.foreach(perQuery.getOrElseUpdate(q, mutable.ArrayBuffer.empty) += _)
        s
      }
      if (times.forall(_.isDefined)) sets += times.flatten.sum
    }
    val medians = perQuery.values.map(xs => Stats.median(xs.toSeq)).toSeq
    Samples(if (perQuery.size == names.size) medians.sum else Double.NaN, sets.toSeq,
            perQuery.values.flatten.map(_ * 1e3).toSeq)
  }

  def layers(client: Client, samples: Samples, into: Layers): Unit = {
    val obs = client.observed.filter(_.kind == "query").toSeq
    Workload.sparkLayers(obs, passes, into)
    obs.groupBy(_.name).foreach { case (q, os) =>
      val k = q.takeWhile(_ != '_')
      if (into.values.contains(s"q.$k.s")) {
        val n = os.size.toDouble
        val jobs = os.flatMap(_.jobs)
        into.set(s"q.$k.s", Stats.median(os.map(_.seconds)))
        into.set(s"q.$k.jobs", jobs.size / n)
        into.set(s"q.$k.tasks", jobs.map(_.tasks).sum / n)
        into.set(s"q.$k.shuffle_bytes", jobs.map(_.shuffleBytes).sum / n)
        into.set(s"q.$k.driver_gap_s", os.map(o => o.seconds - o.jobBusyMs / 1e3).sum / n)
      }
    }
  }
}
