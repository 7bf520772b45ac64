package perfbench

import scala.collection.mutable

final case class Metric(name: String, unit: String)

/** The benchmark's metric names; `BENCHMARK.json` lists the same ones. */
object Metrics {

  /** Printed by every untraced run, whatever the workload. A workload's
    * "set" is one daily cycle (a daily ingest run, then a dashboard page)
    * or one pass over the query list; an "op" is one visual or one query.
    */
  val endToEnd: Seq[Metric] = Seq(
    Metric("setup_s", "s"),
    Metric("set_s", "s"),
    Metric("op_p50_ms", "ms"),
    Metric("peak_rss_mb", "MB"))

  /** Job time of the ingest by the source file and action that started
    * the job; any other call site is summed into `other`.
    */
  val EtlSites: Seq[String] = Seq(
    "GamesStore.parquet", "GamesStore.count", "IngestJob.collect", "other")

  /** Printed by every traced run, whatever the workload; a layer the
    * workload does not exercise reads 0. Spark and etl figures are per set.
    */
  def perLayer(iterative: Seq[String]): Seq[Metric] =
    Seq(
      "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
      "spark.task_failures" -> "count", "spark.executor_run_s" -> "s",
      "spark.executor_cpu_s" -> "s", "spark.gc_s" -> "s", "spark.shuffle_bytes" -> "B",
      "spark.shuffle_fetch_wait_s" -> "s", "spark.input_bytes" -> "B",
      "spark.output_bytes" -> "B", "spark.spill_bytes" -> "B", "spark.job_busy_s" -> "s",
      "spark.driver_gap_s" -> "s", "sql.executions" -> "count", "sql.planning_s" -> "s",
      "codegen.compile_s" -> "s", "codegen.wscg_s" -> "s",
      "etl.run_s" -> "s",
      "etl.archives_fetched" -> "count", "etl.fetch.list_calls" -> "count",
      "etl.fetch.archive_calls" -> "count", "etl.fetch.busy_s" -> "s",
      "etl.fetch.bytes" -> "B", "etl.user_p50_ms" -> "ms", "etl.user_p90_ms" -> "ms",
      "etl.jobs_per_user" -> "count", "etl.driver_only_s" -> "s",
      "etl.state_bytes" -> "B").map { case (n, u) => Metric(n, u) } ++
    EtlSites.map(s => Metric(s"etl.jobs_s.$s", "s")) ++
    Seq("store.games_files" -> "count", "store.ledger_files" -> "count",
        "store.status_files" -> "count", "store.games_bytes" -> "B",
        "store.bytes_per_game" -> "B").map { case (n, u) => Metric(n, u) } ++
    DashboardTruth.Visuals.flatMap(v => Seq(Metric(s"dash.$v.plan_ms", "ms"),
                             Metric(s"dash.$v.exec_ms", "ms"),
                             Metric(s"dash.$v.jobs", "count"))) ++
    Seq(Metric("dash.jobs_per_page", "count"), Metric("dash.input_bytes_per_page", "B")) ++
    iterative.flatMap { q =>
      val k = q.takeWhile(_ != '_')
      Seq(Metric(s"q.$k.s", "s"), Metric(s"q.$k.jobs", "count"), Metric(s"q.$k.tasks", "count"),
          Metric(s"q.$k.shuffle_bytes", "B"), Metric(s"q.$k.driver_gap_s", "s"))
    } ++
    Seq(Metric("trace.overhead_frac", "ratio"))
}

/** Per-layer values of one traced run, every name present from the start. */
final class Layers(names: Seq[Metric]) {
  val values: mutable.LinkedHashMap[String, Double] =
    mutable.LinkedHashMap.from(names.map(_.name -> 0.0))
  def set(name: String, v: Double): Unit = {
    require(values.contains(name), s"unknown per-layer metric $name")
    values(name) = v
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile; NaN when empty. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
}
