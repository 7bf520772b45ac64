package graft

import org.apache.spark.sql.SparkSession

import graft.plans.LevenshteinThresholdRewrite

/** Session factory for the graft engine.
  *
  * Local defaults target the test harness (`local[32]`, one JVM); the same
  * settings are the ones that matter on a real cluster: AQE for runtime
  * re-planning (skew joins, dynamic coalescing of shuffle partitions) and an
  * explicit shuffle-partition count sized to the parallelism instead of the
  * legacy default of 200.
  *
  * The JVM-wide cache of compiled generated classes is sized to the
  * engine's working set ([[CodegenCacheEntries]]), so a long-lived session
  * compiles each class once instead of recompiling it on every pass.
  *
  * Every session carries the [[graft.plans.LevenshteinThresholdRewrite]]
  * optimizer rule, an exact expression equivalence, so a query's plan
  * does not depend on which queries ran before it in the session.
  */
object GraftSession {

  /** Entries of Spark's JVM-wide cache of compiled generated classes
    * (`spark.sql.codegen.cache.maxEntries`, Spark's default 100). Measured
    * working sets, in distinct classes: a daily cycle (an ingest run, its
    * correctness gate and a six-visual dashboard page) about 140, a pass
    * of the benchmark's query set about 120, and q269, the heaviest
    * query, 98 alone. Under the default cap each cycle evicts its own
    * classes and recompiles them all; 1,000 holds several working sets.
    *
    * The cap stays bounded because some classes inline a literal, so each
    * new value compiles a new class that no later pass reuses: the
    * ingest's `current_timestamp()` adds 4 classes per run, and a
    * date-range slicer 2 per page. A long-running stream or BI session
    * would pile those up without bound under a cap of, say, 100,000. The
    * cache is created once per JVM, from the conf of the session active
    * when Spark first generates code.
    */
  val CodegenCacheEntries: Int = 1000

  /** Build a local session. `cores` defaults to the driver-provided
    * SPARK_GRAFT_CPUS so bench/verify runs match the harness sizing.
    */
  def local(appName: String = "graft",
            cores: Option[Int] = None): SparkSession =
    builder(appName, cores.getOrElse(
      envCores(math.min(Runtime.getRuntime.availableProcessors(), 32))))
      .getOrCreate()

  /** SPARK_GRAFT_CPUS when set, else the caller's `default`. */
  def envCores(default: Int): Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(default)

  /** The one place a graft session is specified: `local[cores]` with
    * `cores` shuffle partitions and [[configure]]'s settings. Callers add
    * their own confs on top and call `getOrCreate()`.
    */
  def builder(appName: String, cores: Int): SparkSession.Builder =
    configure(
      SparkSession.builder().master(s"local[$cores]").appName(appName),
      cores)

  /** Apply graft's standard configuration to any builder (local or cluster).
    * Kept separate so cluster deployments get identical semantics.
    */
  def configure(b: SparkSession.Builder,
                shufflePartitions: Int): SparkSession.Builder =
    b.config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.filterPushdown", "true")
      // testdata events.parquet stores TIMESTAMP(NANOS) which Spark has no
      // native type for; read as long nanos and normalize in Tables.events.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toLong)
      .withExtensions(_.injectOptimizerRule(_ => LevenshteinThresholdRewrite))
}
