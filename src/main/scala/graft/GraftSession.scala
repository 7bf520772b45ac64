package graft

import org.apache.spark.sql.SparkSession

/** Session factory for the graft engine.
  *
  * Local defaults target the test harness (`local[32]`, one JVM); the same
  * settings are the ones that matter on a real cluster: AQE for runtime
  * re-planning (skew joins, dynamic coalescing of shuffle partitions) and an
  * explicit shuffle-partition count sized to the parallelism instead of the
  * legacy default of 200.
  */
object GraftSession {

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
}
