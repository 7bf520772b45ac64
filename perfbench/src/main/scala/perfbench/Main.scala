package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.{GraftSession, HostCalibration}

/** The benchmark's entry point.
  *
  *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *
  * Runs from the root of a checkout of the repository. Prints one line per
  * metric (`metric <name> <value> <unit>`), the correctness verdict, and as
  * its last line one JSON object: `correct`, `attempted`, `failed` and the
  * metrics — the end-to-end ones untraced, the per-layer ones traced.
  */
object Main {

  /** Ingest and dashboard store size: users × months × ~games per month. */
  val StoreSize: WorldSize = WorldSize(users = 2, months = 6, gamesPerMonth = 20)
  val Workloads: Seq[String] = Seq("daily", "queries")

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean)

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    val w = m.getOrElse("--workload", sys.error("--workload is required"))
    require(Workloads.contains(w), s"unknown workload $w (one of ${Workloads.mkString(", ")})")
    Args(w, m.getOrElse("--seed", "1").toLong, m.getOrElse("--seconds", "10").toDouble,
         m.getOrElse("--trace", "0") == "1")
  }

  def main(argv: Array[String]): Unit = {
    val code =
      try { run(parse(argv), Paths.get("").toAbsolutePath); 0 }
      catch { case NonFatal(e) => e.printStackTrace(); 1 }
    sys.exit(code)
  }

  def querySet(root: Path, name: String): Seq[String] =
    Files.readAllLines(root.resolve(s"perfbench/queries/$name.txt")).toArray
      .map(_.toString.trim).filter(l => l.nonEmpty && !l.startsWith("#")).toSeq

  /** One local session through the program's own factory. */
  def session(root: Path, nproc: Int): SparkSession = {
    val tmp = root.resolve(".bench_build").resolve("tmp")
    Files.createDirectories(tmp)
    System.setProperty("spark.local.dir", tmp.toString)
    System.setProperty("spark.sql.warehouse.dir", tmp.resolve("warehouse").toString)
    val spark = GraftSession.local("perfbench", Some(nproc))
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def run(args: Args, root: Path): Unit = {
    val data = root.resolve("perfbench/data/sf0.001")
    require(Files.isDirectory(data), s"missing $data")
    val iterative = querySet(root, "iterative")
    val nproc = Runtime.getRuntime.availableProcessors()
    val loadPre = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .getSystemLoadAverage

    val cpu0 = processCpuS
    val steal0 = hostStealS
    val t0 = System.nanoTime()
    val spark = session(root, nproc)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val env = new Env(spark, root, args.seed)
    try {
      val workload: Workload = args.workload match {
        case "daily" => new DailyCycle(env, StoreSize)
        case "queries" =>
          val hashes = QueryHash.load(root.resolve("perfbench/queries/hashes.tsv"))
          new QueryList(env, iterative ++ querySet(root, "short"), data, hashes)
      }
      val plain = new Client(spark, new Tracer(false), None)
      val tSetup = System.nanoTime()
      val setup = workload.setup(plain)
      val tLoop = System.nanoTime()
      // queries: session start plus the warm-up pass
      val setupS = setup + (if (args.workload == "queries") sessionS else 0.0)

      // at least two sets, so that a median is not a single sample
      val (samples, layers) =
        if (!args.trace) (workload.loop(plain, args.seconds, 2), None)
        else {
          // untraced first half, traced second half; the tracing overhead
          // compares the traced sets with the last untraced one
          val base = workload.loop(plain, args.seconds / 2, 2)
          val tracer = new Tracer(true)
          Endpoint.tracer = tracer
          val traced = new Client(spark, tracer, Some(SparkCounters.install(spark)))
          val s = tracer.span("workload", args.workload)(workload.loop(traced, args.seconds / 2, 1))
          val l = new Layers(Metrics.perLayer(iterative))
          workload.layers(traced, s, l)
          l.set("trace.overhead_frac", Stats.median(s.sets) / base.sets.last - 1.0)
          Endpoint.tracer = new Tracer(false)
          val out = root.resolve(".bench_build/traces")
            .resolve(s"${args.workload}-seed${args.seed}.json")
          tracer.write(out)
          println(s"trace: ${root.relativize(out)} (${tracer.all.size} spans)")
          (s, Some((l, traced)))
        }

      val tEnd = System.nanoTime()
      val peakRssMb = peakRss / 1024.0
      val cal = HostCalibration.measure()
      println(f"host: nproc=$nproc loadavg_pre=$loadPre%.2f calibration=${cal.json}")
      println(f"phases: session ${sessionS}%.1f s, set-up ${(tLoop - tSetup) / 1e9}%.1f s, " +
        f"loop ${(tEnd - tLoop) / 1e9}%.1f s, calibration ${(System.nanoTime() - tEnd) / 1e9}%.1f s; " +
        f"process cpu ${processCpuS - cpu0}%.1f s, host steal ${hostStealS - steal0}%.1f s")

      val clients = Seq(plain) ++ layers.map(_._2)
      val attempted = clients.map(_.attempted).sum
      val failed = clients.map(_.failed).sum
      clients.flatMap(_.problems).take(20).foreach(p => println(s"problem: $p"))
      val correct = failed == 0 && attempted > 0 && !samples.setSeconds.isNaN

      val e2e: Seq[(Metric, Double)] = Seq(
        "setup_s" -> setupS, "set_s" -> samples.setSeconds,
        "op_p50_ms" -> Stats.median(samples.opsMs),
        "peak_rss_mb" -> peakRssMb).map { case (n, v) =>
          Metrics.endToEnd.find(_.name == n).get -> v }
      e2e.foreach { case (m, v) => println(f"metric ${m.name} $v%.6f ${m.unit}") }
      println(f"metric failed_frac ${failed.toDouble / math.max(1L, attempted)}%.6f ratio")
      println(s"samples: sets=${samples.sets.size} ops=${samples.opsMs.size}")
      println(s"correct: $correct (attempted $attempted, failed $failed)")

      val metrics: Seq[(Metric, Double)] = layers match {
        case None => e2e
        case Some((l, _)) =>
          Metrics.perLayer(iterative).map(m => m -> l.values(m.name))
      }
      val body = metrics.map { case (m, v) =>
        s"${Json.str(m.name)}: {\"value\": ${num(v)}, \"unit\": ${Json.str(m.unit)}}" }
      println(s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, """ +
        s""""metrics": {${body.mkString(", ")}}}""")
    } finally {
      spark.stop()
      Workload.deleteTree(env.work)
    }
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)

  def processCpuS: Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e9
      case _ => Double.NaN
    }

  /** CPU time the hypervisor gave to others while this host wanted it. */
  def hostStealS: Double =
    scala.io.Source.fromFile("/proc/stat").getLines().next().split("\\s+")
      .lift(8).map(_.toDouble / 100).getOrElse(Double.NaN)

  /** Peak resident set of this process (VmHWM), in KiB. */
  def peakRss: Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble).getOrElse(Double.NaN)
}
