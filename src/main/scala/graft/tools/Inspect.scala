package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, GraftCodegenAudit, SparkSession}
import org.apache.spark.sql.execution.FormattedMode

import graft.{GraftSession, SparkEntry}
import graft.obs.{Blocks, Meter}

/** The one inspection tool: `runMain graft.tools.Inspect <sfDir>
  * <prefixes> plans <outDir> <tag> | jobs | codegen [outFile]`, over the
  * queries [[SparkEntry.select]] picks (`prefixes` comma-separated, empty
  * = the whole suite). Each query's OWN `QueryExecution` is executed
  * (`toRdd.count()`), so the adaptive plan in that tree finalizes; a noop
  * write would execute a separate one and leave it `isFinalPlan=false`.
  * A query that throws is reported, the others still run, and the exit
  * code is nonzero.
  */
object Inspect {

  /** Queries ALLOWED in the near-limit band (≥ 75% of the JIT ceiling),
    * each with a justification the next reader can re-check. Empty by
    * policy: a query one fused expression from the silent 7–10×
    * interpreter cliff fails the audit, so the fix lands with the fusion.
    */
  val PinnedNearLimit: Map[String, String] = Map.empty

  def main(args: Array[String]): Unit = {
    // the compile cache (GraftSession.CodegenCacheEntries) is the audit's
    // witness for intermediate-job classes, and keeps a query's warm-up
    // classes for its timed `jobs` run
    val spark = GraftSession.builder("graft-inspect", GraftSession.envCores(32))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val code = try run(spark, args) finally spark.stop()
    sys.exit(code)
  }

  /** Runs one mode over the selected queries; returns the exit code. */
  def run(spark: SparkSession, args: Array[String]): Int = args match {
    case Array(sfDir, prefixes, "plans", outDir, tag) =>
      plans(spark, sfDir, prefixes, outDir, tag)
    case Array(sfDir, prefixes, "jobs") => jobs(spark, sfDir, prefixes)
    case Array(sfDir, prefixes, "codegen", outFile @ _*) if outFile.size <= 1 =>
      codegen(spark, sfDir, prefixes,
              outFile.headOption.getOrElse("JITAUDIT.json"))
    case _ =>
      System.err.println("usage: Inspect <sfDir> <prefixes> " +
        "plans <outDir> <tag> | jobs | codegen [outFile]")
      2
  }

  /** The one loop: hands each selected query's name and a builder of
    * fresh DataFrames to `query`, and returns the queries that threw,
    * each with its exception class.
    */
  private def inspect(spark: SparkSession, sfDir: String, prefixes: String)(
      query: (String, () => DataFrame) => Unit): Seq[(String, String)] =
    SparkEntry.select(prefixes.split(",").toSeq).flatMap { case (name, fn) =>
      try { query(name, () => fn(spark, sfDir)); None }
      catch { case e: Throwable =>
        System.err.println(s"[inspect] $name failed: $e")
        Some(name -> e.getClass.getName)
      } finally Blocks.release(spark)
    }

  private def execute(df: DataFrame): Unit = df.queryExecution.toRdd.count()

  private def exitCode(failed: Seq[(String, String)]): Int =
    if (failed.isEmpty) 0 else 1

  /** `plans`: `<outDir>/<name>_<tag>.txt` holds the formatted plan before
    * execution and the executed plan after it (before/after evidence). */
  private def plans(spark: SparkSession, sfDir: String, prefixes: String,
                    outDir: String, tag: String): Int = {
    Files.createDirectories(Paths.get(outDir))
    exitCode(inspect(spark, sfDir, prefixes) { (name, build) =>
      val df = build()
      val formatted = df.queryExecution.explainString(FormattedMode)
      execute(df)
      val out =
        s"""== explain("formatted") ==
           |$formatted
           |== executed plan (post-AQE, isFinalPlan — captured after executing this QueryExecution) ==
           |${df.queryExecution.executedPlan}
           |""".stripMargin
      Files.writeString(Paths.get(outDir, s"${name}_$tag.txt"), out)
      println(s"[inspect] wrote ${name}_$tag.txt")
    })
  }

  /** `jobs`: a warm-up run, then a timed run; prints its wall time and its
    * job time grouped by job description (e.g. q269's `q269:<stage>`). */
  private def jobs(spark: SparkSession, sfDir: String,
                   prefixes: String): Int = {
    exitCode(inspect(spark, sfDir, prefixes) { (name, build) =>
      execute(build()) // warm-up
      val (wall, counts) = Meter.during(spark) {
        val t0 = System.nanoTime()
        execute(build())
        (System.nanoTime() - t0) / 1e9
      }
      println(f"JOBPROFILE $name total ${wall}%.2f s")
      counts.jobTime.toSeq.sortBy(-_._2.ms).foreach { case (d, t) =>
        println(f"JOBPROFILE  ${t.ms / 1e3}%7.2f s  ${t.jobs}%3d jobs  $d")
      }
    })
  }

  /** `codegen`: after each query runs, re-emit + re-compile each fused
    * whole-stage-codegen stage of its FINAL adaptive plan and record the
    * largest generated method. A method over HotSpot's 8000-byte
    * `DontCompileHugeMethods` ceiling runs in the bytecode interpreter —
    * silently, correctly, and 7–10× slower. Queries that threw are listed
    * under `failed`: they were not audited, so they must not pass.
    *
    * Scope: whole-stage-codegen classes only. Other generated classes
    * (unsafe projections, orderings, the aggregate fast hashmap) are
    * emitted per-operator, not per-fused-stage, and stay far below the
    * ceiling by construction; WSCG is where unbounded fusion of
    * expression chains concentrates bytecode (both observed bailouts
    * were WSCG `processNext` bodies).
    */
  private def codegen(spark: SparkSession, sfDir: String, prefixes: String,
                      outFile: String): Int = {
    val nearLimit = (GraftCodegenAudit.HotSpotHugeMethodLimit * 0.75).toInt
    // tokens of generated classes already attributed to an earlier query
    val seenTokens = GraftCodegenAudit.compileCacheSnapshot().map(_.token)
      .to(scala.collection.mutable.Set)
    val audited = Seq.newBuilder[Audited]
    val failed = inspect(spark, sfDir, prefixes) { (name, build) =>
      val t0 = System.nanoTime()
      val df = build()
      execute(df)
      // Two complementary views (each alone has a blind spot):
      //  - plan walk: the final plan's fused stages, exact per-stage
      //    ids — but eager checkpoints/iterative rounds truncate
      //    their stages out of the final plan;
      //  - compile-cache diff: every class ANY of the query's jobs
      //    newly compiled, including intermediate ones — but cache
      //    hits stay attributed to their first compiler.
      val fromPlan = GraftCodegenAudit.audit(df)
      val fresh = GraftCodegenAudit.compileCacheSnapshot()
        .filterNot(e => seenTokens.contains(e.token))
      seenTokens ++= fresh.map(_.token)
      val a = Audited(name, fromPlan, fresh)
      audited += a
      val dt = (System.nanoTime() - t0) / 1e9
      println(f"[inspect] $name%-28s stages=${a.planStats.size}%3d " +
        f"newClasses=${fresh.size}%3d maxMethod=${a.maxMethod}%5d ($dt%.1f s)")
    }.map(_._1)
    val results = audited.result()
    val over = results.filter(_.over).map(_.name)
    val near = results.filter(a => !a.over && a.maxMethod > nearLimit).map(_.name)
    def names(ns: Seq[String]) = ns.map("\"" + _ + "\"").mkString("[", ",", "]")
    val perQuery = results.map { a =>
      val detail =
        if (a.maxMethod <= nearLimit) ""
        else a.planStats.find(_.maxMethodCodeSize == a.maxMethod) match {
          case Some(w) =>
            s""","worst_stage":{"codegen_stage_id":${w.stageId},"root":"${w.rootNode}","max_method_bytes":${w.maxMethodCodeSize},"max_const_pool":${w.maxConstPoolSize},"src_chars":${w.srcChars}}"""
          case None =>
            val w = a.newClasses.maxBy(_.maxMethodCodeSize)
            val lbl = w.label.replace("\\", "\\\\").replace("\"", "\\\"")
            s""","worst_class":{"label":"$lbl","max_method_bytes":${w.maxMethodCodeSize},"max_const_pool":${w.maxConstPoolSize},"src_chars":${w.srcChars}}"""
        }
      s""""${a.name}":{"n_stages":${a.planStats.size},"n_new_classes":${a.newClasses.size},"max_method_bytes":${a.maxMethod}$detail}"""
    }.mkString("{", ",", "}")
    val line =
      s"""{"jit_limit_bytes":${GraftCodegenAudit.HotSpotHugeMethodLimit},""" +
      s""""near_limit_bytes":$nearLimit,"sf":"$sfDir",""" +
      s""""cpus":${spark.sparkContext.defaultParallelism},""" +
      s""""n_queries":${results.size + failed.size},"over_limit":${names(over)},""" +
      s""""near_limit":${names(near)},"failed":${names(failed)},"queries":$perQuery}"""
    Files.writeString(Paths.get(outFile), line)
    println(s"[inspect] over_limit=${names(over)} near_limit=${names(near)} " +
      s"failed=${names(failed)} -> $outFile")
    // GATE: an over-limit stage, an unpinned near-limit query or a query
    // that could not be audited fails the run (a warning in a JSON nobody
    // diffs is how q203/q271 ran interpreted for four rounds). The
    // artifact is written first so the evidence is always on disk.
    val unpinned = near.filterNot(PinnedNearLimit.contains)
    if (over.isEmpty && unpinned.isEmpty && failed.isEmpty) 0
    else {
      System.err.println(s"[inspect] FAIL: over_limit=${over.mkString(",")} " +
        s"unpinned_near_limit=${unpinned.mkString(",")} " +
        s"failed=${failed.mkString(",")} (kernel-ize the projection or " +
        "pin with a justification in Inspect.PinnedNearLimit)")
      1
    }
  }

  /** One audited query: its final plan's fused stages and the classes
    * its jobs newly compiled. */
  private final case class Audited(
      name: String, planStats: Seq[GraftCodegenAudit.StageStat],
      newClasses: Seq[GraftCodegenAudit.CacheEntry]) {
    val maxMethod: Int = (planStats.map(_.maxMethodCodeSize) ++
      newClasses.map(_.maxMethodCodeSize)).maxOption.getOrElse(0)
    val over: Boolean =
      planStats.exists(_.overJitLimit) || newClasses.exists(_.overJitLimit)
  }
}
