package graft

import graft.obs.{Blocks, Counts, Meter, Released}

object Bench {

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = GraftSession.envCores(4)
    // Optional comma-separated name-prefix filter (dev: reproduce one
    // query's per-sweep metrics without paying the full suite).
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSeq)
    // Sampled BEFORE any Spark work: from here on the bench's own tasks
    // dominate the 1-minute loadavg, so only this pre-session sample can
    // witness EXTERNAL load. The r10 driver run started at loadavg 9.78
    // on a 32-cpu box and the old 1.5×cpus threshold waved it through —
    // wall times came out 1.6× the same-code quiet-box run.
    val loadPre = systemLoadAvg
    val spark = GraftSession.builder("graft-bench", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // SUITE ORDER (SparkEntry.select): one canonical order for BOTH
    // execution and JSON emission, so committed artifacts diff cleanly.
    val queries = SparkEntry.select(only.getOrElse(Nil))
    // Untimed warmup: run the FULL suite once. Cold runs pay one-off
    // Janino/JIT compile of each query's generated classes (~11 s for the
    // heaviest dedup plan, ~2.5 s for the chess CaseWhen trees) plus
    // parquet footer reads; which query absorbed those costs used to
    // depend on map iteration order, making per-query numbers
    // round-to-round noisy (the r3 "q37 regression" was exactly this
    // noise plus machine contention — isolated runs never reproduced it).
    // The timed passes below therefore measure steady-state plan execution.
    queries.foreach { case (_, fn) =>
      try fn(spark, sfDir).count() catch { case _: Throwable => () }
    }
    Blocks.release(spark)
    // MIN-OF-THREE INTERLEAVED timed sweeps: the full suite runs three
    // times end-to-end and each query's time is the min ACROSS sweeps.
    // Interleaving (not three back-to-back runs of one query) is what
    // makes the min contention-robust: an external load spike of a few
    // minutes hits DIFFERENT queries in different sweeps, so every
    // query gets at least one quiet sample unless the spike outlasts a
    // whole sweep — back-to-back repeats would hand all three samples
    // of the unlucky query to the same spike (r10: q258 14→86 s, q219
    // 2→24 s, both at byte-identical shuffle metrics). Per-query
    // loadavg at each sample start is recorded so the reader can see
    // WHICH samples were loaded.
    //
    // Shuffle/spill bytes, jobs, task counts and codegen compiles are
    // metered PER SWEEP
    // (r11 verdict #1): the old one-snapshot-on-the-last-sweep shape
    // could not distinguish a re-executed stage from an accounting leak
    // when the driver's r11 artifact showed q269 at exactly 2× the
    // same-code builder run. The HEADLINE byte fields are taken from
    // the sweep with the MEDIAN total shuffle bytes, and the full
    // per-sweep arrays ride next to them so an inflated sweep is
    // attributable (failed tasks → retry; same tasks at 2× bytes → AQE
    // plan switch; bytes with no extra tasks or failures → accounting).
    // After each query the persisted RDDs it left pinned are released
    // and recorded (count and cached bytes), so every timed run starts
    // from the same empty block manager.
    // Sweep count: 3 for the official artifact; the sf1.0 growth
    // harness dials it down (each sweep there is ~10× the work).
    val sweeps = sys.env.get("SPARK_GRAFT_SWEEPS").map(_.toInt).getOrElse(3)
    val names = queries.map(_._1)
    val loadStart = systemLoadAvg
    val cpuT0 = processCpuNs
    val wallT0 = System.nanoTime()
    val times = Array.fill(sweeps)(
      collection.mutable.LinkedHashMap.empty[String, (Double, Double)])
    // Per sweep and query: what the Meter counted while the query ran,
    // and the persisted RDDs it left behind for the release after it.
    val sweepMetrics = Array.fill(sweeps)(
      collection.mutable.LinkedHashMap.empty[String, (Counts, Released)])
    // Host calibration point BEFORE each sweep (r14 verdict #1): fixed,
    // data-independent CPU + memory kernels whose wall time measures
    // the HOST, not the code — the quantitative anchor that lets a
    // +25% wall round be attributed (factor dropped 25% → environment)
    // or flagged (factor flat → regression) instead of argued in prose.
    val calPoints = Array.ofDim[HostCalibration.Point](sweeps)
    // First exception class per query, over all sweeps. A query that
    // throws in ANY sweep is reported failed and its seconds stay out of
    // every time map and total: a throw must never read as a fast run.
    val failures = collection.mutable.Map.empty[String, String]
    for (s <- 0 until sweeps) {
      calPoints(s) = HostCalibration.measure()
      for ((name, fn) <- queries) {
        val la = systemLoadAvg
        val (dt, counts) = Meter.during(spark) {
          val t0 = System.nanoTime()
          try fn(spark, sfDir).count()
          catch { case e: Throwable =>
            failures.getOrElseUpdate(name, e.getClass.getName) }
          (System.nanoTime() - t0) / 1e9
        }
        times(s)(name) = (dt, la)
        sweepMetrics(s)(name) = (counts, Blocks.release(spark))
      }
    }
    val wallSec = (System.nanoTime() - wallT0) / 1e9
    val cpuSec = (processCpuNs - cpuT0) / 1e9
    val loadEnd = systemLoadAvg
    // Contention gate (never refuse — the driver needs AN artifact):
    // external load at SESSION START above a quarter of the cores means
    // wall times are not trustworthy. Only the pre-session sample can
    // carry this signal — once the sweeps run, loadavg measures the
    // bench itself.
    val contended = loadPre > cpus.toDouble * 0.25
    // Per-query rollup in SUITE ORDER (ADVICE r11: a .toMap here emitted
    // the JSON objects in hash order, making committed artifacts
    // diff-noisy whenever the query set changed).
    final case class QRes(minSec: Double, head: Counts, perSweep: Seq[Counts],
                          released: Seq[Released], sweepSec: Seq[Double],
                          loads: Seq[Double])
    val results: Seq[(String, QRes)] = names.map { name =>
      val samples = (0 until sweeps).map(s => times(s)(name))
      val (counts, released) =
        (0 until sweeps).map(s => sweepMetrics(s)(name)).unzip
      // Headline bytes from the MEDIAN-shuffle sweep, not the min
      // (r13 verdict #3): q237's official r13 run recorded [63.3, 45.9,
      // 63.3] KB on a plan whose shape is deterministic, because a
      // neighbor's task events straggled across the old sleep-based
      // settle window. Meter's exact bus drain removes that cause; the
      // median stays because a min headline would turn any single bad
      // sample into the floor every later round is diffed against,
      // while a REAL plan switch moves every sweep and the median with
      // it. Wall time keeps the min (contention robust — wall noise is
      // one-sided).
      val head = counts.sortBy(_.shuffleBytes).apply(counts.size / 2)
      name -> QRes(samples.map(_._1).min, head, counts, released,
                   samples.map(_._1), samples.map(_._2))
    }
    val okResults = results.filterNot(r => failures.contains(r._1))
    val okNames = okResults.map(_._1)
    val failed = names.filter(failures.contains).map(n => n -> failures(n))
    val failedJson = failed.map("\"" + _._1 + "\"").mkString("[", ",", "]")
    val qs = okResults.map { case (k, r) => s"\"" + k + "\":" + r.minSec }
      .mkString("{", ",", "}")
    // CALIBRATED wall: each sweep's raw seconds × that sweep's host
    // factor (measured at sweep start) converts to reference-box
    // seconds; the per-query headline is the min over calibrated
    // sweeps — same contention-robust min discipline as raw wall, but
    // now a sweep that ran on a degraded box is scaled before it
    // competes for the min rather than silently losing it.
    val sweepFactors = calPoints.map(_.factor)
    val calQ: Seq[(String, Double)] = okNames.map { name =>
      name -> (0 until sweeps)
        .map(s => times(s)(name)._1 * sweepFactors(s)).min
    }
    val calTotal = calQ.map(_._2).sum
    val calQs = calQ.map { case (k, v) => f""""$k":$v%.4f""" }
      .mkString("{", ",", "}")
    val calLine =
      f""""calibration":{"ref":{"st_arith_mops":${HostCalibration.RefStArithMops}%.1f,"mt_arith_mops":${HostCalibration.RefMtArithMops}%.1f,"mem_gbps":${HostCalibration.RefMemGBps}%.2f},"sweep_points":${calPoints.map(_.json).mkString("[", ",", "]")},"sweep_factors":${sweepFactors.map(f => f"$f%.4f").mkString("[", ",", "]")},"factor_median":${sweepFactors.sorted.apply(sweeps / 2)}%.4f}"""
    def arr(xs: Seq[Any]): String = xs.mkString("[", ",", "]")
    val qm = results.map { case (k, r) =>
      s"\"$k\":{\"shuffle_write_bytes\":${r.head.shuffleWriteBytes}," +
        s"\"shuffle_read_bytes\":${r.head.shuffleReadBytes}," +
        s"\"mem_spill_bytes\":${r.head.memorySpillBytes}," +
        s"\"disk_spill_bytes\":${r.head.diskSpillBytes}," +
        s"\"sweep_shuffle_bytes\":${arr(r.perSweep.map(_.shuffleBytes))}," +
        s"\"sweep_spill_bytes\":${arr(r.perSweep.map(_.spillBytes))}," +
        s"\"sweep_tasks\":${arr(r.perSweep.map(_.tasks))}," +
        s"\"sweep_failed_tasks\":${arr(r.perSweep.map(_.failedTasks))}," +
        s"\"sweep_jobs\":${arr(r.perSweep.map(_.jobs))}," +
        s"\"sweep_compiles\":${arr(r.perSweep.map(_.compiles))}," +
        s"\"sweep_compile_ms\":${arr(r.perSweep.map(c => f"${c.compileMs}%.1f"))}," +
        s"\"sweep_persisted_rdds\":${arr(r.released.map(_.rdds))}," +
        s"\"sweep_persisted_bytes\":${arr(r.released.map(_.bytes))}," +
        s"\"sweep_sec\":${r.sweepSec.mkString("[", ",", "]")}," +
        "\"loadavg_starts\":" +
        r.loads.map(l => f"$l%.2f").mkString("[", ",", "]") +
        s",\"status\":\"${failures.getOrElse(k, "ok")}\"}"
    }.mkString("{", ",", "}")
    val total = okResults.map(_._2.minSec).sum
    val sweepTotals = (0 until sweeps)
      .map(s => okNames.map(n => times(s)(n)._1).sum)
    val loadLine =
      f""""load":{"loadavg_1m_presession":$loadPre%.2f,"loadavg_1m_start":$loadStart%.2f,"loadavg_1m_end":$loadEnd%.2f,"cpu_wall_ratio":${if (wallSec > 0) cpuSec / wallSec else 0.0}%.2f,"contended":$contended,"sweep_totals_sec":${sweepTotals.map(t => f"$t%.1f").mkString("[", ",", "]")}}"""
    val headBytes = okResults.map { case (k, r) => k -> r.head }
    // The round is STAMPED into the JSON (r12 verdict #7: the round-12
    // detail landed in a file named r13 and a future reader would diff
    // the wrong pair — the stamp makes the artifact self-describing
    // regardless of the file it ends up in).
    val line = s"""{"metric":"total","value":$total,"unit":"sec","round":$currentRound,"queries":$qs,"calibrated_total_sec":$calTotal,"calibrated_queries":$calQs,$calLine,"query_metrics":$qm,"failed":$failedJson,"sf":"$sfDir","cpus":$cpus,$loadLine,"delta_vs_prev":${deltaVsPrev(headBytes, calQ, failed, sfDir, cpus)}}"""
    println(line)
    // The driver's tail capture truncates stdout at 2000 chars (r06 lost
    // every per-query timing that way) — persist the full JSON as a
    // committed artifact. Best-effort: a read-only cwd must not fail the
    // bench. A FILTERED (SPARK_GRAFT_ONLY) or non-default-sweep run is a
    // dev repro, not the official floor — writing it over the round
    // artifact would silently drop every absent query from the next
    // round's regression compare (ADVICE r12), so those runs go to a
    // `_partial` file the deltaVsPrev scan never reads.
    val official = only.isEmpty && sweeps == 3
    // Never OVERWRITE an existing official round artifact (r13 verdict
    // #3's root cause in its second form: a post-commit refresh would
    // either mint the NEXT round's filename via inference or clobber
    // this round's committed floor). The first official run of a round
    // owns BENCH_LOCAL_r<N>.json; any later official rerun in the same
    // round lands in `_refresh<k>`. SPARK_GRAFT_BENCH_TAG names a dev
    // experiment explicitly and never collides.
    val tag = sys.env.get("SPARK_GRAFT_BENCH_TAG").map("_" + _).getOrElse("")
    val artifact = {
      val base =
        s"BENCH_LOCAL_r$currentRound$tag${if (official) "" else "_partial"}"
      if (!official || tag.nonEmpty ||
          !java.nio.file.Files.exists(java.nio.file.Paths.get(s"$base.json")))
        s"$base.json"
      else Iterator.from(1).map(k => s"${base}_refresh$k.json")
        .find(f => !java.nio.file.Files.exists(java.nio.file.Paths.get(f)))
        .get
    }
    try {
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(artifact), line)
    } catch { case _: Throwable => () }
    // The per-query line above outgrew the driver's 2000-char tail in 5 of
    // 7 rounds (`parsed` came back null) — a 264-query map cannot ride a
    // 2000-char tail, so the FINAL stdout line is a compact, complete
    // JSON object that always fits; it carries the contention evidence
    // (pre-session loadavg, per-sweep totals) and points at the
    // committed BENCH_LOCAL artifact for the per-query map.
    println(f"""{"metric":"total","value":$total,"unit":"sec","round":$currentRound,"n_queries":${results.size},"failed":$failedJson,"calibrated_total_sec":$calTotal%.1f,"host_factor_median":${sweepFactors.sorted.apply(sweeps / 2)}%.4f,"sf":"$sfDir","cpus":$cpus,"contended":$contended,"loadavg_1m_presession":$loadPre%.2f,"sweep_totals_sec":${sweepTotals.map(t => f"$t%.1f").mkString("[", ",", "]")},"detail":"$artifact"}""")
    spark.stop()
  }

  /** 1-minute system load average (-1.0 where the platform hides it). */
  private def systemLoadAvg: Double =
    java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage

  /** Cumulative JVM process CPU time, ns (0 where unavailable). The
    * cpu/wall ratio over the timed section is the second contention
    * witness: external load shows as wall growing while our own CPU
    * share stays flat.
    */
  private def processCpuNs: Long =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
      case _ => 0L
    }

  /** Round number: SPARK_GRAFT_ROUND (authoritative — set it for every
    * deliberate run so a post-commit refresh can't mint a next-round
    * filename; r13 verdict #3: the r13 refresh landed as `r14` because
    * the round was INFERRED from artifact files that had grown by
    * then). Fallback when unset: max N of CORRECTNESS_r<N>.json
    * present + 1 (the driver writes that file at the END of round N,
    * so during round N only rounds < N exist). 0 outside the repo.
    */
  private def currentRound: Int =
    sys.env.get("SPARK_GRAFT_ROUND").flatMap(_.toIntOption).getOrElse {
      val rx = "CORRECTNESS_r(\\d+)\\.json".r
      val names = Option(new java.io.File(".").list()).getOrElse(Array.empty)
      val rounds = names.collect { case rx(n) => n.toInt }
      if (rounds.isEmpty) 0 else rounds.max + 1
    }

  /** The prior artifact's calibrated per-query map. Pulled by regex
    * like the byte fields (self-generated fixed-shape JSON, no JSON
    * dependency in the library); extracted + spec-pinned because this
    * gate first FIRES a round after it ships — a parse bug here would
    * silently never flag (`BenchDeltaSpec`).
    */
  private[graft] def parseCalibratedQueries(text: String): Map[String, Double] =
    "\"calibrated_queries\":\\{([^}]*)\\}".r.findFirstMatchIn(text)
      .map { m =>
        "\"(q[^\"]+)\":([0-9.eE+-]+)".r.findAllMatchIn(m.group(1))
          .map(p => p.group(1) -> p.group(2).toDouble).toMap
      }.getOrElse(Map.empty)

  /** Calibrated-wall regression predicate: >50% AND >0.3 s absolute —
    * deliberately loose (calibrated wall keeps scheduler jitter; the
    * byte gate stays the precise plan witness).
    */
  private[graft] def wallRegressed(prevSec: Double, nowSec: Double): Boolean =
    nowSec > prevSec * 1.5 && nowSec - prevSec > 0.3

  /** The `failures` (query, exception class) whose query the previous
    * artifact timed (its raw `queries` map): both comparisons cover timed
    * queries only, so without this a query that starts throwing drops
    * out of `delta_vs_prev` without a trace.
    */
  private[graft] def failedSincePrev(prevText: String,
                                     failures: Seq[(String, String)])
      : Seq[(String, String)] = {
    val prevTimed = "\"queries\":\\{([^}]*)\\}".r.findFirstMatchIn(prevText)
      .map(m => "\"(q[^\"]+)\":".r.findAllMatchIn(m.group(1))
        .map(_.group(1)).toSet)
      .getOrElse(Set.empty[String])
    failures.filter { case (name, _) => prevTimed(name) }
  }

  /** Per-query shuffle-byte growth vs the previous round's committed
    * BENCH_LOCAL artifact: flags any query whose (write + read) shuffle
    * bytes grew > 20% — a plan regression signal wall-clock noise can't
    * fake. Both sides are MEDIAN-across-sweeps (r14: this run's
    * headline by construction; the prior artifact via its per-sweep
    * arrays, min-floor headline fallback for pre-r12 artifacts), so a
    * single bad sweep on EITHER side — a loaded sweep here, an
    * attribution straggler there — cannot flag a query whose plan is
    * unchanged; a real plan switch moves every sweep and the median
    * with it.
    * The previous artifact is self-generated JSON with a fixed shape, so
    * a regex pull of the two counters is sufficient (no JSON dependency
    * in the library).
    *
    * Only same-scale-factor, same-parallelism artifacts are comparable:
    * shuffle bytes scale with the data (an sf0.01-vs-sf0.1 diff flags
    * every query for the crime of reading 10× the input — the r8
    * artifact's 111 bogus flags) AND with the shuffle-partition count
    * (per-partition framing/compression overhead: a 4-vs-32-thread diff
    * measured 50 bogus flags on identical plans, small shuffles inflating
    * exactly partitions-×). When the newest prior artifact ran at a
    * different sf or cpus the comparison is skipped with an explicit
    * note rather than emitting noise. Artifacts before r8 did not record
    * cpus — an absent field is treated as a mismatch (unknown ≠ equal).
    * The `failed` map ([[failedSincePrev]]) is filled whatever the sf or
    * cpus: a query that ran there and throws here is news.
    */
  private def deltaVsPrev(results: Seq[(String, Counts)],
                          calibrated: Seq[(String, Double)],
                          failures: Seq[(String, String)],
                          sfDir: String, cpus: Int): String = {
    val prevFile = (1 until currentRound).reverse.iterator
      .map(n => n -> new java.io.File(s"BENCH_LOCAL_r$n.json"))
      .find(_._2.isFile)
    val prevText = prevFile.map { case (_, f) =>
      try java.nio.file.Files.readString(f.toPath)
      catch { case _: Throwable => "" }
    }.getOrElse("")
    val prevSf = "\"sf\":\"([^\"]*)\"".r.findFirstMatchIn(prevText)
      .map(_.group(1)).getOrElse("")
    val prevCpus = "\"cpus\":(\\d+)".r.findFirstMatchIn(prevText)
      .map(_.group(1)).getOrElse("")
    val prevRound = prevFile.map(_._1).getOrElse(-1)
    val failed = failedSincePrev(prevText, failures)
      .map { case (n, c) => s""""$n":"$c"""" }.mkString("{", ",", "}")
    val compared = if (prevFile.isEmpty) {
      """"flagged":{},"wall_flagged":{}"""
    } else if (prevSf != sfDir) {
      s""""skipped":"sf_mismatch: prev=$prevSf now=$sfDir","flagged":{},"wall_flagged":{}"""
    } else if (prevCpus != cpus.toString) {
      s""""skipped":"cpus_mismatch: prev=${if (prevCpus.isEmpty) "unrecorded" else prevCpus} now=$cpus","flagged":{},"wall_flagged":{}"""
    } else {
      // Prefer the prev artifact's per-sweep arrays (present since r12)
      // and take their MEDIAN — the headline fields of r13-and-earlier
      // artifacts are min-sweep floors, and one under-attributed sweep
      // in a PRIOR round would otherwise flag an unchanged plan forever
      // (q237: prev [63.3, 45.9, 63.3] KB min-floor 45.9 vs a normal
      // 63.3 run = a bogus +38%). Headline fields remain the fallback
      // for pre-r12 artifacts without arrays.
      val sweepRx =
        ("\"(q[^\"]+)\":\\{[^{}]*\"sweep_shuffle_bytes\":\\[([0-9,]+)\\]").r
      val prevSweeps: Map[String, Long] = sweepRx.findAllMatchIn(prevText)
        .map { m =>
          val xs = m.group(2).split(",").map(_.toLong).sorted
          m.group(1) -> xs(xs.length / 2)
        }.toMap
      val rx = ("\"(q[^\"]+)\":\\{\"shuffle_write_bytes\":(\\d+)," +
                "\"shuffle_read_bytes\":(\\d+)").r
      val prevHead: Map[String, Long] = rx.findAllMatchIn(prevText)
        .map(m => m.group(1) -> (m.group(2).toLong + m.group(3).toLong))
        .toMap
      val prev = prevHead ++ prevSweeps
      val flagged = results.iterator.collect {
        case (name, c) if prev.contains(name) &&
            c.shuffleBytes > prev(name) * 12L / 10L &&
            c.shuffleBytes - prev(name) > 4096L =>
          s"""\"$name\":{\"prev_shuffle_bytes\":${prev(name)},\"now_shuffle_bytes\":${c.shuffleBytes}}"""
      }.toSeq
      // CALIBRATED-WALL compare (r14 verdict #1): both sides are
      // host-normalized seconds, so this gate flags real per-query
      // slowdowns the byte gate can't see (per-row CPU changes, an
      // interpreter drop) without drowning in host noise. Thresholds
      // deliberately loose — >50% AND >0.3 s — because even calibrated
      // wall keeps scheduler jitter; the byte gate stays the precise
      // plan witness. Skipped (empty) against pre-r15 artifacts, which
      // carry no calibrated_queries map.
      val prevCal = parseCalibratedQueries(prevText)
      val wallFlagged = calibrated.iterator.collect {
        case (name, sec) if prevCal.contains(name) &&
            wallRegressed(prevCal(name), sec) =>
          f""""$name":{"prev_calibrated_sec":${prevCal(name)}%.4f,"now_calibrated_sec":$sec%.4f}"""
      }.toSeq
      // An object keyed by query (not bare pairs in an array — the r7
      // shape produced invalid JSON the first time the list was non-empty).
      s""""flagged":${flagged.mkString("{", ",", "}")},"wall_flagged":${wallFlagged.mkString("{", ",", "}")}"""
    }
    s"""{"prev_round":$prevRound,$compared,"failed":$failed}"""
  }
}
