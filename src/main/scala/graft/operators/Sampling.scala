package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.PortableHash

/** Deterministic sampling operators for training-data pipelines.
  *
  * No RNG anywhere: membership is a pure function of the row's id via the
  * engine-portable md5 hash ([[PortableHash.h32]]), so a sample is
  * reproducible across runs, engines, and cluster sizes (re-running a
  * 100 TB mixing job yields byte-identical membership — the property that
  * makes data ablations comparable), and filters evaluate per-row inside
  * whole-stage codegen with zero extra passes or driver state.
  */
object Sampling {

  /** Stratified sample: keep a row iff the md5 bucket (0–99) of its id
    * falls below its stratum's percentage. The per-stratum rate is the
    * standard per-source mixing-ratio knob (e.g. upsample curated text,
    * downsample crawl); strata absent from `ratesPct` get `defaultPct`.
    */
  def stratified(df: DataFrame, keyCol: String, idCol: String,
                 ratesPct: Map[String, Int], defaultPct: Int = 0): DataFrame = {
    require(ratesPct.values.forall(r => r >= 0 && r <= 100) &&
      defaultPct >= 0 && defaultPct <= 100,
      "sampling rates are integer percentages in [0, 100]")
    val bucket = pmod(PortableHash.h32(col(idCol).cast("string")), lit(100L))
    val rate = ratesPct.foldLeft(lit(defaultPct)) { case (acc, (k, r)) =>
      when(col(keyCol) === k, lit(r)).otherwise(acc)
    }
    df.filter(bucket < rate)
  }

  /** Epoch-weighted repetition — the fractional-epochs knob of a
    * training-data mix (e.g. "web 0.4 epochs, curated 2.8"): each row is
    * emitted `floor(f)` times plus once more iff its md5 bucket falls
    * below the fractional part, so a factor of 2.8 repeats every row
    * twice and a deterministic 80% of rows a third time (and 0.4 KEEPS
    * only 40% — downsampling is the same knob). `factorE2Col` is the
    * factor ×100 as an integer (40 = 0.4 epochs). Adds `n_rep` and one
    * output row per (input row, `epoch` ∈ [0, n_rep)); n_rep = 0 rows
    * vanish.
    *
    * Per-row expression + one generator — no shuffle, no RNG: membership
    * of the extra epoch is [[PortableHash.h32]] of the id, so the
    * realized mix is byte-reproducible across runs, engines, and
    * partitionings (the [[stratified]] discipline, extended above 100%).
    */
  def epochRepeat(df: DataFrame, idCol: String, factorE2Col: String)
      : DataFrame = {
    val f = col(factorE2Col).cast("long")
    val bucket = pmod(PortableHash.h32(col(idCol).cast("string")), lit(100L))
    val nRep = floor(f / lit(100L)).cast("long") +
      when(bucket < pmod(f, lit(100L)), lit(1L)).otherwise(lit(0L))
    df.withColumn("n_rep", nRep)
      .withColumn("epoch",
        explode(when(col("n_rep") > 0,
                     sequence(lit(0L), col("n_rep") - 1))
          .otherwise(array().cast("array<bigint>"))))
  }

  /** Deterministic weighted sampling without replacement — sequential
    * Poisson sampling (Ohlsson): take the `k` rows with the SMALLEST
    * priority `u/w` (u uniform, w the row's weight), so inclusion odds
    * scale with weight while the draw stays a fixed-size sample. Here
    * u = [[PortableHash.h32]] of the id (no RNG — reproducible), and the
    * rational priority is kept in EXACT integer form: with integer
    * weights dividing `lcm`, `u/w ∝ u·(lcm/w)`, a 64-bit product (u <
    * 2^32, lcm ≤ 2^31 ⇒ no overflow). Ties (hash collisions) break on
    * the id.
    *
    * Adds `priority` and keeps only the sample. Plan shape: per-row
    * arithmetic + global top-k — Spark executes the sort+limit as
    * TakeOrderedAndProject (per-partition top-k partials, one k-row
    * merge), so a 100 TB corpus never materializes a global sort.
    */
  def weightedSample(df: DataFrame, idCol: String, weightCol: String,
                     lcm: Long, k: Int): DataFrame = {
    require(k >= 0 && lcm >= 1 && lcm <= Int.MaxValue,
      s"need k>=0, 1<=lcm<=2^31; got k=$k lcm=$lcm")
    val u = PortableHash.h32(col(idCol).cast("string"))
    val w = col(weightCol).cast("long")
    val mul = when(w >= 1 && pmod(lit(lcm), w) === 0,
        floor(lit(lcm) / w).cast("long"))
      .otherwise(raise_error(concat(
        lit(s"weightedSample: weight must be >=1 and divide lcm=$lcm, got "),
        w.cast("string"))))
    df.withColumn("priority", (u * mul).cast("long"))
      .orderBy(col("priority"), col(idCol))
      .limit(k)
  }

  /** Per-group quantile trim — the score-normalization step of a quality
    * pipeline: scores aren't comparable ACROSS sources (a crawl's median
    * differs from a curated set's), so keep each group's middle
    * percent-rank band instead of one global threshold. A row is kept iff
    * its exact percent rank `(rank-1)/(n-1)` lies in `[loPct, hiPct]`,
    * evaluated in EXACT integer cross-multiplied form
    * (`100·(rank-1) BETWEEN loPct·(n-1) AND hiPct·(n-1)`) — no float
    * division, so the keep set hashes identically in any engine. Ties
    * break on the id; a single-row group is kept (rank band [0,0]).
    *
    * Adds `rank`, `n_grp`, `kept`. One shuffle (the group-key window);
    * a pathologically hot group sorts on one reducer — the same skew
    * note (and the same pre-aggregation remedy) as [[tokenBudget]].
    */
  def quantileTrim(df: DataFrame, keyCol: String, scoreCol: String,
                   idCol: String, loPct: Int, hiPct: Int): DataFrame = {
    require(0 <= loPct && loPct <= hiPct && hiPct <= 100,
      s"need 0 <= loPct <= hiPct <= 100, got $loPct/$hiPct")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(keyCol))
    val rank = row_number().over(w.orderBy(col(scoreCol), col(idCol)))
    df.withColumn("rank", rank.cast("long"))
      .withColumn("n_grp", count(lit(1)).over(w).cast("long"))
      .withColumn("kept",
        (lit(100L) * (col("rank") - 1) >= lit(loPct.toLong) * (col("n_grp") - 1)) &&
          (lit(100L) * (col("rank") - 1) <= lit(hiPct.toLong) * (col("n_grp") - 1)))
  }

  /** Rebalance to a TARGET distribution — the "make the mix match the
    * recipe" knob: given target fractions per group (integer percent,
    * summing to 100), select the LARGEST subset whose group counts
    * realize those fractions. The feasible scale is bound by the
    * scarcest group (`T = min_g floor(100·avail_g / pct_g)`, all
    * integer); each group then keeps `quota_g = floor(T·pct_g / 100)`
    * rows in deterministic md5-of-id order, so quotas never exceed
    * availability and the selection is byte-reproducible. Groups absent
    * from `targetPct` are excluded (quota 0).
    *
    * Adds `avail`, `quota`, `rank`, `kept`. Plan: one tiny count
    * aggregate → 1-row min → broadcast quota join → one window shuffle
    * on the group key (same skew posture as [[tokenBudget]]).
    */
  def rebalanceToTarget(df: DataFrame, keyCol: String, idCol: String,
                        targetPct: Map[String, Int]): DataFrame = {
    require(targetPct.nonEmpty && targetPct.values.forall(_ > 0) &&
      targetPct.values.sum == 100,
      s"target percentages must be positive and sum to 100, got $targetPct")
    val pct = targetPct.foldLeft(lit(null).cast("long")) {
      case (acc, (k, p)) => when(col(keyCol) === k, lit(p.toLong)).otherwise(acc)
    }
    val base = df.withColumn("pct_e0", pct)
    val counts = base.filter(col("pct_e0").isNotNull)
      .groupBy(col(keyCol)).agg(count(lit(1)).as("avail"),
                                first(col("pct_e0")).as("p"))
    val scale = counts
      .agg(min(floor(col("avail") * 100 / col("p"))).cast("long").as("t"))
    val quotas = counts.crossJoin(broadcast(scale))
      .select(col(keyCol),
              col("avail"),
              floor(col("t") * col("p") / 100).cast("long").as("quota"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(keyCol))
      .orderBy(PortableHash.h32(col(idCol).cast("string")), col(idCol))
    base
      .join(broadcast(quotas), Seq(keyCol), "left")
      .withColumn("rank", row_number().over(w).cast("long"))
      .select(df.columns.map(col) :+
        coalesce(col("avail"), lit(0L)).as("avail") :+
        coalesce(col("quota"), lit(0L)).as("quota") :+
        col("rank") :+
        (col("pct_e0").isNotNull && col("rank") <= col("quota")).as("kept"): _*)
  }

  /** Token-budget sampling — the "N tokens per source" mixing knob of a
    * training-data recipe: within each `keyCol` group, rows are taken in
    * deterministic md5-of-id order until the group's cumulative `tokensCol`
    * would exceed `budget` (a row that crosses the budget is dropped, as
    * is everything after it in hash order). Adds a `kept` boolean.
    *
    * One shuffle (the window partition on the group key) and no driver
    * state; the hash order makes the selected subset reproducible across
    * runs, engines, and partitionings — unlike `LIMIT`-per-group, which
    * is nondeterministic under parallel scan. Skew note: the window sorts
    * each group; a pathologically hot source sorts on one reducer — for
    * that case pre-aggregate per (source, hash-prefix) sub-budgets.
    */
  /** TEMPERATURE-SHARPENED MIXING QUOTAS with largest-remainder
    * apportionment — the data-mixing step of a pretraining pipeline:
    * given per-source sizes, allocate a fixed sample budget across
    * sources with weights ∝ size^(1/T), EXACTLY. T = 1/2 sharpens by
    * SQUARING (integer-expressible; general real temperatures need
    * pow — this is the exact-arithmetic point on the dial, and the
    * ranking behavior is the same family), T = 1 is proportional.
    * Fractional seats resolve by the largest-remainder (Hamilton)
    * method: floor every quota, then hand the leftover seats to the
    * largest remainders, ties to the smaller source name — exact
    * integer apportionment, Σ quota == budget ALWAYS (the property
    * float rounding can't give).
    *
    * One tiny aggregate (|sources| rows) + a window over it —
    * control-plane-sized regardless of corpus size; the expensive
    * part (actually drawing each source's quota) composes with
    * [[stratified]]/[[weightedSample]] downstream. The smoothing
    * (< 1-weight) direction of the same dial is [[smoothedQuotas]].
    */
  def temperatureQuotas(df: DataFrame, sourceCol: String, budget: Long,
                        sharpen: Boolean): DataFrame = {
    require(budget >= 0, s"budget must be >= 0: $budget")
    val sizes = df.groupBy(col(sourceCol).as("source"))
      .agg(count(lit(1)).as("n"))
    // The sharpened weight n² and the budget·w products run in
    // decimal(38,0): in LongType they wrap silently (non-ANSI) once a
    // source passes ~3e9 rows — exactly the 100 TB regime — and a wrapped
    // product breaks the Σ quota == budget guarantee without any error.
    // Same discipline as the q168/q174/q178 exact-integer products; the
    // output `w` column stays long for the gated schema (a value past
    // long range surfaces as null, never as a wrapped positive).
    val weighted = sizes.withColumn("wd",
      if (sharpen) col("n").cast("decimal(38,0)") * col("n").cast("decimal(38,0)")
      else col("n").cast("decimal(38,0)"))
    apportion(weighted, budget)
  }

  /** Temperature-SMOOTHED mixing quotas — the FLATTENING end of the
    * dial [[temperatureQuotas]] sharpens: weights ∝ √n (α = 1/2, the
    * multilingual upsampling recipe of mT5/XLM-R-style corpora), so
    * low-resource sources get a larger share than their raw
    * proportion and high-resource sources a smaller one, with the
    * same exact largest-remainder apportionment (Σ quota == budget
    * ALWAYS). α = 1/2 is the exact-arithmetic point on the smoothing
    * dial because √ has an integer surrogate: w = isqrt(n·10⁶)
    * (the ·10⁶ keeps granularity — isqrt(n) alone would quantize
    * small sources onto each other), see [[isqrtExpr]] for why the
    * value is bit-reproducible across engines.
    */
  def smoothedQuotas(df: DataFrame, sourceCol: String,
                     budget: Long): DataFrame = {
    require(budget >= 0, s"budget must be >= 0: $budget")
    val sizes = df.groupBy(col(sourceCol).as("source"))
      .agg(count(lit(1)).as("n"))
    // [[isqrtExpr]]'s exactness contract is m < 2^53, which n·10⁶
    // crosses at n > 9 007 199 254 (~9.0e9 rows per source) — and the
    // long product itself wraps silently negative past ~9.2e12 in
    // non-ANSI mode, the same failure [[temperatureQuotas]]'s decimal
    // discipline exists to prevent. A weight must never be silently
    // wrong (quotas still sum to budget, so nothing downstream would
    // surface it): fail fast on the |sources|-row frame and tell the
    // caller to pre-scale.
    val guarded = sizes.withColumn("n",
      when(col("n") <= lit(IsqrtMaxN), col("n"))
        .otherwise(raise_error(concat(
          lit("smoothedQuotas: source size "), col("n"),
          lit(s" exceeds the isqrt-exact domain $IsqrtMaxN" +
              " (n·1e6 must stay below 2^53) — pre-scale the sizes")))
          .cast("long")))
    val weighted = guarded.withColumn("wd",
      isqrtExpr(col("n") * lit(1000000L)).cast("decimal(38,0)"))
    apportion(weighted, budget)
  }

  /** Largest per-source size [[smoothedQuotas]] accepts:
    * ⌊(2⁵³ − 1)/10⁶⌋, the boundary of [[isqrtExpr]]'s exact domain
    * for the n·10⁶ weight input. */
  val IsqrtMaxN: Long = ((1L << 53) - 1) / 1000000L

  /** EXACT integer square root ⌊√m⌋ for 0 ≤ m < 2⁵³, engine-portably:
    * floor the IEEE-754 double sqrt, then repair with two integer
    * comparisons. The double path alone is NOT exact — for m ≳ 2⁵¹,
    * at m = k² − 1 the true root sits closer to the integer k than
    * half a double ulp, so a correctly-rounded sqrt lands ON k and
    * floors to the wrong side — but it is always within ±1 of ⌊√m⌋
    * below 2⁵³, and the fixup (`+1 while (r+1)² ≤ m; −1 while
    * r² > m`, each needed at most once) is pure int64 arithmetic that
    * any engine evaluates identically. (r+1)² stays in int64 for
    * m < 2⁵³. The DuckDB oracles replicate the same three steps.
    */
  def isqrtExpr(m: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val r0 = floor(sqrt(m.cast("double"))).cast("long")
    val r1 = when((r0 + 1L) * (r0 + 1L) <= m, r0 + 1L).otherwise(r0)
    when(r1 * r1 > m, r1 - 1L).otherwise(r1)
  }

  /** Largest-remainder (Hamilton) apportionment of `budget` over a
    * (source, n, wd) weight frame — floor every quota, hand leftover
    * seats to the largest remainders (ties to the smaller source
    * name), so Σ quota == budget EXACTLY. Shared by the sharpened /
    * proportional / smoothed temperature points; control-plane-sized
    * (|sources| rows) by construction.
    */
  private def apportion(weighted: DataFrame, budget: Long): DataFrame = {
    val tot = weighted.agg(sum(col("wd")).as("w_tot"))
    val base = weighted.crossJoin(broadcast(tot))
      .select(col("source"), col("n"), col("wd"),
              expr(s"(CAST($budget AS DECIMAL(38,0)) * wd) div w_tot")
                .as("floor_q"),
              expr(s"(CAST($budget AS DECIMAL(38,0)) * wd) % w_tot")
                .as("rem"))
    val leftover = base
      .agg((lit(budget) - sum(col("floor_q"))).as("__left"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("rem").desc, col("source"))
    base.crossJoin(broadcast(leftover))
      .withColumn("__rk", row_number().over(w))
      .select(col("source"), col("n"), col("wd").cast("long").as("w"),
              (col("floor_q") +
                when(col("__rk") <= col("__left"), 1L).otherwise(0L))
                .as("quota"))
  }

  def tokenBudget(df: DataFrame, keyCol: String, idCol: String,
                  tokensCol: String, budget: Long): DataFrame = {
    require(budget >= 0, s"budget must be >= 0, got $budget")
    require(!df.columns.contains("kept"),
      "input already has a 'kept' column (e.g. applyDedup output) — " +
        "drop or rename it before tokenBudget, which adds its own")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(keyCol))
      .orderBy(PortableHash.h32(col(idCol).cast("string")), col(idCol))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
                   org.apache.spark.sql.expressions.Window.currentRow)
    df.withColumn("kept", sum(col(tokensCol)).over(w) <= budget)
  }
}
