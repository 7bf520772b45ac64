package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.Tables
import graft.functions.{PortableHash, TextFunctions}
import graft.operators.{Dedup, GraphOps, IncrementalAgg, Partitioning, SkewOps, TemporalOps}
import graft.GraftOps._

/** Advanced operator pack: sessionization, deterministic sampling splits,
  * vocabulary building, TF-IDF, grouping-set rollup, dedup-group
  * connected components, and as-of joins.
  *
  * These are the operations a large-scale training-data pipeline layers on
  * top of the core dedup/similarity/text stack; each has an exact DuckDB
  * oracle (integer or rational arithmetic only — no floats that could
  * round differently across engines).
  */
object AdvancedQueries {

  /** Session gap threshold: 6 hours, in microseconds. */
  private val SessionGapUs = 21600000000L

  /** q156 k-core threshold and peel-round budget (oracle unrolls the
    * same count; Spark throws if the fixpoint needs more). */
  private val KCoreK = 25
  private val KCoreRounds = 12

  /** q157 BFS hop cap — part of the query semantics (dist > cap ⇒
    * node absent), so oracle and operator share it. */
  private val BfsMaxHops = 4

  /** Length-band width for the blocked edit-distance joins (q193,
    * q197). Must exceed the largest edit window used (2) for the
    * same+adjacent-band probe in [[Dedup.blockedSelfJoin]] to stay
    * exact (bare-join oracles remain valid); the MINIMUM exact width
    * (maxDist + 1) maximizes the occupied-cell count — the hot-block
    * split factor — at fixed exactness, which matters here because
    * this corpus's names span only ~3 length values per noun.
    */
  private val EditBandWidth = 3

  /** §2.10-adjacent: sessionization over the event stream. Events are
    * grouped per user into sessions split at gaps > 6h, then rolled up to
    * per-user session stats. The windows shuffle ONCE on user_id; the gap
    * test is an integer microsecond comparison (identical in any engine).
    */
  def q32Sessionize(s: SparkSession, dir: String): DataFrame = {
    val sess = TemporalOps.sessionize(
      Tables.events(s, dir), "user_id", "ts", Seq("event_id"), SessionGapUs)
    sess
      .groupBy(col("user_id"), col("session_id"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col("user_id"))
      .agg(sum(col("n")).as("n_events"),
           count(lit(1)).as("n_sessions"),
           max(col("n")).as("max_session_events"))
      .orderBy("user_id")
  }

  /** Deterministic train/val/test split by portable content-independent
    * hash of the key — the standard reproducible holdout split. Pure
    * per-row expression + one aggregate; no RNG, no driver state.
    */
  def q33HashSplit(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .withColumn("bucket",
        pmod(PortableHash.h32(col("doc_id").cast("string")), lit(100L)))
      .withColumn("split",
        when(col("bucket") < 80, "train")
          .when(col("bucket") < 90, "val")
          .otherwise("test"))
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"),
           min(col("doc_id")).as("min_id"),
           max(col("doc_id")).as("max_id"))
      .orderBy("split")

  /** Vocabulary building: top-20 word bigrams by document frequency
    * (distinct per doc), count-desc with lexical tie-break. The agg is a
    * map-side-combined groupBy on the exploded shingles; the top-k is a
    * TakeOrderedAndProject over the (small) aggregate.
    */
  def q34TopkNgrams(s: SparkSession, dir: String): DataFrame =
    Partitioning.spread(Tables.documents(s, dir))
      .select(explode(TextFunctions.shingles(col("text"), 2)).as("bigram"))
      .groupBy(col("bigram"))
      .agg(count(lit(1)).as("df"))
      .orderBy(col("df").desc, col("bigram").asc)
      .limit(20)

  /** TF-IDF in exact rational form: score_e6 = ⌊10^6·tf·N / (df·len)⌋
    * over integers (same ordering as tf·log-idf for ranking the top term
    * of each doc, but bit-exactly portable). Top-1 term per document.
    * All inputs derive from ONE explode of the corpus, re-aggregated at
    * three grains; N arrives via a broadcast 1-row cross join, never a
    * driver-side collect.
    */
  def q35Tfidf(s: SparkSession, dir: String): DataFrame = {
    val words = Partitioning.spread(Tables.documents(s, dir))
      .select(col("doc_id"),
              explode(TextFunctions.words(col("text"))).as("term"))
    // tf is the ONE aggregation over the exploded corpus. Doc lengths and
    // document frequencies are WINDOW sums over tf rather than separate
    // groupBy+join branches: the linear window pipeline costs 3 keyed
    // shuffles total ((doc_id,term) → term → doc_id) with no joins and no
    // materialization barrier, and Catalyst reuses the doc_id exchange for
    // the final rank window.
    val tf = words.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val nDocs = Tables.documents(s, dir).agg(count(lit(1)).as("n_docs"))
    val scored = tf
      .withColumn("df", count(lit(1)).over(Window.partitionBy(col("term"))))
      .withColumn("n_words",
        sum(col("tf")).over(Window.partitionBy(col("doc_id"))))
      .crossJoin(broadcast(nDocs))
      .withColumn("score_e6",
        expr("(1000000 * tf * n_docs) DIV (df * n_words)"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score_e6").desc, col("term").asc)
    scored
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") === 1)
      .select("doc_id", "term", "tf", "df", "score_e6")
      .orderBy("doc_id")
  }

  /** Grouping sets: ROLLUP over (priority, status) — subtotal and grand
    * total rows with NULL group keys, one pass (Spark expands to a single
    * Expand + HashAggregate).
    */
  def q36Rollup(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .rollup(col("o_orderpriority"), col("o_orderstatus"))
      .agg(count(lit(1)).as("n_orders"),
           sum(col("o_totalprice").cast(org.apache.spark.sql.types.DecimalType(18, 2)))
             .cast("double").as("revenue"))
      .orderBy(col("o_orderpriority").asc_nulls_first,
               col("o_orderstatus").asc_nulls_first)

  /** Dedup GROUPS (not just pairs): connected components over the exact
    * Jaccard ≥ 1/2 near-dup graph, labels = min doc_id per component.
    * Iterative distributed label propagation — see [[GraphOps]].
    */
  def q37DedupGroups(s: SparkSession, dir: String): DataFrame = {
    val pairs = Dedup
      .jaccardPairs(Tables.documents(s, dir), "doc_id", "text",
                    n = 3, num = 1, den = 2)
      .select(col("doc_a"), col("doc_b"))
    GraphOps.connectedComponents(pairs, "doc_a", "doc_b")
      .toDF("doc_id", "component")
      .orderBy("doc_id")
  }

  /** q188 — duplicate FAMILY-SIZE distribution: component sizes of the
    * near-dup graph histogrammed (family_size → n_families), singletons
    * included as the size-1 row (docs the pair generator never
    * touched). This is the audit a deployment runs BEFORE picking the
    * `maxBucketDocs` family cap (q184) or trusting the pair-stage cost
    * model: a heavy tail here is exactly the viral-template regime
    * where uncapped pair generation goes quadratic (§9's 52–61×
    * shuffle story). Two hash aggregates on top of the gated CC labels
    * — no new shuffle shape.
    */
  def q188FamilySizes(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val pairs = Dedup
      .jaccardPairs(docs, "doc_id", "text", n = 3, num = 1, den = 2)
      .select(col("doc_a"), col("doc_b"))
    val cc = GraphOps.connectedComponents(pairs, "doc_a", "doc_b")
      .toDF("doc_id", "component")
    val families = cc.groupBy(col("component"))
      .agg(count(lit(1)).as("family_size"))
      .groupBy(col("family_size"))
      .agg(count(lit(1)).as("n_families"))
    val singletons = docs.select(col("doc_id"))
      .join(cc, Seq("doc_id"), "left_anti")
      .agg(count(lit(1)).as("n_families"))
      .select(lit(1L).as("family_size"), col("n_families"))
    families.unionByName(singletons)
      .filter(col("n_families") > 0)
      .orderBy("family_size")
  }

  /** q253 — LEAKAGE-AWARE train/val/test split: the published
    * eval-contamination discipline (a near-duplicate of a test doc in
    * the train set leaks the answer) made structural — the split key is
    * the near-dup COMPONENT, not the document, so an entire duplicate
    * family lands in one split by construction. Assignment is the
    * portable 32-bit hash of the component id mod 10 (0–7 train,
    * 8 val, 9 test — deterministic, engine-replayable, and stable
    * under corpus growth: a doc's split can only change if its
    * component label changes). The report is per-split (docs,
    * components, chars) PLUS the counterfactual that justifies the
    * design: how many families a naive DOC-level hash split would
    * tear across split boundaries (`naive_leaky_components` — every
    * one of those is an eval-leak in the naive scheme, zero in this
    * one by construction).
    *
    * Plan: the gated q37 pair+CC shapes, one left join of docs to
    * labels, two hash aggs (per-split rollup; naive-straddle count) —
    * no new shuffle shape beyond q37 itself, and the per-split rollup
    * carries only (split, counts), never text.
    */
  def q253LeakSafeSplit(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.PortableHash
    val docs = Tables.documents(s, dir)
    val pairs = Dedup
      .jaccardPairs(docs, "doc_id", "text", n = 3, num = 1, den = 2)
      .select(col("doc_a"), col("doc_b"))
    val cc = GraphOps.connectedComponents(pairs, "doc_a", "doc_b")
      .toDF("doc_id", "component")
    def splitOf(key: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
      val h = pmod(PortableHash.h32(key.cast("string")), lit(10L))
      when(h < 8, "train").when(h === 8, "val").otherwise("test")
    }
    val labeled = docs
      .select(col("doc_id"), length(col("text")).cast("long").as("n_chars"))
      .join(cc, Seq("doc_id"), "left")
      .withColumn("component", coalesce(col("component"), col("doc_id")))
    val naiveLeaky = labeled
      .withColumn("nsplit", splitOf(col("doc_id")))
      .groupBy(col("component"))
      .agg(countDistinct(col("nsplit")).as("__k"))
      .filter(col("__k") > 1)
      .agg(count(lit(1)).as("naive_leaky_components"))
    labeled
      .withColumn("split", splitOf(col("component")))
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"),
           countDistinct(col("component")).as("n_components"),
           sum(col("n_chars")).as("n_chars"))
      .crossJoin(naiveLeaky)
      .orderBy("split")
  }

  /** q261 — CONSISTENT-HASH SHARDING + the resharding-delta audit
    * ([[graft.operators.Sharding]]): order keys on an 8-shard and a
    * 9-shard ring (16 vnodes each), per new shard the key count and
    * how many keys ARRIVED in the reshard, plus the global verdict —
    * `n_moved_ring` versus the mod-sharding counterfactual
    * `n_moved_mod`. The theorem under the design (a key moves iff its
    * ring successor is one of the new shard's vnodes, so only ~1/(S+1)
    * move, all TO the new shard — spec-proven) shows up as live
    * numbers; mod-sharding reshuffles almost everything. Assignment is
    * a pure codegen'd expression against the literal sorted ring —
    * the key stream never shuffles until the 9-group rollup.
    */
  def q261ConsistentHashing(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Sharding
    val assigned = Tables.orders(s, dir)
      .select(col("o_orderkey").as("k"))
      .withColumn("s8", Sharding.shardOf(col("k"), 8, 16))
      .withColumn("s9", Sharding.shardOf(col("k"), 9, 16))
      .withColumn("__h",
        graft.functions.PortableHash.h32(col("k").cast("string")))
    val global = assigned.agg(
      count(lit(1)).as("n_keys_total"),
      sum(when(col("s8") =!= col("s9"), 1L).otherwise(0L))
        .as("n_moved_ring"),
      sum(when(pmod(col("__h"), lit(8L)) =!= pmod(col("__h"), lit(9L)),
               1L).otherwise(0L)).as("n_moved_mod"))
    assigned.groupBy(col("s9").as("shard"))
      .agg(count(lit(1)).as("n_keys"),
           sum(when(col("s8") =!= col("s9"), 1L).otherwise(0L))
             .as("n_moved_in"))
      .crossJoin(global)
      .orderBy("shard")
  }

  /** q263 — ZONE-MAP PRUNING AUDIT: min/max sketches per storage
    * bucket under two layouts of the same table — date-clustered
    * (bucket = ship month) versus hash-scattered (bucket = key hash
    * mod 32) — evaluated against three range predicates (narrow,
    * point-month, full-domain). A bucket is skippable iff its zone
    * [min, max] misses the predicate range; the audit reports
    * skippable buckets AND the rows behind them. This is the
    * data-level complement of q2's plan-level pushdown gate and the
    * q97/q203 ordering work: clustering is what MAKES min/max pruning
    * work (the clustered layout skips ~all buckets for a one-month
    * predicate; the hashed layout's zones all span the full domain and
    * skip zero — and the full-domain predicate skips zero under BOTH,
    * the honest null case). Two map-combined aggs + control-plane
    * bucket frames; nothing data-sized after the zone build.
    */
  def q263ZoneMaps(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.PortableHash
    val li = Tables.lineitem(s, dir)
      .select(col("l_orderkey"), col("l_shipdate"))
    val preds = Seq(("p1_narrow", "1996-01-01", "1996-03-31"),
                    ("p2_month", "1998-06-01", "1998-06-30"),
                    ("p3_all", "1995-01-01", "2001-12-31"))
    def audit(layout: String, bucket: org.apache.spark.sql.Column) = {
      val zm = li.withColumn("__b", bucket)
        .groupBy(col("__b"))
        .agg(min(col("l_shipdate")).as("__mn"),
             max(col("l_shipdate")).as("__mx"),
             count(lit(1)).as("__n"))
      preds.map { case (pid, lo, hi) =>
        val skip = col("__mx") < to_date(lit(lo)) ||
          col("__mn") > to_date(lit(hi))
        zm.agg(count(lit(1)).as("n_buckets"),
               sum(when(skip, 1L).otherwise(0L)).as("n_skippable"),
               sum(col("__n")).as("rows_total"),
               sum(when(skip, col("__n")).otherwise(0L))
                 .as("rows_skipped"))
          .select(lit(layout).as("layout"), lit(pid).as("pred"),
                  col("n_buckets"), col("n_skippable"),
                  col("rows_total"), col("rows_skipped"))
      }.reduce(_ unionByName _)
    }
    audit("clustered",
          expr("year(l_shipdate) * 12 + month(l_shipdate)").cast("long"))
      .unionByName(audit("hashed",
        pmod(PortableHash.h32(col("l_orderkey").cast("string")),
             lit(32L))))
      .orderBy("layout", "pred")
  }

  /** q264 — ZONE-MAP-PRUNED SCAN ([[graft.sources.ZoneMapScan]]): the
    * reader path that CONSUMES the q263 audit. The lineitem projection
    * is laid out as 24 range-clustered parquet files by ship date (the
    * q97 cluster-what-you-filter-on discipline), a per-file min/max
    * zone map is built from PARQUET FOOTER STATISTICS (zero row reads —
    * r12; the scan-built map remains as its spec-gated oracle twin),
    * and the narrow Q1-1996 predicate reads ONLY the surviving files —
    * the rest are never opened. The oracle is the plain predicate scan over the
    * source table: pruning must be row-invisible by construction
    * (zone pruning may only drop files the predicate cannot match),
    * so one wrongly-skipped file breaks the monthly rollup. The
    * bytes-actually-read < full-scan-bytes gate lives in
    * `ZoneMapScanSpec` (task input metrics), where layout is
    * controlled.
    *
    * Scale shape: the zone map is one row per FILE (control-plane at
    * any corpus size — ~10⁵ rows for 100 TB at 1 GB files); pruning is
    * a filter + collect over that map, the same driver-side order as
    * Spark's own file-index listing; the data-sized work is only the
    * surviving files' scan.
    */
  /** q264's clustered layout: keyed by (sf dir, PID) so two concurrent
    * sessions over the same sf dir cannot overwrite each other's files
    * mid-scan (ADVICE r11), and written ONCE per JVM so repeated bench
    * sweeps time the pruned-scan path — the operator under test — not
    * the layout rewrite.
    */
  private val zmWritten =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  def q264ZonemapScan(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.ZoneMapScan
    val path = System.getProperty("java.io.tmpdir") +
      "/graft_zmscan_" + Integer.toHexString(dir.hashCode) +
      "_" + ProcessHandle.current().pid()
    if (zmWritten.add(path)) ZoneMapScan.writeClustered(
      Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_shipdate"),
                col("l_quantity"), col("l_extendedprice")),
      path, Seq("l_shipdate"), numFiles = 24)
    val (rows, nRead, nTotal) = ZoneMapScan.scan(
      s, path, "l_shipdate",
      to_date(lit("1996-01-01")), to_date(lit("1996-03-31")))
    assert(nRead <= nTotal)
    rows
      .groupBy((year(col("l_shipdate")) * 100 + month(col("l_shipdate")))
        .cast("long").as("ship_month"))
      .agg(count(lit(1)).as("n_rows"),
           sum(col("l_quantity").cast("long")).as("sum_qty"),
           min(col("l_orderkey")).as("min_key"),
           max(col("l_orderkey")).as("max_key"))
      .orderBy("ship_month")
  }

  /** q189 — EXACT Spearman rank correlation between document length
    * (bigram count) and LM quality score, as the rational
    * ρ = (n(n²−1) − 6Σd²) / n(n²−1) in DECIMAL(38,0) strings (the
    * q168 discipline — float ρ sums in shuffle order and is
    * ungateable). "Does my quality score just measure length" is the
    * first sanity check on any learned-or-statistical curation signal.
    * Ranks are UNIQUE under the (metric, doc_id) total order (the
    * deterministic-tie-break convention, documented: statistical ties
    * get id-order ranks), and BOTH global ranks ride
    * [[graft.operators.PrefixSum.runningTotal]] — never a
    * single-partition window. Per-row d² products run in decimal:
    * long d² wraps at |d| > 3e9, i.e. exactly the 100 TB corpus sizes
    * this targets.
    */
  def q189Spearman(s: SparkSession, dir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val sc = graft.operators.LanguageModel.scoreDocuments(
        Tables.documents(s, dir), "doc_id", "text")
      .withColumn("__one", lit(1L))
    val rx = graft.operators.PrefixSum.runningTotal(
      sc, "__one", Seq("n_bigrams", "doc_id"), cumCol = "rank_x")
    val rxy = graft.operators.PrefixSum.runningTotal(
      rx, "__one", Seq("score_e6", "doc_id"), cumCol = "rank_y")
    rxy
      .select((col("rank_x") - col("rank_y")).cast(d38).as("d"))
      .agg(count(lit(1)).cast(d38).as("n"),
           sum(col("d") * col("d")).as("sd2"))
      .select(col("n").cast("long").as("n_docs"),
              (col("n") * (col("n") * col("n") - 1) - lit(6) * col("sd2"))
                .cast(d38).cast("string").as("rho_num"),
              (col("n") * (col("n") * col("n") - 1))
                .cast(d38).cast("string").as("rho_den"))
  }

  /** q190 — k-ANONYMITY AUDIT (k = 5) over the customer
    * quasi-identifier tuple (nation, market segment, account-balance
    * band): how many identifier groups exist, how many hold fewer than
    * k members, and how many rows sit in those re-identifiable groups
    * — the privacy-side curation gate next to q59's PII redaction
    * (redaction scrubs direct identifiers; k-anonymity measures the
    * indirect ones). The balance band is exact-integer
    * (`(cents + 1e5) div 2e5` — shifted nonnegative so truncating and
    * floor division agree across engines). One map-combined group agg
    * + a 1-row reduction.
    */
  def q190KAnonymity(s: SparkSession, dir: String): DataFrame = {
    val g = Tables.customer(s, dir)
      .select(col("c_nationkey"), col("c_mktsegment"),
              expr("(CAST(floor(c_acctbal * 100) AS BIGINT) + 100000) " +
                   "div 200000").as("bal_band"))
      .groupBy(col("c_nationkey"), col("c_mktsegment"), col("bal_band"))
      .agg(count(lit(1)).as("n"))
    g.agg(count(lit(1)).as("n_groups"),
          sum(when(col("n") < 5, 1L).otherwise(0L)).as("n_small_groups"),
          sum(when(col("n") < 5, col("n")).otherwise(0L))
            .as("rows_at_risk"),
          sum(col("n")).as("n_rows"))
      .select(col("n_groups"), col("n_small_groups"),
              col("rows_at_risk"), col("n_rows"),
              expr("(1000000 * rows_at_risk) div n_rows").as("risk_e6"))
  }

  /** q234 — T-CLOSENESS AUDIT (Li/Li/Venkatasubramanian 2007),
    * completing the privacy trio with q190's k-anonymity and q199's
    * l-diversity: per quasi-identifier group (nation, segment), the
    * Earth-Mover's Distance between its SENSITIVE-attribute
    * distribution (order priority — ordinal, '1-URGENT'..'5-LOW'
    * sorts correctly by its digit prefix) and the global one. For an
    * ordered attribute EMD is the mean absolute cumulative gap,
    * exact as integers: D_g = Σ_v |cum_g(v)·N − cum_all(v)·n_g|,
    * t_e6 = ⌊10⁶·D_g / (n_g·N·(B−1))⌋ — k-anonymity hides WHO is in
    * a group, l-diversity demands the group's secrets vary, and
    * t-closeness bounds what group MEMBERSHIP alone reveals about
    * the secret; breach = t_e6 > 200000 (the paper's illustrative
    * t = 0.2). Products ride decimal(38,0) (cum·N wraps int64 past
    * ~3·10⁹ rows/side).
    *
    * Scale: ONE map-combined (group × priority) agg over the
    * orders⋈customer join; everything after — dense grid (groups ×
    * broadcast B priorities), per-group cumulative window over ≤ B
    * rows, the EMD sum — is |groups|·B rows of control plane.
    */
  def q234TCloseness(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.broadcast
    val d38 = "decimal(38,0)"
    val joined = Tables.orders(s, dir)
      .select(col("o_custkey"), col("o_orderpriority").as("v"))
      .join(Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_nationkey"), col("c_mktsegment")),
        col("o_custkey") === col("c_custkey"))
    val cell = joined
      .groupBy(col("c_nationkey"), col("c_mktsegment"), col("v"))
      .agg(count(lit(1)).as("c"))
    // the global distribution re-aggregates the |groups|·B cell frame
    // — never a second pass over the corpus-sized join
    val glob = cell.groupBy(col("v")).agg(sum(col("c")).as("gc"))
    val gw = org.apache.spark.sql.expressions.Window.orderBy(col("v"))
      .rowsBetween(org.apache.spark.sql.expressions.Window
        .unboundedPreceding, 0)
    val gcum = glob.select(col("v"), sum(col("gc")).over(gw).as("gcum"))
    val tot = glob.agg(sum(col("gc")).as("big_n"),
                       count(lit(1)).as("b"))
    val groups = cell.groupBy(col("c_nationkey"), col("c_mktsegment"))
      .agg(sum(col("c")).as("n"))
    val grid = groups.crossJoin(broadcast(gcum))
      .join(cell, Seq("c_nationkey", "c_mktsegment", "v"), "left")
      .withColumn("c", coalesce(col("c"), lit(0L)))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("c_nationkey"), col("c_mktsegment"))
      .orderBy(col("v"))
      .rowsBetween(org.apache.spark.sql.expressions.Window
        .unboundedPreceding, 0)
    grid
      .withColumn("cum_c", sum(col("c")).over(w))
      .crossJoin(broadcast(tot))
      .groupBy(col("c_nationkey"), col("c_mktsegment"), col("n"),
               col("big_n"), col("b"))
      .agg(sum(expr(s"abs(CAST(cum_c AS $d38) * big_n" +
                    s" - CAST(gcum AS $d38) * n)")).as("d"))
      .select(col("c_nationkey"), col("c_mktsegment"), col("n"),
              expr(s"CAST((CAST(1000000 AS $d38) * d) div" +
                   s" (CAST(n AS $d38) * big_n * (b - 1)) AS BIGINT)")
                .as("t_e6"))
      .withColumn("breach",
        expr("CAST(CASE WHEN t_e6 > 200000 THEN 1 ELSE 0 END AS BIGINT)"))
      .orderBy(col("c_nationkey"), col("c_mktsegment"))
  }

  /** Benford's-law first-digit probabilities, e9 fixed-point
    * (⌊10⁹·log₁₀(1+1/d)⌉ for d = 1..9 — literal constants shared with
    * the oracle, so no runtime transcendental enters either engine;
    * they sum to 10⁹+1, the unavoidable rounding residue, documented
    * rather than fudged). */
  private val BenfordE9 = Seq(301029996L, 176091259L, 124938737L,
    96910013L, 79181246L, 66946790L, 57991947L, 51152522L, 45757491L)

  /** q191 — BENFORD FIRST-DIGIT AUDIT over order totals: per leading
    * digit the observed count, the Benford-expected count (e3
    * fixed-point), and the exact-integer χ² contribution (e6). Synthetic
    * or manipulated numeric columns betray themselves here — TPC-H
    * prices are uniform-ish, so the audit SHOULD flag them, and does.
    *
    * Arithmetic discipline: expectations ride the e9 constant table
    * ([[BenfordE9]]); exp_e3 = (N·p_e9) div 10⁶ and
    * chi2_e6 = (diff_e3²·10³) div exp_e3 run in decimal(38,0) — at
    * 10¹² rows diff_e3 ≈ 10¹⁵, squared 10³⁰, inside decimal(38)'s
    * range where a long would have wrapped at diff_e3 > 3·10⁹. Both
    * div numerators are nonnegative, so truncating and floor division
    * agree across engines (the q190 convention). First digit comes
    * from floor-then-string in BOTH engines — a direct double→int
    * cast would round in one engine and truncate in the other.
    *
    * Plan: one map-combined 9-group agg + a broadcast 1-row totals
    * join; nothing after the first agg touches more than 9 rows.
    */
  def q191Benford(s: SparkSession, dir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val pTable = array(BenfordE9.map(lit): _*)
    val byDigit = Tables.orders(s, dir)
      .select(substring(floor(col("o_totalprice")).cast("string"), 1, 1)
        .cast("int").as("digit"))
      .groupBy(col("digit"))
      .agg(count(lit(1)).as("n_obs"))
    val tot = byDigit.agg(sum(col("n_obs")).as("n_total"))
    byDigit.crossJoin(broadcast(tot))
      .withColumn("p_e9", element_at(pTable, col("digit")))
      .withColumn("exp_e3",
        expr(s"(CAST(n_total AS $d38) * p_e9) div 1000000"))
      .withColumn("diff_e3",
        col("n_obs").cast(d38) * 1000 - col("exp_e3"))
      .select(col("digit"), col("n_obs"),
              col("exp_e3").cast("long").as("exp_e3"),
              expr("(diff_e3 * diff_e3 * 1000) div exp_e3")
                .cast("long").as("chi2_e6"))
      .orderBy("digit")
  }

  /** q192 — SPLIT-LEAKAGE AUDIT: do any near-dup families straddle the
    * train/val/test hash split? The q33 split is doc-id-hash uniform —
    * it knows nothing about near-duplicates, so a family of size s
    * lands entirely in train only with probability 0.8^s; leaked
    * members inflate eval scores exactly like q63's benchmark
    * contamination. This measures the leak BEFORE training: multi-member
    * Jaccard families (q37's components), each labeled by how many
    * distinct splits its members landed in.
    *
    * Output is the one-row verdict: multi-member family count, leaky
    * family count, documents sitting in leaky families, and the
    * leaked-document rate (e6). The fix this audit motivates is
    * family-level splitting — hash the component label, not the doc id
    * — and rerunning it on that split returns zero by construction.
    *
    * Plan: the gated q37 pair+CC shapes, one groupBy(component) agg
    * carrying two map-combined counts, a 1-row reduction. No new
    * shuffle shape beyond q37 itself.
    */
  def q192SplitLeakage(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val pairs = Dedup
      .jaccardPairs(docs, "doc_id", "text", n = 3, num = 1, den = 2)
      .select(col("doc_a"), col("doc_b"))
    val cc = GraphOps.connectedComponents(pairs, "doc_a", "doc_b")
      .toDF("doc_id", "component")
    val withSplit = cc
      .withColumn("bucket",
        pmod(PortableHash.h32(col("doc_id").cast("string")), lit(100L)))
      .withColumn("split",
        when(col("bucket") < 80, "train")
          .when(col("bucket") < 90, "val")
          .otherwise("test"))
    val fams = withSplit.groupBy(col("component"))
      .agg(count(lit(1)).as("family_size"),
           countDistinct(col("split")).as("n_splits"))
    fams.agg(
        count(lit(1)).as("n_multi_families"),
        sum(when(col("n_splits") > 1, 1L).otherwise(0L))
          .as("n_leaky_families"),
        sum(when(col("n_splits") > 1, col("family_size")).otherwise(0L))
          .as("docs_in_leaky"),
        sum(col("family_size")).as("docs_in_families"))
      .select(col("n_multi_families"), col("n_leaky_families"),
              col("docs_in_leaky"),
              expr("(1000000 * docs_in_leaky) div docs_in_families")
                .as("leak_rate_e6"))
  }

  /** q193 — BLOCKED EDIT-DISTANCE NEAR-DUP: candidate pairs share a
    * blocking key (the part-name noun), survivors have Levenshtein
    * distance ≤ 2, reported as a distance histogram. This is the
    * fuzzy-KEY dedup tool (catalog titles, author names, product
    * variants) where shingle Jaccard (q21) is too coarse — a one-char
    * typo moves every containing shingle, but is edit distance 1.
    *
    * Blocking IS the scale semantics, stated rather than hidden: the
    * candidate stage rides [[Dedup.blockedSelfJoin]], which composes
    * the noun with a LENGTH BAND ([[EditBandWidth]] chars, > the edit
    * window so same+adjacent-band probing is exact — output identical
    * to the bare noun join) — cost Σ_cells |cell|·(|cell|+|cell₊₁|)
    * instead of Σ_b |block_b|², so a hot noun block splits instead of
    * holding one reducer hostage; cells hot even after banding (the
    * fixed 92-word vocabulary makes them grow ∝ corpus) auto-reroute
    * their block to the PassJoin signature path by default — exact,
    * candidates linear in block size, decision printed (r13); the
    * q184-style `maxCellRows` cap remains available where a bounded
    * sample is preferred over exactness. Distance is
    * Spark's codegen'd `levenshtein` (threshold form) — identical
    * integer semantics in DuckDB's `levenshtein`, so the histogram is
    * exactly gateable against the bare-join oracle. dist=0 rows are
    * exact-dup names (TPC-H's 92-word vocabulary collides), a free
    * exact-dedup signal.
    *
    * Plan: two equi-joins shuffled on (noun, band) with the distance
    * filter inside each join stage, a union, then a 3-group agg.
    */
  def q193EditdistBlocked(s: SparkSession, dir: String): DataFrame = {
    // coalesce to '': Spark's element_at yields NULL for 1-word names
    // (row silently excluded from blocking) while the oracle's
    // split_part yields '' (rows block together) — the engines must
    // agree on degenerate names even though TPC-H never produces one.
    val p = Tables.part(s, dir)
      .select(col("p_partkey").as("pk"), col("p_name").as("nm"),
              coalesce(element_at(split(col("p_name"), " "), 2), lit(""))
                .as("noun"))
    Dedup.blockedSelfJoin(p, "pk", "nm", Seq("noun"),
                          maxDist = 2, bandWidth = EditBandWidth)
      .groupBy(col("dist"))
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy("dist")
  }

  /** q272 — the SAME answer as q193 computed by MULTIPLICITY COLLAPSE
    * ([[Dedup.weightedBlockedSelfJoin]]): one row per DISTINCT
    * (noun, name) with its count, the exact banded/signature machinery
    * on distinct rows only, distinct pairs weighted cnt_a·cnt_b, the
    * identical-copy diagonal C(cnt, 2) at dist 0 — then one weighted
    * rollup. Three routes, one oracle (q193 hand-banded / q226
    * signatures on the quarter / q272 collapsed): the gate itself
    * proves the weighted arithmetic reproduces the enumeration counts.
    *
    * WHY a third route: pair ENUMERATION is quadratic in copy
    * multiplicity — unavoidable when the pairs themselves are the
    * product, but a histogram never needs them individually. Kernel
    * and shuffle cost here track DISTINCT texts, independent of how
    * many times each repeats: at ×10 copy inflation (§9), where q193's
    * honest enumeration pays 242 s for its 552M-pair output, the
    * collapsed plan answers the same question in seconds because the
    * distinct-name set hasn't grown at all. The report-shaped tool for
    * the multiplicity-heavy regime; q193 remains the pair-list tool.
    */
  def q272EditdistWeighted(s: SparkSession, dir: String): DataFrame = {
    val p = Tables.part(s, dir)
      .select(col("p_partkey").as("pk"), col("p_name").as("nm"),
              coalesce(element_at(split(col("p_name"), " "), 2), lit(""))
                .as("noun"))
    val w = Dedup.weightedBlockedSelfJoin(p, "pk", "nm", Seq("noun"),
                                          maxDist = 2,
                                          bandWidth = EditBandWidth)
    val out = w.groupBy(col("dist"))
      .agg(sum(col("n_pairs")).as("n_pairs"))
      .orderBy("dist")
      .graftCheckpoint()
    org.apache.spark.sql.GraftColumns.unpersistCheckpoint(w)
    out
  }

  /** q274 — count–min sketch audit ([[graft.operators.CountMin]]):
    * the depth-4 × width-512 counter table over 100k event user_ids
    * (1.5k distinct — 3 keys per counter on average, so collisions are
    * REAL and the min actually selects), probed for the 60 tracked
    * users (user_id ≡ 0 mod 25) against their exact counts. Output =
    * per-key (exact, estimate, overcount); est ≥ exact is the CM
    * invariant, and because the hashes are portable md5 the oracle
    * replays the ENTIRE counter table — the estimate itself is gated
    * bit-for-bit, not banded (contrast q40/q45's envelope gates for
    * engine-private sketches). Shape: one map-combined agg to ≤ 2048
    * cells (constant in corpus size — the sketch contract), one
    * broadcast probe join; nothing here grows at 100 TB except the
    * linear scan.
    */
  def q274CountMin(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir).select(col("user_id"))
    val tracked = ev.filter(col("user_id") % 25 === 0)
      .groupBy(col("user_id")).agg(count(lit(1)).as("exact_cnt"))
    graft.operators.CountMin
      .estimate(graft.operators.CountMin.sketch(ev, "user_id", 4, 512),
                tracked, "user_id", 4, 512)
      .select(col("user_id"), col("exact_cnt"), col("cm_est"),
              (col("cm_est") - col("exact_cnt")).as("overcount"))
      .orderBy("user_id")
  }

  /** q277 — the SAME answer as q274 computed by SKETCH MERGE
    * ([[graft.operators.CountMin.merge]]): one independent count–min
    * table per event_type slice, cell-wise added into the corpus
    * sketch, then probed identically. Two routes, one oracle (the
    * q193/q226/q272 convention): the gate itself proves CM's
    * LINEARITY — the property that lets 1000 executors sketch their
    * partitions independently and a reduce-side add produce the exact
    * corpus table (the distributed-build contract; `sketch()` itself
    * exploits it implicitly via partial aggregation, this query pins
    * it explicitly across an arbitrary slicing). Shape: identical to
    * q274 plus one ≤ slices·d·w-row re-aggregate — still constant in
    * corpus size.
    */
  def q277CountMinMerge(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(col("user_id"), col("event_type"))
    val (d, w) = (4, 512)
    val sliced = ev
      .select(col("event_type"),
              explode(sequence(lit(0), lit(d - 1))).as("r"),
              col("user_id"))
      .groupBy(col("event_type"), col("r"),
               graft.operators.CountMin
                 .cellOf(col("r"), col("user_id"), w).as("cell"))
      .agg(count(lit(1)).as("cnt"))
    val merged = graft.operators.CountMin
      .merge(sliced.select(col("r"), col("cell"), col("cnt")))
    val tracked = ev.filter(col("user_id") % 25 === 0)
      .groupBy(col("user_id")).agg(count(lit(1)).as("exact_cnt"))
    graft.operators.CountMin.estimate(merged, tracked, "user_id", d, w)
      .select(col("user_id"), col("exact_cnt"), col("cm_est"),
              (col("cm_est") - col("exact_cnt")).as("overcount"))
      .orderBy("user_id")
  }

  /** q278 — JOIN-SIZE ESTIMATION from sketches
    * ([[graft.operators.CountMin.innerProduct]], the AGMS estimate in
    * count–min form): how large is a join BEFORE paying its shuffle —
    * the planning question a 100 TB engine answers from two
    * constant-size counter tables, never a scan. Two estimates, one
    * row: the events self-join size on user_id (= the second frequency
    * moment F2, the canonical SKEW witness — a hot key inflates F2
    * quadratically long before it inflates a row count) and the
    * events ⋈ orders cross-relation size on user_id = o_custkey. Both
    * carry their exact values and e6 overestimate margins; est ≥ exact
    * is the inner-product invariant (collision cross-terms only ADD),
    * and the portable md5 cell hashes mean the oracle replays BOTH
    * counter tables — the estimates are gated bit-for-bit, like
    * q274/q277. Shape: two constant-size sketches (map-combined,
    * ≤ d·w rows), per-(r,cell) broadcast joins, 1-row broadcast
    * cross-joins for the report — nothing grows with the corpus but
    * the scans.
    */
  def q278CountMinJoinEst(s: SparkSession, dir: String): DataFrame = {
    // Width sizing is the whole game for inner products: expected
    // collision mass is (Σf_A)(Σf_B)/w, so w must sit well above
    // |A|·|B| / |A ⋈ B| for the estimate to be usable — at w=512 the
    // cross estimate measured 29× exact; at 16384 it is planning-grade.
    // 4×16384 cells is still a constant-size broadcastable table.
    val (d, w) = (4, 16384)
    val ev = Tables.events(s, dir).select(col("user_id"))
    val ord = Tables.orders(s, dir).select(col("o_custkey"))
    val skE = graft.operators.CountMin.sketch(ev, "user_id", d, w)
    val skO = graft.operators.CountMin.sketch(ord, "o_custkey", d, w)
    val f2est = graft.operators.CountMin.innerProduct(skE, skE, d)
      .select(col("cm_join_est").as("cm_f2_est"))
    val xjest = graft.operators.CountMin.innerProduct(skE, skO, d)
    val f2exact = ev.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"))
      .agg(sum(col("n") * col("n")).as("exact_f2"))
    val en = ev.groupBy(col("user_id")).agg(count(lit(1)).as("n_e"))
    val on = ord.groupBy(col("o_custkey").as("user_id"))
      .agg(count(lit(1)).as("n_o"))
    val xjexact = en.join(on, Seq("user_id"))
      .agg(coalesce(sum(col("n_e") * col("n_o")), lit(0L))
        .as("exact_join"))
    f2est.crossJoin(f2exact).crossJoin(xjest).crossJoin(xjexact)
      .select(col("cm_f2_est"), col("exact_f2"),
        expr("(1000000 * (cm_f2_est - exact_f2)) div exact_f2")
          .as("f2_overest_e6"),
        col("cm_join_est"), col("exact_join"),
        expr("(1000000 * (cm_join_est - exact_join)) div exact_join")
          .as("join_overest_e6"))
  }

  /** q279 — BLOOM-FILTER RUNTIME JOIN PRE-FILTER
    * ([[graft.operators.Bloom]]): build a constant-size bit table over
    * the SMALL side's join keys (events' ~1% user slice), prune the
    * FACT side (orders) with a per-row codegen membership predicate
    * before paying the join's shuffle — at 100 TB, the difference
    * between shuffling every fact row and shuffling ~the matches.
    * Two widths run side by side (the q278 convention): a deliberately
    * undersized 512-bit filter whose false-positive leak is large and
    * MEASURED, and a 4096-bit one sized for the key count. The gated
    * row carries the full contract: `rows_match_after_sized` ≡
    * `rows_match` is the NO-FALSE-NEGATIVES guarantee driven through
    * the filter+join chain, the fp_*_e6 margins are the
    * (1−e^(−kn/m))^k curve made visible, and the portable hashes mean
    * the oracle replays every pass/reject decision bit-for-bit.
    * Shape: two ≤ m/32-row build aggregates, broadcast 1-row packed
    * arrays, per-row k-term conjunctions in the probe scans, tiny
    * semi/anti joins against the 150-key dim — nothing grows with the
    * corpus but the scans.
    */
  def q279BloomJoinFilter(s: SparkSession, dir: String): DataFrame = {
    val k = 5
    val (mCoarse, mSized) = (512, 4096)
    val ev = Tables.events(s, dir)
      .select(col("user_id")).filter(col("user_id").isNotNull)
    val ord = Tables.orders(s, dir)
      .select(col("o_custkey")).filter(col("o_custkey").isNotNull)
    val evKeys = ev.distinct()
    val packCoarse = graft.operators.Bloom.pack(
      graft.operators.Bloom.build(ev, "user_id", mCoarse, k), mCoarse)
    val packSized = graft.operators.Bloom.pack(
      graft.operators.Bloom.build(ev, "user_id", mSized, k), mSized)
    // each probe pass costs k md5 calls per row — so every frame is
    // consumed by exactly ONE aggregate pass: a broadcast left join
    // against the key dim marks matches, then count/conditional-count/
    // count_distinct read all the measures in one scan (3 scans total,
    // not one per measure)
    def marked(df: DataFrame) = df.join(broadcast(evKeys),
      col("o_custkey") === col("user_id"), "left")
    def passStats(pass: DataFrame, tag: String, withMatch: Boolean) = {
      val base = Seq(
        count(lit(1)).as(s"rows_pass_$tag"),
        count_distinct(when(col("user_id").isNull, col("o_custkey")))
          .as(s"fp_keys_$tag"))
      marked(pass).agg(base.head, (if (withMatch)
        base.tail :+ count(col("user_id")).as("rows_match_after_sized")
      else base.tail): _*)
    }
    val probeStats = marked(ord).agg(
      count(lit(1)).as("n_probe_rows"),
      count(col("user_id")).as("rows_match"),
      count_distinct(when(col("user_id").isNull, col("o_custkey")))
        .as("nonmatch_keys"))
    probeStats
      .crossJoin(passStats(graft.operators.Bloom.filterMaybe(
        ord, "o_custkey", packCoarse, mCoarse, k), "coarse",
        withMatch = false))
      .crossJoin(passStats(graft.operators.Bloom.filterMaybe(
        ord, "o_custkey", packSized, mSized, k), "sized",
        withMatch = true))
      .select(col("n_probe_rows"), col("rows_match"),
        col("rows_match_after_sized"), col("rows_pass_coarse"),
        col("rows_pass_sized"), col("fp_keys_coarse"),
        col("fp_keys_sized"), col("nonmatch_keys"),
        expr("(1000000 * fp_keys_coarse) div nonmatch_keys")
          .as("fp_coarse_e6"),
        expr("(1000000 * fp_keys_sized) div nonmatch_keys")
          .as("fp_sized_e6"))
  }

  /** q280 — KMV DISTINCT-VALUE SKETCH + SET-OPERATION ESTIMATES
    * ([[graft.operators.Kmv]], Bar-Yossef et al. RANDOM'02 / Beyer et
    * al. SIGMOD'07): distinct counts, union size, Jaccard, and
    * intersection size between two key populations from two ≤ k-row
    * sketches — corpus-overlap questions answered WITHOUT a join over
    * the data. Deliberately spans both estimator regimes at sf0.01:
    * events' 150 distinct users sit UNDER k=256 (the sketch holds the
    * whole set — estimate must be EXACT), orders' 1500 custkeys sit
    * over it (the (k−1)·2^52 div h_k order-statistic regime). Exact
    * values and signed e6 error margins ride alongside (KMV is
    * unbiased, not one-sided like CM — the margin column is allowed to
    * go negative, and the gate pins whatever it is bit-for-bit, since
    * [[graft.functions.PortableHash.h52]] lets the oracle replay the
    * exact k-minimum sets). Shape: builds shuffle DISTINCT HASHES
    * (map-combined) into a distributed top-k, everything downstream
    * runs on ≤ 2k-row broadcast frames.
    */
  def q280KmvDistinct(s: SparkSession, dir: String): DataFrame = {
    val k = 256
    val ev = Tables.events(s, dir).select(col("user_id"))
    val ord = Tables.orders(s, dir).select(col("o_custkey"))
    val skE = graft.operators.Kmv.sketch(ev, "user_id", k)
    val skO = graft.operators.Kmv.sketch(ord, "o_custkey", k)
    val estE = graft.operators.Kmv.estimateDistinct(skE, k)
      .select(col("kmv_est").as("est_users"))
    val estO = graft.operators.Kmv.estimateDistinct(skO, k)
      .select(col("kmv_est").as("est_custs"))
    val setops = graft.operators.Kmv.setOps(skE, skO, k)
    val exE = ev.agg(count_distinct(col("user_id")).as("exact_users"))
    val exO = ord.agg(count_distinct(col("o_custkey")).as("exact_custs"))
    val exUnion = ev.filter(col("user_id").isNotNull).distinct()
      .withColumnRenamed("user_id", "key")
      .unionByName(ord.filter(col("o_custkey").isNotNull).distinct()
        .withColumnRenamed("o_custkey", "key"))
      .distinct().agg(count(lit(1)).as("exact_union"))
    val exInter = ev.distinct()
      .join(ord.distinct(),
        col("user_id") === col("o_custkey"), "left_semi")
      .agg(count(lit(1)).as("exact_inter"))
    estE.crossJoin(exE).crossJoin(estO).crossJoin(exO)
      .crossJoin(setops).crossJoin(exUnion)
      .crossJoin(exInter)
      .select(col("est_users"), col("exact_users"),
        col("est_custs"), col("exact_custs"),
        expr("(1000000 * (est_custs - exact_custs)) div exact_custs")
          .as("cust_err_e6"),
        col("kmv_union_est"), col("exact_union"),
        col("kmv_jaccard_e6"),
        expr("(1000000 * exact_inter) div exact_union")
          .as("exact_jaccard_e6"),
        col("kmv_inter_est"), col("exact_inter"))
  }

  /** q281 — SKETCH-DRIVEN JOIN ORDERING: q278's inner-product estimate
    * promoted to the decision it exists for — given three candidate
    * equi-joins on the shared customer-key domain (events⋈orders,
    * events⋈customer, orders⋈customer), RANK them by estimated size
    * from three constant-size sketches and gate the ranking against
    * the exact sizes — the cheapest-join-first call a cost-based
    * planner makes before paying any shuffle at 100 TB. Ranks are
    * integer CASE sums with a deterministic pair-id tie-break (eo <
    * ec < oc), `order_agrees` = 1 iff the estimated permutation IS
    * the exact permutation; every estimate, exact, and rank is gated
    * bit-for-bit (the shared md5 cell hashes replay all three counter
    * tables). Shape: three ≤ d·w-row sketches (map-combined), three
    * broadcast per-(r,cell) joins, 1-row broadcast cross-joins —
    * nothing grows with the corpus but the scans.
    */
  def q281SketchJoinOrder(s: SparkSession, dir: String): DataFrame = {
    val (d, w) = (4, 16384)
    val ev = Tables.events(s, dir).select(col("user_id").as("k"))
    val ord = Tables.orders(s, dir).select(col("o_custkey").as("k"))
    val cust = Tables.customer(s, dir).select(col("c_custkey").as("k"))
    val skE = graft.operators.CountMin.sketch(ev, "k", d, w)
    val skO = graft.operators.CountMin.sketch(ord, "k", d, w)
    val skC = graft.operators.CountMin.sketch(cust, "k", d, w)
    def est(a: DataFrame, b: DataFrame, as: String) =
      graft.operators.CountMin.innerProduct(a, b, d)
        .select(col("cm_join_est").as(as))
    def exact(a: DataFrame, b: DataFrame, as: String) =
      a.groupBy(col("k")).agg(count(lit(1)).as("__na"))
        .join(b.groupBy(col("k")).agg(count(lit(1)).as("__nb")), Seq("k"))
        .agg(coalesce(sum(col("__na") * col("__nb")), lit(0L)).as(as))
    // rank = 1 + #{q: est_q < est_p, or == with smaller pair id};
    // pair ids eo(1) < ec(2) < oc(3) break ties deterministically
    def ranks(pre: String) = Seq(
      expr(s"CAST(1 + (CASE WHEN ${pre}_ec < ${pre}_eo THEN 1 ELSE 0 " +
        s"END) + (CASE WHEN ${pre}_oc < ${pre}_eo THEN 1 ELSE 0 END) " +
        "AS BIGINT)").as(s"rank_${pre}_eo"),
      expr(s"CAST(1 + (CASE WHEN ${pre}_eo <= ${pre}_ec THEN 1 ELSE 0 " +
        s"END) + (CASE WHEN ${pre}_oc < ${pre}_ec THEN 1 ELSE 0 END) " +
        "AS BIGINT)").as(s"rank_${pre}_ec"),
      expr(s"CAST(1 + (CASE WHEN ${pre}_eo <= ${pre}_oc THEN 1 ELSE 0 " +
        s"END) + (CASE WHEN ${pre}_ec <= ${pre}_oc THEN 1 ELSE 0 END) " +
        "AS BIGINT)").as(s"rank_${pre}_oc"))
    est(skE, skO, "est_eo").crossJoin(exact(ev, ord, "exact_eo"))
      .crossJoin(est(skE, skC, "est_ec"))
      .crossJoin(exact(ev, cust, "exact_ec"))
      .crossJoin(est(skO, skC, "est_oc"))
      .crossJoin(exact(ord, cust, "exact_oc"))
      .select(Seq(col("est_eo"), col("exact_eo"), col("est_ec"),
        col("exact_ec"), col("est_oc"), col("exact_oc")) ++
        ranks("est") ++ ranks("exact"): _*)
      .withColumn("order_agrees",
        expr("CAST(CASE WHEN rank_est_eo = rank_exact_eo AND " +
          "rank_est_ec = rank_exact_ec AND " +
          "rank_est_oc = rank_exact_oc THEN 1 ELSE 0 END AS BIGINT)"))
  }

  /** q282 — EQUI-DEPTH HISTOGRAM RANGE-SELECTIVITY ESTIMATION
    * ([[graft.operators.Histogram]]): the fourth leg of the
    * sketch-planner quartet — join size (q278/q281), membership
    * (q279), distinct count (q280), and now "how many rows match
    * `v BETWEEN a AND b`" from a 64-row summary instead of a scan.
    * Three fixed ranges probe the interpolation's regimes over
    * cents-quantized l_extendedprice (`floor(x·100)` — the q68/q276
    * portable-double convention): a narrow 1%-selectivity band, a
    * mid-width band, and a near-full-domain band. Every estimate,
    * exact count, and signed e6 error is gated bit-for-bit — the
    * oracle replays the distinct-value prefix sum, the bucket
    * assignment, and the uniform-spread arithmetic. The histogram
    * rebuilds per estimate here (a 64-row frame; a planner caches
    * it) — corpus work is the map-combined value grouping, and the
    * single-partition prefix sum is bounded by the cents DOMAIN, not
    * the corpus (see the operator scaladoc).
    */
  def q282HistogramSelectivity(s: SparkSession, dir: String): DataFrame = {
    val B = 64
    val ranges = Seq(
      ("narrow", 1000000L, 1099999L),
      ("mid", 1000000L, 4999999L),
      ("wide", 200000L, 9999999L))
    val cents = Tables.lineitem(s, dir)
      .select(floor(col("l_extendedprice") * 100).cast("long")
        .as("cents"))
      .filter(col("cents").isNotNull)
    val hist = graft.operators.Histogram.equiDepth(cents, "cents", B)
    val nb = hist.agg(count(lit(1)).as("n_buckets"))
    val parts = ranges.map { case (tag, a, b) =>
      graft.operators.Histogram.estimateRange(hist, a, b)
        .select(col("est_rows").as(s"est_$tag"))
        .crossJoin(cents.filter(col("cents").between(a, b))
          .agg(count(lit(1)).as(s"exact_$tag")))
    }
    parts.foldLeft(nb)(_ crossJoin _)
      .select(col("n_buckets") +: ranges.flatMap { case (tag, _, _) =>
        Seq(col(s"est_$tag"), col(s"exact_$tag"),
          expr(s"(1000000 * (est_$tag - exact_$tag)) div exact_$tag")
            .as(s"err_${tag}_e6"))
      }: _*)
  }

  /** q226 — the SAME answer as q193 computed by the PassJoin
    * segment-signature path ([[Dedup.passJoinPairs]]): candidates are
    * pairs sharing a ~len/3-char ALIGNED substring (pigeonhole over 3
    * segments at edit distance ≤ 2) instead of every pair in a
    * (noun, length-band) cell — O(n·15) emitted signatures replacing
    * the cell-quadratic candidate stage, with exact recall by
    * construction. Two queries, one oracle: q193 and q226 share the
    * bare-join SQL verbatim, so the gate itself proves the two
    * candidate disciplines compute identical pair sets on real data
    * (and `PassJoinSpec` pins operator-level equivalence including
    * the degenerate-length edges TPC-H never produces). The bench
    * carries both so the banded-vs-signature cost gap is measured,
    * not asserted — and the §9 probes show the choice is a REGIME,
    * not a winner: on short keys with dense matches banding streams
    * candidates through a cheap kernel and wins at every scale; on
    * long uniform-length fields (the all-same-length template cell
    * banding cannot split) the banded path hit 366 s at 30× where
    * the signature path held 7 s, because a signature candidate
    * requires an aligned ~len/3-char match — only true near-dups
    * produce one.
    *
    * The gate runs on the deterministic p_partkey % 4 quarter: TPC-H's
    * 92-word name vocabulary makes the FULL table's true-pair set
    * itself ~5.5M at sf0.1 (3.1M of them distance-0 name collisions),
    * and a correctness gate doesn't need to pay the full output-bound
    * cost every round — the §9 probes carry the full-scale
    * measurements for both candidate disciplines, including the
    * regime (long fields, sparse matches) where the signature path
    * wins outright.
    */
  /** q230 window width — part of the query semantics, shared with the
    * oracle. */
  private val SnmWindow = 10L

  /** q230 — SORTED-NEIGHBORHOOD RECALL AUDIT: the third blocking
    * discipline ([[Dedup.sortedNeighborhood]] — candidates are pairs
    * within [[SnmWindow]] positions of the (noun, nm, pk) sort order,
    * a FIXED n·(w−1) budget immune to hot blocks and hot signatures)
    * measured against the gated exact truth (the q193/q226 same-noun
    * lev ≤ 2 pair set on the same quarter). SNM's recall is a
    * property of the SORT KEY, not the method — a true pair sorted
    * > w positions apart is invisible — so the audit computes it
    * exactly: matched window pairs are a subset of the truth by
    * construction, recall_e6 = ⌊10⁶·matched/truth⌋. The q218
    * measure-before-trusting convention applied to the discipline
    * whose failure mode is silent (banding and signatures are exact;
    * SNM trades recall for the fixed budget, and this row prices the
    * trade on real data). Measured: recall_e6 682568 at sf0.01 but
    * 126516 at sf0.1 — the fixed window covers a shrinking fraction
    * as same-noun groups grow, so SNM recall DEGRADES with corpus
    * scale unless the window scales with block density or multi-pass
    * keys compose (the published mitigation; union the operator's
    * output across sort keys).
    *
    * Plan: the global rank rides PrefixSum (range exchange), the
    * window pairs are the same+adjacent rank-bucket join, the truth
    * leg is the gated banded join — three map-combined aggregates
    * crossed as broadcast 1-row frames.
    */
  def q230SnmRecall(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.broadcast
    val p = Tables.part(s, dir)
      .filter(col("p_partkey") % 4 === 0)
      .select(col("p_partkey").as("pk"), col("p_name").as("nm"),
              coalesce(element_at(split(col("p_name"), " "), 2), lit(""))
                .as("noun"))
    val cand = Dedup.sortedNeighborhood(p, Seq("noun", "nm", "pk"),
                                        SnmWindow)
    val w = cand.agg(
      count(lit(1)).as("n_window_pairs"),
      sum(when(col("noun_a") === col("noun_b") &&
               levenshtein(col("nm_a"), col("nm_b"), 2) >= 0, 1L)
          .otherwise(0L)).as("n_matched"))
    val t = Dedup.blockedSelfJoin(p, "pk", "nm", Seq("noun"),
                                  maxDist = 2, bandWidth = EditBandWidth)
      .agg(count(lit(1)).as("n_truth_pairs"))
    val n = p.agg(count(lit(1)).as("n_records"))
    n.crossJoin(broadcast(w)).crossJoin(broadcast(t))
      .select(col("n_records"), col("n_window_pairs"), col("n_matched"),
              col("n_truth_pairs"),
              expr("CASE WHEN n_truth_pairs = 0 THEN 0 ELSE" +
                   " (1000000 * n_matched) div n_truth_pairs END")
                .as("recall_e6"))
  }

  /** q231 — MULTI-PASS SNM: the published mitigation for q230's
    * measured recall decay, priced on the same data. A second pass
    * sorts by the REVERSED name — pass 1 (noun, nm) groups names
    * sharing a prefix, so edits near the head push a true pair > w
    * positions apart; the reversed key groups shared suffixes and
    * recovers exactly those — and the union of matched pairs
    * (normalized to pk order, distinct) is what multi-pass SNM ships.
    * One row: per-pass matches, union matches, the exact truth, and
    * all three recalls — whether the second pass pays for itself is
    * READ OFF, not assumed. Each pass is the fixed n·(w−1) budget, so
    * k-pass SNM costs k linear scans + k PrefixSum ranks — still no
    * hot block anywhere.
    *
    * Measured: at sf0.01 the union lifts recall 682568 → 813149 e6
    * (the mitigation working as published); at sf0.1 only
    * 126516 → 128661 e6 — because there the binding constraint is
    * BLOCK DENSITY (same-noun groups far exceed w), which no
    * alternative sort key fixes: multi-pass repairs sort-DISPLACEMENT
    * misses, not density misses. When recall must not degrade with
    * scale, the exact disciplines (q193 banding / q226 signatures)
    * are the answer; SNM buys its fixed budget only while blocks
    * stay window-sized.
    */
  def q231SnmMultipass(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.broadcast
    val p = Tables.part(s, dir)
      .filter(col("p_partkey") % 4 === 0)
      .select(col("p_partkey").as("pk"), col("p_name").as("nm"),
              coalesce(element_at(split(col("p_name"), " "), 2), lit(""))
                .as("noun"))
      .withColumn("rnm", reverse(col("nm")))
    def matched(keys: Seq[String]): DataFrame =
      Dedup.sortedNeighborhood(p, keys, SnmWindow)
        .filter(col("noun_a") === col("noun_b") &&
                levenshtein(col("nm_a"), col("nm_b"), 2) >= 0)
        .select(least(col("pk_a"), col("pk_b")).as("a"),
                greatest(col("pk_a"), col("pk_b")).as("b"))
    val m1 = matched(Seq("noun", "nm", "pk"))
    val m2 = matched(Seq("noun", "rnm", "pk"))
    val c1 = m1.agg(count(lit(1)).as("matched_1"))
    val c2 = m2.agg(count(lit(1)).as("matched_2"))
    val cu = m1.unionByName(m2).distinct()
      .agg(count(lit(1)).as("matched_union"))
    val t = Dedup.blockedSelfJoin(p, "pk", "nm", Seq("noun"),
                                  maxDist = 2, bandWidth = EditBandWidth)
      .agg(count(lit(1)).as("n_truth_pairs"))
    t.crossJoin(broadcast(c1)).crossJoin(broadcast(c2))
      .crossJoin(broadcast(cu))
      .select(col("n_truth_pairs"), col("matched_1"), col("matched_2"),
              col("matched_union"),
              expr("CASE WHEN n_truth_pairs = 0 THEN 0 ELSE" +
                   " (1000000 * matched_1) div n_truth_pairs END")
                .as("recall1_e6"),
              expr("CASE WHEN n_truth_pairs = 0 THEN 0 ELSE" +
                   " (1000000 * matched_2) div n_truth_pairs END")
                .as("recall2_e6"),
              expr("CASE WHEN n_truth_pairs = 0 THEN 0 ELSE" +
                   " (1000000 * matched_union) div n_truth_pairs END")
                .as("union_recall_e6"))
  }

  /** q233 — EXACT MANN–KENDALL TREND TEST over the daily mean event
    * value: is the metric drifting monotonically across the 30-day
    * window? The nonparametric trend complement to q178's drift
    * distances and q232's two-sample KS: S = Σ_{i<j} sign(m_j − m_i)
    * over day pairs, tie-corrected variance
    * Var·18 = n(n−1)(2n+5) − Σ t(t−1)(2t+5), and the α = 0.05
    * normal-approximation verdict as the pure integer comparison
    * 180000·S² > 38416·(Var·18) — 1.96² = 38416/10⁴ exact, so the
    * TEST carries no float (the q232 discipline; the standard
    * continuity correction is omitted and the omission documented —
    * it subtracts sign(S) from S, a half-step that matters only at
    * \|S\| ≈ the boundary, and exactness of the stated rule beats an
    * approximation of a different rule).
    *
    * Daily means are exact floored cent ratios — integer means
    * inflate ties vs float means, identically in both engines, and
    * the tie term corrects for exactly that. Scale: ONE map-combined
    * daily agg over the stream; everything after is |days| rows —
    * the pairwise S join is control-plane-sized by construction
    * (435 pairs for 30 days), never a corpus-sized self-join.
    */
  def q233MannKendall(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.broadcast
    val daily = Tables.events(s, dir)
      .groupBy(to_date(col("ts")).as("d"))
      .agg(expr("sum(CAST(floor(value * 100) AS BIGINT)) div count(1)")
        .as("m"))
    val a = daily.select(col("d").as("d_a"), col("m").as("m_a"))
    val b = daily.select(col("d").as("d_b"), col("m").as("m_b"))
    val sStat = a.join(broadcast(b), col("d_a") < col("d_b"))
      .agg(sum(when(col("m_b") > col("m_a"), 1L)
                 .when(col("m_b") < col("m_a"), -1L)
                 .otherwise(0L)).as("s_stat"))
    val n = daily.agg(count(lit(1)).as("n_days"))
    val ties = daily.groupBy(col("m")).agg(count(lit(1)).as("t"))
      .agg(coalesce(sum(expr("t * (t - 1) * (2 * t + 5)")), lit(0L))
        .as("tie_term"))
    n.crossJoin(broadcast(sStat)).crossJoin(broadcast(ties))
      .select(col("n_days"), col("s_stat"),
              expr("n_days * (n_days - 1) * (2 * n_days + 5) - tie_term")
                .as("var18"))
      .select(col("n_days"), col("s_stat"), col("var18"),
              expr("CAST(CASE WHEN 180000 * s_stat * s_stat" +
                   " > 38416 * var18 THEN 1 ELSE 0 END AS BIGINT)")
                .as("reject_05"),
              expr("CAST(CASE WHEN 180000 * s_stat * s_stat" +
                   " > 38416 * var18 THEN" +
                   " CASE WHEN s_stat > 0 THEN 1" +
                   " WHEN s_stat < 0 THEN -1 ELSE 0 END" +
                   " ELSE 0 END AS BIGINT)").as("trend"))
  }

  /** q235 — the NAIVE fuzzy join, auto-repaired by the optimizer:
    * the same quarter histogram as q226, but written the way a user
    * naturally writes it — a bare noun-blocked join with
    * `levenshtein(a, b) <= 2` as a plain comparison — and
    * [[graft.plans.LevenshteinThresholdRewrite]], part of every graft
    * session, rewrites the predicate to the banded threshold kernel
    * (`lev(a, b, 2) >= 0`, O(k·len) with early exit instead of the
    * full O(len²) DP) in the optimizer, not in the query text. Three
    * queries, one oracle: q193 (hand-banded), q226 (segment
    * signatures), and q235 (naive text + rule) must all hash to the
    * same answer — the rule's exactness is oracle-gated on real
    * data, and `LevenshteinThresholdRewriteSpec` pins the rewrite
    * itself (incl. nulls, mirrors, idempotence).
    */
  def q235LevRewrite(s: SparkSession, dir: String): DataFrame = {
    val p = Tables.part(s, dir)
      .filter(col("p_partkey") % 4 === 0)
      .select(col("p_partkey").as("pk"), col("p_name").as("nm"),
              coalesce(element_at(split(col("p_name"), " "), 2), lit(""))
                .as("noun"))
    val a = p.select(col("pk").as("pk_a"), col("nm").as("nm_a"),
                     col("noun"))
    val b = p.select(col("pk").as("pk_b"), col("nm").as("nm_b"),
                     col("noun"))
    a.join(b, Seq("noun"))
      .filter(col("pk_a") < col("pk_b") &&
              levenshtein(col("nm_a"), col("nm_b")) <= 2)
      .select(levenshtein(col("nm_a"), col("nm_b")).cast("long")
        .as("dist"))
      .groupBy(col("dist"))
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy("dist")
  }

  def q226PassjoinEditdist(s: SparkSession, dir: String): DataFrame = {
    val p = Tables.part(s, dir)
      .filter(col("p_partkey") % 4 === 0)
      .select(col("p_partkey").as("pk"), col("p_name").as("nm"),
              coalesce(element_at(split(col("p_name"), " "), 2), lit(""))
                .as("noun"))
    Dedup.passJoinPairs(p, "pk", "nm", Seq("noun"), maxDist = 2)
      .groupBy(col("dist"))
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy("dist")
  }

  /** q194 — INDEPENDENCE RESIDUALS for the (lang × source) contingency
    * table: per cell the observed count and the exact fixed-point
    * relative deviation from independence,
    * res_e6 = sign · (|N·obs − r·c| · 10⁶) div (r·c) — i.e. obs/exp − 1
    * in e6, where exp = r·c/N. A source whose language mix diverges
    * from the corpus (res far from 0) is exactly where curation
    * stratification (q78's epoch mix, q172's quotas) must intervene;
    * res ≈ 0 everywhere means lang and source are independent and
    * uniform sampling is safe.
    *
    * Sign discipline: the numerator N·obs − r·c is SIGNED, and
    * truncating (Spark `div`) vs flooring engines disagree on negative
    * quotients — so the division runs on the absolute value and the
    * sign multiplies back afterwards (exact, engine-agnostic; the
    * q190 shifted-nonnegative convention generalized). decimal(38,0)
    * throughout: N·obs·10⁶ ≈ 10²⁸ at 10¹² rows — far past long, well
    * inside decimal(38).
    *
    * Plan: three map-combined aggs (cell, row, column margins) joined
    * broadcast — margins are ≤ |langs| and |sources| rows — plus the
    * 1-row total; cells = |langs|·|sources|, tiny at any corpus scale.
    */
  def q194IndepResiduals(s: SparkSession, dir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val docs = Tables.documents(s, dir)
    val cells = docs.groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_obs"))
    val rows = docs.groupBy(col("lang")).agg(count(lit(1)).as("r_tot"))
    val cols = docs.groupBy(col("source")).agg(count(lit(1)).as("c_tot"))
    val tot = docs.agg(count(lit(1)).as("n_total"))
    cells
      .join(broadcast(rows), Seq("lang"))
      .join(broadcast(cols), Seq("source"))
      .crossJoin(broadcast(tot))
      .withColumn("num",
        expr(s"CAST(n_total AS $d38) * n_obs - CAST(r_tot AS $d38) * c_tot"))
      .withColumn("den", expr(s"CAST(r_tot AS $d38) * c_tot"))
      .select(col("lang"), col("source"), col("n_obs"),
              (when(col("num") < 0, -1L).otherwise(1L) *
                expr("(abs(num) * 1000000) div den").cast("long"))
                .as("res_e6"))
      .orderBy("lang", "source")
  }

  /** q195 — BOUNDED ECCENTRICITY of a seed panel
    * ([[GraphOps.perSeedHops]]): for each seed supplier, the max
    * shortest-path hop count to anything it reaches within
    * [[BfsMaxHops]] hops, plus its reach count. q157 answers "how far
    * is everything from the seed SET" (one merged frontier); this
    * keeps per-seed frontiers, so hub-ness becomes comparable ACROSS
    * seeds — a supplier whose 4-hop eccentricity is 2 saturated its
    * neighborhood (a hub); one still at 4 sits on the periphery.
    *
    * The hop cap is part of the semantics (the q157 convention), so
    * the oracle unrolls the identical (seed, node) relaxation — no
    * convergence argument needed. State is O(seeds × reach): the seed
    * panel size is the explicit scale knob, and the relaxation rounds
    * are each ONE keyed join + ONE map-combined min agg with the seed
    * riding the grouping key.
    */
  def q195EccBounded(s: SparkSession, dir: String): DataFrame = {
    val rel = Tables.lineitem(s, dir)
      .join(Tables.orders(s, dir),
            col("l_orderkey") === col("o_orderkey"))
      .select(concat(lit("s"), col("l_suppkey")).as("sup"),
              concat(lit("c"), col("o_custkey")).as("cust"))
      .distinct()
    val edges = rel.select(col("sup").as("src"), col("cust").as("dst"))
      .unionByName(rel.select(col("cust").as("src"), col("sup").as("dst")))
    val seeds = Tables.supplier(s, dir)
      .filter(col("s_suppkey") <= 5)
      .select(concat(lit("s"), col("s_suppkey")).as("seed"))
    GraphOps.perSeedHops(edges, "src", "dst", seeds, "seed",
                         maxHops = BfsMaxHops)
      .groupBy(col("seed"))
      .agg(max(col("hops")).as("ecc"),
           count(lit(1)).as("n_reached"))
      .orderBy("seed")
  }

  /** q196 — DEDUP FIXED-POINT AUDIT: run the q54 pipeline (Jaccard
    * pairs → CC → min-id keeper), then re-run pair generation on the
    * KEPT corpus and count survivors. The count is provably zero —
    * pair membership is pairwise (removing documents can't create a
    * pair), so second-pass pairs are original pairs with both ends
    * kept, i.e. two keepers in one component — contradiction. But
    * "provably" is about THIS composition of threshold and keeper
    * rule; the audit exists because real pipelines break the premise
    * (re-normalizing text between passes, per-pass thresholds,
    * sampling the pair stage) and silently ship half-deduped corpora.
    * Both engines COMPUTE the invariant from the data — the oracle
    * re-derives components, keepers, and second-pass pairs in SQL
    * rather than asserting 0.
    *
    * Plan: the q54 shapes plus one semi-join (kept filter) and a
    * second pair stage over the ~deduped (smaller) corpus; the audit
    * costs less than the dedup it certifies.
    */
  def q196DedupFixedpoint(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val pairs = Dedup
      .jaccardPairs(docs, "doc_id", "text", n = 3, num = 1, den = 2)
      .select(col("doc_a"), col("doc_b"))
    val kept = Dedup.applyDedup(docs.select("doc_id"), "doc_id", pairs)
      .filter(col("kept"))
      .select(col("doc_id"))
    val keptDocs = docs.join(kept, Seq("doc_id"), "left_semi")
    val secondPass = Dedup
      .jaccardPairs(keptDocs, "doc_id", "text", n = 3, num = 1, den = 2)
    kept.agg(count(lit(1)).as("n_docs_kept"))
      .crossJoin(
        secondPass.agg(count(lit(1)).as("n_second_pass_pairs")))
  }

  /** q197 — ENTITY RESOLUTION end-to-end: blocking → pairwise match →
    * connected components → survivorship, the record-linkage pipeline
    * (catalog unification, author disambiguation, crawl-source merge)
    * composed from gated pieces. Records are parts; the blocking key is
    * the q193 name noun, the match rule is `levenshtein ≤ 1 AND same
    * brand` (conjunctive rules shrink blocks BEFORE the quadratic
    * stage — brand rides the join key, so the per-block candidate
    * count divides by the brand cardinality rather than filtering
    * after the fact), matches close transitively into entities
    * ([[GraphOps.connectedComponents]]), and survivorship emits one
    * row per multi-member entity: first-record-wins canonical name
    * (`min_by` over the unique key — deterministic in both engines),
    * member count, and the exact price range in cents.
    *
    * Scale: the match stage rides [[Dedup.blockedSelfJoin]] like q193
    * — (noun, brand) composed with the length band, so hot blocks
    * split — and the match-rule conjuncts belong IN the join key
    * (here: noun AND brand) not the post-filter. CC is
    * the q37 star-contraction shape; survivorship is one map-combined
    * agg over matched nodes only (unmatched records never reach it).
    */
  private def erRecords(s: SparkSession, dir: String): DataFrame =
    Tables.part(s, dir)
      .select(col("p_partkey").as("pk"), col("p_name").as("nm"),
              col("p_brand").as("br"),
              // '' on 1-word names, matching split_part (see q193)
              coalesce(element_at(split(col("p_name"), " "), 2), lit(""))
                .as("noun"),
              floor(col("p_retailprice") * 100).cast("long").as("price_c"))

  /** q197's match stage alone (blocked keyed self-join + edit-distance
    * rule), exposed so [[PlanShapeSpec]] can pin its shape — the CC
    * stage checkpoints this plan away from the final query's explain.
    * Rides [[Dedup.blockedSelfJoin]]: the (noun, brand) key composed
    * with the length band, so the q193 skew lever is inherited here
    * (and by any future blocked matcher) rather than re-derived.
    */
  def erMatchPairs(s: SparkSession, dir: String): DataFrame =
    Dedup.blockedSelfJoin(erRecords(s, dir), "pk", "nm",
                          Seq("noun", "br"),
                          maxDist = 1, bandWidth = EditBandWidth)
      .select(col("pk_a"), col("pk_b"))

  def q197EntityResolution(s: SparkSession, dir: String): DataFrame = {
    val p = erRecords(s, dir)
    val cc = GraphOps.connectedComponents(
        erMatchPairs(s, dir), "pk_a", "pk_b")
      .toDF("pk", "entity_id")
    cc.join(p, Seq("pk"))
      .groupBy(col("entity_id"))
      .agg(count(lit(1)).as("n_members"),
           min_by(col("nm"), col("pk")).as("canonical_nm"),
           min(col("price_c")).as("price_min_c"),
           max(col("price_c")).as("price_max_c"))
      .orderBy("entity_id")
  }

  /** q198 — FAMILY-SAFE K-FOLD SPLIT: the fix q192 motivates. q192
    * measures how many near-dup families straddle a doc-id-hash split;
    * this query assigns folds at FAMILY granularity — members of a
    * Jaccard component hash their component label, singletons their
    * own id — so near-duplicates can never straddle folds and
    * cross-validation eval sets stay uncontaminated. Output is one row
    * per fold (doc count, family-member count, multi-member family
    * count) plus the recomputed global leak count, which is zero BY
    * CONSTRUCTION — and, per the q196 convention, both engines compute
    * it from the data rather than asserting it, because real pipelines
    * break the construction (re-thresholded second passes, per-split
    * normalization) and this audit is what catches them.
    *
    * Plan: the gated q37 pair+CC shapes, a left join of docs to their
    * component (singletons pass through), one 5-group agg, and a 1-row
    * leak reduction broadcast back onto the fold rows.
    */
  def q198FamilyFolds(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("doc_id"))
    val pairs = Dedup
      .jaccardPairs(Tables.documents(s, dir), "doc_id", "text",
                    n = 3, num = 1, den = 2)
      .select(col("doc_a"), col("doc_b"))
    val cc = GraphOps.connectedComponents(pairs, "doc_a", "doc_b")
      .toDF("doc_id", "component")
    val folded = docs.join(cc, Seq("doc_id"), "left")
      .withColumn("fold_key",
        coalesce(col("component"), col("doc_id")).cast("string"))
      .withColumn("fold", pmod(PortableHash.h32(col("fold_key")), lit(5L)))
    val byFold = folded.groupBy(col("fold"))
      .agg(count(lit(1)).as("n_docs"),
           sum(when(col("component").isNotNull, 1L).otherwise(0L))
             .as("n_family_docs"),
           countDistinct(col("component")).as("n_families"))
    val leak = folded.filter(col("component").isNotNull)
      .groupBy(col("component"))
      .agg(countDistinct(col("fold")).as("n_folds"))
      .agg(sum(when(col("n_folds") > 1, 1L).otherwise(0L))
        .as("n_leaky_families"))
    byFold.crossJoin(broadcast(leak)).orderBy("fold")
  }

  /** q199 — l-DIVERSITY AUDIT (l = 3): the k-anonymity (q190)
    * follow-up. k-anonymity counts group SIZES; a group of 50 rows
    * that all share one market segment still leaks the sensitive
    * attribute to anyone who can place a customer in the group.
    * l-diversity requires ≥ l distinct sensitive values per
    * quasi-identifier group — here quasi = (nation, balance band),
    * sensitive = market segment. Output is the diversity histogram
    * (groups and rows per distinct-segment count l) with a per-row
    * below-threshold flag, so both the distribution and the verdict
    * are in one gated table.
    *
    * Plan: one map-combined two-level agg (group → l, then histogram);
    * nothing after the first agg exceeds the group count.
    */
  def q199LDiversity(s: SparkSession, dir: String): DataFrame = {
    Tables.customer(s, dir)
      .select(col("c_nationkey"),
              expr("(CAST(floor(c_acctbal * 100) AS BIGINT) + 100000) " +
                   "div 200000").as("bal_band"),
              col("c_mktsegment"))
      .groupBy(col("c_nationkey"), col("bal_band"))
      .agg(countDistinct(col("c_mktsegment")).as("l"),
           count(lit(1)).as("n"))
      .groupBy(col("l"))
      .agg(count(lit(1)).as("n_groups"), sum(col("n")).as("n_rows"))
      .withColumn("below_l3", (col("l") < 3).cast("boolean"))
      .orderBy("l")
  }

  /** q202 — SHORTEST-PATH COUNTS ([[GraphOps.pathCounts]]): for every
    * node within [[BfsMaxHops]] hops of supplier s1 on the trade
    * graph, the hop distance AND the exact number of distinct
    * shortest paths (Brandes' σ) — the quantity behind betweenness
    * centrality and path-redundancy audits (σ = 1 means a single
    * bridge; high σ means the connection survives node loss). q157
    * answers "how far", this adds "along how many routes".
    *
    * σ is combinatorial — on this bipartite graph it multiplies by
    * the level width each hop — so it rides decimal(38,0) in Spark
    * and HUGEINT in the oracle, surfaced as a string (the q189
    * rational convention). The oracle unrolls the identical
    * level-synchronous recurrence: round i sums σ over dist-(i−1)
    * predecessors and excludes already-settled nodes.
    */
  def q202PathCounts(s: SparkSession, dir: String): DataFrame = {
    val rel = Tables.lineitem(s, dir)
      .join(Tables.orders(s, dir),
            col("l_orderkey") === col("o_orderkey"))
      .select(concat(lit("s"), col("l_suppkey")).as("sup"),
              concat(lit("c"), col("o_custkey")).as("cust"))
      .distinct()
    val edges = rel.select(col("sup").as("src"), col("cust").as("dst"))
      .unionByName(rel.select(col("cust").as("src"), col("sup").as("dst")))
    GraphOps.pathCounts(edges, "src", "dst", seed = "s1",
                        maxHops = BfsMaxHops)
      .select(col("node"), col("dist"),
              col("sigma").cast("string").as("sigma"))
      .orderBy("node")
  }

  /** q205 — DEDUP PROVENANCE (the explain table): one row per document
    * with its dedup DECISION and the evidence — kept flag, component,
    * elected keeper, and the exact Jaccard to the keeper when a DIRECT
    * pair exists (null for members linked only transitively — exactly
    * the rows q177's transitivity audit is about, now enumerable).
    * This is the table a data-governance review asks for: not "37% was
    * removed" (q182's funnel) but "WHY was doc 4711 removed, and how
    * similar was it to what survived". Min-id keeper election means
    * keeper == component label; direct evidence is a join of the
    * gated pair set on (keeper, member).
    *
    * Plan: the q37 pair+CC shapes + one left join of docs to labels +
    * one left join to keeper-side pairs; nothing new shuffles.
    */
  def q205DedupExplain(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("doc_id"))
    val pairs = Dedup
      .jaccardPairs(Tables.documents(s, dir), "doc_id", "text",
                    n = 3, num = 1, den = 2)
    val cc = GraphOps.connectedComponents(
        pairs.select(col("doc_a"), col("doc_b")), "doc_a", "doc_b")
      .toDF("doc_id", "component")
    val direct = pairs.select(
        col("doc_a").as("component"), col("doc_b").as("doc_id"),
        expr("(1000000 * inter_cnt) div union_cnt").as("keeper_jac_e6"))
    docs.join(cc, Seq("doc_id"), "left")
      .withColumn("kept",
        col("component").isNull || col("doc_id") === col("component"))
      .withColumn("keeper", coalesce(col("component"), col("doc_id")))
      .join(direct, Seq("component", "doc_id"), "left")
      .select(col("doc_id"), col("kept"), col("component"),
              col("keeper"), col("keeper_jac_e6"))
      .orderBy("doc_id")
  }

  /** q206 — NEAREST-event join ([[TemporalOps.nearestJoin]]): each
    * event matched to the CLOSEST order date of the same user, in
    * either direction — the sensor-alignment/label-attachment
    * semantics plain as-of (q38) can't express (as-of ignores a
    * nearer future row). Equidistant ties take the earlier date;
    * users with no orders surface with nulls (left semantics). The
    * signed day distance is exact integer in both engines.
    *
    * Plan: ONE key exchange carrying two in-partition sorts (the
    * ascending and descending carries) — never join-all-pairs-then-
    * argmin, which is what the oracle does (valid at oracle scale,
    * quadratic per user at 100 TB).
    */
  def q206NearestEvent(s: SparkSession, dir: String): DataFrame = {
    val events = Tables.events(s, dir)
      .select(col("event_id"), col("user_id"), col("ts"))
    val orders = Tables.orders(s, dir)
      .select(col("o_custkey").as("user_id"), col("o_orderdate"))
    TemporalOps.nearestJoin(
        events, orders,
        key = "user_id", eventTime = "ts", rightTime = "o_orderdate")
      .withColumn("nearest_date", col("o_orderdate").cast("date"))
      .withColumn("dist_days",
        datediff(col("nearest_date"), to_date(col("ts"))).cast("long"))
      .select("event_id", "user_id", "nearest_date", "dist_days")
      .orderBy("event_id")
  }

  /** q209 — INCREMENTAL component maintenance
    * ([[GraphOps.mergeComponents]]): the q37 pair set split
    * deterministically into an "existing corpus" 80% and a "new batch"
    * 20% (portable pair hash), the old pairs labeled, the new pairs
    * MERGED into that labeling via star edges — and the oracle is the
    * BATCH RECOMPUTE over all pairs (q37's own SQL, verbatim), so the
    * gate asserts the central incremental-maintenance theorem:
    * merge(label(old), new) ≡ label(old ∪ new), min-ids included. At
    * 100 TB the star set is linear in labeled nodes no matter how many
    * historical pairs produced them — relabeling cost tracks the
    * increment, not the corpus history.
    */
  def q209IncrementalCc(s: SparkSession, dir: String): DataFrame = {
    val pairs = Dedup
      .jaccardPairs(Tables.documents(s, dir), "doc_id", "text",
                    n = 3, num = 1, den = 2)
      .select(col("doc_a"), col("doc_b"))
      .withColumn("__new",
        pmod(PortableHash.h32(
          concat(col("doc_a").cast("string"), lit("_"),
                 col("doc_b").cast("string"))), lit(5L)) === 0L)
    val oldLabels = GraphOps.connectedComponents(
        pairs.filter(!col("__new")), "doc_a", "doc_b")
      .toDF("id", "comp")
    GraphOps.mergeComponents(
        oldLabels, pairs.filter(col("__new")), "doc_a", "doc_b")
      .select(col("id").as("doc_id"), col("comp").as("component"))
      .orderBy("doc_id")
  }

  /** q210 — WATERMARK REPLAY AUDIT: how much late data would a 1/6/24
    * hour watermark have dropped on THIS stream's history? Arrival
    * order is the event id (the ingest sequence); the running
    * event-time maximum over that order is the watermark source, and
    * an event is late for gap g iff its ts < running_max − g. One
    * gated table — (gap_hours, n_late, n_events, late_rate_e6) — is
    * the evidence a deployment sets its real watermark from, instead
    * of folklore. The running max rides
    * [[graft.operators.PrefixSum.runningMaxFlag]] (two-phase scan,
    * range exchange + driver-folded offsets) — NEVER a
    * single-partition window over the stream history, which is
    * exactly where the naive formulation stops scaling.
    */
  def q210WatermarkAudit(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(col("event_id"), unix_micros(col("ts")).as("ts_us"))
    val rm = graft.operators.PrefixSum.runningMaxFlag(
      ev, "ts_us", Seq("event_id"), maxCol = "wm_src")
    val gaps = Seq(1L, 6L, 24L)
    val flagged = gaps.foldLeft(rm) { (df, g) =>
      df.withColumn(s"__late_$g",
        when(col("ts_us") < col("wm_src") - g * 3600000000L, 1L)
          .otherwise(0L))
    }
    val agg = flagged.agg(
      count(lit(1)).as("n_events"),
      sum(col("__late_1")).as("l1"),
      sum(col("__late_6")).as("l6"),
      sum(col("__late_24")).as("l24"))
    agg.select(
        explode(array(
          struct(lit(1L).as("gap_hours"), col("l1").as("n_late"),
                 col("n_events")),
          struct(lit(6L).as("gap_hours"), col("l6").as("n_late"),
                 col("n_events")),
          struct(lit(24L).as("gap_hours"), col("l24").as("n_late"),
                 col("n_events")))).as("r"))
      .select(col("r.gap_hours"), col("r.n_late"), col("r.n_events"))
      .withColumn("late_rate_e6", expr("(1000000 * n_late) div n_events"))
      .orderBy("gap_hours")
  }

  /** Exact power-of-two degree banding (band = ⌊log2 deg⌋) as ONE
    * generated CASE chain — `floor(log2(x))` in floats is
    * boundary-hazardous (log2(8) can land at 2.999… in one engine and
    * 3.0 in the other); the CASE compares integers only. The SAME
    * string feeds Spark's `expr` and the DuckDB oracle, so the bands
    * cannot drift (the BenfordE9 shared-constant discipline). Bands
    * cover the full positive-long range (k ≤ 62), so the banding is
    * exactly ⌊log2 deg⌋ for every representable degree.
    */
  private val DegBandSql: String =
    (62 to 0 by -1).map(k => s"WHEN deg >= ${1L << k} THEN $k")
      .mkString("CASE ", " ", " ELSE -1 END")

  /** q213 — DEGREE PROFILE of the trade graph: node counts, degree
    * ranges, and edge-endpoint mass per power-of-two degree band —
    * the know-your-graph audit BEFORE running the iterative family
    * (PageRank/HITS/BFS/k-core) on it: a heavy top band means hub
    * nodes will dominate per-round join fan-out (the skew the salted
    * and capped paths exist for), a missing tail means the graph is
    * near-regular and plain hash partitioning is fine. §9's per-round
    * cost commentary cites edge density; this query makes the
    * distribution itself a gated artifact. Two hash aggs over the
    * gated trade-graph shape.
    */
  def q213DegreeProfile(s: SparkSession, dir: String): DataFrame = {
    val rel = Tables.lineitem(s, dir)
      .join(Tables.orders(s, dir),
            col("l_orderkey") === col("o_orderkey"))
      .select(concat(lit("s"), col("l_suppkey")).as("sup"),
              concat(lit("c"), col("o_custkey")).as("cust"))
      .distinct()
    val deg = rel.select(col("sup").as("node"))
      .unionByName(rel.select(col("cust").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    deg.withColumn("band", expr(DegBandSql).cast("long"))
      .groupBy(col("band"))
      .agg(count(lit(1)).as("n_nodes"),
           min(col("deg")).as("deg_min"),
           max(col("deg")).as("deg_max"),
           sum(col("deg")).as("endpoint_mass"))
      .orderBy("band")
  }

  /** q214 — EVENT-TIME INTERVAL JOIN, batch form: every (error,
    * purchase) pair of the SAME user where the purchase lands in
    * [error_ts, error_ts + 1h] — the does-the-error-precede-a-sale
    * attribution shape (key equality + right ts in [left ts, left ts +
    * within]).
    *
    * Plan: ONE shuffle per side on user_id, the interval bounds as a
    * join-stage filter. The gap is exact integer microseconds in both
    * engines.
    */
  def q214IntervalJoin(s: SparkSession, dir: String): DataFrame = {
    val HourUs = 3600000000L
    val ev = Tables.events(s, dir)
    val errs = ev.filter(col("event_type") === "error")
      .select(col("user_id"), col("event_id").as("err_id"),
              unix_micros(col("ts")).as("err_us"))
    val purs = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("pur_id"),
              unix_micros(col("ts")).as("pur_us"))
    errs.join(purs, Seq("user_id"))
      .filter(col("pur_us") >= col("err_us") &&
              col("pur_us") <= col("err_us") + HourUs)
      .select(col("user_id"), col("err_id"), col("pur_id"),
              (col("pur_us") - col("err_us")).as("gap_us"))
      .orderBy("err_id", "pur_id")
  }

  /** q217 — LEFT-OUTER interval join, batch form: q214's semantics
    * with UNMATCHED errors surfacing as null-purchase rows — the "did
    * this error convert, or not" attribution table. Null handling
    * across engines: both sides surface genuine SQL NULLs
    * and the driver compare treats them positionally after its own
    * sort, so no sentinel encoding is needed.
    *
    * Plan: same keyed shuffle as q214 with left-outer semantics; the
    * interval bounds ride the join condition (not a post-filter,
    * which would turn matched-but-out-of-window rows into spurious
    * null rows).
    */
  def q217IntervalJoinOuter(s: SparkSession, dir: String): DataFrame = {
    val HourUs = 3600000000L
    val ev = Tables.events(s, dir)
    val errs = ev.filter(col("event_type") === "error")
      .select(col("user_id"), col("event_id").as("err_id"),
              unix_micros(col("ts")).as("err_us"))
    val purs = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("event_id").as("pur_id"),
              unix_micros(col("ts")).as("pur_us"))
    errs.join(purs,
        col("user_id") === col("p_user") &&
          col("pur_us") >= col("err_us") &&
          col("pur_us") <= col("err_us") + HourUs,
        "left")
      .select(col("user_id"), col("err_id"), col("pur_id"),
              (col("pur_us") - col("err_us")).as("gap_us"))
      .orderBy("err_id", "pur_id")
  }

  /** The dedup APPLY step end-to-end: Jaccard pairs → connected
    * components → per-document kept/dropped flag (one keeper, the min
    * id, per near-dup group; unpaired docs trivially kept). This is the
    * operator a pipeline actually runs to EMIT the deduplicated corpus —
    * q37 gates the group labels, this gates the final membership.
    */
  def q54DedupApply(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val pairs = Dedup
      .jaccardPairs(docs, "doc_id", "text", n = 3, num = 1, den = 2)
      .select(col("doc_a"), col("doc_b"))
    Dedup.applyDedup(docs.select("doc_id"), "doc_id", pairs)
      .select(col("doc_id"), col("kept"))
      .orderBy("doc_id")
  }

  /** q165 — quality-aware keeper election ([[Dedup.electKeepers]]):
    * q54's dedup decision upgraded from "min id survives" to "the
    * highest-WORD-COUNT copy survives, ties to the smallest id" — the
    * which-crawl-do-we-train-on decision, emitted as the full
    * auditable table (doc, component, elected keeper, kept). Same
    * Jaccard-1/2 components as q54, so the two queries' keeper
    * choices are directly comparable in the output.
    */
  def q165KeeperElection(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val pairs = Dedup
      .jaccardPairs(docs, "doc_id", "text", n = 3, num = 1, den = 2)
      .select(col("doc_a"), col("doc_b"))
    Dedup.electKeepers(
        docs.select(col("doc_id"),
                    size(split(col("text"), " ")).as("n_words")),
        "doc_id", "n_words", pairs)
      .orderBy("doc_id")
  }

  /** As-of join: each event picks the latest order date ≤ its timestamp
    * for the same key — via the union-and-carry-forward window plan (one
    * shuffle on the key, no per-row subquery). See [[TemporalOps.asofJoin]].
    */
  def q38AsofJoin(s: SparkSession, dir: String): DataFrame = {
    val events = Tables.events(s, dir)
      .select(col("event_id"), col("user_id"), col("ts"))
    val orders = Tables.orders(s, dir)
      .select(col("o_custkey").as("user_id"), col("o_orderdate"))
    TemporalOps.asofJoin(
        events, orders,
        key = "user_id", eventTime = "ts", rightTime = "o_orderdate")
      .withColumn("asof_date", col("o_orderdate").cast("date"))
      .select("event_id", "user_id", "asof_date")
      .orderBy("event_id")
  }

  /** Keyless RANGE join via bucket decomposition: purchases landing
    * inside the 1-hour window after each error event. There is no equi
    * key — Spark would plan the raw BETWEEN predicate as a nested-loop
    * cross product; [[TemporalOps.rangeJoin]] quantizes the time axis
    * into 1-hour cells so it becomes an ordinary hash join (see the
    * operator's scaladoc for the cost model). Integer-microsecond axis →
    * the oracle reproduces window membership exactly.
    */
  def q55RangeJoin(s: SparkSession, dir: String): DataFrame = {
    val events = Tables.events(s, dir)
    val HourUs = 3600000000L
    val err = events.filter(col("event_type") === "error")
      .select(col("event_id").as("err_id"),
              unix_micros(col("ts")).as("s"))
      .withColumn("e", col("s") + HourUs)
    val pur = events.filter(col("event_type") === "purchase")
      .select(unix_micros(col("ts")).as("p"), col("value"))
    TemporalOps.rangeJoin(pur, "p", err, "s", "e", bucketWidth = HourUs)
      .groupBy(col("err_id"))
      .agg(count(lit(1)).as("n_purchases"),
           sum(floor(col("value") * 100).cast("long")).as("sum_value_e2"))
      .orderBy("err_id")
  }

  /** Skew-salted join: identical result set to the plain equi-join, but
    * each (hot) key's rows fan out across 8 reducers. Aggregates use
    * floor-scaled integers so the oracle compare is exact.
    */
  def q39SaltedJoin(s: SparkSession, dir: String): DataFrame = {
    val events = Tables.events(s, dir).select(col("user_id"), col("value"))
    val cust = Tables.customer(s, dir)
      .select(col("c_custkey").as("user_id"), col("c_mktsegment"))
    SkewOps.saltedJoin(events, cust, Seq("user_id"), salts = 8)
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n"),
           sum(floor(col("value") * 100).cast("long")).as("sum_value_e2"))
      .orderBy("c_mktsegment")
  }

  /** Sketch surface: HLL++ distinct counts and quantile sketches per key,
    * ORACLE-GATED via the q45 envelope pattern: approximate values can't
    * hash-match another engine, but a deterministic accuracy contract can.
    * Each flag asserts the approx statistic falls inside an exact band the
    * oracle can claim TRUE for — approx p50 within the exact p45–p55 value
    * band and approx p95 within p93–p97 (approx_percentile's rank error
    * is ≤ n/accuracy = 0.1% of rows, 10–50× tighter than the ±5%-rank
    * bands), approx distinct within ±5% of exact (≈3σ for HLL++, as q45).
    * An out-of-bound sketch therefore fails the driver's hash compare —
    * the accuracy contract is driver-checked, not just spec-checked. One
    * sketch pass; exact percentile bands cost a second sort-based agg,
    * which is the price of the gate, not of the operator.
    *
    * Expected flake rate (the gate hard-asserts a probabilistic bound):
    * both sketches are DETERMINISTIC for a fixed dataset — HLL++ hashes
    * values with a fixed seed and approx_percentile's GK summary depends
    * only on merge order, which Spark makes deterministic per plan — so
    * on the driver's fixed sf0.01/sf0.1 inputs the flags are a constant
    * TRUE (observed across every round), not a per-run coin flip. The
    * probabilistic reading applies across DATASETS: ~3.3σ puts the
    * per-dataset chance of an out-of-band HLL estimate near 1e-3, so a
    * red q40 on new data means "this dataset is a tail draw or the
    * operator regressed" — re-check the band arithmetic before blaming
    * the sketch (ADVICE r4).
    */
  def q40Sketches(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(col("event_type"))
      // rsd 0.015 (not the 0.05 default): the ±5% band is then ≈3.3σ —
      // the default would make the band a coin-flip ~1σ at scale
      .agg(approx_count_distinct(col("user_id"), 0.015).as("au"),
           countDistinct(col("user_id")).as("eu"),
           expr("approx_percentile(value, array(0.5, 0.95), 1000)")
             .as("pcts"),
           expr("percentile(value, array(0.45, 0.55, 0.93, 0.97))")
             .as("bands"),
           count(lit(1)).as("n"))
      .select(col("event_type"), col("n"),
              element_at(col("pcts"), 1)
                .between(element_at(col("bands"), 1),
                         element_at(col("bands"), 2))
                .as("p50_within_bound"),
              element_at(col("pcts"), 2)
                .between(element_at(col("bands"), 3),
                         element_at(col("bands"), 4))
                .as("p95_within_bound"),
              (abs(col("au") - col("eu")) * 20 <= col("eu"))
                .as("users_within_bound"))
      .orderBy("event_type")

  /** A11's hard shape, oracle-gated: rolling window over SPARSE dates with
    * a generated date-dim scaffold so zero-activity days carry explicit
    * zeros (a row frame over the sparse series would silently widen the
    * window — SURVEY.md §7.4). Uses a 7-day range frame over epoch-days.
    */
  def q41ScaffoldRolling(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.orders(s, dir)
      .filter(col("o_orderpriority") === "1-URGENT" &&
              col("o_orderstatus") === "P")
      .groupBy(to_date(col("o_orderdate")).as("d"))
      .agg(count(lit(1)).as("n"))
    val dim = graft.semantic.DateDim.spanning(s, daily, "d")
      .select(col("date").as("d"))
    val dense = dim.join(daily, Seq("d"), "left")
      .select(col("d"), coalesce(col("n"), lit(0L)).as("n"))
    val w = Window
      .orderBy(datediff(col("d"), lit("1970-01-01")))
      .rangeBetween(-6, 0)
    dense
      .withColumn("rolling_n", sum(col("n")).over(w))
      .orderBy("d")
  }

  /** Pivot (the BI matrix/pivot visual family): status categories become
    * columns with an EXPLICIT value list — at scale never use implicit
    * pivot (it runs a distinct scan to discover values and caps at
    * `spark.sql.pivotMaxValues`); a declared list keeps the plan a single
    * pass. Nulls (absent combos) are zero-filled to match SUM(CASE)
    * semantics.
    */
  def q42Pivot(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .groupBy(col("o_orderpriority"))
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(count(lit(1)))
      .select(col("o_orderpriority"),
              coalesce(col("F"), lit(0L)).as("f_cnt"),
              coalesce(col("O"), lit(0L)).as("o_cnt"),
              coalesce(col("P"), lit(0L)).as("p_cnt"))
      .orderBy("o_orderpriority")

  /** Unpivot: melt the pivoted matrix back to long form via `stack` —
    * zero-shuffle (a generator over the aggregated rows).
    */
  def q43Unpivot(s: SparkSession, dir: String): DataFrame =
    q42Pivot(s, dir)
      .select(col("o_orderpriority"),
        expr("stack(3, 'F', f_cnt, 'O', o_cnt, 'P', p_cnt) AS (status, cnt)"))
      .orderBy("o_orderpriority", "status")

  /** CDC-style compaction: keep each key's LATEST record (ts desc, id as
    * the deterministic tie-break) — the upsert-view pattern over an
    * append-only log. A single `max_by` hash-aggregate with partial
    * (map-side) combine: structs compare lexicographically, so
    * `max_by(payload, struct(ts, event_id))` picks exactly the row a
    * `row_number` window ordered by (ts desc, event_id desc) would — but
    * without materializing and sorting every key's history, which is the
    * difference between O(n) and O(n log n) per key on a 100 TB log.
    */
  /** q102 — the analytic-window surface in one gated query: per-customer
    * order sequencing with `row_number`/`lag`/`lead`/`ntile`/
    * `first_value`/`last_value` (full-partition frame for last_value —
    * the default growing frame is the classic silent-wrong-answer).
    * Per-KEY windows only (customers are bounded) — one shuffle by
    * custkey shared by both window specs; never a global-order window.
    * Day gaps are integer datediffs; all orderings are made total with
    * the orderkey tiebreak so every engine agrees on ties.
    */
  def q102WindowSuite(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    val wFull = w.rowsBetween(Window.unboundedPreceding,
                              Window.unboundedFollowing)
    val wPrice = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice"), col("o_orderkey"))
    Tables.orders(s, dir)
      .filter(pmod(col("o_custkey"), lit(20L)) === 7)
      .select(col("o_custkey"), col("o_orderkey"),
        row_number().over(w).cast("long").as("seq"),
        datediff(col("o_orderdate").cast("date"),
                 lag(col("o_orderdate"), 1).over(w).cast("date"))
          .cast("long").as("gap_days"),
        lead(col("o_orderkey"), 1).over(w).as("next_order"),
        ntile(4).over(wPrice).cast("long").as("price_quartile"),
        first(col("o_orderkey")).over(w).as("first_order"),
        last(col("o_orderkey")).over(wFull).as("last_order"))
      .orderBy(col("o_custkey"), col("seq"))
  }

  /** q103 — EXACT distributed grouped median by rank selection: emit
    * `median2` = the sum of the two middle order statistics (2×median —
    * kept integral so no engine-rounded average is compared; odd groups
    * weight the single middle row twice). One shuffle, per-GROUP window
    * sort (groups are bounded categories here). At 100 TB with huge
    * groups you'd reach for the q40 quantile sketches; this is the exact
    * gate those sketches are validated against.
    */
  def q103ExactMedian(s: SparkSession, dir: String): DataFrame = {
    val byFlag = Window.partitionBy(col("l_returnflag"))
    val r = Tables.lineitem(s, dir)
      .select(col("l_returnflag"), col("l_quantity").cast("long").as("qty"))
      .withColumn("rn", row_number().over(byFlag.orderBy(col("qty")))
        .cast("long"))
      .withColumn("n", count(lit(1)).over(byFlag))
      .withColumn("w", // floor-div: Spark `/` on longs is double division
        when(col("rn") === floor((col("n") + 1) / lit(2L)).cast("long"), 1L)
          .otherwise(0L) +
        when(col("rn") === floor(col("n") / lit(2L)).cast("long") + 1L, 1L)
          .otherwise(0L))
    r.filter(col("w") > 0)
      .groupBy(col("l_returnflag"))
      .agg(max(col("n")).as("n_rows"),
           sum(col("qty") * col("w")).as("median2"))
      .orderBy(col("l_returnflag"))
  }

  /** Shared q105/q106 oracle fragment mirroring [[sessionIntervals]],
    * ending at CTE `iv(user_id, session_id, s, e)`.
    */
  private val sessionIvCte: String =
    """e AS (SELECT user_id, epoch_us(ts) AS us, event_id FROM events
      |      WHERE user_id % 10 = 1),
      |s AS (SELECT user_id, us,
      |    CASE WHEN us - lag(us) OVER w > 14400000000
      |         OR lag(us) OVER w IS NULL
      |    THEN 1 ELSE 0 END AS new_s
      |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
      |s2 AS (SELECT user_id, us, SUM(new_s) OVER (PARTITION BY user_id
      |    ORDER BY us ROWS UNBOUNDED PRECEDING) AS session_id FROM s),
      |iv AS (SELECT user_id, session_id, MIN(us) AS s, MAX(us) AS e
      |       FROM s2 GROUP BY 1, 2)""".stripMargin

  /** Shared q105/q106 input: 4-hour-gap sessions (user_id ≡ 1 mod 10)
    * as [start_us, end_us] intervals — one window per user + one
    * (user, session) aggregate, both on the same user shuffle.
    */
  private def sessionIntervals(s: SparkSession, dir: String): DataFrame =
    TemporalOps.sessionize(
        Tables.events(s, dir)
          .filter(pmod(col("user_id"), lit(10L)) === 1)
          .select(col("user_id"), col("ts"), col("event_id")),
        "user_id", "ts", Seq("event_id"), gapUs = 14400000000L)
      .withColumn("us", unix_micros(col("ts")))
      .groupBy(col("user_id"), col("session_id"))
      .agg(min(col("us")).as("s"), max(col("us")).as("e"))

  /** q105 — concurrent-session pairs: which users were online at the
    * same time, via [[TemporalOps.intervalOverlapJoin]] (interval ×
    * interval, bucket-decomposed to a hash equi-join on 6-hour cells;
    * each pair emitted once in its first common cell — no distinct).
    */
  def q105SessionOverlap(s: SparkSession, dir: String): DataFrame = {
    val iv = sessionIntervals(s, dir)
    val a = iv.select(col("user_id").as("user_a"),
                      col("s").as("sa"), col("e").as("ea"))
    val b = iv.select(col("user_id").as("user_b"),
                      col("s").as("sb"), col("e").as("eb"))
    TemporalOps.intervalOverlapJoin(a, "sa", "ea", b, "sb", "eb",
                                    bucketWidth = 21600000000L)
      .filter(col("user_a") < col("user_b"))
      .groupBy(col("user_a"), col("user_b"))
      .agg(count(lit(1)).as("n_overlaps"))
      .orderBy(col("user_a"), col("user_b"))
  }

  /** q106 — peak concurrency by sweep line: +1 at session start, −1 at
    * end+1 (half-open encoding keeps inclusive-overlap semantics),
    * deltas pre-aggregated per instant (so within-instant order cannot
    * matter), running-summed via [[graft.operators.PrefixSum]] — the
    * global-order scan WITHOUT a single-partition window — then one max
    * + first-attainment lookup.
    */
  def q106PeakConcurrency(s: SparkSession, dir: String): DataFrame = {
    val iv = sessionIntervals(s, dir)
    val deltas = iv.select(col("s").as("us"), lit(1L).as("net"))
      .unionAll(iv.select((col("e") + 1).as("us"), lit(-1L).as("net")))
      .groupBy(col("us")).agg(sum(col("net")).as("net"))
    val curve = graft.operators.PrefixSum
      .runningTotal(deltas, "net", Seq("us"), cumCol = "conc")
    val peak = curve.agg(max(col("conc")).as("peak"))
    curve.join(broadcast(peak), col("conc") === col("peak"))
      .agg(max(col("conc")).as("peak"), min(col("us")).as("at_us"))
  }

  /** q108 — grouped top-k WITHOUT a window: the [[graft.functions
    * .TopKByValue]] typed Aggregator holds ≤k rows of state per group
    * and merges MAP-SIDE, so each input partition ships at most k rows
    * per group through the shuffle — vs a `row_number` window (full
    * per-group sort, every row crosses the wire) or `collect_list`
    * (unbounded state). Top-3 events per user by (value desc, event_id).
    */
  def q108TopkPerGroup(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(col("user_id"))
      .agg(graft.functions.TopKAgg.topKByValue(3)(
        col("value"), col("event_id")).as("top"))
      .select(col("user_id"), posexplode(col("top")))
      .select(col("user_id"), (col("pos") + 1).cast("long").as("rk"),
              col("col._2").as("event_id"), col("col._1").as("value"))
      .orderBy(col("user_id"), col("rk"))

  /** q109 — CUBE over (priority, status) with a grouping id: all four
    * grouping sets from ONE pass (Spark plans cube as an Expand +
    * hash aggregate — partials still combine map-side); `grouping_id`
    * disambiguates the NULL-as-total rows from genuine NULLs.
    */
  def q109Cube(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .cube(col("o_orderpriority"), col("o_orderstatus"))
      .agg(grouping_id().cast("long").as("gid"),
           count(lit(1)).as("n"),
           sum(col("o_totalprice").cast(DecimalType(18, 2)))
             .cast("double").as("revenue"))
      .select(coalesce(col("o_orderpriority"), lit("(all)")).as("pri"),
              coalesce(col("o_orderstatus"), lit("(all)")).as("status"),
              col("gid"), col("n"), col("revenue"))
      .orderBy(col("gid"), col("pri"), col("status"))

  /** q110 — conversion funnel view → click → purchase, each stage
    * within 24h of the previous ([[graft.operators.Funnel.depths]]):
    * one key shuffle, chained running conditional minima, per-user
    * depth, then the depth histogram.
    */
  def q110Funnel(s: SparkSession, dir: String): DataFrame =
    graft.operators.Funnel.depths(
        Tables.events(s, dir)
          .select(col("user_id"), unix_micros(col("ts")).as("us"),
                  col("event_id"), col("event_type")),
        "user_id", "us", "event_type", "event_id",
        Seq("view", "click", "purchase"), windowUs = 86400000000L)
      .groupBy(col("depth"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy(col("depth"))

  /** q111 — cohort retention matrix: cohort = a user's first active
    * week (over a sparsified activity stream so cohorts actually
    * differ), age = weeks since; counts of active users per (cohort,
    * age). Week arithmetic is explicit floor(days/7) — never an
    * engine's week-boundary function (ISO vs anchored semantics
    * differ). Two hash aggs + one key join, all on user_id.
    */
  def q111CohortRetention(s: SparkSession, dir: String): DataFrame = {
    val active = Tables.events(s, dir)
      .filter(pmod(col("event_id"), lit(7L)) === 0)
      .select(col("user_id"),
        floor(datediff(col("ts").cast("date"), lit("2024-01-01").cast("date"))
          / lit(7)).cast("long").as("wk"))
      .distinct()
    val cohort = active.groupBy(col("user_id"))
      .agg(min(col("wk")).as("cohort"))
    active.join(cohort, Seq("user_id"))
      .groupBy(col("cohort"), (col("wk") - col("cohort")).as("age"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy(col("cohort"), col("age"))
  }

  /** q112 — SCD Type-2 history build: collapse a per-key event stream to
    * CHANGE rows only (drop consecutive duplicates via lag), then stitch
    * validity ranges with lead — `valid_to` = next change − 1, open
    * (null) on the current row. The warehouse dimension-versioning
    * pattern: two window passes on ONE key shuffle, no self-join.
    */
  def q112Scd2(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("us"), col("event_id"))
    val wv = Window.partitionBy(col("user_id")).orderBy(col("valid_from"))
    Tables.events(s, dir)
      .filter(pmod(col("user_id"), lit(20L)) === 3)
      .select(col("user_id"), unix_micros(col("ts")).as("us"),
              col("event_id"), col("event_type"))
      .withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .filter(col("prev_type").isNull ||
              col("prev_type") =!= col("event_type"))
      .select(col("user_id"), col("us").as("valid_from"), col("event_type"))
      .withColumn("valid_to", lead(col("valid_from"), 1).over(wv) - 1)
      .select(col("user_id"), col("event_type"), col("valid_from"),
              col("valid_to"), col("valid_to").isNull.as("is_current"))
      .orderBy(col("user_id"), col("valid_from"))
  }

  /** q113 — Spark's NATIVE `session_window` (the declarative gap-session
    * operator, batch form of the streaming session window), gated
    * against an explicit lag/running-sum re-derivation. Boundary
    * semantics pinned by the oracle: an event exactly `gap` after its
    * predecessor starts a NEW session (event_time < session_end is
    * strict), i.e. `>=` in the re-derivation — one semantics drift and
    * the hash breaks.
    */
  def q113SessionWindow(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .filter(pmod(col("user_id"), lit(10L)) === 1)
      .groupBy(col("user_id"), session_window(col("ts"), "4 hours").as("w"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), unix_micros(col("w.start")).as("w_start"),
              unix_micros(col("w.end")).as("w_end"), col("n_events"))
      .orderBy(col("user_id"), col("w_start"))

  /** q114 — gaps-and-islands: maximal runs of CONSECUTIVE active days
    * per user via the rn-diff trick (`day − row_number` is constant
    * exactly within an island — turns run detection into a plain
    * groupBy, no iterative logic); per-user streak stats. One key
    * shuffle: the window and both aggregates share it.
    */
  def q114Islands(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
    val days = Tables.events(s, dir)
      .filter(pmod(col("event_id"), lit(5L)) === 0)
      .select(col("user_id"),
        datediff(col("ts").cast("date"), lit("2024-01-01").cast("date"))
          .cast("long").as("day"))
      .distinct()
    days
      .withColumn("grp", col("day") - row_number().over(w))
      .groupBy(col("user_id"), col("grp"))
      .agg(count(lit(1)).as("len"), min(col("day")).as("start_day"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_islands"), max(col("len")).as("longest"),
           min(col("start_day")).as("first_day"))
      .orderBy(col("user_id"))
  }

  /** q115 — right-to-be-forgotten sweep audit: anti-join the fact
    * against the forget list and account for every row (before / after /
    * removed must reconcile — the compliance report). The sweep itself
    * is ONE anti-join (broadcast — forget lists are human-scale);
    * counts are control-plane aggregates.
    */
  def q115ForgetSweep(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val forget = ev.filter(pmod(col("user_id"), lit(13L)) === 5)
      .select(col("user_id")).distinct()
    val kept = ev.join(broadcast(forget), Seq("user_id"), "left_anti")
    val nF = forget.count()
    val nB = ev.count()
    val nA = kept.count()
    import s.implicits._
    Seq((nF, nB, nA, nB - nA))
      .toDF("n_forgotten_users", "rows_before", "rows_after", "rows_removed")
  }

  /** q116 — semi-structured extraction: parse the JSON `props` column
    * with a SCHEMA'd `from_json` (one parse per row, columnar struct
    * output, codegen'd field access — vs `get_json_object`, which
    * re-parses the string per extracted field) and aggregate the
    * extracted field. The "JSON column in a fact table" surface.
    */
  def q116JsonExtract(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .select(col("event_type"),
        from_json(col("props"),
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("k",
              org.apache.spark.sql.types.LongType))))
          .getField("k").as("k"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"),
           min(col("k")).as("min_k"), max(col("k")).as("max_k"),
           countDistinct(col("k")).as("n_k"))
      .orderBy(col("event_type"))

  /** q117 — array higher-order-function surface in one gated query:
    * `filter` / `transform` / `aggregate` (via size+sums) over the
    * embedding arrays, floor-scaled to integers AFTER an explicit
    * float→double cast on BOTH engines (float-vs-double arithmetic
    * floors differently at boundaries — the cast makes the doubles, and
    * therefore the floors, bit-identical).
    */
  def q117HofSuite(s: SparkSession, dir: String): DataFrame = {
    def d(x: org.apache.spark.sql.Column) = x.cast("double")
    Tables.embeddings(s, dir)
      .filter(pmod(col("vec_id"), lit(25L)) === 0)
      .select(col("vec_id"),
        size(filter(col("embedding"), x => x > lit(0f))).cast("long")
          .as("n_pos"),
        aggregate(transform(col("embedding"),
            x => floor(d(x) * 1000).cast("long")),
          lit(0L), (acc, x) => acc + x).as("sum_e3"),
        aggregate(transform(col("embedding"),
            x => floor(d(x) * d(x) * 1000).cast("long")),
          lit(0L), (acc, x) => acc + x).as("sumsq_e3"))
      .orderBy(col("vec_id"))
  }

  /** q118 — time-weighted totals (the OLAP "state held until the next
    * reading" aggregate): each event's value is weighted by the
    * microseconds until the user's next event (lead), last events drop
    * (no closing reading). Value quantized to cents by floor BEFORE
    * weighting so the product stays integral.
    */
  def q118TimeWeighted(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("us"), col("event_id"))
    Tables.events(s, dir)
      .filter(pmod(col("user_id"), lit(25L)) === 2)
      .select(col("user_id"), unix_micros(col("ts")).as("us"),
              col("event_id"), col("value"))
      .withColumn("dt", lead(col("us"), 1).over(w) - col("us"))
      .filter(col("dt").isNotNull)
      .groupBy(col("user_id"))
      .agg(sum(col("dt")).as("total_dt"),
           sum(floor(col("value") * 100).cast("long") * col("dt"))
             .as("weighted_v2"))
      .orderBy(col("user_id"))
  }

  /** q119 — ratio-to-report: each priority's share of its status group
    * in ppm, computed with INTEGER division (`div`) — a double quotient
    * could floor differently at exact boundaries. The share window
    * reuses the aggregate's status partitioning.
    */
  def q119RatioToReport(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .groupBy(col("o_orderstatus").as("status"),
               col("o_orderpriority").as("pri"))
      .agg(count(lit(1)).as("n"))
      .withColumn("share_ppm",
        expr("n * 1000000L div sum(n) OVER (PARTITION BY status)")
          .cast("long"))
      .orderBy(col("status"), col("pri"))

  /** q120 — the remaining set-operation surface (q12 gates
    * union-distinct): INTERSECT and both EXCEPT directions between two
    * derived key sets. Spark plans these as left-semi / left-anti
    * aggregates — no full materialization of either set.
    */
  def q120SetOps2(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
    val hi = o.filter(col("o_totalprice") > 300000)
      .select(col("o_custkey").as("k")).distinct()
    val urgent = o.filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_custkey").as("k")).distinct()
    import s.implicits._
    def tag(t: String, df: DataFrame) =
      Seq(t).toDF("tag").crossJoin(df.agg(count(lit(1)).as("n")))
    tag("both", hi.intersect(urgent))
      .unionAll(tag("hi_only", hi.except(urgent)))
      .unionAll(tag("urgent_only", urgent.except(hi)))
      .orderBy(col("tag"))
  }

  /** q121 — exact per-group MODE (most frequent value, deterministic
    * lexicographic tie-break): counts then one rank — the two-level
    * aggregate form; Spark's `mode()` builtin is tie-nondeterministic,
    * so the explicit form is the oracle-able one.
    */
  def q121Mode(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("n").desc, col("event_type"))
    Tables.events(s, dir)
      .groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("user_id"), col("event_type").as("mode_type"),
              col("n").as("mode_n"))
      .orderBy(col("user_id"))
  }

  /** q122 — rolling 7-day distinct users per day (WAU): Spark has no
    * DISTINCT window aggregate, and the day-spine range join the SQL
    * form implies is a theta join — so the Spark side EXPLODES each
    * (day, user) activity row into the 7 report days it contributes to
    * (pure map-side, one hash-agg shuffle, no join beyond a tiny spine
    * semi-join), the standard trick for windowed distincts. The oracle
    * states the straightforward BETWEEN-join form — two very different
    * plans, one hash.
    */
  def q122RollingWau(s: SparkSession, dir: String): DataFrame = {
    val a = Tables.events(s, dir)
      .filter(pmod(col("event_id"), lit(11L)) === 0)
      .select(
        datediff(col("ts").cast("date"), lit("2024-01-01").cast("date"))
          .cast("long").as("day"),
        col("user_id"))
      .distinct()
    val spine = a.select(col("day")).distinct()
    a.select(explode(sequence(col("day"), col("day") + 6)).as("rday"),
             col("user_id"))
      .join(spine.select(col("day").as("rday")), Seq("rday"), "left_semi")
      .groupBy(col("rday"))
      .agg(countDistinct(col("user_id")).as("wau"))
      .select(col("rday").as("day"), col("wau"))
      .orderBy(col("day"))
  }

  /** q123 — per-bucket table checksums (the replication-diff / anti-
    * entropy primitive): rows hash to 16 buckets by key, each bucket
    * reports a count and an order-independent SUM of 48-bit row
    * digests. Two replicas compare 16 rows to localize drift instead of
    * comparing tables. Sum-of-digests is commutative so partitioning
    * and arrival order cannot matter; 48-bit terms keep the long sum
    * overflow-safe past 10¹⁴ rows per bucket.
    */
  def q123TableChecksum(s: SparkSession, dir: String): DataFrame = {
    def h(c: org.apache.spark.sql.Column, hexDigits: Int) =
      conv(substring(md5(c), 1, hexDigits), 16, 10).cast("long")
    val li = Tables.lineitem(s, dir)
    val repr = concat_ws("|",
      col("l_orderkey").cast("string"), col("l_linenumber").cast("string"),
      col("l_partkey").cast("string"),
      col("l_quantity").cast("long").cast("string"))
    li.select(
        pmod(h((col("l_orderkey") * 10 + col("l_linenumber"))
          .cast("string"), 4), lit(16L)).as("bucket"),
        h(repr, 12).as("rh"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_rows"), sum(col("rh")).as("checksum"))
      .orderBy(col("bucket"))
  }

  /** q124 — exact WEIGHTED median (order statistics under weights —
    * quantity-weighted price): running weight sum per group, first row
    * where 2·cumw ≥ total. The output (the crossing value and the
    * total) is deterministic even under (value, weight) ties: the
    * crossing VALUE is fixed by the primary value order, and identical
    * rows are interchangeable in the running sum.
    */
  def q124WeightedMedian(s: SparkSession, dir: String): DataFrame = {
    val byFlag = Window.partitionBy(col("flag"))
    val b = Tables.lineitem(s, dir).select(
      col("l_returnflag").as("flag"),
      floor(col("l_extendedprice") * 100).cast("long").as("price2"),
      col("l_quantity").cast("long").as("wt"))
    val r = b
      .withColumn("cumw", sum(col("wt")).over(
        byFlag.orderBy(col("price2"), col("wt"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("totw", sum(col("wt")).over(byFlag))
      .filter(lit(2L) * col("cumw") >= col("totw"))
      .withColumn("rk", row_number().over(byFlag.orderBy(col("cumw"))))
      .filter(col("rk") === 1)
    r.select(col("flag"), col("price2").as("wmedian2"),
             col("totw").as("total_weight"))
      .orderBy(col("flag"))
  }

  /** q125 — event-transition matrix (the Markov-chain summary of a
    * per-key event stream): lag per key, count (prev, next) pairs. One
    * key shuffle; the matrix is |types|² rows.
    */
  def q125Transitions(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("us"), col("event_id"))
    Tables.events(s, dir)
      .select(col("user_id"), col("event_type"),
              unix_micros(col("ts")).as("us"), col("event_id"))
      .withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .filter(col("prev_type").isNotNull)
      .groupBy(col("prev_type"), col("event_type").as("next_type"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("prev_type"), col("next_type"))
  }

  /** q126 — heavy hitters: Misra-Gries candidates (mergeable sketch,
    * guaranteed superset of the θ-heavy items — see
    * [[graft.functions.MisraGries]]) then ONE exact verification pass
    * over candidates only. The verified output is deterministic no
    * matter how partition order shuffles the sketch's extra candidates,
    * so the oracle is simply the exact θ-heavy set. θ = 1/200 of
    * tokens, k = 512 ≥ 1/θ.
    */
  def q126HeavyHitters(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(s, dir)
      .select(explode(TextFunctions.words(col("text"))).as("tok"))
      .filter(length(col("tok")) > 0)
    val total = toks.count()
    val sk = toks
      .agg(graft.functions.MisraGriesAgg.sketch(512)(col("tok")).as("m"))
      .select(explode(map_keys(col("m"))).as("tok"))
    toks.join(broadcast(sk), Seq("tok"), "left_semi")
      .groupBy(col("tok"))
      .agg(count(lit(1)).as("n"))
      .filter(col("n") * 200 >= total)
      .orderBy(col("n").desc, col("tok"))
  }

  /** q127 — 2-D skyline (Pareto frontier: biggest size for the lowest
    * price): collapse to per-x best y (one hash agg), then flag strict
    * running-max steps over x-descending order via
    * [[graft.operators.PrefixSum.runningMaxFlag]] — the distributed
    * prefix scan, never a single-partition window. Price negated so
    * both dimensions maximize; output restores cents.
    */
  def q127Skyline(s: SparkSession, dir: String): DataFrame = {
    val g = Tables.part(s, dir)
      .groupBy(col("p_size").cast("long").as("x"))
      .agg(max(-floor(col("p_retailprice") * 100).cast("long")).as("y"))
      .withColumn("negx", -col("x"))
    graft.operators.PrefixSum
      .runningMaxFlag(g, "y", Seq("negx"))
      .filter(col("is_new_max"))
      .select(col("x"), (-col("y")).as("price2"))
      .orderBy(col("x"))
  }

  /** q128 — deterministic string aggregation (LISTAGG): sorted distinct
    * concatenation per group (`collect_set` is order-nondeterministic —
    * the sort is what makes the column gateable at all).
    */
  def q128Listagg(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .groupBy(col("o_orderstatus").as("status"))
      .agg(
        array_join(array_sort(collect_set(col("o_orderpriority"))), ",")
          .as("priorities"),
        countDistinct(col("o_orderpriority")).as("n_pri"))
      .orderBy(col("status"))

  /** q129 — MapType round-trip: per-user counts packed into a
    * `map<string,bigint>` (`map_from_entries` over sorted entries) and
    * exploded back to rows — the gate proves the map carries the exact
    * relation through pack/unpack, covering the map column surface.
    */
  def q129MapRoundtrip(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .filter(pmod(col("user_id"), lit(30L)) === 4)
      .groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col("user_id"))
      .agg(map_from_entries(
        sort_array(collect_list(struct(col("event_type"), col("n")))))
        .as("m"))
      .select(col("user_id"), explode(col("m")).as(Seq("event_type", "n")))
      .orderBy(col("user_id"), col("event_type"))

  def q44LatestPerKey(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(col("user_id"))
      .agg(max_by(struct(col("event_id"), col("ts"), col("event_type")),
                  struct(col("ts"), col("event_id"))).as("latest"))
      .select(col("user_id"),
              col("latest.event_id").as("latest_event_id"),
              date_trunc("second", col("latest.ts")).as("latest_ts"),
              col("latest.event_type").as("latest_type"))
      .orderBy("user_id")

  /** Mergeable HLL sketches — the 100 TB distinct-count architecture:
    * build small per-(day,key) sketches once, then UNION-merge them to any
    * coarser grain without touching raw data again.
    *
    * Oracle design: the estimate itself cannot hash-match another engine,
    * so the gated surface is the DETERMINISTIC envelope — the sketch
    * count, the exact distinct, and a `within_bound` flag asserting the
    * merged estimate lands within ±5% of exact (≈3σ for HLL++ at the
    * default lgK=12, whose standard error is 1.04/√4096 ≈ 1.6%; at low
    * cardinalities the sparse representation is exact). The oracle claims
    * `TRUE` for every row, so an out-of-bound estimate fails the hash
    * compare — the accuracy contract is driver-checked, not just
    * spec-checked.
    */
  def q45HllMerge(s: SparkSession, dir: String): DataFrame = {
    val events = Tables.events(s, dir)
    val daily = events
      .groupBy(to_date(col("ts")).as("d"), col("event_type"))
      .agg(hll_sketch_agg(col("user_id")).as("sk"))
    val merged = daily
      .groupBy(col("event_type"))
      .agg(hll_sketch_estimate(hll_union_agg(col("sk")))
             .as("approx_users"),
           count(lit(1)).as("n_daily_sketches"))
    val exact = events.groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("exact_users"))
    merged.join(exact, "event_type")
      .select(col("event_type"), col("n_daily_sketches"), col("exact_users"),
              (abs(col("approx_users") - col("exact_users")) * 20 <=
                col("exact_users")).as("within_bound"))
      .orderBy("event_type")
  }

  /** Deterministic stratified sampling — the per-source mixing-ratio
    * knob (upsample purchases to 100%, keep half the views, 10% of
    * clicks, drop the rest), verified by aggregate fingerprints of the
    * surviving rows. Membership is an md5 bucket of the id, so the
    * oracle reproduces it exactly. See [[graft.operators.Sampling]].
    */
  def q53StratifiedSample(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.stratified(
        Tables.events(s, dir), "event_type", "event_id",
        Map("purchase" -> 100, "view" -> 50, "click" -> 10))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
           min(col("event_id")).as("min_id"),
           max(col("event_id")).as("max_id"),
           sum(floor(col("value") * 100).cast("long")).as("sum_value_e2"))
      .orderBy("event_type")

  /** The `spark.sql` entry path with CORRELATED scalar subqueries:
    * parts priced above their type's mean, phrased as
    * `price · count(type) > sum(type)` so every comparison is exact
    * decimal arithmetic (an AVG-based form would compare against an
    * engine-dependent double). Catalyst decorrelates both subqueries into
    * aggregate joins — same physical shape as the hand-built DataFrame
    * version would have.
    */
  def q46SqlCorrelated(s: SparkSession, dir: String): DataFrame = {
    Tables.part(s, dir).createOrReplaceTempView("graft_part")
    s.sql(
      """SELECT p_type, COUNT(*) AS n_above
        |FROM graft_part p1
        |WHERE CAST(p_retailprice AS DECIMAL(18,2)) *
        |      (SELECT COUNT(*) FROM graft_part p2
        |       WHERE p2.p_type = p1.p_type) >
        |      (SELECT SUM(CAST(p_retailprice AS DECIMAL(18,2)))
        |       FROM graft_part p2 WHERE p2.p_type = p1.p_type)
        |GROUP BY p_type ORDER BY p_type""".stripMargin)
  }

  /** q164 — explicit GROUPING SETS (the §2.8 family's third member
    * beside ROLLUP q36 / CUBE q109): an ARBITRARY set list —
    * (priority, status), (priority), (status), () — which neither
    * rollup nor cube expresses (cube emits the extra (status) set but
    * pays for all 2ⁿ; here the sets are chosen). Revenue is
    * decimal-exact (the q36 discipline); `grouping()` flags
    * disambiguate real NULLs from subtotal rows.
    */
  def q164GroupingSets(s: SparkSession, dir: String): DataFrame = {
    Tables.orders(s, dir).createOrReplaceTempView("graft_orders")
    s.sql(
      """SELECT o_orderpriority, o_orderstatus,
        |  CAST(grouping(o_orderpriority) AS INT) AS g_pri,
        |  CAST(grouping(o_orderstatus) AS INT) AS g_st,
        |  COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS revenue
        |FROM graft_orders
        |GROUP BY GROUPING SETS ((o_orderpriority, o_orderstatus),
        |                        (o_orderpriority), (o_orderstatus), ())
        |ORDER BY g_pri, g_st,
        |         o_orderpriority ASC NULLS FIRST,
        |         o_orderstatus ASC NULLS FIRST""".stripMargin)
  }

  /** q168 — per-group OLS trend slope as an EXACT RATIONAL: for each
    * order priority, the least-squares slope of price-cents over
    * epoch-day, emitted as the (numerator, denominator) pair
    * n·Σxy − Σx·Σy / n·Σx² − (Σx)² in DECIMAL(38,0) — no float ever
    * enters, so the regression every dashboard fits is hash-gateable
    * (a float slope sums in shuffle order and is not). Per-row
    * products fit int64 (day ≈ 2·10⁴, cents ≈ 5·10⁷); the sums and
    * the final cross-multiplies live in decimal(38,0), good to 10³⁸.
    * One map-combined aggregate, one shuffle.
    */
  def q168GroupOls(s: SparkSession, dir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val o = Tables.orders(s, dir).select(
      col("o_orderpriority"),
      datediff(to_date(col("o_orderdate")), lit("1970-01-01"))
        .cast("long").as("x"),
      floor(col("o_totalprice") * 100).cast("long").as("y"))
    o.groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).cast(d38).as("n"),
           sum(col("x").cast(d38)).as("sx"),
           sum(col("y").cast(d38)).as("sy"),
           sum((col("x") * col("y")).cast(d38)).as("sxy"),
           sum((col("x") * col("x")).cast(d38)).as("sxx"))
      .select(col("o_orderpriority"),
              col("n").cast("long").as("n_orders"),
              (col("n") * col("sxy") - col("sx") * col("sy"))
                .cast(d38).cast("string").as("slope_num"),
              (col("n") * col("sxx") - col("sx") * col("sx"))
                .cast(d38).cast("string").as("slope_den"))
      .orderBy("o_orderpriority")
  }

  /** q169 — distribution-position window functions in EXACT RATIONALS:
    * percent_rank and cume_dist re-derived from row_number and the
    * partition count under a strict total order (cents, orderkey), as
    * ⌊(rn−1)·1e6/(n−1)⌋ and ⌊rn·1e6/n⌋ — the built-ins return floats
    * and are ungateable; the rational forms carry the same
    * information. Both windows share the one partition exchange.
    * A single-row partition (n = 1) is pinned to pct_rank 0 in BOTH
    * the operator and the oracle — otherwise Spark's div-by-zero
    * yields NULL while DuckDB's `//` raises, a latent engine
    * divergence on degenerate groups (percent_rank's own n=1
    * convention is also 0).
    */
  def q169WindowPositions(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir).select(
      col("o_orderkey"), col("o_orderpriority"),
      floor(col("o_totalprice") * 100).cast("long").as("cents"))
    val w = Window.partitionBy(col("o_orderpriority"))
      .orderBy(col("cents"), col("o_orderkey"))
    val wn = Window.partitionBy(col("o_orderpriority"))
    o.withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("n", count(lit(1)).over(wn))
      .filter(col("o_orderkey") % 37 === 0)
      .select(col("o_orderkey"), col("o_orderpriority"), col("cents"),
              col("rn"),
              when(col("n") === 1L, 0L)
                .otherwise(expr("((rn - 1) * 1000000) div (n - 1)"))
                .as("pct_rank_e6"),
              expr("(rn * 1000000) div n").as("cume_dist_e6"))
      .orderBy("o_orderkey")
  }

  /** q170 — INTERVAL COALESCING (gaps and islands): merge each user's
    * overlapping/adjacent event micro-intervals ([ts, ts+30min]) into
    * maximal covered islands — the coverage complement to q105's
    * overlap pairs and q106's peak concurrency: "how much wall-clock
    * was this user active, in how many stretches". Island boundaries
    * via the classic running-max-of-ends window, island ids via a
    * running sum of boundary flags — BOTH windows and the final
    * per-island aggregate share the user exchange. Exact integer
    * microseconds end to end.
    */
  def q170IntervalIslands(s: SparkSession, dir: String): DataFrame = {
    val HalfHourUs = 1800000000L
    val iv = Tables.events(s, dir).select(
      col("user_id"), col("event_id"),
      unix_micros(col("ts")).as("s"),
      (unix_micros(col("ts")) + HalfHourUs).as("e"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("s"), col("e"), col("event_id"))
    val wPrev = w.rowsBetween(Window.unboundedPreceding, -1)
    val marked = iv
      .withColumn("__maxe", max(col("e")).over(wPrev))
      .withColumn("__new",
        when(col("__maxe").isNull || col("s") > col("__maxe"), 1L)
          .otherwise(0L))
      .withColumn("island",
        sum(col("__new")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    marked.groupBy(col("user_id"), col("island"))
      .agg(min(col("s")).as("island_start_us"),
           max(col("e")).as("island_end_us"),
           count(lit(1)).as("n_events"))
      .withColumn("covered_us",
        col("island_end_us") - col("island_start_us"))
      .filter(col("user_id") % 10 === 3)
      .orderBy("user_id", "island")
  }

  /** q172 — temperature-sharpened source-mixing quotas
    * ([[graft.operators.Sampling.temperatureQuotas]]): a 300-doc
    * budget apportioned across document sources with weights ∝ size²
    * (T = 1/2 — the exact-integer point on the temperature dial) by
    * the largest-remainder method, so Σ quota == budget EXACTLY —
    * the pretraining data-mixing allocation, hash-gated down to every
    * remainder tie.
    */
  def q172TemperatureQuotas(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.temperatureQuotas(
        Tables.documents(s, dir), "source", budget = 300L,
        sharpen = true)
      .orderBy("source")

  /** q173 — rendezvous sharding
    * ([[graft.operators.Partitioning.rendezvousShard]]): every doc to
    * the shard maximizing the portable (key, shard) hash — the stable
    * layout mod-S can't give (removing a shard moves only its own
    * keys; `RendezvousSpec` proves that property). Zero shuffle: the
    * argmax is a per-row fold over the 8-shard axis.
    */
  def q173RendezvousShard(s: SparkSession, dir: String): DataFrame =
    graft.operators.Partitioning.rendezvousShard(
        Tables.documents(s, dir).select(col("doc_id")), "doc_id",
        shards = 8)
      .orderBy("doc_id")

  /** q174 — exact TIME-WEIGHTED average value per user (TWAP / the
    * metering integral): each observation holds its floor-cents value
    * until the next one (the LOCF semantics), so the integral is
    * Σ cents_i · Δus_i via one lead window, carried in decimal(38,0)
    * (µs spans × cents overflow int64) and rendered as an exact
    * string (the q168 bridge discipline); twap_e2 = ⌊integral/span⌋
    * back in int64 cents. Users with one observation have no span and
    * are excluded by definition. ONE user exchange carries the window
    * and the aggregate.
    */
  def q174Twap(s: SparkSession, dir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val obs = Tables.events(s, dir).select(
      col("user_id"), col("event_id"),
      unix_micros(col("ts")).as("us"),
      floor(col("value") * 100).cast("long").as("cents"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("us"), col("event_id"))
    obs.withColumn("__nxt", lead(col("us"), 1).over(w))
      .filter(col("__nxt").isNotNull)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_segments"),
           sum((col("__nxt") - col("us")).cast(d38) *
                 col("cents").cast(d38)).as("__integral"),
           sum((col("__nxt") - col("us")).cast(d38)).as("__span"))
      .select(col("user_id"), col("n_segments"),
              col("__integral").cast(d38).cast("string").as("integral"),
              col("__span").cast("long").as("span_us"),
              expr("__integral div __span").cast("long").as("twap_e2"))
      .orderBy("user_id")
  }

  /** q175 — referential-integrity audit (the dbt-test pack as one
    * query): for each foreign-key edge of the star (orders→customer,
    * lineitem→orders, lineitem→part, lineitem→supplier,
    * customer→nation), the child row count, orphan count (anti-join),
    * and floor-scaled coverage rate — the continuous data-quality
    * check a warehouse runs after every load. Each edge is one
    * anti-join against a (broadcastable) parent keyset; exact
    * integers throughout.
    */
  def q175RiAudit(s: SparkSession, dir: String): DataFrame = {
    def edge(name: String, child: DataFrame, fk: String,
             parent: DataFrame, pk: String): DataFrame = {
      val n = child.agg(count(lit(1)).as("n_rows"))
      val orph = child
        .join(parent.select(col(pk).as(fk)).distinct(),
              Seq(fk), "left_anti")
        .agg(count(lit(1)).as("n_orphans"))
      n.crossJoin(orph)
        .select(lit(name).as("edge"), col("n_rows"), col("n_orphans"),
                expr("((n_rows - n_orphans) * 1000000) div n_rows")
                  .as("coverage_e6"))
    }
    val o = Tables.orders(s, dir); val l = Tables.lineitem(s, dir)
    Seq(
      edge("orders->customer", o, "o_custkey",
           Tables.customer(s, dir), "c_custkey"),
      edge("lineitem->orders", l, "l_orderkey", o, "o_orderkey"),
      edge("lineitem->part", l, "l_partkey",
           Tables.part(s, dir), "p_partkey"),
      edge("lineitem->supplier", l, "l_suppkey",
           Tables.supplier(s, dir), "s_suppkey"),
      edge("customer->nation", Tables.customer(s, dir), "c_nationkey",
           Tables.nation(s, dir), "n_nationkey"))
      .reduce(_ unionByName _)
      .orderBy("edge")
  }

  /** q176 — equi-depth BIN ASSIGNMENT (feature binning): each order
    * lands in its within-priority price quartile via the exact rank
    * rule bin = (4·(rn−1)) div n under the strict (cents, orderkey)
    * order — the discretization step feature pipelines run before
    * crossing or bucketed encoding; per-bin count/min/max audit the
    * cut points. Ranks ride the q169 exchange shape (one window, one
    * aggregate).
    */
  def q176EquiDepthBins(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir).select(
      col("o_orderkey"), col("o_orderpriority"),
      floor(col("o_totalprice") * 100).cast("long").as("cents"))
    val w = Window.partitionBy(col("o_orderpriority"))
      .orderBy(col("cents"), col("o_orderkey"))
    val wn = Window.partitionBy(col("o_orderpriority"))
    o.withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("n", count(lit(1)).over(wn))
      .withColumn("bin", expr("(4 * (rn - 1)) div n"))
      .groupBy(col("o_orderpriority"), col("bin"))
      .agg(count(lit(1)).as("n_orders"),
           min(col("cents")).as("min_cents"),
           max(col("cents")).as("max_cents"))
      .orderBy("o_orderpriority", "bin")
  }

  /** q177 — similarity-graph TRANSITIVITY audit: over the q54
    * Jaccard-1/2 pair set, the fraction of wedges (a~b, b~c) that
    * close (a~c) — the measurement that justifies (or indicts)
    * clustering a THRESHOLD graph with connected components: low
    * closure means CC merges through chains the threshold never
    * endorsed pairwise. One symmetric self-join on the wedge middle +
    * one semi-join against the pair set; exact integers, one summary
    * row.
    */
  def q177TransitivityAudit(s: SparkSession, dir: String): DataFrame = {
    val p = Dedup.jaccardPairs(Tables.documents(s, dir), "doc_id",
                               "text", n = 3, num = 1, den = 2)
      .select(col("doc_a"), col("doc_b"))
      .graftCheckpoint()
    val wedges = p.select(col("doc_a").as("x"), col("doc_b").as("mid"))
      .union(p.select(col("doc_b").as("x"), col("doc_a").as("mid")))
    val wedgePairs = wedges
      .join(wedges.select(col("mid"), col("x").as("y")), Seq("mid"))
      .filter(col("x") < col("y"))
      .select(col("x"), col("y"))
      .graftCheckpoint()
    val nP = p.agg(count(lit(1)).as("n_pairs"))
    val nW = wedgePairs.agg(count(lit(1)).as("n_wedges"))
    val nC = wedgePairs
      .join(p.select(col("doc_a").as("x"), col("doc_b").as("y")),
            Seq("x", "y"), "left_semi")
      .agg(count(lit(1)).as("n_closed"))
    nP.crossJoin(nW).crossJoin(nC)
      .select(col("n_pairs"), col("n_wedges"), col("n_closed"),
              when(col("n_wedges") === 0, 0L)
                .otherwise(expr("(n_closed * 1000000) div n_wedges"))
                .as("closure_e6"))
  }

  /** q225 — DEDUP THRESHOLD SENSITIVITY: the same corpus deduped at
    * the strict (Jaccard ≥ 9/10) and loose (≥ 4/5) cuts, verdicts
    * compared per document — the operational "how much does the knob
    * move my corpus" audit a deployment runs before committing to a
    * threshold (next to q177, which asks whether CC is the right
    * CLUSTERING at one cut, and q204, which calibrates the SKETCH
    * against one cut). One confusion row: doc/pair counts per cut,
    * docs whose verdict flips, and `n_loose_only` — PROVABLY zero
    * under min-id keeper election (the loose pair set is a superset,
    * so loose components contain strict ones and a loose keeper is the
    * min of its strict sub-component too), computed anyway because
    * quality-aware election (q165) and capped pair stages break the
    * proof in real pipelines (the q196 convention).
    *
    * Plan: the shingle/intersection stage is shared (threshold-free)
    * and feeds BOTH cuts — only the cheap threshold filter and the CC
    * rounds run twice; two broadcast 1-row pair counts; one
    * map-combined confusion agg.
    */
  def q225ThresholdSensitivity(s: SparkSession, dir: String)
      : DataFrame = {
    import org.apache.spark.sql.functions.broadcast
    val d = Tables.documents(s, dir)
    val ids = d.select(col("doc_id"))
    // ONE pair stage at the loose cut, with the Jaccard evidence
    // (inter/union) in the output — the strict set is a FILTER over it,
    // never a second shingle self-join
    val loosePairs = graft.operators.Dedup
      .jaccardPairs(d, "doc_id", "text", n = 3, num = 4, den = 5)
      .graftCheckpoint()
    val strictPairs = loosePairs
      .filter(col("inter_cnt") * 10 >= col("union_cnt") * 9)
    def keptAs(pairs: DataFrame, name: String): DataFrame =
      graft.operators.Dedup
        .applyDedup(ids, "doc_id", pairs.select("doc_a", "doc_b"))
        .select(col("doc_id"), col("kept").as(name))
    val strict = keptAs(strictPairs, "kept_strict")
    val loose = keptAs(loosePairs, "kept_loose")
    val nps = strictPairs.agg(count(lit(1)).as("n_pairs_strict"))
    val npl = loosePairs.agg(count(lit(1)).as("n_pairs_loose"))
    strict.join(loose, Seq("doc_id"))
      .agg(count(lit(1)).as("n_docs"),
           sum(when(col("kept_strict"), 1L).otherwise(0L))
             .as("n_kept_strict"),
           sum(when(col("kept_loose"), 1L).otherwise(0L))
             .as("n_kept_loose"),
           sum(when(col("kept_strict") && !col("kept_loose"), 1L)
             .otherwise(0L)).as("n_flipped"),
           sum(when(col("kept_loose") && !col("kept_strict"), 1L)
             .otherwise(0L)).as("n_loose_only"))
      .crossJoin(broadcast(nps))
      .crossJoin(broadcast(npl))
      .select(col("n_docs"), col("n_pairs_strict"), col("n_pairs_loose"),
              col("n_kept_strict"), col("n_kept_loose"),
              col("n_flipped"), col("n_loose_only"))
  }

  /** q178 — corpus-half TOKEN DRIFT (total variation distance, exact
    * rational): the token distributions of the doc_id-even and -odd
    * halves compared as TVD = Σ|c_a·N_b − c_b·N_a| / (2·N_a·N_b),
    * cross-multiplied so no division happens until the final floor —
    * the drift monitor a pipeline points at yesterday-vs-today or
    * source-vs-source before a mixture decision. Numerator carried in
    * decimal(38,0), rendered exact; one full-outer term join.
    */
  def q178TokenDrift(s: SparkSession, dir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val toks = Tables.documents(s, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .filter(length(col("term")) > 0)
    val ca = toks.filter(col("doc_id") % 2 === 0)
      .groupBy("term").agg(count(lit(1)).as("c_a"))
    val cb = toks.filter(col("doc_id") % 2 === 1)
      .groupBy("term").agg(count(lit(1)).as("c_b"))
    val joined = ca.join(cb, Seq("term"), "full_outer")
      .select(coalesce(col("c_a"), lit(0L)).as("c_a"),
              coalesce(col("c_b"), lit(0L)).as("c_b"))
      .graftCheckpoint()
    val tot = joined.agg(sum(col("c_a")).as("n_a"),
                         sum(col("c_b")).as("n_b"))
    joined.crossJoin(broadcast(tot))
      .select(abs(col("c_a").cast(d38) * col("n_b") -
                  col("c_b").cast(d38) * col("n_a")).as("__d"),
              col("n_a"), col("n_b"))
      .groupBy(col("n_a"), col("n_b"))
      .agg(sum(col("__d")).as("__l1"))
      .select(col("n_a").as("n_a_tokens"), col("n_b").as("n_b_tokens"),
              col("__l1").cast(d38).cast("string").as("l1_num"),
              expr("(1000000 * __l1) div (2 * n_a * n_b)")
                .cast("long").as("tvd_e6"))
  }

  /** q179 — NULL-semantics conformance: one query exercising the
    * null rules engines most often disagree on, each hash-gated —
    * nulls from `nullif` participate in (1) grouping (null is a
    * group), (2) count vs count(col) vs count(distinct col), (3)
    * null-safe equality (`<=>` / IS NOT DISTINCT FROM) in a
    * self-join, and (4) aggregate null-skipping (sum/min ignore
    * nulls; sum of all-null is null, surfaced via coalesce(-1)).
    * Clerk 'F' rows get a null status at every SF, so every branch
    * is live.
    */
  def q179NullSemantics(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir).select(
      col("o_orderpriority"),
      nullif(col("o_orderstatus"), lit("F")).as("st"),
      when(col("o_orderstatus") === "F", lit(null).cast("long"))
        .otherwise(floor(col("o_totalprice") * 100).cast("long"))
        .as("cents"))
    val base = o.groupBy(col("o_orderpriority"), col("st"))
      .agg(count(lit(1)).as("n_rows"),
           count(col("st")).as("n_st"),
           countDistinct(col("st")).as("n_distinct_st"),
           coalesce(sum(col("cents")), lit(-1L)).as("sum_cents_nv"))
    val pairs = o.select(col("o_orderpriority").as("p1"), col("st"))
      .groupBy(col("p1"), col("st")).agg(count(lit(1)).as("c1"))
      .join(o.select(col("o_orderpriority").as("p2"),
                     col("st").as("st2"))
              .groupBy(col("p2"), col("st2")).agg(count(lit(1)).as("c2")),
            col("st") <=> col("st2"))
      .groupBy(col("p1"), col("st"))
      .agg(sum(col("c2")).as("nullsafe_partner_rows"))
      .select(col("p1").as("__p"), col("st").as("__s"),
              col("nullsafe_partner_rows"))
    base.join(pairs,
              base("o_orderpriority") === col("__p") &&
                base("st") <=> col("__s"))
      .select(col("o_orderpriority"), col("st"), col("n_rows"),
              col("n_st"), col("n_distinct_st"), col("sum_cents_nv"),
              col("nullsafe_partner_rows"))
      .orderBy(col("o_orderpriority"), col("st").asc_nulls_first)
  }

  /** q180 — vocabulary richness (Chao1 estimator, exact rational):
    * how many token types the corpus has NOT yet shown us —
    * the BIAS-CORRECTED form Chao1 = D + f1·(f1−1)/(2·(f2+1)) from
    * the distinct count D and the singleton/doubleton
    * frequencies-of-frequencies, floor-scaled e2 — defined for every
    * corpus including f2 = 0 (this one: the shared-vocab synthetic
    * corpus has no rare tail, so the estimator says "you've seen it
    * all" — chao1 ≈ D, which is itself the interesting reading). The coverage question every crawl
    * budget decision asks — "is more data buying new vocabulary" —
    * from two hash aggregates.
    */
  def q180Chao1(s: SparkSession, dir: String): DataFrame = {
    val counts = Tables.documents(s, dir)
      .select(explode(split(col("text"), " ")).as("term"))
      .filter(length(col("term")) > 0)
      .groupBy("term").agg(count(lit(1)).as("c"))
    counts.agg(
        count(lit(1)).as("n_types"),
        sum(col("c")).as("n_tokens"),
        sum(when(col("c") === 1, 1L).otherwise(0L)).as("f1"),
        sum(when(col("c") === 2, 1L).otherwise(0L)).as("f2"))
      .select(col("n_types"), col("n_tokens"), col("f1"), col("f2"),
              expr("100 * n_types + (100 * f1 * (f1 - 1)) " +
                   "div (2 * (f2 + 1))").as("chao1_e2"))
  }

  /** q181 — source concentration (Gini coefficient, exact integer
    * expression): who dominates the corpus — G over per-source doc
    * counts via the sorted-rank form
    * G_e6 = (2e6·Σ i·xᵢ) div (n·Σx) − (1e6·(n+1)) div n, every
    * operation a floor on integers so both engines compute the
    * identical value (the float Gini is shuffle-order-dependent).
    * The mixture-health gauge next to q178's drift and q172's
    * quotas. Rank window over |sources| rows — control-plane sized.
    */
  def q181SourceGini(s: SparkSession, dir: String): DataFrame = {
    val sizes = Tables.documents(s, dir)
      .groupBy(col("source")).agg(count(lit(1)).as("x"))
    val w = Window.orderBy(col("x"), col("source"))
    sizes.withColumn("i", row_number().over(w).cast("long"))
      .agg(count(lit(1)).as("n_sources"),
           sum(col("x")).as("n_docs"),
           sum(col("i") * col("x")).as("iwx"))
      .select(col("n_sources"), col("n_docs"),
              expr("(2000000 * iwx) div (n_sources * n_docs) - " +
                   "(1000000 * (n_sources + 1)) div n_sources")
                .as("gini_e6"))
  }

  /** q182 — DEDUP YIELD report: the one-row funnel every pipeline run
    * prints — corpus size, survivors of exact dedup (distinct
    * contents), survivors of Jaccard-1/2 near-dup clustering (q54's
    * keeper rule), and the floor-scaled retention rates. Composes
    * [[Dedup.exactByContent]]'s semantic (distinct md5) with
    * [[Dedup.applyDedup]]; the oracle recomposes the q54 recursive-CC
    * skeleton plus a distinct-content count.
    */
  def q182DedupYield(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val pairs = Dedup
      .jaccardPairs(docs, "doc_id", "text", n = 3, num = 1, den = 2)
      .select(col("doc_a"), col("doc_b"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val nExact = docs.agg(countDistinct(md5(col("text")))
                            .as("n_exact_kept"))
    val nNear = Dedup.applyDedup(docs.select("doc_id"), "doc_id", pairs)
      .filter(col("kept"))
      .agg(count(lit(1)).as("n_neardup_kept"))
    nDocs.crossJoin(nExact).crossJoin(nNear)
      .select(col("n_docs"), col("n_exact_kept"), col("n_neardup_kept"),
              expr("(n_exact_kept * 1000000) div n_docs")
                .as("exact_rate_e6"),
              expr("(n_neardup_kept * 1000000) div n_docs")
                .as("neardup_rate_e6"))
  }

  /** q88 — table profiling (the ANALYZE summary): per-column row/null/
    * exact-distinct counts and native-type min/max over lineitem's
    * integer and flag columns (see [[graft.operators.Profiling]] — one
    * aggregate job; exact multi-column distincts plan as an Expand,
    * the documented web-scale swap is HLL).
    */
  def q88Profile(s: SparkSession, dir: String): DataFrame =
    graft.operators.Profiling.profile(
        Tables.lineitem(s, dir),
        Seq("l_orderkey", "l_suppkey", "l_linenumber",
            "l_returnflag", "l_linestatus"))
      .orderBy("col_name")

  /** q134 — PageRank over the supplier↔customer trade graph
    * ([[GraphOps.pageRank]]): nodes are suppliers and customers, edges
    * both directions of every distinct (supplier, customer) trade
    * relation from lineitem ⋈ orders, 5 iterations, damping 85/100.
    * Exact integer units (see the operator Scaladoc), so the oracle
    * re-runs the identical recurrence as unrolled SQL CTEs and the
    * whole iterative computation is hash-gated — a rank is wrong if a
    * single floor division drifted. Output: the 100 supplier nodes.
    */
  def q134Pagerank(s: SparkSession, dir: String): DataFrame = {
    val rel = Tables.lineitem(s, dir)
      .select(col("l_suppkey"), col("l_orderkey"))
      .join(Tables.orders(s, dir)
              .select(col("o_orderkey"), col("o_custkey")),
            col("l_orderkey") === col("o_orderkey"))
      .select(concat(lit("s"), col("l_suppkey")).as("sup"),
              concat(lit("c"), col("o_custkey")).as("cust"))
      .distinct()
    val edges = rel.select(col("sup").as("src"), col("cust").as("dst"))
      .union(rel.select(col("cust").as("src"), col("sup").as("dst")))
    GraphOps.pageRank(edges, "src", "dst", iterations = 5)
      .filter(col("node").startsWith("s"))
      .orderBy(col("node"))
  }

  /** q140 — WEIGHTED PageRank over the same trade graph: mass flows
    * proportionally to trade intensity (lineitem count per
    * supplier↔customer relation) instead of uniformly per neighbor.
    * Same exact-integer recurrence ([[GraphOps.pageRank]] with
    * `weightCol`), same unrolled-CTE oracle with the weights carried
    * through — a supplier's rank now reflects WHO it trades with and
    * HOW MUCH, the economically meaningful centrality.
    */
  def q140PagerankWeighted(s: SparkSession, dir: String): DataFrame = {
    val rel = Tables.lineitem(s, dir)
      .select(col("l_suppkey"), col("l_orderkey"))
      .join(Tables.orders(s, dir)
              .select(col("o_orderkey"), col("o_custkey")),
            col("l_orderkey") === col("o_orderkey"))
      .groupBy(concat(lit("s"), col("l_suppkey")).as("sup"),
               concat(lit("c"), col("o_custkey")).as("cust"))
      .agg(count(lit(1)).as("w"))
    val edges = rel
      .select(col("sup").as("src"), col("cust").as("dst"), col("w"))
      .union(rel.select(col("cust").as("src"), col("sup").as("dst"),
                        col("w")))
    GraphOps.pageRank(edges, "src", "dst", iterations = 5,
                      weightCol = Some("w"))
      .filter(col("node").startsWith("s"))
      .orderBy(col("node"))
  }

  /** q147 — PERSONALIZED PageRank over the trade graph
    * ([[GraphOps.personalizedPageRank]]): teleport mass restarts at
    * suppliers 1–10 instead of uniformly, so customer ranks measure
    * trade PROXIMITY to that seed set — the similarity-graph triage
    * query (seed the known-bad docs, rank the rest by closeness).
    * Same unrolled-CTE oracle family as q134 with the uniform base
    * replaced by the per-node seed-indicator base; output the top-100
    * customers by rank (ties broken by node — a total order).
    */
  def q147PersonalizedPagerank(s: SparkSession, dir: String): DataFrame = {
    val rel = Tables.lineitem(s, dir)
      .select(col("l_suppkey"), col("l_orderkey"))
      .join(Tables.orders(s, dir)
              .select(col("o_orderkey"), col("o_custkey")),
            col("l_orderkey") === col("o_orderkey"))
      .select(concat(lit("s"), col("l_suppkey")).as("sup"),
              concat(lit("c"), col("o_custkey")).as("cust"))
      .distinct()
    val edges = rel.select(col("sup").as("src"), col("cust").as("dst"))
      .union(rel.select(col("cust").as("src"), col("sup").as("dst")))
    val seeds = rel.select(col("sup").as("node")).distinct()
      .filter(expr("CAST(substring(node, 2, 18) AS BIGINT) <= 10"))
    GraphOps.personalizedPageRank(edges, "src", "dst", seeds, "node",
                                  iterations = 5)
      .filter(col("node").startsWith("c"))
      .orderBy(col("rank_units").desc, col("node"))
      .limit(100)
  }

  /** q156 — k-CORE of the part↔supplier sourcing graph
    * ([[GraphOps.kCore]], k = [[KCoreK]]): peel away thinly-sourced
    * parts/suppliers until everyone left has ≥ k surviving partners —
    * the dense procurement core that stays robust when fringe
    * relations churn (on a dup graph: the dense duplicate families).
    * Peeling runs to its exact fixpoint (maxRounds = [[KCoreRounds]],
    * throws beyond); the oracle unrolls the same number of peel
    * rounds as CTEs — extra rounds past the fixpoint are no-ops, so
    * both sides compute the identical core and per-node core degree.
    */
  def q156KCore(s: SparkSession, dir: String): DataFrame = {
    val rel = Tables.lineitem(s, dir)
      .select(concat(lit("p"), col("l_partkey")).as("u"),
              concat(lit("s"), col("l_suppkey")).as("v"))
      .distinct()
    GraphOps.kCore(rel, "u", "v", k = KCoreK, maxRounds = KCoreRounds)
      .orderBy(col("node"))
  }

  /** q158 — SCD TYPE-2 dimension build ([[TemporalOps.scd2]]): each
    * user's event-type stream collapses to validity intervals — one
    * row per attribute run, half-open [from, to) in exact integer
    * microseconds, the current run open-ended. The standard warehouse
    * history-dimension build (track a customer's segment/tier over
    * time) expressed as ONE keyed shuffle + two same-partition
    * windows; the oracle replays the identical lag/lead arithmetic.
    */
  def q158Scd2(s: SparkSession, dir: String): DataFrame = {
    TemporalOps.scd2(
      Tables.events(s, dir)
        .select(col("user_id"), col("event_type"), col("ts"),
                col("event_id")),
      "user_id", "event_type", "ts", "event_id")
      .orderBy(col("user_id"), col("valid_from_us"))
  }

  /** q161 — batch MERGE INTO ([[IncrementalAgg.applyChangelog]]): the
    * events stream replays as an upsert/delete changelog over the
    * customer snapshot (key = user_id + 1400, so updates, inserts, AND
    * deletes are all live paths at every SF; 'error' events delete,
    * anything else upserts the floor-cents value; latest (ts,
    * event_id) wins). Latest-per-key is ONE map-combined struct-max
    * aggregate — the shuffle carries ~1 row per changed key — then one
    * full-outer join. The oracle replays the same resolution with a
    * DESC row_number.
    */
  def q161ChangelogMerge(s: SparkSession, dir: String): DataFrame = {
    val snap = Tables.customer(s, dir)
      .select(col("c_custkey"), col("c_name"),
              floor(col("c_acctbal") * 100).cast("long").as("bal_e2"))
    val log = Tables.events(s, dir).select(
      (col("user_id") + 1400).as("c_custkey"),
      unix_micros(col("ts")).as("__us"), col("event_id"),
      when(col("event_type") === "error", "D").otherwise("U").as("op"),
      floor(col("value") * 100).cast("long").as("bal_e2"))
    IncrementalAgg.applyChangelog(snap, log, "c_custkey",
        Seq("__us", "event_id"), "op", "D", Seq("bal_e2"))
      .orderBy("c_custkey")
  }

  /** q163 — weighted shortest distances
    * ([[GraphOps.weightedDistances]]): Bellman–Ford over the trade
    * graph with lineitem-count edge weights, seeds = suppliers 1–5,
    * 4 relaxation rounds — q157's blast radius upgraded to COST
    * (cheapest total trade intensity from any seed, over paths of ≤ 4
    * edges). Integer weights, bounded rounds: the oracle unrolls the
    * identical recurrence.
    */
  def q163WeightedPaths(s: SparkSession, dir: String): DataFrame = {
    val rel = Tables.lineitem(s, dir)
      .select(col("l_suppkey"), col("l_orderkey"))
      .join(Tables.orders(s, dir)
              .select(col("o_orderkey"), col("o_custkey")),
            col("l_orderkey") === col("o_orderkey"))
      .groupBy(concat(lit("s"), col("l_suppkey")).as("sup"),
               concat(lit("c"), col("o_custkey")).as("cust"))
      .agg(count(lit(1)).as("w"))
    val edges = rel
      .select(col("sup").as("src"), col("cust").as("dst"), col("w"))
      .union(rel.select(col("cust").as("src"), col("sup").as("dst"),
                        col("w")))
    val seeds = Tables.supplier(s, dir)
      .filter(col("s_suppkey") <= 5)
      .select(concat(lit("s"), col("s_suppkey")).as("node"))
    GraphOps.weightedDistances(edges, "src", "dst", "w", seeds, "node",
                               rounds = 4)
      .orderBy(col("node"))
  }

  /** q162 — daily LOCF resample ([[TemporalOps.locfResampleDaily]]):
    * each sampled user's irregular event-value stream becomes a dense
    * daily series over the user's own span, gaps inheriting the last
    * observed floor-cents value. Last-per-day resolves by (ts,
    * event_id) via the map-combined struct-max; the day axis is a
    * distributed `sequence` explode; the oracle replays it with
    * `generate_series` + `last_value IGNORE NULLS`.
    */
  def q162LocfResample(s: SparkSession, dir: String): DataFrame = {
    TemporalOps.locfResampleDaily(
        Tables.events(s, dir)
          .filter(col("user_id") % 10 === 1)
          .select(col("user_id"), col("ts"), col("event_id"),
                  floor(col("value") * 100).cast("long").as("bal_e2")),
        "user_id", "ts", "event_id", "bal_e2")
      .orderBy("user_id", "day")
  }

  /** q157 — multi-source BFS over the supplier↔customer trade graph
    * ([[GraphOps.bfsHops]]): minimum hop distance from the seed set
    * {suppliers 1–5} within [[BfsMaxHops]] hops — the contamination
    * blast-radius query (seed the known-bad nodes, grade everything
    * by proximity). Hop counts are exact integers and the hop cap is
    * part of the semantics, so the oracle re-runs the identical
    * relaxation as [[BfsMaxHops]] unrolled CTEs — reachability,
    * distance, and frontier membership all hash-gated.
    */
  def q157BfsHops(s: SparkSession, dir: String): DataFrame = {
    val rel = Tables.lineitem(s, dir)
      .select(col("l_suppkey"), col("l_orderkey"))
      .join(Tables.orders(s, dir)
              .select(col("o_orderkey"), col("o_custkey")),
            col("l_orderkey") === col("o_orderkey"))
      .select(concat(lit("s"), col("l_suppkey")).as("sup"),
              concat(lit("c"), col("o_custkey")).as("cust"))
      .distinct()
    val edges = rel.select(col("sup").as("src"), col("cust").as("dst"))
      .union(rel.select(col("cust").as("src"), col("sup").as("dst")))
    val seeds = Tables.supplier(s, dir)
      .filter(col("s_suppkey") <= 5)
      .select(concat(lit("s"), col("s_suppkey")).as("node"))
    GraphOps.bfsHops(edges, "src", "dst", seeds, "node",
                     maxHops = BfsMaxHops)
      .orderBy(col("node"))
  }

  /** q142 — session PATH mining: the top-25 event-type trigrams taken
    * by users WITHIN a session (6h-gap sessionization, the q32 family),
    * deterministic (count desc, path) cut — the "what do people
    * actually do" query behind funnel design: funnels (q110) test
    * hypothesized paths, this one discovers them. One user shuffle
    * carries sessionize AND both leads (same window partition), then a
    * map-combined trigram count and a bounded top-k heap.
    */
  def q142SessionPaths(s: SparkSession, dir: String): DataFrame = {
    val sess = TemporalOps.sessionize(
      Tables.events(s, dir)
        .select(col("user_id"), col("ts"), col("event_id"),
                col("event_type")),
      "user_id", "ts", Seq("event_id"), gapUs = SessionGapUs)
    val w = Window.partitionBy(col("user_id"), col("session_id"))
      .orderBy(unix_micros(col("ts")), col("event_id"))
    sess
      .withColumn("t2", lead(col("event_type"), 1).over(w))
      .withColumn("t3", lead(col("event_type"), 2).over(w))
      .filter(col("t2").isNotNull && col("t3").isNotNull)
      .groupBy(col("event_type").as("step1"), col("t2").as("step2"),
               col("t3").as("step3"))
      .agg(count(lit(1)).as("n_paths"))
      .orderBy(col("n_paths").desc, col("step1"), col("step2"),
               col("step3"))
      .limit(25)
  }

  /** q141 — HITS over the DIRECTED supplier→customer trade graph
    * ([[GraphOps.hits]], 3 iterations, integer max-normalization):
    * suppliers are pure hubs (who serves the important buyers),
    * customers pure authorities (who is served by the big hubs) — the
    * bipartite-relevance recurrence PageRank's single score can't
    * express. Output: every supplier plus the top-100 customers by
    * authority (deterministic (auth desc, node) cut), so BOTH score
    * families are hash-gated.
    */
  def q141Hits(s: SparkSession, dir: String): DataFrame = {
    val rel = Tables.lineitem(s, dir)
      .select(col("l_suppkey"), col("l_orderkey"))
      .join(Tables.orders(s, dir)
              .select(col("o_orderkey"), col("o_custkey")),
            col("l_orderkey") === col("o_orderkey"))
      .select(concat(lit("s"), col("l_suppkey")).as("src"),
              concat(lit("c"), col("o_custkey")).as("dst"))
      .distinct()
    val res = GraphOps.hits(rel, "src", "dst", iterations = 3)
    val sup = res.filter(col("node").startsWith("s"))
    val cust = res.filter(col("node").startsWith("c"))
      .orderBy(col("auth_e6").desc, col("node")).limit(100)
    sup.unionByName(cust).orderBy(col("node"))
  }

  /** q136 — exact grouped QUARTILES by nearest-rank selection (the
    * q103 exact-median discipline generalized to arbitrary ranks):
    * p25/p50/p75 of floor-scaled price cents per return flag. Rank
    * r_p = (n−1)·p/4 + 1 (floor), pivoted out with conditional
    * aggregation — one shuffle, one per-group window sort. The exact
    * gate the q40 quantile sketches are validated against, at three
    * cut points instead of one.
    */
  def q136ExactQuartiles(s: SparkSession, dir: String): DataFrame = {
    val byFlag = Window.partitionBy(col("l_returnflag"))
    val r = Tables.lineitem(s, dir)
      .select(col("l_returnflag"),
              floor(col("l_extendedprice") * 100).cast("long").as("cents"))
      .withColumn("rn", row_number()
        .over(byFlag.orderBy(col("cents"))).cast("long"))
      .withColumn("n", count(lit(1)).over(byFlag))
    def rank(p: Int) = expr(s"(n - 1) * $p div 4") + 1L
    r.filter(col("rn") === rank(1) || col("rn") === rank(2) ||
             col("rn") === rank(3))
      .groupBy(col("l_returnflag"))
      .agg(max(col("n")).as("n_rows"),
           max(when(col("rn") === rank(1), col("cents"))).as("p25_cents"),
           max(when(col("rn") === rank(2), col("cents"))).as("p50_cents"),
           max(when(col("rn") === rank(3), col("cents"))).as("p75_cents"))
      .orderBy(col("l_returnflag"))
  }

  /** q153 — robust per-category outlier summary
    * ([[graft.operators.RobustStats.madOutlierSummary]]): median ±
    * 3·MAD over order totals in cents, per priority class — the
    * data-quality triage rule that mean/stddev cannot provide because
    * outliers drag their own detector. Every statistic is a
    * nearest-rank order statistic, so the summary is exact integer
    * arithmetic, hash-gated.
    */
  def q153MadOutliers(s: SparkSession, dir: String): DataFrame =
    graft.operators.RobustStats.madOutlierSummary(
        Tables.orders(s, dir).select(
          col("o_orderpriority"),
          floor(col("o_totalprice") * 100).cast("long").as("cents")),
        "o_orderpriority", "cents", k = 3)
      .select(col("o_orderpriority"), col("n_rows"),
              col("median").as("median_cents"), col("mad").as("mad_cents"),
              col("n_outliers"))
      .orderBy("o_orderpriority")

  /** q137 — LAST-TOUCH conversion attribution: every purchase event is
    * credited to the latest strictly-earlier non-purchase event by the
    * same user within a 7-day lookback, deterministic tie-break on
    * (timestamp, event_id). Shape: one user-keyed equi-join with the
    * time band as a residual predicate + a per-purchase row_number —
    * at real scale the band join is the [[TemporalOps]] as-of/bucket
    * decomposition (q38); user-grain partitions here are tiny, so the
    * plain equi-join IS the right plan. Unconverted purchases (no
    * touch in window) are excluded by the inner join, documented.
    */
  def q137Attribution(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(col("user_id"), unix_micros(col("ts")).as("us"),
              col("event_id"), col("event_type"), col("value"))
    val purch = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("us").as("pus"),
              col("event_id").as("pid"),
              floor(col("value") * 100).cast("long").as("value_e2"))
    val touch = ev.filter(col("event_type") =!= "purchase")
      .select(col("user_id"), col("us").as("tus"),
              col("event_id").as("tid"), col("event_type"))
    val joined = purch.join(touch, Seq("user_id"))
      .filter((col("tus") < col("pus") ||
               (col("tus") === col("pus") && col("tid") < col("pid"))) &&
              col("tus") >= col("pus") - lit(604800000000L))
    val perPurchase = Window.partitionBy(col("pid"))
      .orderBy(col("tus").desc, col("tid").desc)
    joined.withColumn("rn", row_number().over(perPurchase))
      .filter(col("rn") === 1)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_conversions"),
           sum(col("value_e2")).as("attributed_value_e2"))
      .orderBy(col("event_type"))
  }

  /** q134/q140 oracle: [[GraphOps.pageRank]]'s recurrence unrolled —
    * one (contribution, rank) CTE pair per iteration, generated from
    * the same loop count the query passes, so iteration-count drift is
    * structurally impossible. `weighted = true` carries the lineitem
    * count per trade relation as the edge weight (w = 1 otherwise),
    * dividing by total out-weight exactly as the operator does.
    */
  /** Shared q274/q277 oracle: the ENTIRE 4×512 count–min counter
    * table replayed with portable md5 cell hashes, probed for the 60
    * tracked users. Two builds (direct / per-slice merged), one SQL —
    * the gate proves CM linearity.
    */
  private val countMinSql: String =
    """WITH cells AS (
      |  SELECT t.r,
      |    ('0x' || substr(md5(t.r::varchar || ':' ||
      |      e.user_id::varchar), 1, 8))::bigint % 512 AS cell,
      |    COUNT(*) AS cnt
      |  FROM events e CROSS JOIN range(4) t(r)
      |  GROUP BY 1, 2),
      |tracked AS (
      |  SELECT user_id, COUNT(*) AS exact_cnt FROM events
      |  WHERE user_id % 25 = 0 GROUP BY 1),
      |probes AS (
      |  SELECT user_id, exact_cnt, t.r,
      |    ('0x' || substr(md5(t.r::varchar || ':' ||
      |      user_id::varchar), 1, 8))::bigint % 512 AS cell
      |  FROM tracked CROSS JOIN range(4) t(r))
      |SELECT p.user_id, p.exact_cnt, MIN(c.cnt) AS cm_est,
      |  MIN(c.cnt) - p.exact_cnt AS overcount
      |FROM probes p JOIN cells c USING (r, cell)
      |GROUP BY 1, 2 ORDER BY 1""".stripMargin

  private def pagerankOracle(weighted: Boolean): String = {
    def iterCte(i: Int): String =
      s"""c$i AS (
         |  SELECT e.dst AS node,
         |    SUM((r.r * 85 * e.w) // (100 * d.outw)) AS cin
         |  FROM e JOIN r${i - 1} r ON r.node = e.src
         |         JOIN d ON d.src = e.src
         |  GROUP BY e.dst),
         |r$i AS (
         |  SELECT n.node,
         |    (SELECT base FROM params) + COALESCE(c.cin, 0) AS r
         |  FROM n LEFT JOIN c$i c ON c.node = n.node)""".stripMargin
    val relW = if (weighted) "COUNT(*)" else "1"
    s"""WITH rel AS (
       |  SELECT 's' || l_suppkey AS sup, 'c' || o_custkey AS cust,
       |         $relW AS w
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |  GROUP BY 1, 2),
       |e AS (SELECT sup AS src, cust AS dst, w FROM rel
       |      UNION ALL SELECT cust, sup, w FROM rel),
       |n AS (SELECT DISTINCT node FROM
       |        (SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
       |d AS (SELECT src, SUM(w) AS outw FROM e GROUP BY 1),
       |params AS (SELECT COUNT(*) AS nn,
       |    1000000000000 // COUNT(*) AS r_init,
       |    (1000000000000 * 15) // (100 * COUNT(*)) AS base FROM n),
       |r0 AS (SELECT node, (SELECT r_init FROM params) AS r FROM n),
       |${(1 to 5).map(iterCte).mkString(",\n")}
       |SELECT node, CAST(r AS BIGINT) AS rank_units FROM r5
       |WHERE node LIKE 's%' ORDER BY node""".stripMargin
  }

  /** q147 oracle: [[GraphOps.personalizedPageRank]] unrolled — the
    * q134 CTE family with the uniform base/init replaced by the
    * seed-indicator forms (per-seed restart mass and initial rank,
    * 0 elsewhere), seeds = suppliers 1–10.
    */
  private val pprOracleSql: String = {
    def iterCte(i: Int): String =
      s"""c$i AS (
         |  SELECT e.dst AS node,
         |    SUM((r.r * 85 * e.w) // (100 * d.outw)) AS cin
         |  FROM e JOIN r${i - 1} r ON r.node = e.src
         |         JOIN d ON d.src = e.src
         |  GROUP BY e.dst),
         |r$i AS (
         |  SELECT n.node,
         |    CASE WHEN s.node IS NOT NULL
         |         THEN (SELECT base FROM params) ELSE 0 END
         |    + COALESCE(c.cin, 0) AS r
         |  FROM n LEFT JOIN seeds s ON s.node = n.node
         |         LEFT JOIN c$i c ON c.node = n.node)""".stripMargin
    s"""WITH rel AS (
       |  SELECT DISTINCT 's' || l_suppkey AS sup, 'c' || o_custkey AS cust
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
       |e AS (SELECT sup AS src, cust AS dst, 1 AS w FROM rel
       |      UNION ALL SELECT cust, sup, 1 FROM rel),
       |n AS (SELECT DISTINCT node FROM
       |        (SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
       |d AS (SELECT src, SUM(w) AS outw FROM e GROUP BY 1),
       |seeds AS (SELECT node FROM n
       |          WHERE node LIKE 's%'
       |            AND CAST(SUBSTR(node, 2) AS BIGINT) <= 10),
       |params AS (SELECT COUNT(*) AS ns,
       |    1000000000000 // COUNT(*) AS r_init,
       |    (1000000000000 * 15) // (100 * COUNT(*)) AS base FROM seeds),
       |r0 AS (SELECT n.node,
       |         CASE WHEN s.node IS NOT NULL
       |              THEN (SELECT r_init FROM params) ELSE 0 END AS r
       |       FROM n LEFT JOIN seeds s ON s.node = n.node),
       |${(1 to 5).map(iterCte).mkString(",\n")}
       |SELECT node, CAST(r AS BIGINT) AS rank_units FROM r5
       |WHERE node LIKE 'c%'
       |ORDER BY r DESC, node LIMIT 100""".stripMargin
  }

  /** q156 oracle: [[GraphOps.kCore]]'s peel unrolled — round CTE i
    * keeps the edges whose BOTH endpoint degrees among round-(i−1)
    * surviving edges are ≥ k (vertex-peel expressed on the symmetric
    * edge set). Each round reads its predecessor exactly ONCE, via
    * window degrees — a self-join form would reference it 2–3×, and
    * a CTE-inlining engine re-executes the chain per reference:
    * exponential in the round count (the q141 lesson). [[KCoreRounds]]
    * rounds are generated (the operator throws if its fixpoint needs
    * more); rounds past the fixpoint are no-ops, so both sides yield
    * the identical core and per-node core degree.
    */
  private val kcoreOracleSql: String = {
    def roundCte(i: Int): String =
      s"""e$i AS (
         |  SELECT u, v FROM (
         |    SELECT u, v,
         |      COUNT(*) OVER (PARTITION BY u) AS du,
         |      COUNT(*) OVER (PARTITION BY v) AS dv
         |    FROM e${i - 1})
         |  WHERE du >= $KCoreK AND dv >= $KCoreK)""".stripMargin
    s"""WITH rel AS (
       |  SELECT DISTINCT 'p' || l_partkey AS pu, 's' || l_suppkey AS sv
       |  FROM lineitem),
       |e0 AS (SELECT pu AS u, sv AS v FROM rel
       |       UNION ALL SELECT sv, pu FROM rel),
       |${(1 to KCoreRounds).map(roundCte).mkString(",\n")}
       |SELECT u AS node, COUNT(*) AS core_degree FROM e$KCoreRounds
       |GROUP BY u ORDER BY node""".stripMargin
  }

  /** q163 oracle: [[GraphOps.weightedDistances]] unrolled — the q157
    * relaxation with `+ e.w` instead of `+ 1`, weights = lineitem
    * count per trade relation, same bounded-round semantics.
    */
  private val weightedPathsOracleSql: String = {
    def roundCte(i: Int): String =
      s"""d$i AS (
         |  SELECT node, MIN(dist) AS dist FROM (
         |    SELECT node, dist FROM d${i - 1}
         |    UNION ALL
         |    SELECT e.dst, d.dist + e.w FROM e
         |    JOIN d${i - 1} d ON e.src = d.node)
         |  GROUP BY node)""".stripMargin
    s"""WITH rel AS (
       |  SELECT 's' || l_suppkey AS sup, 'c' || o_custkey AS cust,
       |    COUNT(*) AS w
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |  GROUP BY 1, 2),
       |e AS (SELECT sup AS src, cust AS dst, w FROM rel
       |      UNION ALL SELECT cust, sup, w FROM rel),
       |d0 AS (SELECT DISTINCT 's' || s_suppkey AS node, 0 AS dist
       |       FROM supplier WHERE s_suppkey <= 5),
       |${(1 to 4).map(roundCte).mkString(",\n")}
       |SELECT node, CAST(dist AS BIGINT) AS dist FROM d4
       |ORDER BY node""".stripMargin
  }

  /** q157 oracle: [[GraphOps.bfsHops]]'s relaxation unrolled — round
    * CTE i takes the min of the previous labels and
    * (in-neighbor label + 1), exactly [[BfsMaxHops]] times. The hop
    * cap is the semantics, so no convergence reasoning is needed:
    * both sides compute the same bounded-depth distance map.
    */
  private val bfsOracleSql: String = {
    def roundCte(i: Int): String =
      s"""d$i AS (
         |  SELECT node, MIN(dist) AS dist FROM (
         |    SELECT node, dist FROM d${i - 1}
         |    UNION ALL
         |    SELECT e.dst, d.dist + 1 FROM e
         |    JOIN d${i - 1} d ON e.src = d.node)
         |  GROUP BY node)""".stripMargin
    s"""WITH rel AS (
       |  SELECT DISTINCT 's' || l_suppkey AS sup, 'c' || o_custkey AS cust
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
       |e AS (SELECT sup AS src, cust AS dst FROM rel
       |      UNION ALL SELECT cust, sup FROM rel),
       |d0 AS (SELECT DISTINCT 's' || s_suppkey AS node, 0 AS dist
       |       FROM supplier WHERE s_suppkey <= 5),
       |${(1 to BfsMaxHops).map(roundCte).mkString(",\n")}
       |SELECT node, CAST(dist AS BIGINT) AS dist FROM d$BfsMaxHops
       |ORDER BY node""".stripMargin
  }

  /** q195 oracle: [[GraphOps.perSeedHops]] unrolled — the q157 (bfs)
    * relaxation with the seed column riding the state key, so round
    * CTE i min-merges (seed, node, dist) triples; the final aggregate
    * takes per-seed MAX (eccentricity) and COUNT (reach).
    */
  private val eccOracleSql: String = {
    def roundCte(i: Int): String =
      s"""d$i AS (
         |  SELECT seed, node, MIN(dist) AS dist FROM (
         |    SELECT seed, node, dist FROM d${i - 1}
         |    UNION ALL
         |    SELECT d.seed, e.dst, d.dist + 1 FROM e
         |    JOIN d${i - 1} d ON e.src = d.node)
         |  GROUP BY seed, node)""".stripMargin
    s"""WITH rel AS (
       |  SELECT DISTINCT 's' || l_suppkey AS sup, 'c' || o_custkey AS cust
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
       |e AS (SELECT sup AS src, cust AS dst FROM rel
       |      UNION ALL SELECT cust, sup FROM rel),
       |d0 AS (SELECT DISTINCT 's' || s_suppkey AS seed,
       |         's' || s_suppkey AS node, 0 AS dist
       |       FROM supplier WHERE s_suppkey <= 5),
       |${(1 to BfsMaxHops).map(roundCte).mkString(",\n")}
       |SELECT seed, CAST(MAX(dist) AS BIGINT) AS ecc,
       |  CAST(COUNT(*) AS BIGINT) AS n_reached
       |FROM d$BfsMaxHops GROUP BY seed ORDER BY seed""".stripMargin
  }

  /** q202 oracle: [[GraphOps.pathCounts]] unrolled — round CTE i
    * extends the dist-(i−1) frontier f(i−1) by one edge, sums σ over
    * predecessors, drops settled nodes, and appends to the settled
    * set s(i). HUGEINT σ mirrors Spark's decimal(38,0).
    */
  private val pathCountsOracleSql: String = {
    def roundCte(i: Int): String =
      s"""c$i AS (SELECT e.dst AS node, SUM(f.sigma) AS sigma
         |        FROM e JOIN f${i - 1} f ON e.src = f.node
         |        GROUP BY e.dst),
         |f$i AS (SELECT c.node, c.sigma FROM c$i c
         |        WHERE c.node NOT IN (SELECT node FROM s${i - 1})),
         |s$i AS (SELECT node, dist, sigma FROM s${i - 1}
         |        UNION ALL
         |        SELECT node, $i AS dist, sigma FROM f$i)""".stripMargin
    s"""WITH rel AS (
       |  SELECT DISTINCT 's' || l_suppkey AS sup, 'c' || o_custkey AS cust
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
       |e AS (SELECT sup AS src, cust AS dst FROM rel
       |      UNION ALL SELECT cust, sup FROM rel),
       |s0 AS (SELECT 's1' AS node, 0 AS dist,
       |         CAST(1 AS HUGEINT) AS sigma),
       |f0 AS (SELECT node, sigma FROM s0),
       |${(1 to BfsMaxHops).map(roundCte).mkString(",\n")}
       |SELECT node, CAST(dist AS BIGINT) AS dist,
       |  CAST(sigma AS VARCHAR) AS sigma
       |FROM s$BfsMaxHops ORDER BY node""".stripMargin
  }

  /** q141 oracle: [[GraphOps.hits]] unrolled — per iteration an
    * authority half-step and a hub half-step, each followed by the
    * integer max-normalization. The max is a WINDOW aggregate
    * (`MAX(x) OVER ()`), not a scalar subquery: a subquery would
    * reference the half-step CTE twice and an engine that inlines
    * CTEs then re-executes the whole upstream chain per reference —
    * exponential in the iteration count. The window form reads each
    * half-step exactly once.
    */
  private val hitsOracleSql: String = {
    def iterCte(i: Int): String =
      s"""a${i}r AS (
         |  SELECT n.node, COALESCE(SUM(h.h), 0) AS a
         |  FROM n LEFT JOIN rel e ON e.dst = n.node
         |         LEFT JOIN h${i - 1} h ON h.node = e.src
         |  GROUP BY n.node),
         |a$i AS (SELECT node,
         |          (a * 1000000) // (MAX(a) OVER ()) AS a
         |        FROM a${i}r),
         |h${i}r AS (
         |  SELECT n.node, COALESCE(SUM(a.a), 0) AS h
         |  FROM n LEFT JOIN rel e ON e.src = n.node
         |         LEFT JOIN a$i a ON a.node = e.dst
         |  GROUP BY n.node),
         |h$i AS (SELECT node,
         |          (h * 1000000) // (MAX(h) OVER ()) AS h
         |        FROM h${i}r)""".stripMargin
    s"""WITH rel AS (
       |  SELECT DISTINCT 's' || l_suppkey AS src, 'c' || o_custkey AS dst
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
       |n AS (SELECT DISTINCT node FROM
       |        (SELECT src AS node FROM rel UNION ALL SELECT dst FROM rel)),
       |h0 AS (SELECT node, CAST(1000000 AS BIGINT) AS h FROM n),
       |${(1 to 3).map(iterCte).mkString(",\n")},
       |sel AS (SELECT node, CAST(h AS BIGINT) AS hub_e6,
       |               CAST(a AS BIGINT) AS auth_e6
       |        FROM h3 JOIN a3 USING (node))
       |SELECT * FROM (
       |  SELECT * FROM sel WHERE node LIKE 's%'
       |  UNION ALL
       |  SELECT * FROM (SELECT * FROM sel WHERE node LIKE 'c%'
       |                 ORDER BY auth_e6 DESC, node LIMIT 100))
       |ORDER BY node""".stripMargin
  }

  // -------------------------------------------------------------- wiring

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q32_sessionize"   -> (q32Sessionize _),
    "q33_hash_split"   -> (q33HashSplit _),
    "q34_topk_ngrams"  -> (q34TopkNgrams _),
    "q35_tfidf"        -> (q35Tfidf _),
    "q36_rollup"       -> (q36Rollup _),
    "q37_dedup_groups" -> (q37DedupGroups _),
    "q188_family_sizes" -> (q188FamilySizes _),
    "q253_leak_safe_split" -> (q253LeakSafeSplit _),
    "q261_consistent_hash" -> (q261ConsistentHashing _),
    "q263_zone_maps" -> (q263ZoneMaps _),
    "q264_zonemap_scan" -> (q264ZonemapScan _),
    "q189_spearman" -> (q189Spearman _),
    "q190_k_anonymity" -> (q190KAnonymity _),
    "q191_benford" -> (q191Benford _),
    "q192_split_leakage" -> (q192SplitLeakage _),
    "q193_editdist_blocked" -> (q193EditdistBlocked _),
    "q272_editdist_weighted" -> (q272EditdistWeighted _),
    "q274_countmin" -> (q274CountMin _),
    "q277_countmin_merge" -> (q277CountMinMerge _),
    "q278_countmin_join_est" -> (q278CountMinJoinEst _),
    "q279_bloom_join_filter" -> (q279BloomJoinFilter _),
    "q280_kmv_distinct" -> (q280KmvDistinct _),
    "q281_sketch_join_order" -> (q281SketchJoinOrder _),
    "q282_histogram_selectivity" -> (q282HistogramSelectivity _),
    "q226_passjoin_editdist" -> (q226PassjoinEditdist _),
    "q230_snm_recall" -> (q230SnmRecall _),
    "q231_snm_multipass" -> (q231SnmMultipass _),
    "q233_mann_kendall" -> (q233MannKendall _),
    "q234_t_closeness" -> (q234TCloseness _),
    "q235_lev_rewrite" -> (q235LevRewrite _),
    "q194_indep_residuals" -> (q194IndepResiduals _),
    "q195_ecc_bounded" -> (q195EccBounded _),
    "q196_dedup_fixedpoint" -> (q196DedupFixedpoint _),
    "q197_entity_resolution" -> (q197EntityResolution _),
    "q198_family_folds" -> (q198FamilyFolds _),
    "q199_l_diversity" -> (q199LDiversity _),
    "q202_path_counts" -> (q202PathCounts _),
    "q205_dedup_explain" -> (q205DedupExplain _),
    "q206_nearest_event" -> (q206NearestEvent _),
    "q209_incremental_cc" -> (q209IncrementalCc _),
    "q210_watermark_audit" -> (q210WatermarkAudit _),
    "q213_degree_profile" -> (q213DegreeProfile _),
    "q214_interval_join" -> (q214IntervalJoin _),
    "q217_interval_outer" -> (q217IntervalJoinOuter _),
    "q38_asof_join"    -> (q38AsofJoin _),
    "q39_salted_join"  -> (q39SaltedJoin _),
    "q40_sketches"     -> (q40Sketches _),
    "q41_scaffold_rolling" -> (q41ScaffoldRolling _),
    "q42_pivot"        -> (q42Pivot _),
    "q43_unpivot"      -> (q43Unpivot _),
    "q44_latest_per_key" -> (q44LatestPerKey _),
    "q45_hll_merge"    -> (q45HllMerge _),
    "q102_window_suite" -> (q102WindowSuite _),
    "q103_exact_median" -> (q103ExactMedian _),
    "q105_session_overlap" -> (q105SessionOverlap _),
    "q106_peak_concurrency" -> (q106PeakConcurrency _),
    "q108_topk_per_group" -> (q108TopkPerGroup _),
    "q109_cube" -> (q109Cube _),
    "q110_funnel" -> (q110Funnel _),
    "q111_cohort_retention" -> (q111CohortRetention _),
    "q112_scd2" -> (q112Scd2 _),
    "q113_session_window" -> (q113SessionWindow _),
    "q114_islands" -> (q114Islands _),
    "q115_forget_sweep" -> (q115ForgetSweep _),
    "q116_json_extract" -> (q116JsonExtract _),
    "q117_hof_suite" -> (q117HofSuite _),
    "q118_time_weighted" -> (q118TimeWeighted _),
    "q119_ratio_to_report" -> (q119RatioToReport _),
    "q120_setops2" -> (q120SetOps2 _),
    "q121_mode" -> (q121Mode _),
    "q122_rolling_wau" -> (q122RollingWau _),
    "q123_table_checksum" -> (q123TableChecksum _),
    "q124_weighted_median" -> (q124WeightedMedian _),
    "q125_transitions" -> (q125Transitions _),
    "q126_heavy_hitters" -> (q126HeavyHitters _),
    "q127_skyline" -> (q127Skyline _),
    "q128_listagg" -> (q128Listagg _),
    "q129_map_roundtrip" -> (q129MapRoundtrip _),
    "q134_pagerank" -> (q134Pagerank _),
    "q140_pagerank_weighted" -> (q140PagerankWeighted _),
    "q141_hits" -> (q141Hits _),
    "q147_ppr" -> (q147PersonalizedPagerank _),
    "q156_kcore" -> (q156KCore _),
    "q157_bfs_hops" -> (q157BfsHops _),
    "q158_scd2" -> (q158Scd2 _),
    "q161_changelog_merge" -> (q161ChangelogMerge _),
    "q162_locf_resample" -> (q162LocfResample _),
    "q163_weighted_paths" -> (q163WeightedPaths _),
    "q164_grouping_sets" -> (q164GroupingSets _),
    "q165_keeper_election" -> (q165KeeperElection _),
    "q168_group_ols" -> (q168GroupOls _),
    "q169_window_positions" -> (q169WindowPositions _),
    "q170_interval_islands" -> (q170IntervalIslands _),
    "q172_temperature_quotas" -> (q172TemperatureQuotas _),
    "q174_twap" -> (q174Twap _),
    "q175_ri_audit" -> (q175RiAudit _),
    "q176_equidepth_bins" -> (q176EquiDepthBins _),
    "q177_transitivity" -> (q177TransitivityAudit _),
    "q225_threshold_sensitivity" -> (q225ThresholdSensitivity _),
    "q178_token_drift" -> (q178TokenDrift _),
    "q179_null_semantics" -> (q179NullSemantics _),
    "q180_chao1" -> (q180Chao1 _),
    "q181_source_gini" -> (q181SourceGini _),
    "q182_dedup_yield" -> (q182DedupYield _),
    "q173_rendezvous_shard" -> (q173RendezvousShard _),
    "q153_mad_outliers" -> (q153MadOutliers _),
    "q142_session_paths" -> (q142SessionPaths _),
    "q136_exact_quartiles" -> (q136ExactQuartiles _),
    "q137_attribution" -> (q137Attribution _),
    "q46_sql_correlated" -> (q46SqlCorrelated _),
    "q53_stratified_sample" -> (q53StratifiedSample _),
    "q54_dedup_apply"  -> (q54DedupApply _),
    "q55_range_join"   -> (q55RangeJoin _),
    "q88_profile"      -> (q88Profile _)
  )

  def oracleSql: Map[String, String] = Map(
    "q32_sessionize" ->
      s"""WITH e AS (
         |  SELECT user_id, event_id, epoch_us(ts) AS us FROM events),
         |m AS (
         |  SELECT user_id, event_id, us,
         |    CASE WHEN us - lag(us) OVER w IS NULL
         |           OR us - lag(us) OVER w > $SessionGapUs
         |         THEN 1 ELSE 0 END AS new_sess
         |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
         |s2 AS (
         |  SELECT user_id,
         |    SUM(new_sess) OVER (PARTITION BY user_id ORDER BY us, event_id)
         |      AS session_id
         |  FROM m),
         |per_sess AS (
         |  SELECT user_id, session_id, COUNT(*) AS n
         |  FROM s2 GROUP BY user_id, session_id)
         |SELECT user_id,
         |  CAST(SUM(n) AS BIGINT) AS n_events,
         |  COUNT(*) AS n_sessions,
         |  CAST(MAX(n) AS BIGINT) AS max_session_events
         |FROM per_sess GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q33_hash_split" ->
      """SELECT CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val'
        |            ELSE 'test' END AS split,
        |  COUNT(*) AS n_docs, MIN(doc_id) AS min_id, MAX(doc_id) AS max_id
        |FROM (SELECT doc_id,
        |        ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 100 AS b
        |      FROM documents)
        |GROUP BY 1 ORDER BY split""".stripMargin,
    "q34_topk_ngrams" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |sh AS (SELECT DISTINCT doc_id, shingle FROM (
        |  SELECT doc_id, unnest(list_transform(range(len(w) - 1),
        |    i -> w[i+1] || ' ' || w[i+2])) AS shingle
        |  FROM w WHERE len(w) >= 2))
        |SELECT shingle AS bigram, COUNT(*) AS df
        |FROM sh GROUP BY shingle
        |ORDER BY df DESC, bigram ASC LIMIT 20""".stripMargin,
    "q35_tfidf" ->
      """WITH words AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, COUNT(*) AS tf
        |       FROM words GROUP BY doc_id, term),
        |dlen AS (SELECT doc_id, COUNT(*) AS n_words
        |         FROM words GROUP BY doc_id),
        |dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
        |nd AS (SELECT COUNT(*) AS n_docs FROM documents),
        |scored AS (
        |  SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
        |    (1000000 * tf.tf * nd.n_docs) // (dfreq.df * dlen.n_words)
        |      AS score_e6
        |  FROM tf JOIN dlen USING (doc_id) JOIN dfreq USING (term), nd),
        |r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
        |        ORDER BY score_e6 DESC, term ASC) AS rnk FROM scored)
        |SELECT doc_id, term, CAST(tf AS BIGINT) AS tf,
        |  CAST(df AS BIGINT) AS df, CAST(score_e6 AS BIGINT) AS score_e6
        |FROM r WHERE rnk = 1 ORDER BY doc_id""".stripMargin,
    "q36_rollup" ->
      """SELECT o_orderpriority, o_orderstatus, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM orders GROUP BY ROLLUP (o_orderpriority, o_orderstatus)
        |ORDER BY o_orderpriority ASC NULLS FIRST,
        |         o_orderstatus ASC NULLS FIRST""".stripMargin,
    "q37_dedup_groups" ->
      """WITH RECURSIVE
        |words AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |sh AS (SELECT DISTINCT doc_id, shingle FROM (
        |  SELECT doc_id, unnest(list_transform(range(len(w) - 2),
        |    i -> w[i+1] || ' ' || w[i+2] || ' ' || w[i+3])) AS shingle
        |  FROM words WHERE len(w) >= 3)),
        |sz AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
        |pairs AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter_cnt
        |  FROM sh a JOIN sh b USING (shingle)
        |  WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
        |jp AS (
        |  SELECT doc_a, doc_b FROM pairs
        |  JOIN sz sa ON sa.doc_id = doc_a
        |  JOIN sz sb ON sb.doc_id = doc_b
        |  WHERE inter_cnt * 2 >= (sa.sz + sb.sz - inter_cnt) * 1),
        |e AS (SELECT doc_a AS a, doc_b AS b FROM jp
        |      UNION ALL SELECT doc_b, doc_a FROM jp),
        |reach(a, b) AS (
        |  SELECT a, a FROM e GROUP BY a
        |  UNION
        |  SELECT e.a, r.b FROM e JOIN reach r ON e.b = r.a)
        |SELECT a AS doc_id, MIN(b) AS component
        |FROM reach GROUP BY a ORDER BY doc_id""".stripMargin,
    // q188: the q37 recursive-CC skeleton + component-size histogram +
    // the singleton (never-paired) row via NOT IN.
    "q188_family_sizes" ->
      """WITH RECURSIVE
        |words AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |sh AS (SELECT DISTINCT doc_id, shingle FROM (
        |  SELECT doc_id, unnest(list_transform(range(len(w) - 2),
        |    i -> w[i+1] || ' ' || w[i+2] || ' ' || w[i+3])) AS shingle
        |  FROM words WHERE len(w) >= 3)),
        |sz AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
        |pairs AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter_cnt
        |  FROM sh a JOIN sh b USING (shingle)
        |  WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
        |jp AS (
        |  SELECT doc_a, doc_b FROM pairs
        |  JOIN sz sa ON sa.doc_id = doc_a
        |  JOIN sz sb ON sb.doc_id = doc_b
        |  WHERE inter_cnt * 2 >= (sa.sz + sb.sz - inter_cnt) * 1),
        |e AS (SELECT doc_a AS a, doc_b AS b FROM jp
        |      UNION ALL SELECT doc_b, doc_a FROM jp),
        |reach(a, b) AS (
        |  SELECT a, a FROM e GROUP BY a
        |  UNION
        |  SELECT e.a, r.b FROM e JOIN reach r ON e.b = r.a),
        |cc AS (SELECT a AS doc_id, MIN(b) AS component
        |       FROM reach GROUP BY a),
        |fam AS (SELECT component, COUNT(*) AS family_size
        |        FROM cc GROUP BY component),
        |hist AS (SELECT family_size, COUNT(*) AS n_families
        |         FROM fam GROUP BY family_size),
        |singles AS (SELECT CAST(1 AS BIGINT) AS family_size,
        |              COUNT(*) AS n_families
        |            FROM documents
        |            WHERE doc_id NOT IN (SELECT doc_id FROM cc))
        |SELECT CAST(family_size AS BIGINT) AS family_size,
        |  CAST(n_families AS BIGINT) AS n_families
        |FROM (SELECT * FROM hist UNION ALL SELECT * FROM singles)
        |WHERE n_families > 0 ORDER BY family_size""".stripMargin,
    // q253: the q37 recursive-CC skeleton, singleton components via the
    // left-join coalesce, the portable md5 split hash on component vs
    // doc_id, and the naive-split straddle counterfactual.
    "q253_leak_safe_split" ->
      """WITH RECURSIVE
        |words AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |sh AS (SELECT DISTINCT doc_id, shingle FROM (
        |  SELECT doc_id, unnest(list_transform(range(len(w) - 2),
        |    i -> w[i+1] || ' ' || w[i+2] || ' ' || w[i+3])) AS shingle
        |  FROM words WHERE len(w) >= 3)),
        |sz AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
        |pairs AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter_cnt
        |  FROM sh a JOIN sh b USING (shingle)
        |  WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
        |jp AS (
        |  SELECT doc_a, doc_b FROM pairs
        |  JOIN sz sa ON sa.doc_id = doc_a
        |  JOIN sz sb ON sb.doc_id = doc_b
        |  WHERE inter_cnt * 2 >= (sa.sz + sb.sz - inter_cnt) * 1),
        |e AS (SELECT doc_a AS a, doc_b AS b FROM jp
        |      UNION ALL SELECT doc_b, doc_a FROM jp),
        |reach(a, b) AS (
        |  SELECT a, a FROM e GROUP BY a
        |  UNION
        |  SELECT e.a, r.b FROM e JOIN reach r ON e.b = r.a),
        |cc AS (SELECT a AS doc_id, MIN(b) AS component
        |       FROM reach GROUP BY a),
        |lab AS (SELECT d.doc_id, length(d.text) AS n_chars,
        |          COALESCE(cc.component, d.doc_id) AS component
        |        FROM documents d LEFT JOIN cc ON cc.doc_id = d.doc_id),
        |leaky AS (SELECT COUNT(*) AS naive_leaky_components FROM (
        |  SELECT component FROM (
        |    SELECT component,
        |      CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
        |             ::BIGINT % 10 < 8 THEN 'train'
        |           WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
        |             ::BIGINT % 10 = 8 THEN 'val'
        |           ELSE 'test' END AS nsplit
        |    FROM lab)
        |  GROUP BY component HAVING COUNT(DISTINCT nsplit) > 1))
        |SELECT
        |  CASE WHEN ('0x' || substr(md5(CAST(component AS VARCHAR)), 1, 8))
        |         ::BIGINT % 10 < 8 THEN 'train'
        |       WHEN ('0x' || substr(md5(CAST(component AS VARCHAR)), 1, 8))
        |         ::BIGINT % 10 = 8 THEN 'val'
        |       ELSE 'test' END AS split,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(COUNT(DISTINCT component) AS BIGINT) AS n_components,
        |  CAST(SUM(n_chars) AS BIGINT) AS n_chars,
        |  CAST((SELECT naive_leaky_components FROM leaky) AS BIGINT)
        |    AS naive_leaky_components
        |FROM lab GROUP BY split ORDER BY split""".stripMargin,
    // q261: both rings rebuilt from the md5 formula, assignment via the
    // min-successor construction (vs Spark's literal-array lookup).
    "q261_consistent_hash" ->
      """WITH r8 AS (SELECT (g.i // 16) AS shard,
        |    ('0x' || substr(md5((g.i // 16) || ':' || (g.i % 16)), 1, 8))
        |      ::BIGINT AS pos
        |  FROM unnest(range(128)) AS g(i)),
        |r9 AS (SELECT (g.i // 16) AS shard,
        |    ('0x' || substr(md5((g.i // 16) || ':' || (g.i % 16)), 1, 8))
        |      ::BIGINT AS pos
        |  FROM unnest(range(144)) AS g(i)),
        |kh AS (SELECT o_orderkey AS k,
        |    ('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8))
        |      ::BIGINT AS h
        |  FROM orders),
        |c8 AS (SELECT kh.k, kh.h, MIN(r.pos) AS mp
        |  FROM kh LEFT JOIN r8 r ON r.pos >= kh.h GROUP BY kh.k, kh.h),
        |a8 AS (SELECT c8.k, c8.h,
        |    (SELECT MIN(shard) FROM r8 WHERE pos =
        |       COALESCE(c8.mp, (SELECT MIN(pos) FROM r8))) AS s8
        |  FROM c8),
        |c9 AS (SELECT kh.k, MIN(r.pos) AS mp
        |  FROM kh LEFT JOIN r9 r ON r.pos >= kh.h GROUP BY kh.k),
        |a9 AS (SELECT c9.k,
        |    (SELECT MIN(shard) FROM r9 WHERE pos =
        |       COALESCE(c9.mp, (SELECT MIN(pos) FROM r9))) AS s9
        |  FROM c9),
        |j AS (SELECT a8.k, a8.h, a8.s8, a9.s9
        |  FROM a8 JOIN a9 ON a9.k = a8.k),
        |g AS (SELECT COUNT(*) AS n_keys_total,
        |    SUM(CASE WHEN s8 <> s9 THEN 1 ELSE 0 END) AS n_moved_ring,
        |    SUM(CASE WHEN h % 8 <> h % 9 THEN 1 ELSE 0 END)
        |      AS n_moved_mod
        |  FROM j)
        |SELECT CAST(s9 AS BIGINT) AS shard,
        |  CAST(COUNT(*) AS BIGINT) AS n_keys,
        |  CAST(SUM(CASE WHEN s8 <> s9 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_moved_in,
        |  CAST(g.n_keys_total AS BIGINT) AS n_keys_total,
        |  CAST(g.n_moved_ring AS BIGINT) AS n_moved_ring,
        |  CAST(g.n_moved_mod AS BIGINT) AS n_moved_mod
        |FROM j, g
        |GROUP BY s9, g.n_keys_total, g.n_moved_ring, g.n_moved_mod
        |ORDER BY shard""".stripMargin,
    // q263: both layouts' zone sketches + the 3-predicate skip matrix.
    "q263_zone_maps" ->
      """WITH zc AS (SELECT year(l_shipdate) * 12 + month(l_shipdate)
        |      AS b,
        |    MIN(l_shipdate) AS mn, MAX(l_shipdate) AS mx,
        |    COUNT(*) AS n
        |  FROM lineitem GROUP BY 1),
        |zh AS (SELECT ('0x' || substr(md5(CAST(l_orderkey AS VARCHAR)),
        |      1, 8))::BIGINT % 32 AS b,
        |    MIN(l_shipdate) AS mn, MAX(l_shipdate) AS mx,
        |    COUNT(*) AS n
        |  FROM lineitem GROUP BY 1),
        |p AS (SELECT * FROM (VALUES
        |    ('p1_narrow', DATE '1996-01-01', DATE '1996-03-31'),
        |    ('p2_month',  DATE '1998-06-01', DATE '1998-06-30'),
        |    ('p3_all',    DATE '1995-01-01', DATE '2001-12-31'))
        |  t(pid, lo, hi)),
        |u AS (
        |  SELECT 'clustered' AS layout, pid AS pred,
        |    COUNT(*) AS n_buckets,
        |    SUM(CASE WHEN mx < lo OR mn > hi THEN 1 ELSE 0 END)
        |      AS n_skippable,
        |    SUM(n) AS rows_total,
        |    SUM(CASE WHEN mx < lo OR mn > hi THEN n ELSE 0 END)
        |      AS rows_skipped
        |  FROM zc CROSS JOIN p GROUP BY pid
        |  UNION ALL
        |  SELECT 'hashed', pid, COUNT(*),
        |    SUM(CASE WHEN mx < lo OR mn > hi THEN 1 ELSE 0 END),
        |    SUM(n),
        |    SUM(CASE WHEN mx < lo OR mn > hi THEN n ELSE 0 END)
        |  FROM zh CROSS JOIN p GROUP BY pid)
        |SELECT layout, pred, CAST(n_buckets AS BIGINT) AS n_buckets,
        |  CAST(n_skippable AS BIGINT) AS n_skippable,
        |  CAST(rows_total AS BIGINT) AS rows_total,
        |  CAST(rows_skipped AS BIGINT) AS rows_skipped
        |FROM u ORDER BY layout, pred""".stripMargin,
    // q264: the oracle never sees the layout or the zone map — it runs
    // the plain predicate scan, so a wrongly-pruned file on the Spark
    // side shows up as missing rows in the rollup.
    "q264_zonemap_scan" ->
      """SELECT CAST(year(l_shipdate) * 100 + month(l_shipdate)
        |    AS BIGINT) AS ship_month,
        |  CAST(COUNT(*) AS BIGINT) AS n_rows,
        |  CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
        |  MIN(l_orderkey) AS min_key, MAX(l_orderkey) AS max_key
        |FROM lineitem
        |WHERE l_shipdate BETWEEN DATE '1996-01-01' AND DATE '1996-03-31'
        |GROUP BY 1 ORDER BY ship_month""".stripMargin,
    // q189: the q133 model CTEs + two rank windows + the HUGEINT
    // Spearman rational, emitted as DECIMAL(38,0) strings.
    "q189_spearman" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        |bg AS (
        |  SELECT doc_id, tk[g.i] AS w1, tk[g.i + 1] AS w2
        |  FROM t, unnest(generate_series(1, len(tk) - 1)) AS g(i)
        |  WHERE len(tk) >= 2),
        |c2 AS (SELECT w1, w2, COUNT(*) AS c2 FROM bg GROUP BY 1, 2),
        |c1 AS (SELECT w1, SUM(c2) AS c1 FROM c2 GROUP BY 1),
        |m AS (SELECT w1, w2, (1000000 * c2) // c1 AS p_e6
        |      FROM c2 JOIN c1 USING (w1)),
        |sc AS (SELECT doc_id, COUNT(*) AS n_bigrams,
        |         SUM(p_e6) // COUNT(*) AS score_e6
        |       FROM bg JOIN m USING (w1, w2) GROUP BY doc_id),
        |r AS (SELECT doc_id,
        |        row_number() OVER (ORDER BY n_bigrams, doc_id) AS rank_x,
        |        row_number() OVER (ORDER BY score_e6, doc_id) AS rank_y
        |      FROM sc),
        |a AS (SELECT CAST(COUNT(*) AS HUGEINT) AS n,
        |        CAST(SUM(CAST(rank_x - rank_y AS HUGEINT)
        |                 * (rank_x - rank_y)) AS HUGEINT) AS sd2
        |      FROM r)
        |SELECT CAST(n AS BIGINT) AS n_docs,
        |  CAST(CAST(n * (n * n - 1) - 6 * sd2 AS DECIMAL(38,0))
        |       AS VARCHAR) AS rho_num,
        |  CAST(CAST(n * (n * n - 1) AS DECIMAL(38,0)) AS VARCHAR)
        |    AS rho_den
        |FROM a""".stripMargin,
    // q190: group counts over the quasi-identifier tuple + the 1-row
    // below-k reduction; the balance band is shifted-nonnegative
    // integer division so both engines floor identically.
    "q190_k_anonymity" ->
      """WITH g AS (
        |  SELECT c_nationkey, c_mktsegment,
        |    (CAST(floor(c_acctbal * 100) AS BIGINT) + 100000) // 200000
        |      AS bal_band,
        |    COUNT(*) AS n
        |  FROM customer GROUP BY 1, 2, 3)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_groups,
        |  CAST(SUM(CASE WHEN n < 5 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_small_groups,
        |  CAST(SUM(CASE WHEN n < 5 THEN n ELSE 0 END) AS BIGINT)
        |    AS rows_at_risk,
        |  CAST(SUM(n) AS BIGINT) AS n_rows,
        |  CAST((1000000 * SUM(CASE WHEN n < 5 THEN n ELSE 0 END))
        |       // SUM(n) AS BIGINT) AS risk_e6
        |FROM g""".stripMargin,
    // q191: the e9 Benford constants as a CASE table (identical
    // literals to BenfordE9), HUGEINT products (the q189 discipline),
    // floor-then-string first digit.
    "q191_benford" ->
      """WITH d AS (
        |  SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT)
        |    AS VARCHAR), 1, 1) AS INT) AS digit
        |  FROM orders),
        |g AS (SELECT digit, COUNT(*) AS n_obs FROM d GROUP BY digit),
        |t AS (SELECT SUM(n_obs) AS n_total FROM g),
        |p AS (SELECT digit, n_obs, n_total,
        |        CASE digit WHEN 1 THEN 301029996 WHEN 2 THEN 176091259
        |          WHEN 3 THEN 124938737 WHEN 4 THEN 96910013
        |          WHEN 5 THEN 79181246 WHEN 6 THEN 66946790
        |          WHEN 7 THEN 57991947 WHEN 8 THEN 51152522
        |          ELSE 45757491 END AS p_e9
        |      FROM g CROSS JOIN t),
        |e AS (SELECT digit, n_obs,
        |        (CAST(n_total AS HUGEINT) * p_e9) // 1000000 AS exp_e3
        |      FROM p),
        |f AS (SELECT digit, n_obs, exp_e3,
        |        CAST(n_obs AS HUGEINT) * 1000 - exp_e3 AS diff_e3
        |      FROM e)
        |SELECT digit, CAST(n_obs AS BIGINT) AS n_obs,
        |  CAST(exp_e3 AS BIGINT) AS exp_e3,
        |  CAST((diff_e3 * diff_e3 * 1000) // exp_e3 AS BIGINT) AS chi2_e6
        |FROM f ORDER BY digit""".stripMargin,
    // q192: the q37 recursive-CC skeleton + the q33 md5 split + the
    // per-family distinct-split count and 1-row verdict.
    "q192_split_leakage" ->
      """WITH RECURSIVE
        |words AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |sh AS (SELECT DISTINCT doc_id, shingle FROM (
        |  SELECT doc_id, unnest(list_transform(range(len(w) - 2),
        |    i -> w[i+1] || ' ' || w[i+2] || ' ' || w[i+3])) AS shingle
        |  FROM words WHERE len(w) >= 3)),
        |sz AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
        |pairs AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter_cnt
        |  FROM sh a JOIN sh b USING (shingle)
        |  WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
        |jp AS (
        |  SELECT doc_a, doc_b FROM pairs
        |  JOIN sz sa ON sa.doc_id = doc_a
        |  JOIN sz sb ON sb.doc_id = doc_b
        |  WHERE inter_cnt * 2 >= (sa.sz + sb.sz - inter_cnt) * 1),
        |e AS (SELECT doc_a AS a, doc_b AS b FROM jp
        |      UNION ALL SELECT doc_b, doc_a FROM jp),
        |reach(a, b) AS (
        |  SELECT a, a FROM e GROUP BY a
        |  UNION
        |  SELECT e.a, r.b FROM e JOIN reach r ON e.b = r.a),
        |cc AS (SELECT a AS doc_id, MIN(b) AS component
        |       FROM reach GROUP BY a),
        |fam AS (
        |  SELECT component, COUNT(*) AS family_size,
        |    COUNT(DISTINCT CASE WHEN b < 80 THEN 'train'
        |                        WHEN b < 90 THEN 'val'
        |                        ELSE 'test' END) AS n_splits
        |  FROM (SELECT doc_id, component,
        |          ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 100
        |            AS b
        |        FROM cc)
        |  GROUP BY component)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_multi_families,
        |  CAST(SUM(CASE WHEN n_splits > 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_leaky_families,
        |  CAST(SUM(CASE WHEN n_splits > 1 THEN family_size ELSE 0 END)
        |       AS BIGINT) AS docs_in_leaky,
        |  CAST((1000000 * SUM(CASE WHEN n_splits > 1 THEN family_size
        |                           ELSE 0 END))
        |       // SUM(family_size) AS BIGINT) AS leak_rate_e6
        |FROM fam""".stripMargin,
    // q193: identical blocking self-join; DuckDB's levenshtein is the
    // same unit-cost edit distance as Spark's.
    "q193_editdist_blocked" ->
      """WITH p AS (
        |  SELECT p_partkey AS pk, p_name AS nm,
        |    split_part(p_name, ' ', 2) AS noun
        |  FROM part)
        |SELECT CAST(dist AS BIGINT) AS dist,
        |  CAST(COUNT(*) AS BIGINT) AS n_pairs
        |FROM (
        |  SELECT levenshtein(a.nm, b.nm) AS dist
        |  FROM p a JOIN p b ON a.noun = b.noun AND a.pk < b.pk)
        |WHERE dist <= 2 GROUP BY dist ORDER BY dist""".stripMargin,
    // q272: the multiplicity-collapsed weighted route answers to
    // q193's bare-join oracle VERBATIM — the gate proves the weighted
    // arithmetic (cnt_a*cnt_b + C(cnt,2) diagonal) reproduces the
    // enumeration counts.
    "q272_editdist_weighted" ->
      """WITH p AS (
        |  SELECT p_partkey AS pk, p_name AS nm,
        |    split_part(p_name, ' ', 2) AS noun
        |  FROM part)
        |SELECT CAST(dist AS BIGINT) AS dist,
        |  CAST(COUNT(*) AS BIGINT) AS n_pairs
        |FROM (
        |  SELECT levenshtein(a.nm, b.nm) AS dist
        |  FROM p a JOIN p b ON a.noun = b.noun AND a.pk < b.pk)
        |WHERE dist <= 2 GROUP BY dist ORDER BY dist""".stripMargin,
    // q274: the oracle replays the ENTIRE count-min counter table
    // (portable md5 cell hashes) — the estimate is gated exactly.
    // q277 (merge route) answers the SAME SQL verbatim: the gate
    // proves CM linearity (per-slice tables add to the corpus table).
    "q274_countmin" -> countMinSql,
    "q277_countmin_merge" -> countMinSql,
    // q278: both counter tables replayed from the shared md5 cell hash,
    // per-row inner products LEFT-joined over the full row frame
    // (zero-overlap rows read 0), exact sizes from plain group-bys.
    "q278_countmin_join_est" ->
      """WITH ecells AS (
        |  SELECT t.r,
        |    ('0x' || substr(md5(t.r::varchar || ':' ||
        |      e.user_id::varchar), 1, 8))::bigint % 16384 AS cell,
        |    COUNT(*) AS cnt
        |  FROM events e CROSS JOIN range(4) t(r)
        |  GROUP BY 1, 2),
        |ocells AS (
        |  SELECT t.r,
        |    ('0x' || substr(md5(t.r::varchar || ':' ||
        |      o.o_custkey::varchar), 1, 8))::bigint % 16384 AS cell,
        |    COUNT(*) AS cnt
        |  FROM orders o CROSS JOIN range(4) t(r)
        |  GROUP BY 1, 2),
        |f2r AS (SELECT a.r, SUM(a.cnt * b.cnt) AS ip
        |        FROM ecells a JOIN ecells b USING (r, cell) GROUP BY 1),
        |xjr AS (SELECT a.r, SUM(a.cnt * b.cnt) AS ip
        |        FROM ecells a JOIN ocells b USING (r, cell) GROUP BY 1),
        |f2est AS (SELECT MIN(COALESCE(f.ip, 0)) AS v
        |          FROM range(4) t(r) LEFT JOIN f2r f ON f.r = t.r),
        |xjest AS (SELECT MIN(COALESCE(x.ip, 0)) AS v
        |          FROM range(4) t(r) LEFT JOIN xjr x ON x.r = t.r),
        |f2ex AS (SELECT SUM(n * n) AS v FROM
        |           (SELECT COUNT(*) AS n FROM events GROUP BY user_id)),
        |xjex AS (SELECT COALESCE(SUM(e.n * o.n), 0) AS v
        |         FROM (SELECT user_id, COUNT(*) AS n FROM events
        |               GROUP BY 1) e
        |         JOIN (SELECT o_custkey, COUNT(*) AS n FROM orders
        |               GROUP BY 1) o ON e.user_id = o.o_custkey)
        |SELECT
        |  CAST((SELECT v FROM f2est) AS BIGINT) AS cm_f2_est,
        |  CAST((SELECT v FROM f2ex) AS BIGINT) AS exact_f2,
        |  CAST((1000000 * ((SELECT v FROM f2est) - (SELECT v FROM f2ex)))
        |    // (SELECT v FROM f2ex) AS BIGINT) AS f2_overest_e6,
        |  CAST((SELECT v FROM xjest) AS BIGINT) AS cm_join_est,
        |  CAST((SELECT v FROM xjex) AS BIGINT) AS exact_join,
        |  CAST((1000000 * ((SELECT v FROM xjest) - (SELECT v FROM xjex)))
        |    // (SELECT v FROM xjex) AS BIGINT) AS join_overest_e6""".stripMargin,
    // q279: both bit tables replayed from the shared md5 probe hashes
    // (32-bit words — neither engine can shift into a signed 64-bit
    // sign bit); a key passes iff all 5 probe bits are set (COUNT = 5
    // over the per-probe bit-test join ≡ Spark's 5-term conjunction).
    "q279_bloom_join_filter" ->
      """WITH bkeys AS (SELECT DISTINCT user_id AS bkey FROM events
        |               WHERE user_id IS NOT NULL),
        |probe AS (SELECT o_custkey AS pkey FROM orders
        |          WHERE o_custkey IS NOT NULL),
        |pkeys AS (SELECT DISTINCT pkey FROM probe),
        |bc AS (SELECT pos // 32 AS word,
        |         bit_or((1::BIGINT) << CAST(pos % 32 AS INT)) AS bits
        |       FROM (SELECT ('0x' || substr(md5(t.j::varchar || ':' ||
        |           e.user_id::varchar), 1, 8))::bigint % 512 AS pos
        |         FROM events e CROSS JOIN range(5) t(j)
        |         WHERE e.user_id IS NOT NULL)
        |       GROUP BY 1),
        |bs AS (SELECT pos // 32 AS word,
        |         bit_or((1::BIGINT) << CAST(pos % 32 AS INT)) AS bits
        |       FROM (SELECT ('0x' || substr(md5(t.j::varchar || ':' ||
        |           e.user_id::varchar), 1, 8))::bigint % 4096 AS pos
        |         FROM events e CROSS JOIN range(5) t(j)
        |         WHERE e.user_id IS NOT NULL)
        |       GROUP BY 1),
        |pposc AS (SELECT p.pkey,
        |            ('0x' || substr(md5(t.j::varchar || ':' ||
        |              p.pkey::varchar), 1, 8))::bigint % 512 AS pos
        |          FROM pkeys p CROSS JOIN range(5) t(j)),
        |pposs AS (SELECT p.pkey,
        |            ('0x' || substr(md5(t.j::varchar || ':' ||
        |              p.pkey::varchar), 1, 8))::bigint % 4096 AS pos
        |          FROM pkeys p CROSS JOIN range(5) t(j)),
        |passc AS (SELECT q.pkey FROM pposc q
        |          JOIN bc b ON b.word = q.pos // 32
        |           AND ((b.bits >> CAST(q.pos % 32 AS INT)) & 1) = 1
        |          GROUP BY 1 HAVING COUNT(*) = 5),
        |passs AS (SELECT q.pkey FROM pposs q
        |          JOIN bs b ON b.word = q.pos // 32
        |           AND ((b.bits >> CAST(q.pos % 32 AS INT)) & 1) = 1
        |          GROUP BY 1 HAVING COUNT(*) = 5),
        |nprobe AS (SELECT COUNT(*) AS v FROM probe),
        |rmatch AS (SELECT COUNT(*) AS v FROM probe
        |           JOIN bkeys ON probe.pkey = bkeys.bkey),
        |rmatchafter AS (SELECT COUNT(*) AS v FROM probe
        |            JOIN passs ON probe.pkey = passs.pkey
        |            JOIN bkeys ON probe.pkey = bkeys.bkey),
        |rpassc AS (SELECT COUNT(*) AS v FROM probe
        |           JOIN passc ON probe.pkey = passc.pkey),
        |rpasss AS (SELECT COUNT(*) AS v FROM probe
        |           JOIN passs ON probe.pkey = passs.pkey),
        |fpc AS (SELECT COUNT(*) AS v FROM passc
        |        LEFT JOIN bkeys ON passc.pkey = bkeys.bkey
        |        WHERE bkeys.bkey IS NULL),
        |fps AS (SELECT COUNT(*) AS v FROM passs
        |        LEFT JOIN bkeys ON passs.pkey = bkeys.bkey
        |        WHERE bkeys.bkey IS NULL),
        |nonm AS (SELECT COUNT(*) AS v FROM pkeys
        |         LEFT JOIN bkeys ON pkeys.pkey = bkeys.bkey
        |         WHERE bkeys.bkey IS NULL)
        |SELECT
        |  CAST((SELECT v FROM nprobe) AS BIGINT) AS n_probe_rows,
        |  CAST((SELECT v FROM rmatch) AS BIGINT) AS rows_match,
        |  CAST((SELECT v FROM rmatchafter) AS BIGINT)
        |    AS rows_match_after_sized,
        |  CAST((SELECT v FROM rpassc) AS BIGINT) AS rows_pass_coarse,
        |  CAST((SELECT v FROM rpasss) AS BIGINT) AS rows_pass_sized,
        |  CAST((SELECT v FROM fpc) AS BIGINT) AS fp_keys_coarse,
        |  CAST((SELECT v FROM fps) AS BIGINT) AS fp_keys_sized,
        |  CAST((SELECT v FROM nonm) AS BIGINT) AS nonmatch_keys,
        |  CAST((1000000 * (SELECT v FROM fpc))
        |    // (SELECT v FROM nonm) AS BIGINT) AS fp_coarse_e6,
        |  CAST((1000000 * (SELECT v FROM fps))
        |    // (SELECT v FROM nonm) AS BIGINT) AS fp_sized_e6""".stripMargin,
    // q280: the k-minimum md5 hash sets replayed verbatim (DISTINCT +
    // ORDER BY + LIMIT k), estimates = the same integer order-statistic
    // arithmetic; UNION (not ALL) dedups the combined sketch.
    "q280_kmv_distinct" ->
      """WITH se AS (SELECT DISTINCT ('0x' || substr(md5(
        |      user_id::varchar), 1, 13))::bigint AS hv
        |    FROM events WHERE user_id IS NOT NULL
        |    ORDER BY 1 LIMIT 256),
        |so AS (SELECT DISTINCT ('0x' || substr(md5(
        |      o_custkey::varchar), 1, 13))::bigint AS hv
        |    FROM orders WHERE o_custkey IS NOT NULL
        |    ORDER BY 1 LIMIT 256),
        |este AS (SELECT CASE WHEN COUNT(*) < 256 THEN COUNT(*)
        |    ELSE (255::BIGINT * 4503599627370496::BIGINT) // MAX(hv)
        |    END AS v FROM se),
        |esto AS (SELECT CASE WHEN COUNT(*) < 256 THEN COUNT(*)
        |    ELSE (255::BIGINT * 4503599627370496::BIGINT) // MAX(hv)
        |    END AS v FROM so),
        |s AS (SELECT hv FROM (SELECT hv FROM se UNION
        |                      SELECT hv FROM so)
        |      ORDER BY hv LIMIT 256),
        |sflag AS (SELECT COUNT(*) AS n_s,
        |    SUM(CASE WHEN a.hv IS NOT NULL AND b.hv IS NOT NULL
        |        THEN 1 ELSE 0 END) AS n_both,
        |    MAX(s.hv) AS hk
        |  FROM s LEFT JOIN se a ON s.hv = a.hv
        |         LEFT JOIN so b ON s.hv = b.hv),
        |uj AS (SELECT
        |    CASE WHEN n_s < 256 THEN n_s
        |      ELSE (255::BIGINT * 4503599627370496::BIGINT) // hk
        |    END AS u_est,
        |    CASE WHEN n_s = 0 THEN 0
        |      ELSE (1000000 * n_both) // n_s END AS j_e6
        |  FROM sflag),
        |exe AS (SELECT COUNT(DISTINCT user_id) AS v FROM events),
        |exo AS (SELECT COUNT(DISTINCT o_custkey) AS v FROM orders),
        |exu AS (SELECT COUNT(*) AS v FROM (
        |    SELECT user_id AS key FROM events WHERE user_id IS NOT NULL
        |    UNION
        |    SELECT o_custkey FROM orders WHERE o_custkey IS NOT NULL)),
        |exi AS (SELECT COUNT(*) AS v
        |  FROM (SELECT DISTINCT user_id FROM events
        |        WHERE user_id IS NOT NULL) e
        |  JOIN (SELECT DISTINCT o_custkey FROM orders) o
        |    ON e.user_id = o.o_custkey)
        |SELECT
        |  CAST((SELECT v FROM este) AS BIGINT) AS est_users,
        |  CAST((SELECT v FROM exe) AS BIGINT) AS exact_users,
        |  CAST((SELECT v FROM esto) AS BIGINT) AS est_custs,
        |  CAST((SELECT v FROM exo) AS BIGINT) AS exact_custs,
        |  CAST((1000000 * ((SELECT v FROM esto) - (SELECT v FROM exo)))
        |    // (SELECT v FROM exo) AS BIGINT) AS cust_err_e6,
        |  CAST((SELECT u_est FROM uj) AS BIGINT) AS kmv_union_est,
        |  CAST((SELECT v FROM exu) AS BIGINT) AS exact_union,
        |  CAST((SELECT j_e6 FROM uj) AS BIGINT) AS kmv_jaccard_e6,
        |  CAST((1000000 * (SELECT v FROM exi))
        |    // (SELECT v FROM exu) AS BIGINT) AS exact_jaccard_e6,
        |  CAST(((SELECT u_est FROM uj) * (SELECT j_e6 FROM uj))
        |    // 1000000 AS BIGINT) AS kmv_inter_est,
        |  CAST((SELECT v FROM exi) AS BIGINT) AS exact_inter""".stripMargin,
    // q281: three counter tables replayed from the shared md5 cell
    // hash (the q278 pattern x3), exact sizes from plain group-bys,
    // ranks = the same CASE sums with the eo<ec<oc tie-break.
    "q281_sketch_join_order" ->
      """WITH ec AS (
        |  SELECT t.r,
        |    ('0x' || substr(md5(t.r::varchar || ':' ||
        |      e.user_id::varchar), 1, 8))::bigint % 16384 AS cell,
        |    COUNT(*) AS cnt
        |  FROM events e CROSS JOIN range(4) t(r)
        |  WHERE e.user_id IS NOT NULL GROUP BY 1, 2),
        |oc AS (
        |  SELECT t.r,
        |    ('0x' || substr(md5(t.r::varchar || ':' ||
        |      o.o_custkey::varchar), 1, 8))::bigint % 16384 AS cell,
        |    COUNT(*) AS cnt
        |  FROM orders o CROSS JOIN range(4) t(r)
        |  WHERE o.o_custkey IS NOT NULL GROUP BY 1, 2),
        |cc AS (
        |  SELECT t.r,
        |    ('0x' || substr(md5(t.r::varchar || ':' ||
        |      c.c_custkey::varchar), 1, 8))::bigint % 16384 AS cell,
        |    COUNT(*) AS cnt
        |  FROM customer c CROSS JOIN range(4) t(r)
        |  WHERE c.c_custkey IS NOT NULL GROUP BY 1, 2),
        |ipeo AS (SELECT a.r, SUM(a.cnt * b.cnt) AS ip
        |         FROM ec a JOIN oc b USING (r, cell) GROUP BY 1),
        |ipec AS (SELECT a.r, SUM(a.cnt * b.cnt) AS ip
        |         FROM ec a JOIN cc b USING (r, cell) GROUP BY 1),
        |ipoc AS (SELECT a.r, SUM(a.cnt * b.cnt) AS ip
        |         FROM oc a JOIN cc b USING (r, cell) GROUP BY 1),
        |eeo AS (SELECT MIN(COALESCE(i.ip, 0)) AS v
        |        FROM range(4) t(r) LEFT JOIN ipeo i ON i.r = t.r),
        |eec AS (SELECT MIN(COALESCE(i.ip, 0)) AS v
        |        FROM range(4) t(r) LEFT JOIN ipec i ON i.r = t.r),
        |eoc AS (SELECT MIN(COALESCE(i.ip, 0)) AS v
        |        FROM range(4) t(r) LEFT JOIN ipoc i ON i.r = t.r),
        |xeo AS (SELECT COALESCE(SUM(a.n * b.n), 0) AS v
        |  FROM (SELECT user_id AS k, COUNT(*) AS n FROM events
        |        WHERE user_id IS NOT NULL GROUP BY 1) a
        |  JOIN (SELECT o_custkey AS k, COUNT(*) AS n FROM orders
        |        WHERE o_custkey IS NOT NULL GROUP BY 1) b USING (k)),
        |xec AS (SELECT COALESCE(SUM(a.n * b.n), 0) AS v
        |  FROM (SELECT user_id AS k, COUNT(*) AS n FROM events
        |        WHERE user_id IS NOT NULL GROUP BY 1) a
        |  JOIN (SELECT c_custkey AS k, COUNT(*) AS n FROM customer
        |        WHERE c_custkey IS NOT NULL GROUP BY 1) b USING (k)),
        |xoc AS (SELECT COALESCE(SUM(a.n * b.n), 0) AS v
        |  FROM (SELECT o_custkey AS k, COUNT(*) AS n FROM orders
        |        WHERE o_custkey IS NOT NULL GROUP BY 1) a
        |  JOIN (SELECT c_custkey AS k, COUNT(*) AS n FROM customer
        |        WHERE c_custkey IS NOT NULL GROUP BY 1) b USING (k)),
        |vals AS (SELECT
        |    (SELECT v FROM eeo) AS est_eo, (SELECT v FROM xeo) AS exact_eo,
        |    (SELECT v FROM eec) AS est_ec, (SELECT v FROM xec) AS exact_ec,
        |    (SELECT v FROM eoc) AS est_oc, (SELECT v FROM xoc) AS exact_oc)
        |SELECT
        |  CAST(est_eo AS BIGINT) AS est_eo,
        |  CAST(exact_eo AS BIGINT) AS exact_eo,
        |  CAST(est_ec AS BIGINT) AS est_ec,
        |  CAST(exact_ec AS BIGINT) AS exact_ec,
        |  CAST(est_oc AS BIGINT) AS est_oc,
        |  CAST(exact_oc AS BIGINT) AS exact_oc,
        |  CAST(1 + (CASE WHEN est_ec < est_eo THEN 1 ELSE 0 END)
        |    + (CASE WHEN est_oc < est_eo THEN 1 ELSE 0 END) AS BIGINT)
        |    AS rank_est_eo,
        |  CAST(1 + (CASE WHEN est_eo <= est_ec THEN 1 ELSE 0 END)
        |    + (CASE WHEN est_oc < est_ec THEN 1 ELSE 0 END) AS BIGINT)
        |    AS rank_est_ec,
        |  CAST(1 + (CASE WHEN est_eo <= est_oc THEN 1 ELSE 0 END)
        |    + (CASE WHEN est_ec <= est_oc THEN 1 ELSE 0 END) AS BIGINT)
        |    AS rank_est_oc,
        |  CAST(1 + (CASE WHEN exact_ec < exact_eo THEN 1 ELSE 0 END)
        |    + (CASE WHEN exact_oc < exact_eo THEN 1 ELSE 0 END) AS BIGINT)
        |    AS rank_exact_eo,
        |  CAST(1 + (CASE WHEN exact_eo <= exact_ec THEN 1 ELSE 0 END)
        |    + (CASE WHEN exact_oc < exact_ec THEN 1 ELSE 0 END) AS BIGINT)
        |    AS rank_exact_ec,
        |  CAST(1 + (CASE WHEN exact_eo <= exact_oc THEN 1 ELSE 0 END)
        |    + (CASE WHEN exact_ec <= exact_oc THEN 1 ELSE 0 END) AS BIGINT)
        |    AS rank_exact_oc,
        |  CAST(CASE WHEN
        |      1 + (CASE WHEN est_ec < est_eo THEN 1 ELSE 0 END)
        |        + (CASE WHEN est_oc < est_eo THEN 1 ELSE 0 END) =
        |      1 + (CASE WHEN exact_ec < exact_eo THEN 1 ELSE 0 END)
        |        + (CASE WHEN exact_oc < exact_eo THEN 1 ELSE 0 END)
        |    AND
        |      1 + (CASE WHEN est_eo <= est_ec THEN 1 ELSE 0 END)
        |        + (CASE WHEN est_oc < est_ec THEN 1 ELSE 0 END) =
        |      1 + (CASE WHEN exact_eo <= exact_ec THEN 1 ELSE 0 END)
        |        + (CASE WHEN exact_oc < exact_ec THEN 1 ELSE 0 END)
        |    AND
        |      1 + (CASE WHEN est_eo <= est_oc THEN 1 ELSE 0 END)
        |        + (CASE WHEN est_ec <= est_oc THEN 1 ELSE 0 END) =
        |      1 + (CASE WHEN exact_eo <= exact_oc THEN 1 ELSE 0 END)
        |        + (CASE WHEN exact_ec <= exact_oc THEN 1 ELSE 0 END)
        |    THEN 1 ELSE 0 END AS BIGINT) AS order_agrees
        |FROM vals""".stripMargin,
    // q282: the histogram replayed at distinct-value granularity (no
    // ntile tie-lottery): prefix sum over grouped cents, bucket =
    // (cum_before * 64) // N, then the same uniform-spread CASE per
    // range. floor(x*100) is the portable double quantization.
    "q282_histogram_selectivity" ->
      """WITH vals AS (SELECT CAST(floor(l_extendedprice * 100)
        |      AS BIGINT) AS v
        |    FROM lineitem WHERE l_extendedprice IS NOT NULL),
        |g AS (SELECT v, COUNT(*) AS n FROM vals GROUP BY 1),
        |cum AS (SELECT v, n,
        |    SUM(n) OVER (ORDER BY v) - n AS cb FROM g),
        |tot AS (SELECT SUM(n) AS t FROM g),
        |bkt AS (SELECT (cb * 64) // (SELECT t FROM tot) AS bucket,
        |    MIN(v) AS lo, MAX(v) AS hi, SUM(n) AS cnt
        |  FROM cum GROUP BY 1),
        |estn AS (SELECT COALESCE(SUM(CASE
        |    WHEN lo >= 1000000 AND hi <= 1099999 THEN cnt
        |    WHEN hi >= 1000000 AND lo <= 1099999 THEN
        |      (cnt * (LEAST(hi, 1099999) - GREATEST(lo, 1000000) + 1))
        |        // (hi - lo + 1)
        |    ELSE 0 END), 0) AS v FROM bkt),
        |estm AS (SELECT COALESCE(SUM(CASE
        |    WHEN lo >= 1000000 AND hi <= 4999999 THEN cnt
        |    WHEN hi >= 1000000 AND lo <= 4999999 THEN
        |      (cnt * (LEAST(hi, 4999999) - GREATEST(lo, 1000000) + 1))
        |        // (hi - lo + 1)
        |    ELSE 0 END), 0) AS v FROM bkt),
        |estw AS (SELECT COALESCE(SUM(CASE
        |    WHEN lo >= 200000 AND hi <= 9999999 THEN cnt
        |    WHEN hi >= 200000 AND lo <= 9999999 THEN
        |      (cnt * (LEAST(hi, 9999999) - GREATEST(lo, 200000) + 1))
        |        // (hi - lo + 1)
        |    ELSE 0 END), 0) AS v FROM bkt),
        |exn AS (SELECT COUNT(*) AS v FROM vals
        |        WHERE v BETWEEN 1000000 AND 1099999),
        |exm AS (SELECT COUNT(*) AS v FROM vals
        |        WHERE v BETWEEN 1000000 AND 4999999),
        |exw AS (SELECT COUNT(*) AS v FROM vals
        |        WHERE v BETWEEN 200000 AND 9999999)
        |SELECT
        |  CAST((SELECT COUNT(*) FROM bkt) AS BIGINT) AS n_buckets,
        |  CAST((SELECT v FROM estn) AS BIGINT) AS est_narrow,
        |  CAST((SELECT v FROM exn) AS BIGINT) AS exact_narrow,
        |  CAST((1000000 * ((SELECT v FROM estn) - (SELECT v FROM exn)))
        |    // (SELECT v FROM exn) AS BIGINT) AS err_narrow_e6,
        |  CAST((SELECT v FROM estm) AS BIGINT) AS est_mid,
        |  CAST((SELECT v FROM exm) AS BIGINT) AS exact_mid,
        |  CAST((1000000 * ((SELECT v FROM estm) - (SELECT v FROM exm)))
        |    // (SELECT v FROM exm) AS BIGINT) AS err_mid_e6,
        |  CAST((SELECT v FROM estw) AS BIGINT) AS est_wide,
        |  CAST((SELECT v FROM exw) AS BIGINT) AS exact_wide,
        |  CAST((1000000 * ((SELECT v FROM estw) - (SELECT v FROM exw)))
        |    // (SELECT v FROM exw) AS BIGINT) AS err_wide_e6""".stripMargin,
    // q226: the PassJoin signature path answers to the SAME bare-join
    // oracle shape as q193 (on the deterministic quarter) — the shared
    // gate proves the banded and segment-signature candidate
    // disciplines agree on real data.
    "q226_passjoin_editdist" ->
      """WITH p AS (
        |  SELECT p_partkey AS pk, p_name AS nm,
        |    split_part(p_name, ' ', 2) AS noun
        |  FROM part WHERE p_partkey % 4 = 0)
        |SELECT CAST(dist AS BIGINT) AS dist,
        |  CAST(COUNT(*) AS BIGINT) AS n_pairs
        |FROM (
        |  SELECT levenshtein(a.nm, b.nm) AS dist
        |  FROM p a JOIN p b ON a.noun = b.noun AND a.pk < b.pk)
        |WHERE dist <= 2 GROUP BY dist ORDER BY dist""".stripMargin,
    // q230: the SNM window pairs via row_number + rank-distance join,
    // the truth via the q193-shape bare join, both on the quarter.
    "q230_snm_recall" ->
      s"""WITH p AS (
        |  SELECT p_partkey AS pk, p_name AS nm,
        |    split_part(p_name, ' ', 2) AS noun
        |  FROM part WHERE p_partkey % 4 = 0),
        |r AS (SELECT pk, nm, noun,
        |        row_number() OVER (ORDER BY noun, nm, pk) AS rnk
        |      FROM p),
        |wp AS (SELECT a.noun AS noun_a, b.noun AS noun_b,
        |         a.nm AS nm_a, b.nm AS nm_b
        |       FROM r a JOIN r b
        |       ON b.rnk > a.rnk AND b.rnk - a.rnk <= $SnmWindow - 1),
        |w AS (SELECT COUNT(*) AS n_window_pairs,
        |        SUM(CASE WHEN noun_a = noun_b
        |                  AND levenshtein(nm_a, nm_b) <= 2
        |                 THEN 1 ELSE 0 END) AS n_matched FROM wp),
        |t AS (SELECT COUNT(*) AS n_truth_pairs FROM (
        |        SELECT 1 FROM p a JOIN p b
        |        ON a.noun = b.noun AND a.pk < b.pk
        |        WHERE levenshtein(a.nm, b.nm) <= 2)),
        |n AS (SELECT COUNT(*) AS n_records FROM p)
        |SELECT CAST(n_records AS BIGINT) AS n_records,
        |  CAST(n_window_pairs AS BIGINT) AS n_window_pairs,
        |  CAST(n_matched AS BIGINT) AS n_matched,
        |  CAST(n_truth_pairs AS BIGINT) AS n_truth_pairs,
        |  CAST(CASE WHEN n_truth_pairs = 0 THEN 0 ELSE
        |    (1000000 * n_matched) // n_truth_pairs END AS BIGINT)
        |    AS recall_e6
        |FROM n, w, t""".stripMargin,
    // q231: two row_number orders (prefix and reversed-suffix), the
    // rank-distance pairs of each, the normalized union, one verdict.
    "q231_snm_multipass" ->
      s"""WITH p AS (
        |  SELECT p_partkey AS pk, p_name AS nm,
        |    split_part(p_name, ' ', 2) AS noun,
        |    reverse(p_name) AS rnm
        |  FROM part WHERE p_partkey % 4 = 0),
        |r1 AS (SELECT pk, nm, noun,
        |         row_number() OVER (ORDER BY noun, nm, pk) AS rnk
        |       FROM p),
        |m1 AS (SELECT least(a.pk, b.pk) AS pa, greatest(a.pk, b.pk) AS pb
        |       FROM r1 a JOIN r1 b
        |       ON b.rnk > a.rnk AND b.rnk - a.rnk <= $SnmWindow - 1
        |       WHERE a.noun = b.noun AND levenshtein(a.nm, b.nm) <= 2),
        |r2 AS (SELECT pk, nm, noun,
        |         row_number() OVER (ORDER BY noun, rnm, pk) AS rnk
        |       FROM p),
        |m2 AS (SELECT least(a.pk, b.pk) AS pa, greatest(a.pk, b.pk) AS pb
        |       FROM r2 a JOIN r2 b
        |       ON b.rnk > a.rnk AND b.rnk - a.rnk <= $SnmWindow - 1
        |       WHERE a.noun = b.noun AND levenshtein(a.nm, b.nm) <= 2),
        |u AS (SELECT COUNT(*) AS matched_union FROM (
        |        SELECT DISTINCT pa, pb FROM (
        |          SELECT * FROM m1 UNION ALL SELECT * FROM m2))),
        |c1 AS (SELECT COUNT(*) AS matched_1 FROM m1),
        |c2 AS (SELECT COUNT(*) AS matched_2 FROM m2),
        |t AS (SELECT COUNT(*) AS n_truth_pairs FROM (
        |        SELECT 1 FROM p a JOIN p b
        |        ON a.noun = b.noun AND a.pk < b.pk
        |        WHERE levenshtein(a.nm, b.nm) <= 2))
        |SELECT CAST(n_truth_pairs AS BIGINT) AS n_truth_pairs,
        |  CAST(matched_1 AS BIGINT) AS matched_1,
        |  CAST(matched_2 AS BIGINT) AS matched_2,
        |  CAST(matched_union AS BIGINT) AS matched_union,
        |  CAST(CASE WHEN n_truth_pairs = 0 THEN 0 ELSE
        |    (1000000 * matched_1) // n_truth_pairs END AS BIGINT)
        |    AS recall1_e6,
        |  CAST(CASE WHEN n_truth_pairs = 0 THEN 0 ELSE
        |    (1000000 * matched_2) // n_truth_pairs END AS BIGINT)
        |    AS recall2_e6,
        |  CAST(CASE WHEN n_truth_pairs = 0 THEN 0 ELSE
        |    (1000000 * matched_union) // n_truth_pairs END AS BIGINT)
        |    AS union_recall_e6
        |FROM t, c1, c2, u""".stripMargin,
    // q233: daily floored-cent means, the pairwise sign sum, the
    // tie-corrected Var·18, and the 1.96²-as-38416/10⁴ verdict.
    "q233_mann_kendall" ->
      """WITH daily AS (
        |  SELECT CAST(ts AS DATE) AS d,
        |    SUM(CAST(floor(value * 100) AS BIGINT)) // COUNT(*) AS m
        |  FROM events GROUP BY 1),
        |s AS (SELECT SUM(CASE WHEN b.m > a.m THEN 1
        |                      WHEN b.m < a.m THEN -1 ELSE 0 END) AS s_stat
        |      FROM daily a JOIN daily b ON a.d < b.d),
        |n AS (SELECT COUNT(*) AS n_days FROM daily),
        |ties AS (SELECT COALESCE(SUM(t * (t - 1) * (2 * t + 5)), 0)
        |           AS tie_term
        |         FROM (SELECT COUNT(*) AS t FROM daily GROUP BY m)),
        |v AS (SELECT n_days, s_stat,
        |        n_days * (n_days - 1) * (2 * n_days + 5) - tie_term
        |          AS var18
        |      FROM n, s, ties)
        |SELECT CAST(n_days AS BIGINT) AS n_days,
        |  CAST(s_stat AS BIGINT) AS s_stat,
        |  CAST(var18 AS BIGINT) AS var18,
        |  CAST(CASE WHEN 180000 * s_stat * s_stat > 38416 * var18
        |            THEN 1 ELSE 0 END AS BIGINT) AS reject_05,
        |  CAST(CASE WHEN 180000 * s_stat * s_stat > 38416 * var18
        |            THEN CASE WHEN s_stat > 0 THEN 1
        |                      WHEN s_stat < 0 THEN -1 ELSE 0 END
        |            ELSE 0 END AS BIGINT) AS trend
        |FROM v""".stripMargin,
    // q234: dense (group × priority) grid, two cumulative windows,
    // the integer ordered-EMD, HUGEINT products.
    "q234_t_closeness" ->
      """WITH j AS (
        |  SELECT c_nationkey, c_mktsegment, o_orderpriority AS v
        |  FROM orders JOIN customer ON o_custkey = c_custkey),
        |cell AS (SELECT c_nationkey, c_mktsegment, v, COUNT(*) AS c
        |         FROM j GROUP BY 1, 2, 3),
        |gdist AS (SELECT v, SUM(c) AS gc FROM cell GROUP BY 1),
        |gcum AS (SELECT v, SUM(gc) OVER (ORDER BY v) AS gcum FROM gdist),
        |tot AS (SELECT SUM(gc) AS big_n, COUNT(*) AS b FROM gdist),
        |grp AS (SELECT c_nationkey, c_mktsegment, SUM(c) AS n
        |        FROM cell GROUP BY 1, 2),
        |grid AS (
        |  SELECT g.c_nationkey, g.c_mktsegment, g.n, gc.v, gc.gcum,
        |    COALESCE(cell.c, 0) AS c
        |  FROM grp g CROSS JOIN gcum gc
        |  LEFT JOIN cell ON cell.c_nationkey = g.c_nationkey
        |    AND cell.c_mktsegment = g.c_mktsegment AND cell.v = gc.v),
        |cum AS (SELECT *, SUM(c) OVER (
        |          PARTITION BY c_nationkey, c_mktsegment ORDER BY v)
        |          AS cum_c FROM grid),
        |d AS (SELECT c_nationkey, c_mktsegment, n,
        |        SUM(abs(CAST(cum_c AS HUGEINT) * big_n
        |                - CAST(gcum AS HUGEINT) * n)) AS dd
        |      FROM cum, tot GROUP BY 1, 2, 3)
        |SELECT c_nationkey, c_mktsegment, CAST(n AS BIGINT) AS n,
        |  CAST((1000000 * dd)
        |       // (CAST(n AS HUGEINT) * big_n * (b - 1)) AS BIGINT)
        |    AS t_e6,
        |  CAST(CASE WHEN (1000000 * dd)
        |              // (CAST(n AS HUGEINT) * big_n * (b - 1)) > 200000
        |            THEN 1 ELSE 0 END AS BIGINT) AS breach
        |FROM d, tot ORDER BY c_nationkey, c_mktsegment""".stripMargin,
    // q235: the q226 quarter oracle verbatim — naive Spark text +
    // optimizer rule must hash to the same answer.
    "q235_lev_rewrite" ->
      """WITH p AS (
        |  SELECT p_partkey AS pk, p_name AS nm,
        |    split_part(p_name, ' ', 2) AS noun
        |  FROM part WHERE p_partkey % 4 = 0)
        |SELECT CAST(dist AS BIGINT) AS dist,
        |  CAST(COUNT(*) AS BIGINT) AS n_pairs
        |FROM (
        |  SELECT levenshtein(a.nm, b.nm) AS dist
        |  FROM p a JOIN p b ON a.noun = b.noun AND a.pk < b.pk)
        |WHERE dist <= 2 GROUP BY dist ORDER BY dist""".stripMargin,
    // q194: margins joined back to cells; the signed numerator divides
    // as |num| // den with the sign multiplied back (truncation-vs-
    // floor engine divergence avoided).
    "q194_indep_residuals" ->
      """WITH cells AS (SELECT lang, source, COUNT(*) AS n_obs
        |               FROM documents GROUP BY 1, 2),
        |r AS (SELECT lang, COUNT(*) AS r_tot FROM documents GROUP BY 1),
        |c AS (SELECT source, COUNT(*) AS c_tot FROM documents GROUP BY 1),
        |t AS (SELECT COUNT(*) AS n_total FROM documents),
        |j AS (SELECT lang, source, n_obs,
        |        CAST(n_total AS HUGEINT) * n_obs
        |          - CAST(r_tot AS HUGEINT) * c_tot AS num,
        |        CAST(r_tot AS HUGEINT) * c_tot AS den
        |      FROM cells JOIN r USING (lang) JOIN c USING (source)
        |      CROSS JOIN t)
        |SELECT lang, source, CAST(n_obs AS BIGINT) AS n_obs,
        |  CAST((CASE WHEN num < 0 THEN -1 ELSE 1 END)
        |       * ((abs(num) * 1000000) // den) AS BIGINT) AS res_e6
        |FROM j ORDER BY lang, source""".stripMargin,
    // q195: the q157 relaxation unrolled with the seed riding the
    // state key — round i min-merges (seed, node) labels.
    "q195_ecc_bounded" -> eccOracleSql,
    // q202: the Brandes forward phase unrolled — per round a
    // predecessor-σ sum, a settled-set exclusion, an append.
    "q202_path_counts" -> pathCountsOracleSql,
    // q196: the q37 recursive-CC skeleton, min-id keepers, then the
    // ENTIRE shingle→pairs stage re-run on the kept subset — the
    // oracle computes the fixed-point count, it does not assert 0.
    "q196_dedup_fixedpoint" ->
      """WITH RECURSIVE
        |words AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |sh AS (SELECT DISTINCT doc_id, shingle FROM (
        |  SELECT doc_id, unnest(list_transform(range(len(w) - 2),
        |    i -> w[i+1] || ' ' || w[i+2] || ' ' || w[i+3])) AS shingle
        |  FROM words WHERE len(w) >= 3)),
        |sz AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
        |pairs AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter_cnt
        |  FROM sh a JOIN sh b USING (shingle)
        |  WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
        |jp AS (
        |  SELECT doc_a, doc_b FROM pairs
        |  JOIN sz sa ON sa.doc_id = doc_a
        |  JOIN sz sb ON sb.doc_id = doc_b
        |  WHERE inter_cnt * 2 >= (sa.sz + sb.sz - inter_cnt) * 1),
        |e AS (SELECT doc_a AS a, doc_b AS b FROM jp
        |      UNION ALL SELECT doc_b, doc_a FROM jp),
        |reach(a, b) AS (
        |  SELECT a, a FROM e GROUP BY a
        |  UNION
        |  SELECT e.a, r.b FROM e JOIN reach r ON e.b = r.a),
        |cc AS (SELECT a AS doc_id, MIN(b) AS component
        |       FROM reach GROUP BY a),
        |kept AS (
        |  SELECT doc_id FROM documents
        |  WHERE doc_id NOT IN (SELECT doc_id FROM cc)
        |  UNION ALL
        |  SELECT doc_id FROM cc WHERE doc_id = component),
        |sh2 AS (SELECT s.doc_id, s.shingle FROM sh s
        |        JOIN kept k ON k.doc_id = s.doc_id),
        |sz2 AS (SELECT doc_id, COUNT(*) AS sz FROM sh2 GROUP BY doc_id),
        |pairs2 AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter_cnt
        |  FROM sh2 a JOIN sh2 b USING (shingle)
        |  WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
        |jp2 AS (
        |  SELECT doc_a, doc_b FROM pairs2
        |  JOIN sz2 sa ON sa.doc_id = doc_a
        |  JOIN sz2 sb ON sb.doc_id = doc_b
        |  WHERE inter_cnt * 2 >= (sa.sz + sb.sz - inter_cnt) * 1)
        |SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM kept) AS n_docs_kept,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM jp2)
        |    AS n_second_pass_pairs""".stripMargin,
    // q197: identical blocking join (noun AND brand in the key),
    // levenshtein ≤ 1 matches, the q37 recursive-CC skeleton over
    // part keys, arg_min survivorship (= Spark's min_by; pk unique so
    // both are deterministic).
    "q197_entity_resolution" ->
      """WITH RECURSIVE
        |p AS (SELECT p_partkey AS pk, p_name AS nm, p_brand AS br,
        |        split_part(p_name, ' ', 2) AS noun,
        |        CAST(floor(p_retailprice * 100) AS BIGINT) AS price_c
        |      FROM part),
        |jp AS (SELECT a.pk AS pa, b.pk AS pb
        |       FROM p a JOIN p b
        |         ON a.noun = b.noun AND a.br = b.br AND a.pk < b.pk
        |       WHERE levenshtein(a.nm, b.nm) <= 1),
        |e AS (SELECT pa AS a, pb AS b FROM jp
        |      UNION ALL SELECT pb, pa FROM jp),
        |reach(a, b) AS (
        |  SELECT a, a FROM e GROUP BY a
        |  UNION
        |  SELECT e.a, r.b FROM e JOIN reach r ON e.b = r.a),
        |cc AS (SELECT a AS pk, MIN(b) AS entity_id FROM reach GROUP BY a)
        |SELECT entity_id, CAST(COUNT(*) AS BIGINT) AS n_members,
        |  arg_min(nm, p.pk) AS canonical_nm,
        |  CAST(MIN(price_c) AS BIGINT) AS price_min_c,
        |  CAST(MAX(price_c) AS BIGINT) AS price_max_c
        |FROM cc JOIN p ON p.pk = cc.pk
        |GROUP BY entity_id ORDER BY entity_id""".stripMargin,
    // q198: the q37 recursive-CC skeleton, fold = md5-hash of the
    // component label (singletons: own id), per-fold counts + the
    // recomputed (not asserted) global leak count on every row.
    "q198_family_folds" ->
      """WITH RECURSIVE
        |words AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |sh AS (SELECT DISTINCT doc_id, shingle FROM (
        |  SELECT doc_id, unnest(list_transform(range(len(w) - 2),
        |    i -> w[i+1] || ' ' || w[i+2] || ' ' || w[i+3])) AS shingle
        |  FROM words WHERE len(w) >= 3)),
        |sz AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
        |pairs AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter_cnt
        |  FROM sh a JOIN sh b USING (shingle)
        |  WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
        |jp AS (
        |  SELECT doc_a, doc_b FROM pairs
        |  JOIN sz sa ON sa.doc_id = doc_a
        |  JOIN sz sb ON sb.doc_id = doc_b
        |  WHERE inter_cnt * 2 >= (sa.sz + sb.sz - inter_cnt) * 1),
        |e AS (SELECT doc_a AS a, doc_b AS b FROM jp
        |      UNION ALL SELECT doc_b, doc_a FROM jp),
        |reach(a, b) AS (
        |  SELECT a, a FROM e GROUP BY a
        |  UNION
        |  SELECT e.a, r.b FROM e JOIN reach r ON e.b = r.a),
        |cc AS (SELECT a AS doc_id, MIN(b) AS component
        |       FROM reach GROUP BY a),
        |folded AS (
        |  SELECT d.doc_id, cc.component,
        |    ('0x' || substr(md5(CAST(COALESCE(cc.component, d.doc_id)
        |                             AS VARCHAR)), 1, 8))::BIGINT % 5 AS fold
        |  FROM documents d LEFT JOIN cc ON cc.doc_id = d.doc_id),
        |byfold AS (
        |  SELECT fold, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |    CAST(SUM(CASE WHEN component IS NOT NULL THEN 1 ELSE 0 END)
        |         AS BIGINT) AS n_family_docs,
        |    CAST(COUNT(DISTINCT component) AS BIGINT) AS n_families
        |  FROM folded GROUP BY fold),
        |leak AS (
        |  SELECT CAST(SUM(CASE WHEN n_folds > 1 THEN 1 ELSE 0 END)
        |              AS BIGINT) AS n_leaky_families
        |  FROM (SELECT component, COUNT(DISTINCT fold) AS n_folds
        |        FROM folded WHERE component IS NOT NULL GROUP BY component))
        |SELECT fold, n_docs, n_family_docs, n_families, n_leaky_families
        |FROM byfold CROSS JOIN leak ORDER BY fold""".stripMargin,
    // q199: the q190 quasi-identifier band, distinct-sensitive count
    // per group, histogram by l.
    "q199_l_diversity" ->
      """WITH g AS (
        |  SELECT c_nationkey,
        |    (CAST(floor(c_acctbal * 100) AS BIGINT) + 100000) // 200000
        |      AS bal_band,
        |    COUNT(DISTINCT c_mktsegment) AS l, COUNT(*) AS n
        |  FROM customer GROUP BY 1, 2)
        |SELECT CAST(l AS BIGINT) AS l,
        |  CAST(COUNT(*) AS BIGINT) AS n_groups,
        |  CAST(SUM(n) AS BIGINT) AS n_rows,
        |  l < 3 AS below_l3
        |FROM g GROUP BY l ORDER BY l""".stripMargin,
    "q55_range_join" ->
      """WITH err AS (
        |  SELECT event_id AS err_id, epoch_us(ts) AS s,
        |    epoch_us(ts) + 3600000000 AS e
        |  FROM events WHERE event_type = 'error'),
        |pur AS (SELECT epoch_us(ts) AS p, value FROM events
        |        WHERE event_type = 'purchase')
        |SELECT err_id, COUNT(*) AS n_purchases,
        |  CAST(SUM(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
        |    AS sum_value_e2
        |FROM err JOIN pur ON p BETWEEN s AND e
        |GROUP BY err_id ORDER BY err_id""".stripMargin,
    "q165_keeper_election" ->
      """WITH RECURSIVE
        |words AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |q AS (SELECT doc_id, len(w) AS n_words FROM words),
        |sh AS (SELECT DISTINCT doc_id, shingle FROM (
        |  SELECT doc_id, unnest(list_transform(range(len(w) - 2),
        |    i -> w[i+1] || ' ' || w[i+2] || ' ' || w[i+3])) AS shingle
        |  FROM words WHERE len(w) >= 3)),
        |sz AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
        |pairs AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter_cnt
        |  FROM sh a JOIN sh b USING (shingle)
        |  WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
        |jp AS (
        |  SELECT doc_a, doc_b FROM pairs
        |  JOIN sz sa ON sa.doc_id = doc_a
        |  JOIN sz sb ON sb.doc_id = doc_b
        |  WHERE inter_cnt * 2 >= (sa.sz + sb.sz - inter_cnt) * 1),
        |e AS (SELECT doc_a AS a, doc_b AS b FROM jp
        |      UNION ALL SELECT doc_b, doc_a FROM jp),
        |reach(a, b) AS (
        |  SELECT a, a FROM e GROUP BY a
        |  UNION
        |  SELECT e.a, r.b FROM e JOIN reach r ON e.b = r.a),
        |cc AS (SELECT a AS doc_id, MIN(b) AS component
        |       FROM reach GROUP BY a),
        |withc AS (
        |  SELECT d.doc_id, COALESCE(cc.component, d.doc_id) AS component,
        |    q.n_words
        |  FROM documents d LEFT JOIN cc USING (doc_id)
        |  JOIN q USING (doc_id)),
        |k AS (
        |  SELECT component, doc_id AS keeper_id, row_number() OVER (
        |    PARTITION BY component
        |    ORDER BY n_words DESC, doc_id ASC) AS rn
        |  FROM withc)
        |SELECT w.doc_id, w.component, k.keeper_id,
        |  w.doc_id = k.keeper_id AS kept
        |FROM withc w JOIN k ON w.component = k.component AND k.rn = 1
        |ORDER BY w.doc_id""".stripMargin,
    "q54_dedup_apply" ->
      """WITH RECURSIVE
        |words AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |sh AS (SELECT DISTINCT doc_id, shingle FROM (
        |  SELECT doc_id, unnest(list_transform(range(len(w) - 2),
        |    i -> w[i+1] || ' ' || w[i+2] || ' ' || w[i+3])) AS shingle
        |  FROM words WHERE len(w) >= 3)),
        |sz AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
        |pairs AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter_cnt
        |  FROM sh a JOIN sh b USING (shingle)
        |  WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
        |jp AS (
        |  SELECT doc_a, doc_b FROM pairs
        |  JOIN sz sa ON sa.doc_id = doc_a
        |  JOIN sz sb ON sb.doc_id = doc_b
        |  WHERE inter_cnt * 2 >= (sa.sz + sb.sz - inter_cnt) * 1),
        |e AS (SELECT doc_a AS a, doc_b AS b FROM jp
        |      UNION ALL SELECT doc_b, doc_a FROM jp),
        |reach(a, b) AS (
        |  SELECT a, a FROM e GROUP BY a
        |  UNION
        |  SELECT e.a, r.b FROM e JOIN reach r ON e.b = r.a),
        |cc AS (SELECT a AS doc_id, MIN(b) AS component
        |       FROM reach GROUP BY a)
        |SELECT d.doc_id,
        |  (cc.component IS NULL OR cc.component = d.doc_id) AS kept
        |FROM documents d LEFT JOIN cc USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    // q213: identical trade-graph degree CTEs + the SAME generated
    // band CASE (DegBandSql is the single source for both engines).
    "q213_degree_profile" ->
      s"""WITH rel AS (
         |  SELECT DISTINCT 's' || l_suppkey AS sup, 'c' || o_custkey AS cust
         |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
         |deg AS (SELECT node, COUNT(*) AS deg FROM (
         |    SELECT sup AS node FROM rel
         |    UNION ALL SELECT cust FROM rel)
         |  GROUP BY node),
         |b AS (SELECT deg, $DegBandSql AS band FROM deg)
         |SELECT CAST(band AS BIGINT) AS band,
         |  CAST(COUNT(*) AS BIGINT) AS n_nodes,
         |  CAST(MIN(deg) AS BIGINT) AS deg_min,
         |  CAST(MAX(deg) AS BIGINT) AS deg_max,
         |  CAST(SUM(deg) AS BIGINT) AS endpoint_mass
         |FROM b GROUP BY band ORDER BY band""".stripMargin,
    // q214: the plain SQL interval join — key equality + right ts in
    // [left ts, left ts + 1h]; the gap is integer microseconds.
    "q214_interval_join" ->
      """WITH er AS (
        |  SELECT user_id, event_id AS err_id,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS err_us
        |  FROM events WHERE event_type = 'error'),
        |pu AS (
        |  SELECT user_id, event_id AS pur_id,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS pur_us
        |  FROM events WHERE event_type = 'purchase')
        |SELECT er.user_id, err_id, pur_id,
        |  CAST(pur_us - err_us AS BIGINT) AS gap_us
        |FROM er JOIN pu ON er.user_id = pu.user_id
        |  AND pur_us >= err_us AND pur_us <= err_us + 3600000000
        |ORDER BY err_id, pur_id""".stripMargin,
    // q217: q214 LEFT OUTER — unmatched errors keep NULL purchase
    // columns in both engines.
    "q217_interval_outer" ->
      """WITH er AS (
        |  SELECT user_id, event_id AS err_id,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS err_us
        |  FROM events WHERE event_type = 'error'),
        |pu AS (
        |  SELECT user_id AS p_user, event_id AS pur_id,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS pur_us
        |  FROM events WHERE event_type = 'purchase')
        |SELECT er.user_id, err_id, pur_id,
        |  CAST(pur_us - err_us AS BIGINT) AS gap_us
        |FROM er LEFT JOIN pu ON er.user_id = pu.p_user
        |  AND pur_us >= err_us AND pur_us <= err_us + 3600000000
        |ORDER BY err_id, pur_id""".stripMargin,
    // q209: THE BATCH RECOMPUTE — q37's oracle verbatim. The split and
    // the merge are Spark-side implementation detail; the theorem under
    // test is that they are invisible in the result.
    "q209_incremental_cc" ->
      """WITH RECURSIVE
        |words AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |sh AS (SELECT DISTINCT doc_id, shingle FROM (
        |  SELECT doc_id, unnest(list_transform(range(len(w) - 2),
        |    i -> w[i+1] || ' ' || w[i+2] || ' ' || w[i+3])) AS shingle
        |  FROM words WHERE len(w) >= 3)),
        |sz AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
        |pairs AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter_cnt
        |  FROM sh a JOIN sh b USING (shingle)
        |  WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
        |jp AS (
        |  SELECT doc_a, doc_b FROM pairs
        |  JOIN sz sa ON sa.doc_id = doc_a
        |  JOIN sz sb ON sb.doc_id = doc_b
        |  WHERE inter_cnt * 2 >= (sa.sz + sb.sz - inter_cnt) * 1),
        |e AS (SELECT doc_a AS a, doc_b AS b FROM jp
        |      UNION ALL SELECT doc_b, doc_a FROM jp),
        |reach(a, b) AS (
        |  SELECT a, a FROM e GROUP BY a
        |  UNION
        |  SELECT e.a, r.b FROM e JOIN reach r ON e.b = r.a)
        |SELECT a AS doc_id, MIN(b) AS component
        |FROM reach GROUP BY a ORDER BY doc_id""".stripMargin,
    // q210: the running max as a window over arrival order (valid at
    // oracle scale), the same three gap cuts and floor rates.
    "q210_watermark_audit" ->
      """WITH ev AS (
        |  SELECT event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us
        |  FROM events),
        |rm AS (SELECT *, MAX(ts_us) OVER (ORDER BY event_id) AS wm_src
        |       FROM ev),
        |a AS (SELECT COUNT(*) AS n_events,
        |  SUM(CASE WHEN ts_us < wm_src - 3600000000 THEN 1 ELSE 0 END)
        |    AS l1,
        |  SUM(CASE WHEN ts_us < wm_src - 21600000000 THEN 1 ELSE 0 END)
        |    AS l6,
        |  SUM(CASE WHEN ts_us < wm_src - 86400000000 THEN 1 ELSE 0 END)
        |    AS l24
        |  FROM rm)
        |SELECT gap_hours, n_late, n_events,
        |  CAST((1000000 * n_late) // n_events AS BIGINT) AS late_rate_e6
        |FROM (
        |  SELECT CAST(1 AS BIGINT) AS gap_hours,
        |    CAST(l1 AS BIGINT) AS n_late,
        |    CAST(n_events AS BIGINT) AS n_events FROM a
        |  UNION ALL
        |  SELECT CAST(6 AS BIGINT), CAST(l6 AS BIGINT),
        |    CAST(n_events AS BIGINT) FROM a
        |  UNION ALL
        |  SELECT CAST(24 AS BIGINT), CAST(l24 AS BIGINT),
        |    CAST(n_events AS BIGINT) FROM a)
        |ORDER BY gap_hours""".stripMargin,
    // q205: the q37 recursive-CC skeleton with the pair stage ALSO
    // emitting exact jaccard, keeper = component (min-id election),
    // direct evidence joined on (keeper, member).
    "q205_dedup_explain" ->
      """WITH RECURSIVE
        |words AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |sh AS (SELECT DISTINCT doc_id, shingle FROM (
        |  SELECT doc_id, unnest(list_transform(range(len(w) - 2),
        |    i -> w[i+1] || ' ' || w[i+2] || ' ' || w[i+3])) AS shingle
        |  FROM words WHERE len(w) >= 3)),
        |sz AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
        |pairs AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter_cnt
        |  FROM sh a JOIN sh b USING (shingle)
        |  WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
        |jpc AS (
        |  SELECT doc_a, doc_b, inter_cnt,
        |    sa.sz + sb.sz - inter_cnt AS union_cnt
        |  FROM pairs
        |  JOIN sz sa ON sa.doc_id = doc_a
        |  JOIN sz sb ON sb.doc_id = doc_b
        |  WHERE inter_cnt * 2 >= (sa.sz + sb.sz - inter_cnt) * 1),
        |e AS (SELECT doc_a AS a, doc_b AS b FROM jpc
        |      UNION ALL SELECT doc_b, doc_a FROM jpc),
        |reach(a, b) AS (
        |  SELECT a, a FROM e GROUP BY a
        |  UNION
        |  SELECT e.a, r.b FROM e JOIN reach r ON e.b = r.a),
        |cc AS (SELECT a AS doc_id, MIN(b) AS component
        |       FROM reach GROUP BY a)
        |SELECT d.doc_id,
        |  (cc.component IS NULL OR d.doc_id = cc.component) AS kept,
        |  cc.component,
        |  COALESCE(cc.component, d.doc_id) AS keeper,
        |  CAST((1000000 * jpc.inter_cnt) // jpc.union_cnt AS BIGINT)
        |    AS keeper_jac_e6
        |FROM documents d
        |LEFT JOIN cc ON cc.doc_id = d.doc_id
        |LEFT JOIN jpc ON jpc.doc_a = COALESCE(cc.component, d.doc_id)
        |            AND jpc.doc_b = d.doc_id
        |ORDER BY d.doc_id""".stripMargin,
    // q206: the argmin formulation (valid at oracle scale) — all
    // (event, order) pairs per user, rank by (abs distance, date) so
    // equidistant ties take the earlier date, left join back to the
    // event panel for no-order users.
    "q206_nearest_event" ->
      """WITH j AS (
        |  SELECT e.event_id, e.user_id, e.ts, o.o_orderdate,
        |    abs(epoch_us(CAST(e.ts AS TIMESTAMP))
        |        - epoch_us(CAST(o.o_orderdate AS TIMESTAMP))) AS d
        |  FROM events e JOIN orders o ON o.o_custkey = e.user_id),
        |r AS (SELECT *, row_number() OVER (PARTITION BY event_id
        |        ORDER BY d, o_orderdate) AS rn FROM j)
        |SELECT e.event_id, e.user_id,
        |  CAST(r.o_orderdate AS DATE) AS nearest_date,
        |  CAST(date_diff('day', CAST(e.ts AS DATE), r.o_orderdate)
        |    AS BIGINT) AS dist_days
        |FROM events e
        |LEFT JOIN r ON r.event_id = e.event_id AND r.rn = 1
        |ORDER BY e.event_id""".stripMargin,
    "q38_asof_join" ->
      """SELECT e.event_id, e.user_id,
        |  CAST(o.o_orderdate AS DATE) AS asof_date
        |FROM events e ASOF LEFT JOIN orders o
        |  ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate
        |ORDER BY e.event_id""".stripMargin,
    // q39: the salt must be invisible in the result — the oracle is the
    // PLAIN join. (q40 is approximate by design → no oracle, rows-only.)
    "q39_salted_join" ->
      """SELECT c_mktsegment, COUNT(*) AS n,
        |  CAST(SUM(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
        |    AS sum_value_e2
        |FROM events JOIN customer ON user_id = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "q41_scaffold_rolling" ->
      """WITH daily AS (
        |  SELECT CAST(o_orderdate AS DATE) AS d, COUNT(*) AS n
        |  FROM orders
        |  WHERE o_orderpriority = '1-URGENT' AND o_orderstatus = 'P'
        |  GROUP BY 1),
        |dim AS (
        |  SELECT unnest(generate_series(
        |    (SELECT MIN(d) FROM daily),
        |    (SELECT MAX(d) FROM daily), INTERVAL 1 DAY))::DATE AS d),
        |dense AS (
        |  SELECT dim.d, COALESCE(daily.n, 0) AS n
        |  FROM dim LEFT JOIN daily ON dim.d = daily.d)
        |SELECT d, CAST(n AS BIGINT) AS n,
        |  CAST(SUM(n) OVER (ORDER BY d
        |    RANGE BETWEEN INTERVAL 6 DAYS PRECEDING AND CURRENT ROW)
        |    AS BIGINT) AS rolling_n
        |FROM dense ORDER BY d""".stripMargin,
    "q42_pivot" ->
      """SELECT o_orderpriority,
        |  CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS f_cnt,
        |  CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS o_cnt,
        |  CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS p_cnt
        |FROM orders GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,
    "q43_unpivot" ->
      """WITH p AS (
        |  SELECT o_orderpriority,
        |    CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS f_cnt,
        |    CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS o_cnt,
        |    CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS p_cnt
        |  FROM orders GROUP BY o_orderpriority)
        |SELECT o_orderpriority, status, cnt FROM (
        |  SELECT o_orderpriority, 'F' AS status, f_cnt AS cnt FROM p
        |  UNION ALL SELECT o_orderpriority, 'O', o_cnt FROM p
        |  UNION ALL SELECT o_orderpriority, 'P', p_cnt FROM p)
        |ORDER BY o_orderpriority, status""".stripMargin,
    "q102_window_suite" ->
      """SELECT o_custkey, o_orderkey,
        |  CAST(row_number() OVER w AS BIGINT) AS seq,
        |  CAST(date_diff('day',
        |    CAST(lag(o_orderdate, 1) OVER w AS DATE),
        |    CAST(o_orderdate AS DATE)) AS BIGINT) AS gap_days,
        |  lead(o_orderkey, 1) OVER w AS next_order,
        |  CAST(ntile(4) OVER (PARTITION BY o_custkey
        |    ORDER BY o_totalprice, o_orderkey) AS BIGINT) AS price_quartile,
        |  first_value(o_orderkey) OVER w AS first_order,
        |  last_value(o_orderkey) OVER (PARTITION BY o_custkey
        |    ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |    AS last_order
        |FROM orders
        |WHERE o_custkey % 20 = 7
        |WINDOW w AS (PARTITION BY o_custkey
        |             ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_custkey, seq""".stripMargin,
    "q103_exact_median" ->
      """WITH r AS (
        |  SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS qty,
        |    row_number() OVER (PARTITION BY l_returnflag
        |      ORDER BY l_quantity) AS rn,
        |    COUNT(*) OVER (PARTITION BY l_returnflag) AS n
        |  FROM lineitem),
        |m AS (
        |  SELECT l_returnflag, qty, n,
        |    (CASE WHEN rn = (n+1)//2 THEN 1 ELSE 0 END +
        |     CASE WHEN rn = n//2 + 1 THEN 1 ELSE 0 END) AS w
        |  FROM r)
        |SELECT l_returnflag, CAST(MAX(n) AS BIGINT) AS n_rows,
        |  CAST(SUM(qty * w) AS BIGINT) AS median2
        |FROM m WHERE w > 0 GROUP BY 1 ORDER BY 1""".stripMargin,
    "q105_session_overlap" ->
      s"""WITH $sessionIvCte,
        |p AS (SELECT a.user_id AS user_a, b.user_id AS user_b
        |      FROM iv a JOIN iv b
        |      ON a.user_id < b.user_id AND a.s <= b.e AND b.s <= a.e)
        |SELECT user_a, user_b, CAST(COUNT(*) AS BIGINT) AS n_overlaps
        |FROM p GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q106_peak_concurrency" ->
      s"""WITH $sessionIvCte,
        |d AS (SELECT s AS us, 1 AS net FROM iv
        |      UNION ALL SELECT e + 1, -1 FROM iv),
        |g AS (SELECT us, CAST(SUM(net) AS BIGINT) AS net FROM d
        |      GROUP BY 1),
        |c AS (SELECT us,
        |  SUM(net) OVER (ORDER BY us ROWS UNBOUNDED PRECEDING) AS conc
        |  FROM g)
        |SELECT CAST((SELECT MAX(conc) FROM c) AS BIGINT) AS peak,
        |  CAST((SELECT MIN(us) FROM c
        |        WHERE conc = (SELECT MAX(conc) FROM c)) AS BIGINT)
        |    AS at_us""".stripMargin,
    "q108_topk_per_group" ->
      """WITH r AS (
        |  SELECT user_id, event_id, value,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY value DESC, event_id) AS rk
        |  FROM events)
        |SELECT user_id, CAST(rk AS BIGINT) AS rk, event_id, value
        |FROM r WHERE rk <= 3 ORDER BY user_id, rk""".stripMargin,
    "q109_cube" ->
      """SELECT COALESCE(o_orderpriority, '(all)') AS pri,
        |  COALESCE(o_orderstatus, '(all)') AS status,
        |  CAST(GROUPING(o_orderpriority) * 2 + GROUPING(o_orderstatus)
        |    AS BIGINT) AS gid,
        |  CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS revenue
        |FROM orders GROUP BY CUBE (o_orderpriority, o_orderstatus)
        |ORDER BY gid, pri, status""".stripMargin,
    "q110_funnel" ->
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) AS us, event_id, event_type
        |  FROM events),
        |w AS (
        |  SELECT user_id, us, event_id, event_type,
        |    MIN(CASE WHEN event_type = 'view' THEN us END)
        |      OVER (PARTITION BY user_id ORDER BY us, event_id
        |            ROWS UNBOUNDED PRECEDING) AS v_min
        |  FROM e),
        |w2 AS (
        |  SELECT user_id, us, event_id, event_type, v_min,
        |    MIN(CASE WHEN event_type = 'click' AND us >= v_min
        |             AND us <= v_min + 86400000000 THEN us END)
        |      OVER (PARTITION BY user_id ORDER BY us, event_id
        |            ROWS UNBOUNDED PRECEDING) AS c_min
        |  FROM w),
        |f AS (
        |  SELECT user_id,
        |    MIN(CASE WHEN event_type = 'view' THEN us END) AS t1,
        |    MIN(CASE WHEN event_type = 'click' AND us >= v_min
        |             AND us <= v_min + 86400000000 THEN us END) AS t2,
        |    MIN(CASE WHEN event_type = 'purchase' AND us >= c_min
        |             AND us <= c_min + 86400000000 THEN us END) AS t3
        |  FROM w2 GROUP BY user_id),
        |d AS (
        |  SELECT user_id,
        |    CASE WHEN t3 IS NOT NULL THEN 3 WHEN t2 IS NOT NULL THEN 2
        |         WHEN t1 IS NOT NULL THEN 1 ELSE 0 END AS depth
        |  FROM f)
        |SELECT CAST(depth AS BIGINT) AS depth,
        |  CAST(COUNT(*) AS BIGINT) AS n_users
        |FROM d GROUP BY 1 ORDER BY 1""".stripMargin,
    "q111_cohort_retention" ->
      """WITH a AS (
        |  SELECT DISTINCT user_id,
        |    (CAST(ts AS DATE) - DATE '2024-01-01') // 7 AS wk
        |  FROM events WHERE event_id % 7 = 0),
        |c AS (SELECT user_id, MIN(wk) AS cohort FROM a GROUP BY 1)
        |SELECT CAST(c.cohort AS BIGINT) AS cohort,
        |  CAST(a.wk - c.cohort AS BIGINT) AS age,
        |  CAST(COUNT(*) AS BIGINT) AS n_users
        |FROM a JOIN c ON a.user_id = c.user_id
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q112_scd2" ->
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) AS us, event_id, event_type
        |  FROM events WHERE user_id % 20 = 3),
        |ch AS (
        |  SELECT user_id, us, event_id, event_type,
        |    lag(event_type) OVER w AS prev_type
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
        |v AS (
        |  SELECT user_id, us AS valid_from, event_type
        |  FROM ch WHERE prev_type IS NULL OR prev_type <> event_type),
        |s AS (
        |  SELECT user_id, event_type, valid_from,
        |    lead(valid_from) OVER (PARTITION BY user_id
        |      ORDER BY valid_from) - 1 AS valid_to
        |  FROM v)
        |SELECT user_id, event_type, valid_from, valid_to,
        |  valid_to IS NULL AS is_current
        |FROM s ORDER BY user_id, valid_from""".stripMargin,
    "q113_session_window" ->
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) AS us, event_id FROM events
        |  WHERE user_id % 10 = 1),
        |s AS (SELECT user_id, us,
        |    CASE WHEN us - lag(us) OVER w >= 14400000000
        |         OR lag(us) OVER w IS NULL
        |    THEN 1 ELSE 0 END AS new_s
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
        |s2 AS (SELECT user_id, us, SUM(new_s) OVER (PARTITION BY user_id
        |    ORDER BY us ROWS UNBOUNDED PRECEDING) AS session_id FROM s)
        |SELECT user_id, MIN(us) AS w_start,
        |  MAX(us) + 14400000000 AS w_end,
        |  CAST(COUNT(*) AS BIGINT) AS n_events
        |FROM s2 GROUP BY user_id, session_id
        |ORDER BY user_id, w_start""".stripMargin,
    "q114_islands" ->
      """WITH d AS (
        |  SELECT DISTINCT user_id,
        |    CAST(CAST(ts AS DATE) - DATE '2024-01-01' AS BIGINT) AS day
        |  FROM events WHERE event_id % 5 = 0),
        |r AS (
        |  SELECT user_id, day,
        |    day - row_number() OVER (PARTITION BY user_id ORDER BY day)
        |      AS grp
        |  FROM d),
        |i AS (
        |  SELECT user_id, grp, CAST(COUNT(*) AS BIGINT) AS len,
        |    MIN(day) AS start_day
        |  FROM r GROUP BY 1, 2)
        |SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_islands,
        |  CAST(MAX(len) AS BIGINT) AS longest,
        |  CAST(MIN(start_day) AS BIGINT) AS first_day
        |FROM i GROUP BY 1 ORDER BY 1""".stripMargin,
    "q115_forget_sweep" ->
      """WITH f AS (SELECT DISTINCT user_id FROM events
        |           WHERE user_id % 13 = 5),
        |a AS (SELECT COUNT(*) AS before_rows FROM events),
        |k AS (SELECT COUNT(*) AS kept_rows FROM events
        |      WHERE user_id NOT IN (SELECT user_id FROM f))
        |SELECT CAST((SELECT COUNT(*) FROM f) AS BIGINT)
        |    AS n_forgotten_users,
        |  CAST((SELECT before_rows FROM a) AS BIGINT) AS rows_before,
        |  CAST((SELECT kept_rows FROM k) AS BIGINT) AS rows_after,
        |  CAST((SELECT before_rows FROM a) - (SELECT kept_rows FROM k)
        |    AS BIGINT) AS rows_removed""".stripMargin,
    "q116_json_extract" ->
      """WITH j AS (
        |  SELECT event_type,
        |    CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        |  FROM events)
        |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(k) AS BIGINT) AS sum_k,
        |  CAST(MIN(k) AS BIGINT) AS min_k, CAST(MAX(k) AS BIGINT) AS max_k,
        |  CAST(COUNT(DISTINCT k) AS BIGINT) AS n_k
        |FROM j GROUP BY 1 ORDER BY 1""".stripMargin,
    "q117_hof_suite" ->
      """SELECT vec_id,
        |  CAST(len(list_filter(embedding, x -> x > 0)) AS BIGINT)
        |    AS n_pos,
        |  CAST(list_sum(list_transform(embedding,
        |    x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)))
        |    AS BIGINT) AS sum_e3,
        |  CAST(list_sum(list_transform(embedding,
        |    x -> CAST(floor(CAST(x AS DOUBLE) * CAST(x AS DOUBLE) * 1000)
        |      AS BIGINT))) AS BIGINT) AS sumsq_e3
        |FROM embeddings WHERE vec_id % 25 = 0 ORDER BY vec_id""".stripMargin,
    "q118_time_weighted" ->
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) AS us, event_id, value FROM events
        |  WHERE user_id % 25 = 2),
        |i AS (
        |  SELECT user_id, value,
        |    lead(us) OVER (PARTITION BY user_id ORDER BY us, event_id)
        |      - us AS dt
        |  FROM e)
        |SELECT user_id,
        |  CAST(SUM(dt) AS BIGINT) AS total_dt,
        |  CAST(SUM(CAST(floor(value * 100) AS BIGINT) * dt) AS BIGINT)
        |    AS weighted_v2
        |FROM i WHERE dt IS NOT NULL GROUP BY 1 ORDER BY 1""".stripMargin,
    "q119_ratio_to_report" ->
      """WITH g AS (
        |  SELECT o_orderstatus AS status, o_orderpriority AS pri,
        |    CAST(COUNT(*) AS BIGINT) AS n
        |  FROM orders GROUP BY 1, 2)
        |SELECT status, pri, n,
        |  CAST(n * 1000000 // SUM(n) OVER (PARTITION BY status) AS BIGINT)
        |    AS share_ppm
        |FROM g ORDER BY status, pri""".stripMargin,
    "q120_setops2" ->
      """WITH hi AS (SELECT DISTINCT o_custkey AS k FROM orders
        |            WHERE o_totalprice > 300000),
        |urgent AS (SELECT DISTINCT o_custkey AS k FROM orders
        |           WHERE o_orderpriority = '1-URGENT')
        |SELECT 'both' AS tag, CAST(COUNT(*) AS BIGINT) AS n
        |FROM (SELECT k FROM hi INTERSECT SELECT k FROM urgent)
        |UNION ALL
        |SELECT 'hi_only', CAST(COUNT(*) AS BIGINT)
        |FROM (SELECT k FROM hi EXCEPT SELECT k FROM urgent)
        |UNION ALL
        |SELECT 'urgent_only', CAST(COUNT(*) AS BIGINT)
        |FROM (SELECT k FROM urgent EXCEPT SELECT k FROM hi)
        |ORDER BY tag""".stripMargin,
    "q121_mode" ->
      """WITH c AS (
        |  SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |m AS (
        |  SELECT user_id, event_type, n,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY n DESC, event_type) AS rk
        |  FROM c)
        |SELECT user_id, event_type AS mode_type, n AS mode_n
        |FROM m WHERE rk = 1 ORDER BY user_id""".stripMargin,
    "q122_rolling_wau" ->
      """WITH a AS (
        |  SELECT DISTINCT
        |    CAST(CAST(ts AS DATE) - DATE '2024-01-01' AS BIGINT) AS day,
        |    user_id
        |  FROM events WHERE event_id % 11 = 0),
        |spine AS (SELECT DISTINCT day FROM a)
        |SELECT s.day, CAST(COUNT(DISTINCT x.user_id) AS BIGINT) AS wau
        |FROM spine s JOIN a x ON x.day BETWEEN s.day - 6 AND s.day
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q123_table_checksum" ->
      """SELECT
        |  ('0x' || substr(md5(CAST(l_orderkey*10+l_linenumber AS VARCHAR)),
        |    1, 4))::BIGINT % 16 AS bucket,
        |  CAST(COUNT(*) AS BIGINT) AS n_rows,
        |  CAST(SUM(('0x' || substr(md5(
        |    CAST(l_orderkey AS VARCHAR) || '|' ||
        |    CAST(l_linenumber AS VARCHAR) || '|' ||
        |    CAST(l_partkey AS VARCHAR) || '|' ||
        |    CAST(CAST(l_quantity AS BIGINT) AS VARCHAR)), 1, 12))::BIGINT)
        |    AS BIGINT) AS checksum
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    "q124_weighted_median" ->
      """WITH b AS (
        |  SELECT l_returnflag AS flag,
        |    CAST(floor(l_extendedprice * 100) AS BIGINT) AS price2,
        |    CAST(l_quantity AS BIGINT) AS wt
        |  FROM lineitem),
        |r AS (
        |  SELECT flag, price2, wt,
        |    SUM(wt) OVER (PARTITION BY flag ORDER BY price2, wt
        |      ROWS UNBOUNDED PRECEDING) AS cumw,
        |    SUM(wt) OVER (PARTITION BY flag) AS totw
        |  FROM b),
        |m AS (
        |  SELECT flag, price2, cumw, totw,
        |    row_number() OVER (PARTITION BY flag ORDER BY cumw) AS rk
        |  FROM r WHERE 2 * cumw >= totw)
        |SELECT flag, CAST(price2 AS BIGINT) AS wmedian2,
        |  CAST(totw AS BIGINT) AS total_weight
        |FROM m WHERE rk = 1 ORDER BY flag""".stripMargin,
    "q125_transitions" ->
      """WITH e AS (
        |  SELECT user_id, event_type, epoch_us(ts) AS us, event_id
        |  FROM events),
        |t AS (
        |  SELECT lag(event_type) OVER (PARTITION BY user_id
        |    ORDER BY us, event_id) AS prev_type, event_type
        |  FROM e)
        |SELECT prev_type, event_type AS next_type,
        |  CAST(COUNT(*) AS BIGINT) AS n
        |FROM t WHERE prev_type IS NOT NULL
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q126_heavy_hitters" ->
      """WITH t AS (
        |  SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
        |v AS (SELECT tok FROM t WHERE length(tok) > 0),
        |n AS (SELECT COUNT(*) AS total FROM v),
        |c AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS n FROM v GROUP BY 1)
        |SELECT tok, n FROM c
        |WHERE n * 200 >= (SELECT total FROM n)
        |ORDER BY n DESC, tok""".stripMargin,
    "q127_skyline" ->
      """WITH g AS (
        |  SELECT CAST(p_size AS BIGINT) AS x,
        |    MAX(-CAST(floor(p_retailprice * 100) AS BIGINT)) AS y
        |  FROM part GROUP BY 1),
        |s AS (
        |  SELECT x, y, MAX(y) OVER (ORDER BY x DESC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
        |  FROM g)
        |SELECT x, CAST(-y AS BIGINT) AS price2 FROM s
        |WHERE pm IS NULL OR y > pm ORDER BY x""".stripMargin,
    "q128_listagg" ->
      """SELECT o_orderstatus AS status,
        |  string_agg(DISTINCT o_orderpriority, ','
        |    ORDER BY o_orderpriority) AS priorities,
        |  CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT) AS n_pri
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,
    "q129_map_roundtrip" ->
      """WITH c AS (
        |  SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM events WHERE user_id % 30 = 4 GROUP BY 1, 2)
        |SELECT user_id, event_type, n FROM c
        |ORDER BY user_id, event_type""".stripMargin,
    // q44: deterministic latest row per key.
    "q44_latest_per_key" ->
      """SELECT user_id, event_id AS latest_event_id,
        |  date_trunc('second', ts) AS latest_ts,
        |  event_type AS latest_type
        |FROM (SELECT *, row_number() OVER (PARTITION BY user_id
        |        ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn FROM events)
        |WHERE rn = 1 ORDER BY user_id""".stripMargin,
    // q45: only the deterministic envelope is oracle-visible; the oracle
    // asserts within_bound = TRUE so an out-of-tolerance HLL estimate
    // becomes a hash mismatch.
    // q40: the oracle states the exact group counts and claims every
    // accuracy flag TRUE — a sketch drifting out of its band breaks the
    // hash match (see q40Sketches Scaladoc for the band arithmetic).
    "q40_sketches" ->
      """SELECT event_type, COUNT(*) AS n,
        |  TRUE AS p50_within_bound,
        |  TRUE AS p95_within_bound,
        |  TRUE AS users_within_bound
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q45_hll_merge" ->
      """SELECT event_type,
        |  COUNT(DISTINCT CAST(ts AS DATE)) AS n_daily_sketches,
        |  COUNT(DISTINCT user_id) AS exact_users,
        |  TRUE AS within_bound
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q53_stratified_sample" ->
      """WITH s AS (
        |  SELECT *,
        |    ('0x' || substr(md5(event_id::VARCHAR), 1, 8))::BIGINT % 100 AS b,
        |    CASE event_type WHEN 'purchase' THEN 100 WHEN 'view' THEN 50
        |         WHEN 'click' THEN 10 ELSE 0 END AS r
        |  FROM events)
        |SELECT event_type, COUNT(*) AS n,
        |  MIN(event_id) AS min_id, MAX(event_id) AS max_id,
        |  CAST(SUM(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
        |    AS sum_value_e2
        |FROM s WHERE b < r GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q46_sql_correlated" ->
      """SELECT p_type, COUNT(*) AS n_above
        |FROM part p1
        |WHERE CAST(p_retailprice AS DECIMAL(18,2)) *
        |      (SELECT COUNT(*) FROM part p2 WHERE p2.p_type = p1.p_type) >
        |      (SELECT SUM(CAST(p_retailprice AS DECIMAL(18,2)))
        |       FROM part p2 WHERE p2.p_type = p1.p_type)
        |GROUP BY p_type ORDER BY p_type""".stripMargin,
    // q88: one block per profiled column, generated so the five blocks
    // cannot drift; min/max on the native type, rendered as VARCHAR.
    "q88_profile" -> {
      val cols = Seq("l_orderkey", "l_suppkey", "l_linenumber",
                     "l_returnflag", "l_linestatus")
      cols.map { c =>
        s"""SELECT '$c' AS col_name, CAST(COUNT(*) AS BIGINT) AS n_rows,
           |  CAST(COUNT(*) - COUNT($c) AS BIGINT) AS n_null,
           |  CAST(COUNT(DISTINCT $c) AS BIGINT) AS n_distinct,
           |  MIN($c)::VARCHAR AS min_val, MAX($c)::VARCHAR AS max_val
           |FROM lineitem""".stripMargin
      }.mkString("SELECT * FROM (\n", "\nUNION ALL\n",
                 "\n) ORDER BY col_name")
    },
    // q134: the oracle re-runs the IDENTICAL integer recurrence as
    // unrolled CTEs (constants must stay in lockstep with q134Pagerank:
    // 1e12 units, damping 85/100, 5 iterations) — one drifted floor
    // division anywhere in 5 rounds is a hash mismatch.
    "q134_pagerank" -> pagerankOracle(weighted = false),
    "q140_pagerank_weighted" -> pagerankOracle(weighted = true),
    "q141_hits" -> hitsOracleSql,
    "q147_ppr" -> pprOracleSql,
    "q156_kcore" -> kcoreOracleSql,
    "q157_bfs_hops" -> bfsOracleSql,
    "q163_weighted_paths" -> weightedPathsOracleSql,
    "q182_dedup_yield" ->
      """WITH RECURSIVE
        |words AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |sh AS (SELECT DISTINCT doc_id, shingle FROM (
        |  SELECT doc_id, unnest(list_transform(range(len(w) - 2),
        |    i -> w[i+1] || ' ' || w[i+2] || ' ' || w[i+3])) AS shingle
        |  FROM words WHERE len(w) >= 3)),
        |sz AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
        |pairs AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter_cnt
        |  FROM sh a JOIN sh b USING (shingle)
        |  WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
        |jp AS (
        |  SELECT doc_a, doc_b FROM pairs
        |  JOIN sz sa ON sa.doc_id = doc_a
        |  JOIN sz sb ON sb.doc_id = doc_b
        |  WHERE inter_cnt * 2 >= (sa.sz + sb.sz - inter_cnt) * 1),
        |e AS (SELECT doc_a AS a, doc_b AS b FROM jp
        |      UNION ALL SELECT doc_b, doc_a FROM jp),
        |reach(a, b) AS (
        |  SELECT a, a FROM e GROUP BY a
        |  UNION
        |  SELECT e.a, r.b FROM e JOIN reach r ON e.b = r.a),
        |cc AS (SELECT a AS doc_id, MIN(b) AS component
        |       FROM reach GROUP BY a),
        |agg AS (
        |  SELECT (SELECT COUNT(*) FROM documents) AS n_docs,
        |    (SELECT COUNT(DISTINCT md5(text)) FROM documents)
        |      AS n_exact_kept,
        |    (SELECT COUNT(*) FROM documents d LEFT JOIN cc USING (doc_id)
        |     WHERE cc.component IS NULL OR cc.component = d.doc_id)
        |      AS n_neardup_kept)
        |SELECT n_docs, n_exact_kept, n_neardup_kept,
        |  (n_exact_kept * 1000000) // n_docs AS exact_rate_e6,
        |  (n_neardup_kept * 1000000) // n_docs AS neardup_rate_e6
        |FROM agg""".stripMargin,
    "q180_chao1" ->
      """WITH toks AS (
        |  SELECT t AS term FROM (
        |    SELECT unnest(string_split(text, ' ')) AS t FROM documents)
        |  WHERE length(t) > 0),
        |c AS (SELECT term, COUNT(*) AS c FROM toks GROUP BY 1)
        |SELECT COUNT(*) AS n_types,
        |  CAST(SUM(c) AS BIGINT) AS n_tokens,
        |  CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
        |  CAST(SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS f2,
        |  CAST(100 * COUNT(*)
        |    + (100 * SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END)
        |           * (SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) - 1))
        |      // (2 * (SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) + 1))
        |    AS BIGINT) AS chao1_e2
        |FROM c""".stripMargin,
    "q181_source_gini" ->
      """WITH sizes AS (
        |  SELECT source, COUNT(*) AS x FROM documents GROUP BY 1),
        |r AS (SELECT x, row_number() OVER (ORDER BY x, source) AS i
        |      FROM sizes)
        |SELECT COUNT(*) AS n_sources,
        |  CAST(SUM(x) AS BIGINT) AS n_docs,
        |  CAST((2000000 * SUM(i * x)) // (COUNT(*) * SUM(x))
        |    - (1000000 * (COUNT(*) + 1)) // COUNT(*) AS BIGINT)
        |    AS gini_e6
        |FROM r""".stripMargin,
    "q179_null_semantics" ->
      """WITH o AS (
        |  SELECT o_orderpriority, nullif(o_orderstatus, 'F') AS st,
        |    CASE WHEN o_orderstatus = 'F' THEN NULL
        |         ELSE CAST(floor(o_totalprice * 100) AS BIGINT) END
        |      AS cents
        |  FROM orders),
        |base AS (
        |  SELECT o_orderpriority, st, COUNT(*) AS n_rows,
        |    COUNT(st) AS n_st, COUNT(DISTINCT st) AS n_distinct_st,
        |    COALESCE(SUM(cents), -1) AS sum_cents_nv
        |  FROM o GROUP BY 1, 2),
        |g AS (SELECT o_orderpriority AS p, st, COUNT(*) AS c
        |      FROM o GROUP BY 1, 2),
        |pairs AS (
        |  SELECT a.p, a.st, SUM(b.c) AS nullsafe_partner_rows
        |  FROM g a JOIN g b ON a.st IS NOT DISTINCT FROM b.st
        |  GROUP BY 1, 2)
        |SELECT base.o_orderpriority, base.st, n_rows, n_st,
        |  n_distinct_st, CAST(sum_cents_nv AS BIGINT) AS sum_cents_nv,
        |  CAST(nullsafe_partner_rows AS BIGINT) AS nullsafe_partner_rows
        |FROM base JOIN pairs
        |  ON base.o_orderpriority = pairs.p
        | AND base.st IS NOT DISTINCT FROM pairs.st
        |ORDER BY base.o_orderpriority, base.st ASC NULLS FIRST""".stripMargin,
    "q177_transitivity" ->
      """WITH words AS (SELECT doc_id, string_split(text, ' ') AS w
        |               FROM documents),
        |sh AS (SELECT DISTINCT doc_id, shingle FROM (
        |  SELECT doc_id, unnest(list_transform(range(len(w) - 2),
        |    i -> w[i+1] || ' ' || w[i+2] || ' ' || w[i+3])) AS shingle
        |  FROM words WHERE len(w) >= 3)),
        |sz AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
        |pairs AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    COUNT(*) AS inter_cnt
        |  FROM sh a JOIN sh b USING (shingle)
        |  WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
        |jp AS (
        |  SELECT doc_a, doc_b FROM pairs
        |  JOIN sz sa ON sa.doc_id = doc_a
        |  JOIN sz sb ON sb.doc_id = doc_b
        |  WHERE inter_cnt * 2 >= (sa.sz + sb.sz - inter_cnt) * 1),
        |wg AS (SELECT doc_a AS x, doc_b AS mid FROM jp
        |       UNION ALL SELECT doc_b, doc_a FROM jp),
        |wp AS (
        |  SELECT a.x, b.x AS y FROM wg a JOIN wg b ON a.mid = b.mid
        |  WHERE a.x < b.x),
        |agg AS (
        |  SELECT (SELECT COUNT(*) FROM jp) AS n_pairs,
        |    (SELECT COUNT(*) FROM wp) AS n_wedges,
        |    (SELECT COUNT(*) FROM wp
        |     JOIN jp ON wp.x = jp.doc_a AND wp.y = jp.doc_b) AS n_closed)
        |SELECT n_pairs, n_wedges, n_closed,
        |  CASE WHEN n_wedges = 0 THEN 0
        |       ELSE (n_closed * 1000000) // n_wedges END AS closure_e6
        |FROM agg""".stripMargin,
    // q225: ONE shingle/intersection stage, two threshold filters, two
    // recursive-CC skeletons (the q37 chain parameterized by cut), the
    // min-id keeper rule per cut, one confusion row.
    "q225_threshold_sensitivity" ->
      """WITH RECURSIVE
        |words AS (SELECT doc_id, string_split(text, ' ') AS w
        |          FROM documents),
        |sh AS (SELECT DISTINCT doc_id, shingle FROM (
        |  SELECT doc_id, unnest(list_transform(range(len(w) - 2),
        |    i -> w[i+1] || ' ' || w[i+2] || ' ' || w[i+3])) AS shingle
        |  FROM words WHERE len(w) >= 3)),
        |sz AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
        |pairs AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    COUNT(*) AS inter_cnt
        |  FROM sh a JOIN sh b USING (shingle)
        |  WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
        |jpl AS (
        |  SELECT doc_a, doc_b FROM pairs
        |  JOIN sz sa ON sa.doc_id = doc_a
        |  JOIN sz sb ON sb.doc_id = doc_b
        |  WHERE inter_cnt * 5 >= (sa.sz + sb.sz - inter_cnt) * 4),
        |jps AS (
        |  SELECT doc_a, doc_b FROM pairs
        |  JOIN sz sa ON sa.doc_id = doc_a
        |  JOIN sz sb ON sb.doc_id = doc_b
        |  WHERE inter_cnt * 10 >= (sa.sz + sb.sz - inter_cnt) * 9),
        |el AS (SELECT doc_a AS a, doc_b AS b FROM jpl
        |       UNION ALL SELECT doc_b, doc_a FROM jpl),
        |es AS (SELECT doc_a AS a, doc_b AS b FROM jps
        |       UNION ALL SELECT doc_b, doc_a FROM jps),
        |reachl(a, b) AS (
        |  SELECT a, a FROM el GROUP BY a
        |  UNION
        |  SELECT el.a, r.b FROM el JOIN reachl r ON el.b = r.a),
        |reachs(a, b) AS (
        |  SELECT a, a FROM es GROUP BY a
        |  UNION
        |  SELECT es.a, r.b FROM es JOIN reachs r ON es.b = r.a),
        |compl AS (SELECT a AS doc_id, MIN(b) AS component
        |          FROM reachl GROUP BY a),
        |comps AS (SELECT a AS doc_id, MIN(b) AS component
        |          FROM reachs GROUP BY a),
        |verdicts AS (
        |  SELECT d.doc_id,
        |    COALESCE(cs.component = d.doc_id, TRUE) AS kept_strict,
        |    COALESCE(cl.component = d.doc_id, TRUE) AS kept_loose
        |  FROM documents d
        |  LEFT JOIN comps cs USING (doc_id)
        |  LEFT JOIN compl cl USING (doc_id))
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM jps) AS n_pairs_strict,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM jpl) AS n_pairs_loose,
        |  CAST(SUM(CASE WHEN kept_strict THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_kept_strict,
        |  CAST(SUM(CASE WHEN kept_loose THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_kept_loose,
        |  CAST(SUM(CASE WHEN kept_strict AND NOT kept_loose
        |           THEN 1 ELSE 0 END) AS BIGINT) AS n_flipped,
        |  CAST(SUM(CASE WHEN kept_loose AND NOT kept_strict
        |           THEN 1 ELSE 0 END) AS BIGINT) AS n_loose_only
        |FROM verdicts""".stripMargin,
    "q178_token_drift" ->
      """WITH toks AS (
        |  SELECT doc_id, t AS term FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS t
        |    FROM documents)
        |  WHERE length(t) > 0),
        |ca AS (SELECT term, COUNT(*) AS c_a FROM toks
        |       WHERE doc_id % 2 = 0 GROUP BY 1),
        |cb AS (SELECT term, COUNT(*) AS c_b FROM toks
        |       WHERE doc_id % 2 = 1 GROUP BY 1),
        |j AS (
        |  SELECT COALESCE(c_a, 0) AS c_a, COALESCE(c_b, 0) AS c_b
        |  FROM ca FULL OUTER JOIN cb USING (term)),
        |tot AS (SELECT SUM(c_a) AS n_a, SUM(c_b) AS n_b FROM j),
        |l1 AS (
        |  SELECT SUM(abs(CAST(c_a AS HUGEINT) * n_b
        |                 - CAST(c_b AS HUGEINT) * n_a)) AS l1n,
        |    ANY_VALUE(n_a) AS n_a, ANY_VALUE(n_b) AS n_b
        |  FROM j, tot)
        |SELECT CAST(n_a AS BIGINT) AS n_a_tokens,
        |  CAST(n_b AS BIGINT) AS n_b_tokens,
        |  CAST(CAST(l1n AS DECIMAL(38,0)) AS VARCHAR) AS l1_num,
        |  CAST((1000000 * l1n) // (2 * CAST(n_a AS HUGEINT) * n_b)
        |    AS BIGINT) AS tvd_e6
        |FROM l1""".stripMargin,
    "q175_ri_audit" ->
      """WITH e1 AS (
        |  SELECT 'orders->customer' AS edge, COUNT(*) AS n_rows,
        |    COUNT(*) FILTER (WHERE c_custkey IS NULL) AS n_orphans
        |  FROM orders LEFT JOIN customer ON o_custkey = c_custkey),
        |e2 AS (
        |  SELECT 'lineitem->orders', COUNT(*),
        |    COUNT(*) FILTER (WHERE o_orderkey IS NULL)
        |  FROM lineitem LEFT JOIN orders ON l_orderkey = o_orderkey),
        |e3 AS (
        |  SELECT 'lineitem->part', COUNT(*),
        |    COUNT(*) FILTER (WHERE p_partkey IS NULL)
        |  FROM lineitem LEFT JOIN part ON l_partkey = p_partkey),
        |e4 AS (
        |  SELECT 'lineitem->supplier', COUNT(*),
        |    COUNT(*) FILTER (WHERE s_suppkey IS NULL)
        |  FROM lineitem LEFT JOIN supplier ON l_suppkey = s_suppkey),
        |e5 AS (
        |  SELECT 'customer->nation', COUNT(*),
        |    COUNT(*) FILTER (WHERE n_nationkey IS NULL)
        |  FROM customer LEFT JOIN nation ON c_nationkey = n_nationkey),
        |u AS (SELECT * FROM e1 UNION ALL SELECT * FROM e2
        |      UNION ALL SELECT * FROM e3 UNION ALL SELECT * FROM e4
        |      UNION ALL SELECT * FROM e5)
        |SELECT edge, n_rows, n_orphans,
        |  ((n_rows - n_orphans) * 1000000) // n_rows AS coverage_e6
        |FROM u ORDER BY edge""".stripMargin,
    "q176_equidepth_bins" ->
      """WITH o AS (
        |  SELECT o_orderkey, o_orderpriority,
        |    CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders),
        |r AS (
        |  SELECT o_orderpriority, cents,
        |    row_number() OVER (PARTITION BY o_orderpriority
        |                       ORDER BY cents, o_orderkey) AS rn,
        |    COUNT(*) OVER (PARTITION BY o_orderpriority) AS n
        |  FROM o)
        |SELECT o_orderpriority, (4 * (rn - 1)) // n AS bin,
        |  COUNT(*) AS n_orders, MIN(cents) AS min_cents,
        |  MAX(cents) AS max_cents
        |FROM r GROUP BY 1, 2 ORDER BY o_orderpriority, bin""".stripMargin,
    "q174_twap" ->
      """WITH obs AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS us,
        |    CAST(floor(value * 100) AS BIGINT) AS cents
        |  FROM events),
        |seg AS (
        |  SELECT user_id, us, cents,
        |    lead(us) OVER (PARTITION BY user_id
        |                   ORDER BY us, event_id) AS nxt
        |  FROM obs),
        |a AS (
        |  SELECT user_id, COUNT(*) AS n_segments,
        |    SUM(CAST(nxt - us AS HUGEINT) * cents) AS integral,
        |    SUM(CAST(nxt - us AS HUGEINT)) AS span
        |  FROM seg WHERE nxt IS NOT NULL GROUP BY 1)
        |SELECT user_id, n_segments,
        |  CAST(CAST(integral AS DECIMAL(38,0)) AS VARCHAR) AS integral,
        |  CAST(span AS BIGINT) AS span_us,
        |  CAST(integral // span AS BIGINT) AS twap_e2
        |FROM a ORDER BY user_id""".stripMargin,
    "q172_temperature_quotas" ->
      """WITH sizes AS (
        |  SELECT source, COUNT(*) AS n FROM documents GROUP BY 1),
        |wt AS (SELECT source, n, n * n AS w FROM sizes),
        |tot AS (SELECT SUM(w) AS w_tot FROM wt),
        |base AS (
        |  SELECT source, n, w,
        |    (300 * w) // w_tot AS floor_q, (300 * w) % w_tot AS rem
        |  FROM wt, tot),
        |lo AS (SELECT 300 - SUM(floor_q) AS leftover FROM base),
        |r AS (SELECT *, row_number() OVER (ORDER BY rem DESC, source)
        |        AS rk FROM base)
        |SELECT source, n, CAST(w AS BIGINT) AS w,
        |  CAST(floor_q + CASE WHEN rk <= (SELECT leftover FROM lo)
        |                      THEN 1 ELSE 0 END AS BIGINT) AS quota
        |FROM r ORDER BY source""".stripMargin,
    "q173_rendezvous_shard" ->
      """WITH ax AS (SELECT unnest(generate_series(0, 7)) AS s),
        |hw AS (
        |  SELECT doc_id, s,
        |    ('0x' || substr(md5(doc_id::VARCHAR || ':' || s::VARCHAR),
        |                    1, 8))::BIGINT AS h
        |  FROM documents CROSS JOIN ax),
        |r AS (SELECT doc_id, s, row_number() OVER (
        |        PARTITION BY doc_id ORDER BY h DESC, s ASC) AS rn
        |      FROM hw)
        |SELECT doc_id, CAST(s AS BIGINT) AS shard
        |FROM r WHERE rn = 1 ORDER BY doc_id""".stripMargin,
    "q169_window_positions" ->
      """WITH o AS (
        |  SELECT o_orderkey, o_orderpriority,
        |    CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders),
        |r AS (
        |  SELECT o_orderkey, o_orderpriority, cents,
        |    row_number() OVER (PARTITION BY o_orderpriority
        |                       ORDER BY cents, o_orderkey) AS rn,
        |    COUNT(*) OVER (PARTITION BY o_orderpriority) AS n
        |  FROM o)
        |SELECT o_orderkey, o_orderpriority, cents,
        |  CAST(rn AS BIGINT) AS rn,
        |  CASE WHEN n = 1 THEN 0
        |       ELSE ((rn - 1) * 1000000) // (n - 1) END AS pct_rank_e6,
        |  (rn * 1000000) // n AS cume_dist_e6
        |FROM r WHERE o_orderkey % 37 = 0 ORDER BY o_orderkey""".stripMargin,
    "q170_interval_islands" ->
      """WITH iv AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS s,
        |    epoch_us(ts) + 1800000000 AS e
        |  FROM events),
        |m AS (
        |  SELECT user_id, event_id, s, e,
        |    MAX(e) OVER (PARTITION BY user_id ORDER BY s, e, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS maxe
        |  FROM iv),
        |f AS (
        |  SELECT *, CASE WHEN maxe IS NULL OR s > maxe THEN 1 ELSE 0 END
        |    AS newi
        |  FROM m),
        |g AS (
        |  SELECT *, SUM(newi) OVER (
        |    PARTITION BY user_id ORDER BY s, e, event_id
        |    ROWS UNBOUNDED PRECEDING) AS island
        |  FROM f)
        |SELECT user_id, CAST(island AS BIGINT) AS island,
        |  MIN(s) AS island_start_us, MAX(e) AS island_end_us,
        |  COUNT(*) AS n_events,
        |  MAX(e) - MIN(s) AS covered_us
        |FROM g WHERE user_id % 10 = 3
        |GROUP BY user_id, island ORDER BY user_id, island""".stripMargin,
    "q168_group_ols" ->
      """WITH o AS (
        |  SELECT o_orderpriority,
        |    CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT)
        |      AS x,
        |    CAST(floor(o_totalprice * 100) AS BIGINT) AS y
        |  FROM orders),
        |a AS (
        |  SELECT o_orderpriority,
        |    CAST(COUNT(*) AS HUGEINT) AS n,
        |    CAST(SUM(CAST(x AS HUGEINT)) AS HUGEINT) AS sx,
        |    CAST(SUM(CAST(y AS HUGEINT)) AS HUGEINT) AS sy,
        |    CAST(SUM(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy,
        |    CAST(SUM(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx
        |  FROM o GROUP BY 1)
        |SELECT o_orderpriority, CAST(n AS BIGINT) AS n_orders,
        |  CAST(CAST(n * sxy - sx * sy AS DECIMAL(38,0)) AS VARCHAR)
        |    AS slope_num,
        |  CAST(CAST(n * sxx - sx * sx AS DECIMAL(38,0)) AS VARCHAR)
        |    AS slope_den
        |FROM a ORDER BY o_orderpriority""".stripMargin,
    "q164_grouping_sets" ->
      """SELECT o_orderpriority, o_orderstatus,
        |  CASE WHEN GROUPING(o_orderpriority) THEN 1 ELSE 0 END AS g_pri,
        |  CASE WHEN GROUPING(o_orderstatus) THEN 1 ELSE 0 END AS g_st,
        |  COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS revenue
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderpriority, o_orderstatus),
        |                        (o_orderpriority), (o_orderstatus), ())
        |ORDER BY g_pri, g_st,
        |         o_orderpriority ASC NULLS FIRST,
        |         o_orderstatus ASC NULLS FIRST""".stripMargin,
    "q162_locf_resample" ->
      """WITH e AS (
        |  SELECT user_id, CAST(ts AS DATE) AS day, epoch_us(ts) AS us,
        |    event_id, CAST(floor(value * 100) AS BIGINT) AS bal_e2
        |  FROM events WHERE user_id % 10 = 1),
        |r AS (
        |  SELECT user_id, day, bal_e2, row_number() OVER (
        |    PARTITION BY user_id, day
        |    ORDER BY us DESC, event_id DESC) AS rn
        |  FROM e),
        |lastday AS (SELECT user_id, day, bal_e2 FROM r WHERE rn = 1),
        |span AS (SELECT user_id, MIN(day) AS mn, MAX(day) AS mx
        |         FROM lastday GROUP BY user_id),
        |axis AS (
        |  SELECT user_id,
        |    unnest(generate_series(mn, mx, INTERVAL 1 DAY))::DATE AS day
        |  FROM span),
        |dense AS (
        |  SELECT a.user_id, a.day, l.bal_e2 AS dv
        |  FROM axis a LEFT JOIN lastday l
        |    ON a.user_id = l.user_id AND a.day = l.day)
        |SELECT user_id, day,
        |  last_value(dv IGNORE NULLS) OVER (
        |    PARTITION BY user_id ORDER BY day
        |    ROWS UNBOUNDED PRECEDING) AS bal_e2,
        |  CASE WHEN dv IS NOT NULL THEN 1 ELSE 0 END AS observed
        |FROM dense ORDER BY user_id, day""".stripMargin,
    "q161_changelog_merge" ->
      """WITH snap AS (
        |  SELECT c_custkey, c_name,
        |    CAST(floor(c_acctbal * 100) AS BIGINT) AS bal_e2
        |  FROM customer),
        |l AS (
        |  SELECT user_id + 1400 AS k, epoch_us(ts) AS us, event_id,
        |    CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
        |    CAST(floor(value * 100) AS BIGINT) AS nb
        |  FROM events),
        |r AS (
        |  SELECT k, op, nb, row_number() OVER (
        |    PARTITION BY k ORDER BY us DESC, event_id DESC) AS rn
        |  FROM l),
        |last AS (SELECT k, op, nb FROM r WHERE rn = 1)
        |SELECT COALESCE(s.c_custkey, t.k) AS c_custkey, s.c_name,
        |  CASE WHEN t.op IS NOT NULL THEN t.nb ELSE s.bal_e2 END AS bal_e2
        |FROM snap s FULL OUTER JOIN last t ON s.c_custkey = t.k
        |WHERE t.op IS NULL OR t.op <> 'D'
        |ORDER BY c_custkey""".stripMargin,
    "q158_scd2" ->
      """WITH e AS (
        |  SELECT user_id, event_type, epoch_us(ts) AS us, event_id
        |  FROM events),
        |m AS (
        |  SELECT user_id, event_type, us, event_id,
        |    lag(event_type) OVER w AS prev,
        |    row_number() OVER w AS rn
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
        |c AS (SELECT * FROM m
        |      WHERE rn = 1 OR prev IS DISTINCT FROM event_type)
        |SELECT user_id, event_type, us AS valid_from_us,
        |  lead(us) OVER w2 AS valid_to_us,
        |  CASE WHEN lead(us) OVER w2 IS NULL THEN 1 ELSE 0 END
        |    AS is_current
        |FROM c
        |WINDOW w2 AS (PARTITION BY user_id ORDER BY us, event_id)
        |ORDER BY user_id, valid_from_us""".stripMargin,
    // q153: medians/MAD as ROW_NUMBER rank selection with the same
    // lower-middle rank rule, deviations and the 3*MAD cut re-derived.
    "q153_mad_outliers" ->
      """WITH v AS (SELECT o_orderpriority AS g,
        |             CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS x
        |           FROM orders),
        |r AS (SELECT g, x,
        |        ROW_NUMBER() OVER (PARTITION BY g ORDER BY x) AS rn,
        |        COUNT(*) OVER (PARTITION BY g) AS n FROM v),
        |med AS (SELECT g, x AS med, n FROM r
        |        WHERE rn = (n - 1) // 2 + 1),
        |dev AS (SELECT v.g, ABS(v.x - med.med) AS dev, med.med, med.n
        |        FROM v JOIN med USING (g)),
        |rd AS (SELECT g, dev, med, n,
        |         ROW_NUMBER() OVER (PARTITION BY g ORDER BY dev) AS rn
        |       FROM dev),
        |mad AS (SELECT g, dev AS mad FROM rd
        |        WHERE rn = (n - 1) // 2 + 1)
        |SELECT dev.g AS o_orderpriority,
        |  CAST(MAX(dev.n) AS BIGINT) AS n_rows,
        |  CAST(MAX(dev.med) AS BIGINT) AS median_cents,
        |  CAST(MAX(mad.mad) AS BIGINT) AS mad_cents,
        |  CAST(SUM(CASE WHEN dev.dev > mad.mad * 3 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_outliers
        |FROM dev JOIN mad USING (g)
        |GROUP BY dev.g ORDER BY o_orderpriority""".stripMargin,
    // q142: the q32 session CTE family extended with two leads and the
    // trigram count — sessionization, ordering tie-breaks, and the
    // deterministic top-25 cut are all re-derived.
    "q142_session_paths" ->
      s"""WITH e AS (
         |  SELECT user_id, event_id, event_type, epoch_us(ts) AS us
         |  FROM events),
         |m AS (
         |  SELECT user_id, event_id, event_type, us,
         |    CASE WHEN us - lag(us) OVER w IS NULL
         |           OR us - lag(us) OVER w > $SessionGapUs
         |         THEN 1 ELSE 0 END AS new_sess
         |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
         |s2 AS (
         |  SELECT user_id, event_id, event_type, us,
         |    SUM(new_sess) OVER (PARTITION BY user_id ORDER BY us, event_id)
         |      AS session_id
         |  FROM m),
         |tri AS (
         |  SELECT event_type AS step1,
         |    lead(event_type, 1) OVER w AS step2,
         |    lead(event_type, 2) OVER w AS step3
         |  FROM s2 WINDOW w AS (PARTITION BY user_id, session_id
         |                       ORDER BY us, event_id))
         |SELECT step1, step2, step3, CAST(COUNT(*) AS BIGINT) AS n_paths
         |FROM tri WHERE step2 IS NOT NULL AND step3 IS NOT NULL
         |GROUP BY 1, 2, 3
         |ORDER BY n_paths DESC, step1, step2, step3 LIMIT 25""".stripMargin,
    "q136_exact_quartiles" ->
      """WITH r AS (
        |  SELECT l_returnflag,
        |    CAST(floor(l_extendedprice * 100) AS BIGINT) AS cents,
        |    row_number() OVER (PARTITION BY l_returnflag
        |      ORDER BY CAST(floor(l_extendedprice * 100) AS BIGINT)) AS rn,
        |    COUNT(*) OVER (PARTITION BY l_returnflag) AS n
        |  FROM lineitem)
        |SELECT l_returnflag, CAST(MAX(n) AS BIGINT) AS n_rows,
        |  MAX(CASE WHEN rn = ((n - 1) * 1) // 4 + 1 THEN cents END)
        |    AS p25_cents,
        |  MAX(CASE WHEN rn = ((n - 1) * 2) // 4 + 1 THEN cents END)
        |    AS p50_cents,
        |  MAX(CASE WHEN rn = ((n - 1) * 3) // 4 + 1 THEN cents END)
        |    AS p75_cents
        |FROM r GROUP BY 1 ORDER BY 1""".stripMargin,
    "q137_attribution" ->
      """WITH ev AS (
        |  SELECT user_id, epoch_us(ts) AS us, event_id, event_type, value
        |  FROM events),
        |p AS (SELECT user_id, us AS pus, event_id AS pid,
        |        CAST(floor(value * 100) AS BIGINT) AS value_e2
        |      FROM ev WHERE event_type = 'purchase'),
        |t AS (SELECT user_id, us AS tus, event_id AS tid, event_type
        |      FROM ev WHERE event_type <> 'purchase'),
        |j AS (SELECT p.pid, p.value_e2, t.event_type,
        |        row_number() OVER (PARTITION BY p.pid
        |          ORDER BY t.tus DESC, t.tid DESC) AS rn
        |      FROM p JOIN t ON p.user_id = t.user_id
        |       AND (t.tus < p.pus OR (t.tus = p.pus AND t.tid < p.pid))
        |       AND t.tus >= p.pus - 604800000000)
        |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_conversions,
        |  CAST(SUM(value_e2) AS BIGINT) AS attributed_value_e2
        |FROM j WHERE rn = 1 GROUP BY 1 ORDER BY 1""".stripMargin
  )
}
