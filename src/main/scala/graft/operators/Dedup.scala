package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.GraftOps._

/** Document deduplication operators for training-data pipelines: exact,
  * n-gram Jaccard, MinHash+LSH, and SimHash.
  *
  * Scale design (the 100 TB shapes):
  *  - Signatures (minhash, simhash, fingerprints) are per-row expressions
  *    over the scan — no shuffle, linear in input.
  *  - Pair generation NEVER does a cross join. Exact Jaccard uses a
  *    shingle inverted index (shuffle keyed on shingle: candidate pairs
  *    only materialize for docs that share a shingle). MinHash-LSH
  *    shuffles on (band, bandKey) — O(n·bands) rows instead of O(n²) —
  *    and only verified candidates touch the quadratic Jaccard math.
  *  - Hot shingles (stopword runs) are the skew risk: AQE skew-join
  *    handles moderate cases; for web-scale corpora drop shingles with
  *    document frequency above a cap (they cannot contribute to a
  *    high-Jaccard pair decision anyway) — see `maxShingleDf`.
  */
object Dedup {

  /** Exact dedup by content hash: one keeper (min id) per distinct text.
    * Single hash-aggregate keyed on md5 — the grouping key is 32 hex chars
    * instead of the full document, so shuffle volume is constant per row.
    */
  def exactByContent(docs: DataFrame, idCol: String, textCol: String)
      : DataFrame =
    docs.groupBy(md5(col(textCol)).as("content_md5"))
      .agg(min(col(idCol)).as("keep_id"),
           count(lit(1)).as("n_copies"))

  /** (doc_id, shingle) postings + per-doc set size — the inverted index.
    * `maxShingleDf`: optionally drop shingles appearing in more than this
    * many docs (web-scale skew guard); disabled (0) keeps exactness.
    */
  def shinglePostings(docs: DataFrame, idCol: String, textCol: String,
                      n: Int, maxShingleDf: Int = 0): DataFrame = {
    val sets = Partitioning.spread(docs).select(
      col(idCol).as("doc_id"),
      TextFunctions.shingles(col(textCol), n).as("sh"))
    val postings = sets
      .select(col("doc_id"), size(col("sh")).as("sz"),
              explode(col("sh")).as("shingle"))
    if (maxShingleDf <= 0) postings
    else {
      val hot = postings.groupBy("shingle").count()
        .filter(col("count") > maxShingleDf).select("shingle")
      postings.join(broadcast(hot), Seq("shingle"), "left_anti")
    }
  }

  /** Keep at most `cap` docs per bucket, deterministically (the `cap`
    * SMALLEST doc_ids — min-id sampling, so exact duplicates land on
    * the same sample in every bucket and re-runs are stable). The
    * family-size guard of the pair-graph dedup path: a viral template
    * family of m docs otherwise materializes ~m²/2 true pairs PER
    * BUCKET — output-quadratic, and the one shape that dominates the
    * pair stage at 100 TB (§9's 52–61× shuffle rows on q21/q37/q54/
    * q145/q165 are exactly this). One window shuffle on the bucket
    * key, only when enabled.
    */
  private def capBuckets(df: DataFrame, bucketCols: Seq[String],
                         cap: Int): DataFrame =
    if (cap <= 0) df
    else {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(bucketCols.map(col): _*)
        .orderBy(col("doc_id"))
      df.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") <= cap)
        .drop("__rn")
    }

  /** Exact n-gram Jaccard near-dup pairs via inverted-index self-join.
    * Emits (doc_a, doc_b, inter_cnt, union_cnt) for pairs with
    * J = inter/union ≥ num/den, compared in exact integer arithmetic
    * (den·inter ≥ num·union) — no floats anywhere.
    *
    * `maxBucketDocs` (default 0 = off = exact recall) caps each
    * shingle's posting list to the cap smallest doc_ids before the
    * candidate join — the per-bucket FAMILY-SIZE guard ([[capBuckets]]):
    * pairs per shingle are then ≤ cap²/2 regardless of how viral a
    * template family is. TRADE: pairs connected only through docs
    * outside every shared bucket's sample are missed (they remain
    * linked to the family's min-id members, which is what CC keeper
    * election needs). With the cap ON, candidates from the capped
    * index are verified EXACTLY against the FULL shingle sets — a
    * capped posting list undercounts intersections, so the counting
    * join is only trusted when uncapped. Audit the trade before
    * enabling: `shinglePostings(...).groupBy("shingle").count()`
    * is the bucket-size distribution the cap would sample.
    */
  def jaccardPairs(docs: DataFrame, idCol: String, textCol: String,
                   n: Int, num: Int, den: Int,
                   maxBucketDocs: Int = 0): DataFrame = {
    if (maxBucketDocs > 0)
      return jaccardPairsCapped(docs, idCol, textCol, n, num, den,
                                maxBucketDocs)
    val p = shinglePostings(docs, idCol, textCol, n)
    val a = p.select(col("shingle"), col("doc_id").as("doc_a"),
                     col("sz").as("sz_a"))
    val b = p.select(col("shingle"), col("doc_id").as("doc_b"),
                     col("sz").as("sz_b"))
    // LENGTH FILTER (lossless, the classic set-similarity prune):
    // inter ≤ min(sz_a, sz_b) and union ≥ max(sz_a, sz_b), so
    // J ≤ min/max — any pair failing den·min ≥ num·max fails the final
    // threshold too and can be dropped BEFORE the counting aggregate
    // (guide §2.3: fewer rows into the agg's partial/exchange; at the
    // q225 cut num/den = 4/5 this prunes every candidate whose sizes
    // differ by more than 25%). Expressed as the symmetric conjunction
    // so it holds whichever side is larger.
    a.join(b, Seq("shingle"))
      .filter(col("doc_a") < col("doc_b") &&
        col("sz_a") * den >= col("sz_b") * num &&
        col("sz_b") * den >= col("sz_a") * num)
      .groupBy("doc_a", "doc_b", "sz_a", "sz_b")
      .agg(count(lit(1)).as("inter_cnt"))
      .withColumn("union_cnt", col("sz_a") + col("sz_b") - col("inter_cnt"))
      .filter(col("inter_cnt") * den >= col("union_cnt") * num)
      .select("doc_a", "doc_b", "inter_cnt", "union_cnt")
  }

  /** MULTIPLICITY-COLLAPSED n-gram Jaccard pairs — [[jaccardPairs]]'s
    * aggregate-report plan, the [[weightedBlockedSelfJoin]] discipline
    * applied to the shingle family (r13 verdict #7): a COUNT-shaped
    * consumer (a similarity histogram, a threshold-sensitivity count,
    * any per-(inter, union) rollup) never needs the enumerated pairs
    * individually, and the enumeration is inherently quadratic in copy
    * multiplicity (w copies of a text pair with each other and with
    * every neighbor's copies — the crawl-snapshot regime). Collapse
    * first: one row per DISTINCT text with its count; shingle + index
    * + verify the distinct rows only (index work tracks DISTINCT
    * texts, independent of multiplicity); weight each surviving
    * distinct pair by w_a·w_b and add the identical-copy diagonal
    * C(w, 2) — Jaccard exactly 1, inter = union = |shingle set| —
    * which survives any num/den ≤ 1 threshold. Docs with an EMPTY
    * shingle set never enter the enumeration's postings and are
    * excluded from the diagonal the same way.
    *
    * Output: (doc_a, doc_b, inter_cnt, union_cnt, n_pairs) — doc_a/
    * doc_b are the min-id representatives of the two distinct texts
    * (equal on diagonal rows), and Σ n_pairs per (inter_cnt,
    * union_cnt) EXACTLY equals `jaccardPairs(...)` grouped the same
    * way on the uncollapsed input (`JaccardWeightedSpec` pins the
    * identity; q273 shares q21's oracle CTE verbatim, reshaped).
    *
    * RELEASE CONTRACT: result == handle; the collapse checkpoint is
    * released internally once the result materializes.
    */
  def weightedJaccardPairs(docs: DataFrame, idCol: String,
                           textCol: String, n: Int, num: Int,
                           den: Int): DataFrame = {
    val reserved = Seq("__w", "__rid", "__sz")
    require(textCol != idCol && !reserved.contains(textCol),
      s"textCol must not use reserved names ${reserved.mkString(", ")}")
    val d = docs
      .groupBy(col(textCol))
      .agg(count(lit(1)).as("__w"), min(col(idCol)).as("__rid"))
      .graftCheckpoint()
    try {
      val pairs = jaccardPairs(d, "__rid", textCol, n, num, den)
      val weighted = pairs
        .join(d.select(col("__rid").as("doc_a"), col("__w").as("__w_a")),
              Seq("doc_a"))
        .join(d.select(col("__rid").as("doc_b"), col("__w").as("__w_b")),
              Seq("doc_b"))
        .select(col("doc_a"), col("doc_b"),
                col("inter_cnt"), col("union_cnt"),
                (col("__w_a") * col("__w_b")).as("n_pairs"))
      val diag = d.filter(col("__w") >= 2L)
        .withColumn("__sz",
          size(TextFunctions.shingles(col(textCol), n)).cast("long"))
        .filter(col("__sz") > 0L)
        // J = sz/sz = 1; keep the generic threshold form so num > den
        // (a nonsense cut the enumeration would also empty) stays exact
        .filter(col("__sz") * den >= col("__sz") * num)
        .select(col("__rid").as("doc_a"), col("__rid").as("doc_b"),
                col("__sz").as("inter_cnt"), col("__sz").as("union_cnt"),
                expr("(__w * (__w - 1)) div 2").as("n_pairs"))
      weighted.unionByName(diag).graftCheckpoint()
    } finally org.apache.spark.sql.GraftColumns.unpersistCheckpoint(d)
  }

  /** [[jaccardPairs]] with the family-size cap ON: candidates come from
    * the CAPPED index, verification from the FULL sets (exact Jaccard
    * per surviving pair — same output schema and per-pair arithmetic
    * as the uncapped path).
    */
  private def jaccardPairsCapped(docs: DataFrame, idCol: String,
                                 textCol: String, n: Int, num: Int,
                                 den: Int, cap: Int): DataFrame = {
    val sets = Partitioning.spread(docs)
      .select(col(idCol).as("doc_id"),
              TextFunctions.shingles(col(textCol), n).as("sh"))
      .filter(size(col("sh")) > 0)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val p = capBuckets(
        sets.select(col("doc_id"), explode(col("sh")).as("shingle")),
        Seq("shingle"), cap)
      val cand = p.select(col("shingle"), col("doc_id").as("doc_a"))
        .join(p.select(col("shingle"), col("doc_id").as("doc_b")),
              Seq("shingle"))
        .filter(col("doc_a") < col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
      val verified = sets
        .select(col("doc_id").as("doc_a"), col("sh").as("sh_a"))
        .join(cand, "doc_a")
        .join(sets.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")),
              "doc_b")
        .withColumn("inter_cnt",
          size(array_intersect(col("sh_a"), col("sh_b"))).cast("long"))
        .withColumn("union_cnt",
          size(col("sh_a")) + size(col("sh_b")) - col("inter_cnt"))
        .filter(col("inter_cnt") * den >= col("union_cnt") * num)
        .select("doc_a", "doc_b", "inter_cnt", "union_cnt")
        .graftCheckpoint()
      verified
    } finally sets.unpersist()
  }

  /** Blocked edit-distance self-join with a LENGTH-BAND composite key —
    * the shared candidate-generation shape for fuzzy-KEY matching
    * (catalog titles, author names, product variants; q193's distance
    * histogram and q197's entity resolution both ride it). Candidate
    * pairs share every `blockCols` value AND sit in the same or
    * adjacent length band (band = len div bandWidth); survivors verify
    * with exact `levenshtein ≤ maxDist` (the threshold form — the
    * kernel early-exits any pair past the band, O(maxDist·len) not
    * O(len²)).
    *
    * EXACTNESS: lev(a,b) ≤ d forces |len(a) − len(b)| ≤ d, so with
    * bandWidth > maxDist a qualifying pair spans at most ADJACENT
    * bands — probing (band, band+1) loses nothing and the output is
    * identical to the bare blocked join for any bandWidth > maxDist.
    * The banding is the scale knob the bare key lacks: Σ_b |block|²
    * becomes Σ_cells |cell|·(|cell|+|cell₊₁|), so one viral blocking
    * key (a hot product noun at 100 TB) splits across length cells
    * instead of holding one reducer hostage.
    *
    * SCALE-SAFE BY DEFAULT (r12 verdict #1 — the ×10 growth sweep
    * pinned one task at >21 min of within-cell quadratic verify on a
    * hot name-noun cell, because a fixed key vocabulary makes blocks
    * grow ∝ corpus): the call first MEASURES the (blockCols, band)
    * cell histogram. CONTRACT: in this default mode, CONSTRUCTING the
    * result runs eager Spark jobs (a tagged local checkpoint of the
    * prepared input, then the tiny cell count-aggregate) even if the
    * returned frame is never executed — the checkpoint guarantees an
    * expensive or nondeterministic input evaluates exactly once across
    * the measurement and both routed sides, and the result is the
    * release handle (`GraftColumns.unpersistCheckpoint(result)` after
    * consumption; otherwise the ContextCleaner reclaims the blocks).
    * `autoCellRows <= 0` or an explicit `maxCellRows` restores fully
    * lazy construction. After the measurement,
    * any BLOCK owning a cell above `autoCellRows` rows is routed —
    * whole, so same/adjacent-band pairing never crosses the split —
    * through [[passJoinPairs]]'s segment-signature path, whose
    * candidates are linear in block size and EXACTLY equal the banded
    * join's output (`PassJoinSpec` pins the equivalence; both are
    * exact, so recall is unchanged and the q193/q197 oracles gate the
    * routed plan unmodified). Cold blocks keep the banded join — the
    * cheaper kernel-streaming plan in the dense-short-key regime the
    * §9 probes measured. The decision is printed
    * (`[blockedSelfJoin] auto-fallback: …`) so a sweep log shows when
    * and why the plan switched. `autoCellRows <= 0` disables the
    * measurement and fallback (the probes use this to measure the raw
    * banded curve); `maxDist = 0` never reroutes (the signature scheme
    * needs ≥ 1 and a dist-0 kernel early-exits on first mismatch).
    *
    * `maxCellRows` (default 0 = off = exact recall) instead caps
    * each (blockCols, band) cell to the cap smallest ids before the
    * join — the [[capBuckets]] guard for callers that prefer bounded
    * candidates over exactness. TRADE: pairs beyond the sample are
    * missed; audit the cell-size distribution
    * (`groupBy(blockCols :+ band).count()`) before enabling. An
    * explicit cap already bounds every cell, so it disables the
    * auto-fallback measurement.
    *
    * Output: (<idCol>_a, <textCol>_a, <idCol>_b, <textCol>_b, dist)
    * with id_a < id_b and dist ≤ maxDist. Plan (per routed side): two
    * equi-joins shuffled on (blockCols…, __band) — same-band pairs
    * ordered by id, adjacent-band pairs normalized to id order after
    * the join — the distance filter inside each join stage, one union.
    * The b-side exchange is identical in both branches
    * (ReusedExchange); no cartesian product anywhere.
    */
  def blockedSelfJoin(records: DataFrame, idCol: String, textCol: String,
                      blockCols: Seq[String], maxDist: Int,
                      bandWidth: Int, maxCellRows: Int = 0,
                      autoCellRows: Int = DefaultAutoCellRows): DataFrame = {
    require(maxDist >= 0, s"maxDist must be >= 0, got $maxDist")
    require(bandWidth > maxDist,
      s"bandWidth ($bandWidth) must exceed maxDist ($maxDist): a " +
        "qualifying pair's lengths differ by <= maxDist, and only " +
        "bandWidth > maxDist confines it to same-or-adjacent bands")
    val reserved = Seq("__id", "__txt", "__band", "__rn", "__cnt")
    require(!blockCols.exists(reserved.contains),
      s"blockCols must not use reserved names ${reserved.mkString(", ")}")
    val idA = s"${idCol}_a"; val idB = s"${idCol}_b"
    val txtA = s"${textCol}_a"; val txtB = s"${textCol}_b"
    val base0 = records
      .select((Seq(col(idCol).as("__id"), col(textCol).as("__txt")) ++
        blockCols.map(col)): _*)
      .withColumn("__band",
        expr(s"CAST(length(__txt) AS BIGINT) div $bandWidth"))
    val base = if (maxCellRows <= 0) base0 else {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy((blockCols :+ "__band").map(col): _*)
        .orderBy(col("__id"))
      base0.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") <= maxCellRows)
        .drop("__rn")
    }
    val keys = blockCols :+ "__band"
    def bandedPairs(in: DataFrame): DataFrame = {
      def side(ic: String, tc: String): DataFrame =
        in.select((blockCols.map(col) :+ col("__band") :+
          col("__id").as(ic) :+ col("__txt").as(tc)): _*)
      val a = side(idA, txtA)
      val b = side(idB, txtB)
      def verified(cand: DataFrame): DataFrame = cand
        .withColumn("dist",
          levenshtein(col(txtA), col(txtB), maxDist).cast("long"))
        .filter(col("dist") >= 0L)
        .select(col(idA), col(txtA), col(idB), col(txtB), col("dist"))
      // same band: each unordered pair once via the id-order filter
      val same = verified(a.join(b, keys).filter(col(idA) < col(idB)))
      // adjacent bands: the lower-band member probes band+1; each such
      // pair appears exactly once, so normalize to id order via struct
      // least/greatest (ids are the leading field and must be unique for
      // the pair-once discipline — same requirement as the bare join).
      val sa = struct(col(idA).as("id"), col(txtA).as("txt"))
      val sb = struct(col(idB).as("id"), col(txtB).as("txt"))
      val adj = verified(
        a.withColumn("__band", col("__band") + 1L)
          .join(b, keys)
          .select(least(sa, sb).as("__p"), greatest(sa, sb).as("__q"))
          .select(col("__p.id").as(idA), col("__p.txt").as(txtA),
                  col("__q.id").as(idB), col("__q.txt").as(txtB)))
      same.unionByName(adj)
    }
    // Auto-fallback measurement: only in exact mode (no explicit cap)
    // and only when the signature scheme is applicable (maxDist >= 1).
    if (maxCellRows > 0 || autoCellRows <= 0 || maxDist < 1)
      return bandedPairs(base)
    // The measurement consumes the prepared input up to three times
    // (cell histogram, cold side, hot side) — checkpoint it ONCE so an
    // expensive or nondeterministic `records` evaluates exactly once
    // (ADVICE r13). The checkpoint rides inside the returned plan;
    // result == handle (pass the result to
    // GraftColumns.unpersistCheckpoint after consumption to release
    // the blocks early — otherwise the ContextCleaner reclaims them).
    val baseCk0 = base.graftCheckpoint()
    // The cell histogram feeds BOTH the Σ cnt² kernel estimate and the
    // hot-block routing — checkpoint it once (r15 verdict #8: the two
    // consumers each re-aggregated the full prepared input, a second
    // complete pass at 100 TB). Cell rows are bounded by the distinct
    // (blockCols, band) count. The checkpoint is released on the
    // return paths that do not embed it; when hot routing fires it
    // rides the returned plan via `hotBlocks` and the result-==-handle
    // release covers it.
    val cells = baseCk0
      .groupBy(keys.map(col): _*).agg(count(lit(1)).as("__cnt"))
      .graftCheckpoint()
    // KERNEL-PARALLELISM guard (r15), MEASURED not blanket: the banded
    // join runs its levenshtein verify inside the broadcast probe
    // stage, which keeps the input's partitioning — a 1–2-split input
    // serializes the whole kernel (q193: 12.8 s, the 5.5M-pair verify
    // in ONE task). Σ cnt² over the cell histogram (already being
    // aggregated for the hot-block routing) estimates the verify
    // workload; only when it clears [[KernelSpreadPairs]] is the
    // prepared input spread to defaultParallelism (q193 → 3.6 s at
    // 198 tasks). A blanket spread measured q197 (tiny cells,
    // maxDist 1) at +2.8 s from 370 added micro-tasks — the width must
    // follow the KERNEL work, not the input. `spread` no-ops for
    // inputs already at ≥ defaultParallelism partitions.
    val pairEst = cells
      .agg(coalesce(sum(col("__cnt") * col("__cnt")), lit(0L)))
      .head().getLong(0)
    val baseCk =
      if (pairEst >= KernelSpreadPairs) Partitioning.spread(baseCk0)
      else baseCk0
    val hotBlocks = cells
      .filter(col("__cnt") > autoCellRows)
      .select(blockCols.map(col): _*)
      .distinct()
    val nHot = hotBlocks.count()
    if (nHot == 0L) {
      // cells is not part of the returned plan here — release it now
      org.apache.spark.sql.GraftColumns.unpersistCheckpoint(cells)
      return bandedPairs(baseCk)
    }
    // Empty blockCols = ONE global block: per-block routing has no key
    // to split on (a zero-column anti/semi join degenerates to
    // everything-hot), so route the whole input through the signature
    // path deliberately (ADVICE r13) — same output, stated plan.
    if (blockCols.isEmpty) {
      println(s"[blockedSelfJoin] auto-fallback: the single global " +
        s"block has a band cell > $autoCellRows rows; whole input " +
        "routed to the PassJoin signature path (exact)")
      org.apache.spark.sql.GraftColumns.unpersistCheckpoint(cells)
      val spreadAll = baseCk
        .repartition(records.sparkSession.sparkContext.defaultParallelism)
        .select(col("__id").as(idCol), col("__txt").as(textCol))
      return passJoinPairs(spreadAll, idCol, textCol, Nil, maxDist)
    }
    // COUNTED broadcast (the spansFromGrams discipline): hot-block keys
    // are bounded by n / autoCellRows rows, but only a measured small
    // set broadcasts — beyond the cap the split joins shuffle on
    // blockCols, which is still two scans + key-join, never quadratic.
    val hotKeys =
      if (nHot <= 100000L) broadcast(hotBlocks) else hotBlocks
    println(s"[blockedSelfJoin] auto-fallback: $nHot hot block(s) with " +
      s"a (block, band) cell > $autoCellRows rows routed to the " +
      "PassJoin signature path (exact; cold blocks stay banded)")
    val cold = bandedPairs(baseCk.join(hotKeys, blockCols, "left_anti"))
    // HARD round-robin spread before the signature join: the hot rows
    // arrive partitioned by whatever produced them (often ONE scan
    // split — hot blocks are few keys), and Catalyst broadcasts the
    // small index side, so without this exchange the probe fan-out AND
    // every levenshtein kernel would run in that single partition
    // (measured: one 13-min task at ×10 where the spread run takes
    // seconds). Partitioning.spread is scan-only by design; the
    // explicit count is respected by AQE (REPARTITION_BY_NUM is never
    // coalesced), and the shuffled volume is just the hot rows —
    // linear, tiny next to the kernel work it parallelizes.
    val hotRecords = baseCk.join(hotKeys, blockCols, "left_semi")
      .repartition(records.sparkSession.sparkContext.defaultParallelism)
      .select((Seq(col("__id").as(idCol), col("__txt").as(textCol)) ++
        blockCols.map(col)): _*)
    val hot = passJoinPairs(hotRecords, idCol, textCol, blockCols, maxDist)
    cold.unionByName(hot)
  }

  /** MULTIPLICITY-COLLAPSED blocked edit-distance pairs — the
    * aggregate-report plan for corpora where the same text occurs many
    * times verbatim (crawl snapshots, replicated catalogs, the ×10
    * synthetic regime where EVERY name has 10 identical copies): the
    * pair ENUMERATION of [[blockedSelfJoin]] is inherently quadratic
    * in copy multiplicity (n copies of a text pair with each other and
    * with every neighbor's copies), but a COUNT-shaped consumer (the
    * q193 histogram; any per-distance rollup) never needs those pairs
    * individually. Collapse first: one row per DISTINCT
    * (blockCols, text) with its count; run the exact banded/signature
    * machinery on the distinct rows only (kernel work tracks DISTINCT
    * texts, independent of multiplicity); weight each surviving
    * distinct pair by cnt_a·cnt_b and add the identical-copy diagonal
    * C(cnt, 2) at dist 0.
    *
    * Output: (<textCol>_a, <textCol>_b, dist, n_pairs) — one row per
    * unordered DISTINCT-text pair within a block (plus diagonal rows
    * with _a = _b, dist 0), where Σ n_pairs per dist is EXACTLY
    * `blockedSelfJoin(...).groupBy(dist).count()` on the uncollapsed
    * input (`BlockedSelfJoinSpec` pins the identity; q272 shares
    * q193's bare-join oracle verbatim). Text pairs are ordered
    * _a < _b lexicographically. NOTE the collapse keys on
    * (blockCols, text): the same text in two different blocks stays
    * two rows, preserving blocking semantics; `idCol` is consumed
    * only as the representative row id the inner join machinery needs.
    *
    * RELEASE CONTRACT: result == handle; the collapse checkpoint is
    * released internally once the result materializes.
    */
  def weightedBlockedSelfJoin(records: DataFrame, idCol: String,
                              textCol: String, blockCols: Seq[String],
                              maxDist: Int, bandWidth: Int,
                              autoCellRows: Int = DefaultAutoCellRows)
      : DataFrame = {
    val reserved = Seq("__w", "__rid")
    require(!(blockCols :+ textCol).exists(reserved.contains),
      s"blockCols/textCol must not use reserved names " +
        reserved.mkString(", "))
    val txtA = s"${textCol}_a"; val txtB = s"${textCol}_b"
    val ridA = "__rid_a"; val ridB = "__rid_b"
    val d = records
      .groupBy((blockCols :+ textCol).map(col): _*)
      .agg(count(lit(1)).as("__w"), min(col(idCol)).as("__rid"))
      .graftCheckpoint()
    try {
      val pairs = blockedSelfJoin(d, "__rid", textCol, blockCols,
                                  maxDist, bandWidth,
                                  autoCellRows = autoCellRows)
      // pairs may embed blockedSelfJoin's own measurement checkpoint
      // (result == handle); release it once the final result below has
      // materialized — the outer finally covers d either way.
      try {
      val weighted = pairs
        .join(d.select(col("__rid").as("__wka"), col("__w").as("__w_a")),
              col("__wka") === col(ridA))
        .join(d.select(col("__rid").as("__wkb"), col("__w").as("__w_b")),
              col("__wkb") === col(ridB))
        .select(least(col(txtA), col(txtB)).as(txtA),
                greatest(col(txtA), col(txtB)).as(txtB),
                col("dist"),
                (col("__w_a") * col("__w_b")).as("n_pairs"))
      val diag = d.filter(col("__w") >= 2L)
        .select(col(textCol).as(txtA), col(textCol).as(txtB),
                lit(0L).as("dist"),
                // integer `div`, NOT fractional `/`: Divide casts the
                // longs to double first, losing exactness past 2^53 —
                // the surrounding contract is bit-exactness vs the
                // enumeration oracle (ADVICE r13)
                expr("(__w * (__w - 1)) div 2").as("n_pairs"))
      weighted.unionByName(diag).graftCheckpoint()
      } finally org.apache.spark.sql.GraftColumns.unpersistCheckpoint(pairs)
    } finally org.apache.spark.sql.GraftColumns.unpersistCheckpoint(d)
  }

  /** Exact n-gram Jaccard pairs via PREFIX FILTERING (PPJoin-style,
    * Xiao et al. 2008) — the third pair-generation strategy next to the
    * full inverted index ([[jaccardPairs]]) and MinHash LSH
    * ([[minhashDedupPairs]]), EXACT like the former but indexing only a
    * sliver of each set: order every set by ascending global document
    * frequency (rarest first, total order via the shingle tiebreak);
    * J ≥ t implies |x∩y| ≥ ⌈t·|x|⌉, so if the first
    * |x| − ⌈t·|x|⌉ + 1 tokens of x share nothing with y's prefix the
    * pair cannot qualify — only PREFIX postings enter the self-join.
    * Because prefixes hold the rarest tokens, candidate lists are
    * small by construction (the inverted index's hot-shingle skew guard
    * becomes unnecessary — hot shingles never reach a prefix). The
    * LENGTH filter (t·|x| ≤ |y| ≤ |x|/t) and the POSITIONAL filter — the
    * second P of PPJoin — prune collisions before verification: a
    * collision at prefix ranks (i, j) bounds the overlap by
    * min(i−1, j−1) + 1 + min(|x|−i, |y|−j) (common tokens are ordered
    * consistently on both sides, so tokens before/after the colliding
    * token split the bound), and the pair survives only if the TIGHTEST
    * bound over its collisions can still reach the overlap threshold
    * α = ⌈t·(|x|+|y|)/(1+t)⌉. Candidates are then verified exactly with
    * one array_intersect per pair. Output and semantics are IDENTICAL
    * to [[jaccardPairs]] (same oracle gates both).
    */
  def ppjoinPairs(docs: DataFrame, idCol: String, textCol: String,
                  n: Int, num: Int, den: Int): DataFrame = {
    require(num >= 1 && den >= num, s"need 0 < num/den <= 1: $num/$den")
    val sets = Partitioning.spread(docs)
      .select(col(idCol).as("doc_id"),
              TextFunctions.shingles(col(textCol), n).as("sh"))
      .withColumn("sz", size(col("sh")))
      .filter(col("sz") > 0)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val cand = ppjoinCandidates(sets, num, den, positional = true)
      val out = cand
        .join(sets.select(col("doc_id").as("doc_a"), col("sh").as("sh_a"),
                          col("sz").as("sz_a")), Seq("doc_a"))
        .join(sets.select(col("doc_id").as("doc_b"), col("sh").as("sh_b"),
                          col("sz").as("sz_b")), Seq("doc_b"))
        .withColumn("inter_cnt",
          size(array_intersect(col("sh_a"), col("sh_b"))).cast("long"))
        .withColumn("union_cnt",
          col("sz_a") + col("sz_b") - col("inter_cnt"))
        .filter(col("inter_cnt") * den >= col("union_cnt") * num)
        .select(col("doc_a"), col("doc_b"),
                col("inter_cnt"), col("union_cnt"))
        .graftCheckpoint() // materialize before releasing the sets cache
      out
    } finally sets.unpersist()
  }

  /** PPJoin candidate generation over pre-shingled sets
    * (`doc_id`, `sh`, `sz`): prefix postings self-join, length filter,
    * and (when `positional`) the positional upper-bound prune. Exposed
    * separately so the candidate count — the quantity the filters exist
    * to shrink — is directly measurable without running verification.
    */
  private[graft] def ppjoinCandidates(sets: DataFrame, num: Int, den: Int,
                                      positional: Boolean): DataFrame = {
    val post = sets.select(col("doc_id"), col("sz"),
                           explode(col("sh")).as("shingle"))
    val dfreq = post.groupBy(col("shingle"))
      .agg(count(lit(1)).as("df"))
    // ceil(t·sz) in integers, then the prefix keeps rank ≤ sz − c + 1
    val c = floor((col("sz") * num + (den - 1)) / lit(den)).cast("long")
    val rk = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id"))
      .orderBy(col("df"), col("shingle"))
    val prefix = post.join(dfreq, Seq("shingle"))
      .withColumn("rk", row_number().over(rk).cast("long"))
      .filter(col("rk") <= col("sz") - c + 1)
      .select(col("shingle"), col("doc_id"), col("rk"), col("sz"))
    val collisions = prefix
      .select(col("shingle"), col("doc_id").as("doc_a"),
              col("rk").as("rk_a"), col("sz").as("sz_a"))
      .join(prefix.select(col("shingle"), col("doc_id").as("doc_b"),
                          col("rk").as("rk_b"), col("sz").as("sz_b")),
            Seq("shingle"))
      .filter(col("doc_a") < col("doc_b"))
      // length filter: J ≥ t forces t·|x| ≤ |y| ≤ |x|/t
      .filter(col("sz_a") * num <= col("sz_b") * den &&
              col("sz_b") * num <= col("sz_a") * den)
    if (!positional)
      return collisions.select(col("doc_a"), col("doc_b")).distinct()
    collisions
      .withColumn("ub",
        least(col("rk_a"), col("rk_b")) +
          least(col("sz_a") - col("rk_a"), col("sz_b") - col("rk_b")))
      .groupBy(col("doc_a"), col("doc_b"), col("sz_a"), col("sz_b"))
      .agg(min(col("ub")).as("ubound"))
      // overlap threshold: I(num+den) ≥ num(|x|+|y|) ⟺ J ≥ num/den
      .filter(col("ubound") * (num + den) >= (col("sz_a") + col("sz_b")) * num)
      .select(col("doc_a"), col("doc_b"))
  }

  /** DIRECTIONAL CONTAINMENT pairs: C(a→b) = |A∩B| / |A| ≥ num/den,
    * a ≠ b — the doc-inside-doc detector Jaccard structurally misses
    * (a paragraph quoted whole inside a 10× larger page has high
    * containment but low Jaccard; C4-style pipelines drop the
    * contained copy, not both). Asymmetric by design: (a,b) and (b,a)
    * are independent verdicts.
    *
    * Prefix filtering adapts to the asymmetry: C ≥ t forces
    * |A∩B| ≥ ⌈t·|A|⌉, so only A's ⌈(1−t)·|A|⌉+1-token PREFIX (by
    * ascending global df, rarest first) probes the index — but the
    * match can sit anywhere in B, so B indexes ALL its tokens (with
    * their ranks, for the positional bound). Candidate volume stays
    * bucket-bound for the same reason as [[ppjoinPairs]]: prefix
    * tokens are globally rare, so BOTH posting lists at a colliding
    * token are short. Pruning before verification:
    *  - length: |B| ≥ ⌈t·|A|⌉ (the overlap can't exceed |B|);
    *  - positional: a collision at ranks (i, j) bounds the overlap by
    *    min(i−1, j−1) + 1 + min(|A|−i, |B|−j); the pair survives only
    *    if its tightest bound still reaches ⌈t·|A|⌉.
    * Survivors verify exactly (one array_intersect per pair). All
    * integer arithmetic — `den·inter ≥ num·szA` — so a SQL oracle
    * gates the filters' soundness: a missed pair is a hash mismatch.
    *
    * Output: (doc_a, doc_b, inter_cnt, sz_a, sz_b) where doc_a is the
    * contained side.
    *
    * RELEASE CONTRACT: the returned frame IS its own localCheckpoint
    * (the intermediate shingle cache is already released before
    * return), so the result doubles as the release handle — long-lived
    * callers (streaming micro-batch loops) must call
    * `GraftColumns.unpersistCheckpoint(result)` once done reading it,
    * or each invocation pins one result RDD until driver GC
    * ([[applyDedupReleasable]] discipline, with result == handle).
    * One-shot batch queries can let session cleanup collect it.
    */
  def containmentPairs(docs: DataFrame, idCol: String, textCol: String,
                       n: Int, num: Int, den: Int): DataFrame = {
    require(num >= 1 && den >= num, s"need 0 < num/den <= 1: $num/$den")
    val sets = Partitioning.spread(docs)
      .select(col(idCol).as("doc_id"),
              TextFunctions.shingles(col(textCol), n).as("sh"))
      .withColumn("sz", size(col("sh")))
      .filter(col("sz") > 0)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val post = sets.select(col("doc_id"), col("sz"),
                             explode(col("sh")).as("shingle"))
      val dfreq = post.groupBy(col("shingle"))
        .agg(count(lit(1)).as("df"))
      val rk = org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id"))
        .orderBy(col("df"), col("shingle"))
      val ranked = post.join(dfreq, Seq("shingle"))
        .withColumn("rk", row_number().over(rk).cast("long"))
      // ceil(t·sz) in integers; A probes with rank ≤ sz − c + 1
      val c = floor((col("sz") * num + (den - 1)) / lit(den)).cast("long")
      val prefixA = ranked
        .filter(col("rk") <= col("sz") - c + 1)
        .select(col("shingle"), col("doc_id").as("doc_a"),
                col("rk").as("rk_a"), col("sz").as("sz_a"))
      val fullB = ranked
        .select(col("shingle"), col("doc_id").as("doc_b"),
                col("rk").as("rk_b"), col("sz").as("sz_b"))
      val cA = floor((col("sz_a") * num + (den - 1)) / lit(den))
        .cast("long")
      val cand = prefixA.join(fullB, Seq("shingle"))
        .filter(col("doc_a") =!= col("doc_b"))
        .filter(col("sz_b") >= cA) // overlap ≤ |B|
        .withColumn("ub",
          least(col("rk_a"), col("rk_b")) +
            least(col("sz_a") - col("rk_a"), col("sz_b") - col("rk_b")))
        .groupBy(col("doc_a"), col("doc_b"), col("sz_a"), col("sz_b"))
        .agg(min(col("ub")).as("ubound"))
        .filter(col("ubound") >= cA)
        .select(col("doc_a"), col("doc_b"))
      val out = cand
        .join(sets.select(col("doc_id").as("doc_a"), col("sh").as("sh_a"),
                          col("sz").as("sz_a")), Seq("doc_a"))
        .join(sets.select(col("doc_id").as("doc_b"), col("sh").as("sh_b"),
                          col("sz").as("sz_b")), Seq("doc_b"))
        .withColumn("inter_cnt",
          size(array_intersect(col("sh_a"), col("sh_b"))).cast("long"))
        .filter(col("inter_cnt") * den >= col("sz_a") * num)
        .select(col("doc_a"), col("doc_b"), col("inter_cnt"),
                col("sz_a").cast("long").as("sz_a"),
                col("sz_b").cast("long").as("sz_b"))
        .graftCheckpoint() // materialize before releasing the sets cache
      out
    } finally sets.unpersist()
  }

  /** MinHash signature (array<long>, length `numPerm`) of a shingle set:
    * sig[i] = min over shingles of ((a_i·h32(s) + b_i) mod p), where h32
    * and the perm family are [[PortableHash]]'s. Computed by the codegen'd
    * [[graft.functions.MinHashSignature]] kernel: each shingle is
    * md5-hashed exactly once, then updates all `numPerm` running minima
    * with integer ops — one compiled call per row. (The original HOF form
    * re-evaluated the hashed-shingle array per permutation inside
    * interpreted lambdas — `numPerm`× the md5 work — which made signature
    * build the dominant bench cost.)
    */
  def minhashSignature(shingleSet: Column, numPerm: Int): Column = {
    import org.apache.spark.sql.GraftColumns
    GraftColumns.column(graft.functions.MinHashSignature(
      GraftColumns.expression(shingleSet), numPerm))
  }

  /** MinHash + banded LSH near-dup pairs, exact-verified.
    *
    * numPerm=128 split into 32 bands × 4 rows: a pair with true Jaccard J
    * collides in ≥1 band with prob 1−(1−J⁴)³². At the verification
    * threshold J=0.8 that is 1−5e−8 — recall is effectively exact, which
    * is what lets the exact-Jaccard oracle double as this operator's
    * correctness check. Candidates from band collisions are then verified
    * with true Jaccard on the shingle-string sets (not the hashed sets, so
    * h32 collisions cannot distort the decision) and filtered to
    * J ≥ num/den in integer arithmetic.
    *
    * RELEASE CONTRACT: result == handle, the [[containmentPairs]]
    * convention (same for [[jaccardPairs]]' capped path and
    * [[ppjoinPairs]]).
    */
  def minhashDedupPairs(docs: DataFrame, idCol: String, textCol: String,
                        n: Int, num: Int, den: Int,
                        numPerm: Int = 128, bands: Int = 32,
                        broadcastPairCap: Long = DefaultBroadcastPairCap,
                        maxBucketDocs: Int = 0)
      : DataFrame = {
    // Shingle sets fan out to three consumers (banding + both verify
    // sides): persist so shingling/md5 runs once, not three times.
    // MEMORY_AND_DISK spills per executor; for corpora that outgrow
    // executor storage use [[minhashDedupPairsCheckpointed]], which
    // materializes the sets to a table instead — same downstream shape.
    val sets = Partitioning.spread(docs).select(
      col(idCol).as("doc_id"),
      TextFunctions.shingles(col(textCol), n).as("sh"))
      .filter(size(col("sh")) > 0)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try pairsFromShingleSets(sets, num, den, numPerm, bands,
                             broadcastPairCap, maxBucketDocs)
    finally sets.unpersist()
  }

  /** The 100 TB variant of [[minhashDedupPairs]]: shingle sets are
    * CHECKPOINTED TO A TABLE (one parquet write under `checkpointDir`)
    * instead of executor-cached. Executor storage no longer bounds corpus
    * size, and every downstream consumer reads a column-pruned scan of
    * the table. The sets table — larger than the corpus (exploded
    * shingle arrays) — is DELETED once the verified pairs are
    * materialized, so no call leaves a copy behind.
    *
    * RELEASE CONTRACT: result == handle ([[containmentPairs]]).
    */
  def minhashDedupPairsCheckpointed(
      docs: DataFrame, idCol: String, textCol: String,
      n: Int, num: Int, den: Int, checkpointDir: String,
      numPerm: Int = 128, bands: Int = 32,
      broadcastPairCap: Long = DefaultBroadcastPairCap): DataFrame = {
    val spark = docs.sparkSession
    val path = s"$checkpointDir/minhash_sets_${java.util.UUID.randomUUID()}"
    Partitioning.spread(docs).select(
        col(idCol).as("doc_id"),
        TextFunctions.shingles(col(textCol), n).as("sh"))
      .filter(size(col("sh")) > 0)
      .write.mode("overwrite").parquet(path)
    try pairsFromShingleSets(spark.read.parquet(path), num, den, numPerm,
                             bands, broadcastPairCap)
    finally {
      val p = new org.apache.hadoop.fs.Path(path)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    }
  }

  /** Incremental (batch-vs-corpus) MinHash dedup — the daily-crawl shape:
    * a NEW batch of documents is checked against an EXISTING corpus, and
    * only cross pairs are emitted (within-batch duplicates are
    * [[minhashDedupPairs]]'s job; the corpus is assumed already deduped).
    *
    * The scale contract is asymmetric, and the plan exploits it:
    *  - The corpus side NEVER shuffles. Its shingle sets and band keys are
    *    per-row codegen expressions over the scan, and every join it
    *    participates in is a broadcast probe (batch band keys into the
    *    banding join, candidate ids into the verify join) — at 100 TB the
    *    corpus streams through the whole plan exactly twice (banding pass
    *    + verify pass), with zero wide dependencies. Re-running the
    *    signature expressions on the second pass trades CPU for never
    *    materializing corpus-sized state.
    *  - The batch side is small (a day's crawl vs the accumulated corpus).
    *    Its banded keys broadcast when `batchRows·bands` fits under
    *    `broadcastPairCap` (counted, not assumed — an oversized batch
    *    falls back to a shuffle equi-join rather than OOMing the driver,
    *    at the cost of shuffling the corpus banding once).
    *
    * Recall is [[minhashDedupPairs]]'s: ≥1-band collision prob at the
    * J = num/den threshold is 1−(1−J^(numPerm/bands))^bands, and
    * candidates are verified with EXACT integer Jaccard on the true
    * shingle strings — so an exact batch×corpus Jaccard join is a valid
    * oracle. Emits (batch_id, corpus_id, inter_cnt, union_cnt). Callers
    * must keep batch and corpus id spaces disjoint (shared ids would
    * denote distinct rows but produce indistinguishable output pairs).
    *
    * RELEASE CONTRACT: result == handle ([[containmentPairs]]) — the
    * per-increment discipline a long-lived ingest loop needs.
    */
  def incrementalMinhashPairs(corpus: DataFrame, batch: DataFrame,
                              idCol: String, textCol: String,
                              n: Int, num: Int, den: Int,
                              numPerm: Int = 128, bands: Int = 32,
                              broadcastPairCap: Long = DefaultBroadcastPairCap)
      : DataFrame = {
    def shingleSets(df: DataFrame) = Partitioning.spread(df).select(
        col(idCol).as("doc_id"),
        TextFunctions.shingles(col(textCol), n).as("sh"))
      .filter(size(col("sh")) > 0)

    // Batch sets feed banding + verify: persist so shingling runs once.
    val bSets = shingleSets(batch)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // One counted pass yields both the row count (gates the 8-byte
      // band-key broadcast) and the MEASURED payload bytes of the
      // shingle sets (gates the set-carrying verify broadcast) — a row
      // count alone says nothing about ~KB-sized array rows, so gating
      // sets on `broadcastPairCap` (calibrated for 16 B pair rows) could
      // wave a multi-GB broadcast through.
      val bStats = bSets.agg(
        count(lit(1)),
        coalesce(sum(expr(
          "aggregate(sh, 32L, (acc, s) -> acc + octet_length(s) + 24L)")),
          lit(0L))).head()
      val bCount = bStats.getLong(0)
      val bSetBytes = bStats.getLong(1)
      val cSets = shingleSets(corpus)
      val bBanded = bandKeys(bSets, numPerm, bands)
      val bProbe =
        if (bCount * bands <= broadcastPairCap) broadcast(bBanded)
        else bBanded
      val cand = bandKeys(cSets, numPerm, bands).as("c")
        .join(bProbe.as("b"),
              col("c.band") === col("b.band") && col("c.key") === col("b.key"))
        .select(col("b.doc_id").as("batch_id"),
                col("c.doc_id").as("corpus_id"))
        .distinct()
        .graftCheckpoint()

      // Verify pass: candidates (counted-gated broadcast) probe the corpus
      // scan; the surviving rows — at most |cand| — then join the batch
      // sets. The batch-set side broadcasts only under the MEASURED byte
      // cap (its rows are whole shingle arrays); past it, the join runs
      // un-hinted — shuffling batch-sized data, never the corpus.
      try {
        val candJ =
          if (cand.count() <= broadcastPairCap) broadcast(cand) else cand
        val bVerify = bSets
          .select(col("doc_id").as("batch_id"), col("sh").as("sh_b"))
        val bVerifyJ = if (bSetBytes <= DefaultBroadcastSetBytesCap)
                         broadcast(bVerify)
                       else bVerify
        val verified = cSets
          .select(col("doc_id").as("corpus_id"), col("sh").as("sh_c"))
          .join(candJ, "corpus_id")
          .join(bVerifyJ, "batch_id")
          .withColumn("inter_cnt",
            size(array_intersect(col("sh_b"), col("sh_c"))).cast("long"))
          .withColumn("union_cnt",
            size(col("sh_b")) + size(col("sh_c")) - col("inter_cnt"))
          .filter(col("inter_cnt") * den >= col("union_cnt") * num)
          .select("batch_id", "corpus_id", "inter_cnt", "union_cnt")
        verified.graftCheckpoint()
      } finally
        // release on failure paths too — a throw in the verify joins must
        // not leak the candidate blocks until driver GC
        org.apache.spark.sql.GraftColumns.unpersistCheckpoint(cand)
    } finally bSets.unpersist()
  }

  /** Shared banding + candidate-join + exact-verify pipeline over
    * materialized (doc_id, sh) sets (cached or table-backed).
    */
  /** Candidate-pair broadcast cap (pairs, not bytes). Candidates under
    * this count are broadcast so the big `sets` side streams through the
    * verify joins with zero shuffle; over it, fall back to shuffle joins.
    * Default 4M pairs: the driver-built HashedRelation for a broadcast is
    * a multi-× blowup over the 16 B/pair serialized form, so a few
    * million rows keeps the driver-side build comfortably inside a
    * modest (4–8 GiB) driver heap. Deployments with big drivers can
    * raise it via the `minhashDedupPairs*` overloads' `broadcastPairCap`.
    */
  val DefaultBroadcastPairCap = 4000000L

  /** Default [[blockedSelfJoin]] auto-fallback bound: a (blockCols,
    * band) cell above this many rows routes its block to the PassJoin
    * signature path. 4096 keeps the worst banded cell at
    * ~8.4M threshold kernels (seconds on one core — the acceptable
    * ceiling for a single task), while every testdata SF the oracle
    * gates (sf0.01/sf0.1) stays below it, so the default changes no
    * gated plan; the ×10 synthetic regime's hot cells sit far above
    * and reroute. Exactness does not depend on the value — both routes
    * produce identical pairs (`BlockedSelfJoinSpec`).
    */
  val DefaultAutoCellRows = 4096

  /** [[blockedSelfJoin]] kernel-spread bound: when the MEASURED
    * candidate estimate Σ cnt² over the (blockCols, band) cell
    * histogram reaches this many pairs, the prepared input is spread
    * to defaultParallelism before the banded join so the levenshtein
    * verify (which runs in the probe stage at the input's partition
    * count) parallelizes. 8M kernels ≈ ~10 s on one core — the same
    * single-task ceiling [[DefaultAutoCellRows]] documents (~8.4M
    * kernels for the worst cell), applied to the WHOLE verify:
    * measured both ways at sf0.1, q193 (Σ cnt² = 35.9M) gains 10.6 s
    * from spreading while q197 (Σ cnt² = 1.5M, cheap maxDist-1
    * kernels) loses 2.5 s to the micro-task stages its spread cascades
    * into the downstream CC. Exactness never depends on partitioning.
    */
  val KernelSpreadPairs = 8000000L

  /** Byte cap for broadcasting relations whose rows carry full shingle
    * SETS (~KB each) rather than 16 B id pairs — those must be gated on
    * MEASURED payload bytes, never row count. 128 MiB measured leaves
    * room for the driver-side HashedRelation blowup (a few ×) inside a
    * modest 4–8 GiB driver heap; over the cap the set side joins
    * un-hinted (a shuffle of batch-sized data — the corpus side is
    * already reduced to candidate survivors by then).
    */
  val DefaultBroadcastSetBytesCap = 128L << 20

  /** (doc_id, band, bandKey) from (doc_id, sh) sets: one row per band.
    * Band keys are xxhash64 of the signature slice — an 8-byte join key
    * instead of a joined-string key (smaller shuffle), unrolled per band
    * at plan-build time so the whole projection is codegen'd. A key
    * collision only ADDS a candidate pair, which exact verification then
    * rejects — correctness is unaffected by the hash choice, so the fast
    * engine-native hash is fine here (contrast with the oracle-visible
    * PortableHash values). Pure per-row expressions: zero shuffle.
    */
  /** RAW band-collision candidate pairs — the LSH index's emission
    * BEFORE exact verification, exposed for index-quality audits (what
    * precision does the sketch alone buy? q218) and for callers with a
    * custom verify rule. Same banding as [[minhashDedupPairs]]; output
    * (doc_a, doc_b), doc_a < doc_b, distinct.
    */
  def minhashCandidatePairs(docs: DataFrame, idCol: String,
                            textCol: String, n: Int,
                            numPerm: Int = 128, bands: Int = 32)
      : DataFrame = {
    val sets = Partitioning.spread(docs).select(
        col(idCol).as("doc_id"),
        TextFunctions.shingles(col(textCol), n).as("sh"))
      .filter(size(col("sh")) > 0)
    val b = bandKeys(sets, numPerm, bands)
    b.select(col("doc_id").as("doc_a"), col("band"), col("key"))
      .join(b.select(col("doc_id").as("doc_b"), col("band"), col("key")),
            Seq("band", "key"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b")
      .distinct()
  }

  private def bandKeys(sets: DataFrame, numPerm: Int, bands: Int): DataFrame = {
    // Loop-shaped kernel, not an unrolled per-band Column chain: the
    // 32-band unroll fused into an 8.5 KB whole-stage method — past
    // HotSpot's 8000-byte JIT ceiling, so the banding projection ran
    // INTERPRETED (r14 JIT audit: q22/q52/q64/q218). Keys are
    // bit-identical to xxhash64(slice(sig, b·rows+1, rows))
    // (`LshKernelsSpec` pins it); posexplode's index IS the band id.
    import org.apache.spark.sql.GraftColumns
    sets
      .withColumn("sig", minhashSignature(col("sh"), numPerm))
      .select(
        col("doc_id"),
        posexplode(GraftColumns.column(graft.functions.MinHashBandKeys(
          GraftColumns.expression(col("sig")), bands))))
      .select(col("doc_id"), col("pos").as("band"), col("col").as("key"))
  }

  private def pairsFromShingleSets(sets: DataFrame, num: Int, den: Int,
                                   numPerm: Int, bands: Int,
                                   broadcastPairCap: Long = DefaultBroadcastPairCap,
                                   maxBucketDocs: Int = 0)
      : DataFrame = {
    // Family-size guard ([[capBuckets]]): an LSH bucket of m docs emits
    // ~m²/2 candidates; with the cap, ≤ cap²/2 per (band, key). The
    // verify stage below always reads the FULL sets, so surviving pairs
    // carry exact inter/union counts — the cap trades only recall
    // (pairs linked solely through unsampled bucket members), never
    // precision. Default off = exact recall.
    val banded = capBuckets(bandKeys(sets, numPerm, bands),
                            Seq("band", "key"), maxBucketDocs)

    // Candidate pairs are consumed twice below (count + join), so
    // materialize once; eager localCheckpoint also makes the follow-up
    // count() a cheap scan instead of a banding-join recompute.
    val cand = banded.as("x")
      .join(banded.as("y"),
            col("x.band") === col("y.band") && col("x.key") === col("y.key") &&
              col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
      .graftCheckpoint()

    // Verify candidates with exact Jaccard over shingle strings. The
    // candidate set is usually orders of magnitude smaller than the
    // corpus, but its size is DATA-DEPENDENT (duplicate-heavy or hot-band
    // corpora inflate it), so the broadcast hint is gated on a COUNTED
    // size rather than forced: under the cap the big `sets` side streams
    // through two broadcast joins with zero shuffle; over it we fall back
    // to shuffle joins instead of hitting the broadcast limit or OOMing
    // the driver (cap rationale at [[DefaultBroadcastPairCap]]).
    try {
      val candJ =
        if (cand.count() <= broadcastPairCap) broadcast(cand) else cand
      val sa = sets.select(col("doc_id").as("doc_a"), col("sh").as("sh_a"))
      val sb = sets.select(col("doc_id").as("doc_b"), col("sh").as("sh_b"))
      val verified = sa.join(candJ, "doc_a").join(sb, "doc_b")
        .withColumn("inter_cnt",
          size(array_intersect(col("sh_a"), col("sh_b"))).cast("long"))
        .withColumn("union_cnt",
          size(col("sh_a")) + size(col("sh_b")) - col("inter_cnt"))
        .filter(col("inter_cnt") * den >= col("union_cnt") * num)
        .select("doc_a", "doc_b", "inter_cnt", "union_cnt")
      // Materialize the (small) verified pair set eagerly: the cached-sets
      // caller unpersists right after this returns (otherwise every call
      // would leak a MEMORY_AND_DISK cache for the session's lifetime), and
      // localCheckpoint keeps the result addressable without the cache.
      verified.graftCheckpoint()
    } finally
      // The candidate checkpoint has no consumers past this point — release
      // its blocks instead of waiting for driver GC, on failure paths too.
      org.apache.spark.sql.GraftColumns.unpersistCheckpoint(cand)
  }

  /** Fuzzy key pairs within edit distance 1, EXACT recall, via the
    * SymSpell deletion-neighborhood join: each key expands to itself plus
    * its 1-character deletions (codegen'd
    * [[graft.functions.StringDeletions]] kernel); any two keys within
    * distance 1 share a neighborhood entry, so the equi-join on entries
    * finds every true pair, and `levenshtein` verifies candidates only —
    * O(n·len) candidate rows and a keyed shuffle instead of the O(n²)
    * all-pairs scan a naive fuzzy join needs. Emits (id_a, id_b, dist):
    * exactly one row per DISTINCT id pair with any key combination
    * within distance 1, dist = the minimum such distance (well-defined
    * even when an id carries several keys). Pairs are between distinct
    * ids only — rows sharing an id are that id's intra-key duplicates,
    * the exact-dedup operator's domain.
    *
    * `maxVariantDf` is the skew guard, mirroring [[shinglePostings]]'s
    * `maxShingleDf`: a deletion variant shared by D keys produces a D²
    * candidate bucket (short keys and templated key families — "user1",
    * "user2", … all share the deletion "user") — the quadratic hot-key
    * risk of this join. Variants above the document-frequency cap are
    * dropped from BOTH sides. Unlike the shingle cap this trades recall:
    * two keys connected ONLY through a dropped variant are missed, so the
    * default (0) keeps exact recall and web-scale callers opt in.
    */
  def editDistance1Pairs(df: DataFrame, idCol: String, keyCol: String,
                         maxVariantDf: Int = 0): DataFrame = {
    import org.apache.spark.sql.GraftColumns
    val neighborhood = GraftColumns.column(
      graft.functions.StringDeletions(GraftColumns.expression(col(keyCol))))
    val vars0 = Partitioning.spread(df).select(
        col(idCol).as("id"), col(keyCol).as("k"),
        explode(neighborhood).as("v"))
    val vars =
      if (maxVariantDf <= 0) vars0
      else {
        val hot = vars0.groupBy("v").count()
          .filter(col("count") > maxVariantDf).select("v")
        vars0.join(broadcast(hot), Seq("v"), "left_anti")
      }
    vars.as("x")
      .join(vars.as("y"),
            col("x.v") === col("y.v") && col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"),
              col("x.k").as("k_a"), col("y.k").as("k_b"))
      .distinct()
      .withColumn("dist", levenshtein(col("k_a"), col("k_b")).cast("long"))
      .filter(col("dist") <= 1)
      .groupBy("id_a", "id_b")
      .agg(min(col("dist")).as("dist"))
  }

  /** Segment-signature edit-distance self-join (the PassJoin family,
    * Li/Deng/Feng ICDE 2011) — EXACT recall for `levenshtein ≤ maxDist`
    * via the pigeonhole principle, replacing the block-quadratic
    * candidate stage of [[blockedSelfJoin]] with a signature EQUI-join:
    * each indexed string partitions into `maxDist + 1` contiguous
    * segments; in any alignment with ≤ maxDist edits at least one
    * segment contains NO edit, so it survives verbatim as a substring
    * of the other string, displaced by at most the net
    * insertion−deletion count beside it. Candidates are therefore pairs
    * agreeing on (blockCols, indexed length, segment index, segment
    * text) — strings that share a ~len/(maxDist+1)-char aligned
    * substring — instead of every pair in a (blockCols, band) cell.
    *
    * Segment scheme for length L (k = maxDist + 1 segments, 0-based):
    * the first k − (L mod k) segments have ⌊L/k⌋ chars, the rest one
    * more — deterministic, shared verbatim by the index and probe
    * sides. The probe side emits, for every plausible indexed length
    * lb ∈ [la − maxDist, la + maxDist] and segment i of THAT length's
    * scheme, the substrings of its own text at start shifts s
    * satisfying |s| + |Δl − s| ≤ maxDist (Δl = la − lb): the net
    * shift before the preserved segment and the net shift after it
    * are each bounded by the edits in their region, and the two
    * regions share the maxDist edit budget — the multi-match window
    * that cuts the naive ±maxDist window roughly in half. Strings
    * shorter than k get empty segments that match only same-length
    * strings in the same block — recall is unaffected.
    *
    * Both generation sides carry (key, id, text) — an
    * O(k·(2·maxDist+1)) row fan-out, linear in input — and the
    * `levenshtein` threshold kernel runs INLINE in the join, so
    * candidate instances stream through codegen without ever being
    * shuffled; only matched instances reach the post-verify distinct
    * (see the in-body comment for the measured cost of the opposite
    * order). The probe→index direction is fixed to id_a < id_b — the
    * pigeonhole argument holds per-direction (some segment of the
    * INDEXED string survives in the probe string), so the
    * one-directional join still finds every pair and halves candidate
    * volume.
    *
    * Output: (<idCol>_a, <textCol>_a, <idCol>_b, <textCol>_b, dist)
    * with id_a < id_b and dist ≤ maxDist — EXACTLY
    * [[blockedSelfJoin]]'s rows for any bandWidth (`PassJoinSpec`
    * pins the equivalence), which is what makes the two
    * interchangeable under one oracle. Scale: cost is
    * O(n·k·(2·maxDist+1)) emitted signatures plus output-bound
    * verification, linear where the banded join is cell-quadratic; the
    * skew unit shrinks from "every same-noun same-length-band pair" to
    * "every pair sharing one aligned ~len/k-char substring", so hot
    * blocking keys split by signature content for free.
    */
  def passJoinPairs(records: DataFrame, idCol: String, textCol: String,
                    blockCols: Seq[String], maxDist: Int): DataFrame = {
    val idA = s"${idCol}_a"; val idB = s"${idCol}_b"
    val txtA = s"${textCol}_a"; val txtB = s"${textCol}_b"
    val (probe, index, keys) =
      passJoinSides(records, idCol, textCol, blockCols, maxDist)
    // Verify INLINE in the join and deduplicate AFTER: candidate
    // instances stream through the codegen'd threshold kernel without
    // ever hitting a shuffle — only MATCHED instances (true pairs ×
    // a ≤ (maxDist+1)·(2·maxDist+1) multiplicity bound) reach the
    // distinct. The opposite order (distinct first, verify after)
    // shuffles the whole candidate superset and measured 4× slower on
    // the hot-block probe fixture despite running fewer kernels —
    // candidate-volume reduction only pays when it reduces SHUFFLE.
    val ids = probe.join(index, keys)
      .filter(col("__prb_id") < col("__idx_id"))
      .withColumn("dist",
        levenshtein(col("__prb_txt"), col("__idx_txt"), maxDist)
          .cast("long"))
      .filter(col("dist") >= 0L)
      .select(col("__prb_id").as(idA), col("__idx_id").as(idB),
              col("dist"))
      .distinct()
    // texts rejoin on the unique id AFTER the distinct so the dedup
    // shuffle carries three integers per instance, never document text
    val txts = records.select(col(idCol).as("__id"),
                              col(textCol).as("__txt"))
    ids
      .join(txts.select(col("__id").as(idA), col("__txt").as(txtA)), idA)
      .join(txts.select(col("__id").as(idB), col("__txt").as(txtB)), idB)
      .select(col(idA), col(txtA), col(idB), col(txtB), col("dist"))
  }

  /** The two generation sides of the PassJoin signature join: (probe,
    * index, join keys). Probe rows carry (keys…, __prb_id, __prb_txt),
    * index rows (keys…, __idx_id, __idx_txt).
    */
  private def passJoinSides(records: DataFrame, idCol: String,
                            textCol: String, blockCols: Seq[String],
                            maxDist: Int)
      : (DataFrame, DataFrame, Seq[String]) = {
    require(maxDist >= 1, s"maxDist must be >= 1, got $maxDist")
    val reserved = Seq("__id", "__txt", "__len", "__lb", "__i", "__seg",
                       "__dl", "__base", "__rem", "__sl", "__sp", "__lo",
                       "__hi", "__p", "__slack",
                       "__prb_id", "__prb_txt", "__idx_id", "__idx_txt")
    require(!blockCols.exists(reserved.contains),
      s"blockCols must not use reserved names ${reserved.mkString(", ")}")
    val k = maxDist + 1
    val base = Partitioning.spread(records)
      .select((Seq(col(idCol).as("__id"), col(textCol).as("__txt")) ++
        blockCols.map(col)): _*)
      .withColumn("__len", length(col("__txt")).cast("int"))
    // shared scheme arithmetic: segment length and 0-based start of
    // segment __i in the partition of length __lb
    def withScheme(df: DataFrame): DataFrame = df
      .withColumn("__base", expr(s"CAST(__lb div $k AS INT)"))
      .withColumn("__rem", expr(s"CAST(__lb % $k AS INT)"))
      .withColumn("__sl", expr(s"__base + IF(__i >= $k - __rem, 1, 0)"))
      .withColumn("__sp",
        expr(s"__i * __base + greatest(0, __i - ($k - __rem))"))
    val keys = blockCols ++ Seq("__lb", "__i", "__seg")
    val index = withScheme(
        base.withColumn("__lb", col("__len"))
          .withColumn("__i", explode(sequence(lit(0), lit(maxDist)))))
      .withColumn("__seg", expr("substring(__txt, __sp + 1, __sl)"))
      .select((blockCols.map(col) ++
        Seq(col("__lb"), col("__i"), col("__seg"),
            col("__id").as("__idx_id"), col("__txt").as("__idx_txt"))): _*)
    val probe = withScheme(
        base
          // __dl = la − lb, the net length change of the whole edit
          .withColumn("__dl",
            explode(sequence(lit(-maxDist), lit(maxDist))))
          .withColumn("__lb", col("__len") - col("__dl"))
          .filter(col("__lb") >= 0)
          .withColumn("__i", explode(sequence(lit(0), lit(maxDist)))))
      .withColumn("__slack", expr(s"CAST(($maxDist - abs(__dl)) div 2 AS INT)"))
      .withColumn("__lo",
        greatest(lit(0), expr("__sp + least(0, __dl) - __slack")))
      .withColumn("__hi",
        least(col("__len") - col("__sl"),
              expr("__sp + greatest(0, __dl) + __slack")))
      .filter(col("__lo") <= col("__hi"))
      .withColumn("__p",
        explode(sequence(col("__lo").cast("int"), col("__hi").cast("int"))))
      .withColumn("__seg", expr("substring(__txt, __p + 1, __sl)"))
      .select((blockCols.map(col) ++
        Seq(col("__lb"), col("__i"), col("__seg"),
            col("__id").as("__prb_id"), col("__txt").as("__prb_txt"))): _*)
    (probe, index, keys)
  }

  /** Sorted-neighborhood candidate pairs (the SNM blocking discipline,
    * Hernández/Stolfo 1995) — the THIRD exact-candidate-generation
    * trade next to [[blockedSelfJoin]]'s length bands and
    * [[passJoinPairs]]'s segment signatures: sort the corpus on
    * `sortCols`, emit every pair within `window` positions of each
    * other. The candidate budget is EXACTLY n·(window−1) − the tail
    * shortfall, independent of key distributions — no hot block, no
    * hot signature, ever — at the price of RECALL being a property of
    * the sort key, not of the method (a true pair sorted far apart is
    * missed; the published mitigation is multi-pass SNM over several
    * keys, which composes here as a union of calls). Measure recall
    * against a gated exact truth before trusting a key — the q218
    * convention; q230 does exactly that.
    *
    * `sortCols` must be a strict total order (append the unique id
    * last) or the pair set is nondeterministic under shuffle. The
    * global rank rides [[PrefixSum.runningTotal]] (range exchange +
    * per-partition offsets), NEVER a single-partition window; pairs
    * come from a same+adjacent rank-bucket equi-join (bucket width =
    * `window`, so a ≤ window−1 gap spans at most adjacent buckets —
    * the [[blockedSelfJoin]] band argument on rank space), each
    * unordered pair exactly once via the rank-order filter.
    *
    * Output: every input column duplicated as <col>_a/<col>_b (the
    * _a row sorts strictly lower), plus `gap` = rank_b − rank_a ∈
    * [1, window−1]. Verification (edit distance, match rules) is the
    * caller's, matching the candidates/verify split of the other
    * disciplines.
    */
  def sortedNeighborhood(records: DataFrame, sortCols: Seq[String],
                         window: Long): DataFrame = {
    require(window >= 2, s"window must be >= 2, got $window")
    require(sortCols.nonEmpty, "sortCols must be non-empty")
    val reserved = Seq("__one", "__rank", "__bkt")
    require(!records.columns.exists(reserved.contains),
      s"input must not use reserved names ${reserved.mkString(", ")}")
    val ranked = PrefixSum.runningTotal(
        records.withColumn("__one", lit(1L)), "__one", sortCols,
        cumCol = "__rank")
      .drop("__one")
      .withColumn("__bkt", expr(s"(__rank - 1) div $window"))
    def side(suffix: String): DataFrame = ranked.select(
      (records.columns.toSeq.map(c => col(c).as(s"${c}_$suffix")) ++
        Seq(col("__rank").as(s"__rank_$suffix"), col("__bkt"))): _*)
    val a = side("a"); val b = side("b")
    val gapOk = (col("__rank_b") - col("__rank_a") >= 1L) &&
      (col("__rank_b") - col("__rank_a") <= window - 1L)
    val same = a.join(b, Seq("__bkt")).filter(gapOk)
    val adj = a.withColumn("__bkt", col("__bkt") + 1L)
      .join(b, Seq("__bkt")).filter(gapOk)
    same.unionByName(adj)
      .withColumn("gap", col("__rank_b") - col("__rank_a"))
      .drop("__bkt", "__rank_a", "__rank_b")
  }

  /** Keeper selection — the APPLY step of a dedup pipeline: given the
    * near-dup pair set, label every document kept (true) or dropped
    * (false), keeping exactly one representative (the min id) per
    * connected component. Composes [[GraphOps.connectedComponents]] with
    * a left join back to the corpus: docs in no pair are trivially kept;
    * a filter on `kept` then yields the deduplicated corpus. Cost is the
    * component propagation (O(diameter) rounds) plus one broadcast-sized
    * join — the component map has one row per PAIRED doc, a small
    * fraction of the corpus.
    */
  /** Duplicated-SPAN detection — substring-level dedup (the unit of
    * "Deduplicating Training Data Makes Language Models Better"-style
    * span trimming), complementing the document-level operators: every
    * distinct n-word span occurring in at least `minDocs` distinct
    * documents, with the span's keeper (min doc id).
    *
    * One explode + one hash aggregate keyed on the span string — the
    * same O(total spans) shuffle as the shingle inverted index, never
    * pairwise. [[TextFunctions.shingles]] emits DISTINCT spans per doc,
    * so the plain `count` IS the distinct-document count (no
    * count_distinct expansion needed). Web-scale hot spans (boilerplate)
    * are exactly the high-`n_docs` rows this op exists to surface, so
    * unlike the pair generators there is nothing to cap — output is one
    * row per distinct span, bounded by the input token count.
    */
  def duplicatedSpans(docs: DataFrame, idCol: String, textCol: String,
                      n: Int, minDocs: Int = 2): DataFrame = {
    require(n > 0 && minDocs >= 1, s"need n>0, minDocs>=1; got $n/$minDocs")
    Partitioning.spread(docs).select(
        col(idCol).as("doc_id"),
        explode(TextFunctions.shingles(col(textCol), n)).as("span"))
      .groupBy("span")
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("keep_doc"))
      .filter(col("n_docs") >= minDocs)
  }

  /** Span TRIMMING — the rewrite step [[duplicatedSpans]] detects for:
    * every word covered by an n-word span duplicated across ≥ `minDocs`
    * distinct documents is REMOVED from all docs except the span's
    * keeper (min doc id), and each document's text is rebuilt from its
    * surviving words. This is the "drop the repeated substring, keep
    * one copy" move of substring-level training-data dedup — boilerplate
    * collapses to its first occurrence corpus-wide.
    *
    * Overlap semantics are positional and deterministic: a word goes if
    * ANY covering duplicated span has a different keeper; the keeper doc
    * keeps ALL its occurrences of its own spans (trimming is
    * cross-document, not within-document).
    *
    * Scale shape: positions ride the explode (no joins carry text), the
    * duplicated-span set is one hash agg, coverage expansion is
    * per-occurrence × n, and the rebuild groups each doc's OWN words
    * (collect bounded by document length — never a corpus-wide window).
    *
    * Output: (doc_id, n_words, n_removed, trimmed_md5) — the digest
    * rather than the text so result rows stay gate-sized; callers
    * wanting the text drop the md5.
    */
  def trimDuplicatedSpans(docs: DataFrame, idCol: String, textCol: String,
                          n: Int, minDocs: Int = 2): DataFrame = {
    require(n > 0 && minDocs >= 1, s"need n>0, minDocs>=1; got $n/$minDocs")
    val base = Partitioning.spread(docs)
      .select(col(idCol).as("doc_id"),
              TextFunctions.words(col(textCol)).as("__t"))
    val words = base.select(col("doc_id"),
                            posexplode(col("__t")).as(Seq("idx", "word")))
    // span occurrences WITH start positions (0-based), one row per start
    val spans = base.filter(size(col("__t")) >= n)
      .select(col("doc_id"), posexplode(expr(
        s"transform(sequence(0, size(__t) - $n)," +
          s" i -> array_join(slice(__t, i + 1, $n), ' '))"))
        .as(Seq("start", "span")))
    val dup = spans.groupBy(col("span"))
      .agg(countDistinct(col("doc_id")).as("__nd"),
           min(col("doc_id")).as("keep_doc"))
      .filter(col("__nd") >= minDocs)
      .select(col("span"), col("keep_doc"))
    val covered = spans.join(dup, Seq("span"))
      .filter(col("doc_id") =!= col("keep_doc"))
      .select(col("doc_id"),
              explode(sequence(col("start"),
                               col("start") + lit(n - 1))).as("idx"))
      .distinct()
    val rebuilt = words.join(covered, Seq("doc_id", "idx"), "left_anti")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("__n_kept"),
           array_join(
             transform(
               array_sort(collect_list(struct(col("idx"), col("word")))),
               x => x.getField("word")), " ").as("__trimmed"))
    base.select(col("doc_id"), size(col("__t")).cast("long").as("n_words"))
      .join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_words"),
              (col("n_words") - coalesce(col("__n_kept"), lit(0L)))
                .as("n_removed"),
              md5(coalesce(col("__trimmed"), lit(""))).as("trimmed_md5"))
  }

  /** ANY-LENGTH duplicated-substring regions — the character-level
    * exact-substring dedup of Lee et al. 2021 ("Deduplicating Training
    * Data Makes Language Models Better", the ExactSubstr discipline),
    * re-expressed relationally. Their single-machine implementation
    * builds one suffix array over the concatenated corpus and reports
    * every substring of length ≥ L occurring twice; the standard
    * reduction makes the same region set Spark-shaped: a substring of
    * length ≥ L is duplicated iff every one of its L-grams is
    * duplicated, and conversely every duplicated L-gram window lies
    * inside a duplicated substring of length ≥ L — so the UNION of
    * duplicated regions equals the union of windows [p, p+L−1] over
    * covered positions p (positions whose L-gram occurs ≥ 2 times in
    * the corpus, multiplicity counted, same-doc overlaps included).
    * Output: one row per MAXIMAL contiguous region of that union —
    * (doc_id, span_start 1-based, span_len ≥ L), regions disjoint with
    * at least one non-duplicated char between them.
    *
    * Scale shape (what the suffix array buys, bought differently):
    * positions are one explode (O(total chars) rows); the group key is
    * the PORTABLE 64-bit hash pair of the L-gram — 16 bytes into the
    * exchange instead of L chars, the shuffle-volume lever that makes
    * 100 TB feasible; duplicated-key detection is one map-combined
    * hash agg; coverage is a join back on the same key whose strategy
    * is COUNTED, not estimated (see [[spansFromGrams]] — the r11 bench
    * anomaly was Catalyst nondeterministically planning this join as
    * shuffle instead of broadcast, paying a second raw-gram exchange);
    * region assembly is a per-doc window (bounded by document length —
    * never corpus-wide). Hash-collision false positives are ~n²/2⁶⁵
    * and the oracle applies the identical md5-derived pair, so the
    * gate is exact.
    *
    * RELEASE CONTRACT: result == handle (the [[minhashDedupPairs]]
    * convention) — the returned span frame is an eager checkpoint;
    * release with `GraftColumns.unpersistCheckpoint` once consumed.
    */
  def duplicatedSubstringSpans(docs: DataFrame, idCol: String,
                               textCol: String,
                               minLen: Int = 25): DataFrame =
    spansFromGrams(lGrams(docs, idCol, textCol, minLen), minLen,
                   keepFirst = false)

  /** (doc_id, pos 1-based, __h1, __h2) for every L-gram start position
    * of every document — the shared detection input of the
    * exact-substring family. Hashes ride the exchange, never the L
    * chars.
    */
  private[graft] def lGrams(docs: DataFrame, idCol: String,
                            textCol: String, L: Int): DataFrame = {
    import graft.functions.PortableHash
    require(L >= 2, s"need minLen >= 2, got $L")
    Partitioning.spread(docs)
      .select(col(idCol).as("doc_id"), col(textCol).as("__t"))
      .filter(length(col("__t")) >= L)
      .select(col("doc_id"), posexplode(expr(
        s"transform(sequence(1, length(__t) - ${L - 1})," +
          s" p -> substring(__t, p, $L))")).as(Seq("__i", "__g")))
      .select(col("doc_id"), (col("__i") + 1).cast("long").as("pos"),
              PortableHash.h32(col("__g")).as("__h1"),
              PortableHash.h32b(col("__g")).as("__h2"))
  }

  /** Shared detection tail of [[duplicatedSubstringSpans]] /
    * [[keepFirstDuplicatedSubstringSpans]]: aggregate duplicated gram
    * keys (plus the keep-first keeper field when asked), join coverage
    * back, assemble maximal regions. Returns the spans CHECKPOINTED
    * (result == handle).
    *
    * The coverage join's strategy is decided by a COUNTED dup-key
    * cardinality, never left to Catalyst size estimates: the r11 bench
    * caught this exact join flipping nondeterministically between
    * broadcast (probe side recomputes grams narrowly from the scan — no
    * second exchange) and shuffle (a second raw-gram exchange, 2× the
    * operator's shuffle bytes at sf0.1), because the estimate rides the
    * input checkpoint's block sizes. Under the cap the dup keys
    * broadcast — deterministic and strictly cheaper; above it (the
    * 100 TB regime, where a broadcast would OOM the driver) the shuffle
    * semi-join is the correct plan and is chosen explicitly. The dup-key
    * aggregate is checkpointed to pay its shuffle once for the count and
    * the join, and released before return.
    */
  /** The LAZY duplicated-gram-key aggregate (pre-checkpoint) —
    * private[graft] so `PlanShapeSpec` can pin its map-combine shape
    * (the keeper election must ride partial_min inside the same hash
    * agg), which the checkpointed production path hides.
    */
  private[graft] def dupGramKeys(grams: DataFrame,
                                 keepFirst: Boolean): DataFrame = {
    val agg = grams.groupBy("__h1", "__h2")
    (if (keepFirst)
       agg.agg(count(lit(1)).as("__c"),
               min(struct(col("doc_id"), col("pos"))).as("__k"))
     else agg.agg(count(lit(1)).as("__c")))
      .filter(col("__c") >= 2)
      .drop("__c")
  }

  private def spansFromGrams(grams: DataFrame, L: Int, keepFirst: Boolean,
                             broadcastKeyCap: Long = DefaultBroadcastPairCap)
      : DataFrame = {
    val dup = dupGramKeys(grams, keepFirst).graftCheckpoint()
    try {
      val dupJ = if (dup.count() <= broadcastKeyCap) broadcast(dup) else dup
      val covered =
        if (keepFirst)
          grams.join(dupJ, Seq("__h1", "__h2"))
            .filter(col("doc_id") =!= col("__k.doc_id") ||
                    col("pos") =!= col("__k.pos"))
            .select("doc_id", "pos")
        else
          grams.join(dupJ, Seq("__h1", "__h2"), "left_semi")
            .select("doc_id", "pos")
      coveredToSpans(covered, L).graftCheckpoint()
    } finally
      org.apache.spark.sql.GraftColumns.unpersistCheckpoint(dup)
  }

  /** Merge covered L-gram start positions into maximal disjoint
    * regions: windows [p, p+L-1] merge iff the gap to the previous
    * covered position is <= L (contiguous union); a larger gap leaves
    * >= 1 uncovered char between regions. Per-doc window — bounded by
    * document length, never corpus-wide.
    */
  private def coveredToSpans(covered: DataFrame, L: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("doc_id").orderBy("pos")
    covered
      .withColumn("__brk",
        when(col("pos") - lag(col("pos"), 1).over(w) > L, 1L).otherwise(0L))
      .withColumn("__reg", sum(col("__brk")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("doc_id"), col("__reg"))
      .agg(min(col("pos")).as("span_start"),
           (max(col("pos")) - min(col("pos")) + L).as("span_len"))
      .select(col("doc_id"), col("span_start"),
              col("span_len").cast("long").as("span_len"))
  }

  /** KEEP-FIRST variant of [[duplicatedSubstringSpans]] — the regions
    * to cut under PER-GRAM canonical-copy election (r10 verdict #8):
    * for every duplicated L-gram, its globally FIRST occurrence under
    * the (doc_id, pos) total order is the keeper and keeps its window;
    * every other occurrence's window is cut. In the COMMON case — a
    * span family whose L-grams occur only inside the family's copies —
    * a repeated substring of any length ≥ L survives exactly once, in
    * the document where it first occurs, because each of its L-grams'
    * first occurrences all lie in that earliest copy. The election is
    * PER GRAM, not per span family (ADVICE r11): when one of a span's
    * L-grams ALSO occurs at an earlier, unrelated position, that
    * gram's keeper lies outside the family's earliest copy and the
    * earliest copy can itself be partially cut — the documented edge
    * the oracle replays with the identical rule. This is the
    * Lee et al. training-set REWRITE shape (one canonical copy per
    * duplicated region in the common case), where
    * [[duplicatedSubstringSpans]] is their conservative cut-everywhere
    * detection default.
    *
    * Keeper election is one extra field in the SAME hash agg the
    * detection pass already runs (min of the (doc_id, pos) struct per
    * gram key) — no new shuffle over the detection path; the
    * non-keeper filter rides the coverage join.
    *
    * RELEASE CONTRACT: result == handle ([[duplicatedSubstringSpans]]).
    */
  def keepFirstDuplicatedSubstringSpans(docs: DataFrame, idCol: String,
                                        textCol: String,
                                        minLen: Int = 25): DataFrame =
    spansFromGrams(lGrams(docs, idCol, textCol, minLen), minLen,
                   keepFirst = true)

  /** APPLY step of [[keepFirstDuplicatedSubstringSpans]]: cut every
    * non-canonical duplicated region and emit the cleaned digests —
    * same output shape as [[removeDuplicatedSubstrings]], but each
    * duplicated span family survives exactly once corpus-wide instead
    * of zero times (per-gram election — see the span function's edge
    * case).
    *
    * RELEASE CONTRACT: result == handle; the span checkpoint is
    * released internally once the result materializes.
    */
  def removeDuplicatedSubstringsKeepFirst(docs: DataFrame, idCol: String,
                                          textCol: String,
                                          minLen: Int = 25): DataFrame = {
    val spans =
      keepFirstDuplicatedSubstringSpans(docs, idCol, textCol, minLen)
    try Intervals.cutSpans(
        Partitioning.spread(docs).withColumnRenamed(idCol, "doc_id"),
        "doc_id", textCol, spans,
        startCol = "span_start", lenCol = "span_len",
        broadcastSpanCap = Intervals.DefaultBroadcastSpanCap)
      .withColumnRenamed("cut_md5", "cleaned_md5")
      .graftCheckpoint()
    finally org.apache.spark.sql.GraftColumns.unpersistCheckpoint(spans)
  }

  /** Corpus-side STATE of incremental exact-substring dedup: the
    * distinct L-gram hash keys of the corpus — (gram_h1, gram_h2), one
    * row per distinct key. Presence is all the batch path needs
    * (corpus precedence cuts EVERY batch occurrence of a corpus gram,
    * so neither counts nor keeper positions are carried), which makes
    * the state INCREMENTALLY MAINTAINABLE with no recount:
    * postings(corpus ∪ batch) = (postings(corpus) ∪ postings(batch))
    * distinct — the merge a daily-ingest loop runs after each batch.
    */
  def substringGramPostings(corpus: DataFrame, idCol: String,
                            textCol: String,
                            minLen: Int = 25): DataFrame =
    lGrams(corpus, idCol, textCol, minLen)
      .select(col("__h1").as("gram_h1"), col("__h2").as("gram_h2"))
      .distinct()

  /** INCREMENTAL (batch-vs-corpus) exact-substring dedup — the daily-
    * crawl shape of [[keepFirstDuplicatedSubstringSpans]] (r11 verdict
    * #3): new documents are checked against an EXISTING corpus's gram
    * postings and spans are cut ONLY in the batch, with keep-first
    * election respecting CORPUS PRECEDENCE. A batch L-gram window is
    * covered (cut) iff
    *
    *   - its key exists in `corpusPostings` (the corpus copy is the
    *     canonical one — every batch occurrence is cut), OR
    *   - the key is corpus-new but occurs ≥ 2 times in the batch, and
    *     this occurrence is not the batch's first under the
    *     (doc_id, pos) total order (within-batch keep-first).
    *
    * EQUIVALENCE: when every corpus doc_id orders before every batch
    * doc_id, the output equals
    * `keepFirstDuplicatedSubstringSpans(corpus ∪ batch)` restricted to
    * batch documents — the batch-vs-corpus form IS the full recompute,
    * paid incrementally (`IncrementalSubstringSpec` gates the
    * identity).
    *
    * Scale shape (the [[incrementalMinhashPairs]] asymmetric contract):
    * the corpus NEVER reshuffles — `corpusPostings` (the persistent
    * index, 16 B/row) streams through ONE probe join against the
    * batch's distinct gram keys, broadcast under the counted cap; the
    * batch side (a day's crawl vs the accumulated corpus) pays one
    * gram aggregation and one coverage join, both batch-sized. Above
    * the cap the probe degrades to a shuffle semi-join of key pairs —
    * 16 bytes per corpus-distinct gram, never document text.
    *
    * Output: (doc_id, span_start, span_len) over batch docs only.
    * RELEASE CONTRACT: result == handle.
    */
  def incrementalDuplicatedSubstringSpans(
      corpusPostings: DataFrame, batch: DataFrame, idCol: String,
      textCol: String, minLen: Int = 25,
      broadcastKeyCap: Long = DefaultBroadcastPairCap): DataFrame = {
    val grams = lGrams(batch, idCol, textCol, minLen)
    val batchKeys = grams.groupBy("__h1", "__h2")
      .agg(count(lit(1)).as("__c"),
           min(struct(col("doc_id"), col("pos"))).as("__k"))
      .graftCheckpoint()
    try {
      val nKeys = batchKeys.count()
      val probe = batchKeys.select("__h1", "__h2")
      val probeJ = if (nKeys <= broadcastKeyCap) broadcast(probe) else probe
      // corpus postings stream once; only batch-present keys survive
      val hits = corpusPostings
        .select(col("gram_h1").as("__h1"), col("gram_h2").as("__h2"))
        .join(probeJ, Seq("__h1", "__h2"), "left_semi")
        .withColumn("__in_corpus", lit(true))
      val dupKeys = batchKeys.join(hits, Seq("__h1", "__h2"), "left")
        .filter(col("__in_corpus").isNotNull || col("__c") >= 2)
        .select(col("__h1"), col("__h2"),
                coalesce(col("__in_corpus"), lit(false)).as("__in_corpus"),
                col("__k"))
        .graftCheckpoint()
      try {
        val dkJ =
          if (dupKeys.count() <= broadcastKeyCap) broadcast(dupKeys)
          else dupKeys
        val covered = grams.join(dkJ, Seq("__h1", "__h2"))
          .filter(col("__in_corpus") ||
                  col("doc_id") =!= col("__k.doc_id") ||
                  col("pos") =!= col("__k.pos"))
          .select("doc_id", "pos")
        coveredToSpans(covered, minLen).graftCheckpoint()
      } finally
        org.apache.spark.sql.GraftColumns.unpersistCheckpoint(dupKeys)
    } finally
      org.apache.spark.sql.GraftColumns.unpersistCheckpoint(batchKeys)
  }

  /** APPLY step of [[incrementalDuplicatedSubstringSpans]]: cut the
    * batch's covered regions and emit the cleaned digests — the same
    * output shape as [[removeDuplicatedSubstringsKeepFirst]], computed
    * for the batch only, against the corpus state. Corpus documents
    * are never rewritten (they hold the canonical copies).
    *
    * RELEASE CONTRACT: result == handle; the span checkpoint is
    * released internally once the result materializes.
    */
  def removeIncrementalDuplicatedSubstrings(
      corpusPostings: DataFrame, batch: DataFrame, idCol: String,
      textCol: String, minLen: Int = 25,
      broadcastKeyCap: Long = DefaultBroadcastPairCap): DataFrame = {
    val spans = incrementalDuplicatedSubstringSpans(
      corpusPostings, batch, idCol, textCol, minLen, broadcastKeyCap)
    try Intervals.cutSpans(
        Partitioning.spread(batch).withColumnRenamed(idCol, "doc_id"),
        "doc_id", textCol, spans,
        startCol = "span_start", lenCol = "span_len",
        broadcastSpanCap = Intervals.DefaultBroadcastSpanCap)
      .withColumnRenamed("cut_md5", "cleaned_md5")
      .graftCheckpoint()
    finally org.apache.spark.sql.GraftColumns.unpersistCheckpoint(spans)
  }

  /** Per-batch-document rollup of
    * [[incrementalDuplicatedSubstringSpans]] — [[substringDupStats]]'s
    * decision view for the incremental form: how much of each NEW
    * document is already-known (corpus) or within-batch duplicated
    * text; clean batch docs appear with zeros.
    *
    * RELEASE CONTRACT: result == handle; the span checkpoint is
    * released internally once the result materializes.
    */
  def incrementalSubstringDupStats(
      corpusPostings: DataFrame, batch: DataFrame, idCol: String,
      textCol: String, minLen: Int = 25,
      broadcastKeyCap: Long = DefaultBroadcastPairCap): DataFrame = {
    val spans = incrementalDuplicatedSubstringSpans(
      corpusPostings, batch, idCol, textCol, minLen, broadcastKeyCap)
    try {
      val perDoc = spans.groupBy("doc_id")
        .agg(count(lit(1)).as("n_spans"),
             sum(col("span_len")).as("dup_chars"))
      Partitioning.spread(batch)
        .select(col(idCol).as("doc_id"),
                length(col(textCol)).cast("long").as("n_chars"))
        .join(perDoc, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_chars"),
                coalesce(col("n_spans"), lit(0L)).as("n_spans"),
                coalesce(col("dup_chars"), lit(0L)).as("dup_chars"))
        .withColumn("dup_e6",
          expr("CASE WHEN n_chars = 0 THEN 0" +
               " ELSE (1000000 * dup_chars) div n_chars END"))
        .graftCheckpoint()
    } finally org.apache.spark.sql.GraftColumns.unpersistCheckpoint(spans)
  }

  /** Per-document rollup of [[duplicatedSubstringSpans]] — the
    * dedup-decision view: span count, duplicated-char total (regions
    * are disjoint by construction, so a plain sum IS the union size),
    * and the duplicated fraction ⌊10⁶·dup/chars⌋. Docs with no
    * duplicated region appear with zeros (the left join is the
    * contract — a missing doc and a clean doc must be distinguishable).
    */
  def substringDupStats(docs: DataFrame, idCol: String, textCol: String,
                        minLen: Int = 25): DataFrame = {
    val spans = duplicatedSubstringSpans(docs, idCol, textCol, minLen)
    try {
      val perDoc = spans.groupBy("doc_id")
        .agg(count(lit(1)).as("n_spans"),
             sum(col("span_len")).as("dup_chars"))
      Partitioning.spread(docs)
        .select(col(idCol).as("doc_id"),
                length(col(textCol)).cast("long").as("n_chars"))
        .join(perDoc, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_chars"),
                coalesce(col("n_spans"), lit(0L)).as("n_spans"),
                coalesce(col("dup_chars"), lit(0L)).as("dup_chars"))
        .withColumn("dup_e6",
          expr("CASE WHEN n_chars = 0 THEN 0" +
               " ELSE (1000000 * dup_chars) div n_chars END"))
        .graftCheckpoint()
    } finally org.apache.spark.sql.GraftColumns.unpersistCheckpoint(spans)
  }

  /** APPLY step of [[duplicatedSubstringSpans]] — Lee et al. 2021's
    * ExactSubstr removal: cut every maximal duplicated region (≥ minLen
    * chars, duplicated anywhere in the corpus, multiplicity counted)
    * out of every document and emit the cleaned text's digest. This is
    * the conservative published variant (their released tool's default
    * cuts the span from every occurrence; keeper election per region
    * would need a global occurrence order the paper doesn't define).
    *
    * Output: (doc_id, n_chars, removed_chars, cleaned_md5) — clean docs
    * keep their original text (removed_chars = 0), all-duplicate docs
    * come back as md5("").
    *
    * Scale shape: span detection is the [[duplicatedSubstringSpans]]
    * pipeline (hashed L-gram keys, never raw text, into the exchange);
    * the REBUILD is one groupBy over the per-doc span list (bounded by
    * doc length / minLen, since maximal regions are disjoint with a gap
    * char between them) joined back to the text — the document body
    * crosses the wire exactly once, and the cut itself is a codegen'd
    * `aggregate` fold over the sorted span array, linear in doc bytes.
    *
    * RELEASE CONTRACT: result == handle; the span checkpoint is
    * released internally once the result materializes.
    */
  def removeDuplicatedSubstrings(docs: DataFrame, idCol: String,
                                 textCol: String,
                                 minLen: Int = 25): DataFrame = {
    val spans = duplicatedSubstringSpans(docs, idCol, textCol, minLen)
    try Intervals.cutSpans(
        Partitioning.spread(docs).withColumnRenamed(idCol, "doc_id"),
        "doc_id", textCol, spans,
        startCol = "span_start", lenCol = "span_len",
        broadcastSpanCap = Intervals.DefaultBroadcastSpanCap)
      .withColumnRenamed("cut_md5", "cleaned_md5")
      .graftCheckpoint()
    finally org.apache.spark.sql.GraftColumns.unpersistCheckpoint(spans)
  }

  def applyDedup(docs: DataFrame, idCol: String, pairs: DataFrame,
                 aCol: String = "doc_a", bCol: String = "doc_b"): DataFrame =
    applyDedupReleasable(docs, idCol, pairs, aCol, bCol)._1

  /** [[applyDedup]] plus the RELEASE HANDLE for the component-label
    * checkpoint it creates (the raw [[GraphOps.connectedComponents]]
    * output — `GraftColumns.unpersistCheckpoint` needs the un-projected
    * frame). Long-lived callers (a streaming micro-batch loop) must
    * release the handle once the result is materialized, or every
    * invocation pins one labels RDD until driver GC; one-shot batch
    * queries can use [[applyDedup]] and let session cleanup collect it.
    */
  def applyDedupReleasable(docs: DataFrame, idCol: String, pairs: DataFrame,
                           aCol: String = "doc_a", bCol: String = "doc_b")
      : (DataFrame, DataFrame) = {
    val labels = GraphOps.connectedComponents(pairs, aCol, bCol)
    val cc = labels.toDF(idCol, "component")
    val out = docs.join(cc, Seq(idCol), "left")
      .withColumn("kept",
        col("component").isNull || col("component") === col(idCol))
    (out, labels)
  }

  /** QUALITY-AWARE KEEPER ELECTION — the production refinement of
    * [[applyDedup]]'s min-id rule: within each near-dup component the
    * surviving copy is the HIGHEST-QUALITY one (integer score,
    * caller-chosen: word count, quality-gate signals, recency), ties
    * to the smallest id. "Which crawl of this page do we train on" is
    * a quality decision, not an id accident.
    *
    * Returns one row per doc: (id, component, keeper_id, kept) — the
    * full decision table, auditable (component and elected keeper are
    * visible, not just the boolean). Singletons keep themselves.
    * Cost on top of the pairs: the CC rounds + one per-component
    * struct-max argmax + two keyed joins. Ids must be numeric (the
    * tie-break negates them — same contract as labelPropagation).
    */
  def electKeepers(docs: DataFrame, idCol: String, qualityCol: String,
                   pairs: DataFrame, aCol: String = "doc_a",
                   bCol: String = "doc_b"): DataFrame = {
    val badIds = docs
      .filter(col(idCol).isNull || col(idCol) < 0).limit(1).count()
    require(badIds == 0,
      "electKeepers requires non-negative non-null numeric ids " +
        "(the deterministic tie-break negates them)")
    val cc = GraphOps.connectedComponents(pairs, aCol, bCol)
      .toDF(idCol, "__comp")
    val withComp = docs
      .select(col(idCol), col(qualityCol).cast("long").as("__q"))
      .join(cc, Seq(idCol), "left")
      .withColumn("component", coalesce(col("__comp"), col(idCol)))
    val keepers = withComp
      .groupBy(col("component"))
      .agg(max(struct(col("__q"), (-col(idCol)).as("__neg"))).as("__top"))
      .select(col("component"), (-col("__top.__neg")).as("keeper_id"))
    withComp
      .join(keepers, Seq("component"))
      .select(col(idCol), col("component"), col("keeper_id"),
              (col(idCol) === col("keeper_id")).as("kept"))
  }

  /** 64-bit SimHash over word occurrences: bit b of the signature is set
    * iff Σ_words (2·bit_b(h64(w)) − 1) > 0, h64 = first 8 md5 bytes (hi
    * half ≡ [[PortableHash.h32]]). Computed by the codegen'd
    * [[graft.functions.SimHashSignature]] kernel — one compiled call per
    * row, zero shuffle. (The original form was a nested interpreted HOF
    * doing pow/floor double math per word × bit; like MinHash before its
    * kernel, that made signature build the dominant cost of simhashPairs.)
    */
  def simhash(text: Column): Column = {
    import org.apache.spark.sql.GraftColumns
    GraftColumns.column(graft.functions.SimHashSignature(
      GraftColumns.expression(TextFunctions.words(text))))
  }

  /** Hamming distance between two SimHash values. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** SimHash near-dup pairs with EXACT recall: candidates from banded
    * signature slices, verified by true Hamming distance.
    *
    * Recall argument (pigeonhole): the 64-bit signature splits into
    * `bands` equal slices; a pair within `maxHamming` < bands differing
    * bits must agree on ≥1 whole slice, so banding misses nothing —
    * unlike MinHash-LSH this candidate stage is lossless, which is why
    * the all-pairs Hamming filter is a valid exact oracle. Work is
    * O(n·bands) shuffle + collisions, never an n² cross join.
    *
    * Scale note: band-key width bounds collision fan-out — the default
    * 4 bands over 64 bits give 16-bit keys (65k buckets/band), which
    * keeps collision lists short into the 10⁷-doc range; beyond that,
    * raise bands (wider candidate net, smaller keys) only as maxHamming
    * demands and rely on AQE skew handling for hot buckets.
    *
    * RELEASE CONTRACT: result == handle ([[containmentPairs]]).
    */
  def simhashPairs(docs: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 3, bands: Int = 4): DataFrame = {
    require(maxHamming < bands,
      s"exact recall needs maxHamming < bands, got $maxHamming/$bands")
    require(bands >= 1 && 64 % bands == 0,
      s"bands must divide the 64-bit signature evenly, got $bands")
    val bits = 64 / bands
    val mask = if (bits == 64) -1L else (1L << bits) - 1
    val sigs = Partitioning.spread(docs)
      .select(col(idCol).as("doc_id"), simhash(col(textCol)).as("sig"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    val banded = sigs.select(
      col("doc_id"), col("sig"),
      explode(array((0 until bands).map { b =>
        struct(lit(b).as("band"),
               shiftrightunsigned(col("sig"), b * bits)
                 .bitwiseAND(lit(mask)).as("key"))
      }: _*)).as("bk"))
      .select(col("doc_id"), col("sig"),
              col("bk.band").as("band"), col("bk.key").as("key"))

    val verified = banded.as("x")
      .join(banded.as("y"),
            col("x.band") === col("y.band") && col("x.key") === col("y.key") &&
              col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
              hamming(col("x.sig"), col("y.sig")).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
    val out = verified.graftCheckpoint()
    sigs.unpersist()
    out
  }

  /** Corpus-level LINE dedup (the C4 rule: a line occurring more than
    * once in the corpus survives only at its first occurrence), then
    * document reconstruction from the surviving lines. "Lines" here are
    * fixed `wordsPerLine`-word groups in document order (the corpus is
    * single-line text; a newline-delimited corpus passes its real lines
    * through the same keeper/rebuild stages).
    *
    * Output: one row per input doc — `n_lines`, `n_kept`, and `new_text`
    * (surviving lines joined by a single space in original order; empty
    * string when every line first occurred elsewhere).
    *
    * Scale shape: line building is per-row arithmetic over the scan
    * (zero shuffle). The keeper decision is ONE hash aggregate keyed on
    * the line string — `min(struct(doc_id, line_idx))` combines map-side,
    * so a web-scale boilerplate line (10⁹ occurrences) collapses to one
    * partial per task instead of sorting a 10⁹-row window partition.
    * Because every distinct line keeps exactly its minimal occurrence,
    * the keeper rows ARE the surviving lines — no join back to the
    * occurrence table; rebuild is a second hash aggregate keyed on the
    * keeper's doc. Two shuffles total, both map-combined.
    */
  def lineDedup(docs: DataFrame, idCol: String, textCol: String,
                wordsPerLine: Int): DataFrame = {
    require(wordsPerLine > 0, s"need wordsPerLine>0, got $wordsPerLine")
    val wpl = wordsPerLine
    val ws = TextFunctions.words(col(textCol))
    val base = Partitioning.spread(docs).select(
      col(idCol).as("doc_id"),
      ws.as("ws"),
      floor((size(ws) + (wpl - 1)) / lit(wpl)).cast("long").as("n_lines"))
    val lines = base.select(
        col("doc_id"),
        posexplode(transform(sequence(lit(0L), col("n_lines") - 1),
          i => concat_ws(" ", slice(col("ws"), (i * wpl + 1).cast("int"),
                                    lit(wpl))))))
      .toDF("doc_id", "line_idx", "line")
    val keepers = lines
      .groupBy("line")
      .agg(min(struct(col("doc_id"), col("line_idx"))).as("m"))
      .select(col("m.doc_id").as("doc_id"),
              col("m.line_idx").as("line_idx"), col("line"))
    val rebuilt = keepers
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_kept"),
           array_join(
             transform(
               array_sort(collect_list(struct(col("line_idx"), col("line")))),
               x => x.getField("line")),
             " ").as("new_text"))
    base.select(col("doc_id"), col("n_lines"))
      .join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_lines"),
              coalesce(col("n_kept"), lit(0L)).as("n_kept"),
              coalesce(col("new_text"), lit("")).as("new_text"))
  }
}
