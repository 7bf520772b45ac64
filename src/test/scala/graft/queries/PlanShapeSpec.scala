package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ExplainMode

import graft.SparkSpec

/** Physical-plan shape assertions — the 100 TB design contracts that
  * row-level oracles cannot see. Each test pins a property that must
  * survive refactoring: filters/projections reach the parquet scan,
  * small sides broadcast (never shuffle the fact side), Top-N plans as
  * TakeOrderedAndProject (bounded heap, no global sort), aggregates keep
  * map-side partials, hot expressions stay inside whole-stage codegen.
  */
class PlanShapeSpec extends SparkSpec {

  private def formatted(df: DataFrame): String =
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))

  /** Final (post-AQE) physical plan: execute, then render. The rendered
    * AdaptiveSparkPlan includes the pre-AQE "Initial Plan" section too —
    * cut it, or node counts double.
    */
  private def finalPlan(df: DataFrame): String = {
    df.collect()
    df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
  }

  test("q2: predicate pushdown and column pruning reach the parquet scan") {
    val plan = formatted(RelationalQueries.q2FilterPushdown(spark, sf))
    assert(plan.contains("PushedFilters: ["), "filters must push to scan")
    assert(plan.contains("GreaterThanOrEqual(l_shipdate"),
      "shipdate range must be in PushedFilters, not a post-scan filter only")
    assert(plan.contains("LessThan(l_quantity"),
      "quantity predicate must push down")
    val readSchema = plan.linesIterator
      .filter(_.contains("ReadSchema")).mkString
    assert(!readSchema.contains("l_discount"),
      s"scan must prune unused columns, got: $readSchema")
  }

  test("q3: dimension joins broadcast — the fact side never shuffles") {
    val plan = finalPlan(RelationalQueries.q3DimJoin(spark, sf))
    assert(plan.contains("BroadcastHashJoin"), "dims must broadcast")
    assert(!plan.contains("SortMergeJoin"),
      "no sort-merge join for broadcast-sized dims")
  }

  test("q6: Top-N plans as TakeOrderedAndProject + broadcast semi-join") {
    val plan = finalPlan(RelationalQueries.q6TopNSemiJoin(spark, sf))
    assert(plan.contains("TakeOrderedAndProject"),
      "orderBy+limit must use a bounded per-partition heap, not a global sort")
    assert(plan.contains("LeftSemi"), "Top-N filter is a semi-join")
    assert(plan.contains("BroadcastHashJoin"), "Top-N side broadcasts")
  }

  test("q11: global sort+limit plans as TakeOrderedAndProject") {
    val plan = finalPlan(RelationalQueries.q11SortLimit(spark, sf))
    assert(plan.contains("TakeOrderedAndProject"))
  }

  test("q1: aggregate keeps map-side partials (two HashAggregate phases)") {
    val plan = finalPlan(RelationalQueries.q1Agg(spark, sf))
    val n = "HashAggregate".r.findAllIn(plan).length
    assert(n >= 2, s"expected partial+final HashAggregate, found $n")
  }

  test("q27: text-quality pipeline stays in whole-stage codegen") {
    // "*(n)" prefixes in the compact plan mark WholeStageCodegen spans;
    // the projection holding the text metrics must carry one — an
    // interpreted HOF (e.g. size(filter(...))) would break the span.
    val plan = finalPlan(PipelineQueries.q27Quality(spark, sf))
    assert(plan.linesIterator.exists(l =>
      l.contains("*(") && l.contains("word_set_count")),
      s"stopword counting must run codegen'd inside WSCG, plan:\n$plan")
  }

  test("q24: brute-force ANN broadcasts the query side, corpus streams") {
    val plan = finalPlan(PipelineQueries.q24EmbedKnn(spark, sf))
    assert(plan.contains("BroadcastNestedLoopJoin") ||
           plan.contains("BroadcastHashJoin"),
      "query vectors must broadcast; the corpus side must not shuffle")
    assert(plan.contains("dot_float"),
      "cosine must run through the codegen'd DotFloat kernel")
  }

  test("minhash verify joins broadcast candidates over persisted sets") {
    // q22's public form materializes its result (to release the shingle
    // cache), so assert on the constituent pipeline: persisted sets +
    // broadcast of the (small) candidate side into the verify join.
    import org.apache.spark.sql.functions._
    import graft.functions.TextFunctions
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val sets = docs.select(col("doc_id"),
        TextFunctions.shingles(col("text"), 3).as("sh"))
      .filter(size(col("sh")) > 0).persist()
    try {
      val cand = sets.select(col("doc_id").as("doc_a"))
        .crossJoin(sets.select(col("doc_id").as("doc_b")))
        .filter(col("doc_a") < col("doc_b")).limit(10)
      val verify = sets.select(col("doc_id").as("doc_a"), col("sh").as("sh_a"))
        .join(broadcast(cand), "doc_a")
      val plan = finalPlan(verify)
      assert(plan.contains("BroadcastHashJoin"),
        "candidate pairs must broadcast into the verify join")
      assert(plan.contains("InMemoryTableScan"),
        "shingle sets must come from the persisted cache")
    } finally sets.unpersist()
  }

  test("q35: TF-IDF is a join-free window pipeline reusing the doc_id exchange") {
    val plan = finalPlan(AdvancedQueries.q35Tfidf(spark, sf))
    // the only join allowed is the broadcast of the 1-row nDocs aggregate
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
      s"doc length / doc frequency must be window sums, not join branches:\n$plan")
    assert(plan.contains("BroadcastNestedLoopJoin") ||
           plan.contains("BroadcastHashJoin"),
      "nDocs arrives via a broadcast join")
    // df (term window) + n_words/rank (doc_id windows) — the two doc_id
    // windows must share ONE exchange (Window nodes stacked, 3 shuffles
    // total for the whole query)
    val n = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(n <= 3, s"expected ≤3 keyed exchanges ((doc_id,term) → term → doc_id), found $n:\n$plan")
  }

  test("q44: latest-per-key aggregates map-side — shuffle carries ~1 row/key") {
    val plan = finalPlan(AdvancedQueries.q44LatestPerKey(spark, sf))
    assert(!plan.contains("Window"),
      "max_by aggregate must replace the row_number window")
    // struct-ordered max_by plans as SortAggregate (sort key = just the
    // group key), but the property that matters at 100 TB is the PARTIAL
    // phase before the exchange: each map task reduces its events to one
    // candidate per key, so the shuffle moves ~|keys| rows, not the log.
    assert(plan.contains("partial_max_by"),
      s"aggregation must combine map-side before the shuffle:\n$plan")
  }

  test("q23: simhash runs the codegen'd 64-bit kernel inside WSCG") {
    val plan = finalPlan(PipelineQueries.q23Simhash(spark, sf))
    assert(plan.linesIterator.exists(l =>
      l.contains("*(") && l.contains("simhash_signature")),
      s"simhash must be the compiled kernel inside a codegen span:\n$plan")
  }

  test("q55: range join is a hash join on cells — never a nested-loop product") {
    val plan = finalPlan(AdvancedQueries.q55RangeJoin(spark, sf))
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
           !plan.contains("CartesianProduct"),
      s"interval containment must join on bucket cells, not scan all pairs:\n$plan")
    assert(plan.contains("HashJoin"), "cell match is an equi hash join")
  }

  test("q56: fuzzy join matches on deletion neighborhoods — no cross product") {
    val plan = finalPlan(PipelineQueries.q56FuzzyKeys(spark, sf))
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
           !plan.contains("CartesianProduct"),
      s"edit-distance candidates must come from the neighborhood equi-join:\n$plan")
    assert(plan.linesIterator.exists(l =>
      l.contains("*(") && l.contains("string_deletions")),
      "neighborhood generation runs the codegen'd kernel inside WSCG")
  }

  test("q59/q61: per-row curation stages are shuffle-free single scans") {
    // redaction and the quality ruleset are pure row expressions — any
    // Exchange in the plan (beyond the output orderBy's range exchange)
    // means a regression to a shuffling formulation
    for (q <- Seq(CurationQueries.q59PiiRedact _,
                  CurationQueries.q61QualityRules _)) {
      val plan = finalPlan(q(spark, sf))
      val exchanges = plan.linesIterator.count(_.contains("Exchange"))
      assert(exchanges <= 1,
        s"per-row stage must only shuffle for the final sort, got:\n$plan")
      assert(!plan.contains("Join"), "no joins in a per-row stage")
    }
  }

  test("q63: contamination joins broadcast eval postings — train never shuffles pre-join") {
    val plan = finalPlan(CurationQueries.q63Contamination(spark, sf))
    assert(plan.contains("BroadcastHashJoin"),
      s"eval postings must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      "train x eval must not sort-merge (train side would shuffle fully)")
  }

  test("q62: token budget is ONE shuffle (the window partition)") {
    val plan = finalPlan(CurationQueries.q62TokenBudget(spark, sf))
    assert(plan.contains("Window"), "budget cut is a running-sum window")
    // exchanges: window hash partition + final orderBy range exchange
    // + AQE reads; count real Exchange operators only
    val exchanges = plan.linesIterator
      .count(l => l.trim.startsWith("+- Exchange")
        || l.trim.startsWith("Exchange"))
    assert(exchanges <= 3, s"expected window+agg+sort exchanges only:\n$plan")
  }

  test("q65: LSH near-dup candidates come from a broadcast bucket join — " +
       "never a cross product or sort-merge") {
    val plan = finalPlan(PipelineQueries.q65EmbedNeardupLsh(spark, sf))
    assert(plan.contains("BroadcastHashJoin"),
      "bucket equi-join and verify joins must broadcast")
    assert(!plan.contains("SortMergeJoin") &&
           !plan.contains("CartesianProduct") &&
           !plan.contains("BroadcastNestedLoopJoin"),
      s"no full-corpus shuffle or n² sweep in the LSH path:\n$plan")
    assert(plan.contains("ReusedExchange"),
      "the second corpus pass must reuse the first exchange, not rescan")
  }

  test("q82: line dedup is two map-combined hash aggs — no window sort, " +
       "no extra shuffle") {
    val plan = finalPlan(CurationQueries.q82LineDedup(spark, sf))
    assert(!plan.contains("Window"),
      s"keeper selection must be min-struct agg, not a sorted window:\n$plan")
    assert(plan.contains("HashAggregate"), "line keeper is a hash agg")
    // line-key agg + doc-key agg + keeper join back to docs + output sort
    val exchanges = plan.linesIterator
      .count(l => l.trim.startsWith("+- Exchange")
        || l.trim.startsWith("Exchange"))
    assert(exchanges <= 4, s"line dedup grew extra shuffles:\n$plan")
  }

  test("q83/q89: per-row sampling stages — top-k heap, zero-shuffle mask") {
    val p83 = finalPlan(CurationQueries.q83WeightedSample(spark, sf))
    assert(p83.contains("TakeOrderedAndProject"),
      s"weighted sample must be a bounded per-partition heap:\n$p83")
    val p89 = finalPlan(CurationQueries.q89MaskTokens(spark, sf))
    val exchanges = p89.linesIterator.count(_.contains("Exchange"))
    assert(exchanges <= 1 && !p89.contains("Join"),
      s"masking is per-row — only the output sort may shuffle:\n$p89")
  }

  test("q87: hard negatives broadcast the query side — corpus side " +
       "never sort-merges") {
    val plan = finalPlan(PipelineQueries.q87HardNegatives(spark, sf))
    assert(plan.contains("BroadcastNestedLoopJoin") ||
           plan.contains("BroadcastHashJoin"),
      s"query side must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin") &&
           !plan.contains("CartesianProduct"),
      s"corpus must stream off the scan:\n$plan")
  }

  test("q90: six-table star join — dims all broadcast, at most the one " +
       "fact-fact shuffle pair, date predicate pushed to the orders scan") {
    val df = RelationalQueries.q90RegionRevenue(spark, sf)
    val plan = finalPlan(df)
    assert(plan.contains("BroadcastHashJoin"), s"dims must broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
           !plan.contains("BroadcastNestedLoopJoin"),
      s"no unkeyed join anywhere:\n$plan")
    val smj = plan.linesIterator.count(_.contains("SortMergeJoin"))
    assert(smj <= 1, s"only lineitem x orders may sort-merge:\n$plan")
    val fmt = formatted(df)
    assert(fmt.contains("PushedFilters: [IsNotNull(o_orderdate)")
        || fmt.contains("GreaterThanOrEqual(o_orderdate"),
      "date range must reach the orders scan")
  }

  // q67's prefix-sum internals are pinned in PrefixSumSpec (the operator
  // materializes its result, so the query-level plan only shows the
  // output sort over a LogicalRDD)

  test("q97: z-value stays in whole-stage codegen; layout uses no window") {
    val zdf = graft.Tables.lineitem(spark, sf)
      .select(graft.operators.ZOrder.zValue(
        org.apache.spark.sql.functions.col("l_partkey"),
        org.apache.spark.sql.functions.col("l_suppkey")).as("z"))
    val zplan = finalPlan(zdf)
    assert(zplan.linesIterator.exists(l =>
      l.contains("*(") && l.contains("Project")),
      s"Morton spread must be codegen'd arithmetic:\n$zplan")
    // file assignment must ride PrefixSum — a Window node here would be
    // the single-partition global-order scale-killer
    val rep = finalPlan(CurationQueries.q97Zorder(spark, sf))
    assert(!rep.contains("Window"),
      s"z-order layout must never plan a window:\n$rep")
  }

  test("q203: hilbert d-value stays in whole-stage codegen as ONE " +
       "projection; layout uses no window") {
    val hdf = graft.operators.Hilbert.withHilbert(
      graft.Tables.lineitem(spark, sf)
        .select(org.apache.spark.sql.functions.col("l_partkey"),
                org.apache.spark.sql.functions.col("l_suppkey")),
      "l_partkey", "l_suppkey")
    val hplan = finalPlan(hdf)
    assert(hplan.linesIterator.exists(l =>
      l.contains("*(") && l.contains("Project")),
      s"the 16-round chain must collapse into codegen'd projections:\n$hplan")
    assert(!hplan.contains("Exchange"),
      s"the d-value itself must not shuffle:\n$hplan")
    val rep = finalPlan(CurationQueries.q203Hilbert(spark, sf))
    assert(!rep.contains("Window"),
      s"hilbert layout must never plan a window:\n$rep")
  }

  test("q99: pair mining — semi-join prune, keyed joins only, Top-N heap") {
    val plan = finalPlan(CurationQueries.q99CooccurPairs(spark, sf))
    assert(plan.contains("LeftSemi"),
      s"Apriori prune must be a semi-join:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
           !plan.contains("BroadcastNestedLoopJoin"),
      s"the within-id self-join must stay keyed:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-50 must be a bounded heap:\n$plan")
  }

  test("q100: CDC chunking — windows and chunk agg share the id exchange") {
    val plan = finalPlan(CurationQueries.q100CdcChunks(spark, sf))
    val n = plan.linesIterator
      .count(_.contains("Exchange hashpartitioning"))
    // one exchange by doc_id (lag + running-count windows + per-chunk
    // agg all reuse it) + one by chunk_md5 for the shared-chunk report
    assert(n <= 2, s"expected <=2 hash exchanges, found $n:\n$plan")
  }

  test("q101: Q17 shape — part dim broadcasts, partkey shuffle shared") {
    val plan = finalPlan(RelationalQueries.q101SmallQty(spark, sf))
    assert(plan.contains("BroadcastHashJoin"),
      s"part dim must broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
           !plan.contains("BroadcastNestedLoopJoin"), s"keyed joins only:\n$plan")
    val n = plan.linesIterator
      .count(_.contains("Exchange hashpartitioning"))
    assert(n <= 3,
      s"per-part agg + join + brand agg need <=3 hash exchanges, found $n:\n$plan")
  }

  test("q108/q126: typed Aggregators aggregate map-side (partial merge)") {
    // the scale claim for the bounded top-k and the Misra-Gries sketch
    // is that each input partition ships a PARTIAL state through the
    // shuffle — physically: an ObjectHashAggregate (or SortAggregate)
    // pair with a partial phase below the exchange
    for (df <- Seq(AdvancedQueries.q108TopkPerGroup(spark, sf),
                   AdvancedQueries.q126HeavyHitters(spark, sf))) {
      val plan = finalPlan(df)
      val aggs = plan.linesIterator.count(l =>
        l.contains("ObjectHashAggregate") || l.contains("SortAggregate"))
      assert(aggs >= 2,
        s"expected partial+final typed-aggregate phases, found $aggs:\n$plan")
    }
  }

  test("q102: both window specs share ONE custkey exchange") {
    val plan = finalPlan(AdvancedQueries.q102WindowSuite(spark, sf))
    val n = plan.linesIterator
      .count(_.contains("Exchange hashpartitioning"))
    assert(n == 1,
      s"same partition keys must reuse the exchange, found $n:\n$plan")
    assert(plan.contains("Window"), "window functions must plan as Window")
  }

  test("q158: SCD2 runs on ONE user_id exchange — lag, row filter, and " +
       "lead all share the key partitioning") {
    val plan = finalPlan(AdvancedQueries.queries("q158_scd2")(spark, sf))
    val n = plan.linesIterator
      .count(_.contains("Exchange hashpartitioning"))
    assert(n == 1,
      s"both scd2 windows must reuse one exchange, found $n:\n$plan")
  }

  test("q159: the centroid model broadcasts to the scoring join — " +
       "the corpus side never shuffles on term") {
    val plan = finalPlan(PipelineQueries.queries("q159_centroid_classify")(
      spark, sf))
    assert(plan.contains("BroadcastHashJoin"),
      s"model join must broadcast:\n$plan")
  }

  test("q161: changelog merge is a map-combined struct-max agg + one " +
       "full-outer join — no window sort over the log") {
    val plan = finalPlan(AdvancedQueries.queries("q161_changelog_merge")(
      spark, sf))
    assert(!plan.contains("Window"),
      s"latest-per-key must be an aggregate, not a window:\n$plan")
    assert(plan.contains("FullOuter"),
      s"merge must plan a full-outer join:\n$plan")
    // partial_max before the exchange = map-side combine intact (struct
    // max isn't hash-aggregable, so the pair plans as SortAggregate —
    // the ~1-row-per-key shuffle claim is the partial, not the hash)
    assert(plan.contains("partial_max"),
      s"expected a partial aggregate before the shuffle:\n$plan")
    assert(plan.linesIterator.count(_.contains("Aggregate")) >= 2,
      s"expected partial+final aggregate pair:\n$plan")
  }

  test("q169: both distribution windows share ONE priority exchange") {
    val plan = finalPlan(AdvancedQueries.queries("q169_window_positions")(
      spark, sf))
    val n = plan.linesIterator
      .count(_.contains("Exchange hashpartitioning"))
    assert(n == 1,
      s"row_number and count windows must reuse one exchange:\n$plan")
  }

  test("q170: islands run on the user exchange — windows + island agg, " +
       "no extra shuffle beyond the group keys") {
    val plan = finalPlan(AdvancedQueries.queries("q170_interval_islands")(
      spark, sf))
    val n = plan.linesIterator
      .count(_.contains("Exchange hashpartitioning"))
    assert(n <= 2, s"expected <=2 hash exchanges, found $n:\n$plan")
    assert(!plan.contains("CartesianProduct"))
  }

  test("q166: depth-3 Apriori joins stay keyed — no cartesian, and the " +
       "support-bounded pair table broadcasts into the semi-joins") {
    val plan = finalPlan(CurationQueries.queries("q166_frequent_triples")(
      spark, sf))
    assert(!plan.contains("CartesianProduct"),
      s"triple expansion must never plan a cross product:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"the frequent-pair prunes should broadcast:\n$plan")
  }

  test("semantic Top-N query respects the filter context in the rank") {
    val plan = finalPlan(SemanticQueries.q19SemanticTopN(spark, sf))
    // one aggregate carries the rank and the measures: no join back to
    // the fact, and the Top-N is a sort-limit over that aggregate
    assert(!plan.contains("Join"), s"Top-N must not join:\n$plan")
    assert("HashAggregate".r.findAllIn(plan).size == 2,
      s"one aggregate (partial + final):\n$plan")
    assert(plan.contains("TakeOrderedAndProject"), plan)
    // the date filter sits below the aggregate (the plan string prints
    // children after parents), so the rank sees the filtered fact
    val lines = plan.linesIterator.toSeq
    val agg = lines.lastIndexWhere(_.contains("HashAggregate"))
    val filter = lines.indexWhere(l =>
      l.contains("Filter (") && l.contains("o_orderdate"))
    assert(agg >= 0 && filter > agg,
      s"the date filter must be applied before the aggregate:\n$plan")
  }

  test("q133: bigram LM is hash joins + hash aggs — no sort-merge, " +
       "no product, scan pruned to (doc_id, text)") {
    val plan = finalPlan(CurationQueries.q133BigramLm(spark, sf))
    assert(!plan.contains("SortMergeJoin"),
      "model joins must stay hash joins (AQE may broadcast the model)")
    assert(!plan.contains("CartesianProduct") &&
           !plan.contains("BroadcastNestedLoopJoin"),
      "no product anywhere in the LM pipeline")
    val fmt = formatted(CurationQueries.q133BigramLm(spark, sf))
    val readSchema = fmt.linesIterator
      .filter(_.contains("ReadSchema")).mkString
    assert(!readSchema.contains("lang") && !readSchema.contains("source"),
      s"documents scan must prune to id+text, got: $readSchema")
  }

  test("q137: attribution joins purchases to touches on the user key — " +
       "hash join, no product; one window per purchase") {
    val plan = finalPlan(AdvancedQueries.q137Attribution(spark, sf))
    assert(!plan.contains("CartesianProduct") &&
           !plan.contains("BroadcastNestedLoopJoin"),
      "time band must be a residual on the user equi-join, not a product")
    assert(plan.contains("Window"), "per-purchase rank is a window")
  }

  test("q138: span trim is keyed joins + bounded per-doc aggs — " +
       "no product, no corpus-wide window") {
    val plan = finalPlan(PipelineQueries.q138SpanTrim(spark, sf))
    assert(!plan.contains("CartesianProduct") &&
           !plan.contains("BroadcastNestedLoopJoin"),
      "coverage join must stay keyed on (doc_id, idx)")
    assert(!plan.contains("Window"),
      "rebuild is a grouped collect per doc, never a window sort")
  }

  test("q139: pair lift keeps the Apriori semi-prune shape — keyed " +
       "joins only, Top-N heap, 1-row N broadcast") {
    val plan = finalPlan(CurationQueries.q139PairLift(spark, sf))
    assert(!plan.contains("CartesianProduct"),
      "only the deliberate 1-row N join may be unkeyed")
    assert(plan.contains("TakeOrderedAndProject"),
      "top-50 must be a bounded heap")
    assert(plan.contains("BroadcastNestedLoopJoin") ||
           plan.contains("BroadcastHashJoin"),
      "the 1-row corpus count joins via broadcast")
  }

  test("q148/q150: media feature extraction is a shuffle-free narrow " +
       "pass — payload bytes never enter an exchange") {
    import graft.operators.{Audio, Video}
    val docs = graft.Tables.documents(spark, sf)
    val audio = Audio.extractFeatures(spark, Audio.withPayload(spark, docs))
      .toDF()
    assert(!audio.queryExecution.executedPlan.toString.contains("Exchange"),
      "audio decode + features must be one narrow pass")
    val video = Video.frameFeatures(spark, Video.withPayload(spark, docs),
                                    stride = 4)
    // The r15 codec-parallelism spread may round-robin the 8-byte
    // doc_id rows BEFORE the payload exists (Partitioning.spread in
    // withPayload — a no-op at scale). The contract stays: no exchange
    // may sit ABOVE the payload-producing MapPartitions, i.e. payload
    // bytes never enter an exchange. Assert on the plan ABOVE the
    // codec operator instead of the whole tree.
    val vplan = video.queryExecution.executedPlan.toString
    // lastIndexOf, not indexOf (r15 ADVICE): the topmost MapPartitions
    // is frameFeatures' flatMap, not the payload-producing withPayload
    // pass below it — anchoring on the DEEPEST MapPartitions makes the
    // checked region span everything above the codec pass, so an
    // exchange carrying payload bytes between the two passes fails.
    val codecAt = vplan.lastIndexOf("MapPartitions")
    assert(codecAt >= 0, "video decode must be a MapPartitions pass")
    assert(!vplan.substring(0, codecAt).contains("Exchange"),
      "video container walk + sampled decode must stay narrow above " +
        "the codec pass — payload bytes never enter an exchange")
  }

  test("q149/q151/q183: media near-dup candidates come from keyed " +
       "bucket joins — never a cross product over payloads") {
    val p149 = finalPlan(PipelineQueries.q149AudioNeardup(spark, sf))
    assert(!p149.contains("CartesianProduct") &&
           !p149.contains("BroadcastNestedLoopJoin"),
      "audio candidates must bucket on (n_samples, hash)")
    val p151 = finalPlan(PipelineQueries.q151VideoNeardup(spark, sf))
    assert(!p151.contains("CartesianProduct") &&
           !p151.contains("BroadcastNestedLoopJoin"),
      "video candidates must bucket on (n_frames, fingerprint)")
    // the multi-band key changes selectivity, not plan shape
    val p183 = finalPlan(PipelineQueries.queries("q183_audio_neardup_mb")(
      spark, sf))
    assert(!p183.contains("CartesianProduct") &&
           !p183.contains("BroadcastNestedLoopJoin"),
      "multi-band audio candidates must bucket on (n_samples, hash)")
  }

  test("q184: the capped-index path keeps keyed joins and verifies " +
       "against the persisted full sets") {
    val plan = finalPlan(PipelineQueries.queries("q184_jaccard_capped")(
      spark, sf))
    assert(!plan.contains("CartesianProduct") &&
           !plan.contains("BroadcastNestedLoopJoin"),
      s"capped candidates must come from the shingle equi-join:\n$plan")
    // the localCheckpoint materialization hides the internal plan from
    // the query level; pin the operator's internals directly
    import org.apache.spark.sql.functions._
    val docs = graft.Tables.documents(spark, sf)
    withCapturedPlans {
      graft.operators.Dedup.jaccardPairs(docs, "doc_id", "text",
        n = 3, num = 1, den = 2, maxBucketDocs = 2).count()
    } { plans =>
      val all = plans.mkString("\n")
      assert(all.contains("WindowGroupLimit") || all.contains("Window"),
        "the per-bucket min-id sample is a rank window over the bucket key")
      assert(all.contains("InMemoryTableScan"),
        "verification must read the persisted FULL shingle sets")
      assert(!all.contains("CartesianProduct"),
        "no product anywhere in the capped path")
    }
  }

  test("q152: each LPA round is keyed join + hash aggs — no window, " +
       "no cross product") {
    // localCheckpoint truncates lineage, so the FINAL plan is just a
    // checkpoint scan — capture every executed plan (one per round's
    // materialization) through a listener and assert across them all.
    // The q152 INPUT (CDC chunk graph) legitimately windows per doc —
    // scope the capture to the LPA operator itself on plain edges
    import spark.implicits._
    val edges = (0L until 400L).map(i => (i % 80, (i * 13 + 7) % 80))
      .toDF("u", "v")
    withCapturedPlans {
      graft.operators.GraphOps.labelPropagation(edges, "u", "v", 3)
        .collect()
    } { plans =>
      val all = plans.mkString("\n")
      assert(!all.contains("Window"),
        "the argmax must be a struct-max aggregate, not a window rank")
      assert(!all.contains("CartesianProduct") &&
             !all.contains("BroadcastNestedLoopJoin"),
        "neighbor label lookup must stay keyed")
      assert(all.contains("HashAggregate"), "count/argmax as hash aggs")
    }
  }

  test("q153: the 1-row-per-group median/MAD sides broadcast — the " +
       "value scan never sort-merges") {
    val plan = finalPlan(AdvancedQueries.q153MadOutliers(spark, sf))
    assert(plan.contains("BroadcastHashJoin"),
      "median and MAD joins must broadcast")
    assert(!plan.contains("SortMergeJoin"),
      "no sort-merge against the tiny statistics sides")
  }

  test("q154: the verdict CASE chain stays in codegen, the per-row " +
       "signal side broadcasts, and the word agg keeps map-side partials") {
    val plan = finalPlan(CurationQueries.q154QualityGate(spark, sf))
    assert(plan.contains("BroadcastHashJoin"),
      "per-row signals join the word agg via broadcast, not sort-merge")
    assert(!plan.contains("SortMergeJoin"))
    assert(plan.contains("partial_sum"),
      "dup-word counts must combine map-side before the doc_id shuffle")
    assert(!plan.contains("Window"),
      "the gate is CASE precedence — no window operator anywhere")
    assert(plan.contains("CASE WHEN"),
      "verdict precedence must be one codegen CASE chain, not a join")
  }

  test("q145: cross-modal composition adds no new shuffle shape — the " +
       "keeper projection is one broadcast join over the CC labels") {
    val plan = finalPlan(PipelineQueries.queries("q145_crossmodal_dedup")(
      spark, sf))
    assert(plan.contains("BroadcastHashJoin"),
      s"component labels must broadcast into the keeper join:\n$plan")
    assert(!plan.contains("SortMergeJoin") &&
           !plan.contains("CartesianProduct") &&
           !plan.contains("BroadcastNestedLoopJoin"),
      s"the union-of-pair-families composition must not invent joins:\n$plan")
    assert(!plan.contains("Window"),
      "keeper election is a min-id rule, never a window")
  }

  test("q156/q157/q163: every graph round is keyed join + map-combined " +
       "agg — no window, no product, anywhere in the iteration") {
    // localCheckpoint truncates lineage per round, so capture every
    // executed plan through a listener (the q152 discipline) and assert
    // across ALL of them — one bad round would hide from the final plan
    import spark.implicits._
    val edges = (0L until 300L).map(i => (i % 60, (i * 17 + 3) % 60))
      .toDF("u", "v")
    val weighted = edges.withColumn("w",
      org.apache.spark.sql.functions.pmod(
        org.apache.spark.sql.functions.col("u") +
          org.apache.spark.sql.functions.col("v"),
        org.apache.spark.sql.functions.lit(7L)) + 1L)
    val seeds = Seq(0L, 7L).toDF("node")
    withCapturedPlans {
      graft.operators.GraphOps.kCore(edges, "u", "v", k = 2).collect()
      graft.operators.GraphOps.bfsHops(edges, "u", "v", seeds, "node",
        maxHops = 4).collect()
      graft.operators.GraphOps.weightedDistances(weighted, "u", "v", "w",
        seeds, "node", rounds = 4).collect()
    } { plans =>
      val all = plans.mkString("\n")
      assert(!all.contains("Window"),
        "per-round relaxation must be joins + aggs, never a window sort")
      assert(!all.contains("CartesianProduct") &&
             !all.contains("BroadcastNestedLoopJoin"),
        "frontier/degree lookups must stay keyed")
      assert(all.contains("HashAggregate"),
        "min-dist / degree aggregates must be hash aggs")
    }
  }

  test("q200: scene detection is one narrow map — no join, at most " +
       "the output-sort exchange") {
    val plan = finalPlan(PipelineQueries.queries("q200_scene_cuts")(
      spark, sf))
    assert(!plan.contains("Join"),
      s"consecutive frames live in one row — nothing to join:\n$plan")
    val exchanges = plan.linesIterator.count(_.contains("Exchange"))
    assert(exchanges <= 1,
      s"only the final orderBy may exchange ($exchanges):\n$plan")
  }

  test("q201: sparse retrieval broadcasts query vectors, group-limits " +
       "the rank, keeps the 1-row totals as the only unkeyed join") {
    val plan = finalPlan(PipelineQueries.queries("q201_sparse_topk")(
      spark, sf))
    assert(plan.contains("WindowGroupLimit"),
      s"top-k must group-limit, not fully sort each query group:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"the query-vector postings join must broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"no cartesian:\n$plan")
    // the 1-row totals broadcast appears once per weight-table consumer
    // (the corpus leg and the query leg each rebuild w inline)
    val bnlj = plan.linesIterator.count(_.contains("BroadcastNestedLoopJoin"))
    assert(bnlj <= 2, s"only the 1-row corpus-totals broadcasts ($bnlj)")
  }

  test("q202: every sigma round is keyed join + sum agg + anti-join — " +
       "no window, no product, anywhere in the iteration") {
    import spark.implicits._
    val edges = (0L until 200L).map(i => (s"n${i % 40}", s"n${(i * 13 + 5) % 40}"))
      .toDF("u", "v")
    withCapturedPlans {
      graft.operators.GraphOps.pathCounts(edges, "u", "v", seed = "n0",
        maxHops = 4).collect()
    } { plans =>
      val all = plans.mkString("\n")
      assert(!all.contains("Window"),
        "sigma propagation is joins + aggs, never a window sort")
      assert(!all.contains("CartesianProduct"),
        "frontier extension and settled exclusion must stay keyed")
      assert(all.contains("HashAggregate"),
        "the predecessor-sigma sum must be a hash agg")
    }
  }

  test("q204: calibration candidates come from the keyed band join — " +
       "no product, no window; the signature store is scanned, not " +
       "recomputed") {
    val plan = finalPlan(PipelineQueries.queries("q204_minhash_calibration")(
      spark, sf))
    assert(!plan.contains("CartesianProduct") &&
           !plan.contains("BroadcastNestedLoopJoin"),
      s"banding + verify joins must stay keyed:\n$plan")
    assert(!plan.contains("Window"), "aggregation only, no window")
    assert(plan.contains("ExistingRDD"),
      "signatures must come from the localCheckpoint store (computed " +
      "once), not be re-derived per consumer")
  }

  test("q207/q208/q210: corpus-global order statistics never plan a " +
       "single-partition window — PrefixSum carries them") {
    // the scale contract of the AUC/calibration/watermark family: an
    // empty-partitionBy Window in any executed plan would be the
    // global-order scale-killer these queries exist to avoid
    for (name <- Seq("q207_auc_en_score", "q208_score_reliability")) {
      val plan = finalPlan(CurationQueries.queries(name)(spark, sf))
      assert(!plan.contains("Window"),
        s"$name must ride PrefixSum, not a window:\n$plan")
    }
    val p210 = finalPlan(AdvancedQueries.queries("q210_watermark_audit")(
      spark, sf))
    assert(!p210.contains("Window"),
      s"the running watermark max must ride PrefixSum:\n$p210")
  }

  test("q211: source lookups broadcast onto the pair stage — no " +
       "sort-merge beyond the gated pair shapes, no product") {
    val plan = finalPlan(PipelineQueries.queries("q211_source_overlap")(
      spark, sf))
    assert(plan.contains("BroadcastHashJoin"),
      s"source/count lookups must broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
           !plan.contains("BroadcastNestedLoopJoin"),
      s"no unkeyed joins:\n$plan")
    assert(!plan.contains("Window"), "cell agg only, no window")
  }

  test("q167: both retrieval legs keep bounded-heap shapes — partial " +
       "top-k aggregate, group-limited rank window, no sort-merge") {
    val plan = finalPlan(PipelineQueries.queries("q167_hybrid_rrf")(
      spark, sf))
    assert(plan.contains("partial_topkbyvalue"),
      s"per-leg top-k must map-combine through the typed aggregate:\n$plan")
    assert(plan.contains("WindowGroupLimit"),
      s"the RRF rank must group-limit, not fully sort each query group:\n$plan")
    assert(!plan.contains("SortMergeJoin") &&
           !plan.contains("CartesianProduct"),
      s"postings and model joins must broadcast or hash:\n$plan")
    // the only unkeyed join allowed is the deliberate 1-row corpus-stats
    // broadcast on each leg
    val bnlj = plan.linesIterator.count(_.contains("BroadcastNestedLoopJoin"))
    assert(bnlj <= 2, s"unexpected unkeyed joins ($bnlj):\n$plan")
  }

  test("q107 vs q160: the byte-identical per-query shuffle totals are " +
       "REAL — shared preprocessing shuffles, candidate stages broadcast") {
    // The r7 audit note: both queries reported identical shuffle totals
    // at two SFs. Stage-level measurement shows why: both run the SAME
    // spread → postings → df → rank-window preprocessing over the same
    // docs table (identical bytes, stage for stage), and their DIFFERENT
    // candidate/verify stages all ride broadcast joins — zero shuffle
    // bytes — so the per-query totals equal the shared stages' exactly.
    // This test pins that explanation: totals equal AND both final plans
    // broadcast their candidate joins. If a future change makes either
    // candidate stage shuffle, the equality breaks loudly here first.
    def measure(name: String): Long = graft.obs.Meter.during(spark) {
      PipelineQueries.queries(name)(spark, sf).count()
    }._2.shuffleBytes
    val b107 = measure("q107_ppjoin_jaccard")
    val b160 = measure("q160_containment")
    assert(b107 === b160,
      s"q107/q160 shuffle totals diverged ($b107 vs $b160) — the shared-" +
        "preprocessing explanation no longer holds; re-audit the plans")
  }

  test("q197: ER blocking conjuncts ride the join key — keyed join " +
       "only, edit distance in the post-join filter, no window") {
    // The CC stage localCheckpoints the match plan out of the final
    // explain, so the match stage pins on its own plan.
    val matchPlan = finalPlan(AdvancedQueries.erMatchPairs(spark, sf))
    assert(!matchPlan.contains("CartesianProduct") &&
           !matchPlan.contains("BroadcastNestedLoopJoin"),
      s"the blocked self-join must stay keyed on (noun, brand):\n$matchPlan")
    assert(matchPlan.contains("levenshtein"),
      "the match rule must evaluate inside the join's filter stage")
    val plan = finalPlan(AdvancedQueries.queries("q197_entity_resolution")(
      spark, sf))
    assert(!plan.contains("Window"),
      "CC rounds + survivorship are joins and hash aggs, never a window")
    assert(!plan.contains("CartesianProduct") &&
           !plan.contains("BroadcastNestedLoopJoin"),
      s"survivorship join must stay keyed:\n$plan")
    assert(plan.contains("partial_min_by") || plan.contains("partial_count"),
      "survivorship must keep map-side partials")
  }

  test("q198: fold assignment is one left join + hash aggs; the only " +
       "unkeyed join is the 1-row leak broadcast") {
    val plan = finalPlan(AdvancedQueries.queries("q198_family_folds")(
      spark, sf))
    assert(!plan.contains("CartesianProduct"), s"no cartesian:\n$plan")
    val bnlj = plan.linesIterator.count(_.contains("BroadcastNestedLoopJoin"))
    assert(bnlj <= 1,
      s"only the deliberate 1-row leak-verdict broadcast allowed ($bnlj)")
    assert(!plan.contains("Window"),
      "fold histogram and leak count are hash aggs, never a window")
  }

  test("q199: the two-level diversity agg map-combines; nothing " +
       "shuffles twice") {
    val plan = finalPlan(AdvancedQueries.queries("q199_l_diversity")(
      spark, sf))
    assert(plan.contains("partial_count"),
      s"group-size counts must map-combine:\n$plan")
    assert(!plan.contains("Window") && !plan.contains("SortMergeJoin") &&
           !plan.contains("CartesianProduct"),
      "pure hash-agg pipeline")
  }

  test("q193: blocked edit-distance joins on (noun, length band) — " +
       "the hot-block split rides the join key") {
    val plan = finalPlan(AdvancedQueries.q193EditdistBlocked(spark, sf))
    assert(plan.contains("__band"),
      s"the length band must ride the shuffle key — a bare-noun join " +
        s"is the unmitigated Σ|block|² pocket:\n$plan")
    assert(!plan.contains("CartesianProduct"), "no cartesian product")
    assert(plan.contains("Union"),
      "same-band and adjacent-band branches union (exactness contract)")
  }

  test("q215: mutual kNN is bucket-join + ONE ranking window, no cartesian") {
    val plan = finalPlan(PipelineQueries.q215MutualKnn(spark, sf))
    assert(!plan.contains("CartesianProduct"),
      "candidates must come from bucket collisions, never all-pairs")
    val windows = plan.linesIterator.count(_.contains(" Window ["))
    assert(windows == 1,
      s"both directions' ranks must ride ONE window, found $windows:\n$plan")
  }

  test("q216: decay weights broadcast the 1-row anchor and map-combine " +
       "the user agg") {
    val plan = finalPlan(CurationQueries.queries("q216_decay_weights")(
      spark, sf))
    assert(plan.contains("BroadcastNestedLoopJoin") ||
           plan.contains("BroadcastHashJoin"),
      "the max-date anchor must broadcast, never shuffle the events")
    assert(plan.contains("partial_count") || plan.contains("partial_sum"),
      "per-user agg must keep map-side partials")
    assert(!plan.contains("Window"), "no window — pure hash aggs")
  }

  test("q217: outer interval join keeps the range in the join condition") {
    val plan = finalPlan(AdvancedQueries.queries("q217_interval_outer")(
      spark, sf))
    assert(plan.contains("LeftOuter"), "left-outer semantics in the join")
    assert(!plan.contains("CartesianProduct"))
    // the range must be a join condition: a post-join Filter on pur_us
    // would fabricate null rows for matched-but-out-of-window errors
    val joinLine = plan.linesIterator
      .find(l => l.contains("Join") && l.contains("LeftOuter"))
    assert(joinLine.exists(l => l.contains("pur_us")),
      s"interval bounds must ride the join condition:\n$plan")
  }

  test("q219: DSIR model broadcasts onto the feature table; the global " +
       "quartile rides PrefixSum, never a window") {
    val plan = finalPlan(CurationQueries.queries("q219_dsir_select")(
      spark, sf))
    assert(!plan.contains("Window"),
      s"the corpus-global rank must ride PrefixSum, not a window:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"the 64-row ratio model must broadcast onto doc features:\n$plan")
    assert(!plan.contains("SortMergeJoin") &&
           !plan.contains("CartesianProduct"),
      s"only the broadcast model join and 1-row total broadcasts:\n$plan")
    assert(plan.contains("partial_count") || plan.contains("partial_sum"),
      s"feature counts must map-combine:\n$plan")
  }

  test("q220: Hamilton apportionment windows only the per-source frame " +
       "— the corpus-sized work is the scoring chain") {
    val plan = finalPlan(CurationQueries.queries("q220_domain_reweight")(
      spark, sf))
    val windows = plan.linesIterator.count(_.contains(" Window ["))
    assert(windows == 1,
      s"exactly ONE window (remainder rank over |sources| rows), " +
        s"found $windows:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"all cross joins must be broadcast 1-row frames:\n$plan")
    assert(plan.contains("partial_sum"),
      s"the per-source score agg must map-combine:\n$plan")
  }

  test("q222: first-appearance is one min-agg by shingle; the only " +
       "window rides the 10-row shard frame") {
    val plan = finalPlan(PipelineQueries.queries("q222_novelty_curve")(
      spark, sf))
    assert(plan.contains("partial_min") || plan.contains("partial_count"),
      s"the by-shingle min-agg must map-combine:\n$plan")
    val windows = plan.linesIterator.count(_.contains(" Window ["))
    assert(windows == 1,
      s"exactly ONE window (cumulative over 10 shard rows), " +
        s"found $windows:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
           !plan.contains("SortMergeJoin"),
      s"shard-frame joins are 10-row broadcasts:\n$plan")
  }

  test("q223: winnowing selection is per-row — no window, no product; " +
       "the pair count map-combines") {
    val plan = finalPlan(PipelineQueries.queries("q223_winnowing")(
      spark, sf))
    assert(!plan.contains("Window"),
      s"fingerprint selection must be array arithmetic, not a window:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"pairs must come from the keyed fingerprint join:\n$plan")
    assert(plan.contains("partial_count"),
      s"the shared-fingerprint count must map-combine:\n$plan")
  }

  test("q224: the sampler is one cluster-partitioned rank window over " +
       "the materialized assignment — no product, no second exchange") {
    val plan = finalPlan(PipelineQueries.queries("q224_cluster_balanced")(
      spark, sf))
    val windows = plan.linesIterator.count(_.contains(" Window ["))
    assert(windows == 1,
      s"exactly ONE rank window (partitioned by cid), found $windows:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
           !plan.contains("SortMergeJoin"),
      s"centroids ride the closed form, never a join:\n$plan")
    assert(plan.contains("ExistingRDD"),
      "the assignment must come from kmeansAssign's materialized " +
        "checkpoint, not re-run Lloyd per consumer")
  }

  test("q225: both cuts read the ONE checkpointed pair stage; no " +
       "second shingle self-join, no window") {
    val plan = finalPlan(AdvancedQueries.queries(
      "q225_threshold_sensitivity")(spark, sf))
    assert(plan.contains("ExistingRDD"),
      "the strict cut must filter the materialized loose pairs, " +
        "never re-run the shingle join")
    assert(!plan.contains("Window"), "confusion row is pure hash aggs")
    assert(!plan.contains("CartesianProduct"),
      s"only broadcast 1-row joins allowed:\n$plan")
  }

  test("q226: passjoin verifies inside the signature join — keyed " +
       "equi-join, threshold kernel in the plan, no product, no window") {
    val plan = finalPlan(AdvancedQueries.queries("q226_passjoin_editdist")(
      spark, sf))
    assert(plan.contains("levenshtein"),
      s"the threshold kernel must verify candidates in-plan:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"candidates come from the signature equi-join, never a product:\n$plan")
    assert(!plan.contains("Window"),
      s"no window anywhere in the passjoin chain:\n$plan")
    assert(plan.contains("partial_count"),
      s"the histogram agg must map-combine:\n$plan")
  }

  test("q227: the OLS audit is ONE map-combined aggregate over the " +
       "scoring chain — no window, no product") {
    val plan = finalPlan(CurationQueries.queries("q227_score_length_bias")(
      spark, sf))
    assert(!plan.contains("Window"),
      s"closed-form sums need no window:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"no product anywhere:\n$plan")
    assert(plan.contains("partial_sum"),
      s"the five sums must map-combine:\n$plan")
  }

  test("q228: smoothed shares window only the per-language frame; " +
       "totals broadcast; sizes map-combine") {
    val plan = finalPlan(CurationQueries.queries("q228_smoothed_shares")(
      spark, sf))
    val windows = plan.linesIterator.count(_.contains(" Window ["))
    assert(windows == 1,
      s"exactly ONE window (remainder rank over |langs| rows), " +
        s"found $windows:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"the totals are broadcast 1-row frames:\n$plan")
    assert(plan.contains("partial_count"),
      s"per-language sizes must map-combine:\n$plan")
  }

  test("q229: the sequential greedy folds on the driver over the " +
       "collected |sources| frame — the returned plan is control-plane") {
    val plan = finalPlan(CurationQueries.queries("q229_epoch_allocation")(
      spark, sf))
    // the corpus-sized work (q133 chain + per-source agg) runs in the
    // collect; the result frame is the parallelized allocation
    assert(plan.contains("SerializeFromObject") ||
           plan.contains("ExistingRDD"),
      s"the allocation must come from the driver fold:\n$plan")
    assert(!plan.contains(" Window [") && !plan.contains("Join"),
      s"nothing corpus-sized may remain in the result plan:\n$plan")
  }

  test("q230: the SNM rank rides PrefixSum (no corpus window); pairs " +
       "come from the rank-bucket equi-join; verdict aggs map-combine") {
    val plan = finalPlan(AdvancedQueries.queries("q230_snm_recall")(
      spark, sf))
    assert(!plan.contains(" Window ["),
      s"the global rank must ride PrefixSum, never a window:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"1-row frames broadcast; candidates come from equi-joins:\n$plan")
    assert(plan.contains("levenshtein"),
      s"the match rule verifies in-plan:\n$plan")
    assert(plan.contains("partial_count") || plan.contains("partial_sum"),
      s"the verdict aggregates must map-combine:\n$plan")
  }

  test("q231: both SNM passes ride PrefixSum — no corpus window; " +
       "no product") {
    val plan = finalPlan(AdvancedQueries.queries("q231_snm_multipass")(
      spark, sf))
    assert(!plan.contains(" Window ["),
      s"both global ranks must ride PrefixSum, never a window:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"1-row frames broadcast; candidates come from equi-joins:\n$plan")
    assert(plan.contains("levenshtein"),
      s"the match rule verifies in-plan:\n$plan")
  }

  test("q232: both KS cumulatives ride ONE PrefixSum — no window " +
       "over the pooled score axis; verdict frames broadcast") {
    val plan = finalPlan(CurationQueries.queries("q232_ks_test")(
      spark, sf))
    assert(!plan.contains(" Window ["),
      s"the cumulative counts must ride PrefixSum, never a window:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"the total/best/at frames are broadcast 1-row joins:\n$plan")
    // the per-score agg runs upstream of PrefixSum's materialization
    // (ExistingRDD), so the visible partials here are the totals' max
    assert(plan.contains("partial_max"),
      s"the totals must map-combine over the prefix frame:\n$plan")
    assert(plan.contains("ExistingRDD"),
      s"the cumulatives must come from the PrefixSum pass:\n$plan")
  }

  test("q233: the daily agg map-combines; the pairwise S join rides " +
       "the broadcast |days| frame; no window, no product") {
    val plan = finalPlan(AdvancedQueries.queries("q233_mann_kendall")(
      spark, sf))
    assert(plan.contains("partial_sum"),
      s"the daily mean agg must map-combine over the stream:\n$plan")
    assert(!plan.contains(" Window ["),
      s"no window anywhere — everything past the agg is |days| rows:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"the day-pair join broadcasts the |days| frame:\n$plan")
  }

  test("q234: exactly two bounded windows (B-row global cum + " +
       "group-partitioned grid cum); cells map-combine; no product") {
    val plan = finalPlan(AdvancedQueries.queries("q234_t_closeness")(
      spark, sf))
    val windows = plan.linesIterator.count(_.contains(" Window ["))
    assert(windows == 2,
      s"two control-plane windows (|priorities| and |groups|×B rows), " +
        s"found $windows:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"the B-row frames broadcast:\n$plan")
    assert(plan.contains("partial_count"),
      s"the (group × priority) cells must map-combine:\n$plan")
  }

  test("q235: the naive <= predicate is thresholded by the optimizer " +
       "rule — the filter kernel carries Some(2)") {
    val df = AdvancedQueries.queries("q235_lev_rewrite")(spark, sf)
    val opt = df.queryExecution.optimizedPlan.treeString
    assert(opt.contains("Some(2)"),
      s"the join filter must carry the threshold kernel:\n$opt")
    val plan = finalPlan(df)
    assert(!plan.contains("CartesianProduct"),
      s"the bare noun join is an equi-join:\n$plan")
  }

  test("q236: the confusion agg map-combines to one row; flags are " +
       "keyed joins, never a product") {
    val plan = finalPlan(PipelineQueries.queries("q236_sketch_kappa")(
      spark, sf))
    assert(plan.contains("partial_sum"),
      s"the 2x2 confusion must map-combine:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"doc flags join on doc_id:\n$plan")
  }

  test("q237: the jackknife is one map-combined group agg + G rows " +
       "of control plane — no window, no product") {
    val plan = finalPlan(CurationQueries.queries("q237_jackknife_se")(
      spark, sf))
    assert(plan.contains("partial_sum"),
      s"the (group x (count,sum)) agg must map-combine:\n$plan")
    assert(!plan.contains(" Window ["),
      s"everything past the agg is G rows — no window:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"the totals broadcast as 1-row frames:\n$plan")
  }

  test("q238: the ablation is ONE map-combined aggregate unpivoted " +
       "to 4 rows — no window, no join, no product") {
    val plan = finalPlan(CurationQueries.queries("q238_rule_ablation")(
      spark, sf))
    assert(plan.contains("partial_sum") || plan.contains("partial_count"),
      s"the flag sums must map-combine:\n$plan")
    assert(!plan.contains(" Window [") && !plan.contains("Join"),
      s"pure per-row flags + one agg + stack:\n$plan")
  }

  test("q155: df side prunes to text-only scan; both aggs keep " +
       "map-side partials; no window") {
    val plan = finalPlan(PipelineQueries.q155NgramNovelty(spark, sf))
    assert(plan.contains("partial_count"),
      "shingle df and per-doc counts must map-combine")
    assert(!plan.contains("Window"), "pure hash aggs — no window")
    assert(plan.linesIterator.exists(l =>
        l.contains("ReadSchema") && l.contains("struct<text:string>")),
      "the corpus-df branch must prune doc_id from its scan")
  }

  test("q261: ring assignment is pure per-row compute — the key " +
       "stream never shuffles before the 9-group rollup") {
    val plan = finalPlan(AdvancedQueries.queries("q261_consistent_hash")(
      spark, sf))
    assert(plan.contains("ring_search"),
      s"assignment must be the codegen'd binary-search kernel:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      "no data-sized join anywhere in the plan")
    assert(plan.contains("partial_count") || plan.contains("partial_sum"),
      "the shard rollup must map-combine")
  }

  test("q255: the calibrated view joins the corpus against BROADCAST " +
       "block intervals — the doc stream never shuffles for the join") {
    val plan = finalPlan(CurationQueries.queries("q255_isotonic_scores")(
      spark, sf))
    assert(plan.contains("BroadcastNestedLoopJoin") ||
           plan.contains("BroadcastHashJoin"),
      s"block intervals must broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      "interval containment must not plan as a cartesian product")
  }

  test("q257: redaction's only window is the per-doc interval merge " +
       "(bounded by match lists), and the span cut stays codegen'd") {
    val plan = finalPlan(CurationQueries.queries("q257_dict_redact")(
      spark, sf))
    val windows = plan.linesIterator.count(_.trim.startsWith("Window"))
    assert(windows <= 2,
      s"expected only the interval-union windows, found $windows:\n$plan")
    assert(plan.contains("aggregate("),
      "the span-cut fold must appear as the codegen'd aggregate expr")
  }

  test("q263: both zone builds map-combine min/max/count; nothing " +
       "data-sized survives past the two aggs") {
    val plan = finalPlan(AdvancedQueries.queries("q263_zone_maps")(
      spark, sf))
    assert(plan.contains("partial_min") && plan.contains("partial_max"),
      s"zone sketches must map-combine:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      "bucket frames are control-plane — no data-sized join")
  }

  test("q264: the zone-map-pruned rollup map-combines and pushes the " +
       "residual predicate into the surviving files' scan") {
    val plan = finalPlan(AdvancedQueries.queries("q264_zonemap_scan")(
      spark, sf))
    assert(plan.contains("partial_count") || plan.contains("partial_sum"),
      s"rollup must keep map-side partials:\n$plan")
    assert(plan.contains("PushedFilters") &&
           plan.contains("l_shipdate"),
      "the residual range must reach the pruned parquet scan")
    assert(!plan.contains("CartesianProduct"))
  }

  test("q266: the unigram trainer's piece costs BROADCAST into the " +
       "edge join; the Viterbi DP is per-row compute, never a " +
       "per-position shuffle") {
    withCapturedPlans {
      CurationQueries.queries("q266_unigram_train")(spark, sf).collect()
    } { plans =>
      assert(plans.exists(_.contains("BroadcastHashJoin")),
        "piece-cost side must broadcast into the edge join")
      assert(!plans.exists(_.contains("CartesianProduct")),
        "no all-pairs stage anywhere in the trainer")
    }
  }

  test("q265: keep-first election rides the SAME detection hash agg " +
       "(min-struct field), no extra shuffle vs the cut-everywhere path") {
    // The production spans are an eager checkpoint since r12 (the
    // counted-broadcast fix), so the executed result plan is just a
    // checkpoint scan; the election shape is pinned on the LAZY
    // detection aggregate the operator exposes for inspection.
    import graft.operators.Dedup
    val grams = Dedup.lGrams(
      graft.Tables.documents(spark, sf), "doc_id", "text", 25)
    val kfPlan = finalPlan(Dedup.dupGramKeys(grams, keepFirst = true))
    assert(kfPlan.contains("partial_min") || kfPlan.contains("min("),
      s"keeper election must map-combine inside the gram agg:\n$kfPlan")
    assert(!kfPlan.contains("CartesianProduct"))
    // no extra exchange class vs the cut-everywhere detection agg: the
    // election is one more field through the SAME exchange
    val cePlan = finalPlan(Dedup.dupGramKeys(grams, keepFirst = false))
    val kfEx = "Exchange".r.findAllIn(kfPlan).size
    val ceEx = "Exchange".r.findAllIn(cePlan).size
    assert(kfEx == ceEx,
      s"keep-first added shuffles to the detection agg: $kfEx vs $ceEx")
    // and the full queries still execute without a cartesian anywhere
    val full = finalPlan(PipelineQueries.queries(
      "q265_substring_keepfirst")(spark, sf))
    assert(!full.contains("CartesianProduct"))
  }

  test("q274: the count-min build is ONE map-combined aggregate and " +
       "the probe broadcasts the sketch — nothing scales past d*w") {
    val plan = finalPlan(AdvancedQueries.queries("q274_countmin")(
      spark, sf))
    assert(plan.contains("partial_count") || plan.contains("partial_"),
      s"sketch build must map-combine before the exchange:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      "the d*w counter table must broadcast into the probe")
    assert(!plan.contains("SortMergeJoin"),
      "no shuffle join anywhere — both join sides are control-plane")
    assert(!plan.contains("CartesianProduct"))
  }

  test("q275: corpus-pair Jaccard broadcasts the size frames; the only " +
       "corpus-scale work is the distinct + per-shingle self-join") {
    val plan = finalPlan(PipelineQueries.queries("q275_corpus_jaccard")(
      spark, sf))
    assert(plan.contains("BroadcastHashJoin"),
      "the |sources|-row size frames must broadcast")
    assert(!plan.contains("CartesianProduct"),
      "the src_a < src_b pair frame is broadcast-nested-loop at worst, " +
        "never a shuffled cartesian")
    // intersection rolls up map-side before its exchange
    assert(plan.contains("partial_count") || plan.contains("partial_"),
      s"pair counts must map-combine:\n$plan")
  }

  test("q276: shard centroids map-combine over the posexplode; the " +
       "pair stage is control-plane (broadcast, no corpus shuffle)") {
    val plan = finalPlan(PipelineQueries.queries("q276_centroid_drift")(
      spark, sf))
    assert(plan.contains("partial_sum"),
      s"(shard, dim) sums must map-combine before the exchange:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      "the |shards|*64-row centroid frames must broadcast-join")
    assert(!plan.contains("SortMergeJoin") &&
           !plan.contains("CartesianProduct"))
  }

  test("bloom probe: the packed filter broadcasts as one row and the " +
       "membership conjunction runs scan-side — no shuffle, no SMJ " +
       "on the probe path") {
    import org.apache.spark.sql.functions._
    import graft.operators.Bloom
    val ev = spark.read.parquet(s"$sf/events.parquet")
      .select(col("user_id"))
    val ord = spark.read.parquet(s"$sf/orders.parquet")
      .select(col("o_custkey"))
    val packed = Bloom.pack(Bloom.build(ev, "user_id", 4096, 5), 4096)
    val probe = Bloom.filterMaybe(ord, "o_custkey", packed, 4096, 5)
    val plan = finalPlan(probe)
    // the 1-row packed array joins by broadcast nested loop (it has no
    // key); the probe side itself must never sort-merge or repartition
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"packed filter must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"))
    val probeStages = plan.linesIterator
      .filter(_.contains("o_custkey")).mkString("\n")
    assert(!probeStages.contains("Exchange hashpartitioning"),
      s"probe rows must not shuffle for the membership test:\n$plan")
  }

  test("kmv build: distinct hashes map-combine and the top-k plans as " +
       "TakeOrderedAndProject (bounded heap, no global sort)") {
    import org.apache.spark.sql.functions._
    import graft.operators.Kmv
    val ord = spark.read.parquet(s"$sf/orders.parquet")
      .select(col("o_custkey"))
    val plan = finalPlan(Kmv.sketch(ord, "o_custkey", 256))
    assert(plan.contains("TakeOrderedAndProject"),
      s"min-k must be a bounded per-partition heap:\n$plan")
    val n = "HashAggregate".r.findAllIn(plan).length
    assert(n >= 2,
      s"distinct must keep map-side partials (partial+final), got $n:\n$plan")
  }
}
