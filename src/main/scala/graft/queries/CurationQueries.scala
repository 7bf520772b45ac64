package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextFunctions
import graft.operators.{LanguageModel, Sampling}
import graft.GraftOps._

/** Data-curation operators a large-scale training pipeline runs between
  * raw ingest and shard writing: PII scrubbing, repetition metrics,
  * composite quality rules, token-budget mixing, and benchmark
  * decontamination. All driver-gated with DuckDB oracles.
  *
  * The synthetic `documents` corpus carries no PII, so q59/q61 derive a
  * fixture text DETERMINISTICALLY (pure doc_id modulo arithmetic appends
  * synthetic emails/phones/IPs — same trick as the chess fixture in
  * [[ChessQueries]]); the oracle re-derives the identical fixture in SQL,
  * so redaction and rule drift become hash mismatches.
  */
object CurationQueries {

  /** Deterministic PII-carrying text: the corpus doc plus appended
    * synthetic email / phone / IPv4 tokens keyed on doc_id residues.
    */
  private def piiText: org.apache.spark.sql.Column =
    concat(
      col("text"),
      when(pmod(col("doc_id"), lit(3L)) === 0,
        concat(lit(" contact user"), col("doc_id").cast("string"),
               lit("@example.com"))).otherwise(lit("")),
      when(pmod(col("doc_id"), lit(5L)) === 0,
        concat(lit(" call +1-555-"),
               lpad(pmod(col("doc_id"), lit(10000L)).cast("string"), 4, "0")))
        .otherwise(lit("")),
      when(pmod(col("doc_id"), lit(7L)) === 0,
        concat(lit(" host 10.0."),
               pmod(col("doc_id"), lit(256L)).cast("string"), lit("."),
               pmod(col("doc_id") * 3, lit(256L)).cast("string")))
        .otherwise(lit("")))

  /** The same fixture in DuckDB SQL — structurally mirrored so drift is
    * impossible without a hash mismatch.
    */
  private val piiSql =
    """pii AS (
      |  SELECT doc_id, source,
      |    text ||
      |    CASE WHEN doc_id % 3 = 0
      |         THEN ' contact user' || doc_id::VARCHAR || '@example.com'
      |         ELSE '' END ||
      |    CASE WHEN doc_id % 5 = 0
      |         THEN ' call +1-555-' || lpad((doc_id % 10000)::VARCHAR, 4, '0')
      |         ELSE '' END ||
      |    CASE WHEN doc_id % 7 = 0
      |         THEN ' host 10.0.' || (doc_id % 256)::VARCHAR || '.' ||
      |              ((doc_id * 3) % 256)::VARCHAR
      |         ELSE '' END AS text
      |  FROM documents)""".stripMargin

  /** q59 — PII scrub: per-category match counts plus the md5 of the fully
    * redacted text (the redaction itself is hash-gated, not just the
    * counts). Pure per-row regex chain: zero shuffle, codegen'd.
    */
  def q59PiiRedact(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), piiText.as("t"))
      .select(
        col("doc_id"),
        TextFunctions.piiCount(col("t"), "email").cast("long").as("n_email"),
        TextFunctions.piiCount(col("t"), "phone").cast("long").as("n_phone"),
        TextFunctions.piiCount(col("t"), "ip").cast("long").as("n_ip"),
        md5(TextFunctions.redactPii(col("t"))).as("redacted_md5"))
      .orderBy("doc_id")

  /** q60 — Gopher-style repetition metrics: duplicate-word fraction,
    * top-word fraction, duplicate-bigram fraction (floor-scaled e6 so the
    * compare is exact). One explode + one doc-keyed aggregate; the bigram
    * side is a per-row expression (distinct shingle count vs n-1 slots).
    */
  def q60Repetition(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val perWord = docs
      .select(col("doc_id"), explode(TextFunctions.words(col("text"))).as("w"))
      .groupBy("doc_id", "w").agg(count(lit(1)).as("cnt"))
      .groupBy("doc_id")
      .agg(sum(col("cnt")).as("n_words"),
           count(lit(1)).as("n_distinct"),
           max(col("cnt")).as("top_cnt"))
    val perDoc = docs.select(
      col("doc_id"),
      size(TextFunctions.shingles(col("text"), 2)).cast("long")
        .as("n_distinct_bigrams"))
    perWord.join(perDoc, "doc_id")
      .select(
        col("doc_id"), col("n_words"),
        floor(lit(1000000L) * (col("n_words") - col("n_distinct"))
          / col("n_words")).cast("long").as("dup_word_e6"),
        floor(lit(1000000L) * col("top_cnt") / col("n_words")).cast("long")
          .as("top_word_e6"),
        floor(lit(1000000L)
            * (col("n_words") - 1 - col("n_distinct_bigrams"))
            / nullif(col("n_words") - 1, lit(0L))).cast("long")
          .as("dup_bigram_e6"))
      .orderBy("doc_id")
  }

  /** q61 — composite quality ruleset (C4/Gopher-style) over the PII
    * fixture text (whose symbol/digit content varies by doc): word-count
    * band, mean-word-length band, symbol ratio, stopword presence — each
    * rule surfaced as its own flag plus a bitmask and the final keep.
    * Entirely per-row integer arithmetic inside codegen.
    */
  def q61QualityRules(s: SparkSession, dir: String): DataFrame =
    ruleFlags(
      Tables.documents(s, dir).select(col("doc_id"), piiText.as("t")))

  /** q61's four rule flags over any `(doc_id, t)` frame — shared by the
    * corpus gate (q61), the ablation (q238), and the ruleset self-test
    * (q244), so the rule definitions exist exactly once.
    */
  private def ruleFlags(base: DataFrame): DataFrame = {
    val nWords = size(TextFunctions.words(col("t"))).cast("long")
    val nChars = length(col("t")).cast("long")
    val mwlE3 = floor(lit(1000L) * (nChars - nWords + 1) / nWords)
    val nSym = size(regexp_extract_all(col("t"), lit("[^A-Za-z0-9 ]"), lit(0)))
      .cast("long")
    val symE6 = floor(lit(1000000L) * nSym / nChars)
    val nStop = TextFunctions.langScore(TextFunctions.words(col("t")), "en")
    val rWords = nWords.between(20L, 500L)
    val rWlen  = mwlE3.between(3000L, 12000L)
    val rSym   = symE6 <= 30000L
    val rStop  = nStop >= 1
    base.select(
      col("doc_id"),
      rWords.as("r_words"), rWlen.as("r_wlen"),
      rSym.as("r_sym"), rStop.as("r_stop"),
      (rWords.cast("long") * 8 + rWlen.cast("long") * 4 +
        rSym.cast("long") * 2 + rStop.cast("long")).as("rule_mask"),
      (rWords && rWlen && rSym && rStop).as("keep"))
      .orderBy("doc_id")
  }

  /** q238 — QUALITY-RULE ABLATION: which of q61's four gate rules
    * actually drives the drops? Per rule, the failure count and the
    * SOLE-BLOCKER count (docs failing this rule and no other — the
    * docs that would be saved if the rule were removed, the rule's
    * marginal cost), with saved_e6 = ⌊10⁶·sole/n⌋. A rule with many
    * failures but few sole-blockers is redundant with its peers and
    * can be tuned freely; a rule that is the sole blocker for a large
    * slice is where the corpus-size/quality trade actually sits —
    * the attribution question every C4-style ruleset tuning starts
    * with. Computed FROM [[q61QualityRules]]'s own output (the gated
    * flags aggregate directly, so the rule definitions cannot drift
    * from the gate), and the oracle reuses the shared q61 rule CTE
    * for the same reason. ONE map-combined aggregate to a single row,
    * unpivoted to 4 control-plane rows.
    *
    * LIVE FINDING (corpus-specific, kept visible): `r_wlen` never
    * fires on this corpus — the synthetic documents' mean word length
    * always sits inside the 3.0–12.0 band, so its failure and
    * sole-blocker counts are 0 here. That is a property of THIS
    * corpus, not a vacuous rule: [[q244RuleSelftest]] proves each of
    * the four rules (r_wlen included) fires as a sole blocker on a
    * crafted sentinel, so a ruleset regression cannot hide behind the
    * corpus never exercising a branch.
    */
  def q238RuleAblation(s: SparkSession, dir: String): DataFrame =
    ablation(q61QualityRules(s, dir))

  private def ablation(flags: DataFrame): DataFrame = {
    def fails(r: String): Column = when(!col(r), 1L).otherwise(0L)
    def sole(r: String): Column = {
      val others = Seq("r_words", "r_wlen", "r_sym", "r_stop")
        .filterNot(_ == r).map(col).reduce(_ && _)
      when(!col(r) && others, 1L).otherwise(0L)
    }
    flags.agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_keep"),
        sum(fails("r_words")).as("f_words"), sum(sole("r_words")).as("s_words"),
        sum(fails("r_wlen")).as("f_wlen"), sum(sole("r_wlen")).as("s_wlen"),
        sum(fails("r_sym")).as("f_sym"), sum(sole("r_sym")).as("s_sym"),
        sum(fails("r_stop")).as("f_stop"), sum(sole("r_stop")).as("s_stop"))
      .select(
        expr("stack(4," +
             " 'r_stop', f_stop, s_stop," +
             " 'r_sym', f_sym, s_sym," +
             " 'r_wlen', f_wlen, s_wlen," +
             " 'r_words', f_words, s_words)" +
             " AS (rule, n_fail, n_sole_blocker)"),
        col("n_docs"), col("n_keep"))
      .withColumn("saved_e6",
        expr("CASE WHEN n_docs = 0 THEN 0 ELSE" +
             " (1000000 * n_sole_blocker) div n_docs END"))
      .orderBy("rule")
  }

  /** q244 — RULESET SELF-TEST: q238's ablation found `r_wlen` dead on
    * this corpus (never fails, never sole-blocks). A dead rule is
    * indistinguishable from a broken one unless something exercises
    * it, so this query re-runs the SAME shared [[ruleFlags]] over the
    * corpus plus four crafted sentinel docs (negative doc_ids, one per
    * rule, each designed to fail exactly its target rule and pass the
    * other three) and reports per-rule fail / sole-blocker counts with
    * a `live` verdict. All four rules must sole-block at least once —
    * the CI canary that a rule-definition regression (e.g. a band
    * typo flipping r_wlen to always-true) cannot hide behind a corpus
    * that never reaches the branch. The oracle builds the identical
    * sentinels with SQL `repeat` and rides the shared rule CTE, so
    * Spark and DuckDB evaluate the same crafted texts through
    * independently-written rule stacks.
    *
    * Scale: the sentinel union is 4 rows against the corpus scan; the
    * aggregate is the same single map-combined pass as q238.
    */
  def q244RuleSelftest(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), piiText.as("t"))
    // one sentinel per rule; each passes the other three rules:
    //  -8 r_words: 3 words (< 20), mean word length 3.0 (band edge)
    //  -4 r_wlen : 25 words of mean length 19.32 (> 12.0)
    //  -2 r_sym  : 24 '!' in 123 chars (19.5% > 3%)
    //  -1 r_stop : 25 words, zero stopwords
    val sentinels = Seq(
      (-8L, "the aaa bbb"),
      (-4L, ("a" * 20 + " ") * 24 + "the"),
      (-2L, "aaa! " * 24 + "the"),
      (-1L, "aaaa " * 24 + "aaaa")).toDF("doc_id", "t")
    ablation(ruleFlags(docs.unionByName(sentinels)))
      .withColumn("live", (col("n_sole_blocker") >= 1L).cast("long"))
  }

  /** q154 — the curation DECISION LAYER: q26's language-ID, q27's
    * quality signals, and q60's duplicate-word fraction composed into
    * one per-doc verdict with FIRST-FAILING-RULE precedence (non_en →
    * too_short → repetitive → low_quality → keep) — the C4/CCNet-style
    * gate an LLM pipeline actually executes, where rule ORDER is part
    * of the contract (a non-English doc must report non_en even if it
    * is also short). Signals are per-row expressions plus q60's one
    * word-count aggregate; precedence is a single CASE chain in
    * codegen.
    */
  def q154QualityGate(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val w = TextFunctions.words(col("text"))
    val scores = TextFunctions.LangStopwords.map { case (l, _) =>
      l -> TextFunctions.langScore(w, l).cast("long")
    }.toMap
    val nChars = length(col("text")).cast("long")
    val nWords = size(w).cast("long")
    val stopE6 = floor(lit(1000000.0d) * scores("en") / nWords).cast("long")
    val perDoc = docs.select(
      col("doc_id"), TextFunctions.langPredict(scores).as("lang_pred"),
      nWords.as("n_words"), stopE6.as("stop_e6"))
    val dup = docs
      .select(col("doc_id"), explode(w).as("w"))
      .groupBy("doc_id", "w").agg(count(lit(1)).as("cnt"))
      .groupBy("doc_id")
      .agg(floor(lit(1000000.0d) * (sum(col("cnt")) - count(lit(1)))
             / sum(col("cnt"))).cast("long").as("dup_word_e6"))
    perDoc.join(dup, "doc_id")
      .select(col("doc_id"),
        when(col("lang_pred") =!= "en", "non_en")
          .when(col("n_words") < 20, "too_short")
          .when(col("dup_word_e6") > 650000, "repetitive")
          .when(col("stop_e6") < 40000, "low_quality")
          .otherwise("keep").as("verdict"))
      .orderBy("doc_id")
  }

  /** q62 — token-budget mixing: per source, take docs in deterministic
    * md5 order until 1000 whitespace tokens; aggregate membership
    * fingerprints per source. See [[Sampling.tokenBudget]].
    */
  def q62TokenBudget(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select(
      col("doc_id"), col("source"),
      size(TextFunctions.words(col("text"))).cast("long").as("toks"))
    Sampling.tokenBudget(docs, "source", "doc_id", "toks", budget = 1000L)
      .filter(col("kept"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_kept"),
           sum(col("toks")).as("tokens_kept"),
           sum(col("doc_id")).as("sum_ids"))
      .orderBy("source")
  }

  /** q63 — benchmark decontamination: eval set = doc_id ≡ 0 (mod 7);
    * for every train doc, the maximum count of distinct shared 5-gram
    * shingles with any single eval doc (shingle inverted-index join
    * restricted to train×eval — never train×train), reported for train
    * docs with max overlap ≥ 3. The 100 TB shape: eval postings are tiny
    * and broadcast; the train side streams through unshuffled.
    */
  def q63Contamination(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val sh = docs.select(
        col("doc_id"),
        explode(TextFunctions.shingles(col("text"), 5)).as("shingle"))
    val isEval = pmod(col("doc_id"), lit(7L)) === 0
    val train = sh.filter(!isEval)
    val eval_ = sh.filter(isEval).select(
      col("doc_id").as("eval_id"), col("shingle"))
    train.join(broadcast(eval_), "shingle")
      .groupBy(col("doc_id"), col("eval_id"))
      .agg(count(lit(1)).as("shared"))
      .groupBy("doc_id")
      .agg(max(col("shared")).as("max_shared"))
      .filter(col("max_shared") >= 3)
      .withColumn("contaminated", col("max_shared") >= 8)
      .orderBy("doc_id")
  }

  /** q67 — global shard assignment by token budget: docs in a
    * deterministic md5 priority order, each assigned the shard its FIRST
    * token lands in (shard = 5000 tokens). The global running token sum
    * comes from [[graft.operators.PrefixSum.runningTotal]] — one range
    * exchange + per-partition offsets, NEVER a single-partition window —
    * the scale-correct shard-writing shape (q62's budget cut is
    * per-source; this one is corpus-global).
    */
  def q67GlobalShards(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select(
      col("doc_id"),
      md5(col("doc_id").cast("string")).as("pr"),
      size(TextFunctions.words(col("text"))).cast("long").as("toks"))
    graft.operators.PrefixSum
      .runningTotal(docs, "toks", Seq("pr", "doc_id"), numParts = 32)
      .withColumn("shard_id",
        floor((col("cum") - col("toks")) / lit(5000L)).cast("long"))
      .orderBy("doc_id")
  }

  /** q74 — concat-and-chop sequence packing (the GPT-style pre-training
    * layout): the global token stream in doc_id order is cut every 128
    * tokens; each doc reports the windows it touches and its offset in
    * the first one (see [[graft.operators.Packing.chopPack]]). The
    * running sum underneath is the distributed prefix scan, not a
    * single-partition window.
    */
  def q74SeqPackChop(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select(
      col("doc_id"),
      size(TextFunctions.words(col("text"))).cast("long").as("toks"))
    graft.operators.Packing.chopPack(docs, "toks", Seq("doc_id"),
                                     ctxLen = 128L)
      .orderBy("doc_id")
  }

  /** q75 — boundary-respecting next-fit packing: docs never split;
    * within each of 8 shards (doc_id mod 8) the greedy in-order packer
    * opens a new 128-token sequence whenever the next doc would overflow
    * the open one (see [[graft.operators.Packing.packNextFit]]). The
    * oracle replays the per-shard recurrence with a recursive CTE —
    * path-dependent state, exactly what windows cannot express.
    */
  def q75SeqPackNextfit(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select(
      col("doc_id"),
      pmod(col("doc_id"), lit(8L)).as("shard"),
      size(TextFunctions.words(col("text"))).cast("long").as("toks"))
    graft.operators.Packing.packNextFit(docs, "doc_id", "toks", "shard",
                                        ctxLen = 128L)
      .orderBy("id")
  }

  /** Deterministic messy-URL fixture: scheme/www/tracking/slash/fragment
    * decorations keyed on doc_id residues; docs 250 apart share the same
    * domain+path, so canonicalization makes some of them collide — the
    * URL-dedup signal. Mirrored verbatim in the q76 oracle.
    */
  private def urlFixture: org.apache.spark.sql.Column =
    concat(
      when(pmod(col("doc_id"), lit(2L)) === 0, lit("http://"))
        .otherwise(lit("HTTPS://")),
      when(pmod(col("doc_id"), lit(3L)) === 0, lit("WWW."))
        .otherwise(lit("")),
      lit("site"),
      pmod(pmod(col("doc_id"), lit(250L)), lit(40L)).cast("string"),
      lit(".com/p/"), pmod(col("doc_id"), lit(250L)).cast("string"),
      when(pmod(col("doc_id"), lit(4L)) === 0,
        concat(lit("?id="), pmod(col("doc_id"), lit(7L)).cast("string"),
               lit("&utm_source=s"),
               pmod(col("doc_id"), lit(3L)).cast("string")))
        .when(pmod(col("doc_id"), lit(4L)) === 2, lit("?utm_campaign=c"))
        .when(pmod(col("doc_id"), lit(5L)) === 0, lit("/"))
        .otherwise(lit("")),
      when(pmod(col("doc_id"), lit(6L)) === 0, lit("#sec"))
        .otherwise(lit("")))

  /** q76 — URL canonicalization + exact URL dedup + per-domain cap: the
    * crawl-curation front door. Canonical form collapses
    * scheme/www/utm/slash/fragment variants
    * ([[graft.functions.UrlFunctions.canonicalizeUrl]] — per-row regex,
    * zero shuffle); exact dedup keeps the min doc_id per canonical URL;
    * survivors are capped at 3 docs per registered host (rank by
    * n_chars desc — the quality proxy — then doc_id). Per-domain
    * ranking is one window keyed on domain; a hot domain is a skew key
    * exactly like a hot join key (salt or pre-aggregate a per-domain
    * top-k at 100 TB — the cap query shape itself is unchanged).
    */
  def q76UrlDedup(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.UrlFunctions
    val withUrl = Tables.documents(s, dir)
      .select(col("doc_id"), col("n_chars"), urlFixture.as("url"))
      .withColumn("canon", UrlFunctions.canonicalizeUrl(col("url")))
      .withColumn("domain", UrlFunctions.urlDomain(col("canon")))
      .withColumn("keep_id",
        min("doc_id").over(Window.partitionBy(col("canon"))))
      .withColumn("n_copies",
        count(lit(1)).over(Window.partitionBy(col("canon"))))
    val keepers = withUrl.filter(col("doc_id") === col("keep_id"))
      .withColumn("domain_rank", row_number().over(
        Window.partitionBy(col("domain"))
          .orderBy(col("n_chars").desc, col("doc_id").asc)))
      .select(col("doc_id"), col("domain_rank"))
    withUrl
      .join(keepers, Seq("doc_id"), "left")
      .select(col("doc_id"), col("canon"), col("domain"),
              col("keep_id"), col("n_copies"),
              coalesce(col("domain_rank"), lit(0)).cast("long")
                .as("domain_rank"),
              (col("doc_id") === col("keep_id") &&
                 coalesce(col("domain_rank"), lit(999999)) <= 3)
                .as("kept"))
      .orderBy("doc_id")
  }

  /** q78 — epoch-weighted dataset mixing: each source gets a repeat
    * factor (0.4 / 1.0 / 1.6 / 2.2 / 2.8 epochs by source residue — the
    * up/down-sampling proportions of a training recipe), realized
    * deterministically per row by [[Sampling.epochRepeat]]: floor(f)
    * copies plus one more iff the row's md5 bucket falls below the
    * fractional part. One generator, no shuffle, no RNG — the mix is
    * byte-reproducible at any scale.
    */
  def q78EpochMix(s: SparkSession, dir: String): DataFrame = {
    val srcNum = regexp_extract(col("source"), "([0-9]+)$", 1).cast("long")
    val docs = Tables.documents(s, dir).select(
      col("doc_id"), col("source"),
      (lit(40L) + pmod(srcNum, lit(5L)) * 60L).as("f_e2"))
    Sampling.epochRepeat(docs, "doc_id", "f_e2")
      .orderBy("doc_id", "epoch")
  }

  /** q79 — sliding-window chunking (64-token windows, stride 48 → 16
    * tokens of overlap): the RAG/embedding-prep layout (see
    * [[graft.operators.Chunking.slidingChunks]]). Chunk content is
    * emitted as an md5 so the gate hashes text exactly without fat rows.
    */
  def q79ChunkOverlap(s: SparkSession, dir: String): DataFrame =
    graft.operators.Chunking.slidingChunks(
        Tables.documents(s, dir), "doc_id", "text",
        chunkSize = 64, stride = 48)
      .orderBy("doc_id", "chunk_id")

  /** q80 — source-interleaved training order: rank within each source by
    * quality (n_chars desc), then round-robin the sources so no long
    * single-source runs reach the trainer; the global position is the
    * distributed prefix scan, not a single-partition window (see
    * [[graft.operators.Chunking.interleave]]).
    */
  def q80Interleave(s: SparkSession, dir: String): DataFrame =
    graft.operators.Chunking.interleave(
        Tables.documents(s, dir).select(
          col("doc_id"), col("source"), col("n_chars")),
        "source", Seq(col("n_chars").desc, col("doc_id").asc))
      .orderBy("doc_id")

  /** q81 — the end-to-end curation pipeline as ONE plan, composed from
    * the individually-gated operators: exact dedup keepers (q20's rule)
    * → quality filter (q27's keep rule) → epoch-weighted mixing (q78's
    * factor table via [[Sampling.epochRepeat]]) → global token-budget
    * shard assignment (q67's rule via [[graft.operators.PrefixSum]]).
    * The oracle chains the same four stages in SQL, so a drift in ANY
    * stage or in their composition is a hash mismatch. Plan shape:
    * the dedup hash-agg + semi-join, one generator, one range exchange —
    * no stage adds a shuffle the standalone operators don't have.
    */
  def q81PipelineE2e(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.{Dedup, PrefixSum}
    val docs = Tables.documents(s, dir)
    val keep = Dedup.exactByContent(docs, "doc_id", "text")
      .select(col("keep_id").as("doc_id"))
    val deduped = docs.join(keep, Seq("doc_id"), "left_semi")
    val w = TextFunctions.words(col("text"))
    val nChars = length(col("text")).cast("long")
    val nWords = size(w).cast("long")
    val avgWlenE3 =
      floor(lit(1000.0d) * (nChars - nWords + 1) / nWords).cast("long")
    val quality = deduped
      .filter(nWords >= 20 && avgWlenE3 <= lit(12000L))
      .select(col("doc_id"), col("source"), nWords.as("toks"),
              (lit(40L) +
                 pmod(regexp_extract(col("source"), "([0-9]+)$", 1)
                   .cast("long"), lit(5L)) * 60L).as("f_e2"))
    val mixed = Sampling.epochRepeat(quality, "doc_id", "f_e2")
      .drop("n_rep", "f_e2")
    PrefixSum.runningTotal(mixed, "toks", Seq("doc_id", "epoch"))
      .withColumn("shard_id",
        floor((col("cum") - col("toks")) / lit(5000L)).cast("long"))
      .orderBy("doc_id", "epoch")
  }

  /** q82 — corpus-level LINE dedup (the C4 rule: a line that occurs more
    * than once in the corpus survives only at its first occurrence) plus
    * document reconstruction, via [[Dedup.lineDedup]] with 8-word lines
    * (the corpus is single-line text; real newline corpora pass their
    * lines through the same stages). The rebuilt text is emitted as an
    * md5 so the gate hashes exact content without fat rows.
    */
  def q82LineDedup(s: SparkSession, dir: String): DataFrame =
    graft.operators.Dedup.lineDedup(
        Tables.documents(s, dir), "doc_id", "text", wordsPerLine = 8)
      .select(col("doc_id"), col("n_lines"), col("n_kept"),
              md5(col("new_text")).as("new_md5"))
      .orderBy("doc_id")

  /** q83 — deterministic weighted sampling without replacement
    * (sequential Poisson / Ohlsson): fixed-size 100-doc sample where
    * inclusion odds scale with a per-language weight (rare languages
    * upweighted 5×), realized as the k smallest EXACT integer priorities
    * `h32(id)·(lcm/w)` — see [[Sampling.weightedSample]]. No RNG: the
    * sample is byte-reproducible, and the plan is per-row arithmetic +
    * TakeOrderedAndProject (never a global sort).
    */
  def q83WeightedSample(s: SparkSession, dir: String): DataFrame = {
    val w = when(col("lang") === "en", lit(1L))
      .when(col("lang").isin("de", "es"), lit(2L))
      .otherwise(lit(5L))
    Sampling.weightedSample(
        Tables.documents(s, dir)
          .select(col("doc_id"), col("lang"), w.as("weight")),
        "doc_id", "weight", lcm = 10L, k = 100)
      .orderBy("doc_id")
  }

  /** q84 — per-source quantile trim: quality scores (n_chars here) are
    * normalized WITHIN each source by exact percent rank and only the
    * middle [p10, p90] band survives — the cross-source score
    * normalization step of a quality pipeline (see
    * [[Sampling.quantileTrim]]; integer cross-multiplied band, no float
    * division). One window shuffle on the source key.
    */
  def q84QuantileTrim(s: SparkSession, dir: String): DataFrame =
    Sampling.quantileTrim(
        Tables.documents(s, dir).select(col("doc_id"), col("source"),
                                        col("n_chars")),
        "source", "n_chars", "doc_id", loPct = 10, hiPct = 90)
      .orderBy("doc_id")

  /** q85 — distributed BPE merge training (4 rounds) over the corpus
    * vocabulary: per round, ONE map-combined pair-count aggregate and a
    * 1-row argmax collect pick the most frequent adjacent symbol pair
    * (ties lexicographic); the merge applies as a per-row literal
    * replace (see [[graft.operators.Bpe]]). The oracle replays every
    * round's counting, argmax, and replace in chained CTEs, and the
    * summary row (Σ freq·|syms| after round 4) gates the final apply.
    */
  def q85BpeMerges(s: SparkSession, dir: String): DataFrame =
    graft.operators.Bpe.trainMerges(
        Tables.documents(s, dir), "text", rounds = 4)
      .orderBy("round")

  /** q98 — BPE encode (tokenizer APPLY): train `bpeRoundsN` merges over
    * the corpus (q85's trainer), then tokenize every document with them
    * — the "tokenize 100 TB with a trained tokenizer" pipeline step.
    * Per doc: exact post-merge token count and a digest of the full
    * segmentation (so any drift in merge order or apply semantics is a
    * hash mismatch). Encoding shuffles nothing; the merges travel as one
    * broadcast (collected here — k rows of control plane).
    */
  def q98BpeEncode(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val merges = graft.operators.Bpe.trainMerges(docs, "text", rounds = 4)
      .filter(col("round") <= 4)
      .orderBy("round").collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    graft.operators.Bpe.encode(docs, "text", Seq("doc_id"), merges)
      .select(col("doc_id"),
        shiftright(length(col("encoded")) -
          length(replace(col("encoded"), lit("|"), lit(""))), 1)
          .cast("long").as("n_tokens"),
        md5(col("encoded")).as("enc_md5"))
      .orderBy("doc_id")
  }

  /** q99 — frequent token-pair co-occurrence at 20% relative support:
    * Apriori-pruned pair mining over per-doc distinct tokens (see
    * [[graft.operators.ItemsetMining]]), top-50 by document frequency.
    * The support threshold is computed from the corpus count (one
    * control-plane count), so the gate holds at any SF.
    */
  def q99CooccurPairs(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val minSup = docs.count() / 5
    graft.operators.ItemsetMining.frequentPairs(
        docs.select(col("doc_id"),
          filter(TextFunctions.words(col("text")),
                 w => length(w) > 0).as("toks")),
        "doc_id", "toks", minSup)
      .select(col("item_a").as("token_a"), col("item_b").as("token_b"),
              col("n_ids").as("n_docs"))
      .orderBy(col("n_docs").desc, col("token_a"), col("token_b"))
      .limit(50)
  }

  /** q166 — frequent token TRIPLES at the q99 support
    * ([[graft.operators.ItemsetMining.frequentTriples]]): Apriori at
    * depth 3 with the full downward-closure prune — candidates expand
    * only through sub-pairs the depth-2 gate admitted, which is what
    * keeps the within-doc expansion from cubing. Top-50 by document
    * frequency, deterministic order.
    */
  def q166FrequentTriples(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val minSup = docs.count() / 5
    graft.operators.ItemsetMining.frequentTriples(
        docs.select(col("doc_id"),
          filter(TextFunctions.words(col("text")),
                 w => length(w) > 0).as("toks")),
        "doc_id", "toks", minSup)
      .select(col("item_a").as("token_a"), col("item_b").as("token_b"),
              col("item_c").as("token_c"), col("n_ids").as("n_docs"))
      .orderBy(col("n_docs").desc, col("token_a"), col("token_b"),
               col("token_c"))
      .limit(50)
  }

  /** q139 — lexical association (PMI lift) over the q99 pair family:
    * `lift_e6` = floor-scaled p(a,b)/(p(a)·p(b)) per frequent
    * co-occurring token pair (see [[graft.operators.ItemsetMining
    * .pairLift]] — PMI without the log so the integer gate holds; the
    * ranking is identical). The collocation-mining signal a curation
    * pipeline uses to spot boilerplate phrases and template artifacts.
    */
  def q139PairLift(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val minSup = docs.count() / 5
    graft.operators.ItemsetMining.pairLift(
        docs.select(col("doc_id"),
          filter(TextFunctions.words(col("text")),
                 w => length(w) > 0).as("toks")),
        "doc_id", "toks", minSup)
      .select(col("item_a").as("token_a"), col("item_b").as("token_b"),
              col("n_ids").as("n_docs"), col("lift_e6"))
      .orderBy(col("lift_e6").desc, col("token_a"), col("token_b"))
      .limit(50)
  }

  /** q100 — shared-chunk report over content-defined chunking: CDC
    * chunks (expected 16 words, bigram-window boundaries — see
    * [[graft.operators.Chunking.contentDefinedChunks]]) hashed and
    * grouped; chunks appearing in ≥2 distinct docs are the sub-document
    * duplication map (what shifted-content dedup acts on). Ordered by a
    * numeric key derived from the digest, never the md5 string.
    */
  def q100CdcChunks(s: SparkSession, dir: String): DataFrame = {
    val ch = graft.operators.Chunking.contentDefinedChunks(
      Tables.documents(s, dir).select(col("doc_id"), col("text")),
      "doc_id", "text", modulus = 16)
    ch.groupBy(col("chunk_md5"))
      .agg(countDistinct(col("doc_id")).as("n_docs"),
           count(lit(1)).as("n_occ"))
      .filter(col("n_docs") >= 2)
      .select(
        conv(substring(col("chunk_md5"), 1, 15), 16, 10).cast("long")
          .as("chunk_key"),
        col("chunk_md5"), col("n_docs"), col("n_occ"))
      .orderBy(col("n_docs").desc, col("chunk_key"))
  }

  /** q104 — duplicate-graph triangles: docs sharing a CDC chunk (q100's
    * edges) form the dup graph; its triangle count measures cluster
    * transitivity (how block-like the duplication is — pure pairwise
    * chains vs dense copy clusters). Edges from one self-join on chunk
    * hash; triangles via [[graft.operators.GraphOps.triangles]] (two
    * keyed joins, orientation bounds wedge fan-out). Chunk table and
    * edge list are localCheckpointed — each is consumed 2–3 times and
    * re-deriving the CDC pipeline per consumer would triple the cost.
    */
  def q104DupTriangles(s: SparkSession, dir: String): DataFrame = {
    val ch = graft.operators.Chunking.contentDefinedChunks(
        Tables.documents(s, dir).select(col("doc_id"), col("text")),
        "doc_id", "text", modulus = 16)
      .select(col("chunk_md5").as("h"), col("doc_id"))
      .graftCheckpoint()
    val edges = ch.select(col("h"), col("doc_id").as("u"))
      .join(ch.select(col("h"), col("doc_id").as("v")), Seq("h"))
      .filter(col("u") < col("v"))
      .select(col("u"), col("v")).distinct()
      .graftCheckpoint()
    val nNodes = edges.select(col("u")).union(edges.select(col("v")))
      .distinct().count()
    val nEdges = edges.count()
    val nTri = graft.operators.GraphOps.triangles(edges, "u", "v").count()
    import s.implicits._
    Seq((nNodes, nEdges, nTri)).toDF("n_nodes", "n_edges", "n_triangles")
  }

  /** q143 — per-node clustering coefficient over the q104 dup graph
    * ([[graft.operators.GraphOps.clusteringCoefficients]]): separates
    * clique-like duplicate families (coeff → 1e6) from chain/star
    * candidate artifacts (coeff → 0) — the triage signal BEFORE
    * connected components merges everything reachable.
    */
  def q143ClusteringCoeff(s: SparkSession, dir: String): DataFrame = {
    val ch = graft.operators.Chunking.contentDefinedChunks(
        Tables.documents(s, dir).select(col("doc_id"), col("text")),
        "doc_id", "text", modulus = 16)
      .select(col("chunk_md5").as("h"), col("doc_id"))
      .graftCheckpoint()
    val edges = ch.select(col("h"), col("doc_id").as("u"))
      .join(ch.select(col("h"), col("doc_id").as("v")), Seq("h"))
      .filter(col("u") < col("v"))
      .select(col("u"), col("v")).distinct()
    graft.operators.GraphOps.clusteringCoefficients(edges, "u", "v")
      .orderBy(col("node"))
  }

  /** q152 — label-propagation communities over the q104 dup graph
    * ([[graft.operators.GraphOps.labelPropagation]]): community
    * detection BELOW the connected-component grain — CC merges
    * everything reachable through any shared chunk, LPA splits that
    * into densely-linked template families. Synchronous rounds,
    * most-frequent-neighbor label, min-label ties: deterministic, so
    * the 3-iteration result is hash-gateable against the unrolled
    * oracle.
    */
  def q152LabelProp(s: SparkSession, dir: String): DataFrame = {
    val ch = graft.operators.Chunking.contentDefinedChunks(
        Tables.documents(s, dir).select(col("doc_id"), col("text")),
        "doc_id", "text", modulus = 16)
      .select(col("chunk_md5").as("h"), col("doc_id"))
      .graftCheckpoint()
    val edges = ch.select(col("h"), col("doc_id").as("u"))
      .join(ch.select(col("h"), col("doc_id").as("v")), Seq("h"))
      .filter(col("u") < col("v"))
      .select(col("u"), col("v")).distinct()
    graft.operators.GraphOps.labelPropagation(edges, "u", "v",
                                              iterations = 3)
      .orderBy(col("node"))
  }

  /** q86 — rebalance to a target language mix (en 40%, others 15%):
    * the largest subset realizing the recipe, scale bound by the
    * scarcest language, per-language quotas filled in deterministic
    * md5 order (see [[Sampling.rebalanceToTarget]] — all integer
    * arithmetic, one window shuffle).
    */
  def q86Rebalance(s: SparkSession, dir: String): DataFrame =
    Sampling.rebalanceToTarget(
        Tables.documents(s, dir).select(col("doc_id"), col("lang")),
        "lang", "doc_id",
        Map("en" -> 40, "de" -> 15, "es" -> 15, "fr" -> 15, "zh" -> 15))
      .orderBy("doc_id")

  /** q89 — deterministic token masking (denoising prep): 15% of token
    * positions masked by position-keyed hash (see
    * [[TextFunctions.maskTokens]]); the masked text is emitted as an md5
    * plus the mask count, so both the selection AND the rebuild are
    * hash-gated. Zero shuffle — pure per-row expressions.
    */
  def q89MaskTokens(s: SparkSession, dir: String): DataFrame = {
    val masked = TextFunctions.maskTokens(col("doc_id"), col("text"), 15)
    Tables.documents(s, dir)
      .select(
        col("doc_id"),
        size(TextFunctions.words(col("text"))).cast("long").as("n_tokens"),
        size(filter(masked, w => w === "<MASK>")).cast("long")
          .as("n_masked"),
        md5(array_join(masked, " ")).as("masked_md5"))
      .orderBy("doc_id")
  }

  /** q92 — text normalization, the first transform of every curation
    * pipeline: case folding, whitespace collapse, edge trim. The corpus
    * is pre-clean, so a deterministic fixture re-dirties it first
    * (upper-casing and double-spacing by doc_id residue, decorated
    * edges) — the oracle re-derives fixture AND normalization, so both
    * are hash-gated. Pure per-row expressions, zero shuffle; the
    * normalized text must md5-match the ORIGINAL for every doc.
    */
  /** q247 — UNICODE NFC NORMALIZATION
    * ([[TextFunctions.unicodeNormalize]], a codegen'd JDK-Normalizer
    * expression): q92 normalizes case and whitespace only, but
    * tokenizer-grade pipelines normalize UNICODE first — canonically
    * equivalent strings ("é" vs "e"+U+0301) must share bytes before
    * any hashing/shingling/BPE sees them, or visually identical
    * documents land in different dedup buckets. The corpus fixtures
    * are ASCII, so each doc gets a deterministic decomposed suffix
    * (combining acute/diaeresis/ring — " café naïve
    * Ångström") and the gate hashes the NFC result
    * against DuckDB's independent `nfc_normalize` — two engines'
    * Unicode tables composing the same combining sequences. `changed`
    * proves the normalizer actually rewrote every row (the suffix is
    * never NFC-normal), not vacuously passed ASCII through.
    *
    * Scale: one per-row static JDK call inside whole-stage codegen —
    * no shuffle, linear scan; the quick-check fast-path makes the
    * mostly-ASCII common case a no-copy scan.
    */
  def q247NfcNormalize(s: SparkSession, dir: String): DataFrame = {
    val deco = concat(col("text"),
                      // " café naïve Ångström", decomposed:
                      lit(" cafe\u0301 nai\u0308ve A\u030Angstro\u0308m"))
    val nfc = TextFunctions.unicodeNormalize(deco, "NFC")
    Tables.documents(s, dir)
      .select(col("doc_id"), deco.as("t"), nfc.as("n"))
      .select(col("doc_id"),
              md5(col("n")).as("nfc_md5"),
              md5(col("t")).as("raw_md5"),
              when(col("n") =!= col("t"), 1L).otherwise(0L).as("changed"))
      .orderBy("doc_id")
  }

  /** q248 — HTML → TEXT extraction ([[graft.operators.Html]]), the
    * top-of-funnel step every CommonCrawl-style pipeline runs before
    * any of this suite's dedup/curation sees a byte. The corpus
    * fixtures are clean text, so each doc is deterministically wrapped
    * in a realistic page (head/title, style + script bodies, a
    * link-only nav bar, h1, the text as the content paragraph, an
    * entity-laden footer) IN BOTH ENGINES, then stripped:
    * script/style/comment elision → block tags to line breaks → inline
    * tag removal → entity decode → per-line whitespace normalization.
    * The md5 gate covers the full extracted string of every document
    * (`body_kept` additionally proves the content paragraph survived
    * verbatim), and `main_md5` gates the LINK-DENSITY boilerplate
    * layer ([[graft.operators.Html.mainText]] — the nav line is
    * majority anchor text and must drop, the footer must stay). Every
    * pattern is RE2-safe so the oracle runs the chain verbatim.
    */
  def q248HtmlStrip(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Html
    val html = concat(
      lit("<html><head><title>Doc "), col("doc_id").cast("string"),
      lit("</title><style>body{color:red}</style>" +
          "<script>var x = 1 < 2;</script></head>" +
          "<body><nav><a href=\"/\">Home &amp; more</a> | " +
          "<a href=\"/about\">About</a></nav><h1>Doc "),
      col("doc_id").cast("string"),
      lit("</h1><!-- chrome --><p>"), col("text"),
      lit("</p><div class=\"footer\">&copy; 2026 Example " +
          "&lt;Corp&gt;</div></body></html>"))
    Tables.documents(s, dir)
      .select(col("doc_id"), col("text"), html.as("h"))
      .select(col("doc_id"), col("text"),
              Html.stripTags(col("h")).as("t"),
              Html.mainText(col("h")).as("m"))
      .select(col("doc_id"),
              md5(col("t")).as("strip_md5"),
              size(split(col("t"), "\n")).cast("long").as("n_lines"),
              when(col("t").contains(col("text")), 1L).otherwise(0L)
                .as("body_kept"),
              md5(col("m")).as("main_md5"),
              size(split(col("m"), "\n")).cast("long").as("n_main_lines"))
      .orderBy("doc_id")
  }

  /** Shared q249/q250 feature frame: per-doc integer quality signals
    * (bias, word count, scaled mean word length, symbol count, English
    * stopword count) plus the ±1 label y = [lang = 'en']. Pure per-row
    * projection; the SQL twin is [[perceptronFeatureSql]].
    */
  private def perceptronFeatures(s: SparkSession, dir: String): DataFrame =
    perceptronFeaturesFrom(Tables.documents(s, dir))

  /** The q249/q250 feature frame over ANY (doc_id, lang, text) input —
    * factored so q269's staged pipeline trains on rewritten text with
    * the EXACT expressions the standalone gates verify.
    */
  private def perceptronFeaturesFrom(docs: DataFrame): DataFrame = {
    val base = docs
      .select(col("doc_id"), col("lang"), col("text"),
              size(TextFunctions.words(col("text"))).cast("long")
                .as("__nw"),
              length(col("text")).cast("long").as("__nc"))
    base.select(
      col("doc_id"),
      when(col("lang") === "en", 1L).otherwise(-1L).as("y"),
      lit(1L).as("x0"),
      col("__nw").as("x1"),
      expr("(1000 * (__nc - __nw + 1)) div __nw").as("x2"),
      size(regexp_extract_all(col("text"), lit("[^A-Za-z0-9 ]"), lit(0)))
        .cast("long").as("x3"),
      TextFunctions.langScore(TextFunctions.words(col("text")), "en")
        .cast("long").as("x4"))
  }

  /** q249 — TRAINED QUALITY CLASSIFIER
    * ([[graft.operators.Classification.batchPerceptron]]): the
    * published quality-filter shape — a linear model over cheap text
    * features separating "reference-like" docs — with ACTUAL training,
    * in exact-integer batch-perceptron epochs (order-independent
    * sums, so bit-reproducible under any partitioning; SGD is not).
    * Gates the full 3-epoch trajectory (per-epoch misclassified count
    * + post-update weights) against a DuckDB oracle that unrolls the
    * same epochs as chained CTEs — a drift in any epoch's gradient
    * breaks every later row.
    */
  def q249PerceptronTrain(s: SparkSession, dir: String): DataFrame =
    graft.operators.Classification.batchPerceptron(
      perceptronFeatures(s, dir), "y", PerceptronX, epochs = 3)
      .orderBy("epoch")

  /** q250 — the INFERENCE pass of q249's trained model
    * ([[graft.operators.Classification.perceptronScored]]): per-doc
    * margin, ±1 prediction, and correctness under the final epoch-3
    * weights. The oracle chains training + scoring, so the gate covers
    * the deployed artifact (weights) THROUGH its use, not just the
    * training log.
    */
  def q250PerceptronScore(s: SparkSession, dir: String): DataFrame =
    graft.operators.Classification.perceptronScored(
      perceptronFeatures(s, dir), "y", PerceptronX, epochs = 3)
      .select(col("doc_id"), col("y"), col("margin"), col("pred"),
              when(col("pred") === col("y"), 1L).otherwise(0L)
                .as("correct"))
      .orderBy("doc_id")

  private val PerceptronX = Seq("x0", "x1", "x2", "x3", "x4")

  /** Shared q254/q255 input: q250's margins with the ±1 label folded to
    * 0/1 — the (score, outcome) pairs isotonic calibration consumes.
    */
  private def perceptronMargins(s: SparkSession, dir: String): DataFrame =
    graft.operators.Classification.perceptronScored(
      perceptronFeatures(s, dir), "y", PerceptronX, epochs = 3)
      .select(col("doc_id"), col("margin"),
              expr("(y + 1) div 2").as("y01"))

  /** q254 — ISOTONIC CALIBRATION of the trained classifier
    * ([[graft.operators.Isotonic.isotonicBlocks]]): the published
    * non-parametric method (Zadrozny & Elkan 2002) for turning q250's
    * raw margins into probabilities, as exact-integer block rows
    * (start rank, size, positives, floor-scaled fitted probability).
    * Distributed PAV: one range exchange, partition-local pooling,
    * driver merge of block summaries. The oracle derives the SAME fit
    * through the minimax characterization fit(i) = max_{a<=i}
    * min_{b>=i} mean(y[a..b]) — a completely different construction
    * (O(n²) running-average table vs pooling stacks), so agreement is
    * evidence of correctness, not shared bugs. Mean comparisons in the
    * oracle ride doubles: with n ≤ 5000 at the gated SFs, distinct
    * block means differ by ≥ 1/n² ≈ 4e-8 ≫ double ulp, so the double
    * order IS the exact rational order there (the Spark side compares
    * BigInt cross-products — exact at any scale).
    */
  def q254IsotonicBlocks(s: SparkSession, dir: String): DataFrame =
    graft.operators.Isotonic.isotonicBlocks(
      perceptronMargins(s, dir), "margin", "doc_id", "y01")
      .orderBy("start_rank")

  /** q255 — the PER-DOCUMENT calibrated view of q254's fit: every doc
    * joined to its block's fitted probability via broadcast interval
    * containment on the (margin, doc_id) total order — the corpus
    * side streams unshuffled against the driver-merged block list.
    * Chains q249 training → q250 scoring → q254 calibration into one
    * gated artifact: a drift anywhere in the stack breaks this hash.
    */
  def q255IsotonicScores(s: SparkSession, dir: String): DataFrame =
    graft.operators.Isotonic.calibrated(
      perceptronMargins(s, dir), "margin", "doc_id", "y01")
      .select(col("doc_id"), col("margin"), col("y01"), col("p_e6"))
      .orderBy("doc_id")

  /** Shared q256/q257 dictionary: entries chosen to exercise the
    * automaton's hard cases on this corpus — nested patterns
    * ("table" ⊃ "able" ⊃ "le"; "spark" ⊃ "ark"), cross-pattern
    * overlaps in text ("an" inside "scan" hits), multi-length
    * fail-link chains, and one guaranteed miss ("zzzz").
    */
  private val DictPatterns = Seq("table", "able", "le", "scan", "an",
                                 "spark", "ark", "row", "order", "zzzz")

  /** q256 — MULTI-PATTERN DICTIONARY SCAN
    * ([[graft.operators.AhoCorasick]]): per-(doc, pattern) match
    * counts, overlaps and nested-pattern hits included — the
    * blocklist/keyword-audit pass, one automaton sweep per document
    * instead of one regex pass per dictionary entry. The oracle is the
    * RELATIONAL strategy (positional substring compares per pattern),
    * so the automaton's goto/fail/emit construction is checked against
    * an implementation that shares none of it.
    */
  def q256DictMatches(s: SparkSession, dir: String): DataFrame =
    graft.operators.AhoCorasick.matchCounts(
      Tables.documents(s, dir), "doc_id", "text", DictPatterns)
      .orderBy("doc_id", "pattern")

  /** q257 — DICTIONARY REDACTION: every dictionary match (any pattern,
    * overlaps merged via [[graft.operators.Intervals.unionSpans]]) cut
    * from every doc, gating the md5 of each redacted string — the
    * scrub step a blocklist pass actually ships. Chains the automaton
    * (q256's matches), the interval-union primitive, and the span-cut
    * fold into one artifact; the oracle expands match windows to
    * covered positions and rebuilds from the uncovered ones (the q252
    * two-constructions discipline).
    */
  def q257DictRedact(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val merged = graft.operators.Intervals.unionSpans(
      graft.operators.AhoCorasick.matchSpans(docs, "doc_id", "text",
                                             DictPatterns)
        .select(col("doc_id"), col("start"), col("len")),
      "doc_id", "start", "len")
    graft.operators.Intervals.cutSpans(docs, "doc_id", "text", merged)
      .withColumnRenamed("cut_md5", "redacted_md5")
      .orderBy("doc_id")
  }

  /** q260 — STUPID-BACKOFF trigram LM scoring
    * ([[graft.operators.LanguageModel.stupidBackoffScores]]): Brants
    * et al. 2007's web-scale smoothing, trained on the even-doc_id
    * half of the corpus and scored on the odd half — the CCNet
    * deployment shape (reference corpus scores the crawl), and the
    * split is what makes every back-off branch LIVE (a self-trained
    * trigram model never backs off; q61's bigram score has exactly
    * that blind spot). Gates per scored doc the trigram count, how
    * many positions backed off to the bigram / unigram branch, the
    * OOV count, and the floor-exact mean score.
    */
  def q260StupidBackoff(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    LanguageModel.stupidBackoffScores(
      docs.filter(pmod(col("doc_id"), lit(2L)) === 0),
      docs.filter(pmod(col("doc_id"), lit(2L)) === 1),
      "doc_id", "text")
      .orderBy("doc_id")
  }

  def q92Normalize(s: SparkSession, dir: String): DataFrame = {
    val messy =
      concat(
        when(pmod(col("doc_id"), lit(2L)) === 0, lit("  ")).otherwise(lit("")),
        when(pmod(col("doc_id"), lit(3L)) === 0, upper(col("text")))
          .when(pmod(col("doc_id"), lit(3L)) === 1,
            regexp_replace(col("text"), lit(" "), lit("  ")))
          .otherwise(col("text")),
        when(pmod(col("doc_id"), lit(5L)) === 0, lit(" \t")).otherwise(lit("")))
    val norm = trim(regexp_replace(lower(col("m")), lit("\\s+"), lit(" ")))
    Tables.documents(s, dir)
      .select(col("doc_id"), col("text"), messy.as("m"))
      .select(col("doc_id"),
              length(col("m")).cast("long").as("n_messy"),
              norm.as("n"),
              (norm === col("text")).as("roundtrip"))
      .select(col("doc_id"), col("n_messy"),
              length(col("n")).cast("long").as("n_norm"),
              md5(col("n")).as("norm_md5"), col("roundtrip"))
      .orderBy("doc_id")
  }

  /** q94 — incremental aggregate maintenance: per-source stats built as
    * TWO partial states (corpus split on doc_id residue — the stored
    * state and the day's batch) merged by
    * [[graft.operators.IncrementalAgg.mergeStates]]; the oracle computes
    * the aggregates DIRECTLY over the whole corpus, so the gate is the
    * mergeability law `merge(agg(A), agg(B)) == agg(A ∪ B)` itself.
    */
  def q94IncrementalAgg(s: SparkSession, dir: String): DataFrame = {
    def part(df: DataFrame): DataFrame = df
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
           sum(size(TextFunctions.words(col("text"))).cast("long"))
             .as("sum_tokens"),
           max(col("n_chars")).as("max_chars"),
           min(col("n_chars")).as("min_chars"))
    val docs = Tables.documents(s, dir)
    graft.operators.IncrementalAgg.mergeStates("source",
        part(docs.filter(pmod(col("doc_id"), lit(4L)) =!= 0)),
        part(docs.filter(pmod(col("doc_id"), lit(4L)) === 0)))
      .orderBy("source")
  }

  /** q95 — per-source outlier detection on document length: flag docs
    * more than 2 standard deviations from their source's mean, with the
    * z-test kept in EXACT integer cross-multiplied form — `(x·n − S)² >
    * 4·(n·SS − S²)` ⟺ `(x − μ)² > 4σ²` after multiplying both sides by
    * n² (population σ²; all BIGINT at these magnitudes — a 100 TB run
    * lifts the squares to DECIMAL(38,0), same plan). One tiny per-source
    * aggregate broadcast back over the scan: two passes, no window sort.
    */
  def q95Outliers(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("source"),
                                               col("n_chars"))
    val stats = docs.groupBy(col("source"))
      .agg(count(lit(1)).as("n"),
           sum(col("n_chars")).as("s1"),
           sum(col("n_chars") * col("n_chars")).as("s2"))
    docs.join(broadcast(stats), Seq("source"))
      .select(
        col("doc_id"), col("source"), col("n_chars"),
        ((col("n_chars") * col("n") - col("s1")) *
           (col("n_chars") * col("n") - col("s1")) >
          lit(4L) * (col("n") * col("s2") - col("s1") * col("s1")))
          .as("outlier"))
      .orderBy("doc_id")
  }

  /** q96 — data diff: the regression report run between two pipeline
    * versions (here: the q61 quality ruleset vs a stricter variant over
    * the same corpus — a deterministic "upgrade"). Full outer join on
    * the key, one status per row: `same` / `changed` (plus `added` /
    * `removed` when key sets differ — exercised in the spec; the fixture
    * here keeps keys stable so the oracle also pins zero adds/removes).
    * One shuffle pair (the join); at 100 TB both sides are bucketed by
    * the key and the join is co-located.
    */
  def q96DataDiff(s: SparkSession, dir: String): DataFrame = {
    val v1 = q61QualityRules(s, dir).select(col("doc_id"), col("keep"))
    val v2 = q61QualityRules(s, dir)
      .select(col("doc_id"),
              (col("keep") && pmod(col("doc_id"), lit(7L)) =!= 3).as("keep"))
    graft.operators.DataDiff.diff(v1, v2, Seq("doc_id"))
      .orderBy("doc_id")
  }

  /** q97 — Z-order layout: Morton-interleave (l_partkey, l_suppkey),
    * globally sort by the z-value, cut into 1000-row files, and report
    * each file's min/max envelope on BOTH dimensions (the footer stats a
    * scan prunes on). Z-curve locality means the envelopes are tight
    * rectangles — the measurable data-skipping win. Scale shape: the
    * z-value is codegen'd per-row arithmetic; the only full-data exchange
    * is the range partition any total sort pays; file assignment rides
    * [[graft.operators.PrefixSum]], never a single-partition window.
    */
  def q97Zorder(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
      .select(col("l_orderkey"), col("l_linenumber"),
              col("l_partkey"), col("l_suppkey"))
    val laid = graft.operators.ZOrder.layout(
      li, "l_partkey", "l_suppkey",
      col("l_orderkey") * 10 + col("l_linenumber"), rowsPerFile = 1000L)
    graft.operators.ZOrder.localityReport(laid, "l_partkey", "l_suppkey")
  }

  /** q203 — HILBERT-curve layout ([[graft.operators.Hilbert]]): q97's
    * experiment on the locality-stronger curve. Same dimensions, same
    * 1000-row files, same per-file envelope report — directly
    * comparable outputs, and the Hilbert adjacency property
    * (consecutive cells always grid-adjacent, no Morton diagonal
    * jumps) is what tightens boundary-file envelopes. The d-value is
    * the compact codegen kernel [[graft.functions.HilbertIndexXY]]
    * (r13 — the unrolled 31-round column chain fused into one
    * codegen stage but ran past HotSpot's huge-method JIT ceiling,
    * executing interpreted; the kernel cut this query 10.5 → 1.5 s at
    * sf0.1, now equal to q97), dims in [0, 2³¹) since r12 (the sf1.0
    * key-domain fix); the oracle CTE chain generates from the SAME
    * round constants, and the only full-data exchange is the sort's
    * range partition; file assignment rides
    * [[graft.operators.PrefixSum]].
    */
  def q203Hilbert(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
      .select(col("l_orderkey"), col("l_linenumber"),
              col("l_partkey"), col("l_suppkey"))
    val laid = graft.operators.Hilbert.layout(
      li, "l_partkey", "l_suppkey",
      col("l_orderkey") * 10 + col("l_linenumber"), rowsPerFile = 1000L)
    graft.operators.Hilbert.localityReport(laid, "l_partkey", "l_suppkey")
  }

  /** The 3-D layout projection shared by q270/q271: (part, supplier,
    * ship-day) — the production shape the r12 verdict named (layouts
    * cluster 3–4 columns: entity keys plus time). d_ship = days since
    * 1992-01-01, a small non-negative integer on every SF.
    */
  private def layout3dSource(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .select(col("l_orderkey"), col("l_linenumber"),
              col("l_partkey"), col("l_suppkey"),
              datediff(col("l_shipdate"), lit("1992-01-01"))
                .cast("long").as("d_ship"))

  /** q270 — 3-D Z-ORDER LAYOUT ([[graft.operators.ZOrder.layoutN]]):
    * q97 generalized to the (l_partkey, l_suppkey, ship-day) triple —
    * 20 bits per dimension (62/3 — the int64 ceiling split), the d-ary
    * bit spread per-row codegen'd, one range exchange, PrefixSum file
    * assignment, per-file min/max envelope on all THREE dimensions.
    * The oracle replays the interleave from [[graft.operators.ZOrder
    * .spreadNSql]] — the same loop that generates the Spark-side
    * arithmetic — so operator and oracle share one constant set.
    */
  def q270Zorder3d(s: SparkSession, dir: String): DataFrame = {
    val li = layout3dSource(s, dir)
    val laid = graft.operators.ZOrder.layoutN(
      li, Seq("l_partkey", "l_suppkey", "d_ship"),
      col("l_orderkey") * 10 + col("l_linenumber"), rowsPerFile = 1000L)
    graft.operators.ZOrder.localityReportN(
      laid, Seq("l_partkey", "l_suppkey", "d_ship"))
  }

  /** q271 — 3-D HILBERT LAYOUT ([[graft.operators.Hilbert.layoutN]],
    * Skilling's transform): the adjacency-preserving curve on the same
    * triple, directly comparable to q270's envelopes file-for-file.
    * computed by the [[graft.functions.HilbertIndexN]] codegen kernel
    * (19 exchange/invert rounds × 3 axes, Gray encode, parity fold,
    * then the q270 bit interleave — one JIT'd loop per row; 13.4 →
    * 2.2 s at sf0.1 vs the unrolled column chain); the oracle CTE
    * chain generates from the SAME round constants
    * ([[graft.operators.Hilbert.oracleCtesN]]).
    */
  def q271Hilbert3d(s: SparkSession, dir: String): DataFrame = {
    val li = layout3dSource(s, dir)
    val laid = graft.operators.Hilbert.layoutN(
      li, Seq("l_partkey", "l_suppkey", "d_ship"),
      col("l_orderkey") * 10 + col("l_linenumber"), rowsPerFile = 1000L)
    graft.operators.Hilbert.localityReportN(
      laid, Seq("l_partkey", "l_suppkey", "d_ship"))
  }

  /** Shared q100/q104 oracle fragment: the CDC chunk table (word
    * positions → bigram-window boundary flags → running chunk ids →
    * per-chunk digest), ending at CTE `ch(doc_id, chunk_id, h)`. One
    * definition so the chunk report and the dup-graph gates cannot
    * drift.
    */
  private val cdcChunksCte: String =
    """pos AS (
      |  SELECT doc_id, i, ws[i] AS w,
      |         CASE WHEN i = 1 THEN NULL ELSE ws[i-1] END AS pw
      |  FROM (SELECT doc_id, string_split(text, ' ') AS ws
      |        FROM documents) t,
      |  LATERAL (SELECT unnest(generate_series(1, len(ws))) AS i) g),
      |f AS (
      |  SELECT doc_id, i, w,
      |    CASE WHEN pw IS NOT NULL AND
      |      ('0x' || substr(md5(pw || ' ' || w), 1, 6))::BIGINT % 16 = 0
      |    THEN 1 ELSE 0 END AS b
      |  FROM pos),
      |c AS (
      |  SELECT doc_id, i, w,
      |    COALESCE(SUM(b) OVER (PARTITION BY doc_id ORDER BY i
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |      AS chunk_id
      |  FROM f),
      |ch AS (
      |  SELECT doc_id, chunk_id,
      |         md5(string_agg(w, ' ' ORDER BY i)) AS h
      |  FROM c GROUP BY doc_id, chunk_id)""".stripMargin

  /** Shared q61/q96 oracle fragment: the PII fixture plus the rule
    * flags, ending at CTE `r` (one definition so the two oracles cannot
    * drift).
    */
  private def q61RulesCteFrom(src: String): String =
    s"""m AS (
       |  SELECT doc_id,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
       |    CAST(length(text) AS BIGINT) AS n_chars,
       |    CAST(len(regexp_extract_all(text, '[^A-Za-z0-9 ]')) AS BIGINT)
       |      AS n_sym,
       |    CAST(len(list_filter(string_split(text, ' '),
       |      x -> x IN ('the','a','and','of','to','in','is','it')))
       |      AS BIGINT) AS n_stop
       |  FROM $src),
       |r AS (
       |  SELECT doc_id,
       |    n_words BETWEEN 20 AND 500 AS r_words,
       |    floor(1000.0 * (n_chars - n_words + 1) / n_words)
       |      BETWEEN 3000 AND 12000 AS r_wlen,
       |    floor(1000000.0 * n_sym / n_chars) <= 30000 AS r_sym,
       |    n_stop >= 1 AS r_stop
       |  FROM m)""".stripMargin

  private val q61RulesCte: String =
    s"""$piiSql,
       |${q61RulesCteFrom("pii")}""".stripMargin

  /** q85 oracle: rounds chained as CTEs — pair counts from the previous
    * round's segmentation, 1-row argmax (weight desc, pair lexicographic),
    * literal wrapped-string replace. Generated per round so the four
    * blocks cannot drift from each other.
    */
  private val bpeRoundsN = 4

  /** Shared q85/q98 oracle prefix (the training rounds): word freqs,
    * char segmentation, and `bpeRoundsN` chained merge rounds ending at
    * scalar CTEs `m1..mN` and the re-segmented vocab `wN`. One
    * definition so the trainer gate and the encoder gate cannot drift.
    */
  private val bpeCtePrefix: String = {
    def roundCte(i: Int): String = {
      val prev = if (i == 1) "w0" else s"w${i - 1}"
      s"""p$i AS (
         |  SELECT syms[i] AS l, syms[i+1] AS r, CAST(SUM(freq) AS BIGINT) AS w
         |  FROM (SELECT string_split(s[2:len(s)-1], '||') AS syms, freq
         |        FROM $prev) t,
         |  LATERAL (SELECT unnest(generate_series(1, len(syms)-1)) AS i) g
         |  GROUP BY 1, 2),
         |m$i AS (SELECT l, r, w FROM p$i ORDER BY w DESC, l, r LIMIT 1),
         |w$i AS (
         |  SELECT replace(s,
         |    '|' || (SELECT l FROM m$i) || '||' || (SELECT r FROM m$i) || '|',
         |    '|' || (SELECT l FROM m$i) || (SELECT r FROM m$i) || '|') AS s,
         |    freq
         |  FROM $prev)""".stripMargin
    }
    s"""wf AS (
       |  SELECT word, CAST(COUNT(*) AS BIGINT) AS freq
       |  FROM (SELECT unnest(string_split(text, ' ')) AS word
       |        FROM documents)
       |  WHERE length(word) > 0 AND NOT contains(word, '|')
       |  GROUP BY 1),
       |w0 AS (
       |  SELECT '|' || array_to_string(string_split(word, ''), '||') || '|'
       |    AS s, freq FROM wf),
       |${(1 to bpeRoundsN).map(roundCte).mkString(",\n")}""".stripMargin
  }

  private val bpeOracleSql: String = {
    val selects = (1 to bpeRoundsN).map { i =>
      s"SELECT $i AS round, l AS left_sym, r AS right_sym, w AS weight FROM m$i"
    } :+
      s"""SELECT ${bpeRoundsN + 1}, '', '',
         |  (SELECT CAST(SUM(freq * len(string_split(s[2:len(s)-1], '||')))
         |     AS BIGINT) FROM w$bpeRoundsN)""".stripMargin
    s"""WITH $bpeCtePrefix
       |SELECT CAST(round AS BIGINT) AS round, left_sym, right_sym, weight
       |FROM (${selects.mkString("\nUNION ALL\n")})
       |ORDER BY round""".stripMargin
  }

  /** The q98 encode chain as a shared CTE block ending at
    * `d{bpeRoundsN}(doc_id, e)` — the corpus re-encoded
    * document-by-document with the trained replace chain in merge
    * order. q98 reads the digest off it; q221 aggregates its token
    * counts per language (one chain, so the tokenizer under audit
    * cannot drift from the one the gate verifies).
    */
  private val bpeEncodeCtes: String = {
    def encCte(i: Int): String = {
      val prev = if (i == 1) "d0" else s"d${i - 1}"
      s"""d$i AS (SELECT doc_id, replace(e,
         |  '|' || (SELECT l FROM m$i) || '||' || (SELECT r FROM m$i) || '|',
         |  '|' || (SELECT l FROM m$i) || (SELECT r FROM m$i) || '|') AS e
         |  FROM $prev)""".stripMargin
    }
    s"""$bpeCtePrefix,
       |d0 AS (
       |  SELECT doc_id,
       |    array_to_string(list_transform(
       |      list_filter(string_split(text, ' '),
       |        w -> length(w) > 0 AND NOT contains(w, '|')),
       |      w -> '|' || array_to_string(string_split(w, ''), '||') || '|'),
       |      ' ') AS e
       |  FROM documents),
       |${(1 to bpeRoundsN).map(encCte).mkString(",\n")}""".stripMargin
  }

  /** q98 oracle: the q85 training rounds, then the corpus re-encoded
    * document-by-document with the same replace chain in merge order.
    */
  private val bpeEncodeOracleSql: String =
    s"""WITH $bpeEncodeCtes
       |SELECT doc_id,
       |  CAST((length(e) - length(replace(e, '|', '')))//2 AS BIGINT)
       |    AS n_tokens,
       |  md5(e) AS enc_md5
       |FROM d$bpeRoundsN ORDER BY doc_id""".stripMargin

  /** q133 — bigram language-model quality scoring
    * ([[graft.operators.LanguageModel]]): train bigram conditional
    * probabilities on the corpus itself, score every document by the
    * exact integer mean of its transitions' floor-scaled probabilities.
    * The CCNet-style perplexity filter re-expressed with an
    * oracle-exact surrogate (see the operator Scaladoc for the
    * log-prob vs scaled-prob tradeoff).
    */
  def q133BigramLm(s: SparkSession, dir: String): DataFrame =
    LanguageModel.scoreDocuments(
        Tables.documents(s, dir), "doc_id", "text")
      .orderBy(col("doc_id"))

  /** q187 — CCNet-style MIDDLE-PERPLEXITY selection: docs banded into
    * exact global score terciles (band = ⌊(rank−1)·3/n⌋ over the total
    * (score_e6, doc_id) order), keep the middle band — too-fluent text
    * is boilerplate, too-surprising text is noise; the middle is where
    * pretraining data lives. The global rank rides
    * [[graft.operators.PrefixSum.runningTotal]] (range exchange +
    * per-partition offsets — the q67 shards discipline), NEVER a
    * single-partition window: corpus-global order statistics are
    * exactly where the naive window formulation stops scaling. Oracle
    * re-derives the q133 model, the rank, and the band arithmetic.
    */
  def q187PplBand(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.broadcast
    val scored = LanguageModel.scoreDocuments(
        Tables.documents(s, dir), "doc_id", "text")
      .withColumn("__one", lit(1L))
    val totals = scored.agg(count(lit(1)).as("n"))
    val ranked = graft.operators.PrefixSum.runningTotal(
      scored, "__one", Seq("score_e6", "doc_id"), cumCol = "rank")
    ranked.crossJoin(broadcast(totals))
      .select(col("doc_id"), col("n_bigrams"), col("score_e6"),
              expr("((rank - 1) * 3) div n").as("band"))
      .withColumn("kept", col("band") === 1L)
      .orderBy("doc_id")
  }

  /** q207 — EXACT AUC (Mann–Whitney U with midranks): does the q133
    * quality score actually separate English from non-English? AUC =
    * P(score_pos > score_neg) + ½·P(=), computed exactly: midranks
    * carry ties (2·midrank = 2·cum − cnt + 1 per tie group — integer),
    * U·2 = Σ_pos 2·midrank − n_pos(n_pos+1), auc = 2U / (2·n_pos·n_neg)
    * as a decimal(38,0) rational (the q189 string convention) plus the
    * floored e6. Tie handling makes the value PARTITION-INVARIANT —
    * a row_number-based AUC would depend on shuffle order within tie
    * groups. Labels derive from the corpus (lang = 'en'), so both
    * engines re-derive them; only documents the scorer covers (≥ 1
    * known bigram) enter — stated, not hidden.
    *
    * Scale: the tie-group table is grouped BY SCORE (bounded by score
    * cardinality, not corpus size), the global cumulative rides
    * [[graft.operators.PrefixSum.runningTotal]] over that grouped
    * table — never a single-partition window over the corpus.
    */
  def q207AucEnScore(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.broadcast
    val d38 = "decimal(38,0)"
    val docs = Tables.documents(s, dir)
    val scored = LanguageModel.scoreDocuments(docs, "doc_id", "text")
      .join(docs.select(col("doc_id"),
                        (col("lang") === "en").as("pos")), Seq("doc_id"))
    val grouped = scored.groupBy(col("score_e6"))
      .agg(count(lit(1)).as("cnt"),
           sum(when(col("pos"), 1L).otherwise(0L)).as("pos_cnt"))
    val cum = graft.operators.PrefixSum.runningTotal(
      grouped, "cnt", Seq("score_e6"), cumCol = "cum")
    cum
      .select(col("pos_cnt"), col("cnt"),
              expr(s"CAST(2 AS $d38) * cum - cnt + 1").as("r2"))
      .agg(sum(col("pos_cnt")).as("n_pos"),
           sum(col("cnt") - col("pos_cnt")).as("n_neg"),
           sum(expr(s"CAST(pos_cnt AS $d38) * r2")).cast(d38).as("s2"))
      .select(col("n_pos"), col("n_neg"),
              expr(s"CAST(s2 - CAST(n_pos AS $d38) * (n_pos + 1) AS $d38)")
                .cast("string").as("auc_num"),
              expr(s"CAST(CAST(2 AS $d38) * n_pos * n_neg AS $d38)")
                .cast("string").as("auc_den"),
              expr(s"(1000000 * (s2 - CAST(n_pos AS $d38) * (n_pos + 1)))" +
                   s" div (CAST(2 AS $d38) * n_pos * n_neg)")
                .cast("long").as("auc_e6"))
  }

  /** q208 — SCORE RELIABILITY by rank decile (calibration/lift table):
    * the q207 verdict unpacked — scored docs cut into exact global
    * rank deciles (the q176 equi-depth rule over the unique
    * (score_e6, doc_id) order), each reporting its size, positive
    * count, positive rate e6, and score range. A monotone pos_rate
    * column IS calibration; a flat one indicts the score. Global rank
    * rides [[graft.operators.PrefixSum.runningTotal]] (the q187
    * discipline), one 10-group agg after it.
    */
  def q208ScoreReliability(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.broadcast
    val docs = Tables.documents(s, dir)
    val scored = LanguageModel.scoreDocuments(docs, "doc_id", "text")
      .join(docs.select(col("doc_id"),
                        (col("lang") === "en").as("pos")), Seq("doc_id"))
      .withColumn("__one", lit(1L))
    val totals = scored.agg(count(lit(1)).as("n"))
    val ranked = graft.operators.PrefixSum.runningTotal(
      scored, "__one", Seq("score_e6", "doc_id"), cumCol = "rank")
    ranked.crossJoin(broadcast(totals))
      .withColumn("decile", expr("((rank - 1) * 10) div n"))
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n_docs"),
           sum(when(col("pos"), 1L).otherwise(0L)).as("n_pos"),
           min(col("score_e6")).as("score_min"),
           max(col("score_e6")).as("score_max"))
      .withColumn("pos_rate_e6", expr("(1000000 * n_pos) div n_docs"))
      .select("decile", "n_docs", "n_pos", "pos_rate_e6",
              "score_min", "score_max")
      .orderBy("decile")
  }

  /** q212 — COMMUNITY MODULARITY of the q152 labels: did label
    * propagation find real structure? Newman's Q as the exact rational
    * Σ_c (4·m·m_c − d_c²) / (4m²) — numerator SIGNED (Q < 0 is a
    * legal verdict: worse than random), so the e6 rendering divides
    * |num| and multiplies the sign back (the q194 discipline); both
    * rational parts surface as decimal(38,0) strings (d_c² at
    * web-graph degrees is far past int64). Q ≈ 0 means the
    * "communities" are noise and any per-community curation decision
    * downstream is laundering randomness — the graph-quality audit
    * next to q177's threshold-transitivity one.
    *
    * Plan: the gated q152 chunk-graph + LPA labels, a degree agg, two
    * label joins for within-community edge counts, a 1-row reduction.
    */
  def q212Modularity(s: SparkSession, dir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val ch = graft.operators.Chunking.contentDefinedChunks(
        Tables.documents(s, dir).select(col("doc_id"), col("text")),
        "doc_id", "text", modulus = 16)
      .select(col("chunk_md5").as("h"), col("doc_id"))
      .graftCheckpoint()
    val edges = ch.select(col("h"), col("doc_id").as("u"))
      .join(ch.select(col("h"), col("doc_id").as("v")), Seq("h"))
      .filter(col("u") < col("v"))
      .select(col("u"), col("v")).distinct()
      .graftCheckpoint()
    val labels = graft.operators.GraphOps.labelPropagation(
      edges, "u", "v", iterations = 3)
    val deg = edges.select(col("u").as("node"))
      .unionByName(edges.select(col("v").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    val dC = deg.join(labels, Seq("node"))
      .groupBy(col("community")).agg(sum(col("deg")).as("d_c"))
    val mC = edges
      .join(labels.select(col("node").as("u"),
                          col("community").as("cu")), Seq("u"))
      .join(labels.select(col("node").as("v"),
                          col("community").as("cv")), Seq("v"))
      .filter(col("cu") === col("cv"))
      .select(col("cu").as("community"))
      .groupBy(col("community")).agg(count(lit(1)).as("m_c"))
    val m = edges.agg(count(lit(1)).as("m"))
    dC.join(mC, Seq("community"), "left")
      .withColumn("m_c", coalesce(col("m_c"), lit(0L)))
      .crossJoin(broadcast(m))
      .agg(count(lit(1)).as("n_communities"),
           max(col("m")).as("m_edges"),
           sum(expr(s"CAST(4 AS $d38) * m * m_c " +
                    s"- CAST(d_c AS $d38) * d_c")).cast(d38).as("q_num"),
           max(expr(s"CAST(4 AS $d38) * m * m")).cast(d38).as("q_den"))
      .select(col("n_communities"), col("m_edges"),
              col("q_num").cast("string").as("q_num"),
              col("q_den").cast("string").as("q_den"),
              (when(col("q_num") < 0, -1L).otherwise(1L) *
                expr("(abs(q_num) * 1000000) div q_den").cast("long"))
                .as("q_e6"))
  }

  /** q216 — RECENCY-DECAY WEIGHTS: per-user activity mass with an
    * exponential half-life over event age — the freshness-weighting
    * primitive a data-mixing stage runs when newer crawl snapshots
    * should outweigh older ones (the q78 epoch-mix knob's
    * time-continuous sibling). Decay is EXACT integer arithmetic:
    * weight_e6 = 1e6 div 2^(age_days div 7) — a power-of-two
    * half-life realized as one shift, so both engines agree bit for
    * bit where a float exp() would drift in the last ulp and break
    * the hash gate. The anchor ("now") is the corpus max event date,
    * broadcast as a 1-row frame (never a driver collect); the shift
    * is capped at 62 so ancient events floor to 0 instead of
    * overflowing the shift width.
    *
    * Plan: one 1-row agg broadcast onto the scan, per-row integer
    * arithmetic, ONE map-combined groupBy(user). Nothing here grows
    * faster than the event scan.
    */
  def q216DecayWeights(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.broadcast
    val ev = Tables.events(s, dir)
      .select(col("user_id"), to_date(col("ts")).as("d"))
    val anchor = ev.agg(max(col("d")).as("anchor"))
    ev.crossJoin(broadcast(anchor))
      .withColumn("age_days", datediff(col("anchor"), col("d")).cast("long"))
      .withColumn("w_e6", expr(
        "1000000 div shiftleft(CAST(1 AS BIGINT), " +
          "CAST(least(age_days div 7, 62) AS INT))"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum(col("w_e6")).as("freshness_e6"))
      .orderBy("user_id")
  }

  /** q219 — DSIR-style hashed n-gram importance SELECTION
    * ([[graft.operators.Dsir.weights]] — see that Scaladoc for the
    * exact-integer likelihood-ratio surrogate and the one-pass scale
    * shape): weight every document by its affinity to the TARGET
    * domain (here lang = 'en'), then keep the top global quartile.
    * The domain-targeted data-selection primitive: q133 scores fluency
    * against the corpus's own transitions; this scores DOMAIN AFFINITY
    * against a declared target subset. The quartile rank rides
    * [[graft.operators.PrefixSum.runningTotal]] (range exchange +
    * offsets — never a single-partition window, the q187 discipline).
    * At sf0.1 the kept quartile measures en-enriched (46.4% en vs
    * 39.4% corpus-wide) — the signal is live, coarse by design at
    * B = 64.
    */
  def q219DsirSelect(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.broadcast
    val docs = Tables.documents(s, dir)
    val weights = graft.operators.Dsir.weights(
        docs, "doc_id", "text", col("lang") === "en", buckets = 64)
      .withColumn("__one", lit(1L))
    val n = weights.agg(count(lit(1)).as("n"))
    val ranked = graft.operators.PrefixSum.runningTotal(
      weights, "__one", Seq("weight_e6", "doc_id"), cumCol = "rank")
    ranked.crossJoin(broadcast(n))
      .withColumn("band", expr("((rank - 1) * 4) div n"))
      .select(col("doc_id"), col("n_tokens"), col("weight_e6"),
              col("band"), (col("band") === 3L).as("kept"))
      .orderBy("doc_id")
  }

  /** q220 — DOMAIN MIXTURE REWEIGHTING from excess score (the DoReMi
    * shape — Xie et al. 2023, "DoReMi: Optimizing Data Mixtures Speeds
    * Up Language Model Pretraining" — with the proxy-model excess LOSS
    * replaced by the corpus's own q133 score deficit): domains whose
    * mean LM score falls BELOW the corpus baseline are the ones the
    * model finds hard/undertrained, so they get mixture weight in
    * proportion to that deficit; domains at or above baseline share
    * the floor weight. `excess_e6 = max(0, baseline − mean) + 1` (the
    * +1 keeps every domain sampleable — DoReMi's uniform smoothing
    * term), normalized to EXACTLY Σ = 1e6 by largest-remainder
    * (Hamilton) apportionment — the q172 discipline, driven by a
    * trained signal instead of raw size. Where q172 answers "how much
    * of each source fits the budget", this answers "which sources
    * should the next epoch over-sample".
    *
    * All arithmetic exact-integer: means/baseline as floor divisions,
    * apportionment over decimal(38,0) products. Docs the scorer
    * doesn't cover (< 2 tokens, q133's contract) carry no evidence
    * and are absent from the means — stated, not hidden.
    *
    * Scale: the corpus-sized work is the q133 scoring chain itself;
    * everything after the per-source agg is |sources| rows —
    * control-plane-sized, so the Hamilton window is bounded by domain
    * cardinality, never corpus size (the q172 note).
    */
  def q220DomainReweight(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.broadcast
    val d38 = "decimal(38,0)"
    val docs = Tables.documents(s, dir)
    val dom = LanguageModel.scoreDocuments(docs, "doc_id", "text")
      .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("score_e6")).as("__ssum"))
    val base = dom.agg(
      expr("sum(__ssum) div sum(n_docs)").as("baseline_e6"))
    val e = dom.crossJoin(broadcast(base))
      .select(col("source"), col("n_docs"),
              expr("__ssum div n_docs").as("mean_score_e6"),
              (greatest(lit(0L),
                 col("baseline_e6") - expr("__ssum div n_docs")) + 1L)
                .as("excess_e6"))
    val tot = e.agg(sum(col("excess_e6")).cast(d38).as("__tot"))
    val q = e.crossJoin(broadcast(tot))
      .select(col("source"), col("n_docs"), col("mean_score_e6"),
              col("excess_e6"),
              expr(s"(CAST(1000000 AS $d38) * excess_e6) div __tot")
                .as("__quota"),
              expr(s"(CAST(1000000 AS $d38) * excess_e6) % __tot")
                .as("__rem"))
    val leftover = q.agg((lit(1000000L) - sum(col("__quota"))).as("__left"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("__rem").desc, col("source"))
    q.crossJoin(broadcast(leftover))
      .withColumn("__rk", row_number().over(w))
      .select(col("source"), col("n_docs"), col("mean_score_e6"),
              col("excess_e6"),
              (col("__quota") +
                when(col("__rk") <= col("__left"), 1L).otherwise(0L))
                .cast("long").as("weight_e6"))
      .orderBy("source")
  }

  /** q221 — TOKENIZER FERTILITY by language: tokens-per-word of the
    * corpus-trained q98 BPE tokenizer, per `lang` — the tokenizer-
    * parity audit (a language whose fertility runs far above the
    * corpus mean pays more sequence length per word, trains on less
    * effective context, and costs more per token at inference; the
    * documented multilingual-equity concern). Fertility here is the
    * exact corpus ratio `(1e6·Σ tokens) div Σ words` per language —
    * floor-scaled integers, not a float mean of per-doc ratios (which
    * would weight short docs equally with long ones AND drift the
    * gate).
    *
    * The tokenizer under audit IS the gated q98 chain (same trained
    * merges, same apply), so this table can never describe a different
    * tokenizer than the one the encode gate verifies. Words counted
    * under q98's own eligibility rule (non-empty, no '|' sentinel) —
    * the denominator is the tokenizer's actual input, not a separate
    * notion of "word".
    *
    * Scale: encode is the q98 shape (merges broadcast as k rows of
    * control plane, zero shuffle); the audit adds one broadcast-sized
    * map-combined agg by language. Output is |langs| rows.
    */
  def q221TokenizerFertility(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val merges = graft.operators.Bpe.trainMerges(docs, "text", rounds = 4)
      .filter(col("round") <= 4)
      .orderBy("round").collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    val enc = graft.operators.Bpe.encode(docs, "text", Seq("doc_id"), merges)
      .select(col("doc_id"),
        shiftright(length(col("encoded")) -
          length(replace(col("encoded"), lit("|"), lit(""))), 1)
          .cast("long").as("n_tok"))
    val words = docs.select(col("doc_id"), col("lang"),
      size(filter(TextFunctions.words(col("text")),
          w => (length(w) > 0) && !w.contains("|")))
        .cast("long").as("n_w"))
    enc.join(words, Seq("doc_id"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
           sum(col("n_w")).as("n_words"),
           sum(col("n_tok")).as("n_tokens"))
      .withColumn("fertility_e6",
        when(col("n_words") === 0L, 0L)
          .otherwise(expr("(1000000 * n_tokens) div n_words")))
      .orderBy("lang")
  }

  /** q266 — UNIGRAM-LM TOKENIZER TRAINER
    * ([[graft.operators.UnigramLm.trainPieces]]): the SentencePiece-
    * style counterpart to q85's BPE — an over-complete substring seed
    * vocab (≤4 chars, count ≥4, top-1024 multis + all chars), integer
    * bit-length costs, one hard-EM round (Viterbi usage recount →
    * prune unused pieces → refit costs). The oracle replays the WHOLE
    * trainer — seed counts, top-V admission, the packed-int64 Viterbi
    * DP per vocab word (a recursive CTE), the usage recount, and the
    * refit — so a drift in any DP tie-break or a single admitted piece
    * breaks the piece table.
    */
  def q266UnigramTrain(s: SparkSession, dir: String): DataFrame =
    graft.operators.UnigramLm.trainPieces(
        Tables.documents(s, dir), "text",
        maxPieceLen = 4, minCount = 4, vocabSize = 1024)
      .orderBy("piece")

  /** q267 — UNIGRAM-LM tokenizer APPLY
    * ([[graft.operators.UnigramLm.encode]]): every document segmented
    * under the q266-trained final costs; gates the md5 of each doc's
    * full segmentation string plus its token count, so one flipped
    * Viterbi tie anywhere in the corpus breaks a digest. The encode
    * path segments the DISTINCT-WORD vocab once (the Zipf lever) and
    * joins docs back by word — the corpus never enters the DP.
    */
  def q267UnigramEncode(s: SparkSession, dir: String): DataFrame =
    graft.operators.UnigramLm.encode(
        Tables.documents(s, dir), "text", Seq("doc_id"),
        maxPieceLen = 4, minCount = 4, vocabSize = 1024)
      .select(col("doc_id"), col("n_tokens"),
              md5(col("encoded")).as("encoded_md5"))
      .orderBy("doc_id")

  /** q268 — TOKENIZER COMPARISON: q221's per-language fertility
    * harness run over BOTH trained tokenizers — the q98 BPE chain and
    * the q266/q267 unigram chain — as one table keyed (tokenizer,
    * lang). This is the artifact a pipeline uses to CHOOSE a
    * tokenizer: same corpus, same word-eligibility rule, same exact
    * floor-scaled fertility, two vocabularies. Both legs' oracles are
    * the gated q221/q267 chains, so neither column can describe a
    * tokenizer the encode gates don't verify.
    */
  def q268TokenizerCompare(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val words = docs.select(col("doc_id"), col("lang"),
      size(filter(TextFunctions.words(col("text")),
          w => (length(w) > 0) && !w.contains("|")))
        .cast("long").as("n_w"))
    def fert(perDoc: DataFrame, name: String): DataFrame =
      perDoc.join(words, Seq("doc_id"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
             sum(col("n_w")).as("n_words"),
             sum(col("n_tok")).as("n_tokens"))
        .select(lit(name).as("tokenizer"), col("lang"), col("n_docs"),
                col("n_words"), col("n_tokens"),
                when(col("n_words") === 0L, 0L)
                  .otherwise(expr("(1000000 * n_tokens) div n_words"))
                  .as("fertility_e6"))
    val merges = graft.operators.Bpe.trainMerges(docs, "text", rounds = 4)
      .filter(col("round") <= 4)
      .orderBy("round").collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    val bpe = graft.operators.Bpe
      .encode(docs, "text", Seq("doc_id"), merges)
      .select(col("doc_id"),
        shiftright(length(col("encoded")) -
          length(replace(col("encoded"), lit("|"), lit(""))), 1)
          .cast("long").as("n_tok"))
    val uni = graft.operators.UnigramLm.encode(
        docs, "text", Seq("doc_id"),
        maxPieceLen = 4, minCount = 4, vocabSize = 1024)
      .select(col("doc_id"), col("n_tokens").as("n_tok"))
    fert(bpe, "bpe").unionByName(fert(uni, "unigram"))
      .orderBy("tokenizer", "lang")
  }

  /** Per-JVM unique scratch dir for persisted tokenizer artifacts
    * (q241/q242): keyed by sf dir and PID — two concurrent sessions
    * over the same testdata never clobber each other's artifact files
    * (the q264 path discipline).
    */
  private def tokenizerStorePath(dir: String, name: String): String =
    System.getProperty("java.io.tmpdir") + "/graft_tokstore_" + name +
      "_" + Integer.toHexString(dir.hashCode) + "_" +
      ProcessHandle.current().pid()

  /** q241 — BPE TOKENIZER PERSISTENCE ROUND-TRIP (r11 verdict #7):
    * train q85's merge list, SAVE it as a versioned parquet artifact
    * ([[graft.operators.TokenizerStore]]), LOAD it back, and encode the
    * corpus THROUGH THE LOADED ARTIFACT. The oracle is q98's (encode
    * via the trained merges), so the gate proves encode-via-loaded ≡
    * encode-via-trained byte-for-byte — the guarantee a pipeline needs
    * before shipping a tokenizer file trained in one job to the encode
    * jobs of the next months. Kind/version mismatches fail loud at
    * load (`TokenizerStoreSpec`).
    */
  def q241BpeStoreRoundtrip(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.{Bpe, TokenizerStore}
    val docs = Tables.documents(s, dir)
    val path = tokenizerStorePath(dir, "bpe")
    TokenizerStore.save(Bpe.trainMerges(docs, "text", rounds = 4),
                        path, TokenizerStore.KindBpeMerges)
    val merges = TokenizerStore
      .load(s, path, TokenizerStore.KindBpeMerges)
      .filter(col("round") <= 4)
      .select("round", "left_sym", "right_sym")
      .orderBy("round").collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    Bpe.encode(docs, "text", Seq("doc_id"), merges)
      .select(col("doc_id"),
        shiftright(length(col("encoded")) -
          length(replace(col("encoded"), lit("|"), lit(""))), 1)
          .cast("long").as("n_tokens"),
        md5(col("encoded")).as("enc_md5"))
      .orderBy("doc_id")
  }

  /** q242 — UNIGRAM TOKENIZER PERSISTENCE ROUND-TRIP: q241's contract
    * for the q266 piece table — save the trained artifact, load it,
    * encode every document through the LOADED pieces
    * ([[graft.operators.UnigramLm.encodeWith]]). Gated by q267's
    * oracle, so a single flipped Viterbi tie under the loaded costs —
    * i.e. any value damage in the parquet round-trip — breaks a
    * digest.
    */
  def q242UnigramStoreRoundtrip(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.{TokenizerStore, UnigramLm}
    val docs = Tables.documents(s, dir)
    val path = tokenizerStorePath(dir, "unigram")
    TokenizerStore.save(
      UnigramLm.trainPieces(docs, "text", maxPieceLen = 4, minCount = 4,
                            vocabSize = 1024),
      path, TokenizerStore.KindUnigramPieces)
    UnigramLm.encodeWith(
        docs, "text", Seq("doc_id"),
        TokenizerStore.load(s, path, TokenizerStore.KindUnigramPieces),
        maxPieceLen = 4)
      .select(col("doc_id"), col("n_tokens"),
              md5(col("encoded")).as("encoded_md5"))
      .orderBy("doc_id")
  }

  /** q269 — THE END-TO-END CURATION DAG (r10 verdict #4): the
    * individually-gated operators of rounds 1–10 composed as ONE
    * pipeline over staged, REWRITTEN text, with a per-stage yield
    * ledger (the q182 funnel shape). Stages:
    *
    *   0 source → 1 HTML main-content extraction (the q248 chain, page
    *   synthesized from the corpus, lines joined) → 2 Unicode NFC
    *   (q247) → 3 the q61 quality-rule gate → 4 MinHash near-dup
    *   family dedup, component-min keeper (q22 + q37 — BEFORE the
    *   substring cut: cutting shared spans first strips exactly the
    *   text near-dup families share, measured to starve doc-level
    *   dedup entirely) → 5 exact-substring dedup apply ≥25 chars
    *   (q252's cut, spans detected over the survivors) → 6 calibrated
    *   LANGUAGE-ID filter — a perceptron trained to reproduce the q26
    *   n-gram heuristic's agreement with the metadata lang (weak
    *   supervision; as a hard stage-3 filter the agreement rule left a
    *   single-label population and calibration had nothing to
    *   separate), margins isotonic-calibrated, keep p strictly above
    *   the corpus base rate (q250 + q255) → 7 DSIR top-quartile selection (q219, model FIT
    *   ON the staged survivors) → 8 greedy per-source epoch
    *   allocation, budget 2×, cap 4 (q229's rule, scored by stage-7
    *   DSIR weights) → 9 epoch expansion + 128-token sequence chop
    *   (q74's rule over the expanded stream) → 10 consistent-hash ring
    *   sharding of the sequence ids (q261's 8×16 ring).
    *
    * Output: one ledger row per stage — (stage_idx, stage, rows_in,
    * rows_out, tokens_out); tokens are raw whitespace-split counts of
    * the CURRENT stage text (stage 8+ report tokens SERVED, i.e. with
    * epoch repetition). The oracle replays every stage in SQL off the
    * previous stage's CTE — the same fragments the standalone gates
    * use, re-sourced — so a drift in any stage OR in how stages feed
    * each other moves a downstream ledger count.
    *
    * Scale shape: each stage is the standalone operator's plan (no new
    * shuffle classes); stage results ride eager checkpoints released
    * as soon as the next stage materializes (the GraphOps O(1)-storage
    * discipline), and the ledger numbers are 1-row aggregates off
    * those checkpoints. Driver-side state: |sources| rows (epoch
    * greedy) + the perceptron/isotonic/DSIR control-plane collects the
    * standalone operators already make.
    */
  def q269CurationDag(s: SparkSession, dir: String): DataFrame =
    curationDagLedger(s, Tables.documents(s, dir))

  /** The q269 DAG over an explicit document frame — q269's body.
    * Stages 0–3 (source, HTML main-content, NFC, quality rules) are
    * per-document maps and filters; stages 4–10 (minhash family dedup,
    * substring cut, calibrated lang-id, DSIR, epoch mix, packing,
    * sharding) are corpus-global: keeper election, calibration, DSIR
    * and the epoch mix all read the whole population. Clears the job
    * description on exit.
    */
  private[graft] def curationDagLedger(s: SparkSession,
                                       docs: DataFrame): DataFrame = {
    import graft.operators.{Classification, Dedup, Dsir, Html,
      Intervals, Isotonic, Partitioning, PrefixSum, Sharding}
    import org.apache.spark.sql.GraftColumns
    val sEnc = s
    import sEnc.implicits._
    val led =
      scala.collection.mutable.ArrayBuffer.empty[(Long, String, Long,
                                                  Long, Long)]
    val toksCol = size(split(col("text"), " ")).cast("long")
    // ONE job per stage, full stop (r16): each stage's frame rides a
    // LAZY checkpoint and this ledger aggregate IS the materializing
    // action — the stage's final pass computes, persists, and counts
    // in one job instead of an eager-checkpoint job plus a ledger
    // sweep of the fresh blocks (r15 had already fused the separate
    // count + sum jobs into one aggregate).
    def countToks(df: DataFrame): (Long, Long) = {
      val r = df.agg(count(lit(1)),
                     coalesce(sum(toksCol), lit(0L))).collect()(0)
      (r.getLong(0), r.getLong(1))
    }
    // Stage labels ride the driver-thread-local job description (AQE's
    // stage-materialization jobs capture it), so per-stage cost shows up
    // attributable in the UI / listeners instead of 167 anonymous
    // withThreadLocalCaptured stages — how the r11 shuffle-byte anomaly
    // was pinned to its fragment.
    def mark(n: String): Unit =
      s.sparkContext.setJobDescription(s"q269:$n")

    mark("0_source")
    val d0 = Partitioning.spread(docs)
      .select(col("doc_id"), col("lang"), col("source"), col("text"))
      .graftCheckpointLazy()
    val (n0, t0) = countToks(d0)
    led += ((0L, "source", n0, n0, t0))

    // 1 — the q248 page around each doc, main-content extraction,
    // lines joined to one line (words() splits on ' ' only)
    val page = concat(
      lit("<html><head><title>Doc "), col("doc_id").cast("string"),
      lit("</title><style>body{color:red}</style>" +
          "<script>var x = 1 < 2;</script></head>" +
          "<body><nav><a href=\"/\">Home &amp; more</a> | " +
          "<a href=\"/about\">About</a></nav><h1>Doc "),
      col("doc_id").cast("string"),
      lit("</h1><!-- chrome --><p>"), col("text"),
      lit("</p><div class=\"footer\">&copy; 2026 Example " +
          "&lt;Corp&gt;</div></body></html>"))
    mark("1_html")
    val d1 = d0.select(col("doc_id"), col("lang"), col("source"),
        replace(Html.mainText(page), lit("\n"), lit(" ")).as("text"))
      .graftCheckpointLazy()
    val (n1, t1) = countToks(d1)
    led += ((1L, "html_main_extract", n0, n1, t1))
    GraftColumns.unpersistCheckpoint(d0)

    // 2 — NFC
    mark("2_nfc")
    val d2 = d1.withColumn("text",
        TextFunctions.unicodeNormalize(col("text"), "NFC"))
      .graftCheckpointLazy()
    val (n2, t2) = countToks(d2)
    led += ((2L, "nfc_normalize", n1, n2, t2))
    GraftColumns.unpersistCheckpoint(d1)

    // 3 — the q61 quality-rule gate (language-ID becomes the stage-6
    // LABEL, not a hard filter — as a filter it left an all-English,
    // single-label population and the calibrated stage had nothing to
    // separate)
    mark("3_rules")
    val keep3 = ruleFlags(d2.select(col("doc_id"),
                                    col("text").as("t")))
      .filter(col("keep")).select("doc_id")
    val d3 = d2.join(keep3, Seq("doc_id"), "left_semi")
      .graftCheckpointLazy()
    val (n3, t3) = countToks(d3)
    led += ((3L, "quality_rules", n2, n3, t3))
    GraftColumns.unpersistCheckpoint(d2)

    // 4 — MinHash family dedup, component-min keeper. BEFORE the
    // substring cut: cutting corpus-duplicated spans first strips the
    // very text near-dup families share and starves doc-level dedup
    // (measured: zero J≥0.8 pairs left at sf0.01)
    mark("4_minhash")
    val pairs4 = Dedup.minhashDedupPairs(d3, "doc_id", "text",
                                         n = 3, num = 4, den = 5)
      .select(col("doc_a"), col("doc_b"))
    val (applied4, cc4) = Dedup.applyDedupReleasable(d3, "doc_id", pairs4)
    val d4 = applied4.filter(col("kept")).drop("component", "kept")
      .graftCheckpointLazy()
    val (n4, t4) = countToks(d4)
    led += ((4L, "minhash_family_dedup", n3, n4, t4))
    GraftColumns.unpersistCheckpoint(cc4)
    GraftColumns.unpersistCheckpoint(d3)

    // 5 — exact-substring dedup apply over the family survivors
    mark("5_substr")
    val spans5 = Dedup.duplicatedSubstringSpans(d4, "doc_id", "text",
                                                minLen = 25)
    val cut5 = Intervals.cutSpansText(
        d4, "doc_id", "text", spans5, "span_start", "span_len",
        broadcastSpanCap = Intervals.DefaultBroadcastSpanCap)
      .select(col("doc_id"), col("cut_text").as("text"))
    val d5 = d4.drop("text").join(cut5, Seq("doc_id"))
      .graftCheckpointLazy()
    val (n5, t5) = countToks(d5)
    led += ((5L, "substring_dedup", n4, n5, t5))
    GraftColumns.unpersistCheckpoint(spans5)
    GraftColumns.unpersistCheckpoint(d4)

    // 6 — calibrated LANGUAGE-ID filter: perceptron trained to
    // reproduce the n-gram heuristic's agreement with the metadata
    // lang (weak supervision — the label population is mixed by
    // construction), margins isotonic-calibrated, keep p_e6 >= 5e5.
    // The synthetic 'en'/'xx' lang column feeds the SHARED q250
    // feature frame so the label rule lives in exactly one place.
    mark("6_langid")
    val w6 = TextFunctions.words(col("text"))
    val scores6 = TextFunctions.LangStopwords
      .map { case (l, _) => l -> TextFunctions.langScore(w6, l)
        .cast("long") }.toMap
    val labeled6 = d5.select(
      col("doc_id"),
      when(TextFunctions.langPredict(scores6) === col("lang"),
           lit("en")).otherwise(lit("xx")).as("lang"),
      col("text"))
    // features checkpointed ONCE (r16): the stage makes ~7 passes over
    // them (3 training epochs, the scoring scan, isotonic's sampling +
    // ranged passes, d6's materialization), and each pass previously
    // re-ran the words/regex/langScore text kernels over d5 — the
    // feature frame itself is 8 long columns, block-read cheap
    val feats6 = perceptronFeaturesFrom(labeled6).graftCheckpoint()
    val margins6 = Classification.perceptronScored(
        feats6, "y", PerceptronX,
        epochs = PerceptronEpochs)
      .select(col("doc_id"), col("margin"),
              expr("(y + 1) div 2").as("y01"))
    // keep docs calibrated STRICTLY ABOVE the corpus base rate — a
    // fixed absolute cut is degenerate whenever the base rate sits far
    // from it (measured: ≥0.5 kept 5 of 438 at a 44% base rate); above
    // base is "the model says better-than-prior", selective at any mix
    val base6 = margins6
      .agg(expr("(1000000 * sum(y01)) div count(1)"))
      .collect()(0).getLong(0)
    val keep6 = Isotonic.calibrated(margins6, "margin", "doc_id", "y01")
      .filter(col("p_e6") > lit(base6)).select("doc_id")
    val d6 = d5.join(keep6, Seq("doc_id"), "left_semi")
      .graftCheckpointLazy()
    val (n6, t6) = countToks(d6)
    led += ((6L, "calibrated_langid_filter", n5, n6, t6))
    GraftColumns.unpersistCheckpoint(feats6)
    GraftColumns.unpersistCheckpoint(d5)

    // 7 — DSIR top-quartile selection, model fit on the survivors
    mark("7_dsir")
    // weights checkpointed before the prefix sum (r16): runningTotal's
    // range partitioner SAMPLES its input (one full compute) before the
    // exchange (a second) — without the checkpoint each pass re-ran the
    // whole DSIR feature/model pipeline; with it both are block reads
    // of (id, n_tokens, weight_e6) rows
    val wt7 = Dsir.weights(d6, "doc_id", "text",
                           col("lang") === "en", buckets = 64)
      .withColumn("__one", lit(1L))
      .graftCheckpoint()
    val ranked7 = PrefixSum.runningTotal(
      wt7, "__one", Seq("weight_e6", "doc_id"), cumCol = "rank")
    // runningTotal is eager — ranked7 is materialized and is wt7's only
    // consumer (the count and sel7 read ranked7), so release now
    GraftColumns.unpersistCheckpoint(wt7)
    val sel7 = ranked7
      // the count rides the ALREADY-MATERIALIZED rank checkpoint
      // (runningTotal preserves rows, so count(ranked7) == count(wt7)
      // by construction) — counting wt7 itself re-ran the whole DSIR
      // feature/model pipeline a second time (r16)
      .crossJoin(broadcast(ranked7.agg(count(lit(1)).as("n"))))
      .filter(expr("((rank - 1) * 4) div n") === 3L)
      .select(col("doc_id"), col("weight_e6"))
    val d7 = d6.join(sel7, Seq("doc_id")).graftCheckpointLazy()
    val (n7, t7) = countToks(d7)
    led += ((7L, "dsir_select", n6, n7, t7))
    GraftColumns.unpersistCheckpoint(ranked7)
    GraftColumns.unpersistCheckpoint(d6)

    // 8 — greedy per-source epoch allocation (q229's rule), scored by
    // the stage-7 DSIR weights; |sources| rows of driver control plane
    mark("8_epoch")
    val srcRows = d7.groupBy(col("source"))
      .agg(sum(toksCol).as("tokens"),
           expr("sum(weight_e6) div count(1)").as("mean_w"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .sortBy { case (src, _, m) => (-m, src) }
    var rem = 2L * srcRows.map(_._2).sum
    val epochRows = srcRows.map { case (src, t, _) =>
      val e = if (t == 0L) 0L else math.min(4L, rem / t)
      rem -= e * t
      (src, e)
    }.filter(_._2 >= 1L)
    val d8 = d7.join(broadcast(epochRows.toSeq.toDF("source", "epochs")),
                     Seq("source"))
      .graftCheckpointLazy()
    // one agg job for the (rows, served-tokens) pair — the countToks
    // discipline (it materializes d8's lazy checkpoint) with the
    // stage's own weighted token measure
    val r8 = d8.agg(count(lit(1)),
                    coalesce(sum(toksCol * col("epochs")), lit(0L)))
      .collect()(0)
    val n8 = r8.getLong(0)
    val served = r8.getLong(1)
    led += ((8L, "epoch_mix", n7, n8, served))
    GraftColumns.unpersistCheckpoint(d7)

    // 9 — epoch expansion + 128-token chop over the (epoch, doc_id)
    // stream (q74's rule); sequences touched = the packed artifact
    mark("9_pack")
    val ex9 = d8.select(col("doc_id"), toksCol.as("toks"),
                        explode(expr("sequence(1, epochs)")).as("ep"))
    val nEx = ex9.count()
    val packed9 = PrefixSum.runningTotal(ex9, "toks", Seq("ep", "doc_id"),
                                         cumCol = "cum")
    val seqs9 = packed9
      .select(explode(expr(
        "sequence((cum - toks) div 128, (cum - 1) div 128)"))
        .as("seq_id"))
      .distinct().graftCheckpointLazy()
    val nSeqs = seqs9.count()
    led += ((9L, "pack_128", nEx, nSeqs, served))
    GraftColumns.unpersistCheckpoint(packed9)
    GraftColumns.unpersistCheckpoint(d8)

    // 10 — ring-shard the sequence ids (8 shards × 16 vnodes)
    mark("10_shard")
    val nShards = Sharding.ringAssign(seqs9, "seq_id", 8, 16)
      .select("shard").distinct().count()
    led += ((10L, "ring_shard", nSeqs, nShards, served))
    GraftColumns.unpersistCheckpoint(seqs9)

    // Clear the thread-local label (ADVICE r12): the bench runs every
    // query on this driver thread, so a leaked description would tag
    // every SUBSEQUENT query's jobs "q269:10_shard" — corrupting the
    // exact attribution signal mark() exists to provide.
    s.sparkContext.setJobDescription(null)

    led.toSeq
      .toDF("stage_idx", "stage", "rows_in", "rows_out", "tokens_out")
      .orderBy("stage_idx")
  }

  /** q227 — SCORE–LENGTH BIAS AUDIT, the documented failure mode of
    * perplexity-style quality filters (CCNet's filter is known to
    * correlate with document length, so a length-blind threshold
    * silently reshapes the length distribution): the exact OLS
    * regression of the q133 score on the doc's bigram count, as
    * integer closed forms — slope = (n·Σxy − Σx·Σy)/(n·Σx² − (Σx)²)
    * and intercept = (Σy·Σx² − Σx·Σxy)/(same denominator), each
    * floor-scaled e6 with the q194 SIGNED-numerator discipline
    * (divide the absolute value, multiply the sign back — truncating
    * vs flooring engines disagree on negative quotients). All five
    * sums ride decimal(38,0): n·Σxy·10⁶ stays under 10³⁸ out to
    * ~10¹¹ docs (the 100 TB regime), where int64 wraps silently.
    *
    * A slope_e6 far from 0 tells the curation layer the q187 band
    * thresholds are partly length thresholds; the fix (banding
    * per length stratum) composes from q187 + q193's banding.
    *
    * Scale: the corpus-sized work is the q133 scoring chain; the
    * audit itself is ONE map-combined aggregate to a single row.
    */
  def q227ScoreLengthBias(s: SparkSession, dir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    LanguageModel.scoreDocuments(
        Tables.documents(s, dir), "doc_id", "text")
      .select(col("n_bigrams").cast(d38).as("x"),
              col("score_e6").cast(d38).as("y"))
      .agg(count(lit(1)).cast(d38).as("n"),
           sum(col("x")).as("sx"), sum(col("y")).as("sy"),
           sum(col("x") * col("y")).as("sxy"),
           sum(col("x") * col("x")).as("sxx"))
      .select(
        expr("CAST(n AS BIGINT)").as("n_docs"),
        expr("CAST(sx div n AS BIGINT)").as("mean_x"),
        expr("CAST(sy div n AS BIGINT)").as("mean_score_e6"),
        expr("""CAST(CASE WHEN n * sxx - sx * sx = 0 THEN 0 ELSE
               |(CASE WHEN n * sxy - sx * sy < 0 THEN -1 ELSE 1 END) *
               |((abs(n * sxy - sx * sy) * 1000000)
               |  div (n * sxx - sx * sx)) END AS BIGINT)"""
            .stripMargin.replace("\n", " ")).as("slope_e6"),
        expr("""CAST(CASE WHEN n * sxx - sx * sx = 0 THEN 0 ELSE
               |(CASE WHEN sy * sxx - sx * sxy < 0 THEN -1 ELSE 1 END) *
               |((abs(sy * sxx - sx * sxy) * 1000000)
               |  div (n * sxx - sx * sx)) END AS BIGINT)"""
            .stripMargin.replace("\n", " ")).as("icept_e6"))
  }

  /** q228 — TEMPERATURE-SMOOTHED LANGUAGE SHARES
    * ([[graft.operators.Sampling.smoothedQuotas]]): the multilingual
    * upsampling allocation (weights ∝ √n, α = 1/2 — the mT5/XLM-R
    * smoothing recipe at its exact-integer point), apportioned to
    * EXACTLY Σ = 10⁶ by the largest-remainder method. The flattening
    * complement to q172's sharpened quotas and q220's trained-signal
    * reweighting: low-resource languages take a larger share than
    * their raw proportion so the next epoch doesn't starve them. The
    * weight is isqrt(n·10⁶) — double sqrt + two-step int64 fixup,
    * bit-reproducible in both engines (see
    * [[graft.operators.Sampling.isqrtExpr]]); the oracle replays the
    * same three steps.
    */
  def q228SmoothedShares(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.smoothedQuotas(
        Tables.documents(s, dir), "lang", budget = 1000000L)
      .select(col("source").as("lang"), col("n").as("n_docs"),
              col("w").as("w_sqrt"),
              col("quota").cast("long").as("share_e6"))
      .orderBy("lang")

  /** q229 epoch-allocation constants — part of the query semantics,
    * shared verbatim with the oracle SQL. Budget = `EpochBudgetMult` ×
    * the corpus's scored-token total; no source repeats more than
    * `EpochMaxRepeats` epochs (the published data-constrained-scaling
    * guidance that value decays past ~4 repeats).
    */
  private val EpochBudgetMult = 2L
  private val EpochMaxRepeats = 4L

  /** q229 — DATA-CONSTRAINED EPOCH ALLOCATION: when the token budget
    * exceeds the unique corpus (the data-constrained regime), decide
    * which sources to REPEAT and how often — repeats are allocated
    * greedily by source quality (the q133 mean score), each source
    * capped at [[EpochMaxRepeats]] epochs, until the budget is spent:
    * each source takes epochs_s = min(R, ⌊remaining/t_s⌋) in the
    * (mean_score desc, source) order and the REMAINING budget carries
    * down — including the flooring leftovers of truncated sources, so
    * lower-priority sources absorb what the marginal source could not
    * (a capacity-prefix formula `(B − Σ_better R·t) div t` strands
    * exactly those leftovers and under-spends the budget). The spill
    * is a genuinely sequential recurrence (remᵢ₊₁ = remᵢ −
    * tᵢ·min(R, ⌊remᵢ/tᵢ⌋) — not a prefix sum), and the frame it runs
    * over is |sources| rows, so it folds ON THE DRIVER after the
    * per-source aggregate collects — the same control-plane-collect
    * discipline as [[graft.operators.PrefixSum.runningTotal]]'s
    * per-partition offsets; the corpus never leaves the cluster.
    * Integer end to end: token counts are exact whitespace-token sums
    * over the SCORED docs (inner join with the q133 chain —
    * unscorable < 2-token docs carry no quality evidence and no
    * budget), the mean is the exact floored ratio. Oracle = a
    * recursive CTE threading the identical remainder.
    */
  def q229EpochAllocation(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val scored = LanguageModel.scoreDocuments(docs, "doc_id", "text")
      .select(col("doc_id"), col("score_e6"))
    val per = docs
      .select(col("doc_id"), col("source"),
              size(split(col("text"), " ")).cast("long").as("tk"))
      .join(scored, Seq("doc_id"))
      .groupBy(col("source"))
      .agg(sum(col("tk")).as("tokens"),
           expr("sum(score_e6) div count(1)").as("mean_score_e6"))
    // |sources| rows — the control-plane collect; order = priority
    val rows = per.collect().map { r =>
      (r.getAs[String]("source"), r.getAs[Long]("tokens"),
       r.getAs[Long]("mean_score_e6"))
    }.sortBy { case (src, _, m) => (-m, src) }
    val budget = rows.map(_._2).sum * EpochBudgetMult
    var rem = budget
    val alloc = rows.map { case (src, t, m) =>
      val e = if (t == 0L) 0L
              else math.min(EpochMaxRepeats, rem / t)
      rem -= e * t
      (src, t, m, e, e * t)
    }
    s.createDataFrame(s.sparkContext.parallelize(alloc.toIndexedSeq, 1))
      .toDF("source", "tokens", "mean_score_e6", "epochs",
            "tokens_served")
      .orderBy("source")
  }

  /** q232 — EXACT two-sample KOLMOGOROV–SMIRNOV test: does the q133
    * score distribution differ between `lang = 'en'` and the rest?
    * The distributional complement to q207's AUC (a rank statistic)
    * and q208's calibration deciles: D = max_v |F₁(v) − F₂(v)| over
    * the pooled distinct scores, computed EXACTLY as integers —
    * M = max |cum₁·n₂ − cum₂·n₁|, d_e6 = ⌊10⁶·M/(n₁·n₂)⌋ — plus the
    * α = 0.05 large-sample verdict as a pure integer comparison:
    * reject ⟺ 10⁶·M² > 1358²·(n₁+n₂)·n₁·n₂ (c(0.05) = 1.358 is the
    * published constant and 1358² = 1844164 is exact, so the verdict
    * carries no float anywhere).
    *
    * Scale: BOTH cumulative counts ride ONE
    * [[graft.operators.PrefixSum.runningTotal]] range exchange — the
    * combined value c₁·10⁹ + c₂ decomposes exactly because each
    * group total stays below 10⁹ — never a single-partition window
    * over the pooled score axis (the q207 discipline); everything
    * after the per-score agg is |distinct scores| rows and the
    * verdict arithmetic is decimal(38,0) (M² ≤ (n₁n₂)² needs the
    * headroom long lacks past ~10⁹·10⁹).
    *
    * Measured: d_e6 = 17327, reject_05 = 0 at sf0.1 (68612 / 0 at
    * sf0.01) — consistent with q207's AUC ≈ 0.4995 on the same
    * labels: the synthetic langs carry no textual signal, and two
    * independent statistics agreeing there is nothing to find is the
    * audit pair working.
    */
  def q232KsTest(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.broadcast
    val d38 = "decimal(38,0)"
    val K = 1000000000L
    val docs = Tables.documents(s, dir)
    val scored = LanguageModel.scoreDocuments(docs, "doc_id", "text")
      .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
    val g = scored.groupBy(col("score_e6"))
      .agg(sum(when(col("lang") === "en", 1L).otherwise(0L)).as("c1"),
           sum(when(col("lang") =!= "en", 1L).otherwise(0L)).as("c2"))
    // Packing both cumulative counts as c1·K + c2 into one long caps
    // either group total at K−1 (and the packed sum itself at ~9.2e18);
    // past that the decomposition silently corrupts D. Enforce the
    // bound LOUDLY (the smoothedQuotas / pathCounts fail-fast
    // convention) on a 1-row totals agg broadcast into the same pass —
    // a 100 TB run hits this guard, not a wrong verdict.
    val tots = g.agg(sum(col("c1")).as("__t1"), sum(col("c2")).as("__t2"))
    val guarded = g.crossJoin(broadcast(tots))
      .withColumn("__comb",
        expr(s"CASE WHEN __t1 >= $K OR __t2 >= $K THEN " +
          "raise_error('q232: a group total reached 1e9 — the packed " +
          "KS accumulator would overflow; run two prefix-sum passes') " +
          s"ELSE c1 * $K + c2 END"))
      .drop("__t1", "__t2")
    val cum = graft.operators.PrefixSum.runningTotal(
        guarded, "__comb", Seq("score_e6"), cumCol = "cum")
      .select(col("score_e6"),
              expr(s"cum div $K").as("cum1"),
              expr(s"cum % $K").as("cum2"))
    val tot = cum.agg(max(col("cum1")).as("n1"),
                      max(col("cum2")).as("n2"))
    val diff = cum.crossJoin(broadcast(tot))
      .select(col("score_e6"), col("n1"), col("n2"),
              expr(s"abs(CAST(cum1 AS $d38) * n2 -" +
                   s" CAST(cum2 AS $d38) * n1)").as("m"))
    val best = diff.agg(max(col("m")).as("m_max"))
    val at = diff.crossJoin(broadcast(best))
      .filter(col("m") === col("m_max"))
      .agg(min(col("score_e6")).as("at_score_e6"))
    tot.crossJoin(broadcast(best)).crossJoin(broadcast(at))
      .select(col("n1"), col("n2"), col("at_score_e6"),
              expr(s"CAST(CASE WHEN n1 * n2 = 0 THEN 0 ELSE" +
                   s" (CAST(1000000 AS $d38) * m_max)" +
                   s" div (CAST(n1 AS $d38) * n2) END AS BIGINT)")
                .as("d_e6"),
              expr(s"CAST(CASE WHEN CAST(1000000 AS $d38) * m_max * m_max" +
                   s" > CAST(1844164 AS $d38) * (n1 + n2) * n1 * n2" +
                   " THEN 1 ELSE 0 END AS BIGINT)").as("reject_05"))
  }

  /** q237 — DELETE-A-GROUP JACKKNIFE standard error of the corpus
    * mean quality score: every corpus metric this suite reports is a
    * point estimate, and the jackknife is the survey-statistics
    * standard for pricing its sampling uncertainty without
    * distributional assumptions — split docs into G = 32 portable
    * hash groups, recompute the mean leaving each group out, and the
    * spread of those leave-one-out means estimates the variance of
    * the mean: var = (G−1)/G · Σ(m_g − m̄)², computed on the
    * EXACT e6-floored leave-one-out means (the quantization is
    * ±1e-6 in score units — far below any SE this detects — and it
    * is what makes the statistic bit-reproducible across engines).
    * se_e6 = isqrt(var_e12) rides
    * [[graft.operators.Sampling.isqrtExpr]] — the engine-portable
    * exact integer sqrt, so even the square root carries no float.
    *
    * Scale: the corpus-sized work is the q133 chain + ONE
    * map-combined (group × (count, sum)) agg; everything after is
    * G rows of control plane. The variance identity
    * G·Σm² − (Σm)² ≥ 0 (Cauchy–Schwarz) keeps the numerator
    * nonnegative, so no sign discipline is needed.
    */
  def q237JackknifeSe(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.broadcast
    val d38 = "decimal(38,0)"
    val G = 32L
    val scored = LanguageModel.scoreDocuments(
        Tables.documents(s, dir), "doc_id", "text")
      .select(pmod(graft.functions.PortableHash.h32(
                col("doc_id").cast("string")), lit(G)).as("g"),
              col("score_e6"))
    val per = scored.groupBy(col("g"))
      .agg(count(lit(1)).as("ng"), sum(col("score_e6")).as("sg"))
    val tot = per.agg(sum(col("ng")).as("n"), sum(col("sg")).as("stot"))
    val loo = per.crossJoin(broadcast(tot))
      .select(expr("CASE WHEN n - ng = 0 THEN 0 ELSE" +
                   " (stot - sg) div (n - ng) END").as("m"))
    val agg = loo.agg(
      count(lit(1)).as("gg"),
      sum(col("m").cast(d38)).as("sm"),
      sum(col("m").cast(d38) * col("m").cast(d38)).as("sm2"))
    agg.crossJoin(broadcast(tot))
      .withColumn("var_e12",
        expr(s"((gg - 1) * (gg * sm2 - sm * sm)) div" +
             s" (CAST(gg AS $d38) * gg)"))
      .select(col("gg").as("g_groups"),
              expr("CAST(n AS BIGINT)").as("n_docs"),
              expr("CAST(stot div n AS BIGINT)").as("mean_score_e6"),
              expr("CAST(var_e12 AS BIGINT)").as("jk_var_e12"),
              graft.operators.Sampling
                .isqrtExpr(expr("CAST(var_e12 AS BIGINT)"))
                .as("jk_se_e6"))
  }

  // -------------------------------------------------------------- wiring

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q237_jackknife_se" -> (q237JackknifeSe _),
    "q238_rule_ablation" -> (q238RuleAblation _),
    "q244_rule_selftest" -> (q244RuleSelftest _),
    "q247_nfc_normalize" -> (q247NfcNormalize _),
    "q248_html_strip"    -> (q248HtmlStrip _),
    "q249_perceptron_train" -> (q249PerceptronTrain _),
    "q250_perceptron_score" -> (q250PerceptronScore _),
    "q254_isotonic_blocks" -> (q254IsotonicBlocks _),
    "q255_isotonic_scores" -> (q255IsotonicScores _),
    "q256_dict_matches" -> (q256DictMatches _),
    "q257_dict_redact" -> (q257DictRedact _),
    "q260_stupid_backoff" -> (q260StupidBackoff _),
    "q232_ks_test" -> (q232KsTest _),
    "q229_epoch_allocation" -> (q229EpochAllocation _),
    "q227_score_length_bias" -> (q227ScoreLengthBias _),
    "q228_smoothed_shares" -> (q228SmoothedShares _),
    "q59_pii_redact"    -> (q59PiiRedact _),
    "q60_repetition"    -> (q60Repetition _),
    "q61_quality_rules" -> (q61QualityRules _),
    "q62_token_budget"  -> (q62TokenBudget _),
    "q63_contamination" -> (q63Contamination _),
    "q67_global_shards" -> (q67GlobalShards _),
    "q74_seq_pack_chop"    -> (q74SeqPackChop _),
    "q75_seq_pack_nextfit" -> (q75SeqPackNextfit _),
    "q76_url_dedup"        -> (q76UrlDedup _),
    "q78_epoch_mix"        -> (q78EpochMix _),
    "q79_chunk_overlap"    -> (q79ChunkOverlap _),
    "q80_interleave"       -> (q80Interleave _),
    "q81_pipeline_e2e"     -> (q81PipelineE2e _),
    "q82_line_dedup"       -> (q82LineDedup _),
    "q83_weighted_sample"  -> (q83WeightedSample _),
    "q84_quantile_trim"    -> (q84QuantileTrim _),
    "q85_bpe_merges"       -> (q85BpeMerges _),
    "q86_rebalance"        -> (q86Rebalance _),
    "q89_mask_tokens"      -> (q89MaskTokens _),
    "q92_normalize"        -> (q92Normalize _),
    "q94_incremental_agg"  -> (q94IncrementalAgg _),
    "q95_outliers"         -> (q95Outliers _),
    "q96_data_diff"        -> (q96DataDiff _),
    "q97_zorder"           -> (q97Zorder _),
    "q203_hilbert"         -> (q203Hilbert _),
    "q270_zorder3d"        -> (q270Zorder3d _),
    "q271_hilbert3d"       -> (q271Hilbert3d _),
    "q98_bpe_encode"       -> (q98BpeEncode _),
    "q99_cooccur_pairs"    -> (q99CooccurPairs _),
    "q100_cdc_chunks"      -> (q100CdcChunks _),
    "q104_dup_triangles"   -> (q104DupTriangles _),
    "q133_bigram_lm"       -> (q133BigramLm _),
    "q187_ppl_band"        -> (q187PplBand _),
    "q207_auc_en_score"    -> (q207AucEnScore _),
    "q208_score_reliability" -> (q208ScoreReliability _),
    "q212_modularity"      -> (q212Modularity _),
    "q216_decay_weights"   -> (q216DecayWeights _),
    "q219_dsir_select"     -> (q219DsirSelect _),
    "q220_domain_reweight" -> (q220DomainReweight _),
    "q221_tokenizer_fertility" -> (q221TokenizerFertility _),
    "q266_unigram_train" -> (q266UnigramTrain _),
    "q267_unigram_encode" -> (q267UnigramEncode _),
    "q268_tokenizer_compare" -> (q268TokenizerCompare _),
    "q269_curation_dag" -> (q269CurationDag _),
    "q241_bpe_store_roundtrip" -> (q241BpeStoreRoundtrip _),
    "q242_unigram_store_roundtrip" -> (q242UnigramStoreRoundtrip _),
    "q139_pair_lift"       -> (q139PairLift _),
    "q166_frequent_triples" -> (q166FrequentTriples _),
    "q143_clustering_coeff" -> (q143ClusteringCoeff _),
    "q152_label_prop"      -> (q152LabelProp _),
    "q154_quality_gate"    -> (q154QualityGate _)
  )

  /** DuckDB mirror of [[graft.operators.ZOrder.spread32]]: the same five
    * shift/mask rounds, masks as decimal literals (generated from one
    * list so Spark and oracle cannot drift).
    */
  private def spreadSql(x: String): String =
    graft.operators.ZOrder.spreadSteps
      .foldLeft(s"($x & 4294967295)") { case (s, (sh, m)) =>
        s"((($s) | (($s) << $sh)) & $m)"
      }

  /** The q133 scoring chain (model + per-doc scores) as a shared CTE
    * block ending at `sc(doc_id, n_bigrams, score_e6)` — q207/q208
    * build on it so the score definition cannot drift from q133's.
    */
  private val lmScoreCte: String =
    """t AS (
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
      |       FROM bg JOIN m USING (w1, w2) GROUP BY doc_id)""".stripMargin

  /** Shared q238/q244 oracle suffix: per-rule failure / sole-blocker
    * aggregate over the rules CTE `r`, unpivoted to 4 rows. Ends
    * mid-SELECT (callers append extra output columns, then the final
    * `FROM u, agg ORDER BY rule`).
    */
  private val ablationSqlTail: String =
    """agg AS (SELECT COUNT(*) AS n_docs,
      |  SUM(CASE WHEN r_words AND r_wlen AND r_sym AND r_stop
      |           THEN 1 ELSE 0 END) AS n_keep,
      |  SUM(CASE WHEN NOT r_words THEN 1 ELSE 0 END) AS f_words,
      |  SUM(CASE WHEN NOT r_words AND r_wlen AND r_sym AND r_stop
      |           THEN 1 ELSE 0 END) AS s_words,
      |  SUM(CASE WHEN NOT r_wlen THEN 1 ELSE 0 END) AS f_wlen,
      |  SUM(CASE WHEN NOT r_wlen AND r_words AND r_sym AND r_stop
      |           THEN 1 ELSE 0 END) AS s_wlen,
      |  SUM(CASE WHEN NOT r_sym THEN 1 ELSE 0 END) AS f_sym,
      |  SUM(CASE WHEN NOT r_sym AND r_words AND r_wlen AND r_stop
      |           THEN 1 ELSE 0 END) AS s_sym,
      |  SUM(CASE WHEN NOT r_stop THEN 1 ELSE 0 END) AS f_stop,
      |  SUM(CASE WHEN NOT r_stop AND r_words AND r_wlen AND r_sym
      |           THEN 1 ELSE 0 END) AS s_stop
      |  FROM r),
      |u AS (
      |  SELECT 'r_words' AS rule, f_words AS n_fail,
      |    s_words AS n_sole FROM agg
      |  UNION ALL SELECT 'r_wlen', f_wlen, s_wlen FROM agg
      |  UNION ALL SELECT 'r_sym', f_sym, s_sym FROM agg
      |  UNION ALL SELECT 'r_stop', f_stop, s_stop FROM agg)
      |SELECT rule, CAST(n_fail AS BIGINT) AS n_fail,
      |  CAST(n_sole AS BIGINT) AS n_sole_blocker,
      |  CAST(n_docs AS BIGINT) AS n_docs,
      |  CAST(n_keep AS BIGINT) AS n_keep,
      |  CAST(CASE WHEN n_docs = 0 THEN 0 ELSE
      |    (1000000 * n_sole) // n_docs END AS BIGINT) AS saved_e6""".stripMargin

  /** q248 oracle: built from shared fragments — `htmlVisSql(x)` is the
    * per-line visible-text lambda body (inline tag removal → entity
    * decode → whitespace collapse → trim) used three times in the
    * main-text CTE, defined once so the copies cannot drift.
    */
  /** Visible-text rendering of one HTML fragment (tag strip, entity
    * decode, whitespace collapse) — the SQL twin of
    * [[graft.operators.Html]]'s per-line pass, shared by q248 and the
    * q269 DAG oracle so the two cannot drift.
    */
  private def htmlVisSql(x: String): String =
    s"""trim(regexp_replace(
       |  replace(replace(replace(replace(replace(replace(replace(
       |    regexp_replace($x, '<[^>]*>', ' ', 'g'),
       |    '&lt;','<'), '&gt;','>'), '&quot;','"'), '&#39;',chr(39)),
       |    '&nbsp;',' '), '&copy;',chr(169)), '&amp;','&'),
       |  '[ ' || chr(9) || chr(160) || ']+', ' ', 'g'))""".stripMargin

  private val htmlBlockPat: String =
    "(?i)</?(p|div|br|h[1-6]|li|ul|ol|tr|table|nav|header" +
      "|footer|section|article|blockquote|pre|td|th)[^>]*>"

  /** The q248 fixture page in SQL, around `textExpr`/`idExpr`. */
  private def htmlPageSql(idExpr: String, textExpr: String): String =
    s"""'<html><head><title>Doc ' || $idExpr ||
       |  '</title><style>body{color:red}</style>' ||
       |  '<script>var x = 1 < 2;</script></head>' ||
       |  '<body><nav><a href="/">Home &amp; more</a> | ' ||
       |  '<a href="/about">About</a></nav><h1>Doc ' || $idExpr ||
       |  '</h1><!-- chrome --><p>' || $textExpr ||
       |  '</p><div class="footer">&copy; 2026 Example ' ||
       |  '&lt;Corp&gt;</div></body></html>'""".stripMargin

  /** script/style/comment strip + block-tag → newline, applied to
    * column `h` of `src`, keeping `keep` columns: ends at CTE
    * `${p}4(keep..., hb)`. Shared by q248 and the q269 DAG oracle.
    */
  private def htmlChainSql(p: String, src: String, keep: String): String =
    s"""${p}1 AS (SELECT $keep, regexp_replace(h,
       |  '(?is)<script[^>]*>.*?</script>', ' ', 'g') AS h FROM $src),
       |${p}2 AS (SELECT $keep, regexp_replace(h,
       |  '(?is)<style[^>]*>.*?</style>', ' ', 'g') AS h FROM ${p}1),
       |${p}3 AS (SELECT $keep, regexp_replace(h,
       |  '(?s)<!--.*?-->', ' ', 'g') AS h FROM ${p}2),
       |${p}4 AS (SELECT $keep, regexp_replace(h,
       |  '$htmlBlockPat', chr(10), 'g') AS hb FROM ${p}3)""".stripMargin

  /** Main-content extraction over `hb` (the q248 `mt` rule): visible
    * lines whose anchor-text share is ≤ 50%. */
  private def htmlMainSql: String =
    s"""array_to_string(
       |    list_transform(
       |      list_filter(string_split(hb, chr(10)),
       |        x -> length(${htmlVisSql("x")}) > 0
       |          AND coalesce(list_sum(list_transform(
       |                regexp_extract_all(x, '(?is)<a[^>]*>([^<]*)</a>', 1),
       |                y -> length(y))), 0) * 1000000
       |              <= 500000 * length(${htmlVisSql("x")})),
       |      x -> ${htmlVisSql("x")}),
       |    chr(10))""".stripMargin

  private val q248Sql: String = {
    def vis(x: String): String = htmlVisSql(x)
    val blockPat = htmlBlockPat
    s"""WITH h0 AS (SELECT doc_id, text,
       |  '<html><head><title>Doc ' || doc_id::VARCHAR ||
       |  '</title><style>body{color:red}</style>' ||
       |  '<script>var x = 1 < 2;</script></head>' ||
       |  '<body><nav><a href="/">Home &amp; more</a> | ' ||
       |  '<a href="/about">About</a></nav><h1>Doc ' || doc_id::VARCHAR ||
       |  '</h1><!-- chrome --><p>' || text ||
       |  '</p><div class="footer">&copy; 2026 Example ' ||
       |  '&lt;Corp&gt;</div></body></html>' AS h
       |  FROM documents),
       |s1 AS (SELECT doc_id, text, regexp_replace(h,
       |  '(?is)<script[^>]*>.*?</script>', ' ', 'g') AS h FROM h0),
       |s2 AS (SELECT doc_id, text, regexp_replace(h,
       |  '(?is)<style[^>]*>.*?</style>', ' ', 'g') AS h FROM s1),
       |s3 AS (SELECT doc_id, text, regexp_replace(h,
       |  '(?s)<!--.*?-->', ' ', 'g') AS h FROM s2),
       |s4 AS (SELECT doc_id, text, regexp_replace(h,
       |  '$blockPat', chr(10), 'g') AS hb FROM s3),
       |st AS (SELECT doc_id, text, hb,
       |  array_to_string(list_filter(list_transform(
       |    string_split(hb, chr(10)), x -> ${vis("x")}),
       |    x -> x <> ''), chr(10)) AS t
       |  FROM s4),
       |mt AS (SELECT doc_id,
       |  array_to_string(
       |    list_transform(
       |      list_filter(string_split(hb, chr(10)),
       |        x -> length(${vis("x")}) > 0
       |          AND coalesce(list_sum(list_transform(
       |                regexp_extract_all(x, '(?is)<a[^>]*>([^<]*)</a>', 1),
       |                y -> length(y))), 0) * 1000000
       |              <= 500000 * length(${vis("x")})),
       |      x -> ${vis("x")}),
       |    chr(10)) AS m
       |  FROM st)
       |SELECT st.doc_id, md5(t) AS strip_md5,
       |  CAST(len(string_split(t, chr(10))) AS BIGINT) AS n_lines,
       |  CAST(CASE WHEN contains(t, text) THEN 1 ELSE 0 END AS BIGINT)
       |    AS body_kept,
       |  md5(m) AS main_md5,
       |  CAST(len(string_split(m, chr(10))) AS BIGINT) AS n_main_lines
       |FROM st JOIN mt ON st.doc_id = mt.doc_id
       |ORDER BY st.doc_id""".stripMargin
  }

  /** SQL twin of [[perceptronFeatures]] (CTE `f`): same integer
    * signals, same ±1 label, same stopword list as the q61 CTE.
    * Parameterized by source relation so q269's staged pipeline reuses
    * the exact expressions the q249/q250 gates verify.
    */
  private def perceptronFeatureSqlFrom(src: String): String =
    s"""f AS (SELECT doc_id,
      |  CAST(CASE WHEN lang = 'en' THEN 1 ELSE -1 END AS BIGINT) AS y,
      |  CAST(1 AS BIGINT) AS x0,
      |  CAST(len(string_split(text, ' ')) AS BIGINT) AS x1,
      |  (1000 * (CAST(length(text) AS BIGINT)
      |     - len(string_split(text, ' ')) + 1))
      |    // len(string_split(text, ' ')) AS x2,
      |  CAST(len(regexp_extract_all(text, '[^A-Za-z0-9 ]')) AS BIGINT)
      |    AS x3,
      |  CAST(len(list_filter(string_split(text, ' '),
      |    x -> x IN ('the','a','and','of','to','in','is','it')))
      |    AS BIGINT) AS x4
      |FROM $src)""".stripMargin

  private val perceptronFeatureSql: String =
    perceptronFeatureSqlFrom("documents")

  /** Batch-perceptron epochs as chained CTEs `e0 … eN` (weights) and
    * `g1 … gN` (per-epoch misclassified count + gradient), generated
    * per epoch so the unrolled blocks cannot drift from each other —
    * the BPE-rounds oracle discipline.
    */
  private def perceptronChainSql(epochs: Int): String = {
    val k = PerceptronX.size
    def dot(w: String) =
      (0 until k).map(i => s"$w.w$i * x$i").mkString(" + ")
    val parts = Seq.newBuilder[String]
    parts += "e0 AS (SELECT " +
      (0 until k).map(i => s"CAST(0 AS BIGINT) AS w$i").mkString(", ") + ")"
    for (e <- 1 to epochs) {
      val p = s"e${e - 1}"
      parts += s"g$e AS (SELECT " +
        s"CAST(COUNT(CASE WHEN y * (${dot(p)}) <= 0 THEN 1 END)" +
        " AS BIGINT) AS n_mis, " +
        (0 until k).map(i =>
          s"CAST(COALESCE(SUM(CASE WHEN y * (${dot(p)}) <= 0" +
            s" THEN y * x$i END), 0) AS BIGINT) AS g$i").mkString(", ") +
        s" FROM f, $p)"
      parts += s"e$e AS (SELECT " +
        (0 until k).map(i => s"$p.w$i + g$e.g$i AS w$i").mkString(", ") +
        s" FROM $p, g$e)"
    }
    parts.result().mkString(",\n")
  }

  private val PerceptronEpochs = 3

  /** [[DictPatterns]] as a DuckDB list literal. */
  private def dictPatternsSqlList: String =
    DictPatterns.map(p => s"'$p'").mkString(", ")

  /** Shared q254/q255 fit CTEs (appended after the feature + epoch
    * chain): margins under the epoch-3 weights, the (margin, doc_id)
    * rank order, inclusive prefix sums, the O(n²) running-average
    * table m(a,b) = mean(y[a..b]), per-a suffix minima, the minimax
    * fit per rank, and `fitted(doc_id, margin, y01, i, fit)`.
    */
  private def isotonicFitSql: String = {
    val dot = PerceptronX.indices
      .map(i => s"e$PerceptronEpochs.w$i * x$i").mkString(" + ")
    s"""sc AS (SELECT f.doc_id, CAST($dot AS BIGINT) AS margin,
       |    (f.y + 1) // 2 AS y01
       |  FROM f, e$PerceptronEpochs),
       |rk AS (SELECT doc_id, margin, y01,
       |    row_number() OVER (ORDER BY margin, doc_id) AS i,
       |    SUM(y01) OVER (ORDER BY margin, doc_id
       |      ROWS UNBOUNDED PRECEDING) AS s
       |  FROM sc),
       |pr AS (SELECT a.i AS a, b.i AS b,
       |    CAST(b.s - a.s + a.y01 AS DOUBLE) / (b.i - a.i + 1) AS m
       |  FROM rk a JOIN rk b ON b.i >= a.i),
       |ms AS (SELECT a, b,
       |    MIN(m) OVER (PARTITION BY a ORDER BY b DESC
       |      ROWS UNBOUNDED PRECEDING) AS suf
       |  FROM pr),
       |ft AS (SELECT b AS i, MAX(suf) AS fit FROM ms GROUP BY b),
       |fitted AS (SELECT rk.doc_id, rk.margin, rk.y01, rk.i, ft.fit
       |  FROM rk JOIN ft USING (i))""".stripMargin
  }

  /** Shared unigram-trainer oracle CTEs (q266/q267/q268): word vocab,
    * seed substring counts, top-V admission, bit-length costs, and the
    * PACKED-INT64 Viterbi DP as a recursive CTE — (cost·2³² + n·2¹⁶ +
    * last-piece-start) minimized per position, the exact integer the
    * Spark fold minimizes, so the two engines' segmentations can only
    * agree bit-for-bit or break the gate. The chain runs the DP twice
    * (seed costs for the E-step recount, refit costs for the final
    * segmentation), ending at `k1` (final piece table) and `sg1`
    * (final per-word segmentations). Requires WITH RECURSIVE.
    */
  private val unigramCtes: String = {
    def dpCte(n: Int, costCte: String): String =
      s"""cd$n AS (SELECT s.word,
         |    list(struct_pack(i := s.i - 1, j := s.i + s.p - 1,
         |                     c := k.cost)) AS es
         |  FROM sub s JOIN $costCte k USING (piece) GROUP BY s.word),
         |dp$n AS (
         |  SELECT w.word, w.freq, w.len, c.es, 0 AS j,
         |         [CAST(0 AS BIGINT)] AS bc, [CAST(0 AS BIGINT)] AS bn,
         |         [''] AS bs
         |  FROM wfu w JOIN cd$n c USING (word)
         |  UNION ALL
         |  SELECT word, freq, len, es, j + 1,
         |    list_append(bc, best // 4294967296),
         |    list_append(bn, (best // 65536) % 65536),
         |    list_append(bs, CASE WHEN best % 65536 = 0
         |      THEN substr(word, 1, j + 1)
         |      ELSE bs[CAST(best % 65536 AS INT) + 1] || '|' ||
         |        substr(word, CAST(best % 65536 AS INT) + 1,
         |               j + 1 - CAST(best % 65536 AS INT)) END)
         |  FROM (SELECT *, list_aggregate(list_transform(
         |          list_filter(es, e -> e.j = j + 1),
         |          e -> (bc[CAST(e.i AS INT) + 1] + e.c) * 4294967296 +
         |               (bn[CAST(e.i AS INT) + 1] + 1) * 65536 + e.i),
         |        'min') AS best
         |        FROM dp$n WHERE j < len) t),
         |sg$n AS (SELECT word, freq, bn[CAST(len AS INT) + 1] AS n_tok,
         |               bs[CAST(len AS INT) + 1] AS seg
         |        FROM dp$n WHERE j = len)""".stripMargin
    s"""wfu AS (
       |  SELECT word, CAST(COUNT(*) AS BIGINT) AS freq,
       |         length(word) AS len
       |  FROM (SELECT unnest(string_split(text, ' ')) AS word
       |        FROM documents)
       |  WHERE length(word) > 0 AND NOT contains(word, '|')
       |  GROUP BY 1),
       |sub AS (SELECT word, freq, i, p,
       |    substr(word, CAST(i AS INT), CAST(p AS INT)) AS piece
       |  FROM wfu,
       |  LATERAL (SELECT unnest(generate_series(1, length(word))) AS i) a,
       |  LATERAL (SELECT unnest(generate_series(1, 4)) AS p) b
       |  WHERE i + p - 1 <= length(word)),
       |c0 AS (SELECT piece, CAST(SUM(freq) AS BIGINT) AS c0
       |  FROM sub GROUP BY 1),
       |v0 AS (
       |  SELECT piece, c0 AS cnt FROM c0 WHERE length(piece) = 1
       |  UNION ALL
       |  SELECT piece, c0 AS cnt FROM (
       |    SELECT piece, c0, row_number()
       |        OVER (ORDER BY c0 DESC, piece) AS rk
       |    FROM c0 WHERE length(piece) > 1 AND c0 >= 4)
       |  WHERE rk <= 1024),
       |t0 AS (SELECT SUM(cnt) AS tot FROM v0),
       |k0 AS (SELECT piece, cnt,
       |    CAST(length(bin(tot)) - length(bin(cnt)) + 1 AS BIGINT)
       |      AS cost
       |  FROM v0, t0),
       |${dpCte(0, "k0")},
       |u1 AS (SELECT piece, CAST(SUM(freq) AS BIGINT) AS c1
       |  FROM (SELECT freq, unnest(string_split(seg, '|')) AS piece
       |        FROM sg0)
       |  GROUP BY 1),
       |v1 AS (SELECT v0.piece,
       |    CASE WHEN length(v0.piece) = 1 THEN COALESCE(u1.c1, 0) + 1
       |         ELSE u1.c1 END AS cnt
       |  FROM v0 LEFT JOIN u1 USING (piece)
       |  WHERE length(v0.piece) = 1 OR u1.c1 >= 1),
       |t1 AS (SELECT SUM(cnt) AS tot FROM v1),
       |k1 AS (SELECT piece, cnt,
       |    CAST(length(bin(tot)) - length(bin(cnt)) + 1 AS BIGINT)
       |      AS cost
       |  FROM v1, t1),
       |${dpCte(1, "k1")}""".stripMargin
  }

  /** q267's full oracle (shared verbatim by q242 — the persistence
    * round-trip must hash identically to encode-through-trained).
    */
  private lazy val unigramEncodeOracleSql: String =
    s"""WITH RECURSIVE $unigramEncodeCtes
       |SELECT d.doc_id, COALESCE(en.n_tokens, 0) AS n_tokens,
       |  md5(COALESCE(en.e, '')) AS encoded_md5
       |FROM documents d LEFT JOIN en ON en.doc_id = d.doc_id
       |ORDER BY d.doc_id""".stripMargin

  /** Per-doc unigram encode off `sg1`: word order restored from the
    * FILTERED word list's positions (the same order Spark's filtered
    * posexplode yields).
    */
  private val unigramEncodeCtes: String =
    s"""$unigramCtes,
       |dwo AS (SELECT doc_id, i, w[CAST(i AS INT) + 1] AS word
       |  FROM (SELECT doc_id, list_filter(string_split(text, ' '),
       |       x -> length(x) > 0 AND NOT contains(x, '|')) AS w
       |       FROM documents),
       |  LATERAL (SELECT unnest(range(len(w))) AS i) g),
       |en AS (SELECT doc_id, CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
       |              string_agg(seg, ' ' ORDER BY i) AS e
       |       FROM dwo JOIN sg1 USING (word) GROUP BY doc_id)"""
      .stripMargin

  /** q269 oracle: every DAG stage replayed in SQL OFF THE PREVIOUS
    * STAGE'S CTE — the same fragments the standalone gates run
    * (q248 html chain, q247 nfc, q26 langid CASE, q61 rules, q252
    * substring cut, q22 jaccard + q37 reach-CC, q249/q250 perceptron
    * chain, q254/q255 minimax isotonic, q219 DSIR, q229 greedy
    * allocation, q74 chop, q261 ring), re-sourced stage to stage.
    */
  private val q269Sql: String = {
    def cnt(cte: String) = s"(SELECT CAST(COUNT(*) AS BIGINT) FROM $cte)"
    def tok(cte: String) =
      s"""(SELECT CAST(COALESCE(SUM(len(string_split(t, ' '))), 0)
         | AS BIGINT) FROM $cte)""".stripMargin.replace("\n", "")
    val served =
      """(SELECT CAST(COALESCE(SUM(len(string_split(t, ' ')) * epochs),
        | 0) AS BIGINT) FROM d8)""".stripMargin.replace("\n", "")
    // DuckDB inlines a CTE once PER REFERENCE; the ledger's subquery
    // counts reference every stage several times, so without
    // materialization the whole pipeline re-evaluates ~30× (observed:
    // "too many open files" on the re-opened parquet before any work).
    // MATERIALIZED pins each multi-referenced stage to one evaluation.
    val materialize = Seq(
      "d0", "d1", "d2", "d3", "d4", "d5", "d6", "d7", "d8",
      "g4", "sh5", "sz5", "jp5", "e5", "f",
      "e0", "g1", "e1", "g2", "e2", "g3", "e3",
      "sc", "rk", "pr", "ms", "ft", "fitted",
      "tf7", "dw7", "p8", "x9", "s9")
    def withMaterialized(sql: String): String =
      materialize.foldLeft(sql)((s, n) =>
        s.replaceAll(s"(?m)^($n AS) \\(", "$1 MATERIALIZED ("))
    withMaterialized(s"""WITH RECURSIVE
       |d0 AS (SELECT doc_id, lang, source, text AS t FROM documents),
       |zh0 AS (SELECT doc_id, lang, source,
       |  ${htmlPageSql("doc_id::VARCHAR", "t")} AS h FROM d0),
       |${htmlChainSql("zh", "zh0", "doc_id, lang, source")},
       |d1 AS (SELECT doc_id, lang, source,
       |  replace($htmlMainSql, chr(10), ' ') AS t FROM zh4),
       |d2 AS (SELECT doc_id, lang, source, nfc_normalize(t) AS t
       |  FROM d1),
       |${q61RulesCteFrom("(SELECT doc_id, t AS text FROM d2)")},
       |d3 AS (SELECT d2.* FROM d2
       |  JOIN r ON r.doc_id = d2.doc_id
       |    AND r.r_words AND r.r_wlen AND r.r_sym AND r.r_stop),
       |w5 AS (SELECT doc_id, string_split(t, ' ') AS w FROM d3),
       |sh5 AS (SELECT DISTINCT doc_id, shingle FROM (
       |  SELECT doc_id, unnest(list_transform(range(len(w) - 2),
       |    i -> w[i+1] || ' ' || w[i+2] || ' ' || w[i+3])) AS shingle
       |  FROM w5 WHERE len(w) >= 3)),
       |sz5 AS (SELECT doc_id, COUNT(*) AS sz FROM sh5 GROUP BY doc_id),
       |pj5 AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |    COUNT(*) AS inter_cnt
       |  FROM sh5 a JOIN sh5 b USING (shingle)
       |  WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
       |jp5 AS (SELECT doc_a, doc_b FROM pj5
       |  JOIN sz5 sa ON sa.doc_id = doc_a
       |  JOIN sz5 sb ON sb.doc_id = doc_b
       |  WHERE inter_cnt * 5 >= (sa.sz + sb.sz - inter_cnt) * 4),
       |e5 AS (SELECT doc_a AS a, doc_b AS b FROM jp5
       |  UNION ALL SELECT doc_b, doc_a FROM jp5),
       |rch5(a, b) AS (
       |  SELECT a, a FROM e5 GROUP BY a
       |  UNION
       |  SELECT e5.a, r5.b FROM e5 JOIN rch5 r5 ON e5.b = r5.a),
       |cc5 AS (SELECT a AS doc_id, MIN(b) AS component FROM rch5
       |  GROUP BY a),
       |d4 AS (SELECT d3.* FROM d3
       |  LEFT JOIN cc5 ON cc5.doc_id = d3.doc_id
       |  WHERE cc5.component IS NULL OR cc5.component = d3.doc_id),
       |p40 AS (SELECT doc_id,
       |    unnest(range(CAST(greatest(length(t) - 24, 0) AS BIGINT)))
       |      + 1 AS pos, t
       |  FROM d4),
       |g4 AS (SELECT doc_id, pos,
       |    ('0x' || substr(md5(substr(t, CAST(pos AS INT), 25)), 1, 8))
       |      ::BIGINT AS h1,
       |    ('0x' || substr(md5(substr(t, CAST(pos AS INT), 25)), 9, 8))
       |      ::BIGINT AS h2
       |  FROM p40),
       |dk4 AS (SELECT h1, h2 FROM g4 GROUP BY 1, 2
       |  HAVING COUNT(*) >= 2),
       |cv4 AS (SELECT doc_id, pos FROM g4 JOIN dk4 USING (h1, h2)),
       |ap4 AS (SELECT doc_id,
       |    unnest(range(CAST(length(t) AS BIGINT))) + 1 AS pos, t
       |  FROM d4),
       |cw4 AS (SELECT DISTINCT cv4.doc_id, cv4.pos + o.off AS pos
       |  FROM cv4 CROSS JOIN (SELECT unnest(range(25)) AS off) o),
       |kp4 AS (SELECT ap4.doc_id, ap4.pos,
       |    substr(ap4.t, CAST(ap4.pos AS INT), 1) AS ch
       |  FROM ap4 LEFT JOIN cw4
       |    ON cw4.doc_id = ap4.doc_id AND cw4.pos = ap4.pos
       |  WHERE cw4.pos IS NULL),
       |cl4 AS (SELECT doc_id, string_agg(ch, '' ORDER BY pos) AS ct
       |  FROM kp4 GROUP BY doc_id),
       |d5 AS (SELECT d4.doc_id, d4.lang, d4.source,
       |    COALESCE(cl4.ct, '') AS t
       |  FROM d4 LEFT JOIN cl4 ON cl4.doc_id = d4.doc_id),
       |l6 AS (SELECT doc_id, string_split(t, ' ') AS w FROM d5),
       |s6 AS (SELECT doc_id,
       |  len(list_filter(w, x -> x IN ('der','die','das','und','ist','von','mit','zu'))) AS s_de,
       |  len(list_filter(w, x -> x IN ('the','a','and','of','to','in','is','it'))) AS s_en,
       |  len(list_filter(w, x -> x IN ('el','la','de','que','y','en','un','es'))) AS s_es,
       |  len(list_filter(w, x -> x IN ('le','les','de','et','un','est','dans','que'))) AS s_fr
       |  FROM l6),
       |lp6 AS (SELECT doc_id,
       |  CASE WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr THEN 'de'
       |       WHEN s_en >= s_es AND s_en >= s_fr THEN 'en'
       |       WHEN s_es >= s_fr THEN 'es'
       |       ELSE 'fr' END AS pred FROM s6),
       |${perceptronFeatureSqlFrom(
            "(SELECT d5.doc_id, CASE WHEN lp6.pred = d5.lang THEN 'en' " +
              "ELSE 'xx' END AS lang, d5.t AS text FROM d5 " +
              "JOIN lp6 ON lp6.doc_id = d5.doc_id)")},
       |${perceptronChainSql(PerceptronEpochs)},
       |$isotonicFitSql,
       |blk6 AS (SELECT fit, (1000000 * SUM(y01)) // COUNT(*) AS p_e6
       |  FROM fitted GROUP BY fit),
       |bs6 AS (SELECT (1000000 * SUM(y01)) // COUNT(*) AS base
       |  FROM fitted),
       |k6 AS (SELECT f2.doc_id FROM fitted f2 JOIN blk6 USING (fit)
       |  CROSS JOIN bs6 WHERE blk6.p_e6 > bs6.base),
       |d6 AS (SELECT d5.* FROM d5 JOIN k6 ON k6.doc_id = d5.doc_id),
       |dt7 AS (SELECT doc_id, lang, unnest(string_split(t, ' ')) AS wd
       |  FROM d6),
       |tf7 AS (SELECT doc_id, lang,
       |    ('0x' || substr(md5(wd), 1, 8))::BIGINT % 64 AS fb,
       |    COUNT(*) AS c
       |  FROM dt7 WHERE length(wd) > 0 GROUP BY 1, 2, 3),
       |dm7 AS (SELECT fb, SUM(c) AS rc,
       |    SUM(CASE WHEN lang = 'en' THEN c ELSE 0 END) AS tc
       |  FROM tf7 GROUP BY 1),
       |tt7 AS (SELECT SUM(rc) AS rtot, SUM(tc) AS ttot FROM dm7),
       |md7 AS (SELECT fb,
       |    (1000000::HUGEINT * (tc + 1) * (rtot + 64))
       |      // ((rc + 1)::HUGEINT * (ttot + 64)) AS ratio_e6
       |  FROM dm7 CROSS JOIN tt7),
       |dw7 AS (SELECT doc_id,
       |    SUM(c::HUGEINT * ratio_e6) // SUM(c) AS weight_e6
       |  FROM tf7 JOIN md7 USING (fb) GROUP BY doc_id),
       |dn7 AS (SELECT COUNT(*) AS n FROM dw7),
       |dr7 AS (SELECT doc_id, weight_e6,
       |    row_number() OVER (ORDER BY weight_e6, doc_id) AS rnk
       |  FROM dw7),
       |k7 AS (SELECT doc_id, CAST(weight_e6 AS BIGINT) AS weight_e6
       |  FROM dr7 CROSS JOIN dn7 WHERE ((rnk - 1) * 4) // n = 3),
       |d7 AS (SELECT d6.*, k7.weight_e6 FROM d6
       |  JOIN k7 ON k7.doc_id = d6.doc_id),
       |p8 AS (SELECT source,
       |    CAST(SUM(len(string_split(t, ' '))) AS BIGINT) AS tokens,
       |    CAST(SUM(weight_e6) // COUNT(*) AS BIGINT) AS mean_w
       |  FROM d7 GROUP BY source),
       |o8 AS (SELECT source, tokens, mean_w,
       |    row_number() OVER (ORDER BY mean_w DESC, source) AS rk
       |  FROM p8),
       |t8 AS (SELECT 2 * COALESCE(SUM(tokens), 0) AS budget FROM p8),
       |al8 AS (
       |  SELECT CAST(0 AS BIGINT) AS rk, CAST(NULL AS VARCHAR) AS source,
       |    CAST(0 AS HUGEINT) AS tokens, CAST(0 AS HUGEINT) AS epochs,
       |    CAST(budget AS HUGEINT) AS rem
       |  FROM t8
       |  UNION ALL
       |  SELECT o.rk, o.source, o.tokens::HUGEINT,
       |    CASE WHEN o.tokens = 0 THEN 0
       |         ELSE least(4, a.rem // o.tokens) END,
       |    a.rem - CASE WHEN o.tokens = 0 THEN 0
       |                 ELSE least(4, a.rem // o.tokens) END * o.tokens
       |  FROM al8 a JOIN o8 o ON o.rk = a.rk + 1),
       |e8 AS (SELECT source, CAST(epochs AS BIGINT) AS epochs FROM al8
       |  WHERE rk > 0 AND epochs >= 1),
       |d8 AS (SELECT d7.*, e8.epochs FROM d7 JOIN e8 USING (source)),
       |x9 AS (SELECT doc_id,
       |    CAST(len(string_split(t, ' ')) AS BIGINT) AS toks,
       |    unnest(generate_series(1, epochs)) AS ep FROM d8),
       |c9 AS (SELECT doc_id, ep, toks,
       |    SUM(toks) OVER (ORDER BY ep, doc_id
       |      ROWS UNBOUNDED PRECEDING) AS cum FROM x9),
       |s9 AS (SELECT DISTINCT
       |    unnest(generate_series(CAST((cum - toks) // 128 AS BIGINT),
       |                           CAST((cum - 1) // 128 AS BIGINT)))
       |      AS seq_id FROM c9),
       |r10 AS (SELECT (g.i // 16) AS shard,
       |    ('0x' || substr(md5((g.i // 16) || ':' || (g.i % 16)), 1, 8))
       |      ::BIGINT AS pos
       |  FROM unnest(range(128)) AS g(i)),
       |h10 AS (SELECT seq_id,
       |    ('0x' || substr(md5(CAST(seq_id AS VARCHAR)), 1, 8))::BIGINT
       |      AS h FROM s9),
       |c10 AS (SELECT seq_id, h, MIN(r.pos) AS mp
       |  FROM h10 LEFT JOIN r10 r ON r.pos >= h10.h GROUP BY 1, 2),
       |a10 AS (SELECT seq_id, (SELECT MIN(shard) FROM r10 WHERE pos =
       |    COALESCE(c10.mp, (SELECT MIN(pos) FROM r10))) AS shard
       |  FROM c10),
       |led AS (
       |  SELECT 0 AS i, 'source' AS stage, ${cnt("d0")} AS rows_in,
       |    ${cnt("d0")} AS rows_out, ${tok("d0")} AS tokens_out
       |  UNION ALL SELECT 1, 'html_main_extract', ${cnt("d0")},
       |    ${cnt("d1")}, ${tok("d1")}
       |  UNION ALL SELECT 2, 'nfc_normalize', ${cnt("d1")},
       |    ${cnt("d2")}, ${tok("d2")}
       |  UNION ALL SELECT 3, 'quality_rules', ${cnt("d2")},
       |    ${cnt("d3")}, ${tok("d3")}
       |  UNION ALL SELECT 4, 'minhash_family_dedup', ${cnt("d3")},
       |    ${cnt("d4")}, ${tok("d4")}
       |  UNION ALL SELECT 5, 'substring_dedup', ${cnt("d4")},
       |    ${cnt("d5")}, ${tok("d5")}
       |  UNION ALL SELECT 6, 'calibrated_langid_filter', ${cnt("d5")},
       |    ${cnt("d6")}, ${tok("d6")}
       |  UNION ALL SELECT 7, 'dsir_select', ${cnt("d6")},
       |    ${cnt("d7")}, ${tok("d7")}
       |  UNION ALL SELECT 8, 'epoch_mix', ${cnt("d7")},
       |    ${cnt("d8")}, $served
       |  UNION ALL SELECT 9, 'pack_128', ${cnt("x9")},
       |    ${cnt("s9")}, $served
       |  UNION ALL SELECT 10, 'ring_shard', ${cnt("s9")},
       |    (SELECT CAST(COUNT(DISTINCT shard) AS BIGINT) FROM a10),
       |    $served)
       |SELECT CAST(i AS BIGINT) AS stage_idx, stage,
       |  CAST(rows_in AS BIGINT) AS rows_in,
       |  CAST(rows_out AS BIGINT) AS rows_out,
       |  CAST(tokens_out AS BIGINT) AS tokens_out
       |FROM led ORDER BY stage_idx""".stripMargin)
  }

  def oracleSql: Map[String, String] = Map(
    "q269_curation_dag" -> q269Sql,
    // q266: the trainer replayed end-to-end; WITH RECURSIVE powers the
    // two Viterbi DPs.
    "q266_unigram_train" ->
      s"""WITH RECURSIVE $unigramCtes
         |SELECT piece, CAST(cnt AS BIGINT) AS uses, cost AS cost_bits
         |FROM k1 ORDER BY piece""".stripMargin,
    // q267: per-doc segmentation digests off the final DP.
    "q267_unigram_encode" -> unigramEncodeOracleSql,
    // q241/q242: encode THROUGH a saved+loaded artifact, gated by the
    // SAME oracles as encode-through-trained (q98/q267) — the
    // round-trip identity is exactly that the hashes don't move.
    "q241_bpe_store_roundtrip" -> bpeEncodeOracleSql,
    "q242_unigram_store_roundtrip" -> unigramEncodeOracleSql,
    // q268: both tokenizers' fertility from their own gated chains.
    "q268_tokenizer_compare" ->
      s"""WITH RECURSIVE $unigramEncodeCtes,
         |$bpeEncodeCtes,
         |tkb AS (SELECT doc_id,
         |         (length(e) - length(replace(e, '|', ''))) // 2 AS n_tok
         |       FROM d$bpeRoundsN),
         |wc AS (SELECT doc_id, lang,
         |         len(list_filter(string_split(text, ' '),
         |           w -> length(w) > 0 AND NOT contains(w, '|'))) AS n_w
         |       FROM documents),
         |fb AS (SELECT 'bpe' AS tokenizer, lang,
         |    CAST(COUNT(*) AS BIGINT) AS n_docs,
         |    CAST(SUM(n_w) AS BIGINT) AS n_words,
         |    CAST(SUM(n_tok) AS BIGINT) AS n_tokens
         |  FROM tkb JOIN wc USING (doc_id) GROUP BY lang),
         |fu AS (SELECT 'unigram' AS tokenizer, lang,
         |    CAST(COUNT(*) AS BIGINT) AS n_docs,
         |    CAST(SUM(n_w) AS BIGINT) AS n_words,
         |    CAST(SUM(COALESCE(en.n_tokens, 0)) AS BIGINT) AS n_tokens
         |  FROM wc LEFT JOIN en USING (doc_id) GROUP BY lang),
         |fx AS (SELECT * FROM fb UNION ALL SELECT * FROM fu)
         |SELECT tokenizer, lang, n_docs, n_words, n_tokens,
         |  CAST(CASE WHEN n_words = 0 THEN 0
         |       ELSE (1000000 * n_tokens) // n_words END AS BIGINT)
         |    AS fertility_e6
         |FROM fx ORDER BY tokenizer, lang""".stripMargin,
    // q249: the unrolled epoch chain, one output row per epoch.
    "q249_perceptron_train" -> {
      val rows = (1 to PerceptronEpochs).map(e =>
        s"SELECT CAST($e AS BIGINT) AS epoch, g$e.n_mis, " +
          PerceptronX.indices.map(i => s"e$e.w$i").mkString(", ") +
          s" FROM g$e, e$e").mkString(" UNION ALL ")
      s"""WITH $perceptronFeatureSql,
         |${perceptronChainSql(PerceptronEpochs)}
         |$rows ORDER BY epoch""".stripMargin
    },
    // q250: training chained into the scoring pass — the deployed
    // weights gate through their use.
    "q250_perceptron_score" -> {
      val dot = PerceptronX.indices
        .map(i => s"e$PerceptronEpochs.w$i * x$i").mkString(" + ")
      s"""WITH $perceptronFeatureSql,
         |${perceptronChainSql(PerceptronEpochs)}
         |SELECT doc_id, y, margin, pred,
         |  CAST(CASE WHEN pred = y THEN 1 ELSE 0 END AS BIGINT)
         |    AS correct
         |FROM (
         |  SELECT f.doc_id, f.y, CAST($dot AS BIGINT) AS margin,
         |    CAST(CASE WHEN $dot > 0 THEN 1 ELSE -1 END AS BIGINT)
         |      AS pred
         |  FROM f, e$PerceptronEpochs)
         |ORDER BY doc_id""".stripMargin
    },
    // q254: margins from the q250 chain, then the isotonic fit via the
    // MINIMAX characterization fit(i) = max_{a<=i} min_{b>=i}
    // mean(y[a..b]) over the (margin, doc_id) total order — an O(n²)
    // running-average table + per-a suffix-min + per-i max, then blocks
    // = the fit's level sets (adjacent blocks differ strictly, so
    // grouping by fitted value recovers exactly the maximal blocks).
    // Double means are exact here: distinct block means differ by
    // >= 1/n² >> ulp at the gated corpus sizes.
    "q254_isotonic_blocks" ->
      s"""WITH $perceptronFeatureSql,
         |${perceptronChainSql(PerceptronEpochs)},
         |$isotonicFitSql
         |SELECT CAST(MIN(i) AS BIGINT) AS start_rank,
         |  CAST(COUNT(*) AS BIGINT) AS n,
         |  CAST(SUM(y01) AS BIGINT) AS n_pos,
         |  CAST((1000000 * SUM(y01)) // COUNT(*) AS BIGINT) AS p_e6
         |FROM fitted GROUP BY fit ORDER BY start_rank""".stripMargin,
    // q255: the same fit joined back per document.
    "q255_isotonic_scores" ->
      s"""WITH $perceptronFeatureSql,
         |${perceptronChainSql(PerceptronEpochs)},
         |$isotonicFitSql,
         |blk AS (SELECT fit,
         |    (1000000 * SUM(y01)) // COUNT(*) AS p_e6
         |  FROM fitted GROUP BY fit)
         |SELECT f2.doc_id, f2.margin, CAST(f2.y01 AS BIGINT) AS y01,
         |  CAST(blk.p_e6 AS BIGINT) AS p_e6
         |FROM fitted f2 JOIN blk USING (fit)
         |ORDER BY f2.doc_id""".stripMargin,
    // q256: the relational multi-pattern strategy — positional
    // substring compares per dictionary entry — against the automaton.
    "q256_dict_matches" ->
      s"""WITH pats AS (SELECT unnest([$dictPatternsSqlList]) AS pattern)
         |SELECT d.doc_id, p.pattern,
         |  CAST(COUNT(*) AS BIGINT) AS n_matches
         |FROM documents d CROSS JOIN pats p,
         |  unnest(range(CAST(greatest(
         |    length(d.text) - length(p.pattern) + 1, 0) AS BIGINT)))
         |    AS g(i)
         |WHERE substr(d.text, CAST(g.i + 1 AS INT), length(p.pattern))
         |        = p.pattern
         |GROUP BY d.doc_id, p.pattern
         |ORDER BY d.doc_id, p.pattern""".stripMargin,
    // q257: match windows expanded to covered positions, docs rebuilt
    // from the uncovered ones (the q252 two-constructions discipline).
    "q257_dict_redact" ->
      s"""WITH pats AS (SELECT unnest([$dictPatternsSqlList]) AS pattern),
         |mt AS (SELECT d.doc_id, g.i + 1 AS s,
         |    CAST(length(p.pattern) AS BIGINT) AS l
         |  FROM documents d CROSS JOIN pats p,
         |    unnest(range(CAST(greatest(
         |      length(d.text) - length(p.pattern) + 1, 0) AS BIGINT)))
         |      AS g(i)
         |  WHERE substr(d.text, CAST(g.i + 1 AS INT), length(p.pattern))
         |          = p.pattern),
         |cwv AS (SELECT DISTINCT mt.doc_id, mt.s + o.off AS pos
         |  FROM mt, unnest(range(mt.l)) AS o(off)),
         |ap AS (SELECT doc_id,
         |    unnest(range(CAST(length(text) AS BIGINT))) + 1 AS pos, text
         |  FROM documents),
         |kp AS (SELECT ap.doc_id, ap.pos,
         |    substr(ap.text, CAST(ap.pos AS INT), 1) AS ch
         |  FROM ap LEFT JOIN cwv
         |    ON cwv.doc_id = ap.doc_id AND cwv.pos = ap.pos
         |  WHERE cwv.pos IS NULL),
         |cl AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept,
         |    string_agg(ch, '' ORDER BY pos) AS ct
         |  FROM kp GROUP BY doc_id)
         |SELECT d.doc_id, CAST(length(d.text) AS BIGINT) AS n_chars,
         |  CAST(length(d.text) - COALESCE(cl.n_kept, 0) AS BIGINT)
         |    AS removed_chars,
         |  md5(COALESCE(cl.ct, '')) AS redacted_md5
         |FROM documents d LEFT JOIN cl ON cl.doc_id = d.doc_id
         |ORDER BY d.doc_id""".stripMargin,
    // q260: train/score split on doc_id parity; every branch of the
    // back-off CASE replayed with the same floor-scaled arithmetic.
    "q260_stupid_backoff" ->
      """WITH tr AS (SELECT doc_id, string_split(text, ' ') AS w
        |  FROM documents WHERE doc_id % 2 = 0),
        |sc0 AS (SELECT doc_id, string_split(text, ' ') AS w
        |  FROM documents WHERE doc_id % 2 = 1),
        |tg_t AS (SELECT w[g.i] AS w1, w[g.i+1] AS w2, w[g.i+2] AS w3
        |  FROM tr, unnest(generate_series(1, len(w) - 2)) AS g(i)
        |  WHERE len(w) >= 3),
        |c123 AS (SELECT w1, w2, w3, COUNT(*) AS c FROM tg_t
        |  GROUP BY 1, 2, 3),
        |bg_t AS (SELECT w[g.i] AS w1, w[g.i+1] AS w2
        |  FROM tr, unnest(generate_series(1, len(w) - 1)) AS g(i)
        |  WHERE len(w) >= 2),
        |c12 AS (SELECT w1, w2, COUNT(*) AS c FROM bg_t GROUP BY 1, 2),
        |ug AS (SELECT unnest(w) AS w FROM tr),
        |c1 AS (SELECT w, COUNT(*) AS c FROM ug GROUP BY 1),
        |nn AS (SELECT COUNT(*) AS n FROM ug),
        |tg_s AS (SELECT doc_id, w[g.i] AS w1, w[g.i+1] AS w2,
        |    w[g.i+2] AS w3
        |  FROM sc0, unnest(generate_series(1, len(w) - 2)) AS g(i)
        |  WHERE len(w) >= 3),
        |j AS (SELECT s.doc_id,
        |    CASE WHEN t3.c IS NOT NULL THEN (1000000 * t3.c) // b12.c
        |         WHEN b23.c IS NOT NULL
        |           THEN (2 * ((1000000 * b23.c) // u2.c)) // 5
        |         WHEN u3.c IS NOT NULL
        |           THEN (4 * ((1000000 * u3.c) // nn.n)) // 25
        |         ELSE 0 END AS sc,
        |    CASE WHEN t3.c IS NULL AND b23.c IS NOT NULL
        |      THEN 1 ELSE 0 END AS bo1,
        |    CASE WHEN t3.c IS NULL AND b23.c IS NULL
        |      AND u3.c IS NOT NULL THEN 1 ELSE 0 END AS bo2,
        |    CASE WHEN t3.c IS NULL AND b23.c IS NULL AND u3.c IS NULL
        |      THEN 1 ELSE 0 END AS oov
        |  FROM tg_s s
        |  LEFT JOIN c123 t3 ON t3.w1 = s.w1 AND t3.w2 = s.w2
        |    AND t3.w3 = s.w3
        |  LEFT JOIN c12 b12 ON b12.w1 = s.w1 AND b12.w2 = s.w2
        |  LEFT JOIN c12 b23 ON b23.w1 = s.w2 AND b23.w2 = s.w3
        |  LEFT JOIN c1 u2 ON u2.w = s.w2
        |  LEFT JOIN c1 u3 ON u3.w = s.w3, nn),
        |agg AS (SELECT doc_id, COUNT(*) AS nt, SUM(bo1) AS b1,
        |    SUM(bo2) AS b2, SUM(oov) AS ov,
        |    SUM(sc) // COUNT(*) AS se
        |  FROM j GROUP BY doc_id)
        |SELECT d.doc_id,
        |  CAST(COALESCE(nt, 0) AS BIGINT) AS n_trigrams,
        |  CAST(COALESCE(b1, 0) AS BIGINT) AS n_bo1,
        |  CAST(COALESCE(b2, 0) AS BIGINT) AS n_bo2,
        |  CAST(COALESCE(ov, 0) AS BIGINT) AS n_oov,
        |  CAST(COALESCE(se, 0) AS BIGINT) AS score_e6
        |FROM (SELECT doc_id FROM documents WHERE doc_id % 2 = 1) d
        |LEFT JOIN agg ON agg.doc_id = d.doc_id
        |ORDER BY d.doc_id""".stripMargin,
    // q238: the shared q61 rule CTE aggregated to the per-rule
    // failure / sole-blocker counts, unpivoted to 4 rows.
    "q238_rule_ablation" ->
      s"""WITH $q61RulesCte,
        |$ablationSqlTail
        |FROM u, agg ORDER BY rule""".stripMargin,
    // q244: corpus ∪ four crafted sentinels (one per rule, each that
    // rule's sole blocker) through the same rule CTE; `live` is the
    // self-test verdict.
    "q244_rule_selftest" ->
      s"""WITH $piiSql,
        |pii2 AS (SELECT doc_id, text FROM pii
        |  UNION ALL SELECT * FROM (VALUES
        |    (-8, 'the aaa bbb'),
        |    (-4, repeat('aaaaaaaaaaaaaaaaaaaa ', 24) || 'the'),
        |    (-2, repeat('aaa! ', 24) || 'the'),
        |    (-1, repeat('aaaa ', 24) || 'aaaa')) v(doc_id, text)),
        |${q61RulesCteFrom("pii2")},
        |$ablationSqlTail,
        |  CAST(CASE WHEN n_sole >= 1 THEN 1 ELSE 0 END AS BIGINT) AS live
        |FROM u, agg ORDER BY rule""".stripMargin,
    // q248: the full strip chain replayed verbatim (RE2-safe patterns),
    // plus the link-density boilerplate layer over the block lines.
    "q248_html_strip" -> q248Sql,
    // q247: DuckDB's independent Unicode tables compose the same
    // decomposed suffix; chr() codepoints mirror the Scala escapes.
    "q247_nfc_normalize" ->
      """WITH d AS (SELECT doc_id,
        |  text || ' cafe' || chr(769) || ' nai' || chr(776) || 've A' ||
        |    chr(778) || 'ngstro' || chr(776) || 'm' AS t
        |  FROM documents)
        |SELECT doc_id, md5(nfc_normalize(t)) AS nfc_md5, md5(t) AS raw_md5,
        |  CAST(CASE WHEN nfc_normalize(t) <> t THEN 1 ELSE 0 END
        |    AS BIGINT) AS changed
        |FROM d ORDER BY doc_id""".stripMargin,
    // q237: md5 hash groups, leave-one-out floored means, the exact
    // jackknife variance identity, and the 3-step isqrt replay.
    "q237_jackknife_se" ->
      s"""WITH $lmScoreCte,
        |gasg AS (SELECT
        |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
        |      % 32 AS g,
        |    score_e6 FROM sc),
        |per AS (SELECT g, COUNT(*) AS ng, SUM(score_e6) AS sg
        |        FROM gasg GROUP BY 1),
        |tot AS (SELECT SUM(ng) AS n, SUM(sg) AS stot FROM per),
        |loo AS (SELECT CASE WHEN n - ng = 0 THEN 0
        |               ELSE (stot - sg) // (n - ng) END AS m
        |        FROM per, tot),
        |agg AS (SELECT COUNT(*) AS gg, SUM(CAST(m AS HUGEINT)) AS sm,
        |          SUM(CAST(m AS HUGEINT) * m) AS sm2
        |        FROM loo),
        |v AS (SELECT gg,
        |        ((gg - 1) * (gg * sm2 - sm * sm))
        |          // (CAST(gg AS HUGEINT) * gg) AS var_e12
        |      FROM agg),
        |r0t AS (SELECT gg, var_e12,
        |          CAST(floor(sqrt(CAST(var_e12 AS DOUBLE))) AS BIGINT)
        |            AS r0 FROM v),
        |r1t AS (SELECT gg, var_e12,
        |          CASE WHEN (r0 + 1) * (r0 + 1) <= var_e12 THEN r0 + 1
        |               ELSE r0 END AS r1 FROM r0t)
        |SELECT CAST(gg AS BIGINT) AS g_groups,
        |  CAST(n AS BIGINT) AS n_docs,
        |  CAST(stot // n AS BIGINT) AS mean_score_e6,
        |  CAST(var_e12 AS BIGINT) AS jk_var_e12,
        |  CAST(CASE WHEN r1 * r1 > var_e12 THEN r1 - 1 ELSE r1 END
        |       AS BIGINT) AS jk_se_e6
        |FROM r1t, tot""".stripMargin,
    // q232: the shared q133 CTE + per-score class counts + window
    // cumulatives + the integer KS statistic and 1358² verdict.
    "q232_ks_test" ->
      s"""WITH $lmScoreCte,
        |lab AS (SELECT sc.score_e6, (d.lang = 'en') AS pos
        |        FROM sc JOIN documents d USING (doc_id)),
        |g AS (SELECT score_e6,
        |        SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS c1,
        |        SUM(CASE WHEN pos THEN 0 ELSE 1 END) AS c2
        |      FROM lab GROUP BY 1),
        |cum AS (SELECT score_e6,
        |          SUM(c1) OVER (ORDER BY score_e6) AS cum1,
        |          SUM(c2) OVER (ORDER BY score_e6) AS cum2
        |        FROM g),
        |tot AS (SELECT MAX(cum1) AS n1, MAX(cum2) AS n2 FROM cum),
        |diff AS (SELECT score_e6,
        |           abs(CAST(cum1 AS HUGEINT) * n2
        |               - CAST(cum2 AS HUGEINT) * n1) AS m
        |         FROM cum, tot),
        |best AS (SELECT MAX(m) AS m_max FROM diff),
        |at AS (SELECT MIN(score_e6) AS at_score_e6
        |       FROM diff, best WHERE m = m_max)
        |SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
        |  CAST(at_score_e6 AS BIGINT) AS at_score_e6,
        |  CAST(CASE WHEN n1 * n2 = 0 THEN 0 ELSE
        |    (1000000 * m_max) // (CAST(n1 AS HUGEINT) * n2) END
        |       AS BIGINT) AS d_e6,
        |  CAST(CASE WHEN 1000000 * m_max * m_max
        |              > CAST(1844164 AS HUGEINT) * (n1 + n2) * n1 * n2
        |            THEN 1 ELSE 0 END AS BIGINT) AS reject_05
        |FROM tot, best, at""".stripMargin,
    // q229: the shared q133 CTE + per-source token/score agg + the
    // sequential greedy as a recursive CTE threading the remaining
    // budget (flooring leftovers spill to lower-priority sources).
    "q229_epoch_allocation" ->
      s"""WITH RECURSIVE $lmScoreCte,
        |per AS (
        |  SELECT d.source, SUM(len(string_split(d.text, ' '))) AS tokens,
        |    SUM(sc.score_e6) // COUNT(*) AS mean_score_e6
        |  FROM documents d JOIN sc ON d.doc_id = sc.doc_id
        |  GROUP BY 1),
        |ord AS (SELECT source, tokens, mean_score_e6,
        |          row_number() OVER (ORDER BY mean_score_e6 DESC,
        |                             source) AS rk
        |        FROM per),
        |tot AS (SELECT $EpochBudgetMult * SUM(tokens) AS budget
        |        FROM per),
        |alloc AS (
        |  SELECT CAST(0 AS BIGINT) AS rk, CAST(NULL AS VARCHAR) AS source,
        |    CAST(0 AS HUGEINT) AS tokens, CAST(0 AS HUGEINT) AS
        |    mean_score_e6, CAST(0 AS HUGEINT) AS epochs,
        |    CAST(budget AS HUGEINT) AS rem
        |  FROM tot
        |  UNION ALL
        |  SELECT o.rk, o.source, o.tokens, o.mean_score_e6,
        |    CASE WHEN o.tokens = 0 THEN 0
        |         ELSE least($EpochMaxRepeats, a.rem // o.tokens)
        |    END AS epochs,
        |    a.rem - CASE WHEN o.tokens = 0 THEN 0
        |                 ELSE least($EpochMaxRepeats,
        |                            a.rem // o.tokens) END * o.tokens
        |      AS rem
        |  FROM alloc a JOIN ord o ON o.rk = a.rk + 1)
        |SELECT source, CAST(tokens AS BIGINT) AS tokens,
        |  CAST(mean_score_e6 AS BIGINT) AS mean_score_e6,
        |  CAST(epochs AS BIGINT) AS epochs,
        |  CAST(epochs * tokens AS BIGINT) AS tokens_served
        |FROM alloc WHERE rk > 0 ORDER BY source""".stripMargin,
    // q227: the shared q133 CTE + the five HUGEINT sums + the signed
    // closed-form OLS quotients (abs-divide, sign multiplied back).
    "q227_score_length_bias" ->
      s"""WITH $lmScoreCte,
        |s AS (SELECT CAST(COUNT(*) AS HUGEINT) AS n,
        |        CAST(SUM(n_bigrams) AS HUGEINT) AS sx,
        |        CAST(SUM(score_e6) AS HUGEINT) AS sy,
        |        CAST(SUM(CAST(n_bigrams AS HUGEINT) * score_e6)
        |             AS HUGEINT) AS sxy,
        |        CAST(SUM(CAST(n_bigrams AS HUGEINT) * n_bigrams)
        |             AS HUGEINT) AS sxx
        |      FROM sc)
        |SELECT CAST(n AS BIGINT) AS n_docs,
        |  CAST(sx // n AS BIGINT) AS mean_x,
        |  CAST(sy // n AS BIGINT) AS mean_score_e6,
        |  CAST(CASE WHEN n * sxx - sx * sx = 0 THEN 0 ELSE
        |    (CASE WHEN n * sxy - sx * sy < 0 THEN -1 ELSE 1 END) *
        |    ((abs(n * sxy - sx * sy) * 1000000)
        |      // (n * sxx - sx * sx)) END AS BIGINT) AS slope_e6,
        |  CAST(CASE WHEN n * sxx - sx * sx = 0 THEN 0 ELSE
        |    (CASE WHEN sy * sxx - sx * sxy < 0 THEN -1 ELSE 1 END) *
        |    ((abs(sy * sxx - sx * sxy) * 1000000)
        |      // (n * sxx - sx * sx)) END AS BIGINT) AS icept_e6
        |FROM s""".stripMargin,
    // q228: the isqrt(n·1e6) weight replayed as the same three steps
    // (double sqrt floor + two int64 fixup comparisons), then the
    // q172 largest-remainder skeleton at budget 1e6.
    "q228_smoothed_shares" ->
      """WITH sizes AS (
        |  SELECT lang, COUNT(*) AS n FROM documents GROUP BY 1),
        |iq AS (SELECT lang, n, n * 1000000 AS m,
        |         CAST(floor(sqrt(CAST(n * 1000000 AS DOUBLE)))
        |              AS BIGINT) AS r0
        |       FROM sizes),
        |f1 AS (SELECT lang, n, m,
        |         CASE WHEN (r0 + 1) * (r0 + 1) <= m THEN r0 + 1
        |              ELSE r0 END AS r1 FROM iq),
        |wt AS (SELECT lang, n,
        |         CASE WHEN r1 * r1 > m THEN r1 - 1 ELSE r1 END AS w
        |       FROM f1),
        |tot AS (SELECT SUM(w) AS w_tot FROM wt),
        |base AS (
        |  SELECT lang, n, w,
        |    (1000000 * w) // w_tot AS floor_q,
        |    (1000000 * w) % w_tot AS rem
        |  FROM wt, tot),
        |lo AS (SELECT 1000000 - SUM(floor_q) AS leftover FROM base),
        |r AS (SELECT *, row_number() OVER (ORDER BY rem DESC, lang)
        |        AS rk FROM base)
        |SELECT lang, CAST(n AS BIGINT) AS n_docs,
        |  CAST(w AS BIGINT) AS w_sqrt,
        |  CAST(floor_q + CASE WHEN rk <= (SELECT leftover FROM lo)
        |                      THEN 1 ELSE 0 END AS BIGINT) AS share_e6
        |FROM r ORDER BY lang""".stripMargin,
    // q207: the q133 chain + per-score tie groups, HUGEINT midrank
    // arithmetic (2·midrank = 2·cum − cnt + 1), the U statistic as a
    // DECIMAL(38,0) rational string + floored e6.
    "q207_auc_en_score" ->
      s"""WITH $lmScoreCte,
         |lab AS (SELECT sc.score_e6, (d.lang = 'en') AS pos
         |        FROM sc JOIN documents d USING (doc_id)),
         |g AS (SELECT score_e6, COUNT(*) AS cnt,
         |        SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS pos_cnt
         |      FROM lab GROUP BY 1),
         |c AS (SELECT *, SUM(cnt) OVER (ORDER BY score_e6) AS cum FROM g),
         |a AS (SELECT CAST(SUM(pos_cnt) AS HUGEINT) AS n_pos,
         |        CAST(SUM(cnt - pos_cnt) AS HUGEINT) AS n_neg,
         |        SUM(CAST(pos_cnt AS HUGEINT) * (2 * cum - cnt + 1)) AS s2
         |      FROM c)
         |SELECT CAST(n_pos AS BIGINT) AS n_pos,
         |  CAST(n_neg AS BIGINT) AS n_neg,
         |  CAST(CAST(s2 - n_pos * (n_pos + 1) AS DECIMAL(38,0))
         |    AS VARCHAR) AS auc_num,
         |  CAST(CAST(2 * n_pos * n_neg AS DECIMAL(38,0)) AS VARCHAR)
         |    AS auc_den,
         |  CAST((1000000 * (s2 - n_pos * (n_pos + 1)))
         |       // (2 * n_pos * n_neg) AS BIGINT) AS auc_e6
         |FROM a""".stripMargin,
    // q208: the q133 chain + the unique-order global rank + the q176
    // decile rule + per-decile counts and score ranges.
    "q208_score_reliability" ->
      s"""WITH $lmScoreCte,
         |lab AS (SELECT sc.doc_id, sc.score_e6, (d.lang = 'en') AS pos
         |        FROM sc JOIN documents d USING (doc_id)),
         |r AS (SELECT *,
         |        row_number() OVER (ORDER BY score_e6, doc_id) AS rank,
         |        (SELECT COUNT(*) FROM lab) AS n
         |      FROM lab),
         |g AS (SELECT ((rank - 1) * 10) // n AS decile,
         |        COUNT(*) AS n_docs,
         |        SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS n_pos,
         |        MIN(score_e6) AS score_min, MAX(score_e6) AS score_max
         |      FROM r GROUP BY 1)
         |SELECT CAST(decile AS BIGINT) AS decile,
         |  CAST(n_docs AS BIGINT) AS n_docs,
         |  CAST(n_pos AS BIGINT) AS n_pos,
         |  CAST((1000000 * n_pos) // n_docs AS BIGINT) AS pos_rate_e6,
         |  CAST(score_min AS BIGINT) AS score_min,
         |  CAST(score_max AS BIGINT) AS score_max
         |FROM g ORDER BY decile""".stripMargin,
    "q59_pii_redact" ->
      s"""WITH $piiSql
         |SELECT doc_id,
         |  len(regexp_extract_all(text,
         |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS n_email,
         |  len(regexp_extract_all(text,
         |    '\\+[0-9]{1,2}-[0-9]{3}-[0-9]{4}')) AS n_phone,
         |  len(regexp_extract_all(text,
         |    '\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b')) AS n_ip,
         |  md5(
         |    regexp_replace(
         |      regexp_replace(
         |        regexp_replace(text,
         |          '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}',
         |          '<EMAIL>', 'g'),
         |        '\\+[0-9]{1,2}-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g'),
         |      '\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b',
         |      '<IP>', 'g')) AS redacted_md5
         |FROM pii ORDER BY doc_id""".stripMargin,
    "q60_repetition" ->
      """WITH w AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS word
        |  FROM documents),
        |wc AS (
        |  SELECT doc_id, word, COUNT(*) AS cnt FROM w GROUP BY 1, 2),
        |agg AS (
        |  SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_words,
        |    COUNT(*) AS n_distinct, CAST(MAX(cnt) AS BIGINT) AS top_cnt
        |  FROM wc GROUP BY doc_id),
        |bg AS (
        |  SELECT doc_id,
        |    CAST(len(list_distinct(list_transform(range(len(w) - 1),
        |      i -> w[i+1] || ' ' || w[i+2]))) AS BIGINT) AS n_distinct_bigrams
        |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents))
        |SELECT a.doc_id, n_words,
        |  CAST(floor(1000000.0 * (n_words - n_distinct) / n_words) AS BIGINT)
        |    AS dup_word_e6,
        |  CAST(floor(1000000.0 * top_cnt / n_words) AS BIGINT) AS top_word_e6,
        |  CAST(floor(1000000.0 * (n_words - 1 - n_distinct_bigrams)
        |    / NULLIF(n_words - 1, 0)) AS BIGINT) AS dup_bigram_e6
        |FROM agg a JOIN bg USING (doc_id) ORDER BY doc_id""".stripMargin,
    "q61_quality_rules" ->
      s"""WITH $q61RulesCte
         |SELECT doc_id, r_words, r_wlen, r_sym, r_stop,
         |  CAST(r_words::INT * 8 + r_wlen::INT * 4 + r_sym::INT * 2
         |    + r_stop::INT AS BIGINT) AS rule_mask,
         |  (r_words AND r_wlen AND r_sym AND r_stop) AS keep
         |FROM r ORDER BY doc_id""".stripMargin,
    "q62_token_budget" ->
      """WITH t AS (
        |  SELECT doc_id, source,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS toks,
        |    ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT AS h
        |  FROM documents),
        |c AS (
        |  SELECT *, SUM(toks) OVER (PARTITION BY source
        |    ORDER BY h, doc_id ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM t)
        |SELECT source, COUNT(*) AS n_kept,
        |  CAST(SUM(toks) AS BIGINT) AS tokens_kept,
        |  CAST(SUM(doc_id) AS BIGINT) AS sum_ids
        |FROM c WHERE cum <= 1000 GROUP BY source ORDER BY source""".stripMargin,
    "q63_contamination" ->
      """WITH sh AS (
        |  SELECT DISTINCT doc_id, shingle FROM (
        |    SELECT doc_id, unnest(list_transform(range(len(w) - 4),
        |      i -> w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' '
        |           || w[i+4] || ' ' || w[i+5])) AS shingle
        |    FROM (SELECT doc_id, string_split(text, ' ') AS w
        |          FROM documents) WHERE len(w) >= 5)),
        |ov AS (
        |  SELECT t.doc_id, e.doc_id AS eval_id, COUNT(*) AS shared
        |  FROM sh t JOIN sh e USING (shingle)
        |  WHERE t.doc_id % 7 <> 0 AND e.doc_id % 7 = 0
        |  GROUP BY 1, 2)
        |SELECT doc_id, CAST(MAX(shared) AS BIGINT) AS max_shared,
        |  MAX(shared) >= 8 AS contaminated
        |FROM ov GROUP BY doc_id HAVING MAX(shared) >= 3
        |ORDER BY doc_id""".stripMargin,
    // q74: chop layout is pure arithmetic over the running token sum
    "q74_seq_pack_chop" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS toks
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, toks,
        |    SUM(toks) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM t)
        |SELECT doc_id, toks, CAST(cum AS BIGINT) AS cum,
        |  CAST(cum - toks AS BIGINT) AS start_tok,
        |  CAST((cum - toks) // 128 AS BIGINT) AS first_seq,
        |  CAST((cum - 1) // 128 AS BIGINT) AS last_seq,
        |  CAST((cum - 1) // 128 - (cum - toks) // 128 + 1 AS BIGINT)
        |    AS n_seqs,
        |  CAST((cum - toks) % 128 AS BIGINT) AS off_in_seq
        |FROM c ORDER BY doc_id""".stripMargin,
    // q75: the per-shard next-fit recurrence (seq_id, fill) is
    // path-dependent — the oracle steps it row by row with a recursive
    // CTE joined on rn+1, all shards advancing in lock-step.
    "q75_seq_pack_nextfit" ->
      """WITH RECURSIVE d AS (
        |  SELECT doc_id % 8 AS shard, doc_id AS id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS toks
        |  FROM documents),
        |r AS (
        |  SELECT *, row_number() OVER (PARTITION BY shard ORDER BY id)
        |    AS rn
        |  FROM d),
        |pack AS (
        |  SELECT shard, rn, id, toks,
        |    0::BIGINT AS seq_id, 0::BIGINT AS seq_off, toks AS fill
        |  FROM r WHERE rn = 1
        |  UNION ALL
        |  SELECT r.shard, r.rn, r.id, r.toks,
        |    CASE WHEN p.fill + r.toks > 128
        |         THEN p.seq_id + 1 ELSE p.seq_id END,
        |    CASE WHEN p.fill + r.toks > 128 THEN 0 ELSE p.fill END,
        |    CASE WHEN p.fill + r.toks > 128
        |         THEN r.toks ELSE p.fill + r.toks END
        |  FROM pack p JOIN r ON r.shard = p.shard AND r.rn = p.rn + 1)
        |SELECT shard, id, toks, seq_id, seq_off
        |FROM pack ORDER BY id""".stripMargin,
    // q76: fixture, canonicalization steps, and cap mirrored verbatim;
    // each regex replacement is anchored/single-occurrence so DuckDB's
    // first-match regexp_replace equals Spark's replace-all.
    "q76_url_dedup" ->
      """WITH u AS (
        |  SELECT doc_id, n_chars,
        |    (CASE WHEN doc_id % 2 = 0 THEN 'http://' ELSE 'HTTPS://' END) ||
        |    (CASE WHEN doc_id % 3 = 0 THEN 'WWW.' ELSE '' END) ||
        |    'site' || ((doc_id % 250) % 40)::VARCHAR ||
        |    '.com/p/' || (doc_id % 250)::VARCHAR ||
        |    (CASE WHEN doc_id % 4 = 0
        |          THEN '?id=' || (doc_id % 7)::VARCHAR ||
        |               '&utm_source=s' || (doc_id % 3)::VARCHAR
        |          WHEN doc_id % 4 = 2 THEN '?utm_campaign=c'
        |          WHEN doc_id % 5 = 0 THEN '/'
        |          ELSE '' END) ||
        |    (CASE WHEN doc_id % 6 = 0 THEN '#sec' ELSE '' END) AS url
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, n_chars,
        |    regexp_replace(
        |      regexp_replace(
        |        regexp_replace(
        |          regexp_replace(
        |            regexp_replace(lower(url), '#.*$', ''),
        |            '[?&]utm_[a-z]+=[^&]*$', ''),
        |          '^https?://', ''),
        |        '^www\.', ''),
        |      '/$', '') AS canon
        |  FROM u),
        |g AS (
        |  SELECT doc_id, n_chars, canon,
        |    regexp_extract(canon, '^([^/?]+)', 1) AS domain,
        |    MIN(doc_id) OVER (PARTITION BY canon) AS keep_id,
        |    COUNT(*) OVER (PARTITION BY canon) AS n_copies
        |  FROM c),
        |k AS (
        |  SELECT doc_id,
        |    row_number() OVER (PARTITION BY domain
        |                       ORDER BY n_chars DESC, doc_id) AS domain_rank
        |  FROM g WHERE doc_id = keep_id)
        |SELECT g.doc_id, g.canon, g.domain, g.keep_id,
        |  CAST(g.n_copies AS BIGINT) AS n_copies,
        |  CAST(COALESCE(k.domain_rank, 0) AS BIGINT) AS domain_rank,
        |  (g.doc_id = g.keep_id AND COALESCE(k.domain_rank, 999999) <= 3)
        |    AS kept
        |FROM g LEFT JOIN k ON k.doc_id = g.doc_id
        |ORDER BY g.doc_id""".stripMargin,
    // q78: factor table, md5 fractional-epoch membership, and the
    // per-epoch expansion all mirrored (unnest(range(n)) ≡ explode).
    "q78_epoch_mix" ->
      """WITH t AS (
        |  SELECT doc_id, source,
        |    40 + (CAST(regexp_extract(source, '([0-9]+)$', 1) AS BIGINT)
        |          % 5) * 60 AS f_e2,
        |    ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 100 AS b
        |  FROM documents),
        |n AS (
        |  SELECT doc_id, source, f_e2,
        |    f_e2 // 100 +
        |      CASE WHEN b < f_e2 % 100 THEN 1 ELSE 0 END AS n_rep
        |  FROM t)
        |SELECT doc_id, source, CAST(f_e2 AS BIGINT) AS f_e2,
        |  CAST(n_rep AS BIGINT) AS n_rep,
        |  CAST(unnest(range(n_rep)) AS BIGINT) AS epoch
        |FROM n ORDER BY doc_id, epoch""".stripMargin,
    // q79: last chunk anchored to the tail; DuckDB list slice [a:b] is
    // 1-based inclusive, mirroring Spark's clamping slice(w, a, len)
    "q79_chunk_overlap" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS w,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, w, n,
        |    CASE WHEN n > 64 THEN (n - 64 + 47) // 48 + 1 ELSE 1 END
        |      AS n_chunks
        |  FROM t),
        |e AS (
        |  SELECT doc_id, w, n,
        |    CAST(unnest(range(n_chunks)) AS BIGINT) AS chunk_id
        |  FROM c)
        |SELECT doc_id, chunk_id,
        |  CAST(chunk_id * 48 AS BIGINT) AS start_tok,
        |  CAST(least(64, n - chunk_id * 48) AS BIGINT) AS chunk_len,
        |  md5(array_to_string(
        |    w[chunk_id * 48 + 1 : least(chunk_id * 48 + 64, n)], ' '))
        |    AS chunk_md5
        |FROM e ORDER BY doc_id, chunk_id""".stripMargin,
    // q80: (rn, source) is a total order (rn unique per source), so the
    // oracle's global row_number equals the distributed prefix count.
    "q80_interleave" ->
      """WITH r AS (
        |  SELECT doc_id, source, n_chars,
        |    CAST(row_number() OVER (PARTITION BY source
        |      ORDER BY n_chars DESC, doc_id) AS BIGINT) AS rn
        |  FROM documents)
        |SELECT doc_id, source, n_chars, rn,
        |  CAST(row_number() OVER (ORDER BY rn, source) AS BIGINT) AS pos
        |FROM r ORDER BY doc_id""".stripMargin,
    // q81: the four gated stages chained — dedup keepers, quality keep,
    // epoch mixing, running-sum sharding — exactly as the plan composes
    // them.
    "q81_pipeline_e2e" ->
      """WITH k AS (
        |  SELECT md5(text) AS h, MIN(doc_id) AS keep_id
        |  FROM documents GROUP BY 1),
        |d AS (
        |  SELECT doc_id, source, text FROM documents
        |  JOIN k ON doc_id = keep_id),
        |q AS (
        |  SELECT doc_id, source,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS toks
        |  FROM (SELECT *, length(text) AS n_chars,
        |          len(string_split(text, ' ')) AS n_words FROM d)
        |  WHERE n_words >= 20
        |    AND floor(1000.0 * (n_chars - n_words + 1) / n_words) <= 12000),
        |m AS (
        |  SELECT doc_id, source, toks,
        |    40 + (CAST(regexp_extract(source, '([0-9]+)$', 1) AS BIGINT)
        |          % 5) * 60 AS f_e2,
        |    ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 100 AS b
        |  FROM q),
        |n AS (
        |  SELECT doc_id, source, toks,
        |    f_e2 // 100 +
        |      CASE WHEN b < f_e2 % 100 THEN 1 ELSE 0 END AS n_rep
        |  FROM m),
        |e AS (
        |  SELECT doc_id, source, toks,
        |    CAST(unnest(range(n_rep)) AS BIGINT) AS epoch
        |  FROM n),
        |c AS (
        |  SELECT *, SUM(toks) OVER (ORDER BY doc_id, epoch
        |                            ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM e)
        |SELECT doc_id, source, toks, epoch, CAST(cum AS BIGINT) AS cum,
        |  CAST((cum - toks) // 5000 AS BIGINT) AS shard_id
        |FROM c ORDER BY doc_id, epoch""".stripMargin,
    // q67: DuckDB's window SUM over BIGINT yields HUGEINT — cast back
    "q67_global_shards" ->
      """WITH t AS (
        |  SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS pr,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS toks
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, pr, toks,
        |    SUM(toks) OVER (ORDER BY pr, doc_id
        |                    ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM t)
        |SELECT doc_id, pr, toks, CAST(cum AS BIGINT) AS cum,
        |  CAST((cum - toks) // 5000 AS BIGINT) AS shard_id
        |FROM c ORDER BY doc_id""".stripMargin,
    // q82: first-occurrence = row_number 1 over (doc_id, line_idx) — the
    // window form of the plan's min(struct) keeper; list slices clamp at
    // the array end in both engines, so the ragged tail line matches.
    "q82_line_dedup" ->
      """WITH w AS (
        |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |l AS (
        |  SELECT doc_id, i AS line_idx,
        |    array_to_string(ws[(i*8+1):(i*8+8)], ' ') AS line
        |  FROM w, LATERAL (SELECT unnest(generate_series(
        |    0, (len(ws) + 7) // 8 - 1)) AS i) g),
        |k AS (
        |  SELECT doc_id, line_idx, line, row_number() OVER (
        |    PARTITION BY line ORDER BY doc_id, line_idx) AS rn
        |  FROM l),
        |r AS (
        |  SELECT doc_id, COUNT(*) AS n_kept,
        |    string_agg(line, ' ' ORDER BY line_idx) AS new_text
        |  FROM k WHERE rn = 1 GROUP BY doc_id)
        |SELECT w.doc_id, CAST((len(ws) + 7) // 8 AS BIGINT) AS n_lines,
        |  CAST(COALESCE(r.n_kept, 0) AS BIGINT) AS n_kept,
        |  md5(COALESCE(r.new_text, '')) AS new_md5
        |FROM w LEFT JOIN r USING (doc_id) ORDER BY doc_id""".stripMargin,
    // q83: priority = h32(id) * (lcm/weight) in exact integer arithmetic;
    // smallest k win, hash ties break on doc_id.
    "q83_weighted_sample" ->
      """WITH t AS (
        |  SELECT doc_id, lang,
        |    CAST(CASE WHEN lang = 'en' THEN 1
        |              WHEN lang IN ('de', 'es') THEN 2
        |              ELSE 5 END AS BIGINT) AS weight,
        |    ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT AS h
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, lang, weight,
        |    CAST(h * (10 // weight) AS BIGINT) AS priority
        |  FROM t ORDER BY priority, doc_id LIMIT 100)
        |SELECT doc_id, lang, weight, priority FROM s
        |ORDER BY doc_id""".stripMargin,
    // q84: percent-rank band in exact cross-multiplied integer form —
    // 100*(rank-1) BETWEEN 10*(n-1) AND 90*(n-1).
    "q84_quantile_trim" ->
      """WITH r AS (
        |  SELECT doc_id, source, n_chars,
        |    CAST(row_number() OVER (PARTITION BY source
        |      ORDER BY n_chars, doc_id) AS BIGINT) AS rank,
        |    CAST(count(*) OVER (PARTITION BY source) AS BIGINT) AS n_grp
        |  FROM documents)
        |SELECT doc_id, source, n_chars, rank, n_grp,
        |  100 * (rank - 1) BETWEEN 10 * (n_grp - 1) AND 90 * (n_grp - 1)
        |    AS kept
        |FROM r ORDER BY doc_id""".stripMargin,
    "q85_bpe_merges" -> bpeOracleSql,
    "q98_bpe_encode" -> bpeEncodeOracleSql,
    "q166_frequent_triples" ->
      """WITH toks AS (
        |  SELECT DISTINCT doc_id, t AS token FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS t
        |    FROM documents)
        |  WHERE length(t) > 0),
        |s AS (SELECT COUNT(*)//5 AS ms FROM documents),
        |freq AS (
        |  SELECT token FROM toks GROUP BY token
        |  HAVING COUNT(*) >= (SELECT ms FROM s)),
        |ft AS (SELECT doc_id, token FROM toks
        |       WHERE token IN (SELECT token FROM freq)),
        |ip AS (
        |  SELECT a.doc_id, a.token AS ta, b.token AS tb
        |  FROM ft a JOIN ft b ON a.doc_id = b.doc_id AND a.token < b.token),
        |fp AS (SELECT ta, tb FROM ip GROUP BY ta, tb
        |       HAVING COUNT(*) >= (SELECT ms FROM s)),
        |ipp AS (SELECT ip.* FROM ip JOIN fp USING (ta, tb)),
        |tri AS (
        |  SELECT ipp.ta, ipp.tb, c.token AS tc,
        |    CAST(COUNT(*) AS BIGINT) AS n_docs
        |  FROM ipp JOIN ft c
        |    ON c.doc_id = ipp.doc_id AND c.token > ipp.tb
        |  JOIN fp f1 ON f1.ta = ipp.ta AND f1.tb = c.token
        |  JOIN fp f2 ON f2.ta = ipp.tb AND f2.tb = c.token
        |  GROUP BY 1, 2, 3 HAVING COUNT(*) >= (SELECT ms FROM s))
        |SELECT ta AS token_a, tb AS token_b, tc AS token_c, n_docs
        |FROM tri
        |ORDER BY n_docs DESC, token_a, token_b, token_c
        |LIMIT 50""".stripMargin,
    "q99_cooccur_pairs" ->
      """WITH toks AS (
        |  SELECT DISTINCT doc_id, t AS token FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS t
        |    FROM documents)
        |  WHERE length(t) > 0),
        |s AS (SELECT COUNT(*)//5 AS ms FROM documents),
        |freq AS (
        |  SELECT token FROM toks GROUP BY token
        |  HAVING COUNT(*) >= (SELECT ms FROM s)),
        |ft AS (SELECT doc_id, token FROM toks
        |       WHERE token IN (SELECT token FROM freq)),
        |p AS (
        |  SELECT a.token AS token_a, b.token AS token_b,
        |         CAST(COUNT(*) AS BIGINT) AS n_docs
        |  FROM ft a JOIN ft b ON a.doc_id = b.doc_id AND a.token < b.token
        |  GROUP BY 1, 2 HAVING COUNT(*) >= (SELECT ms FROM s))
        |SELECT * FROM p
        |ORDER BY n_docs DESC, token_a, token_b LIMIT 50""".stripMargin,
    "q100_cdc_chunks" ->
      s"""WITH $cdcChunksCte
        |SELECT ('0x' || substr(h, 1, 15))::BIGINT AS chunk_key,
        |  h AS chunk_md5,
        |  CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
        |  CAST(COUNT(*) AS BIGINT) AS n_occ
        |FROM ch GROUP BY 1, 2 HAVING COUNT(DISTINCT doc_id) >= 2
        |ORDER BY n_docs DESC, chunk_key""".stripMargin,
    "q104_dup_triangles" ->
      s"""WITH $cdcChunksCte,
        |e AS (
        |  SELECT DISTINCT x.doc_id AS u, y.doc_id AS v
        |  FROM ch x JOIN ch y ON x.h = y.h AND x.doc_id < y.doc_id)
        |SELECT
        |  CAST((SELECT COUNT(DISTINCT d) FROM
        |    (SELECT u AS d FROM e UNION ALL SELECT v FROM e)) AS BIGINT)
        |    AS n_nodes,
        |  CAST((SELECT COUNT(*) FROM e) AS BIGINT) AS n_edges,
        |  CAST((SELECT COUNT(*)
        |   FROM e e1 JOIN e e2 ON e2.u = e1.v
        |   JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v) AS BIGINT)
        |    AS n_triangles""".stripMargin,
    // q86: T = min_g floor(100*avail/pct) bounds the feasible scale;
    // quotas floor(T*pct/100); fill order = (h32(id), id), as in q62.
    "q86_rebalance" ->
      """WITH t AS (
        |  SELECT doc_id, lang,
        |    CASE lang WHEN 'en' THEN 40 WHEN 'de' THEN 15 WHEN 'es' THEN 15
        |              WHEN 'fr' THEN 15 WHEN 'zh' THEN 15 END AS p
        |  FROM documents),
        |c AS (
        |  SELECT lang, ANY_VALUE(p) AS p, COUNT(*) AS avail FROM t
        |  WHERE p IS NOT NULL GROUP BY lang),
        |s AS (SELECT MIN(avail * 100 // p) AS scale_t FROM c),
        |q AS (
        |  SELECT lang, avail,
        |    (SELECT scale_t FROM s) * p // 100 AS quota
        |  FROM c),
        |r AS (
        |  SELECT doc_id, lang, p, row_number() OVER (PARTITION BY lang
        |    ORDER BY ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT,
        |             doc_id) AS rank
        |  FROM t)
        |SELECT r.doc_id, r.lang,
        |  CAST(COALESCE(q.avail, 0) AS BIGINT) AS avail,
        |  CAST(COALESCE(q.quota, 0) AS BIGINT) AS quota,
        |  CAST(r.rank AS BIGINT) AS rank,
        |  (r.p IS NOT NULL AND r.rank <= q.quota) AS kept
        |FROM r LEFT JOIN q USING (lang) ORDER BY doc_id""".stripMargin,
    // q89: mask iff h32(doc_id:pos) % 100 < 15, 0-based positions (the
    // plan's transform index); rebuild joined by ' ' in position order.
    "q89_mask_tokens" ->
      """WITH w AS (
        |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |t AS (
        |  SELECT doc_id, i,
        |    CASE WHEN ('0x' || substr(md5(doc_id::VARCHAR || ':' ||
        |                 (i-1)::VARCHAR), 1, 8))::BIGINT % 100 < 15
        |         THEN 1 ELSE 0 END AS m,
        |    ws[i] AS tok
        |  FROM w, LATERAL (SELECT unnest(generate_series(1, len(ws)))
        |                   AS i) g)
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
        |  CAST(SUM(m) AS BIGINT) AS n_masked,
        |  md5(string_agg(CASE WHEN m = 1 THEN '<MASK>' ELSE tok END,
        |      ' ' ORDER BY i)) AS masked_md5
        |FROM t GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // q92: fixture (messy) and normalization both re-derived; roundtrip
    // asserts normalize(messy(text)) == text document-wide.
    "q92_normalize" ->
      """WITH m AS (
        |  SELECT doc_id, text,
        |    CASE WHEN doc_id % 2 = 0 THEN '  ' ELSE '' END ||
        |    CASE WHEN doc_id % 3 = 0 THEN upper(text)
        |         WHEN doc_id % 3 = 1 THEN replace(text, ' ', '  ')
        |         ELSE text END ||
        |    CASE WHEN doc_id % 5 = 0 THEN ' ' || chr(9) ELSE '' END AS messy
        |  FROM documents),
        |n AS (
        |  SELECT doc_id, text, messy,
        |    trim(regexp_replace(lower(messy), '\s+', ' ', 'g')) AS norm
        |  FROM m)
        |SELECT doc_id, CAST(length(messy) AS BIGINT) AS n_messy,
        |  CAST(length(norm) AS BIGINT) AS n_norm,
        |  md5(norm) AS norm_md5, (norm = text) AS roundtrip
        |FROM n ORDER BY doc_id""".stripMargin,
    // q94: the oracle aggregates the WHOLE corpus directly — the compare
    // IS the mergeability law merge(agg(A), agg(B)) == agg(A ∪ B).
    "q94_incremental_agg" ->
      """SELECT source, COUNT(*) AS n_docs,
        |  CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS sum_tokens,
        |  CAST(MAX(n_chars) AS BIGINT) AS max_chars,
        |  CAST(MIN(n_chars) AS BIGINT) AS min_chars
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,
    // q95: the z-test in the same cross-multiplied integer form —
    // (x*n - S)^2 > 4*(n*SS - S^2), population variance scaled by n^2.
    "q95_outliers" ->
      """WITH st AS (
        |  SELECT source, COUNT(*) AS n,
        |    CAST(SUM(n_chars) AS BIGINT) AS s1,
        |    CAST(SUM(n_chars * n_chars) AS BIGINT) AS s2
        |  FROM documents GROUP BY source)
        |SELECT doc_id, source, n_chars,
        |  (n_chars * n - s1) * (n_chars * n - s1)
        |    > 4 * (n * s2 - s1 * s1) AS outlier
        |FROM documents JOIN st USING (source)
        |ORDER BY doc_id""".stripMargin,
    // q96: both "versions" re-derived from the shared rule chain; keys
    // are stable so status ∈ {same, changed} here (added/removed are
    // spec-covered).
    "q96_data_diff" ->
      s"""WITH $q61RulesCte,
         |v1 AS (
         |  SELECT doc_id,
         |    (r_words AND r_wlen AND r_sym AND r_stop) AS keep FROM r),
         |v2 AS (
         |  SELECT doc_id, keep AND (doc_id % 7 <> 3) AS keep FROM v1)
         |SELECT doc_id,
         |  CASE WHEN v1.keep = v2.keep THEN 'same' ELSE 'changed' END
         |    AS status,
         |  v1.keep AS keep_v1, v2.keep AS keep_v2
         |FROM v1 JOIN v2 USING (doc_id) ORDER BY doc_id""".stripMargin,
    "q97_zorder" ->
      s"""WITH z AS (
         |  SELECT l_orderkey*10 + l_linenumber AS rid, l_partkey, l_suppkey,
         |    (${spreadSql("l_partkey")} |
         |     (${spreadSql("l_suppkey")} << 1)) AS z
         |  FROM lineitem),
         |rn AS (SELECT *, row_number() OVER (ORDER BY z, rid) AS rn FROM z)
         |SELECT CAST((rn-1)//1000 AS BIGINT) AS file_id,
         |  CAST(COUNT(*) AS BIGINT) AS n_rows,
         |  MIN(l_partkey) AS min_a, MAX(l_partkey) AS max_a,
         |  MIN(l_suppkey) AS min_b, MAX(l_suppkey) AS max_b,
         |  MIN(z) AS z_lo, MAX(z) AS z_hi
         |FROM rn GROUP BY 1 ORDER BY file_id""".stripMargin,
    // q203: the oracle's 16-round CTE chain generates from the SAME
    // Hilbert.roundScales constants; the identical rank/file/envelope
    // tail as q97.
    "q203_hilbert" ->
      s"""WITH src AS (
         |  SELECT l_orderkey*10 + l_linenumber AS rid, l_partkey, l_suppkey
         |  FROM lineitem),
         |${graft.operators.Hilbert.oracleCtes(
               "src", "l_partkey", "l_suppkey",
               "rid, l_partkey, l_suppkey")},
         |rn AS (SELECT *, row_number() OVER (ORDER BY hd, rid) AS rn
         |       FROM h${graft.operators.Hilbert.Bits})
         |SELECT CAST((rn-1)//1000 AS BIGINT) AS file_id,
         |  CAST(COUNT(*) AS BIGINT) AS n_rows,
         |  MIN(l_partkey) AS min_a, MAX(l_partkey) AS max_a,
         |  MIN(l_suppkey) AS min_b, MAX(l_suppkey) AS max_b,
         |  MIN(hd) AS h_lo, MAX(hd) AS h_hi
         |FROM rn GROUP BY 1 ORDER BY file_id""".stripMargin,
    // q270: the d-ary spread SQL generates from the same loop as the
    // Spark-side zValueN arithmetic (shared-constants discipline).
    "q270_zorder3d" -> {
      import graft.operators.ZOrder.{bitsPerDim, spreadNSql}
      val b = bitsPerDim(3)
      s"""WITH src AS (
         |  SELECT l_orderkey*10 + l_linenumber AS rid,
         |    l_partkey, l_suppkey,
         |    CAST(date_diff('day', DATE '1992-01-01',
         |      CAST(l_shipdate AS DATE)) AS BIGINT) AS d_ship
         |  FROM lineitem),
         |z AS (
         |  SELECT *,
         |    ((${spreadNSql("l_partkey", 3, b)}) |
         |     ((${spreadNSql("l_suppkey", 3, b)}) << 1) |
         |     ((${spreadNSql("d_ship", 3, b)}) << 2)) AS z
         |  FROM src),
         |rn AS (SELECT *, row_number() OVER (ORDER BY z, rid) AS rn FROM z)
         |SELECT CAST((rn-1)//1000 AS BIGINT) AS file_id,
         |  CAST(COUNT(*) AS BIGINT) AS n_rows,
         |  MIN(l_partkey) AS min_d0, MAX(l_partkey) AS max_d0,
         |  MIN(l_suppkey) AS min_d1, MAX(l_suppkey) AS max_d1,
         |  MIN(d_ship) AS min_d2, MAX(d_ship) AS max_d2,
         |  MIN(z) AS z_lo, MAX(z) AS z_hi
         |FROM rn GROUP BY 1 ORDER BY file_id""".stripMargin
    },
    // q271: the Skilling CTE chain generates from the SAME round
    // constants as the operator's column chain.
    "q271_hilbert3d" -> {
      val (ctes, last) = graft.operators.Hilbert.oracleCtesN(
        "src", Seq("l_partkey", "l_suppkey", "d_ship"),
        "rid, l_partkey, l_suppkey, d_ship")
      s"""WITH src AS (
         |  SELECT l_orderkey*10 + l_linenumber AS rid,
         |    l_partkey, l_suppkey,
         |    CAST(date_diff('day', DATE '1992-01-01',
         |      CAST(l_shipdate AS DATE)) AS BIGINT) AS d_ship
         |  FROM lineitem),
         |$ctes,
         |rn AS (SELECT *, row_number() OVER (ORDER BY hd, rid) AS rn
         |       FROM $last)
         |SELECT CAST((rn-1)//1000 AS BIGINT) AS file_id,
         |  CAST(COUNT(*) AS BIGINT) AS n_rows,
         |  MIN(l_partkey) AS min_d0, MAX(l_partkey) AS max_d0,
         |  MIN(l_suppkey) AS min_d1, MAX(l_suppkey) AS max_d1,
         |  MIN(d_ship) AS min_d2, MAX(d_ship) AS max_d2,
         |  MIN(hd) AS h_lo, MAX(hd) AS h_hi
         |FROM rn GROUP BY 1 ORDER BY file_id""".stripMargin
    },
    // q133: the oracle retrains the SAME bigram model (counts + floor-
    // scaled conditional probabilities, integer division throughout)
    // and rescores every doc — model drift, tokenizer drift, or a
    // rounding change all land as hash mismatches.
    "q133_bigram_lm" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        |bg AS (
        |  SELECT doc_id, tk[g.i] AS w1, tk[g.i + 1] AS w2
        |  FROM t, unnest(generate_series(1, len(tk) - 1)) AS g(i)
        |  WHERE len(tk) >= 2),
        |c2 AS (SELECT w1, w2, COUNT(*) AS c2 FROM bg GROUP BY 1, 2),
        |c1 AS (SELECT w1, SUM(c2) AS c1 FROM c2 GROUP BY 1),
        |m AS (SELECT w1, w2, (1000000 * c2) // c1 AS p_e6
        |      FROM c2 JOIN c1 USING (w1))
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
        |  CAST(SUM(p_e6) // COUNT(*) AS BIGINT) AS score_e6
        |FROM bg JOIN m USING (w1, w2)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // q187: the q133 model CTEs + a global rank over (score, doc_id)
    // + the tercile band arithmetic — a one-unit score drift moves a
    // doc across a band edge and breaks the hash.
    "q187_ppl_band" ->
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
        |r AS (SELECT *,
        |        row_number() OVER (ORDER BY score_e6, doc_id) AS rank,
        |        (SELECT COUNT(*) FROM sc) AS n
        |      FROM sc)
        |SELECT doc_id, CAST(n_bigrams AS BIGINT) AS n_bigrams,
        |  CAST(score_e6 AS BIGINT) AS score_e6,
        |  CAST(((rank - 1) * 3) // n AS BIGINT) AS band,
        |  ((rank - 1) * 3) // n = 1 AS kept
        |FROM r ORDER BY doc_id""".stripMargin,
    // q139: the q99 CTE family extended with unigram doc counts and the
    // integer lift ratio — counts, N, and the floor division are all
    // re-derived, so a drifted denominator is a hash mismatch.
    "q139_pair_lift" ->
      """WITH toks AS (
        |  SELECT DISTINCT doc_id, t AS token FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS t
        |    FROM documents)
        |  WHERE length(t) > 0),
        |s AS (SELECT COUNT(*)//5 AS ms FROM documents),
        |nn AS (SELECT COUNT(DISTINCT doc_id) AS n FROM toks),
        |freq AS (
        |  SELECT token, COUNT(*) AS n_item FROM toks GROUP BY token
        |  HAVING COUNT(*) >= (SELECT ms FROM s)),
        |ft AS (SELECT t.doc_id, t.token, f.n_item
        |       FROM toks t JOIN freq f ON f.token = t.token),
        |p AS (
        |  SELECT a.token AS token_a, b.token AS token_b,
        |         a.n_item AS na, b.n_item AS nb,
        |         CAST(COUNT(*) AS BIGINT) AS n_docs
        |  FROM ft a JOIN ft b ON a.doc_id = b.doc_id AND a.token < b.token
        |  GROUP BY 1, 2, 3, 4 HAVING COUNT(*) >= (SELECT ms FROM s))
        |SELECT token_a, token_b, n_docs,
        |  CAST((1000000 * n_docs * (SELECT n FROM nn)) // (na * nb)
        |    AS BIGINT) AS lift_e6
        |FROM p
        |ORDER BY lift_e6 DESC, token_a, token_b LIMIT 50""".stripMargin,
    // q143: the q104 graph CTEs extended per node — degree, triangle
    // membership, and the floor-scaled coefficient all re-derived.
    "q143_clustering_coeff" ->
      s"""WITH $cdcChunksCte,
        |e AS (
        |  SELECT DISTINCT x.doc_id AS u, y.doc_id AS v
        |  FROM ch x JOIN ch y ON x.h = y.h AND x.doc_id < y.doc_id),
        |deg AS (
        |  SELECT node, COUNT(*) AS degree FROM
        |    (SELECT u AS node FROM e UNION ALL SELECT v FROM e)
        |  GROUP BY 1),
        |t AS (
        |  SELECT e1.u AS a, e1.v AS b, e2.v AS c
        |  FROM e e1 JOIN e e2 ON e2.u = e1.v
        |  JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
        |tc AS (
        |  SELECT node, COUNT(*) AS nt FROM
        |    (SELECT a AS node FROM t UNION ALL SELECT b FROM t
        |     UNION ALL SELECT c FROM t)
        |  GROUP BY 1)
        |SELECT d.node, CAST(degree AS BIGINT) AS degree,
        |  CAST(COALESCE(nt, 0) AS BIGINT) AS n_triangles,
        |  CAST(CASE WHEN degree >= 2
        |       THEN (1000000 * 2 * COALESCE(nt, 0))
        |            // (degree * (degree - 1))
        |       ELSE 0 END AS BIGINT) AS coeff_e6
        |FROM deg d LEFT JOIN tc ON tc.node = d.node
        |ORDER BY d.node""".stripMargin,
    // q152: the q104 graph CTEs + three unrolled synchronous LPA
    // rounds — most-frequent-neighbor label, min-label tie-break,
    // exactly the operator's fixed rules.
    "q152_label_prop" ->
      s"""WITH $cdcChunksCte,
        |e AS (
        |  SELECT DISTINCT x.doc_id AS u, y.doc_id AS v
        |  FROM ch x JOIN ch y ON x.h = y.h AND x.doc_id < y.doc_id),
        |sym AS (SELECT u, v FROM e UNION SELECT v, u FROM e),
        |l0 AS (SELECT u AS node, u AS label FROM sym GROUP BY u),
        |c1 AS (SELECT s.u AS node, l.label, COUNT(*) AS c
        |       FROM sym s JOIN l0 l ON l.node = s.v GROUP BY 1, 2),
        |l1 AS (SELECT node, label FROM (
        |         SELECT node, label, ROW_NUMBER() OVER (
        |           PARTITION BY node ORDER BY c DESC, label ASC) AS rn
        |         FROM c1) WHERE rn = 1),
        |c2 AS (SELECT s.u AS node, l.label, COUNT(*) AS c
        |       FROM sym s JOIN l1 l ON l.node = s.v GROUP BY 1, 2),
        |l2 AS (SELECT node, label FROM (
        |         SELECT node, label, ROW_NUMBER() OVER (
        |           PARTITION BY node ORDER BY c DESC, label ASC) AS rn
        |         FROM c2) WHERE rn = 1),
        |c3 AS (SELECT s.u AS node, l.label, COUNT(*) AS c
        |       FROM sym s JOIN l2 l ON l.node = s.v GROUP BY 1, 2),
        |l3 AS (SELECT node, label FROM (
        |         SELECT node, label, ROW_NUMBER() OVER (
        |           PARTITION BY node ORDER BY c DESC, label ASC) AS rn
        |         FROM c3) WHERE rn = 1)
        |SELECT node, CAST(label AS BIGINT) AS community
        |FROM l3 ORDER BY node""".stripMargin,
    // q212: the q152 chunk-graph + unrolled-LPA CTEs extended with
    // q216: the power-of-two decay as an integer shift — both engines
    // agree bit for bit; anchor = max event date.
    "q216_decay_weights" ->
      """WITH ev AS (SELECT user_id, CAST(ts AS DATE) AS d FROM events),
        |a AS (SELECT MAX(d) AS anchor FROM ev),
        |w AS (SELECT user_id,
        |        1000000 // (1::BIGINT <<
        |          CAST(least(date_diff('day', d, anchor) // 7, 62)
        |               AS INT)) AS w_e6
        |      FROM ev CROSS JOIN a)
        |SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
        |  CAST(SUM(w_e6) AS BIGINT) AS freshness_e6
        |FROM w GROUP BY user_id ORDER BY user_id""".stripMargin,
    // q219: same hashed-feature chain — md5-first-8-hex bucket (the
    // PortableHash.h32 mirror), Laplace-smoothed scaled ratios on
    // HUGEINT, per-token mean, exact global quartile by row_number.
    "q219_dsir_select" ->
      """WITH tok AS (
        |  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w
        |  FROM documents),
        |tf AS (
        |  SELECT doc_id, lang,
        |    ('0x' || substr(md5(w), 1, 8))::BIGINT % 64 AS f,
        |    COUNT(*) AS c
        |  FROM tok WHERE length(w) > 0 GROUP BY 1, 2, 3),
        |m0 AS (
        |  SELECT f, SUM(c) AS rc,
        |    SUM(CASE WHEN lang = 'en' THEN c ELSE 0 END) AS tc
        |  FROM tf GROUP BY 1),
        |tot AS (SELECT SUM(rc) AS rtot, SUM(tc) AS ttot FROM m0),
        |model AS (
        |  SELECT f, (1000000::HUGEINT * (tc + 1) * (rtot + 64))
        |           // ((rc + 1)::HUGEINT * (ttot + 64)) AS ratio_e6
        |  FROM m0 CROSS JOIN tot),
        |w AS (
        |  SELECT doc_id, SUM(c) AS n_tokens,
        |    SUM(c::HUGEINT * ratio_e6) // SUM(c) AS weight_e6
        |  FROM tf JOIN model USING (f) GROUP BY doc_id),
        |n AS (SELECT COUNT(*) AS n FROM w),
        |r AS (SELECT doc_id, n_tokens, weight_e6,
        |        ROW_NUMBER() OVER (ORDER BY weight_e6, doc_id) AS rnk
        |      FROM w)
        |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
        |  CAST(weight_e6 AS BIGINT) AS weight_e6,
        |  CAST(((rnk - 1) * 4) // n AS BIGINT) AS band,
        |  ((rnk - 1) * 4) // n = 3 AS kept
        |FROM r CROSS JOIN n ORDER BY doc_id""".stripMargin,
    // q220: the shared q133 scoring CTEs (sc), per-source means, the
    // baseline deficit, and Hamilton apportionment to exactly 1e6.
    "q220_domain_reweight" ->
      s"""WITH $lmScoreCte,
         |dom AS (
         |  SELECT d.source, COUNT(*) AS n_docs, SUM(score_e6) AS ssum
         |  FROM sc JOIN documents d USING (doc_id) GROUP BY 1),
         |b AS (SELECT SUM(ssum) // SUM(n_docs) AS baseline_e6 FROM dom),
         |e AS (SELECT source, n_docs, ssum // n_docs AS mean_score_e6,
         |        greatest(0, baseline_e6 - ssum // n_docs) + 1
         |          AS excess_e6
         |      FROM dom CROSS JOIN b),
         |te AS (SELECT SUM(excess_e6) AS tot FROM e),
         |q AS (SELECT source, n_docs, mean_score_e6, excess_e6,
         |        (1000000::HUGEINT * excess_e6) // tot AS quota,
         |        (1000000::HUGEINT * excess_e6) % tot AS rem
         |      FROM e CROSS JOIN te),
         |l AS (SELECT 1000000 - SUM(quota) AS leftover FROM q),
         |r AS (SELECT *, ROW_NUMBER()
         |        OVER (ORDER BY rem DESC, source ASC) AS rk FROM q)
         |SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
         |  CAST(mean_score_e6 AS BIGINT) AS mean_score_e6,
         |  CAST(excess_e6 AS BIGINT) AS excess_e6,
         |  CAST(quota + CASE WHEN rk <= leftover THEN 1 ELSE 0 END
         |       AS BIGINT) AS weight_e6
         |FROM r CROSS JOIN l ORDER BY source""".stripMargin,
    // q221: the shared q98 encode CTEs, token counts off the final
    // encoded string, word counts under the same eligibility rule,
    // one per-language ratio.
    "q221_tokenizer_fertility" ->
      s"""WITH $bpeEncodeCtes,
         |tk AS (SELECT doc_id,
         |         (length(e) - length(replace(e, '|', ''))) // 2 AS n_tok
         |       FROM d$bpeRoundsN),
         |wc AS (SELECT doc_id, lang,
         |         len(list_filter(string_split(text, ' '),
         |           w -> length(w) > 0 AND NOT contains(w, '|'))) AS n_w
         |       FROM documents)
         |SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(n_w) AS BIGINT) AS n_words,
         |  CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
         |  CAST(CASE WHEN SUM(n_w) = 0 THEN 0
         |       ELSE (1000000 * SUM(n_tok)) // SUM(n_w) END AS BIGINT)
         |    AS fertility_e6
         |FROM tk JOIN wc USING (doc_id)
         |GROUP BY lang ORDER BY lang""".stripMargin,
    // degree/within-edge/margin aggregates and the HUGEINT rational;
    // signed numerator divides as |num| with the sign multiplied back.
    "q212_modularity" ->
      s"""WITH $cdcChunksCte,
        |e AS (
        |  SELECT DISTINCT x.doc_id AS u, y.doc_id AS v
        |  FROM ch x JOIN ch y ON x.h = y.h AND x.doc_id < y.doc_id),
        |sym AS (SELECT u, v FROM e UNION SELECT v, u FROM e),
        |l0 AS (SELECT u AS node, u AS label FROM sym GROUP BY u),
        |c1 AS (SELECT s.u AS node, l.label, COUNT(*) AS c
        |       FROM sym s JOIN l0 l ON l.node = s.v GROUP BY 1, 2),
        |l1 AS (SELECT node, label FROM (
        |         SELECT node, label, ROW_NUMBER() OVER (
        |           PARTITION BY node ORDER BY c DESC, label ASC) AS rn
        |         FROM c1) WHERE rn = 1),
        |c2 AS (SELECT s.u AS node, l.label, COUNT(*) AS c
        |       FROM sym s JOIN l1 l ON l.node = s.v GROUP BY 1, 2),
        |l2 AS (SELECT node, label FROM (
        |         SELECT node, label, ROW_NUMBER() OVER (
        |           PARTITION BY node ORDER BY c DESC, label ASC) AS rn
        |         FROM c2) WHERE rn = 1),
        |c3 AS (SELECT s.u AS node, l.label, COUNT(*) AS c
        |       FROM sym s JOIN l2 l ON l.node = s.v GROUP BY 1, 2),
        |l3 AS (SELECT node, label FROM (
        |         SELECT node, label, ROW_NUMBER() OVER (
        |           PARTITION BY node ORDER BY c DESC, label ASC) AS rn
        |         FROM c3) WHERE rn = 1),
        |deg AS (SELECT node, COUNT(*) AS deg FROM
        |          (SELECT u AS node FROM e UNION ALL SELECT v FROM e)
        |        GROUP BY node),
        |dc AS (SELECT l.label AS community, SUM(d.deg) AS d_c
        |       FROM deg d JOIN l3 l USING (node) GROUP BY 1),
        |mc AS (SELECT lu.label AS community, COUNT(*) AS m_c
        |       FROM e
        |       JOIN l3 lu ON lu.node = e.u
        |       JOIN l3 lv ON lv.node = e.v
        |       WHERE lu.label = lv.label GROUP BY 1),
        |mm AS (SELECT COUNT(*) AS m FROM e),
        |a AS (SELECT COUNT(*) AS n_communities,
        |        MAX(mm.m) AS m_edges,
        |        SUM(CAST(4 AS HUGEINT) * mm.m * COALESCE(mc.m_c, 0)
        |            - CAST(dc.d_c AS HUGEINT) * dc.d_c) AS q_num,
        |        MAX(CAST(4 AS HUGEINT) * mm.m * mm.m) AS q_den
        |      FROM dc LEFT JOIN mc USING (community) CROSS JOIN mm)
        |SELECT CAST(n_communities AS BIGINT) AS n_communities,
        |  CAST(m_edges AS BIGINT) AS m_edges,
        |  CAST(CAST(q_num AS DECIMAL(38,0)) AS VARCHAR) AS q_num,
        |  CAST(CAST(q_den AS DECIMAL(38,0)) AS VARCHAR) AS q_den,
        |  CAST((CASE WHEN q_num < 0 THEN -1 ELSE 1 END)
        |       * ((abs(q_num) * 1000000) // q_den) AS BIGINT) AS q_e6
        |FROM a""".stripMargin,
    // q154: the q26 language CTE + q27 signal arithmetic + q60
    // duplicate-word CTE composed under the same CASE precedence.
    "q154_quality_gate" ->
      """WITH t AS (SELECT doc_id, text,
        |             string_split(text, ' ') AS w FROM documents),
        |sig AS (SELECT doc_id, len(w) AS n_words,
        |  len(list_filter(w, x -> x IN ('the','a','and','of','to','in','is','it'))) AS s_en,
        |  len(list_filter(w, x -> x IN ('der','die','das','und','ist','von','mit','zu'))) AS s_de,
        |  len(list_filter(w, x -> x IN ('el','la','de','que','y','en','un','es'))) AS s_es,
        |  len(list_filter(w, x -> x IN ('le','les','de','et','un','est','dans','que'))) AS s_fr
        |  FROM t),
        |lang AS (SELECT doc_id,
        |  CASE WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr THEN 'de'
        |       WHEN s_en >= s_es AND s_en >= s_fr THEN 'en'
        |       WHEN s_es >= s_fr THEN 'es' ELSE 'fr' END AS lang_pred,
        |  n_words,
        |  CAST(floor(1000000.0 * s_en / n_words) AS BIGINT) AS stop_e6
        |  FROM sig),
        |wc AS (SELECT doc_id, word, COUNT(*) AS cnt FROM
        |         (SELECT doc_id, unnest(string_split(text, ' ')) AS word
        |          FROM documents) GROUP BY 1, 2),
        |dup AS (SELECT doc_id,
        |  CAST(floor(1000000.0 * (SUM(cnt) - COUNT(*)) / SUM(cnt))
        |    AS BIGINT) AS dup_word_e6
        |  FROM wc GROUP BY doc_id)
        |SELECT l.doc_id,
        |  CASE WHEN lang_pred <> 'en' THEN 'non_en'
        |       WHEN n_words < 20 THEN 'too_short'
        |       WHEN dup_word_e6 > 650000 THEN 'repetitive'
        |       WHEN stop_e6 < 40000 THEN 'low_quality'
        |       ELSE 'keep' END AS verdict
        |FROM lang l JOIN dup USING (doc_id)
        |ORDER BY l.doc_id""".stripMargin
  )
}
