package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

class DedupSkewSpec extends SparkSpec {
  import spark.implicits._

  test("saltedJoin returns exactly the plain join's rows") {
    // one hot key (1) with many rows + cold keys
    val left = ((1 to 500).map(i => (1L, i)) ++ Seq((2L, 1), (3L, 2)))
      .toDF("k", "v")
    val right = Seq((1L, "hot"), (2L, "cold"), (4L, "unmatched"))
      .toDF("k", "name")
    val salted = SkewOps.saltedJoin(left, right, Seq("k"), salts = 8)
      .select("k", "v", "name")
    val plain = left.join(right, Seq("k")).select("k", "v", "name")
    assert(salted.count() === plain.count())
    assert(salted.exceptAll(plain).isEmpty && plain.exceptAll(salted).isEmpty)
  }

  test("saltedJoin actually fans a hot key across multiple salt values") {
    val left = (1 to 200).map(i => (1L, i)).toDF("k", "v")
    val nSalts = left
      .withColumn("__salt",
        pmod(xxhash64(struct(col("k"), col("v"))), lit(8L)))
      .select("__salt").distinct().count()
    assert(nSalts > 1, "hash salt must spread a hot key's rows")
  }

  test("saltedJoin rejects join types that would duplicate unmatched rows") {
    val left = Seq((1L, 1)).toDF("k", "v")
    val right = Seq((2L, "r")).toDF("k", "name")
    val e = intercept[IllegalArgumentException] {
      SkewOps.saltedJoin(left, right, Seq("k"), salts = 4, joinType = "right")
    }
    assert(e.getMessage.contains("cannot preserve"))
    intercept[IllegalArgumentException] {
      SkewOps.saltedJoin(left, right, Seq("k"), salts = 4, joinType = "full_outer")
    }
    // left outer is safe: the skewed (preserved) side has exactly one salt
    val lo = SkewOps.saltedJoin(left, right, Seq("k"), salts = 4,
      joinType = "left").collect()
    assert(lo.length === 1 && lo(0).isNullAt(2))
  }

  test("checkpointed minhash variant returns exactly the cached variant's pairs") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("text"))
    val dir = java.nio.file.Files
      .createTempDirectory("graft-minhash-ckpt").toString
    val cached = Dedup
      .minhashDedupPairs(docs, "doc_id", "text", n = 3, num = 4, den = 5)
    // the default path deletes the sets table before returning, so this
    // compare also proves the pairs were materialized first
    val ckpt = Dedup.minhashDedupPairsCheckpointed(
      docs, "doc_id", "text", n = 3, num = 4, den = 5, checkpointDir = dir)
    assert(cached.count() === ckpt.count())
    assert(cached.exceptAll(ckpt).isEmpty && ckpt.exceptAll(cached).isEmpty)
    assert(!new java.io.File(dir).listFiles.exists(
      _.getName.startsWith("minhash_sets_")),
      "sets table must not leak one copy per invocation")
  }

  test("editDistance1Pairs equals the naive all-pairs levenshtein join") {
    // substitutions, an insertion/deletion pair, duplicates (dist 0),
    // a distance-2 pair that must NOT appear, and an empty string
    val keys = Seq(
      (1L, "alpha"), (2L, "alphb"),   // substitution
      (3L, "alph"),                   // deletion of 1/2
      (4L, "ralpha"),                 // insertion before 1
      (5L, "alpha"),                  // exact duplicate of 1
      (6L, "omega"), (7L, "omeka"),   // substitution
      (8L, "xx"), (9L, "yy"),         // distance 2 — excluded
      (10L, "")                       // empty; distance 1 to any 1-char key
    ).toDF("id", "k")
    val fast = Dedup.editDistance1Pairs(keys, "id", "k")
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val naive = keys.toDF("id_a", "k_a")
      .crossJoin(keys.toDF("id_b", "k_b"))
      .filter(col("id_a") < col("id_b") &&
        levenshtein(col("k_a"), col("k_b")) <= 1)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(fast === naive)
    assert(fast.contains((1L, 5L)) && fast.contains((1L, 3L)) &&
      fast.contains((1L, 4L)) && !fast.contains((8L, 9L)))
  }

  test("editDistance1Pairs: multi-key ids collapse to one row with min dist") {
    val keys = Seq(
      (1L, "alpha"), (1L, "alphx"),  // id 1 carries two keys
      (2L, "alpha")                  // dist 0 to one of them, 1 to the other
    ).toDF("id", "k")
    val out = Dedup.editDistance1Pairs(keys, "id", "k")
      .as[(Long, Long, Long)].collect()
    assert(out.toSeq === Seq((1L, 2L, 0L)),
      "one row per id pair, dist = the minimum across key combinations")
  }

  test("editDistance1Pairs maxVariantDf drops hot deletion variants only") {
    // "user1".."user5" all share the hot deletion variant "user" (df 5);
    // "omega"/"omeka" pair through low-df variants
    val keys = ((1 to 5).map(i => (i.toLong, s"user$i")) ++
      Seq((6L, "omega"), (7L, "omeka"))).toDF("id", "k")
    val exact = Dedup.editDistance1Pairs(keys, "id", "k")
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // exact recall: all C(5,2) user pairs + the omega pair
    assert(exact.size === 11 && exact.contains((6L, 7L)))
    val guarded = Dedup.editDistance1Pairs(keys, "id", "k", maxVariantDf = 4)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // userN keys differ pairwise only via the dropped "user" variant;
    // the cold omega pair must survive
    assert(guarded === Set((6L, 7L)))
  }

  test("maxShingleDf drops shingles above the document-frequency cap") {
    // 'x y z' appears in all 4 docs (hot); 'a b c' in only 2
    val docs = Seq(
      (1L, "x y z a b c"),
      (2L, "x y z a b c"),
      (3L, "x y z q r s"),
      (4L, "x y z t u v")
    ).toDF("doc_id", "text")
    val uncapped = Dedup.shinglePostings(docs, "doc_id", "text", n = 3)
    val capped = Dedup.shinglePostings(docs, "doc_id", "text", n = 3,
      maxShingleDf = 2)
    val cappedShingles = capped.select("shingle").distinct()
      .as[String].collect().toSet
    assert(!cappedShingles.contains("x y z"), "hot shingle must be dropped")
    assert(cappedShingles.contains("a b c"), "df=2 shingle must survive")
    assert(capped.count() < uncapped.count())
  }

  test("duplicatedSpans: cross-doc spans only, min-id keeper, " +
       "within-doc repeats count once") {
    val docs = Seq(
      (10L, "a b c d e f"),        // spans: 'a b c d e', 'b c d e f'
      (20L, "x a b c d e"),        // shares 'a b c d e'
      (30L, "p q r s t p q r s t") // repeats its span within one doc
    ).toDF("doc_id", "text")
    val got = Dedup.duplicatedSpans(docs, "doc_id", "text", n = 5)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == Seq(("a b c d e", 2L, 10L)),
      s"only the cross-doc span, keeper = min doc id; got ${got.toSeq}")
  }

  test("trimDuplicatedSpans: keeper keeps, others lose covered words") {
    val docs = Seq(
      (10L, "a b c d e f"),  // keeper of 'a b c d e' (min id): untouched
      (20L, "x a b c d e"),  // loses positions 1-5 -> "x"
      (30L, "u v w y z")     // no duplicated span: untouched
    ).toDF("doc_id", "text")
    val got = Dedup.trimDuplicatedSpans(docs, "doc_id", "text", n = 5)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    def m(s: String) = org.apache.commons.codec.digest.DigestUtils.md5Hex(s)
    assert(got.toSeq === Seq(
      (10L, 6L, 0L, m("a b c d e f")),
      (20L, 6L, 5L, m("x")),
      (30L, 5L, 0L, m("u v w y z"))))
  }

  test("trimDuplicatedSpans: fully-covered doc trims to the empty digest;" +
       " overlapping spans union their coverage") {
    val docs = Seq(
      (1L, "a b c d e"),         // keeper of 'a b c d e'
      (2L, "a b c d e"),         // fully covered -> ''
      (3L, "q a b c d e f g h"), // 'a b c d e' covered; rest survives
      (4L, "b c d e f g h q")    // shares 'b c d e f','c d e f g',... with 3
    ).toDF("doc_id", "text")
    val got = Dedup.trimDuplicatedSpans(docs, "doc_id", "text", n = 5)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getString(3)))
    def m(s: String) = org.apache.commons.codec.digest.DigestUtils.md5Hex(s)
    // doc3 keeps 'q' plus is the keeper of the b..h span family it
    // shares with doc4 (min id 3), so only 'a b c d e' is trimmed;
    // doc4's three covering spans union to positions 0-6, its trailing
    // 'q' is in no duplicated span and survives
    assert(got.toSeq === Seq(
      (1L, 0L, m("a b c d e")),
      (2L, 5L, m("")),
      (3L, 5L, m("q f g h")),
      (4L, 7L, m("q"))))
  }
}
