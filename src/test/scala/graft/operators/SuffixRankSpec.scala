package graft.operators

import graft.SparkSpec

/** Contracts of [[SuffixRank]]: rank parity with a brute-force sort of
  * capped suffix strings (cross-doc, banana-style self-repeats, equal
  * docs forcing the (doc, pos) tie-break), early-exit equivalence, and
  * the SA-adjacency dup profile against brute-force repeat search.
  */
class SuffixRankSpec extends SparkSpec {
  import spark.implicits._

  private def bruteRanks(rows: Seq[(Long, String)], cap: Int) =
    rows.flatMap { case (id, t) =>
      (1 to t.length).map(p =>
        (t.substring(p - 1, math.min(t.length, p - 1 + cap)), id, p.toLong))
    }.sorted.zipWithIndex
      .map { case ((_, id, p), i) => (id, p, i + 1L) }
      .sortBy(x => (x._1, x._2))

  private def ranksOf(rows: Seq[(Long, String)], cap: Int) =
    SuffixRank.ranks(rows.toDF("doc_id", "text"), "doc_id", "text", cap)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(x => (x._1, x._2)).toSeq

  test("ranks match a brute-force suffix sort (self-repeats, " +
       "cross-doc shares, exact-duplicate docs)") {
    val rows = Seq(1L -> "banana", 2L -> "bandana", 3L -> "banana",
                   4L -> "", 5L -> "a")
    assert(ranksOf(rows, cap = 8) == bruteRanks(rows, cap = 8))
  }

  test("capped comparisons: order beyond the cap falls back to " +
       "(doc_id, pos)") {
    // two docs equal in the first 4 chars, different after — with
    // cap = 4 the tie breaks by doc id, not by the later text
    val rows = Seq(1L -> "abcdZZ", 2L -> "abcdAA")
    assert(ranksOf(rows, cap = 4) == bruteRanks(rows, cap = 4))
  }

  test("early exit (all ranks distinct before the cap) changes nothing") {
    val rows = Seq(1L -> "abcdefgh") // all suffixes differ at char 1
    assert(ranksOf(rows, cap = 64) == bruteRanks(rows, cap = 64))
    // The exit can also fire in the LAST doubling round, after the
    // loop has re-laid r out by doc (keyedByDoc) between rounds. Ranks
    // start at level 16 and double to the cap, so a cap of 128 gives
    // three doubling rounds (16 -> 32 -> 64 -> 128). A 96-char block
    // shared by docs 1 and 2 ties suffixes up to level 64; every
    // capped suffix differs at level 128, so only the third round
    // makes all ranks distinct and the finalize pass is skipped. Each
    // doc ends in its own digit so short tail suffixes never tie
    // across docs.
    val rnd = new scala.util.Random(42)
    def ab(len: Int) = Seq.fill(len)(if (rnd.nextBoolean()) 'a' else 'b').mkString
    val shared = ab(96)
    val big = Seq(1L -> (ab(300) + shared + "a" + ab(200) + "1"),
                  2L -> (ab(250) + shared + "b" + ab(150) + "2"),
                  3L -> (ab(120) + "3"))
    val capped = (l: Int) => big.flatMap { case (_, t) =>
      t.indices.map(i => t.substring(i, math.min(t.length, i + l))) }
    assert(capped(128).size >= 1000)
    assert(capped(128).distinct.size == capped(128).size)
    assert(capped(64).distinct.size < capped(64).size)
    assert(ranksOf(big, cap = 128) == bruteRanks(big, cap = 128))
  }

  test("adjacentDupStats: max repeated-substring length per doc, " +
       "saturation at the cap, zero-fill") {
    val rows = Seq(
      1L -> "xxABCDEFyy",   // shares ABCDEF with doc 2
      2L -> "qqABCDEFpp",
      3L -> "zzzzzzzz",     // self-repeat: zzzzzzz (len-1 = 7)
      4L -> "unique!")      // nothing repeated >= 2 chars... ("u" vs?)
    val got = SuffixRank.adjacentDupStats(
        rows.toDF("doc_id", "text"), "doc_id", "text",
        capChars = 8, minLen = 6)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
      .sortBy(_._1).toSeq
    // brute-force: longest substring of each doc occurring >= 2 times
    // corpus-wide (capped at 8)
    def longestRepeat(d: Long): Long = {
      val all = rows.flatMap { case (id, t) =>
        (0 until t.length).map(i => (id, t.drop(i))) }
      val t = rows.toMap.apply(d)
      (math.min(8, t.length) to 1 by -1).find { l =>
        (0 to t.length - l).exists { i =>
          val sub = t.substring(i, i + l)
          all.count { case (id2, sfx) => sfx.startsWith(sub) } >= 2
        }
      }.map(_.toLong).getOrElse(0L)
    }
    rows.foreach { case (id, _) =>
      val row = got.find(_._1 == id).get
      assert(row._2 == longestRepeat(id), s"doc $id")
      assert(row._3 == (row._2 >= 6L))
    }
  }
}
