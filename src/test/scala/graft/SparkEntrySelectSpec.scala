package graft

import org.scalatest.funsuite.AnyFunSuite

/** [[SparkEntry.select]] is the one rule every main that runs the suite
  * picks and orders its queries by (Bench's SPARK_GRAFT_ONLY, Verify's
  * arg 3, Inspect's prefixes).
  */
class SparkEntrySelectSpec extends AnyFunSuite {

  private def id(name: String): Int =
    "q(\\d+)".r.findPrefixMatchOf(name).get.group(1).toInt

  test("no query name is a prefix of another, so a full name selects " +
       "exactly that query") {
    val names = SparkEntry.queries.keys.toSeq
    val clashes = for {
      a <- names; b <- names if a != b && b.startsWith(a)
    } yield s"$a < $b"
    assert(clashes.isEmpty)
  }

  test("select(Nil) returns all 282 queries in ascending id") {
    val names = SparkEntry.select(Nil).map(_._1)
    assert(names.size === 282)
    assert(names.toSet === SparkEntry.queries.keySet)
    assert(names.map(id) === names.map(id).sorted)
  }

  test("select(Seq(\"q24_\")) returns no q240…q249") {
    val names = SparkEntry.select(Seq("q24_")).map(_._1)
    assert(names.nonEmpty)
    assert(names.forall(id(_) == 24))
  }

  test("select(Seq(\"q1_agg\")) returns exactly q1_agg, and blank " +
       "prefixes are ignored") {
    assert(SparkEntry.select(Seq("q1_agg")).map(_._1) === Seq("q1_agg"))
    assert(SparkEntry.select(Seq(" q1_agg ", "")).map(_._1) === Seq("q1_agg"))
  }

  test("a prefix list selects in suite order, not argument order") {
    val names = SparkEntry.select(Seq("q157_", "q1_agg")).map(_._1)
    assert(names === Seq("q1_agg", "q157_bfs_hops"))
  }
}
