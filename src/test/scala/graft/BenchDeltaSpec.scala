package graft

import org.scalatest.funsuite.AnyFunSuite

/** The calibrated-wall regression gate's parsing and predicate — pinned
  * BEFORE the gate can fire for real (it compares against the previous
  * round's artifact, so the first live firing is a round after it
  * shipped; a parse bug would silently never flag). The fixture is the
  * exact shape Bench emits, including the neighbor keys the regex must
  * not bleed into.
  */
class BenchDeltaSpec extends AnyFunSuite {

  private val artifact =
    """{"metric":"total","value":397.7,"unit":"sec","round":15,""" +
      """"queries":{"q1_agg":0.35,"q2_filter":0.18},""" +
      """"calibrated_total_sec":302.7,""" +
      """"calibrated_queries":{"q1_agg":0.2731,"q2_filter":0.1402,""" +
      """"q269_curation_dag":9.4800},""" +
      """"calibration":{"ref":{"st_arith_mops":532.0},""" +
      """"sweep_factors":[0.7418,0.7820,0.7791]},""" +
      """"query_metrics":{"q1_agg":{"shuffle_write_bytes":509}}}"""

  test("parseCalibratedQueries reads exactly the calibrated map, not " +
       "the raw queries map or the calibration block") {
    val m = Bench.parseCalibratedQueries(artifact)
    assert(m === Map("q1_agg" -> 0.2731, "q2_filter" -> 0.1402,
                     "q269_curation_dag" -> 9.48))
  }

  test("parseCalibratedQueries is empty on a pre-r15 artifact (no " +
       "calibrated fields) — the gate skips, never throws") {
    val old = """{"metric":"total","value":411.0,"queries":{"q1_agg":0.3}}"""
    assert(Bench.parseCalibratedQueries(old) === Map.empty)
  }

  test("failedSincePrev names each failed query the previous artifact " +
       "timed, with its exception class, and no query it did not time") {
    val failures = Seq("q1_agg" -> "java.io.FileNotFoundException",
                       "q3_dim_join" -> "java.lang.IllegalStateException",
                       "q269_curation_dag" -> "java.lang.RuntimeException")
    // q269 sits only in the calibrated map: the raw `queries` map is
    // what the previous run timed
    assert(Bench.failedSincePrev(artifact, failures) ===
             Seq("q1_agg" -> "java.io.FileNotFoundException"))
    assert(Bench.failedSincePrev(artifact, Nil) === Nil)
    assert(Bench.failedSincePrev("", failures) === Nil)
  }

  test("wallRegressed needs BOTH >50% growth and >0.3 s absolute") {
    assert(Bench.wallRegressed(1.0, 1.6))        // 60% and +0.6 s
    assert(!Bench.wallRegressed(1.0, 1.45))      // only 45%
    assert(!Bench.wallRegressed(0.1, 0.35))      // 250% but +0.25 s
    assert(!Bench.wallRegressed(1.0, 1.0))
    assert(Bench.wallRegressed(0.3, 0.75))       // 150% and +0.45 s
  }
}
