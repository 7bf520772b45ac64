package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.Levenshtein
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** [[LevenshteinThresholdRewrite]] — every graft session carries the
  * rule, so the naive comparison must become the threshold kernel in the
  * optimized plan, with identical results (including nulls and the
  * literal-first mirrors) to the naive plan that excluding the rule
  * gives, and already-thresholded or negative-literal forms must pass
  * through untouched.
  */
class LevenshteinThresholdRewriteSpec extends SparkSpec {
  import spark.implicits._

  private val Excluded = "spark.sql.optimizer.excludedRules"

  /** Plans `f`'s frames without the rule: the naive baseline. */
  private def withoutRule[A](f: => A): A = {
    spark.conf.set(Excluded, LevenshteinThresholdRewrite.ruleName)
    try f
    finally spark.conf.unset(Excluded)
  }

  // a real (parquet) source: over a LocalRelation, pushdown +
  // ConvertToLocalRelation fold the filter away before the rewrite has
  // a plan node to fire on
  private lazy val fixturePath: String = {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-lev-rewrite").toString
    Seq(
      (1L, "kettle", "kettle"),   // dist 0
      (2L, "kettle", "kettles"),  // dist 1
      (3L, "kettle", "kattles"),  // dist 2
      (4L, "kettle", "cauldron"), // far
      (5L, null.asInstanceOf[String], "kettle"), // null left
      (6L, "kettle", null.asInstanceOf[String])) // null right
      .toDF("id", "x", "y")
      .write.mode("overwrite").parquet(dir)
    dir
  }

  private def fixture: DataFrame = spark.read.parquet(fixturePath)

  /** Levenshtein nodes across EVERY plan node (`.expressions` alone
    * reads only the root's). */
  private def levNodes(df: DataFrame): Seq[Levenshtein] =
    df.queryExecution.optimizedPlan
      .collect { case n => n.expressions }.flatten
      .flatMap(_.collect { case l: Levenshtein => l })

  private def thresholded(df: DataFrame): Seq[Levenshtein] =
    levNodes(df).filter(_.threshold.isDefined)

  private def bare(df: DataFrame): Seq[Levenshtein] =
    levNodes(df).filter(_.threshold.isEmpty)

  test("<=, <, =, and their literal-first mirrors rewrite to the " +
       "threshold form with identical results") {
    val cases: Seq[(String, Set[Long])] = Seq(
      ("levenshtein(x, y) <= 1" -> Set(1L, 2L)),
      ("levenshtein(x, y) < 2"  -> Set(1L, 2L)),
      ("levenshtein(x, y) = 2"  -> Set(3L)),
      ("1 >= levenshtein(x, y)" -> Set(1L, 2L)),
      ("2 > levenshtein(x, y)"  -> Set(1L, 2L)),
      ("2 = levenshtein(x, y)"  -> Set(3L)),
      // lower bounds — the "keep only non-duplicates" direction
      ("levenshtein(x, y) > 1"  -> Set(3L, 4L)),
      ("levenshtein(x, y) >= 2" -> Set(3L, 4L)),
      ("1 < levenshtein(x, y)"  -> Set(3L, 4L)),
      ("2 <= levenshtein(x, y)" -> Set(3L, 4L)))
    for ((pred, expected) <- cases) {
      val df = fixture.filter(expr(pred)).select("id")
      assert(thresholded(df).nonEmpty, s"$pred must rewrite")
      assert(bare(df).isEmpty, s"$pred must leave no bare levenshtein")
      assert(df.as[Long].collect().toSet === expected, pred)
    }
    // identical rows WITHOUT the rule (the equivalence itself)
    for ((pred, expected) <- cases) withoutRule {
      val df = fixture.filter(expr(pred)).select("id")
      assert(bare(df).nonEmpty, s"$pred stays bare without the rule")
      assert(df.as[Long].collect().toSet === expected, pred)
    }
  }

  test("rewrite applies inside join conditions") {
    val a = fixture.select(col("id").as("ia"), col("x"))
    val b = fixture.select(col("id").as("ib"), col("y"))
    val j = a.join(b, expr("levenshtein(x, y) <= 1") &&
                      col("ia") =!= col("ib"))
    assert(thresholded(j).nonEmpty, "join condition must rewrite")
    assert(j.count() > 0)
  }

  test("already-thresholded and negative-literal forms pass through") {
    val t = fixture.filter(expr("levenshtein(x, y, 1) >= 0"))
    assert(thresholded(t).size === 1 && bare(t).isEmpty,
      "already-thresholded is untouched (idempotence)")
    // k < 0: constant behavior differs (threshold must be >= 0), so
    // the rule must not touch it; Catalyst folds it to empty anyway
    val n = fixture.filter(expr("levenshtein(x, y) <= -1"))
    assert(n.count() === 0)
    assert(thresholded(n).isEmpty, "negative k must not rewrite")
  }

  test("non-comparison uses are untouched") {
    val p = fixture.select(expr("levenshtein(x, y)").as("d"))
    assert(bare(p).size === 1 && thresholded(p).isEmpty)
  }
}
