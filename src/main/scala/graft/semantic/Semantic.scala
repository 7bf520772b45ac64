package graft.semantic

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Minimal semantic layer reproducing the reference BI model's query
  * shape (SURVEY.md §3.3): named measures evaluated under an arbitrary
  * conjunction of slicer filters, with optional Top-N-by-measure dimension
  * filters whose rank itself respects the other active filters. It is the
  * generic form the q17–q19 queries drive over `orders`; the chess
  * measures A1–A11 are not [[Measure]]s but counter readers in the
  * [[Dashboard]] companion, which uses only [[FilterContext]] from here.
  *
  * Plans are composed lazily (`FilterContext => DataFrame`) — nothing is
  * materialized per visual, so Catalyst sees ONE tree per query and pushes
  * the merged filters all the way into the scan.
  */
final case class Measure(name: String, expr: Column) {
  def named: Column = expr.as(name)
}

/** Conjunction of active slicer filters (SURVEY.md §2.4 F5/F6). */
final case class FilterContext(predicates: Seq[Column] = Nil) {
  def and(p: Column): FilterContext = FilterContext(predicates :+ p)
  def dateBetween(dateCol: Column, from: String, to: String): FilterContext =
    and(dateCol.between(lit(from), lit(to)))
  def in(col: Column, values: Seq[String]): FilterContext =
    and(col.isin(values: _*))
  def apply(df: DataFrame): DataFrame = predicates.foldLeft(df)(_ filter _)
}

object FilterContext { val empty: FilterContext = FilterContext() }

/** A queryable model over one fact table. */
final class SemanticModel(fact: DataFrame) {

  /** Evaluate measures grouped by `dims` under `ctx` (the BI cross-filter
    * semantics: filters apply before aggregation). No dims → one global row
    * (the KPI-cards query).
    */
  def query(dims: Seq[Column], measures: Seq[Measure],
            ctx: FilterContext = FilterContext.empty): DataFrame = {
    val filtered = ctx(fact)
    if (dims.isEmpty) filtered.agg(measures.head.named, measures.tail.map(_.named): _*)
    else filtered.groupBy(dims: _*)
      .agg(measures.head.named, measures.tail.map(_.named): _*)
  }

  /** F7/F8: evaluate measures grouped by `dim`, keeping only the Top-N dim
    * values ranked by `rankMeasure` (computed under the SAME ctx), ties
    * broken by the dim ascending. One aggregate carries the measures and
    * the rank under a private alias; the sort-limit then reads that
    * aggregate, so the fact is scanned and shuffled once.
    */
  def topNQuery(dim: Column, dimName: String, n: Int, rankMeasure: Measure,
                measures: Seq[Measure],
                ctx: FilterContext = FilterContext.empty): DataFrame = {
    val rank = "__topn_rank"
    ctx(fact).groupBy(dim.as(dimName))
      .agg(rankMeasure.expr.as(rank), measures.map(_.named): _*)
      .orderBy(col(rank).desc, col(dimName).asc)
      .limit(n)
      .drop(rank)
  }
}
