package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` is the union of the per-domain packs; every entry with a
  * SQL-expressible semantics also appears in `oracleSql` (same key, same
  * output column names) for the driver's DuckDB hash-compare.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    RelationalQueries.q1Agg(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    RelationalQueries.queries ++ SemanticQueries.queries ++
      PipelineQueries.queries ++ AdvancedQueries.queries ++
      ChessQueries.queries ++ CurationQueries.queries

  /** The queries named with any of `prefixes` (blank ones ignored; none
    * = all), in SUITE ORDER: ascending id (q1 … qN), name tiebreak, not
    * `queries`' hash order. No name is a prefix of another, so a full
    * name selects exactly its query; `q24_`, not `q24`, skips q240…q249.
    */
  def select(prefixes: Seq[String])
      : Seq[(String, (SparkSession, String) => DataFrame)] = {
    val keep = prefixes.map(_.trim).filter(_.nonEmpty)
    val id = "q(\\d+)".r
    queries.toSeq
      .filter { case (n, _) => keep.isEmpty || keep.exists(n.startsWith) }
      .sortBy { case (n, _) =>
        (id.findPrefixMatchOf(n).map(_.group(1).toInt)
           .getOrElse(Int.MaxValue), n)
      }
  }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted keys → driver rows-only check.
    */
  def oracleSql: Map[String, String] =
    RelationalQueries.oracleSql ++ SemanticQueries.oracleSql ++
      PipelineQueries.oracleSql ++ AdvancedQueries.oracleSql ++
      ChessQueries.oracleSql ++ CurationQueries.oracleSql
}
