package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dev tool: materialize a `mult`×-inflated copy of an sf dir to disk
  * so the FULL bench harness (min-of-N sweeps, per-sweep byte arrays,
  * contention gates) can run a growth-curve sweep at a scale the
  * driver does not provision (r11 verdict #2 — "the suite has only
  * ever been validated at sf0.01/sf0.1; the brief's question is 100×
  * behavior"). sf0.1 × 10 ≈ the sf1.0 the environment lacks.
  *
  * Inflation discipline, applied to every table with FOREIGN KEYS
  * KEPT CONSISTENT: the whole database
  * universe is replicated `mult` times, every key column remapped
  * `k·mult + copy`, so copy c of every table joins exactly copy c of
  * every other — join fan-outs and cardinality ratios are preserved,
  * sizes scale by `mult`. `documents.text` keeps copy 0 verbatim and
  * appends a per-copy perturbation token to later copies (near-dup
  * families of size `mult` — the STRESS regime for the dedup family:
  * every 25-gram of every document is corpus-duplicated, so
  * exact-substring operators see worst-case coverage; growth numbers
  * there are upper bounds, stated as such in SURVEY §9).
  *
  *   runMain graft.tools.ScaleSynth <mult> <outDir> [srcDir]
  *
  * mult = 1 reproduces the source tables through the same writer
  * (identical content modulo k·1+0 = k id remap), giving the
  * apples-to-apples reference point for growth ratios.
  */
object ScaleSynth {

  private val keyCols: Map[String, Seq[String]] = Map(
    "region" -> Seq("r_regionkey"),
    "nation" -> Seq("n_nationkey", "n_regionkey"),
    "customer" -> Seq("c_custkey", "c_nationkey"),
    "supplier" -> Seq("s_suppkey", "s_nationkey"),
    "part" -> Seq("p_partkey"),
    "orders" -> Seq("o_orderkey", "o_custkey"),
    "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
    "events" -> Seq("event_id", "user_id"),
    "documents" -> Seq("doc_id"),
    "embeddings" -> Seq("vec_id"))

  def inflate(spark: SparkSession, srcDir: String, table: String,
              mult: Int): DataFrame = {
    val src = spark.read.parquet(s"$srcDir/$table.parquet")
    val copies = spark.range(mult).select(col("id").as("__copy"))
    var df = src.crossJoin(copies)
    for (k <- keyCols(table)) {
      val ty = src.schema(k).dataType
      df = df.withColumn(
        k, (col(k).cast("long") * mult + col("__copy")).cast(ty))
    }
    if (table == "documents") {
      df = df
        .withColumn("text",
          when(col("__copy") === 0, col("text"))
            .otherwise(concat(col("text"), lit(" perturbcopy"),
                              col("__copy").cast("string"))))
        .withColumn("n_chars", length(col("text")).cast("long"))
    }
    df.drop("__copy")
  }

  def main(args: Array[String]): Unit = {
    val mult = args(0).toInt
    val outDir = args(1)
    val srcDir = args.lift(2).getOrElse("/root/testdata/sf0.1")
    val spark = graft.GraftSession.local("scale-synth")
    spark.sparkContext.setLogLevel("WARN")
    for (t <- keyCols.keys.toSeq.sorted) {
      val df = inflate(spark, srcDir, t, mult)
      // one file per table keeps the layout comparable to the driver's
      // testdata (single parquet per table)
      df.coalesce(math.max(1, mult / 2))
        .write.mode("overwrite").parquet(s"$outDir/$t.parquet")
      println(s"[synth] $t x$mult -> $outDir/$t.parquet " +
        s"(${spark.read.parquet(s"$outDir/$t.parquet").count()} rows)")
    }
    spark.stop()
  }
}
