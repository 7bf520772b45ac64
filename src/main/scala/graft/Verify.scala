package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // arg 3: comma-separated name PREFIXES (one prefix = the classic
    // single-query form; a list drives the synth-ladder subset gates).
    val (sfDir, outDir, prefixes) = args match {
      case Array(s, o)       => (s, o, Nil)
      case Array(s, o, pref) => (s, o, pref.split(",").toSeq)
    }
    val spark = GraftSession
      .builder("graft-verify", GraftSession.envCores(4)).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    val failures = SparkEntry.select(prefixes)
      .flatMap { case (name, fn) =>
        try {
          fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          None
        } catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          Some(name -> e)
        }
      }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Always written (`{}` when every query passed), so a reader can
    // tell a clean run from one whose failures only reached stderr.
    val failuresJson = failures.map { case (name, e) =>
      s"${q(name)}: {\"class\": ${q(e.getClass.getName)}, " +
        s"\"message\": ${q(String.valueOf(e.getMessage))}}"
    }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/failures.json"), failuresJson)
    spark.stop()
  }
}
