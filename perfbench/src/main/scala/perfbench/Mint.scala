package perfbench

import java.nio.file.{Files, Paths}

/** Mints `queries/hashes.tsv` for both query lists at the current tree.
  *
  *   perfbench.Mint        (from the checkout root, through run.py --mint)
  *
  * Run it twice: on the second run a query whose hash differs from the
  * first is recorded as rows-only, and only its row count is checked.
  */
object Mint {
  def main(argv: Array[String]): Unit = {
    val root = Paths.get("").toAbsolutePath
    val out = root.resolve("perfbench/queries/hashes.tsv")
    val prior = if (Files.exists(out)) QueryHash.load(out) else Map.empty[String, (String, Long)]
    val names = Main.querySet(root, "iterative") ++ Main.querySet(root, "short")
    val spark = Main.session(root, Runtime.getRuntime.availableProcessors())
    val data = root.resolve("perfbench/data/sf0.001").toString
    try {
      val lines = names.map { q =>
        val rows = graft.SparkEntry.queries(q)(spark, data).collect().toSeq
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
        val h = QueryHash.of(rows)
        val kept = prior.get(q) match {
          case Some((p, n)) if p != h || n != rows.size => QueryHash.RowsOnly
          case _ => h
        }
        println(s"$q $kept ${rows.size}")
        s"$q\t$kept\t${rows.size}"
      }
      Files.write(out, ("# query\thash (or rows-only)\trows; written by perfbench.Mint\n" +
        lines.mkString("\n") + "\n").getBytes("UTF-8"))
    } finally spark.stop()
  }
}
