package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Contracts of [[ZoneMapScan]] — the pruned reader path must (a) be
  * ROW-INVISIBLE (pruned scan + residual filter ≡ full scan + filter on
  * any layout), (b) actually SKIP: on a clustered layout the pruned
  * scan reads strictly fewer bytes than the full scan (task input
  * metrics, not file-count arithmetic), and (c) never prune what it
  * cannot prove (null zones survive; intersecting zones survive).
  */
class ZoneMapScanSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(name: String): String =
    System.getProperty("java.io.tmpdir") + s"/graft_zmspec_$name"

  /** Total task-level bytes read while running `body`. */
  private def bytesRead(body: => Unit): Long =
    graft.obs.Meter.during(spark)(body)._2.inputBytes

  private val rows = (1L to 4000L).map(i => (i, i % 97, s"payload_$i"))

  test("pruned scan reads strictly fewer bytes on a clustered layout " +
       "and returns row-identical results") {
    val path = tmp("clustered")
    ZoneMapScan.writeClustered(rows.toDF("k", "v", "pad"), path,
                               Seq("k"), numFiles = 16)
    val zones = ZoneMapScan.buildZoneMap(spark, path, "k")
    assert(zones.count() == 16)
    val files = ZoneMapScan.pruneFiles(zones, lit(100L), lit(400L))
    assert(files.nonEmpty && files.size < 16,
           s"expected a strict subset, got ${files.size}/16")
    val schema = spark.read.parquet(path).schema
    val prunedBytes = bytesRead {
      ZoneMapScan.prunedRead(spark, files, schema)
        .filter(col("k").between(100L, 400L)).count()
    }
    val fullBytes = bytesRead {
      spark.read.parquet(path)
        .filter(col("k").between(100L, 400L)).count()
    }
    assert(prunedBytes > 0 && prunedBytes < fullBytes,
           s"pruned=$prunedBytes full=$fullBytes")
    val got = ZoneMapScan.prunedRead(spark, files, schema)
      .filter(col("k").between(100L, 400L))
      .select("k", "v").collect().map(r => (r.getLong(0), r.getLong(1)))
      .sorted.toSeq
    val want = rows.filter(r => r._1 >= 100 && r._1 <= 400)
      .map(r => (r._1, r._2)).sorted
    assert(got == want)
  }

  test("scan() composes prune + residual filter; out-of-domain " +
       "predicate reads zero files but types the empty frame") {
    val path = tmp("scan")
    ZoneMapScan.writeClustered(rows.toDF("k", "v", "pad"), path,
                               Seq("k"), numFiles = 8)
    val (hit, nRead, nTotal) =
      ZoneMapScan.scan(spark, path, "k", lit(1L), lit(50L))
    assert(nTotal == 8 && nRead < 8 && nRead >= 1)
    assert(hit.count() == 50)
    val (miss, nRead2, _) =
      ZoneMapScan.scan(spark, path, "k", lit(99999L), lit(999999L))
    assert(nRead2 == 0)
    assert(miss.count() == 0 && miss.columns.toSeq ==
      Seq("k", "v", "pad"))
  }

  test("a hash-scattered layout prunes nothing — and is still correct") {
    val path = tmp("hashed")
    // scatter: write partitioned by a hash, zones all span the domain
    rows.toDF("k", "v", "pad").repartition(8, pmod(col("k"), lit(8)))
      .write.mode("overwrite").parquet(path)
    val zones = ZoneMapScan.buildZoneMap(spark, path, "k")
    val files = ZoneMapScan.pruneFiles(zones, lit(100L), lit(400L))
    assert(files.size == zones.count(),
           "hash layout: every file intersects the range")
    val schema = spark.read.parquet(path).schema
    val n = ZoneMapScan.prunedRead(spark, files, schema)
      .filter(col("k").between(100L, 400L)).count()
    assert(n == 301L)
  }

  test("footer-statistics map ≡ scan-built map row-for-row (long, " +
       "date, and string zones; all-null files carry null zones)") {
    // long zone, clustered
    val pL = tmp("foot_long")
    ZoneMapScan.writeClustered(rows.toDF("k", "v", "pad"), pL,
                               Seq("k"), numFiles = 8)
    def sortedRows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("file").collect().map(_.toSeq).toSeq
    assert(sortedRows(ZoneMapScan.buildZoneMapFromFooters(spark, pL, "k"))
             == sortedRows(ZoneMapScan.buildZoneMap(spark, pL, "k")))
    // date + string zones in one table (covers INT32/date and
    // BINARY/UTF8 statistics decoding), plus one all-null date file
    val pD = tmp("foot_date")
    val dRows = (1 to 300).map { i =>
      (i.toLong,
       if (i <= 100) null
       else java.sql.Date.valueOf(java.time.LocalDate
         .ofEpochDay(19000L + i % 37)),
       s"s_${i % 53}%02d")
    }
    dRows.toDF("id", "d", "s")
      // id-ranged files: file 0 = the all-null-date ids 1..100
      .repartitionByRange(3, col("id"))
      .sortWithinPartitions("id")
      .write.mode("overwrite").parquet(pD)
    for (zc <- Seq("d", "s"))
      assert(sortedRows(ZoneMapScan.buildZoneMapFromFooters(spark, pD, zc))
               == sortedRows(ZoneMapScan.buildZoneMap(spark, pD, zc)),
             s"footer map != scan map for zone column $zc")
  }

  test("footer build reads no data bytes (the scan build's full column " +
       "read collapses to per-file metadata)") {
    val path = tmp("foot_bytes")
    ZoneMapScan.writeClustered(rows.toDF("k", "v", "pad"), path,
                               Seq("k"), numFiles = 8)
    val footerBytes = bytesRead {
      ZoneMapScan.buildZoneMapFromFooters(spark, path, "k").collect()
    }
    val scanBytes = bytesRead {
      ZoneMapScan.buildZoneMap(spark, path, "k").collect()
    }
    // footer reads go through ParquetFileReader directly, not a Spark
    // input format, so task input metrics see (at most) the tiny
    // driver-listed path dataset; the scan build reads the data files
    assert(scanBytes > 0 && footerBytes < scanBytes / 10,
           s"footer=$footerBytes scan=$scanBytes")
  }

  test("footer build handles int64-timestamp zones and fails loud on " +
       "unsupported types (decimal's unscaled stats, legacy INT96)") {
    val path = tmp("foot_ts")
    // TIMESTAMP_NTZ (LocalDateTime) always writes INT64 micros; the
    // driver's testdata timestamps are the same physical shape
    Seq((1L, java.time.LocalDateTime.of(1995, 11, 20, 1, 2, 3),
         BigDecimal("1.23")),
        (2L, java.time.LocalDateTime.of(1996, 2, 1, 4, 5, 6),
         BigDecimal("4.56")))
      .toDF("id", "ts", "dec").write.mode("overwrite").parquet(path)
    def sortedRows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("file").collect().map(_.toSeq).toSeq
    assert(sortedRows(ZoneMapScan.buildZoneMapFromFooters(spark, path, "ts"))
             == sortedRows(ZoneMapScan.buildZoneMap(spark, path, "ts")))
    // decimal statistics are UNSCALED ints — rendering them would cast
    // to the wrong number, so the footer build must refuse
    val e = intercept[org.apache.spark.SparkException] {
      ZoneMapScan.buildZoneMapFromFooters(spark, path, "dec").collect()
    }
    assert(e.getMessage != null)
    // legacy INT96 timestamps: parquet itself distrusts INT96 min/max
    // ordering (parquet-mr ignores those stats) — must refuse, never
    // trust them
    val p96 = tmp("foot_ts96")
    Seq((1L, new java.sql.Timestamp(1000L)))
      .toDF("id", "ts").write.mode("overwrite").parquet(p96)
    val e96 = intercept[org.apache.spark.SparkException] {
      ZoneMapScan.buildZoneMapFromFooters(spark, p96, "ts").collect()
    }
    assert(e96.getMessage != null)
  }

  test("a row group without usable statistics poisons the whole file " +
       "to a null zone — partial envelopes must never prune (ADVICE r12)") {
    // parquet-mr OMITS footer statistics for a row group whose rendered
    // min+max exceed 4 KB (ParquetMetadataConverter.MAX_STATS_SIZE), so
    // one >4 KB key in the last row group yields exactly the mixed file
    // the contract is about: earlier groups statted, last group not.
    // Folding only the statted groups would give envelope
    // [k00001, k02999] and the "zz…" probe below would wrongly prune.
    val path = tmp("partialstats")
    val big = "zz" + ("x" * 5000)
    val data = (1 to 2999).map(i => (f"k$i%05d", i.toLong)) :+ (big, 9999L)
    data.toDF("k", "v")
      .coalesce(1)
      .sortWithinPartitions("k")
      .write.mode("overwrite")
      .option("parquet.block.size", 16384)
      .parquet(path)
    // precondition: the layout really is one file with >= 2 row groups,
    // statted early groups and an unstatted last one — otherwise this
    // test is vacuously green and must fail loud instead.
    import org.apache.hadoop.fs.Path
    import scala.jdk.CollectionConverters._
    val fs = new Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val pf = fs.listStatus(new Path(path)).map(_.getPath)
      .filter(_.getName.endsWith(".parquet")).toSeq
    assert(pf.size == 1, s"expected one file, got ${pf.size}")
    val footer = org.apache.parquet.hadoop.ParquetFileReader.readFooter(
      spark.sparkContext.hadoopConfiguration, pf.head,
      org.apache.parquet.format.converter.ParquetMetadataConverter.NO_FILTER)
    val colIdx = footer.getFileMetaData.getSchema.getFieldIndex("k")
    val statted = footer.getBlocks.asScala.map { b =>
      val st = b.getColumns.get(colIdx).getStatistics
      st != null && !st.isEmpty && st.hasNonNullValue
    }
    assert(statted.size >= 2,
           s"need >= 2 row groups to exercise the mixed case, " +
             s"got ${statted.size} — shrink parquet.block.size")
    assert(statted.count(identity) >= 1 && statted.contains(false),
           s"need a MIXED statted/unstatted file, got $statted")
    val zones = ZoneMapScan.buildZoneMapFromFooters(spark, path, "k")
    val z = zones.collect()
    assert(z.length == 1)
    assert(z(0).isNullAt(z(0).fieldIndex("zone_min")) &&
             z(0).isNullAt(z(0).fieldIndex("zone_max")),
           s"partial stats must degrade to a null zone, got ${z(0)}")
    assert(z(0).getLong(z(0).fieldIndex("n_rows")) == 3000L)
    // the null zone survives pruning, and the composed scan still
    // returns the row the partial envelope would have hidden
    val kept = ZoneMapScan.pruneFiles(zones, lit("zz"), lit("zzzz"))
    assert(kept.size == 1, "null-zone file must never be pruned")
    val (out, nRead, nTotal) =
      ZoneMapScan.scan(spark, path, "k", lit("zz"), lit("zzzz"))
    assert(nRead == 1 && nTotal == 1)
    assert(out.select("v").collect().map(_.getLong(0)).toSeq == Seq(9999L))
  }

  test("null zones survive pruning (a file of all-null keys may match " +
       "nothing, but pruning must not decide that)") {
    val zones = Seq(
      ("f_null", null.asInstanceOf[java.lang.Long],
       null.asInstanceOf[java.lang.Long], 10L),
      ("f_low", java.lang.Long.valueOf(1L),
       java.lang.Long.valueOf(9L), 10L),
      ("f_hit", java.lang.Long.valueOf(90L),
       java.lang.Long.valueOf(110L), 10L))
      .toDF("file", "zone_min", "zone_max", "n_rows")
    val files = ZoneMapScan.pruneFiles(zones, lit(100L), lit(400L))
    assert(files.toSet == Set("f_null", "f_hit"))
  }

  test("null-count-only statistics (min/max dropped, nulls < rows) " +
       "poison the envelope; all-null must be PROVEN by the null count " +
       "(ADVICE r13)") {
    import org.apache.parquet.column.statistics.Statistics
    import org.apache.parquet.schema.{PrimitiveType, Types}
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
    val prim: PrimitiveType = Types.optional(PrimitiveTypeName.INT64)
      .named("k")
    def nullCountOnly(n: Long): Statistics[_] =
      Statistics.getBuilderForReading(prim).withNumNulls(n).build()
    // min/max absent, 3 of 10 rows null: 7 non-null values the stats
    // cannot see — the group MUST poison the file, not read as all-null
    assert(ZoneMapScan.groupContribution(10L, nullCountOnly(3L)) ===
      ZoneMapScan.GroupUnknown)
    // min/max absent, null count == row count: provably all-null, and
    // nulls cannot match a range predicate — contributes nothing
    assert(ZoneMapScan.groupContribution(10L, nullCountOnly(10L)) ===
      ZoneMapScan.GroupNothing)
    // min/max absent, null count UNSET: nothing proven — poison
    val noCount = Statistics.getBuilderForReading(prim).build()
    assert(ZoneMapScan.groupContribution(10L, noCount) ===
      ZoneMapScan.GroupUnknown)
    // empty/absent stats on a non-empty group: poison (the r12 case)
    assert(ZoneMapScan.groupContribution(10L, null) ===
      ZoneMapScan.GroupUnknown)
    // zero-row group contributes nothing regardless of stats shape
    assert(ZoneMapScan.groupContribution(0L, null) ===
      ZoneMapScan.GroupNothing)
    // usable min/max: bounded
    val bounded = Statistics.getBuilderForReading(prim)
      .withMin(java.nio.ByteBuffer.allocate(8)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN).putLong(1L).array())
      .withMax(java.nio.ByteBuffer.allocate(8)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN).putLong(9L).array())
      .withNumNulls(0L).build()
    assert(ZoneMapScan.groupContribution(10L, bounded) ===
      ZoneMapScan.GroupBounded)
  }
}
