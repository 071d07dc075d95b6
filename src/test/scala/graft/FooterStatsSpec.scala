package graft

import java.nio.file.Files
import java.sql.Date
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ops.{VersionedTable => VT}

/** Footer-lifted manifest stats must be ENCODING-IDENTICAL to the
  * scan-aggregated ones — same min/max strings (through the same Catalyst
  * cast), same null counts, same row counts — for every supported type;
  * unsupported shapes must fall back to the scan path rather than write
  * different (or wrong) stats.
  */
class FooterStatsSpec extends SparkSuite {
  import spark.implicits._

  private def tmp(): String =
    Files.createTempDirectory("footer").toString + "/t"

  /** Create the same table twice — footer path vs forced scan path —
    * and return both single-file manifests' (rows, stats).
    */
  private def bothWays(df: DataFrame, statsCols: Seq[String])
      : ((Long, Map[String, VT.ColStat]), (Long, Map[String, VT.ColStat])) = {
    def mk(): (Long, Map[String, VT.ColStat]) = {
      val dir = tmp()
      VT.create(df.coalesce(1), dir, statsCols)
      val f = VT.readManifest(spark, dir, 1L).files
      assert(f.size == 1)
      (f.head.rows, f.head.stats)
    }
    val viaFooter = mk()
    spark.conf.set("spark.graft.vtable.footerStats", "false")
    try (viaFooter, mk())
    finally spark.conf.unset("spark.graft.vtable.footerStats")
  }

  test("long / int / string / date / decimal / boolean stats match the scan path exactly") {
    val df = Seq(
      (3L, 7, "delta", Date.valueOf("2024-03-01"), BigDecimal("12.34"), true),
      (-9L, 2, "alpha", Date.valueOf("2023-11-30"), BigDecimal("-0.07"), false),
      (42L, 5, "omega", Date.valueOf("2024-01-15"), BigDecimal("99999.99"), true)
    ).toDF("l", "i", "s", "d", "m", "b")
      .withColumn("m", col("m").cast("decimal(9,2)"))
    val cols = Seq("l", "i", "s", "d", "m", "b")
    val (footer, scan) = bothWays(df, cols)
    assert(footer._1 == scan._1, "row counts must match")
    cols.foreach { c =>
      assert(footer._2(c) == scan._2(c),
        s"column $c: footer ${footer._2(c)} != scan ${scan._2(c)}")
    }
  }

  test("null mixes and all-null columns encode identically") {
    val df = Seq(
      (Some(5L), None: Option[String]),
      (None: Option[Long], None: Option[String]),
      (Some(-2L), None: Option[String])
    ).toDF("l", "s")
    val (footer, scan) = bothWays(df, Seq("l", "s"))
    assert(footer == scan)
    assert(footer._2("s") == VT.ColStat("STRING", None, None, 3L))
    assert(footer._2("l").nulls == 1L)
  }

  test("unsupported double stats fall back to the scan path (and still agree)") {
    val df = Seq((1.5, 1L), (Double.NaN, 2L), (-3.25, 3L)).toDF("x", "k")
    // double is footer-unsupported → both writes take the scan path; the
    // point is that the manifests agree and NaN ordering is Spark's
    val (a, b) = bothWays(df, Seq("x", "k"))
    assert(a == b)
    // Spark orders NaN greatest: the scan max must be NaN's rendering
    assert(a._2("x").max.contains("NaN"))
  }

  test("timestamp stats lift from MICROS-annotated footers and match the scan path") {
    val old = spark.conf.getOption("spark.sql.parquet.outputTimestampType")
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    try {
      val df = Seq(
        (1L, java.sql.Timestamp.valueOf("2024-03-01 10:15:30.123456")),
        (2L, java.sql.Timestamp.valueOf("2023-11-30 23:59:59.999999")),
        (3L, java.sql.Timestamp.valueOf("2024-06-15 00:00:00.0"))
      ).toDF("k", "ts")
      val (footer, scan) = bothWays(df, Seq("k", "ts"))
      assert(footer == scan)
      assert(footer._2("ts").min.isDefined && footer._2("ts").max.isDefined)
    } finally old match {
      case Some(v) => spark.conf.set("spark.sql.parquet.outputTimestampType", v)
      case None => spark.conf.unset("spark.sql.parquet.outputTimestampType")
    }
  }

  test("INT96 timestamps (the Spark default) fall back to the scan path — and agree") {
    val df = Seq(
      (1L, java.sql.Timestamp.valueOf("2024-03-01 10:15:30.0")),
      (2L, java.sql.Timestamp.valueOf("2023-11-30 23:59:59.0"))
    ).toDF("k", "ts")
    val (footer, scan) = bothWays(df, Seq("k", "ts"))
    assert(footer == scan)
  }

  test("footer reads cover every row group of a multi-row-group file") {
    val dir = tmp()
    spark.conf.set("parquet.block.size", "4096")
    try VT.create(spark.range(0, 20000, 1, 1).select($"id".as("k")), dir, Seq("k"))
    finally spark.conf.unset("parquet.block.size")
    val f = VT.readManifest(spark, dir, 1L).files.head
    val path = new org.apache.hadoop.fs.Path(s"$dir/${f.path}")
    val conf = spark.sessionState.newHadoopConf()
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(path, conf))
    val groups = try reader.getRowGroups.size finally reader.close()
    assert(groups > 1, s"expected several row groups, got $groups")
    assert(f.rows == 20000L && graft.ops.FooterStats.rowCount(path, conf) == 20000L)
    assert(f.stats("k") == VT.ColStat("BIGINT", Some("0"), Some("19999"), 0L))
  }

  test("pruning decisions are identical whichever path wrote the stats") {
    val base = spark.range(0, 1000)
      .select($"id".as("k"), concat(lit("v"), $"id").as("s"))
      .repartitionByRange(8, $"k").sortWithinPartitions("k")
    val d1 = tmp(); VT.create(base, d1, Seq("k", "s"))
    spark.conf.set("spark.graft.vtable.footerStats", "false")
    val d2 = try { val d = tmp(); VT.create(base, d, Seq("k", "s")); d }
      finally spark.conf.unset("spark.graft.vtable.footerStats")
    val preds = Seq(("k", Some(lit(100L)), Some(lit(299L))))
    val s1 = VT.pruneForSpec(spark, d1, preds, Seq.empty)
    val s2 = VT.pruneForSpec(spark, d2, preds, Seq.empty)
    // same file count survives, and the surviving data is identical
    assert(s1.size == s2.size && s1.size < 8)
    assert(VT.readPruned(spark, d1, "k", lit(100L), lit(299L))
      .as[(Long, String)].collect().toSet ==
      VT.readPruned(spark, d2, "k", lit(100L), lit(299L))
        .as[(Long, String)].collect().toSet)
  }
}
