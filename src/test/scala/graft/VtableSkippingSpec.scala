package graft

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._
import graft.ops.{VersionedTable => VT}

/** The optimizer-integrated data-skipping rule
  * ([[graft.plans.VtableSkipping]]): a plain `Filter` over a versioned
  * read must skip manifest-pruned files with NO cooperation from the
  * caller — and must never change an answer.
  */
class VtableSkippingSpec extends SparkSuite {
  import spark.implicits._

  graft.functions.GraftFunctions.register(spark)

  private def tmp(): String =
    Files.createTempDirectory("vtskip").toString + "/t"

  /** File counts of every parquet scan in the EXECUTED plan. */
  private def scanFiles(df: DataFrame): Seq[Int] =
    df.queryExecution.executedPlan.collect {
      case s: FileSourceScanExec => s.relation.location.inputFiles.length
    }

  /** Rendered FINAL physical plan — aggregates introduce an exchange, so
    * AQE wraps the plan and hides the scan from a pre-execution collect;
    * execute first, then render (isFinalPlan=true shows the real tree).
    */
  private def finalPlanString(df: DataFrame): String = {
    df.collect()
    df.queryExecution.executedPlan.toString
  }

  /** 4 range-clustered files over k = 0..99 → tight per-file intervals. */
  private def mkTable(dir: String): Unit = {
    val base = spark.range(100)
      .select($"id".as("k"), ($"id" % 7).cast("string").as("s"))
      .repartitionByRange(4, $"k").sortWithinPartitions($"k")
    VT.create(base, dir, statsCols = Seq("k"))
  }

  test("DataFrame Filter over read() prunes files inside the optimizer") {
    val dir = tmp(); mkTable(dir)
    val df = VT.read(spark, dir).filter($"k" >= 10L && $"k" <= 30L)
    val files = scanFiles(df)
    assert(files.nonEmpty && files.head < 4,
      s"expected a pruned scan (<4 files), got $files")
    assert(df.as[(Long, String)].collect().toSet ==
      (10L to 30L).map(k => (k, (k % 7).toString)).toSet)
  }

  test("SQL WHERE over graft_vtable prunes through the same rule") {
    val dir = tmp(); mkTable(dir)
    val df = spark.sql(
      s"SELECT k, s FROM graft_vtable('$dir') WHERE k BETWEEN 80 AND 99")
    val files = scanFiles(df)
    assert(files.nonEmpty && files.head < 4,
      s"expected a pruned scan (<4 files), got $files")
    assert(df.as[(Long, String)].collect().toSet ==
      (80L to 99L).map(k => (k, (k % 7).toString)).toSet)
  }

  test("OR conjuncts never prune; answer stays exact") {
    val dir = tmp(); mkTable(dir)
    val df = VT.read(spark, dir).filter($"k" < 5L || $"k" > 94L)
    assert(scanFiles(df) == Seq(4), "a top-level OR must not prune")
    assert(df.count() == 10L)
  }

  test("no-survivor predicate collapses to an empty local relation") {
    val dir = tmp(); mkTable(dir)
    val df = VT.read(spark, dir).filter($"k" === 1000L)
    assert(scanFiles(df).isEmpty, "no parquet scan should remain")
    assert(df.count() == 0L)
  }

  test("large IN list (optimized to InSet) still prunes") {
    val dir = tmp(); mkTable(dir)
    // 12 values > the default In→InSet conversion threshold (10), all in
    // the first file's range
    val vals = (0L to 11L)
    val df = VT.read(spark, dir).filter($"k".isin(vals: _*))
    val files = scanFiles(df)
    assert(files.nonEmpty && files.head < 4,
      s"InSet should prune to the covering files, got $files")
    assert(df.select($"k").as[Long].collect().toSet == vals.toSet)
  }

  test("the same read() DataFrame prunes again on a second query (tag not consumed)") {
    val dir = tmp(); mkTable(dir)
    val base = VT.read(spark, dir)
    assert(scanFiles(base.filter($"k" <= 20L)).head < 4)
    assert(scanFiles(base.filter($"k" >= 80L)).head < 4)
    // and an unfiltered read still scans everything
    assert(base.count() == 100L)
  }

  test("un-minable conjuncts ride along; mined ones still prune") {
    val dir = tmp(); mkTable(dir)
    val df = VT.read(spark, dir)
      .filter($"k" >= 10L && $"k" <= 30L && length($"s") >= 1)
    val files = scanFiles(df)
    assert(files.nonEmpty && files.head < 4)
    assert(df.count() == 21L)
  }

  test("filter over a DV-folded read prunes the BASE scan; answer stays exact") {
    // r17: the DV fold's base relation is now tagged (so the MV rewrite
    // can recognize the fold) — which also lets zone-map skipping fire on
    // it. Pruning under the fold is sound: the DV position filter only
    // removes rows, so skipping files that cannot satisfy the predicate
    // is the same set algebra as on a bare scan.
    val dir = tmp(); mkTable(dir)
    VT.commitDeleteDv(spark, dir, $"k" === 20L)
    val df = VT.read(spark, dir).filter($"k" >= 10L && $"k" <= 30L)
    val got = df.as[(Long, String)].collect().toSet
    assert(got == (10L to 30L).filter(_ != 20L)
      .map(k => (k, (k % 7).toString)).toSet,
      "DV fold + pruning must keep the exact answer")
    // the skipping rule rewrites the LOGICAL relation, so probe there:
    // of the 4 base files, the relation must have shrunk
    val logical = df.queryExecution.optimizedPlan.collect {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation
          if lr.relation.isInstanceOf[
            org.apache.spark.sql.execution.datasources.HadoopFsRelation] =>
        lr.relation.asInstanceOf[
          org.apache.spark.sql.execution.datasources.HadoopFsRelation]
          .location.inputFiles.length
    }
    assert(logical.exists(_ < 4),
      s"expected the DV base scan pruned (<4 files), got $logical")
  }

  test("filter over a patch chain stays exact (base tag under the fold)") {
    val dir = tmp(); mkTable(dir)
    VT.commitPatch(Seq((10L, "patched", false), (1000L, "new", false))
      .toDF("k", "s", "__del"), dir, Seq("k"),
      tiebreak = Seq.empty, deleteCond = col("__del"))
    val df = VT.read(spark, dir).filter($"k" >= 5L && $"k" <= 15L)
    val got = df.as[(Long, String)].collect().toSet
    val want = (5L to 15L).map(k =>
      (k, if (k == 10L) "patched" else (k % 7).toString)).toSet
    assert(got == want)
  }

  test("COUNT/MIN/MAX over an unfiltered read answer from the manifest — no scan at all") {
    val dir = tmp(); mkTable(dir)
    val df = spark.sql(
      s"""SELECT COUNT(*) AS n, MIN(k) AS mn, MAX(k) AS mx, COUNT(k) AS nn
         |FROM graft_vtable('$dir')""".stripMargin)
    assert(!finalPlanString(df).contains("FileScan"),
      "metadata-only aggregate must not plan a parquet scan")
    assert(df.as[(Long, Long, Long, Long)].head() == ((100L, 0L, 99L, 100L)))
    // DataFrame route hits the same rule
    val df2 = VT.read(spark, dir).agg(
      count(lit(1)).as("n"), min($"k").as("mn"), max($"k").as("mx"))
    assert(!finalPlanString(df2).contains("FileScan"))
    assert(df2.as[(Long, Long, Long)].head() == ((100L, 0L, 99L)))
  }

  test("a WHERE below the aggregate disables the metadata answer; result stays exact") {
    val dir = tmp(); mkTable(dir)
    val df = spark.sql(
      s"SELECT COUNT(*) AS n FROM graft_vtable('$dir') WHERE k >= 10")
    assert(df.as[Long].head() == 90L)
  }

  test("an aggregate the manifest cannot answer keeps the scan (all-or-nothing)") {
    val dir = tmp(); mkTable(dir)
    // s carries no manifest stats → MIN(s) unanswerable → the whole
    // aggregate, count included, must fall back to the scan
    val df = spark.sql(
      s"SELECT COUNT(*) AS n, MIN(s) AS mn FROM graft_vtable('$dir')")
    assert(finalPlanString(df).contains("FileScan"),
      "unanswerable aggregate must keep the scan")
    assert(df.as[(Long, String)].head() == ((100L, "0")))
  }

  test("a patch chain declines the metadata answer; the fold stays exact") {
    val dir = tmp(); mkTable(dir)
    // k=5 is re-written (its old row's position dies), k=500 is new: the
    // header counts 102 rows, 101 are live
    VT.commitPatch(Seq((5L, "upd", false), (500L, "new", false)).toDF("k", "s", "__del"),
      dir, Seq("k"), tiebreak = Seq.empty, deleteCond = col("__del"))
    val df = spark.sql(s"SELECT COUNT(*) AS n FROM graft_vtable('$dir')")
    assert(df.as[Long].head() == 101L,
      "count under a patch must apply its deletion vector, not read the manifest")
  }

  test("pruned file set equals the library-level pruning decision") {
    val dir = tmp(); mkTable(dir)
    val (libSurvivors, _) =
      VT.pruneFiles(spark, dir, "k", lit(25L), lit(60L))
    val df = VT.read(spark, dir).filter($"k" >= 25L && $"k" <= 60L)
    assert(scanFiles(df) == Seq(libSurvivors.size))
  }
}
