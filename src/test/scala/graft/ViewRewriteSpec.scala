package graft

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.functions._
import graft.ops.{VersionedTable => VT, ViewOps}

/** Automatic materialized-view query rewrite
  * ([[graft.plans.VtableViewRewrite]]): grouped COUNT/SUM/AVG aggregates
  * over a versioned table must be ANSWERED FROM the maintained view —
  * plan-asserted, not just value-asserted — exactly when the view is
  * fresh, and must silently fall back to the scan in every other case
  * with identical results.
  */
class ViewRewriteSpec extends SparkSuite {
  import spark.implicits._

  graft.functions.GraftFunctions.register(spark)

  private def tmp(): String =
    Files.createTempDirectory("mvrw").toString + "/t"

  /** Dirs of every versioned base relation the optimized plan scans. */
  private def scannedDirs(df: DataFrame): Set[String] =
    df.queryExecution.optimizedPlan.collect {
      case lr: LogicalRelation if lr.getTagValue(VT.pruneTag).isDefined =>
        lr.getTagValue(VT.pruneTag).get._1
    }.toSet

  private def mkSrc(dir: String): Unit = {
    val rows = Seq(
      (1L, "a", 10L, Some(100L)), (2L, "a", 20L, None),
      (3L, "b", 30L, Some(300L)), (4L, "b", 40L, Some(400L)),
      (5L, "c", 50L, None), (6L, "c", 60L, None))
    VT.create(rows.toDF("k", "g", "m", "o")
      .repartitionByRange(2, $"k").sortWithinPartitions("k"),
      dir, statsCols = Seq("k", "g"))
  }

  test("fresh view answers COUNT/SUM/AVG; results equal the scan; plan reads the view") {
    val src = tmp(); val view = tmp(); mkSrc(src)
    ViewOps.refreshAggView(spark, src, view, Seq("g"), Seq("m", "o"))
    val q = VT.read(spark, src).groupBy("g")
      .agg(count(lit(1)).as("n_rows"), sum("m").as("sum_m"),
        count($"o").as("n_o"), sum("o").as("sum_o"), avg("m").as("avg_m"))
    assert(scannedDirs(q) == Set(view), "fresh view must replace the source scan")
    val got = q.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
      r.getLong(3), if (r.isNullAt(4)) -1L else r.getLong(4), r.getDouble(5))).toSet
    assert(got == Set(
      ("a", 2L, 30L, 1L, 100L, 15.0),
      ("b", 2L, 70L, 2L, 700L, 35.0),
      ("c", 2L, 110L, 0L, -1L, 55.0)),
      s"rewritten answer diverged: $got")
  }

  test("FRESH DRIVER still rewrites: the registry is durable sidecars, not memory") {
    val src = tmp(); val view = tmp(); mkSrc(src)
    ViewOps.refreshAggView(spark, src, view, Seq("g"), Seq("m"))
    // simulate a restarted driver: in-memory registry (and its durable
    // listing cache) gone. The sidecar under <src>/_views must still
    // route the aggregate to the view — with the SAME freshness gates.
    ViewOps.Rewrites.clear()
    val q = VT.read(spark, src).groupBy("g").agg(sum("m").as("s"))
    assert(scannedDirs(q) == Set(view),
      "a fresh driver must answer from the durable registry")
    assert(q.collect().map(r => (r.getString(0), r.getLong(1))).toSet ==
      Set(("a", 30L), ("b", 70L), ("c", 110L)))
    // and the kill switch still forces the scan for measurement/debugging
    spark.conf.set("spark.graft.mv.rewrite", "false")
    try assert(scannedDirs(VT.read(spark, src).groupBy("g")
      .agg(sum("m").as("s"))) == Set(src),
      "the kill switch must force the scan answer")
    finally spark.conf.unset("spark.graft.mv.rewrite")
    // staleness still gates: a post-clear append must fall back to the scan
    VT.commitAppend(Seq((7L, "c", 70L, Option.empty[java.lang.Long]))
      .toDF("k", "g", "m", "o"), src)
    ViewOps.Rewrites.clear()
    assert(scannedDirs(VT.read(spark, src).groupBy("g")
      .agg(sum("m").as("s"))) == Set(src),
      "durable registration must not bypass the freshness gate")
  }

  test("stale view falls back to the scan; the next refresh re-enables the rewrite") {
    val src = tmp(); val view = tmp(); mkSrc(src)
    ViewOps.refreshAggView(spark, src, view, Seq("g"), Seq("m"))
    VT.commitAppend(Seq((7L, "c", 70L, Option.empty[java.lang.Long]))
      .toDF("k", "g", "m", "o"), src)
    val stale = VT.read(spark, src).groupBy("g").agg(sum("m").as("s"))
    assert(scannedDirs(stale) == Set(src),
      "a view one version behind must NOT answer the query")
    assert(stale.where($"g" === "c").head().getLong(1) == 180L)
    ViewOps.refreshAggView(spark, src, view, Seq("g"), Seq("m"))
    val fresh = VT.read(spark, src).groupBy("g").agg(sum("m").as("s"))
    assert(scannedDirs(fresh) == Set(view))
    assert(fresh.where($"g" === "c").head().getLong(1) == 180L)
  }

  test("a DV window gates the rewrite; after the refresh it answers the retracted numbers") {
    // the r16 composition: with the pre-fix signed fast path, a DV DELETE
    // advanced the view's cursor on an EMPTY fold, the freshness gate then
    // judged the view FRESH, and the rewrite silently served the deleted
    // rows' aggregates. Pin all three stages.
    val src = tmp(); val view = tmp(); mkSrc(src)
    ViewOps.refreshAggView(spark, src, view, Seq("g"), Seq("m"))
    assert(scannedDirs(VT.read(spark, src).groupBy("g")
      .agg(sum("m").as("s"))) == Set(view))
    VT.commitDeleteDv(spark, src, $"k" === 3L)   // group b loses m=30
    // the DV-folded scan's BASE relation is tagged, so the plan probe
    // sees the source — and the stale view must not answer
    val stale = VT.read(spark, src).groupBy("g").agg(sum("m").as("s"))
    assert(scannedDirs(stale) == Set(src),
      "a view behind a DV commit must NOT answer the query")
    assert(stale.collect().map(r => (r.getString(0), r.getLong(1))).toSet ==
      Set(("a", 30L), ("b", 40L), ("c", 110L)))
    ViewOps.refreshAggView(spark, src, view, Seq("g"), Seq("m"))
    val q = VT.read(spark, src).groupBy("g").agg(sum("m").as("s"))
    assert(scannedDirs(q) == Set(view),
      "the refreshed view must answer again after the DV window")
    assert(q.collect().map(r => (r.getString(0), r.getLong(1))).toSet ==
      Set(("a", 30L), ("b", 40L), ("c", 110L)),
      "the rewritten answer must reflect the DV retraction")
  }

  test("rollup to a group subset and group-column filters rewrite; others refuse") {
    val src = tmp(); val view = tmp(); mkSrc(src)
    // two group columns; queries may roll up to either
    ViewOps.refreshAggView(spark, src, view, Seq("g", "k"), Seq("m"))
    val roll = VT.read(spark, src).groupBy("g").agg(sum("m").as("s"),
      count(lit(1)).as("n"))
    assert(scannedDirs(roll) == Set(view), "subset grouping must roll up from the view")
    assert(roll.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      == Set(("a", 30L, 2L), ("b", 70L, 2L), ("c", 110L, 2L)))
    // filter over a group column commutes with grouping
    val filtered = VT.read(spark, src).where($"g" =!= "b")
      .groupBy("g").agg(sum("m").as("s"))
    assert(scannedDirs(filtered) == Set(view))
    assert(filtered.collect().map(r => (r.getString(0), r.getLong(1))).toSet
      == Set(("a", 30L), ("c", 110L)))
    // ungrouped: one row, count coalesces over the view
    val total = VT.read(spark, src).agg(count(lit(1)).as("n"), sum("m").as("s"))
    assert(scannedDirs(total) == Set(view))
    assert(total.head() == org.apache.spark.sql.Row(6L, 210L))
    // MIN is not derivable from the state: full fallback, same answer
    val withMin = VT.read(spark, src).groupBy("g")
      .agg(sum("m").as("s"), min("m").as("mn"))
    assert(scannedDirs(withMin) == Set(src), "MIN must refuse the rewrite")
    // filter on a NON-group column refuses too
    val mFiltered = VT.read(spark, src).where($"m" > 20L)
      .groupBy("g").agg(count(lit(1)).as("n"))
    assert(scannedDirs(mFiltered) == Set(src))
    assert(mFiltered.collect().map(r => (r.getString(0), r.getLong(1))).toSet
      == Set(("b", 2L), ("c", 2L)))
  }

  test("SQL through the graft_vtable TVF rewrites; groups that empty out drop") {
    val src = tmp(); val view = tmp(); mkSrc(src)
    ViewOps.refreshAggView(spark, src, view, Seq("g"), Seq("m"))
    val sql = spark.sql(
      s"""SELECT g, COUNT(*) AS n, SUM(m) AS s
         |FROM graft_vtable('$src') GROUP BY g ORDER BY g""".stripMargin)
    assert(scannedDirs(sql) == Set(view), "the SQL TVF path must rewrite too")
    assert(sql.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
      == Seq(("a", 2L, 30L), ("b", 2L, 70L), ("c", 2L, 110L)))
    // delete group b entirely; after refresh the view dropped its row and
    // the rewritten answer matches
    VT.commitDelete(spark, src, col("g") === "b")
    ViewOps.refreshAggView(spark, src, view, Seq("g"), Seq("m"))
    val after = spark.sql(
      s"SELECT g, COUNT(*) AS n FROM graft_vtable('$src') GROUP BY g")
    assert(scannedDirs(after) == Set(view))
    assert(after.collect().map(r => (r.getString(0), r.getLong(1))).toSet
      == Set(("a", 2L), ("c", 2L)))
  }

  test("a recreated source never rewrites: identity beats a matching version cursor") {
    val src = tmp(); val view = tmp(); mkSrc(src)
    ViewOps.refreshAggView(spark, src, view, Seq("g"), Seq("m"))
    // drop + recreate at the SAME path: versions restart at 1, so the
    // view's ledger cursor (src v1) MATCHES the new scan's pinned version
    // — only the table id tells them apart
    val fs = new org.apache.hadoop.fs.Path(src)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(src), true)
    VT.create(Seq((1L, "z", 999L, Option.empty[java.lang.Long]))
      .toDF("k", "g", "m", "o"), src, statsCols = Seq("k", "g"))
    val q = VT.read(spark, src).groupBy("g").agg(sum("m").as("s"))
    assert(scannedDirs(q) == Set(src),
      "a view folded from a DIFFERENT table must not answer, even at a matching version")
    assert(q.collect().map(r => (r.getString(0), r.getLong(1))).toSet
      == Set(("z", 999L)))
    // and the refresh path refuses loudly instead of freezing the view
    val ex = intercept[IllegalStateException](
      ViewOps.refreshAggView(spark, src, view, Seq("g"), Seq("m")))
    assert(ex.getMessage.contains("recreated"), s"undiagnostic: ${ex.getMessage}")
  }

  test("non-deterministic predicates and aggregates refuse the rewrite") {
    // rand() has NO column references, so the group-column gate is
    // vacuously satisfied — without the determinism gate the sample would
    // run over one-row-per-group VIEW rows instead of source rows
    val src = tmp(); val view = tmp(); mkSrc(src)
    ViewOps.refreshAggView(spark, src, view, Seq("g"), Seq("m"))
    val sampled = VT.read(spark, src).where(rand(7) < 0.5)
      .groupBy("g").agg(count(lit(1)).as("n"))
    assert(scannedDirs(sampled) == Set(src),
      "a non-deterministic filter must keep the source scan")
    // deterministic control: same shape minus rand() rewrites
    val det = VT.read(spark, src).where($"g" =!= "zzz")
      .groupBy("g").agg(count(lit(1)).as("n"))
    assert(scannedDirs(det) == Set(view))
  }

  test("time-traveled scans never rewrite: the pinned version must equal the ledger") {
    val src = tmp(); val view = tmp(); mkSrc(src)
    VT.commitAppend(Seq((7L, "d", 70L, Option.empty[java.lang.Long]))
      .toDF("k", "g", "m", "o"), src)
    ViewOps.refreshAggView(spark, src, view, Seq("g"), Seq("m"))
    // current scan (v2) rewrites; the v1 time travel must not
    val cur = VT.read(spark, src).groupBy("g").agg(count(lit(1)).as("n"))
    assert(scannedDirs(cur) == Set(view))
    val old = VT.read(spark, src, asOf = Some(1L))
      .groupBy("g").agg(count(lit(1)).as("n"))
    assert(scannedDirs(old) == Set(src))
    assert(old.count() == 3L) // a/b/c only — v1 content
  }
}
