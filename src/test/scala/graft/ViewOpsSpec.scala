package graft

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ops.{VersionedTable => VT, ViewOps}

/** Incremental view maintenance over the change data feed: the folded view
  * must be row-identical to re-aggregating the snapshot, refresh must be
  * exactly-once under replay, and a refresh must not rewrite untouched
  * view groups.
  */
class ViewOpsSpec extends SparkSuite {
  import spark.implicits._

  private def tmp(): String =
    Files.createTempDirectory("ivm").toString + "/t"

  /** Source table: (k, g, v) keyed by k, grouped by g, measure v. */
  private def mkSource(dir: String): Unit = {
    val base = Seq(
      (1L, "a", 10L), (2L, "a", 20L), (3L, "b", 30L),
      (4L, "b", 40L), (5L, "c", 50L)).toDF("k", "g", "v")
      .repartitionByRange(2, $"k").sortWithinPartitions("k")
    VT.create(base, dir, statsCols = Seq("k"))
  }

  private def viewNow(viewDir: String): Set[(String, Long, Long)] =
    ViewOps.present(VT.read(spark, viewDir), Seq("v"))
      .select($"g", $"n", $"sum_v").as[(String, Long, Long)].collect().toSet

  private def reAgg(srcDir: String): Set[(String, Long, Long)] =
    VT.read(spark, srcDir).groupBy("g")
      .agg(count(lit(1)).as("n"), sum($"v").as("sum_v"))
      .as[(String, Long, Long)].collect().toSet

  test("preimage encoding: update emits both images, insert/delete one each") {
    val dir = tmp(); mkSource(dir)
    VT.commitMerge(Seq((2L, "a", 25L, false), (6L, "c", 60L, false),
        (5L, "c", 0L, true)).toDF("k", "g", "v", "del"),
      dir, Seq("k"), Seq.empty, $"del")
    val feed = VT.changesBetween(spark, dir, 1L, 2L, Seq("k"), preimages = true)
      .select($"change_type", $"k", $"v").as[(String, Long, Long)].collect().toSet
    assert(feed == Set(
      ("update_preimage", 2L, 20L), ("update_postimage", 2L, 25L),
      ("insert", 6L, 60L), ("delete", 5L, 50L)))
    // default encoding unchanged: one row per change, post-image for update
    val flat = VT.changesBetween(spark, dir, 1L, 2L, Seq("k"))
      .select($"change_type", $"k", $"v").as[(String, Long, Long)].collect().toSet
    assert(flat == Set(("update", 2L, 25L), ("insert", 6L, 60L), ("delete", 5L, 50L)))
  }

  test("folded view equals re-aggregation through updates, inserts, deletes") {
    val src = tmp(); val view = tmp(); mkSource(src)
    ViewOps.refreshAggView(spark, src, view, Seq("g"), Seq("v"))
    assert(viewNow(view) == reAgg(src))
    // batch 1: update inside a group, insert a new key, delete one
    VT.commitMerge(Seq((2L, "a", 25L, false), (6L, "c", 60L, false),
        (3L, "b", 0L, true)).toDF("k", "g", "v", "del"),
      src, Seq("k"), Seq.empty, $"del")
    ViewOps.refreshAggView(spark, src, view, Seq("g"), Seq("v"))
    assert(viewNow(view) == reAgg(src))
    // batch 2: consume group b entirely; touch c
    VT.commitMerge(Seq((4L, "b", 0L, true), (5L, "c", 55L, false))
        .toDF("k", "g", "v", "del"),
      src, Seq("k"), Seq.empty, $"del")
    ViewOps.refreshAggView(spark, src, view, Seq("g"), Seq("v"))
    assert(viewNow(view) == reAgg(src))
    assert(!viewNow(view).exists(_._1 == "b"), "consumed group must leave the view")
  }

  test("refresh is exactly-once: replay and no-change calls do not commit") {
    val src = tmp(); val view = tmp(); mkSource(src)
    val v1 = ViewOps.refreshAggView(spark, src, view, Seq("g"), Seq("v"))
    // source unchanged → no new view version
    assert(ViewOps.refreshAggView(spark, src, view, Seq("g"), Seq("v")) == v1)
    VT.commitMerge(Seq((1L, "a", 11L, false)).toDF("k", "g", "v", "del"),
      src, Seq("k"), Seq.empty, $"del")
    val v2 = ViewOps.refreshAggView(spark, src, view, Seq("g"), Seq("v"))
    assert(v2 == v1 + 1)
    val after = viewNow(view)
    // replay (same source version) → same view version, same rows
    assert(ViewOps.refreshAggView(spark, src, view, Seq("g"), Seq("v")) == v2)
    assert(viewNow(view) == after && after == reAgg(src))
  }

  test("a refresh rewrites only the touched groups' files") {
    val src = tmp(); val view = tmp()
    // 4 groups range-clustered into 4 view files
    val base = spark.range(400)
      .select($"id".as("k"), concat(lit("g"), ($"id" % 4)).as("g"), lit(1L).as("v"))
      .repartitionByRange(2, $"k")
    VT.create(base, src, statsCols = Seq("k"))
    ViewOps.refreshAggView(spark, src, view, Seq("g"), Seq("v"))
    // re-cluster the view into one file per group so pruning is visible
    VT.commitCompact(spark, view, targetBytes = 1L, smallBytes = Long.MaxValue,
      clusterBy = Seq("g"))
    val mBefore = VT.readManifest(spark, view,
      VT.currentVersion(spark, view).get)
    // touch ONLY group g1 in the source
    VT.commitMerge(Seq((401L, "g1", 5L, false)).toDF("k", "g", "v", "del"),
      src, Seq("k"), Seq.empty, $"del")
    ViewOps.refreshAggView(spark, src, view, Seq("g"), Seq("v"))
    val mAfter = VT.readManifest(spark, view,
      VT.currentVersion(spark, view).get)
    val carried = mAfter.files.map(_.path).toSet
      .intersect(mBefore.files.map(_.path).toSet)
    assert(carried.nonEmpty,
      "untouched view groups should carry over by reference")
    assert(viewNow(view) == reAgg(src))
  }

  test("a bounded fold merges a LOCAL changelog: zero-job probe, same view either way") {
    val dir = tmp(); mkSource(dir)
    val view = tmp()
    def refresh(v: String): Unit = ViewOps.refreshAggView(spark, dir, v,
      groupCols = Seq("g"), measures = Seq("v"),
      appId = "localfold")
    refresh(view) // bootstrap
    VT.commitMerge(Seq((2L, "a", 25L, false), (6L, "c", 60L, false),
        (5L, "c", 0L, true)).toDF("k", "g", "v", "del"),
      dir, Seq("k"), Seq.empty, $"del")
    VT.lastTouchedMode = ""
    refresh(view) // fold: the O(groups) changelog collects to the driver
    assert(VT.lastTouchedMode == "local",
      s"expected the zero-job local touched-file probe, got " +
        s"'${VT.lastTouchedMode}'")
    assert(viewNow(view) == reAgg(dir))
    // differential: the distributed (localCheckpoint) fallback computes
    // the IDENTICAL view
    val view2 = tmp()
    spark.conf.set("spark.graft.ivm.localFoldRows", "0")
    try {
      refresh(view2) // bootstrap
      VT.lastTouchedMode = ""
      // another source commit so BOTH views fold one more window
      VT.commitMerge(Seq((1L, "a", 11L, false)).toDF("k", "g", "v", "del"),
        dir, Seq("k"), Seq.empty, $"del")
      refresh(view2)
      assert(VT.lastTouchedMode != "local",
        "localFoldRows=0 must force the checkpointed fallback")
    } finally spark.conf.unset("spark.graft.ivm.localFoldRows")
    refresh(view)
    assert(viewNow(view) == reAgg(dir) && viewNow(view2) == reAgg(dir),
      "local and checkpointed folds must produce the same view")
  }

  test("null measures: presented sum is NULL exactly when SQL's is") {
    val src = tmp(); val view = tmp()
    val base = Seq((1L, "a", Some(10L)), (2L, "b", None), (3L, "b", None))
      .toDF("k", "g", "v")
    VT.create(base, src, statsCols = Seq("k"))
    ViewOps.refreshAggView(spark, src, view, Seq("g"), Seq("v"))
    val got = ViewOps.present(VT.read(spark, view), Seq("v"))
      .select($"g", $"n", $"sum_v").as[(String, Long, Option[Long])]
      .collect().toSet
    assert(got == Set(("a", 1L, Some(10L)), ("b", 2L, None)))
    // a non-null value arriving in b flips the sum non-null incrementally
    VT.commitMerge(Seq((4L, "b", Some(7L), false)).toDF("k", "g", "v", "del"),
      src, Seq("k"), Seq.empty, $"del")
    ViewOps.refreshAggView(spark, src, view, Seq("g"), Seq("v"))
    val got2 = ViewOps.present(VT.read(spark, view), Seq("v"))
      .select($"g", $"n", $"sum_v").as[(String, Long, Option[Long])]
      .collect().toSet
    assert(got2 == Set(("a", 1L, Some(10L)), ("b", 3L, Some(7L))))
  }

  test("unrelated churn never rewrites the view: zero-net deltas drop") {
    val src = tmp(); val view = tmp()
    // payload has a column the view does NOT maintain
    val base = Seq((1L, "a", 10L, "x"), (2L, "b", 20L, "y"))
      .toDF("k", "g", "v", "note")
    VT.create(base, src, statsCols = Seq("k"))
    ViewOps.refreshAggView(spark, src, view, Seq("g"), Seq("v"))
    val mBefore = VT.readManifest(spark, view, VT.currentVersion(spark, view).get)
    // an update touching ONLY the unmaintained column
    VT.commitMerge(Seq((1L, "a", 10L, "x2", false)).toDF("k", "g", "v", "note", "del"),
      src, Seq("k"), Seq.empty, $"del")
    ViewOps.refreshAggView(spark, src, view, Seq("g"), Seq("v"))
    val mAfter = VT.readManifest(spark, view, VT.currentVersion(spark, view).get)
    assert(mAfter.files.map(_.path) == mBefore.files.map(_.path),
      "a zero-net delta must carry every view file by reference")
    // the cursor still advanced: the next real change folds from here
    assert(mAfter.txns("graft-ivm") > mBefore.txns("graft-ivm"))
    assert(viewNow(view) == reAgg(src))
  }

  test("composition: streamed CDC commits + IVM refreshes track the source exactly") {
    // the full 100 TB loop: a changelog stream lands as versioned merge
    // commits (exactly-once via the txn ledger), and a downstream
    // aggregate view follows through the change feed — never re-reading
    // the table, staying equal to a from-scratch aggregate at every step
    val root = Files.createTempDirectory("ivmstream").toString
    val feed = s"$root/feed"; val src = s"$root/tbl"
    val view = s"$root/view"; val ckpt = s"$root/ckpt"
    mkSource(src)
    ViewOps.refreshAggView(spark, src, view, Seq("g"), Seq("v"))
    val ddl = "k BIGINT, g STRING, v BIGINT, del BOOLEAN"
    def drain(): Unit = {
      val q = graft.streaming.StreamOps.streamingCdcApplyVersioned(spark, feed,
        ddl, ckpt, src, Seq("k"), Seq.empty, $"del", appId = "ivm-stream")
      q.awaitTermination()
    }
    Seq((2L, "a", 25L, false), (6L, "c", 60L, false)).toDF("k", "g", "v", "del")
      .repartition(1).write.mode("append").parquet(feed)
    drain()
    ViewOps.refreshAggView(spark, src, view, Seq("g"), Seq("v"))
    assert(viewNow(view) == reAgg(src))
    // second wave: a delete consuming part of a group + resume from ckpt
    Seq((3L, "b", 0L, true), (7L, "d", 70L, false)).toDF("k", "g", "v", "del")
      .repartition(1).write.mode("append").parquet(feed)
    drain()
    ViewOps.refreshAggView(spark, src, view, Seq("g"), Seq("v"))
    assert(viewNow(view) == reAgg(src))
    assert(viewNow(view).exists(_._1 == "d"), "streamed insert must reach the view")
  }

  test("NULL group keys refuse loudly — bootstrap and refresh") {
    val src = tmp(); val view = tmp()
    // bootstrap: a null group value in the snapshot
    VT.create(Seq((1L, Some("a"), 10L), (2L, None, 20L))
      .toDF("k", "g", "v"), src, statsCols = Seq("k"))
    // the guard is an in-frame raise_error (zero extra probe jobs), so it
    // surfaces as the materializing action's failure — the CONTRACT is
    // the loud refusal + guidance text, not the exception class
    def messageChain(t: Throwable): String =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(e => Option(e.getMessage).getOrElse("")).mkString(" | ")
    val ex = intercept[Throwable] {
      ViewOps.refreshAggView(spark, src, view, Seq("g"), Seq("v"))
    }
    assert(messageChain(ex).contains("NULL value in group column"))
    assert(VT.currentVersion(spark, view).isEmpty,
      "a refused bootstrap must not publish a view version")
    // refresh: clean bootstrap, then a null group key arrives via CDC
    val src2 = tmp(); val view2 = tmp()
    VT.create(Seq((1L, Some("a"), 10L)).toDF("k", "g", "v"),
      src2, statsCols = Seq("k"))
    ViewOps.refreshAggView(spark, src2, view2, Seq("g"), Seq("v"))
    VT.commitMerge(Seq((2L, None: Option[String], 30L, false))
        .toDF("k", "g", "v", "del"),
      src2, Seq("k"), Seq.empty, $"del")
    val v2Before = VT.currentVersion(spark, view2)
    val ex2 = intercept[Throwable] {
      ViewOps.refreshAggView(spark, src2, view2, Seq("g"), Seq("v"))
    }
    assert(messageChain(ex2).contains("NULL value in group column"))
    assert(VT.currentVersion(spark, view2) == v2Before,
      "a refused refresh must not publish a view version")
  }

  test("non-integral measures refuse loudly (float sums drift)") {
    val src = tmp(); val view = tmp()
    VT.create(Seq((1L, "a", 1.5)).toDF("k", "g", "v"), src, statsCols = Seq("k"))
    val ex = intercept[IllegalArgumentException] {
      ViewOps.refreshAggView(spark, src, view, Seq("g"), Seq("v"))
    }
    assert(ex.getMessage.contains("integral"))
  }

  test("continuous maintenance from the STREAMED change feed tracks the source") {
    // the full loop: source vtable -> graft-vtable-cdf stream (preimages)
    // -> per-micro-batch signed-delta fold -> the view's versioned merge
    val root = Files.createTempDirectory("ivmcdf").toString
    val src = s"$root/src"; val view = s"$root/view"; val ckpt = s"$root/ckpt"
    mkSource(src)
    def drain(): Unit = {
      val q = ViewOps.maintainFromStream(spark, src, view,
        Seq("k"), Seq("g"), Seq("v"), ckpt)
      q.processAllAvailable(); q.stop()
    }
    drain() // bootstrap only — no changes yet
    assert(viewNow(view) == reAgg(src))
    // wave 1: update + insert + delete across two commits
    VT.commitMerge(Seq((2L, "a", 25L, false), (6L, "c", 60L, false))
        .toDF("k", "g", "v", "del"), src, Seq("k"), Seq.empty, $"del")
    VT.commitMerge(Seq((3L, "b", 0L, true)).toDF("k", "g", "v", "del"),
      src, Seq("k"), Seq.empty, $"del")
    drain()
    assert(viewNow(view) == reAgg(src))
    // wave 2: consume a group entirely
    VT.commitMerge(Seq((4L, "b", 0L, true)).toDF("k", "g", "v", "del"),
      src, Seq("k"), Seq.empty, $"del")
    drain()
    assert(viewNow(view) == reAgg(src))
    assert(!viewNow(view).exists(_._1 == "b"))
    // idle drain: no new source version, no new view version
    val vv = VT.currentVersion(spark, view).get
    drain()
    assert(VT.currentVersion(spark, view).contains(vv))
    // FRESH checkpoint resumes from the view's folded source version:
    // nothing double-applies, and new changes still arrive
    VT.commitMerge(Seq((7L, "d", 70L, false)).toDF("k", "g", "v", "del"),
      src, Seq("k"), Seq.empty, $"del")
    val q2 = ViewOps.maintainFromStream(spark, src, view,
      Seq("k"), Seq("g"), Seq("v"), s"$root/ckpt_fresh")
    q2.processAllAvailable(); q2.stop()
    assert(viewNow(view) == reAgg(src))
    assert(viewNow(view).exists(_._1 == "d"))
    // batch-cursor interop: a plain refreshAggView on the same view/app
    // id sees the stream's cursor and no-ops
    val vAfter = VT.currentVersion(spark, view).get
    ViewOps.refreshAggView(spark, src, view, Seq("g"), Seq("v"),
      appId = "graft-ivm-stream")
    assert(VT.currentVersion(spark, view).contains(vAfter))
  }

  test("DV DELETE/UPDATE inside a refresh window folds exactly (r16 finding)") {
    // the hole: a deletion-vector commit changes NO file paths, so the
    // pre-fix signed fast path diffed files, got an EMPTY delta, folded
    // it, and advanced the cursor — the view then served the deleted
    // rows' aggregates as FRESH. The fold must retract them instead.
    val src = tmp(); val view = tmp(); mkSource(src)
    ViewOps.refreshAggView(spark, src, view, Seq("g"), Seq("v"))
    assert(viewNow(view) == reAgg(src))
    // pure-DV window: one DELETE, nothing else
    VT.commitDeleteDv(spark, src, $"k" === 3L)            // group b loses 30
    ViewOps.refreshAggView(spark, src, view, Seq("g"), Seq("v"))
    assert(viewNow(view) == reAgg(src),
      "a deletion-vector DELETE window must retract, not fold empty")
    // mixed window: DV update + DV delete + ordinary append, one refresh
    VT.commitUpdateDv(spark, src, $"k" === 2L, Seq("v" -> lit(99L)))
    VT.commitDeleteDv(spark, src, $"k" === 5L)            // group c loses 50
    VT.commitAppend(Seq((7L, "c", 70L)).toDF("k", "g", "v"), src)
    ViewOps.refreshAggView(spark, src, view, Seq("g"), Seq("v"))
    assert(viewNow(view) == reAgg(src),
      "DV commits must compose with appends inside one refresh window")
    // and the refresh stays incremental afterwards: the cursor really
    // did advance through the DV window
    VT.commitAppend(Seq((8L, "a", 80L)).toDF("k", "g", "v"), src)
    ViewOps.refreshAggView(spark, src, view, Seq("g"), Seq("v"))
    assert(viewNow(view) == reAgg(src))
  }

  test("batch refresh and streamed maintenance agree over a DV window") {
    // parity pin: both refresh modes fold the SAME answer out of a
    // deletion-vector window — the batch path through the (now
    // DV-composing) signed fast path, the stream through the CDF
    // source's keyed feed
    val root = Files.createTempDirectory("ivmdvpar").toString
    val src = s"$root/src"; val bview = s"$root/bv"; val sview = s"$root/sv"
    mkSource(src)
    ViewOps.refreshAggView(spark, src, bview, Seq("g"), Seq("v"))
    def drainStream(): Unit = {
      val q = ViewOps.maintainFromStream(spark, src, sview,
        Seq("k"), Seq("g"), Seq("v"), s"$root/ckpt")
      q.processAllAvailable(); q.stop()
    }
    drainStream() // bootstrap
    VT.commitDeleteDv(spark, src, $"k" === 5L)            // group c loses 50
    VT.commitUpdateDv(spark, src, $"k" === 1L, Seq("v" -> lit(13L)))
    ViewOps.refreshAggView(spark, src, bview, Seq("g"), Seq("v"))
    drainStream()
    assert(viewNow(bview) == reAgg(src), "batch fold diverged from the source")
    assert(viewNow(sview) == viewNow(bview),
      "batch and streamed folds must agree over a DV window")
  }

  test("aggDelta refuses a post-image-only feed") {
    val flat = Seq(("update", "a", 5L)).toDF("change_type", "g", "v")
    val ex = intercept[Exception] {
      ViewOps.aggDelta(flat, Seq("g"), Seq("v")).collect()
    }
    assert(ex.getMessage.contains("preimage") ||
      Option(ex.getCause).exists(_.getMessage.contains("preimage")))
  }

  test("refresh spans a source ALTER ADD COLUMNS: ledger advances, view exact") {
    val src = tmp(); val view = tmp(); mkSource(src)
    def refresh(): Long = ViewOps.refreshAggView(spark, src, view,
      Seq("g"), Seq("v"), appId = "evolve-ivm")
    refresh() // bootstrap at v1
    // metadata-only evolution + an update that touches ONLY the new
    // column: the maintained measures' signed delta nets to zero
    VT.commitAddColumns(spark, src, Seq("tag" -> "STRING"))         // v2
    VT.commitUpdate(spark, src, col("g") === "a",
      Seq("tag" -> lit("hot")))                                     // v3
    refresh()
    val m = VT.readManifest(spark, view, VT.currentVersion(spark, view).get)
    assert(m.txns.get("evolve-ivm").contains(3L),
      s"the cursor must advance past the evolution window: ${m.txns}")
    assert(viewNow(view) == reAgg(src))
    // real churn AFTER the evolution folds exactly
    VT.commitMerge(Seq((6L, "c", 60L, "x", false))
      .toDF("k", "g", "v", "tag", "del"), src, Seq("k"), Seq.empty, $"del")
    refresh()
    assert(viewNow(view) == reAgg(src))
    assert(viewNow(view).exists { case (g, n, s) => g == "c" && n == 2 && s == 110L })
  }
}
