package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import graft.ops.{VersionedTable => VT, Warehouse}

class VersionedTableSpec extends SparkSuite {
  import spark.implicits._

  private def tmp(): String =
    Files.createTempDirectory("vtable").toString + "/t"

  /** (path → (len, mtime)) for every referenced data file of a version. */
  private def fileSig(dir: String, v: Long): Map[String, (Long, Long)] = {
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    VT.readManifest(spark, dir, v).files.map { f =>
      val st = fs.getFileStatus(new org.apache.hadoop.fs.Path(s"$dir/${f.path}"))
      f.path -> (st.getLen, st.getModificationTime)
    }.toMap
  }

  test("create + read + history round-trip") {
    val dir = tmp()
    val df = Seq((1L, "a", 1.0), (2L, "b", 2.0), (3L, "c", 3.0)).toDF("k", "s", "v")
    assert(VT.create(df, dir, Seq("k")) == 1L)
    assert(VT.currentVersion(spark, dir).contains(1L))
    val back = VT.read(spark, dir).as[(Long, String, Double)].collect().toSet
    assert(back == Set((1L, "a", 1.0), (2L, "b", 2.0), (3L, "c", 3.0)))
    val h = VT.history(spark, dir)
    assert(h.map(t => (t._1, t._2, t._4)) == Seq((1L, "create", 3L)))
    // second create refuses
    intercept[IllegalArgumentException](VT.create(df, dir, Seq("k")))
  }

  test("local commits leave no checksum sidecars in _vlog") {
    // The tmp manifest used to be written through the checksummed
    // LocalFileSystem while [[graft.ops.AtomicPublish]] linked/deleted it
    // via NIO — orphaning one `..vN.json.tmp-<uuid>.crc` per commit that
    // vacuum never reclaims. The tmp now bypasses ChecksumFileSystem.
    val dir = tmp()
    val df = Seq((1L, "a")).toDF("k", "s")
    VT.create(df, dir, Seq("k"))
    (1 to 3).foreach(i => VT.commitAppend(Seq((i + 1L, "x")).toDF("k", "s"), dir))
    import scala.jdk.CollectionConverters._
    val strays = Files.list(java.nio.file.Paths.get(s"$dir/_vlog"))
      .iterator().asScala.map(_.getFileName.toString)
      .filter(n => n.endsWith(".crc") || n.contains(".tmp-")).toSeq
    assert(strays.isEmpty, s"orphaned _vlog sidecars/tmps: $strays")
  }

  test("commitAppend reuses every existing file by reference; time travel to v1") {
    val dir = tmp()
    VT.create(Seq((1L, "a"), (2L, "b")).toDF("k", "s"), dir, Seq("k"))
    val sig1 = fileSig(dir, 1L)
    VT.commitAppend(Seq((3L, "c")).toDF("k", "s"), dir)
    // every v1 file appears in v2 path-identical and byte-stable
    val sig2 = fileSig(dir, 2L)
    assert(sig1.forall { case (p, s) => sig2.get(p).contains(s) },
      s"v1 files not carried over untouched: $sig1 vs $sig2")
    assert(VT.read(spark, dir).as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (2L, "b"), (3L, "c")))
    assert(VT.read(spark, dir, asOf = Some(1L)).as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (2L, "b")))
    // schema mismatch fails loudly
    intercept[IllegalArgumentException](
      VT.commitAppend(Seq((4L, 9.9)).toDF("k", "s"), dir))
  }

  test("commitMerge rewrites only key-intersecting files; untouched carried byte-stable") {
    val dir = tmp()
    // 4 range-partitioned files over k = 0..99 → tight [min,max] per file
    val base = spark.range(100).select($"id".as("k"), ($"id" % 7).cast("string").as("s"))
      .repartitionByRange(4, $"k").sortWithinPartitions($"k")
    VT.create(base, dir, Seq("k"))
    val sig1 = fileSig(dir, 1L)
    assert(sig1.size == 4)
    // changelog confined to k in [10, 20]: one file's interval
    val changes = Seq((10L, "UPD", false), (15L, "x", true), (200L, "NEW", false))
      .toDF("k", "s", "del")
    VT.commitMerge(changes, dir, Seq("k"), Seq($"s"), $"del")
    val m2 = VT.readManifest(spark, dir, 2L)
    val carried = m2.files.map(_.path).toSet intersect sig1.keySet
    assert(carried.size == 3, s"expected 3 carried files, got ${carried.size}")
    val sig2 = fileSig(dir, 2L)
    carried.foreach(p => assert(sig2(p) == sig1(p), s"carried file $p rewritten"))
    // semantics: update applied, tombstone dropped, insert landed, rest intact
    val out = VT.read(spark, dir).as[(Long, String)].collect().toMap
    assert(out(10L) == "UPD")
    assert(!out.contains(15L))
    assert(out(200L) == "NEW")
    assert(out.size == 100 - 1 + 1) // 100 base - 1 delete + 1 insert
    assert(out(50L) == (50 % 7).toString)
    // and v1 is still exactly the pre-merge state
    assert(VT.read(spark, dir, asOf = Some(1L)).count() == 100)
    assert(VT.read(spark, dir, asOf = Some(1L)).filter($"k" === 10L)
      .as[(Long, String)].head()._2 == (10 % 7).toString)
  }

  test("two sequential merges time-travel to every intermediate state") {
    val dir = tmp()
    VT.create(Seq((1L, 10.0), (2L, 20.0), (3L, 30.0)).toDF("k", "v"), dir, Seq("k"))
    VT.commitMerge(Seq((2L, 21.0, false), (4L, 40.0, false)).toDF("k", "v", "del"),
      dir, Seq("k"), Seq($"v"), $"del")
    VT.commitMerge(Seq((1L, 0.0, true), (4L, 41.0, false)).toDF("k", "v", "del"),
      dir, Seq("k"), Seq($"v"), $"del")
    def at(v: Long) = VT.read(spark, dir, Some(v)).as[(Long, Double)].collect().toMap
    assert(at(1L) == Map(1L -> 10.0, 2L -> 20.0, 3L -> 30.0))
    assert(at(2L) == Map(1L -> 10.0, 2L -> 21.0, 3L -> 30.0, 4L -> 40.0))
    assert(at(3L) == Map(2L -> 21.0, 3L -> 30.0, 4L -> 41.0))
    assert(VT.history(spark, dir).map(_._2) == Seq("merge", "merge", "create"))
  }

  test("merge key must be a stats column") {
    val dir = tmp()
    VT.create(Seq((1L, "a")).toDF("k", "s"), dir, Seq.empty)
    val ex = intercept[IllegalArgumentException](
      VT.commitMerge(Seq((1L, "b", false)).toDF("k", "s", "del"),
        dir, Seq("k"), Seq($"s"), $"del"))
    assert(ex.getMessage.contains("stats column"))
  }

  test("losing a manifest race fails loudly, leaves table consistent") {
    val dir = tmp()
    VT.create(Seq((1L, "a")).toDF("k", "s"), dir, Seq("k"))
    // racer artifact: a manifest already sitting at the version this commit
    // will target (contents: a copy of v1 — parseable, claims version 1, so
    // the append computes next = 2 and collides with the file on disk)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val v1 = new org.apache.hadoop.fs.Path(dir, "_vlog/v000000000001.json")
    val v2 = new org.apache.hadoop.fs.Path(dir, "_vlog/v000000000002.json")
    org.apache.hadoop.fs.FileUtil.copy(fs, v1, fs, v2, false,
      spark.sparkContext.hadoopConfiguration)
    val ex = intercept[VT.ConcurrentCommitException](
      VT.commitAppend(Seq((2L, "b")).toDF("k", "s"), dir))
    assert(ex.getMessage.contains("committed concurrently"))
    // the loser's data files are invisible; the racer's v2 still reads
    assert(VT.read(spark, dir, Some(2L)).count() == 1)
  }

  test("in-flight .tmp manifests and orphaned data dirs are invisible; vacuum reclaims them") {
    val dir = tmp()
    VT.create(Seq((1L, "a")).toDF("k", "s"), dir, Seq("k"))
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // crash window 1: manifest written to tmp, never renamed
    val tmpManifest = new org.apache.hadoop.fs.Path(dir, "_vlog/.v2.json.tmp-dead")
    val o = fs.create(tmpManifest, true); o.write("{}".getBytes); o.close()
    assert(VT.versions(spark, dir) == Seq(1L))
    assert(VT.read(spark, dir).count() == 1)
    // crash window 2: data files written, manifest never published
    Seq((9L, "dead")).toDF("k", "s").write.parquet(s"$dir/data/c9-orphan")
    assert(VT.read(spark, dir).count() == 1) // still invisible
    val deleted = VT.vacuum(spark, dir, keepVersions = 5)
    assert(deleted >= 1, "orphaned commit's parquet not reclaimed")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/data/c9-orphan")))
    assert(VT.read(spark, dir).count() == 1) // live data untouched
  }

  test("vacuum drops pre-cutoff manifests + unreferenced files, keeps shared ones") {
    val dir = tmp()
    val base = spark.range(40).select($"id".as("k"), $"id".cast("string").as("s"))
      .repartitionByRange(4, $"k").sortWithinPartitions($"k")
    VT.create(base, dir, Seq("k"))
    // touch only the first file's range → 3 of 4 files SHARED between v1 and v2
    VT.commitMerge(Seq((1L, "UPD", false)).toDF("k", "s", "del"),
      dir, Seq("k"), Seq($"s"), $"del")
    val shared = VT.readManifest(spark, dir, 1L).files.map(_.path).toSet intersect
      VT.readManifest(spark, dir, 2L).files.map(_.path).toSet
    assert(shared.size == 3)
    val deleted = VT.vacuum(spark, dir, keepVersions = 1)
    assert(deleted == 1, s"exactly v1's rewritten file should go, got $deleted")
    // current version reads fully; the vacuumed one fails loudly
    assert(VT.read(spark, dir).count() == 40)
    assert(VT.read(spark, dir).filter($"k" === 1L).as[(Long, String)].head()._2 == "UPD")
    val ex = intercept[IllegalArgumentException](VT.read(spark, dir, Some(1L)))
    assert(ex.getMessage.contains("vacuumed"))
  }

  test("readPruned skips non-intersecting files, result exact") {
    val dir = tmp()
    val base = spark.range(1000)
      .select($"id".as("k"), ($"id" * 2).cast("double").as("v"))
      .repartitionByRange(8, $"k").sortWithinPartitions($"k")
    VT.create(base, dir, Seq("k", "v"))
    val (files, m) = VT.pruneFiles(spark, dir, "k", lit(100L), lit(220L))
    assert(m.files.size == 8)
    assert(files.size < 8 && files.nonEmpty,
      s"pruning had no effect: ${files.size} of 8 files survive")
    val got = VT.readPruned(spark, dir, "k", lit(100L), lit(220L))
      .agg(count(lit(1)), sum($"v")).as[(Long, Double)].head()
    val want = base.filter($"k".between(100L, 220L))
      .agg(count(lit(1)), sum($"v")).as[(Long, Double)].head()
    assert(got == want)
    // double-typed stats round-trip through Catalyst casts with fractional bounds
    val (dFiles, _) = VT.pruneFiles(spark, dir, "v", lit(100.5), lit(300.25))
    assert(dFiles.size < 8 && dFiles.nonEmpty)
    val gotD = VT.readPruned(spark, dir, "v", lit(100.5), lit(300.25)).count()
    assert(gotD == base.filter($"v".between(100.5, 300.25)).count())
    // un-stats'd column: every file conservatively survives, result still exact
    val dir2 = tmp()
    VT.create(base, dir2, Seq("k"))
    val (all, _) = VT.pruneFiles(spark, dir2, "v", lit(0.0), lit(10.0))
    assert(all.size == 8)
  }

  test("all-null stats files are skipped by BETWEEN reads") {
    val dir = tmp()
    val withNulls = Seq((1L, Some(5.0)), (2L, None), (3L, Some(7.0)))
      .toDF("k", "v")
    VT.create(withNulls.repartition(1), dir, Seq("k", "v"))
    // append an all-null-v file
    VT.commitAppend(Seq((10L, Option.empty[Double]), (11L, Option.empty[Double]))
      .toDF("k", "v").repartition(1), dir)
    val (files, m) = VT.pruneFiles(spark, dir, "v", lit(0.0), lit(100.0))
    assert(m.files.size == 2 && files.size == 1,
      s"all-null file should be pruned for BETWEEN: $files")
    assert(VT.readPruned(spark, dir, "v", lit(0.0), lit(100.0)).count() == 2)
  }

  test("txn ledger: a replayed batch id skips, a fresh one commits, ledger carries") {
    val dir = tmp()
    VT.create(Seq((1L, "a"), (2L, "b")).toDF("k", "s"), dir, Seq("k"))
    val v2 = VT.commitMerge(Seq((1L, "upd", false)).toDF("k", "s", "del"),
      dir, Seq("k"), Seq($"s"), $"del", txn = Some("cdc-stream" -> 0L))
    assert(v2 == 2L)
    // replay of batch 0 (offsets-uncommitted crash window): GHOST data must
    // NOT land, version must not advance
    val replayed = VT.commitMerge(Seq((1L, "GHOST", false)).toDF("k", "s", "del"),
      dir, Seq("k"), Seq($"s"), $"del", txn = Some("cdc-stream" -> 0L))
    assert(replayed == 2L)
    assert(VT.read(spark, dir).filter($"k" === 1L).as[(Long, String)].head()._2 == "upd")
    // a DIFFERENT app's batch 0 is not confused with this stream's
    val other = VT.commitAppend(Seq((9L, "x")).toDF("k", "s"), dir,
      txn = Some("other-app" -> 0L))
    assert(other == 3L)
    // ledger carried across the unrelated commit: batch 0 still skips,
    // batch 1 commits
    assert(VT.commitMerge(Seq((1L, "GHOST2", false)).toDF("k", "s", "del"),
      dir, Seq("k"), Seq($"s"), $"del", txn = Some("cdc-stream" -> 0L)) == 3L)
    assert(VT.commitMerge(Seq((1L, "upd2", false)).toDF("k", "s", "del"),
      dir, Seq("k"), Seq($"s"), $"del", txn = Some("cdc-stream" -> 1L)) == 4L)
    assert(VT.readManifest(spark, dir, 4L).txns ==
      Map("cdc-stream" -> 1L, "other-app" -> 0L))
  }

  test("commitCompact bin-packs small files, preserves data + history, re-clusters") {
    val dir = tmp()
    // 6 small files with keys deliberately SCATTERED across files, so
    // every file's [min,max] spans the whole key range and pruning is
    // useless before compaction
    val scattered = spark.range(600)
      .select($"id".as("k"), $"id".cast("string").as("s"))
      .repartition(6) // round-robin: each file sees the full range
    VT.create(scattered, dir, Seq("k"))
    val m1 = VT.readManifest(spark, dir, 1L)
    assert(m1.files.size == 6)
    val (before, _) = VT.pruneFiles(spark, dir, "k", lit(0L), lit(99L))
    assert(before.size == 6, "scattered layout should defeat pruning")
    // compact + re-cluster on k
    val v2 = VT.commitCompact(spark, dir, targetBytes = 4096L,
      smallBytes = Long.MaxValue, clusterBy = Seq("k"))
    assert(v2 == 2L)
    // data identical, history intact
    assert(VT.read(spark, dir).as[(Long, String)].collect().toSet ==
      VT.read(spark, dir, Some(1L)).as[(Long, String)].collect().toSet)
    assert(VT.history(spark, dir).head._2 == "compact")
    // clusterBy wrote range-disjoint files: pruning works again
    val m2 = VT.readManifest(spark, dir, 2L)
    val (after, _) = VT.pruneFiles(spark, dir, "k", lit(0L), lit(99L))
    assert(after.size < m2.files.size || m2.files.size == 1,
      s"re-clustered layout should prune: ${after.size} of ${m2.files.size}")
    // nothing-to-do path: every file "big enough" → version unchanged
    assert(VT.commitCompact(spark, dir, smallBytes = 1L) == 2L)
  }

  test("commitCompact zorder: a trailing-dimension band prunes only under z-order") {
    // 32×32 grid; a band on k2 ALONE is the case lexicographic (k1, k2)
    // clustering cannot prune (every k1-range file spans all of k2) but a
    // Morton layout can (z-tiles are boxes in BOTH dimensions).
    def mk(zorder: Boolean): String = {
      val dir = tmp()
      val grid = spark.range(1024)
        .select(($"id" % 32).as("k1"), ($"id" / 32).cast("long").as("k2"),
          $"id".cast("string").as("s"))
        .repartition(4) // scattered: pruning useless before compaction
      VT.create(grid, dir, Seq("k1", "k2"))
      VT.commitCompact(spark, dir, targetBytes = 2048L,
        smallBytes = Long.MaxValue, clusterBy = Seq("k1", "k2"),
        zorder = zorder)
      dir
    }
    val lex = mk(zorder = false)
    val zed = mk(zorder = true)
    val band = Seq(("k2", lit(8L), lit(11L)))
    val (lexSurv, lexM) = VT.pruneFilesMulti(spark, lex, band)
    val (zSurv, zM) = VT.pruneFilesMulti(spark, zed, band)
    assert(lexM.files.size > 2 && zM.files.size > 2, "need a multi-file layout")
    assert(lexSurv.size == lexM.files.size,
      s"lexicographic layout should NOT prune a trailing-column band " +
        s"(${lexSurv.size} of ${lexM.files.size})")
    assert(zSurv.size < zM.files.size,
      s"z-order layout should prune the same band (${zSurv.size} of ${zM.files.size})")
    // and both layouts answer the band identically
    val want = (8L to 11L).flatMap(k2 => (0L until 32L).map(k1 => (k1, k2))).toSet
    def got(dir: String) = VT.readPrunedMulti(spark, dir, band)
      .select($"k1", $"k2").as[(Long, Long)].collect().toSet
    assert(got(lex) == want && got(zed) == want)
    // zorder demands manifest stats on both dims
    val noStats = tmp()
    VT.create(spark.range(10).select($"id".as("k1"), $"id".as("k2")), noStats, Seq("k1"))
    intercept[IllegalArgumentException](VT.commitCompact(spark, noStats,
      clusterBy = Seq("k1", "k2"), zorder = true))
  }

  test("commitCompact zorder generalizes to 3 dimensions: every trailing band prunes") {
    // 16×16×16 grid; bands on the SECOND and THIRD dimensions are the
    // cases lexicographic clustering answers with a full scan
    def mk(zorder: Boolean): String = {
      val dir = tmp()
      val grid = spark.range(4096).select(
        ($"id" % 16).as("k1"),
        (($"id" / 16) % 16).cast("long").as("k2"),
        ($"id" / 256).cast("long").as("k3"))
        .repartition(4)
      VT.create(grid, dir, Seq("k1", "k2", "k3"))
      VT.commitCompact(spark, dir, targetBytes = 700L,
        smallBytes = Long.MaxValue, clusterBy = Seq("k1", "k2", "k3"),
        zorder = zorder)
      dir
    }
    val lex = mk(zorder = false)
    val zed = mk(zorder = true)
    for (dim <- Seq("k2", "k3")) {
      val band = Seq((dim, lit(4L), lit(5L)))
      val (lexSurv, lexM) = VT.pruneFilesMulti(spark, lex, band)
      val (zSurv, zM) = VT.pruneFilesMulti(spark, zed, band)
      assert(lexSurv.size == lexM.files.size,
        s"lex layout should not prune a $dim band")
      assert(zSurv.size < zM.files.size,
        s"3-D z-order should prune a $dim band (${zSurv.size} of ${zM.files.size})")
      val want = spark.range(4096).select(
          ($"id" % 16).as("k1"), (($"id" / 16) % 16).cast("long").as("k2"),
          ($"id" / 256).cast("long").as("k3"))
        .filter(col(dim) >= 4L && col(dim) <= 5L)
        .as[(Long, Long, Long)].collect().toSet
      assert(VT.readPrunedMulti(spark, zed, band)
        .as[(Long, Long, Long)].collect().toSet == want)
    }
  }

  test("SQL TVF graft_vtable_stats mirrors tableStats without a scan") {
    graft.functions.GraftFunctions.register(spark)
    val dir = tmp()
    VT.create(Seq((1L, "a"), (2L, "b"), (3L, null))
      .toDF("k", "s").repartition(1), dir, Seq("k", "s"))
    val got = spark.sql(s"SELECT * FROM graft_vtable_stats('$dir')")
      .as[(Long, Boolean, String, Long, String, String)].collect().toSet
    assert(got == Set(
      (3L, true, "k", 0L, "1", "3"),
      (3L, true, "s", 1L, "a", "b")))
  }

  test("commitMergeEvolve appends a new column; carried files read NULL through the evolved schema") {
    val dir = tmp()
    // 2 range-disjoint files; the evolving changelog touches only one
    val base = spark.range(20).select($"id".as("k"), $"id".cast("string").as("s"))
      .repartitionByRange(2, $"k").sortWithinPartitions($"k")
    VT.create(base, dir, Seq("k"))
    val sig1 = fileSig(dir, 1L)
    VT.commitMergeEvolve(
      Seq((1L, "upd", 9.5, false), (100L, "new", 1.5, false)).toDF("k", "s", "extra", "del"),
      dir, Seq("k"), Seq($"s"), $"del", metaCols = Seq("del"))
    // the untouched file carried over byte-stable despite the evolution
    val m2 = VT.readManifest(spark, dir, 2L)
    val carried = m2.files.map(_.path).toSet intersect sig1.keySet
    assert(carried.size == 1)
    assert(fileSig(dir, 2L)(carried.head) == sig1(carried.head))
    // evolved reads: changed/inserted rows carry the value, carried rows NULL
    val out = VT.read(spark, dir).select("k", "s", "extra")
      .as[(Long, String, Option[Double])].collect()
      .map { case (k, s, e) => k -> (s, e) }.toMap
    assert(out(1L) == ("upd", Some(9.5)))
    assert(out(100L) == ("new", Some(1.5)))
    assert(out(15L) == ("15", None), "carried file must read NULL for the evolved column")
    // the delete flag stayed transport metadata, not table payload
    assert(!VT.read(spark, dir).columns.contains("del"))
    // time travel to the pre-evolution version keeps the narrow schema
    assert(VT.read(spark, dir, Some(1L)).columns.toSeq == Seq("k", "s"))
  }

  test("changesBetween classifies insert/update/delete, drops rewritten no-ops") {
    val dir = tmp()
    // 4 range-clustered files over k = 0..39; the merge touches ONE file's
    // interval, so its untouched neighbors (k=10..39) are never read by
    // the feed — and the rewritten file's unchanged keys must drop as
    // no-ops
    val base = spark.range(40).select($"id".as("k"), ($"id" % 5).cast("string").as("s"))
      .repartitionByRange(4, $"k").sortWithinPartitions($"k")
    VT.create(base, dir, Seq("k"))
    VT.commitMerge(Seq((3L, "UPD", false), (7L, "x", true), (100L, "NEW", false))
      .toDF("k", "s", "del"), dir, Seq("k"), Seq($"s"), $"del")
    val feed = VT.changesBetween(spark, dir, 1L, 2L, Seq("k"))
      .as[(String, Long, String)].collect().toSet
    assert(feed == Set(
      ("update", 3L, "UPD"),
      ("delete", 7L, (7 % 5).toString),
      ("insert", 100L, "NEW")), s"got $feed")
    // equals the brute-force snapshot diff
    val v1 = VT.read(spark, dir, Some(1L)).as[(Long, String)].collect().toMap
    val v2 = VT.read(spark, dir, Some(2L)).as[(Long, String)].collect().toMap
    val model = (v1.keySet ++ v2.keySet).flatMap { k =>
      (v1.get(k), v2.get(k)) match {
        case (None, Some(s)) => Some(("insert", k, s))
        case (Some(s), None) => Some(("delete", k, s))
        case (Some(a), Some(b)) if a != b => Some(("update", k, b))
        case _ => None
      }
    }
    assert(feed == model)
    // cursor composability: feed(1,2) then feed(2,2+) — a second merge,
    // and the two deltas folded sequentially equal the one-shot diff
    VT.commitMerge(Seq((3L, "UPD2", false), (100L, "x", true)).toDF("k", "s", "del"),
      dir, Seq("k"), Seq($"s"), $"del")
    val oneShot = VT.changesBetween(spark, dir, 1L, 3L, Seq("k"))
      .as[(String, Long, String)].collect().toSet
    assert(oneShot.contains(("update", 3L, "UPD2")))
    assert(!oneShot.exists(_._2 == 100L),
      "a key inserted then deleted within the window must not appear")
    intercept[IllegalArgumentException](
      VT.changesBetween(spark, dir, 2L, 2L, Seq("k")))
  }

  test("multi-range pruning: z-ordered layout prunes on BOTH dimensions at once") {
    import graft.ops.LayoutOps
    val dir = tmp()
    // z-order 4096 (x, y) grid points so every file carries tight
    // intervals on BOTH columns, then version the clustered layout
    val grid = spark.range(4096).select(
      ($"id" % 64).cast("double").as("x"),
      floor($"id" / 64).cast("double").as("y"))
    val clustered = grid
      .repartitionByRange(8, LayoutOps.zvalue(
        LayoutOps.rank32($"x", 0, 64), LayoutOps.rank32($"y", 0, 64)))
      .sortWithinPartitions(LayoutOps.zvalue(
        LayoutOps.rank32($"x", 0, 64), LayoutOps.rank32($"y", 0, 64)))
    VT.create(clustered, dir, Seq("x", "y"))
    val (xOnly, m) = VT.pruneFilesMulti(spark, dir,
      Seq(("x", lit(0.0), lit(15.0))))
    val (both, _) = VT.pruneFilesMulti(spark, dir,
      Seq(("x", lit(0.0), lit(15.0)), ("y", lit(0.0), lit(15.0))))
    assert(m.files.size == 8)
    assert(both.size <= xOnly.size,
      s"adding a conjunct can only prune more: x=${xOnly.size} both=${both.size}")
    assert(both.size < 8, "z-ordered layout should prune the 2-D box")
    val got = VT.readPrunedMulti(spark, dir,
        Seq(("x", lit(0.0), lit(15.0)), ("y", lit(0.0), lit(15.0)))).count()
    assert(got == 16 * 16, s"exact 2-D box count, got $got")
    // un-stats'd predicate column → conservative full survival, exact result
    val (all, _) = VT.pruneFilesMulti(spark, dir,
      Seq(("nope", lit(0.0), lit(1.0))).map { case (c, a, b) => (c, a, b) })
    assert(all.size == 8)
  }

  test("readWhere mines prunable conjuncts from an arbitrary predicate") {
    val dir = tmp()
    val base = spark.range(800).select($"id".as("k"),
        ($"id" % 10).cast("string").as("cat"), ($"id" * 3).cast("double").as("v"))
      .repartitionByRange(8, $"k").sortWithinPartitions($"k")
    VT.create(base, dir, Seq("k"))
    // mixed predicate: two range conjuncts on the stats column, an
    // equality on an un-stats'd column, and an un-extractable length()
    // conjunct — result must equal the plain filter exactly
    val cond = $"k" >= 100L && $"k" < 220L && $"cat" === "3" && length($"cat") === 1
    val got = VT.readWhere(spark, dir, cond).as[(Long, String, Double)].collect().toSet
    val want = base.filter(cond).as[(Long, String, Double)].collect().toSet
    assert(got == want && got.nonEmpty)
    // the miner found exactly the three comparison conjuncts
    val (ranges, _) = VT.extractRanges(spark, dir, cond)
    assert(ranges.map(_._1) == Seq("k", "k", "cat"), s"got ${ranges.map(_._1)}")
    assert(ranges(0)._2.isDefined && ranges(0)._3.isEmpty)  // k >= 100: lo only
    assert(ranges(1)._2.isEmpty && ranges(1)._3.isDefined)  // k < 220: hi only
    assert(ranges(2)._2.isDefined && ranges(2)._3.isDefined) // cat = '3': point
    // and the k conjuncts genuinely pruned: survivors < total files
    val (survivors, m) = VT.pruneFilesMulti(spark, dir,
      Seq(("k", lit(100L), lit(220L))))
    assert(m.files.size == 8 && survivors.size < 8)
    // flipped operand order and a literal-on-left strict compare
    val (flipped, _) = VT.extractRanges(spark, dir, lit(500L) > $"k")
    assert(flipped == flipped.filter { case (n, lo, hi) =>
      n == "k" && lo.isEmpty && hi.isDefined })
    // the literal side is folded before mining: a cast literal and a
    // literal sum prune like a bare literal
    for (c <- Seq($"k" >= lit(650).cast("bigint"), $"k" >= lit(640) + 5)) {
      assert(VT.extractRanges(spark, dir, c)._1.map(_._1) == Seq("k"), s"$c")
      assert(VT.readWhere(spark, dir, c).inputFiles.length < 8, s"$c pruned nothing")
      assert(VT.readWhere(spark, dir, c).count() == base.filter(c).count())
    }
    // null-safe equality and arithmetic on the column never mine
    assert(VT.extractRanges(spark, dir, $"k" <=> 5L) == ((Nil, Nil)))
    assert(VT.extractRanges(spark, dir, $"k" + 1 > 5L) == ((Nil, Nil)))
    // an OR is never split — nothing extracted, nothing pruned, still exact
    val orCond = $"k" < 10L || $"cat" === "7"
    assert(VT.extractRanges(spark, dir, orCond)._1.isEmpty)
    assert(VT.readWhere(spark, dir, orCond).count() ==
      base.filter(orCond).count())
    // IN-list pruning (the DPP shape): two far-apart point lookups open
    // only their two files; result exact
    val inCond = $"k".isin(5L, 700L) && length($"cat") === 1
    val (_, mined) = VT.extractRanges(spark, dir, inCond)
    assert(mined.map(_._1) == Seq("k") && mined.head._2.size == 2)
    val gotIn = VT.readWhere(spark, dir, inCond).as[(Long, String, Double)]
      .collect().map(_._1).toSet
    assert(gotIn == Set(5L, 700L))
    // pruning engaged: an IN over one value must open fewer files than the table has
    val (inSurv, _) = VT.pruneFilesMulti(spark, dir, Seq(("k", lit(5L), lit(5L))))
    assert(inSurv.size == 1)
  }

  test("tableStats: exact zero-scan stats from the manifest feed the join advisor") {
    val dir = tmp()
    val base = spark.range(200)
      .select($"id".as("k"), when($"id" % 10 === 0, lit(null)).otherwise($"id" * 2)
        .cast("double").as("v"))
      .repartitionByRange(4, $"k").sortWithinPartitions($"k")
    VT.create(base, dir, Seq("k", "v"))
    val st = VT.tableStats(spark, dir)
    assert(st.rows == 200 && st.exact)
    assert(st.cols("k") == ((0L, Some("0"), Some("199"))))
    val (vNulls, vMin, vMax) = st.cols("v")
    assert(vNulls == 20)
    assert(vMin.contains("2.0") && vMax.contains("398.0"), s"$vMin/$vMax")
    // the manifest rows feed adviseJoin exactly like a counted build side
    import graft.ops.ValidateOps
    val verdict = ValidateOps.adviseJoin(st.rows,
      ValidateOps.KeyStats(rows = 10_000_000L, distinct = 1_000_000L, topCount = 20L))
    assert(verdict == ValidateOps.Broadcast,
      s"a 200-row manifest build side must broadcast, got $verdict")
    // a patch's pending deletion vector demotes exactness
    VT.commitPatch(Seq((1L, 1.0, false)).toDF("k", "v", "del"),
      dir, Seq("k"), Seq($"v"), $"del")
    assert(!VT.tableStats(spark, dir).exact)
  }

  test("merge-on-read: patch commits are O(batch), fold equals sequential merges, guards hold") {
    val dir = tmp()
    val base = spark.range(40).select($"id".as("k"), ($"id" % 7).cast("string").as("s"))
      .repartitionByRange(4, $"k").sortWithinPartitions($"k")
    VT.create(base, dir, Seq("k"))
    val sig1 = fileSig(dir, 1L)
    // two patch batches: update/tombstone/insert, then a re-update
    val p1 = Seq((3L, "UPD", false), (7L, "x", true), (100L, "NEW", false))
      .toDF("k", "s", "del")
    val p2 = Seq((3L, "UPD2", false), (100L, "gone", true)).toDF("k", "s", "del")
    VT.commitPatch(p1, dir, Seq("k"), Seq($"s"), $"del")
    VT.commitPatch(p2, dir, Seq("k"), Seq($"s"), $"del")
    // base files NEVER touched by patch commits: each recorded its matched
    // rows as one deletion vector
    val sig3 = fileSig(dir, 3L)
    assert(sig1.forall { case (p, s) => sig3.get(p).contains(s) })
    val m3 = VT.readManifest(spark, dir, 3L)
    assert(m3.op == "patch" && m3.dvs.size == 2)
    // fold equals the sequential CoW-merge model
    val model = {
      val m1 = Warehouse.applyChanges(base, Warehouse.dedupByKey(p1, Seq("k"), Seq($"s")),
        Seq("k"), $"del")
      Warehouse.applyChanges(m1, Warehouse.dedupByKey(p2, Seq("k"), Seq($"s")),
        Seq("k"), $"del")
    }.as[(Long, String)].collect().toMap
    assert(VT.read(spark, dir).as[(Long, String)].collect().toMap == model)
    assert(model(3L) == "UPD2" && !model.contains(7L) && !model.contains(100L))
    // every patch state time-travels
    assert(VT.read(spark, dir, Some(1L)).count() == 40)
    val v2 = VT.read(spark, dir, Some(2L)).as[(Long, String)].collect().toMap
    assert(v2(3L) == "UPD" && v2(100L) == "NEW" && !v2.contains(7L))
    // row-rewriting commits refuse under the pending deletion vectors
    intercept[IllegalArgumentException](
      VT.commitMerge(p1, dir, Seq("k"), Seq($"s"), $"del"))
    intercept[IllegalArgumentException](VT.commitCompact(spark, dir))
    // txn ledger works on patches too: replay of a recorded batch skips
    val v4 = VT.commitPatch(Seq((5L, "T", false)).toDF("k", "s", "del"),
      dir, Seq("k"), Seq($"s"), $"del", txn = Some("app" -> 0L))
    assert(v4 == 4L)
    assert(VT.commitPatch(Seq((5L, "GHOST", false)).toDF("k", "s", "del"),
      dir, Seq("k"), Seq($"s"), $"del", txn = Some("app" -> 0L)) == 4L)
    assert(VT.read(spark, dir).as[(Long, String)].collect().toMap.apply(5L) == "T")
  }

  test("merge-on-read equals sequential copy-on-write on random patch chains") {
    // model: apply each patch batch one at a time to a Map; the table must
    // match BEFORE materialization, AFTER it, and after the last batch is
    // committed again on the materialized table (a replayed batch converges)
    val genBatch = Gen.listOf(Gen.zip(
      Gen.choose(0, 20), Gen.alphaStr.map(_.take(3)), Gen.oneOf(true, false)))
      .map(_.groupBy(_._1).map(_._2.head).toList) // one row per key per batch
    val prop = Prop.forAll(Gen.mapOf(Gen.zip(Gen.choose(0, 20), Gen.alphaStr.map(_.take(3)))),
      Gen.listOfN(3, genBatch)) { (base, batches) =>
      val dir = tmp()
      VT.create(base.toSeq.toDF("k", "s"), dir, Seq("k"))
      val patch = (b: List[(Int, String, Boolean)]) =>
        VT.commitPatch(b.toDF("k", "s", "del"), dir, Seq("k"), Seq($"s"), $"del")
      batches.foreach(patch)
      val model = batches.foldLeft(base) { (m, b) =>
        b.foldLeft(m) { case (acc, (k, v, del)) =>
          if (del) acc - k else acc.updated(k, v)
        }
      }
      def state() = VT.read(spark, dir).as[(Int, String)].collect().toMap
      // a batch publishes a version iff it hits a live key or appends a row
      val changing = batches.scanLeft(base) { (m, b) =>
        b.foldLeft(m) { case (acc, (k, v, del)) => if (del) acc - k else acc.updated(k, v) }
      }.zip(batches).count { case (m, b) => b.exists { case (k, _, del) => !del || m.contains(k) } }
      val okChain = VT.currentVersion(spark, dir).get == 1L + changing
      val okBefore = state() == model
      val vC = VT.materializeDvs(spark, dir)
      val okAfter = state() == model && VT.readManifest(spark, dir, vC).dvs.isEmpty
      patch(batches.last)
      okChain && okBefore && okAfter && state() == model
    }
    val result = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(10), prop)
    assert(result.passed, result.status.toString)
  }

  test("a 0-row patch publishes no version and leaves data/ as it was") {
    val dir = tmp()
    VT.create(Seq((1L, "a"), (2L, "b")).toDF("k", "s"), dir, Seq("k"))
    def dataFiles(): Seq[String] = {
      val root = java.nio.file.Paths.get(dir, "data")
      val walk = Files.walk(root)
      try walk.iterator().asScala.filter(Files.isRegularFile(_))
        .map(root.relativize(_).toString).toSeq.sorted
      finally walk.close()
    }
    val empty = Seq.empty[(Long, String, Boolean)].toDF("k", "s", "del")
    def patchEmpty() = VT.commitPatch(empty, dir, Seq("k"), Seq($"s"), $"del")
    // a tombstone for an absent key neither matches nor appends
    def patchAbsent() = VT.commitPatch(Seq((9L, "x", true)).toDF("k", "s", "del"),
      dir, Seq("k"), Seq($"s"), $"del")
    val files1 = dataFiles()
    assert(patchEmpty() == 1L && patchAbsent() == 1L)
    assert(VT.versions(spark, dir) == Seq(1L))
    assert(dataFiles() == files1)
    // after a patch: its deletion vector stays as it was
    assert(VT.commitPatch(Seq((1L, "A", false)).toDF("k", "s", "del"),
      dir, Seq("k"), Seq($"s"), $"del") == 2L)
    val files2 = dataFiles()
    assert(patchEmpty() == 2L && patchAbsent() == 2L)
    assert(VT.versions(spark, dir) == Seq(1L, 2L))
    assert(dataFiles() == files2)
    assert(VT.readManifest(spark, dir, 2L).dvs.size == 1)
    assert(VT.read(spark, dir).as[(Long, String)].collect().toMap ==
      Map(1L -> "A", 2L -> "b"))
  }

  test("materializeDvs folds a patch, rewriting only its touched file; pruned reads stay exact under a patch") {
    val dir = tmp()
    val base = spark.range(100).select($"id".as("k"), ($"id" * 2).cast("double").as("v"))
      .repartitionByRange(4, $"k").sortWithinPartitions($"k")
    VT.create(base, dir, Seq("k"))
    val sig1 = fileSig(dir, 1L)
    // patch confined to one file's key interval — and it moves a value
    // INTO a range that file would otherwise be pruned for
    VT.commitPatch(Seq((10L, 9999.0, false)).toDF("k", "v", "del"),
      dir, Seq("k"), Seq($"v"), $"del")
    // pruned read on v: file of k=10 has on-disk v=20 (its row is dead),
    // and the patched row lives in the patch's appended file
    val got = VT.readWhere(spark, dir, $"v" >= 9000.0 && $"v" <= 10000.0)
      .as[(Long, Double)].collect().toSeq
    assert(got == Seq((10L, 9999.0)), s"patched row lost by pruning: $got")
    // range read over k prunes base files but folds exactly
    val r = VT.readPruned(spark, dir, "k", lit(5L), lit(15L))
      .as[(Long, Double)].collect().toMap
    assert(r(10L) == 9999.0 && r(11L) == 22.0 && r.size == 11)
    // materialization rewrites only the file holding the patched key's
    // dead row; the other three carry over byte-stable; the DVs empty
    val vC = VT.materializeDvs(spark, dir)
    val mC = VT.readManifest(spark, dir, vC)
    assert(mC.dvs.isEmpty && mC.op == "dv_materialize")
    val sigC = fileSig(dir, vC)
    val carried = sigC.keySet intersect sig1.keySet
    assert(carried.size == 3, s"expected 3 carried base files, got ${carried.size}")
    carried.foreach(p => assert(sigC(p) == sig1(p)))
    assert(VT.read(spark, dir).filter($"k" === 10L).as[(Long, Double)].head()._2 == 9999.0)
    // nothing-to-fold path
    assert(VT.materializeDvs(spark, dir) == vC)
    // base-mutating commits work again
    VT.commitAppend(Seq((500L, 1.0)).toDF("k", "v"), dir)
    assert(VT.read(spark, dir).count() == 101)
  }

  test("CDF spans patch-only windows key-pruned and falls back across compaction") {
    val dir = tmp()
    VT.create(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "s")
      .repartition(1), dir, Seq("k"))
    VT.commitPatch(Seq((2L, "b2", false), (4L, "d", false)).toDF("k", "s", "del"),
      dir, Seq("k"), Seq($"s"), $"del")
    VT.commitPatch(Seq((1L, "x", true)).toDF("k", "s", "del"),
      dir, Seq("k"), Seq($"s"), $"del")
    // patch window: exact insert/update/delete classification
    val feed = VT.changesBetween(spark, dir, 1L, 3L, Seq("k"))
      .as[(String, Long, String)].collect().toSet
    assert(feed == Set(("update", 2L, "b2"), ("insert", 4L, "d"), ("delete", 1L, "a")))
    // sub-window
    val feed12 = VT.changesBetween(spark, dir, 1L, 2L, Seq("k"))
      .as[(String, Long, String)].collect().toSet
    assert(feed12 == Set(("update", 2L, "b2"), ("insert", 4L, "d")))
    // across the materialization: the identical logical diff, and no
    // phantom rows from the rewrite
    VT.materializeDvs(spark, dir)
    val feedAcross = VT.changesBetween(spark, dir, 1L, 4L, Seq("k"))
      .as[(String, Long, String)].collect().toSet
    assert(feedAcross == feed, s"compaction changed the logical diff: $feedAcross")
    // and a window that is ONLY the materialization reports no changes
    assert(VT.changesBetween(spark, dir, 3L, 4L, Seq("k")).count() == 0)
    // across patches → materialization → EVOLUTION: the v1 side reads
    // through the wider schema, evolved column NULL as pre-image
    VT.commitMergeEvolve(Seq((2L, "b3", 5.5, false)).toDF("k", "s", "extra", "del"),
      dir, Seq("k"), Seq($"s"), $"del", metaCols = Seq("del"))
    val wide = VT.changesBetween(spark, dir, 1L, 5L, Seq("k"))
      .as[(String, Long, String, Option[Double])].collect().toSet
    assert(wide == Set(
      ("update", 2L, "b3", Some(5.5)),
      ("insert", 4L, "d", None),
      ("delete", 1L, "a", None)), s"got $wide")
  }

  test("restore rolls back as a new commit: data, inverse CDF, ledger monotone, vacuum-safe") {
    val dir = tmp()
    val base = spark.range(100)
      .select($"id".as("k"), ($"id" % 7).cast("string").as("s"))
      .repartitionByRange(4, $"k").sortWithinPartitions($"k")
    VT.create(base, dir, Seq("k"))
    val v1Rows = VT.read(spark, dir).as[(Long, String)].collect().toSet
    VT.commitMerge(Seq((5L, "changed", false), (200L, "new", false), (7L, "", true))
      .toDF("k", "s", "del"), dir, Seq("k"), Seq.empty, $"del",
      txn = Some("app-x" -> 1L))
    VT.commitMerge(Seq((6L, "changed2", false)).toDF("k", "s", "del"),
      dir, Seq("k"), Seq.empty, $"del")
    val v3Rows = VT.read(spark, dir).as[(Long, String)].collect().toSet
    // restore to v1: one manifest write, read == v1, history records it
    val v4 = VT.restore(spark, dir, 1L)
    assert(v4 == 4L)
    assert(VT.read(spark, dir).as[(Long, String)].collect().toSet == v1Rows)
    assert(VT.history(spark, dir).head._2 == "restore")
    // restore-to-current is a no-op
    assert(VT.restore(spark, dir, 4L) == 4L)
    // CDF across the restore window is exactly the inverse delta
    val feed = VT.changesBetween(spark, dir, 3L, 4L, Seq("k"))
      .select($"change_type", $"k", $"s").as[(String, Long, String)]
      .collect().toSet
    val m1 = v1Rows.toMap; val m3 = v3Rows.toMap
    val want =
      (m1.keySet -- m3.keySet).map(k => ("insert", k, m1(k))) ++
      (m3.keySet -- m1.keySet).map(k => ("delete", k, m3(k))) ++
      (m1.keySet & m3.keySet).filter(k => m1(k) != m3(k))
        .map(k => ("update", k, m1(k)))
    assert(feed == want, s"restore CDF should be the inverse delta: $feed")
    // the ledger came from the CURRENT version, not the restored one: a
    // replay of app-x batch 1 must still no-op even though its data was
    // rolled back (cursors are monotone by contract)
    assert(VT.commitMerge(Seq((5L, "again", false)).toDF("k", "s", "del"),
      dir, Seq("k"), Seq.empty, $"del", txn = Some("app-x" -> 1L)) == 4L)
    // vacuum keeps the restored version's (= v1's) files
    VT.vacuum(spark, dir, keepVersions = 1)
    assert(VT.read(spark, dir).as[(Long, String)].collect().toSet == v1Rows)
    // a vacuumed target fails loudly
    intercept[IllegalArgumentException](VT.restore(spark, dir, 2L))
  }

  test("withCommitRetry: re-runs only on the concurrent-commit race, bounded") {
    var n = 0
    val r = VT.withCommitRetry(3) {
      n += 1
      if (n == 1) throw new graft.ops.VersionedTable.ConcurrentCommitException(
        "VersionedTable: version 7 was committed concurrently — retry")
      42
    }
    assert(r == 42 && n == 2)
    // exhaustion surfaces the last race loudly
    val ex = intercept[IllegalStateException] {
      VT.withCommitRetry(2) {
        throw new graft.ops.VersionedTable.ConcurrentCommitException("was committed concurrently")
      }
    }
    assert(ex.getMessage.contains("lost the commit race 2 times"))
    // unrelated failures propagate immediately, no retry
    var m = 0
    intercept[IllegalArgumentException] {
      VT.withCommitRetry(5) { m += 1; throw new IllegalArgumentException("boom") }
    }
    assert(m == 1)
  }

  test("SQL TVFs: graft_vtable_history and graft_vtable_changes mirror the library calls") {
    graft.functions.GraftFunctions.register(spark)
    val dir = tmp()
    VT.create(Seq((1L, "a"), (2L, "b")).toDF("k", "s").repartition(1), dir, Seq("k"))
    VT.commitMerge(Seq((2L, "b2", false), (3L, "c", false)).toDF("k", "s", "del"),
      dir, Seq("k"), Seq.empty, $"del")
    val sqlHist = spark.sql(
      s"SELECT version, op, files, rows, CAST(unix_millis(commit_ts) AS BIGINT) " +
        s"FROM graft_vtable_history('$dir')")
      .as[(Long, String, Int, Long, Long)].collect().toSeq
    assert(sqlHist == VT.history(spark, dir))
    // every commit carries a wall-clock timestamp, newest-first ordering
    assert(sqlHist.forall(_._5 > 0L))
    val sqlFeed = spark.sql(
      s"SELECT change_type, k, s FROM graft_vtable_changes('$dir', 1, 2, 'k')")
      .as[(String, Long, String)].collect().toSet
    val libFeed = VT.changesBetween(spark, dir, 1L, 2L, Seq("k"))
      .select($"change_type", $"k", $"s").as[(String, Long, String)]
      .collect().toSet
    assert(sqlFeed == libFeed && sqlFeed.nonEmpty)
    // non-literal args refuse loudly
    intercept[Exception](spark.sql(
      s"SELECT * FROM graft_vtable_changes('$dir', 1, 2, k)").collect())
    // props TVF: the identity UUID is queryable, constraints appear/vanish
    val id = spark.sql(s"SELECT value FROM graft_vtable_props('$dir') " +
      "WHERE key = 'graft.tableId'").as[String].collect()
    assert(id.length == 1 && id.head == VT.tableId(spark, dir).get)
    VT.addCheckConstraint(spark, dir, "k_pos", "k > 0")
    assert(spark.sql(s"SELECT value FROM graft_vtable_props('$dir') " +
      "WHERE key = 'graft.check.k_pos'").as[String].head() == "k > 0")
    // version arg: the pre-constraint manifest has no such prop
    assert(spark.sql(s"SELECT * FROM graft_vtable_props('$dir', 2) " +
      "WHERE key LIKE 'graft.check.%'").count() == 0L)
  }

  test("TIMESTAMP AS OF: adjusted commit times resolve versions deterministically") {
    val dir = tmp()
    VT.create(Seq((1L, "a")).toDF("k", "s"), dir, Seq("k"))
    VT.commitAppend(Seq((2L, "b")).toDF("k", "s"), dir)
    VT.commitAppend(Seq((3L, "c")).toDF("k", "s"), dir)
    val ts = VT.commitTimestamps(spark, dir)
    assert(ts.map(_._1) == Seq(1L, 2L, 3L))
    // STRICTLY increasing even when raw clocks tie within one milli —
    // without the adjustment "the table as of t" would be ambiguous
    assert(ts.sliding(2).forall { case Seq(a, b) => a._2 < b._2; case _ => true })
    // boundary semantics: exact commit instant → that version; any
    // instant in between → the version that was current then
    assert(VT.versionAtTimestamp(spark, dir, ts.head._2) == 1L)
    assert(VT.versionAtTimestamp(spark, dir, ts(1)._2) == 2L)
    assert(VT.versionAtTimestamp(spark, dir, ts(2)._2) == 3L)
    assert(VT.versionAtTimestamp(spark, dir, ts(2)._2 + 1000000L) == 3L)
    assert(VT.readAsOfTimestamp(spark, dir, ts(1)._2).count() == 2L)
    // before the first commit: loud, with the available range — never a
    // nearest-neighbor guess
    val ex = intercept[IllegalArgumentException](
      VT.versionAtTimestamp(spark, dir, ts.head._2 - 1))
    assert(ex.getMessage.contains("before the earliest"), ex.getMessage)
    // SQL: TIMESTAMP literal and string literal both resolve (session and
    // JVM zone are both UTC in this suite; Timestamp.valueOf is wall-clock)
    graft.functions.GraftFunctions.register(spark)
    val s2 = new java.sql.Timestamp(ts(1)._2).toString
    assert(spark.sql(s"SELECT COUNT(*) FROM graft_vtable('$dir', '$s2')")
      .as[Long].head() == 2L)
    assert(spark.sql(s"SELECT COUNT(*) FROM graft_vtable('$dir', TIMESTAMP '$s2')")
      .as[Long].head() == 2L)
    // RESTORE TABLE ... TO TIMESTAMP AS OF rolls back through the resolver
    Thread.sleep(5) // separate the restore's wall-clock instant from v1-v3's
    val vr = graft.sql.GraftSql.sql(spark,
      s"RESTORE TABLE graft_vtable('$dir') TO TIMESTAMP AS OF '$s2'")
      .as[Long].head()
    assert(vr == 4L)
    assert(VT.read(spark, dir).count() == 2L)
    // the restore commit is stamped at RESTORE time, not the restored
    // version's old instant: resolving at v3's commit time must still
    // return the PRE-restore state (v3), never the rollback
    val ts4 = VT.commitTimestamps(spark, dir)
    assert(ts4.last._1 == 4L && ts4.last._2 > ts(2)._2,
      s"restore must carry its own commit time, got $ts4 vs ${ts(2)}")
    assert(VT.versionAtTimestamp(spark, dir, ts(2)._2) == 3L,
      "the table AS OF v3's instant is v3, even after a later restore")
    // malformed timestamp refuses loudly
    val ex2 = intercept[IllegalArgumentException](graft.sql.GraftSql.sql(spark,
      s"RESTORE TABLE graft_vtable('$dir') TO TIMESTAMP AS OF 'not-a-time'").collect())
    assert(ex2.getMessage.contains("not a"), ex2.getMessage)
  }

  test("timestamp resolution is O(log n) header reads, not O(versions)") {
    val dir = tmp()
    VT.create(Seq((0L, "x")).toDF("k", "s"), dir, Seq("k"))
    (1 to 34).foreach(i =>
      VT.commitAppend(Seq((i.toLong, "x")).toDF("k", "s"), dir))
    // ground truth: the full adjusted chain (the O(n) history API)
    val chain = VT.commitTimestamps(spark, dir)
    assert(chain.map(_._1) == (1L to 35L))
    // differential: the binary-search resolver agrees with the chain at
    // every boundary instant and at every instant strictly between
    chain.foreach { case (v, t) =>
      assert(VT.versionAtTimestamp(spark, dir, t) == v, s"at v$v's instant")
    }
    chain.sliding(2).foreach { case Seq((pv, _), (_, t)) =>
      assert(VT.versionAtTimestamp(spark, dir, t - 1) == pv,
        s"just before v${pv + 1}'s instant")
    case _ =>
    }
    // the cost claim, measured: head + ~log2(35) probes + boundary guard
    VT.metaReadCount.set(0L)
    VT.versionAtTimestamp(spark, dir, chain(17)._2)
    val reads = VT.metaReadCount.get()
    assert(reads <= 9,
      s"resolution did $reads header reads over 35 versions — O(versions) regression")
    // and it stays flat when history doubles
    (35 to 69).foreach(i =>
      VT.commitAppend(Seq((i.toLong, "x")).toDF("k", "s"), dir))
    val chain70 = VT.commitTimestamps(spark, dir)
    VT.metaReadCount.set(0L)
    VT.versionAtTimestamp(spark, dir, chain70(40)._2)
    val reads70 = VT.metaReadCount.get()
    assert(reads70 <= 10,
      s"doubling history must add at most one probe: $reads70 reads at 70 versions")
  }

  test("restore and commitAddFiles cannot smuggle rows past a CHECK constraint") {
    val dir = tmp()
    VT.create(Seq((1L, -5L), (2L, 20L)).toDF("k", "v").coalesce(1), dir, Seq("k")) // v1
    VT.commitUpdate(spark, dir, col("v") < 0L, Seq("v" -> lit(5L)))               // v2
    VT.addCheckConstraint(spark, dir, "pos", "v > 0")                             // v3
    // restoring to v1 would resurrect the v = -5 row UNDER the live
    // constraint — the add-time invariant must hold across restore
    val ex = intercept[IllegalArgumentException](VT.restore(spark, dir, 1L))
    assert(ex.getMessage.contains("violate"), ex.getMessage)
    assert(VT.currentVersion(spark, dir).contains(3L))
    // a validated version restores fine
    assert(VT.restore(spark, dir, 2L) == 4L)
    // commitAddFiles: by-reference rows never cross a write frame, so the
    // batch is validated with its own scan
    val ext = s"$dir/ext"
    Seq((9L, -9L)).toDF("k", "v").coalesce(1).write.parquet(ext)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val part = fs.listStatus(new org.apache.hadoop.fs.Path(ext))
      .map(_.getPath.getName).find(_.endsWith(".parquet")).get
    val entry = VT.FileEntry(s"ext/$part", 1L, Map.empty)
    val ex2 = intercept[IllegalArgumentException](
      VT.commitAddFiles(spark, dir, Seq(entry)))
    assert(ex2.getMessage.contains("violate"), ex2.getMessage)
    // a clean external file registers
    val ext2 = s"$dir/ext2"
    Seq((9L, 9L)).toDF("k", "v").coalesce(1).write.parquet(ext2)
    val part2 = fs.listStatus(new org.apache.hadoop.fs.Path(ext2))
      .map(_.getPath.getName).find(_.endsWith(".parquet")).get
    VT.commitAddFiles(spark, dir, Seq(VT.FileEntry(s"ext2/$part2", 1L, Map.empty)))
    assert(VT.read(spark, dir).as[(Long, Long)].collect().toSet ==
      Set((1L, 5L), (2L, 20L), (9L, 9L)))
  }

  test("a manifest holding an older build's patch chain is refused, naming the version and the remedy") {
    val dir = tmp()
    VT.create(Seq((1L, "a")).toDF("k", "s").coalesce(1), dir, Seq("k"))
    // written by a build that kept merge-on-read patches as a key-folded
    // chain beside the file list: reading the files alone would lose k=2
    val legacy =
      """{
        |  "version" : 2,
        |  "op" : "patch",
        |  "ts" : 1700000000000,
        |  "schemaDdl" : "k BIGINT,s STRING",
        |  "statsCols" : [ "k" ],
        |  "numFiles" : 0,
        |  "totalRows" : 0,
        |  "files" : [ ],
        |  "patches" : [ [ {
        |    "path" : "data/c2-0000abcd/part-00000.parquet",
        |    "rows" : 1,
        |    "stats" : { }
        |  } ] ],
        |  "mergeKeys" : [ "k" ]
        |}""".stripMargin
    Files.write(java.nio.file.Paths.get(dir, "_vlog", "v000000000002.json"),
      legacy.getBytes("UTF-8"))
    def refused(f: => Any): String = intercept[IllegalStateException](f).getMessage
    Seq(refused(VT.read(spark, dir)), refused(VT.history(spark, dir)),
        refused(VT.commitAppend(Seq((3L, "c")).toDF("k", "s"), dir))).foreach { msg =>
      assert(msg.contains("manifest v2") && msg.contains("compactPatches") &&
        msg.contains("restore to a version before it"), msg)
    }
    // the versions before the chain still read
    assert(VT.read(spark, dir, Some(1L)).as[(Long, String)].collect().toSeq == Seq((1L, "a")))
  }

  test("a CHECK constraint added under a patch chain preserves the chain and gates patches") {
    val dir = tmp()
    VT.create(Seq((1L, 10L), (2L, 20L)).toDF("k", "v").coalesce(1), dir, Seq("k"))
    VT.commitPatch(Seq((1L, 11L, false)).toDF("k", "v", "del"),
      dir, Seq("k"), Seq.empty, $"del")                               // v2: patch
    // validation reads the live rows; the metadata commit must carry the DV
    VT.addCheckConstraint(spark, dir, "v_pos", "v > 0")               // v3
    val m = VT.readManifest(spark, dir, 3L)
    assert(m.dvs.nonEmpty, "the constraint commit must keep the patch's deletion vector")
    assert(VT.read(spark, dir).as[(Long, Long)].collect().toSet ==
      Set((1L, 11L), (2L, 20L)))
    // live patch rows enforce; tombstone payloads are exempt
    val ex = intercept[Exception](VT.commitPatch(
      Seq((3L, -3L, false)).toDF("k", "v", "del"), dir, Seq("k"), Seq.empty, $"del"))
    def chain(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => e.getMessage +: chain(e.getCause))
    assert(chain(ex).exists(msg => msg != null && msg.contains("'v_pos'")))
    VT.commitPatch(Seq((2L, -999L, true)).toDF("k", "v", "del"),
      dir, Seq("k"), Seq.empty, $"del")                               // v4: tombstone ok
    assert(VT.read(spark, dir).as[(Long, Long)].collect().toSet == Set((1L, 11L)))
    // a constraint the patched rows violate refuses
    val ex2 = intercept[IllegalArgumentException](
      VT.addCheckConstraint(spark, dir, "big", "v > 100"))
    assert(ex2.getMessage.contains("existing rows violate"))
  }

  test("composition: near-dup dedup lands as versioned tombstones; CDF reports exactly the drops") {
    import graft.ops.{DedupOps, GraphOps}
    val dir = tmp()
    // documents table with two planted near-dup groups + unique rows
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "the quick brown fox jumps over the lazy dog again and again!"),
      (3L, "completely different text about spark manifests and versioned tables"),
      (4L, "completely different text about spark manifests and versioned table"),
      (5L, "a unique document with no counterpart anywhere in this corpus")
    ).toDF("doc_id", "text")
    VT.create(docs.repartition(2), dir, Seq("doc_id"))
    // dedup round: LSH pairs → clusters → every non-representative becomes
    // a TOMBSTONE through the same CDC merge any other change takes
    val pairs = DedupOps.minhashLshPairs(docs, "doc_id", "text", threshold = 0.7)
    val doomed = GraphOps.dedupClusters(pairs, "id_a", "id_b")
      .filter($"id" =!= $"cluster_id")
      .select($"id".as("doc_id"), lit(null).cast("string").as("text"),
        lit(true).as("del"))
    VT.commitMerge(doomed, dir, Seq("doc_id"), Seq($"text"), $"del")
    val kept = VT.read(spark, dir).select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 3L, 5L), s"cluster minima + singletons, got $kept")
    // the brute-force model agrees
    val model = GraphOps.dropNearDuplicates(docs, "doc_id", pairs, "id_a", "id_b")
      .select("doc_id").as[Long].collect().toSet
    assert(kept == model)
    // CDF between the versions is exactly the dropped duplicates
    val feed = VT.changesBetween(spark, dir, 1L, 2L, Seq("doc_id"))
      .select("change_type", "doc_id").as[(String, Long)].collect().toSet
    assert(feed == Set(("delete", 2L), ("delete", 4L)))
  }

  test("SQL time travel through the graft_vtable table function") {
    graft.functions.GraftFunctions.register(spark)
    val dir = tmp()
    VT.create(Seq((1L, 10.0), (2L, 20.0)).toDF("k", "v"), dir, Seq("k"))
    VT.commitMerge(Seq((1L, 0.0, true), (3L, 30.0, false)).toDF("k", "v", "del"),
      dir, Seq("k"), Seq($"v"), $"del")
    // current version from pure SQL
    val cur = spark.sql(s"SELECT k, v FROM graft_vtable('$dir') ORDER BY k")
      .as[(Long, Double)].collect().toSeq
    assert(cur == Seq((2L, 20.0), (3L, 30.0)))
    // time travel + aggregation + joinability like any relation
    val v1 = spark.sql(
      s"SELECT count(*) AS n, sum(v) AS s FROM graft_vtable('$dir', 1)")
      .as[(Long, Double)].head()
    assert(v1 == ((2L, 30.0)))
    val joined = spark.sql(
      s"""SELECT a.k FROM graft_vtable('$dir', 1) a
         |JOIN graft_vtable('$dir', 2) b ON a.k = b.k""".stripMargin)
      .as[Long].collect().toSeq
    assert(joined == Seq(2L), "only key 2 survives into v2")
    // non-literal args refuse loudly
    intercept[Exception](spark.sql(s"SELECT * FROM graft_vtable(123)").collect())
  }

  test("bloom sidecars: merge skips covered-but-absent keys; IN probes sharpen; vacuum reclaims") {
    val dir = tmp()
    // 4 range-clustered files over EVEN keys 0..98 — every odd key falls
    // inside some file's [min,max] yet lives in NO file
    val base = spark.range(100).filter($"id" % 2 === 0)
      .select($"id".as("k"), $"id".cast("string").as("s"))
      .repartitionByRange(4, $"k").sortWithinPartitions($"k")
    VT.create(base, dir, Seq("k"), bloomCols = Seq("k"))
    val m1 = VT.readManifest(spark, dir, 1L)
    assert(m1.files.size == 4 && m1.files.forall(_.blooms.contains("k")))
    val sig1 = fileSig(dir, 1L)
    // upsert of key 51: interval-covered but absent — the bloom proves it,
    // so NO existing file rewrites and the row lands as a pure insert
    VT.commitMerge(Seq((51L, "ins", false)).toDF("k", "s", "del"),
      dir, Seq("k"), Seq($"s"), $"del")
    val sig2 = fileSig(dir, 2L)
    assert(sig1.forall { case (p, s) => sig2.get(p).contains(s) },
      "bloom must prove 51 absent — no base file may rewrite")
    assert(VT.read(spark, dir).count() == 51)
    assert(VT.read(spark, dir).filter($"k" === 51L).as[(Long, String)].head()._2 == "ins")
    // a PRESENT key still merges normally (bloom true positive)
    VT.commitMerge(Seq((50L, "upd", false)).toDF("k", "s", "del"),
      dir, Seq("k"), Seq($"s"), $"del")
    assert(VT.read(spark, dir).filter($"k" === 50L).as[(Long, String)].head()._2 == "upd")
    // IN probe at version 1: key 53 is interval-covered (1 file survives
    // min/max) but the bloom rules it out — zero files open
    val intervalOnly = VT.pruneForSpec(spark, dir,
      Seq(("k", Some(lit(53L)), Some(lit(53L)))), Seq.empty, asOf = Some(1L))
    val withBloom = VT.pruneForSpec(spark, dir,
      Seq.empty, Seq(("k", Seq(lit(53L)))), asOf = Some(1L))
    assert(intervalOnly.size == 1 && withBloom.isEmpty,
      s"interval=$intervalOnly bloom=$withBloom")
    // present key: exactly its one file, through readWhere end to end
    assert(VT.readWhere(spark, dir, $"k".isin(48L), asOf = Some(1L))
      .count() == 1)
    // rewrite-all compaction then vacuum: the old parquet AND bloom
    // sidecars all reclaim, the live ones survive
    VT.commitCompact(spark, dir, targetBytes = Long.MaxValue,
      smallBytes = Long.MaxValue, clusterBy = Seq("k"))
    val deleted = VT.vacuum(spark, dir, keepVersions = 1)
    assert(deleted >= 8, s"4+ parquet and 4+ blooms should reclaim, got $deleted")
    assert(VT.read(spark, dir).count() == 51)
    val mLast = VT.readManifest(spark, dir,
      VT.currentVersion(spark, dir).get)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    mLast.files.foreach { f =>
      assert(fs.exists(new org.apache.hadoop.fs.Path(s"$dir/${f.path}")))
      f.blooms.values.foreach(b =>
        assert(fs.exists(new org.apache.hadoop.fs.Path(s"$dir/$b")), s"live bloom $b gone"))
    }
  }

  test("review hardening: junk vlog files, binary stats refusal, tombstone-everything merge") {
    val dir = tmp()
    VT.create(Seq((1L, "a"), (2L, "b")).toDF("k", "s"), dir, Seq("k"))
    // a stray non-manifest file in _vlog must not crash version listing
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val junk = new org.apache.hadoop.fs.Path(dir, "_vlog/vREADME.json")
    val o = fs.create(junk, true); o.write("junk".getBytes); o.close()
    assert(VT.versions(spark, dir) == Seq(1L))
    // a merge that tombstones EVERY row of every touched file (writes an
    // all-empty commit) must not die on schema inference and must read back
    VT.commitMerge(Seq((1L, "a", true), (2L, "b", true)).toDF("k", "s", "del"),
      dir, Seq("k"), Seq($"s"), $"del")
    assert(VT.read(spark, dir).count() == 0)
    assert(VT.read(spark, dir).columns.toSeq == Seq("k", "s"))
    assert(VT.read(spark, dir, Some(1L)).count() == 2, "history intact")
    // binary columns cannot carry string-round-trip stats
    val ex = intercept[IllegalArgumentException](
      VT.create(Seq((1L, Array[Byte](1, 2))).toDF("k", "b"),
        tmp(), Seq("b")))
    assert(ex.getMessage.contains("min/max stats"))
  }

  test("changesBetween spans an append-only schema evolution") {
    val dir = tmp()
    VT.create(Seq((1L, "a"), (2L, "b")).toDF("k", "s"), dir, Seq("k"))
    VT.commitMergeEvolve(Seq((2L, "b2", 7.5, false), (3L, "c", 1.25, false))
      .toDF("k", "s", "extra", "del"), dir, Seq("k"), Seq($"s"), $"del",
      metaCols = Seq("del"))
    val feed = VT.changesBetween(spark, dir, 1L, 2L, Seq("k"))
      .as[(String, Long, String, Option[Double])].collect().toSet
    // key 1 untouched (no feed row), key 2 updated (post-image carries the
    // evolved value), key 3 inserted
    assert(feed == Set(
      ("update", 2L, "b2", Some(7.5)),
      ("insert", 3L, "c", Some(1.25))), s"got $feed")
    // a retype is NOT an evolution and refuses
    val dir2 = tmp()
    VT.create(Seq((1L, "a")).toDF("k", "s"), dir2, Seq("k"))
    val fs = new org.apache.hadoop.fs.Path(dir2)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // simulate by hand-editing is overkill: dropping a column via evolve is
    // impossible by construction, so assert the guard on the reserved name
    intercept[IllegalArgumentException](
      VT.changesBetween(spark, dir2, 1L, 1L, Seq("k")))
  }

  test("TIMESTAMP AS OF over a MIXED history (legacy skewed clock mid-chain) uses exact chain semantics") {
    val dir = tmp()
    VT.create(Seq((1L, "a")).toDF("k", "s"), dir, Seq("k"))       // v1 stamped
    VT.commitAppend(Seq((2L, "b")).toDF("k", "s"), dir)           // v2
    // forge v2 into a LEGACY manifest (pre-adjTs build) whose wall clock
    // is skewed far FORWARD — the case where stored adjTs of later
    // stamped commits disagrees with the exact chain
    val huge = System.currentTimeMillis() + 1000L * 3600 * 24 * 365
    val mPath = java.nio.file.Paths.get(s"$dir/_vlog/v${"%012d".format(2)}.json")
    val forged = new String(java.nio.file.Files.readAllBytes(mPath), "UTF-8")
      .replaceAll(""""adjTs"\s*:\s*\d+,\s*\n""", "")
      .replaceAll(""""firstStampedV"\s*:\s*\d+,\s*\n""", "")
      .replaceAll(""""ts"\s*:\s*\d+""", s""""ts" : $huge""")
    assert(!forged.contains("adjTs") && forged.contains(huge.toString))
    java.nio.file.Files.write(mPath, forged.getBytes("UTF-8"))
    // commits after the legacy manifest restart the verified stamped run
    VT.commitAppend(Seq((3L, "c")).toDF("k", "s"), dir)           // v3
    VT.commitAppend(Seq((4L, "d")).toDF("k", "s"), dir)           // v4
    assert(VT.readMeta(spark, dir, 3L).firstStampedV == 3L,
      "a legacy predecessor must reset the verified-prefix marker")
    assert(VT.readMeta(spark, dir, 4L).firstStampedV == 3L)
    // exact chain: adj(v2) = huge, so v3/v4 chain ABOVE it even though
    // their stored adjTs (wall clock) is below — a binary search over
    // stored values would wrongly resolve ~now to v4
    val chain = VT.commitTimestamps(spark, dir)
    assert(chain(1)._2 == huge && chain(2)._2 == huge + 1 &&
      chain(3)._2 == huge + 2, s"chain must ride the skew: $chain")
    val storedV4 = VT.readMeta(spark, dir, 4L).adjTs
    assert(storedV4 < huge, "precondition: v4's stored stamp is below the skew")
    assert(VT.versionAtTimestamp(spark, dir, storedV4) == 1L,
      "an instant before the skewed legacy commit resolves to v1 — " +
        "the fast path must not trust stored stamps across a legacy gap")
    assert(VT.versionAtTimestamp(spark, dir, huge) == 2L)
    assert(VT.versionAtTimestamp(spark, dir, huge + 1) == 3L)
    assert(VT.versionAtTimestamp(spark, dir, huge + 5000) == 4L)
  }

  test("a torn manifest (mid-publish read) retries to success; persistent corruption fails loudly") {
    val dir = tmp()
    VT.create(Seq((1L, "a")).toDF("k", "s"), dir, Seq("k"))
    val mPath = java.nio.file.Paths.get(s"$dir/_vlog/v${"%012d".format(1)}.json")
    val orig = java.nio.file.Files.readAllBytes(mPath)
    // torn = visible-but-empty (the no-hardlink publish fallback's
    // documented window); a racing repair lands mid-retry
    java.nio.file.Files.write(mPath, Array.empty[Byte])
    val repair = new Thread(() => {
      Thread.sleep(80); java.nio.file.Files.write(mPath, orig)
    })
    repair.start()
    val m = VT.readMeta(spark, dir, 1L) // must absorb the window
    repair.join()
    assert(m.version == 1L && m.op == "create")
    // truncated JSON beyond the window: loud, named, with the cause
    java.nio.file.Files.write(mPath, orig.take(25))
    val ex = intercept[IllegalStateException](VT.readMeta(spark, dir, 1L))
    assert(ex.getMessage.contains("torn") || ex.getMessage.contains("corrupt"),
      s"undiagnostic: ${ex.getMessage}")
    java.nio.file.Files.write(mPath, orig)
  }

  test("cursor-pin update never opens a pin-absent window; overlap reads conservatively") {
    val dir = tmp()
    VT.create(Seq((1L, "a")).toDF("k", "s"), dir, Seq("k"))
    val cursors = java.nio.file.Paths.get(s"$dir/_cursors")
    import scala.jdk.CollectionConverters._
    def pinFiles(): Seq[String] =
      java.nio.file.Files.list(cursors).iterator().asScala
        .map(_.getFileName.toString).filter(_.endsWith(".json")).toSeq
    VT.pinCursor(spark, dir, "s1", 2L)
    VT.pinCursor(spark, dir, "s1", 4L) // advance = create new THEN reap old
    assert(pinFiles().size == 1, s"superseded pins must be reaped: ${pinFiles()}")
    assert(VT.cursorPins(spark, dir).map(p => (p._1, p._2)) == Seq(("s1", 4L)))
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest("s1".getBytes("UTF-8")).map("%02x".format(_)).mkString.take(16)
    // mid-update overlap (two files for one consumer): report the LOWEST
    // version (vacuum-safe) and the FRESHEST update time (liveness-safe)
    java.nio.file.Files.write(cursors.resolve(s"$digest-manual.json"),
      s"""{"consumer":"s1","version":1,"updatedMs":${System.currentTimeMillis() + 60000}}"""
        .getBytes("UTF-8"))
    val overlap = VT.cursorPins(spark, dir)
    assert(overlap.size == 1 && overlap.head._2 == 1L,
      s"overlap must surface the lowest pinned version: $overlap")
    // the next advance reaps every superseded spelling, legacy included
    java.nio.file.Files.write(cursors.resolve(s"$digest.json"),
      s"""{"consumer":"s1","version":1,"updatedMs":1}""".getBytes("UTF-8"))
    VT.pinCursor(spark, dir, "s1", 5L)
    assert(pinFiles().size == 1 &&
      VT.cursorPins(spark, dir).map(p => (p._1, p._2)) == Seq(("s1", 5L)))
    // dropCursor removes all spellings
    assert(VT.dropCursor(spark, dir, "s1") && VT.cursorPins(spark, dir).isEmpty)
    // RACE ORDER SAFETY: a zombie's LOWER pin arriving after a newer one
    // must not reap it (reaping is strictly-below-own-name only) — the
    // max-named pin survives every interleaving, so no instant is pinless
    VT.pinCursor(spark, dir, "s2", 5L)
    VT.pinCursor(spark, dir, "s2", 2L) // zombie: lands, reaps NOTHING above
    val names = pinFiles().filter(_.startsWith(
      java.security.MessageDigest.getInstance("MD5")
        .digest("s2".getBytes("UTF-8")).map("%02x".format(_)).mkString.take(16)))
    assert(names.size == 2, s"the newer pin must survive a zombie's reap: $names")
    assert(VT.cursorPins(spark, dir).map(p => (p._1, p._2)) == Seq(("s2", 2L)),
      "overlap reads the LOWEST version (vacuum-safe)")
    VT.pinCursor(spark, dir, "s2", 7L) // a strictly newer pin reaps both
    assert(VT.cursorPins(spark, dir).map(p => (p._1, p._2)) == Seq(("s2", 7L)))
  }

  test("vacuum downgrades pins dead past cursorStaleHours to a warning; fresh pins refuse") {
    val dir = tmp()
    VT.create(Seq((1L, "a")).toDF("k", "s"), dir, Seq("k"))
    (2L to 5L).foreach(k =>
      VT.commitAppend(Seq((k, "x")).toDF("k", "s"), dir))
    VT.pinCursor(spark, dir, "dead-stream", 1L)
    // default (no threshold): refuse, naming the remediation conf
    val ex = intercept[IllegalArgumentException](VT.vacuum(spark, dir, 1))
    assert(ex.getMessage.contains("cursorStaleHours"), ex.getMessage)
    // a fresh pin inside a generous threshold still refuses
    spark.conf.set("spark.graft.vtable.cursorStaleHours", "24.0")
    try {
      intercept[IllegalArgumentException](VT.vacuum(spark, dir, 1))
      // past the threshold: downgraded to a warning, vacuum proceeds
      spark.conf.set("spark.graft.vtable.cursorStaleHours", "1e-7")
      Thread.sleep(50)
      VT.vacuum(spark, dir, keepVersions = 1)
      assert(VT.versions(spark, dir) == Seq(5L))
    } finally spark.conf.unset("spark.graft.vtable.cursorStaleHours")
  }

  test("auto-compaction: small-batch ingestion self-heals the small-file tail") {
    val dir = tmp()
    VT.create(Seq((1L, "a")).toDF("k", "s"), dir, Seq("k"),
      props = Map(VT.AutoCompactProp -> "true",
        "graft.autoCompact.every" -> "8",
        "graft.autoCompact.minFiles" -> "8"))
    (1 to 16).foreach(i =>
      VT.commitAppend(Seq((i * 10L, "x")).toDF("k", "s").coalesce(1), dir))
    val ops = VT.history(spark, dir).map(_._2)
    assert(ops.count(_ == "compact") >= 2,
      s"amortized trigger must have fired (every 8th version): $ops")
    val files = VT.readManifest(spark, dir,
      VT.currentVersion(spark, dir).get).files.size
    assert(files < 10,
      s"16 one-file appends must not accumulate 17 files, got $files")
    // content exact through the rewrites; history still time-travels
    assert(VT.read(spark, dir).count() == 17L)
    assert(VT.read(spark, dir, Some(2L)).count() == 2L)
    // a table WITHOUT the prop accumulates one file per append
    val dir2 = tmp()
    VT.create(Seq((1L, "a")).toDF("k", "s"), dir2, Seq("k"))
    (1 to 16).foreach(i =>
      VT.commitAppend(Seq((i * 10L, "x")).toDF("k", "s").coalesce(1), dir2))
    assert(VT.readManifest(spark, dir2,
      VT.currentVersion(spark, dir2).get).files.size == 17)
    assert(!VT.history(spark, dir2).map(_._2).contains("compact"))
  }

  test("merge whose keys miss every file interval reuses all files, inserts land") {
    val dir = tmp()
    val base = spark.range(50).select($"id".as("k"), lit("x").as("s"))
      .repartitionByRange(2, $"k").sortWithinPartitions($"k")
    VT.create(base, dir, Seq("k"))
    val sig1 = fileSig(dir, 1L)
    VT.commitMerge(Seq((1000L, "ins", false), (2000L, "gone", true))
      .toDF("k", "s", "del"), dir, Seq("k"), Seq($"s"), $"del")
    val sig2 = fileSig(dir, 2L)
    assert(sig1.forall { case (p, s) => sig2.get(p).contains(s) },
      "no base file intersects the changelog — all must carry over")
    val out = VT.read(spark, dir)
    assert(out.count() == 51)
    assert(out.filter($"k" === 1000L).as[(Long, String)].head()._2 == "ins")
  }
}
