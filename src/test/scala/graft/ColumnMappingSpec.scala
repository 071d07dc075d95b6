package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.ops.{VersionedTable => VT}
import graft.sql.GraftSql

/** Metadata-only RENAME/DROP COLUMN via column mapping (the Delta
  * column-mapping idea): physical names in shared immutable files never
  * change; the logical schema and a `graft.colmap` props map carry the
  * divergence. These specs pin the load-bearing invariants: zero data
  * bytes touched, pruning/DML/merge/patch/CDF working through the
  * mapping, and — the silent-corruption case — a re-added column NEVER
  * resurrecting a dropped column's bytes.
  */
class ColumnMappingSpec extends SparkSuite {
  import spark.implicits._

  private def tmp(): String =
    Files.createTempDirectory("colmap").toString + "/t"

  private def mk(dir: String): Unit = {
    val base = Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L),
      (4L, "d", 40L)).toDF("k", "s", "v")
      .repartitionByRange(4, $"k").sortWithinPartitions("k")
    VT.create(base, dir, statsCols = Seq("k", "v"))
  }

  private def fileSig(dir: String): Map[String, (Long, Long)] = {
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    VT.readManifest(spark, dir, VT.currentVersion(spark, dir).get)
      .files.map { f =>
        val st = fs.getFileStatus(new org.apache.hadoop.fs.Path(s"$dir/${f.path}"))
        f.path -> (st.getLen, st.getModificationTime)
      }.toMap
  }

  test("RENAME COLUMN is metadata-only; reads, pruning, and DML follow the new name") {
    val dir = tmp(); mk(dir)
    val before = fileSig(dir)
    val v = VT.commitRenameColumn(spark, dir, "v", "amount")
    assert(v == 2L)
    assert(fileSig(dir) == before, "rename must not touch one data byte")
    // reads resolve the stable physical bytes under the new logical name
    assert(VT.read(spark, dir).columns.toSeq == Seq("k", "s", "amount"))
    assert(VT.read(spark, dir).where($"amount" === 20L).count() == 1L)
    // time travel keeps each version's own names
    assert(VT.read(spark, dir, Some(1L)).columns.toSeq == Seq("k", "s", "v"))
    // stats pruning works on the RENAMED column (stats keys are physical)
    val (survivors, _) = VT.pruneFilesMulti(spark, dir,
      Seq(("amount", lit(35L), lit(45L))))
    assert(survivors.size == 1, s"expected 1 surviving file, got $survivors")
    // ...and through the optimizer rule on a SQL filter over the TVF:
    // the alias Project is transparent to predicate pushdown, so the
    // EXECUTED scan must open only the pruned file (plan-asserted, not
    // just answer-asserted)
    graft.functions.GraftFunctions.register(spark)
    val pruned = spark.sql(
      s"SELECT k FROM graft_vtable('$dir') WHERE amount >= 35")
    assert(pruned.as[Long].collect().toSet == Set(4L))
    val scans = pruned.queryExecution.executedPlan.collect {
      case sc: org.apache.spark.sql.execution.FileSourceScanExec =>
        sc.relation.location.inputFiles.length
    }
    assert(scans.nonEmpty && scans.forall(_ == 1),
      s"the renamed-column filter must prune to 1 file, scans=$scans")
    // DML speaks the new name; the rewrite prunes and the result is exact
    VT.commitUpdate(spark, dir, $"amount" === 40L,
      Seq("amount" -> lit(41L)))
    assert(VT.read(spark, dir).where($"k" === 4L)
      .select("amount").as[Long].head() == 41L)
    // a CoW merge on a renamed KEY still stats-prunes (physical key)
    val dir2 = tmp()
    VT.create(Seq((1L, 10L), (2L, 20L)).toDF("id", "x").coalesce(1),
      dir2, statsCols = Seq("id"))
    VT.commitRenameColumn(spark, dir2, "id", "pk")
    VT.commitMerge(Seq((2L, 21L, false), (3L, 30L, false)).toDF("pk", "x", "del"),
      dir2, Seq("pk"), Seq.empty, $"del")
    assert(VT.read(spark, dir2).as[(Long, Long)].collect().toSet ==
      Set((1L, 10L), (2L, 21L), (3L, 30L)))
    // appends after the rename write the PHYSICAL name, so old and new
    // files stay one column identity
    VT.commitAppend(Seq((9L, "z", 90L)).toDF("k", "s", "amount"), dir)
    assert(VT.read(spark, dir).where($"amount" === 90L).count() == 1L)
    assert(VT.readWhere(spark, dir, $"amount" > 80L).count() == 1L)
  }

  test("RENAME COLUMN refusals: conflicts, constraints; a patched table renames") {
    val dir = tmp(); mk(dir)
    intercept[IllegalArgumentException](
      VT.commitRenameColumn(spark, dir, "nope", "x"))
    intercept[IllegalArgumentException](
      VT.commitRenameColumn(spark, dir, "v", "K")) // existing, any case
    // a CHECK constraint referencing the column pins its name
    VT.addCheckConstraint(spark, dir, "vpos", "v >= 0")
    val ex = intercept[IllegalArgumentException](
      VT.commitRenameColumn(spark, dir, "v", "amount"))
    assert(ex.getMessage.contains("vpos"), ex.getMessage)
    VT.dropCheckConstraint(spark, dir, "vpos")
    assert(VT.commitRenameColumn(spark, dir, "v", "amount") > 0L)
    // renaming BACK to the physical name drops the mapping entry cleanly
    VT.commitRenameColumn(spark, dir, "amount", "v")
    val props = VT.readManifest(spark, dir,
      VT.currentVersion(spark, dir).get).props
    assert(!props.keys.exists(_.startsWith(VT.ColmapPrefix)),
      s"identity rename must clear the mapping, got $props")
    // another column may not take a LIVE physical name
    VT.commitRenameColumn(spark, dir, "v", "amount")
    val ex2 = intercept[IllegalArgumentException](
      VT.commitRenameColumn(spark, dir, "s", "v"))
    assert(ex2.getMessage.toLowerCase.contains("physical"), ex2.getMessage)
    // a patch's deletion vector addresses positions, not names: the
    // patched state renames and reads under the new name
    val dir3 = tmp()
    VT.create(Seq((1L, 1L)).toDF("k", "x"), dir3, Seq("k"))
    VT.commitPatch(Seq((1L, 2L, false)).toDF("k", "x", "del"),
      dir3, Seq("k"), Seq.empty, $"del")
    VT.commitRenameColumn(spark, dir3, "x", "y")
    assert(VT.read(spark, dir3).select("k", "y").as[(Long, Long)].collect().toSeq ==
      Seq((1L, 2L)))
  }

  test("RENAME COLUMN composes with patch chains created after it") {
    val dir = tmp()
    VT.create(Seq((1L, 10L), (2L, 20L)).toDF("k", "x").coalesce(1),
      dir, Seq("k"))
    VT.commitRenameColumn(spark, dir, "x", "score")
    // patches probe, write and read through the mapping
    VT.commitPatch(Seq((2L, 21L, false), (3L, 30L, false)).toDF("k", "score", "del"),
      dir, Seq("k"), Seq.empty, $"del")
    assert(VT.read(spark, dir).as[(Long, Long)].collect().toSet ==
      Set((1L, 10L), (2L, 21L), (3L, 30L)))
    VT.materializeDvs(spark, dir)
    assert(VT.read(spark, dir).as[(Long, Long)].collect().toSet ==
      Set((1L, 10L), (2L, 21L), (3L, 30L)))
  }

  test("DROP COLUMN hides the bytes; a re-added name NEVER resurrects them") {
    val dir = tmp(); mk(dir)
    val before = fileSig(dir)
    val v = VT.commitDropColumn(spark, dir, "s")
    assert(v == 2L)
    assert(fileSig(dir) == before, "drop must not touch one data byte")
    assert(VT.read(spark, dir).columns.toSeq == Seq("k", "v"))
    // the dropped state still time-travels
    assert(VT.read(spark, dir, Some(1L)).where($"s" === "b").count() == 1L)
    // THE resurrection case: re-adding 's' must read NULL from the old
    // files (their physical 's' bytes are dead), not the dropped values
    VT.commitAddColumns(spark, dir, Seq("s" -> "STRING"))
    val reborn = VT.read(spark, dir)
    assert(reborn.columns.toSeq == Seq("k", "v", "s"))
    assert(reborn.where($"s".isNotNull).count() == 0L,
      "a re-added column must not resurrect dropped bytes")
    // and it is independently writable: new files carry the FRESH physical
    VT.commitAppend(Seq((5L, 50L, "fresh")).toDF("k", "v", "s"), dir)
    assert(VT.read(spark, dir).where($"s" === "fresh").count() == 1L)
    assert(VT.read(spark, dir).where($"s".isNotNull).count() == 1L)
    // restore to the pre-drop version brings the ORIGINAL column back,
    // original bytes, consistent mapping
    val restored = VT.restore(spark, dir,  1L)
    assert(restored > 0L)
    assert(VT.read(spark, dir).columns.toSeq == Seq("k", "s", "v"))
    assert(VT.read(spark, dir).where($"s" === "b").count() == 1L)
  }

  test("DROP COLUMN refusals and stats hygiene") {
    val dir = tmp(); mk(dir)
    // dropping a stats column stops future stat computation for it
    VT.commitDropColumn(spark, dir, "v")
    val m = VT.readManifest(spark, dir, VT.currentVersion(spark, dir).get)
    assert(m.statsCols == Seq("k"), s"stats must drop the column, got ${m.statsCols}")
    VT.commitAppend(Seq((7L, "g")).toDF("k", "s"), dir) // must not compute v stats
    assert(VT.read(spark, dir).where($"k" === 7L).count() == 1L)
    // constraint-referenced and last-column drops refuse
    val dir2 = tmp(); mk(dir2)
    VT.addCheckConstraint(spark, dir2, "vpos", "v >= 0")
    val ex = intercept[IllegalArgumentException](
      VT.commitDropColumn(spark, dir2, "v"))
    assert(ex.getMessage.contains("vpos"), ex.getMessage)
    val dir3 = tmp()
    VT.create(Seq(1L, 2L).toDF("k"), dir3, Seq("k"))
    intercept[IllegalArgumentException](VT.commitDropColumn(spark, dir3, "k"))
    // evolve-merge refuses a name that would bind retired bytes
    val ex2 = intercept[IllegalArgumentException](
      VT.commitMergeEvolve(Seq((1L, "a2", 99L)).toDF("k", "s", "v"),
        dir, Seq("k"), Seq.empty, lit(false)))
    assert(ex2.getMessage.toLowerCase.contains("physical"), ex2.getMessage)
  }

  test("ADD COLUMNS refuses a live physical name; predicate types never cross columns") {
    val dir = tmp()
    VT.create(Seq((1L, 5L), (2L, 6L)).toDF("k", "v").coalesce(1),
      dir, statsCols = Seq("k", "v"), bloomCols = Seq("v"))
    VT.commitRenameColumn(spark, dir, "v", "w")
    // re-using w's STORAGE name for a new column would make the bare name
    // 'v' mean different columns on the logical and physical sides —
    // predicate translation could no longer tell them apart; refuse loudly
    val ex = intercept[IllegalArgumentException](
      VT.commitAddColumns(spark, dir, Seq("v" -> "STRING")))
    assert(ex.getMessage.contains("physical storage name"), ex.getMessage)
    // the renamed column still bloom-prunes with its own (BIGINT) hashing
    assert(VT.readWhere(spark, dir, $"w" === 6L).as[(Long, Long)]
      .collect().toSet == Set((2L, 6L)))
  }

  test("TIMESTAMP AS OF string form parses in the SESSION timezone, matching the literal") {
    val dir = tmp(); mk(dir)
    graft.functions.GraftFunctions.register(spark)
    val oldTz = spark.conf.get("spark.sql.session.timeZone")
    try {
      // a zone far from the JVM default (UTC in this suite): the two
      // forms must still agree — Timestamp.valueOf would diverge by 8h
      spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
      val utc = VT.parseTsMillis(spark, "2026-01-15 00:00:00", "spec")
      spark.conf.set("spark.sql.session.timeZone", "UTC")
      val utc2 = VT.parseTsMillis(spark, "2026-01-15 00:00:00", "spec")
      assert(utc - utc2 == 8L * 3600 * 1000,
        s"LA parse must be 8h after the UTC parse (PST), got ${utc - utc2}")
      spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
      val inst = VT.commitTimestamps(spark, dir).head._2
      val laStr = java.time.Instant.ofEpochMilli(inst)
        .atZone(java.time.ZoneId.of("America/Los_Angeles"))
        .toLocalDateTime
        .format(java.time.format.DateTimeFormatter
          .ofPattern("yyyy-MM-dd HH:mm:ss.SSS"))
      val viaString = spark.sql(
        s"SELECT COUNT(*) FROM graft_vtable('$dir', '$laStr')").as[Long].head()
      val viaLiteral = spark.sql(
        s"SELECT COUNT(*) FROM graft_vtable('$dir', TIMESTAMP '$laStr')")
        .as[Long].head()
      assert(viaString == viaLiteral && viaString == 4L,
        s"string=$viaString literal=$viaLiteral")
    } finally spark.conf.set("spark.sql.session.timeZone", oldTz)
  }

  test("SQL surface: RENAME/DROP COLUMN end-to-end, CDF honesty across the window") {
    val dir = tmp(); mk(dir)
    graft.functions.GraftFunctions.register(spark)
    val v = GraftSql.sql(spark,
      s"ALTER TABLE graft_vtable('$dir') RENAME COLUMN v TO amount")
      .as[Long].head()
    assert(v == 2L)
    GraftSql.sql(spark,
      s"UPDATE graft_vtable('$dir') SET amount = amount + 1 WHERE k = 1")
    assert(spark.sql(
      s"SELECT amount FROM graft_vtable('$dir') WHERE k = 1")
      .as[Long].head() == 11L)
    val v2 = GraftSql.sql(spark,
      s"ALTER TABLE graft_vtable('$dir') DROP COLUMN s").as[Long].head()
    assert(v2 == 4L)
    assert(spark.sql(s"SELECT * FROM graft_vtable('$dir')")
      .columns.toSeq == Seq("k", "amount"))
    // CDF across a RENAME window diffs exactly — renames are invisible at
    // the physical layer, and the align maps fromV's names onto toV's by
    // shared physical identity: the v1→v3 window (rename at v2, update at
    // v3) emits ONE update, under the new name
    val renamedWin = VT.changesBetween(spark, dir, 1L, 3L, Seq("k"))
    assert(renamedWin.columns.contains("amount"), renamedWin.columns.toSeq)
    assert(renamedWin.select("change_type", "k", "amount")
      .as[(String, Long, Long)].collect().toSet == Set(("update", 1L, 11L)))
    // a window containing a DROP still refuses loudly — no exact diff
    // exists for a removed column
    val exCdf = intercept[IllegalArgumentException](
      VT.changesBetween(spark, dir, 1L, 4L, Seq("k")))
    assert(exCdf.getMessage.contains("append-only"), exCdf.getMessage)
    GraftSql.sql(spark,
      s"DELETE FROM graft_vtable('$dir') WHERE k = 2")
    val feed = VT.changesBetween(spark, dir, 4L, 5L, Seq("k"))
    assert(feed.where($"change_type" === "delete").select("k")
      .as[Long].collect().toSeq == Seq(2L))
    // shallow clones carry the mapping (physical refs stable)
    val cloneDir = tmp()
    VT.shallowClone(spark, dir, cloneDir)
    assert(VT.read(spark, cloneDir).columns.toSeq == Seq("k", "amount"))
    assert(VT.read(spark, cloneDir).where($"amount" === 11L).count() == 1L)
  }
}
