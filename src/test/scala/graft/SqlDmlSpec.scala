package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.ops.{GraftCatalog, VersionedTable => VT}
import graft.sql.{GraftDml, GraftSql, GraftSqlParser}

/** SQL DML on versioned tables: MERGE INTO / UPDATE / DELETE statements
  * parse (not library calls), route through the versioned commits, prune
  * files via the manifest, and resolve targets through the name catalog.
  */
class SqlDmlSpec extends SparkSuite {
  import spark.implicits._

  private def tmp(): String =
    Files.createTempDirectory("sqldml").toString + "/t"

  private def mk(dir: String): Unit = {
    val base = Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L),
      (4L, "d", 40L)).toDF("k", "s", "v")
      .repartitionByRange(4, $"k").sortWithinPartitions("k")
    VT.create(base, dir, statsCols = Seq("k"))
  }

  private def rows(dir: String): Set[(Long, String, Long)] =
    VT.read(spark, dir).as[(Long, String, Long)].collect().toSet

  test("MERGE INTO upserts and deletes through the parsed statement") {
    val dir = tmp(); mk(dir)
    Seq((2L, "B2", 21L, false), (5L, "e", 50L, false), (3L, "x", 0L, true))
      .toDF("k", "s", "v", "del").createOrReplaceTempView("chg")
    val out = GraftSql.sql(spark,
      s"""MERGE INTO graft_vtable('$dir') AS t
         |USING (SELECT k, s, v, del FROM chg) AS s
         |ON t.k = s.k
         |WHEN MATCHED AND s.del THEN DELETE
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    assert(out.as[Long].head() == 2L) // returns the new version
    assert(rows(dir) == Set((1L, "a", 10L), (2L, "B2", 21L),
      (4L, "d", 40L), (5L, "e", 50L)))
    // bare table source + no delete clause
    GraftSql.sql(spark,
      s"MERGE INTO graft_vtable('$dir') USING chg ON t.k = s.k " +
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
    assert(rows(dir) == Set((1L, "a", 10L), (2L, "B2", 21L),
      (3L, "x", 0L), (4L, "d", 40L), (5L, "e", 50L)))
  }

  test("UPDATE rewrites only files that can hold a matching row") {
    val dir = tmp(); mk(dir)
    val before = VT.readManifest(spark, dir, 1L).files.map(_.path)
    val out = GraftSql.sql(spark,
      s"UPDATE graft_vtable('$dir') SET v = v + 100, s = upper(s) WHERE k >= 3")
    assert(out.as[Long].head() == 2L)
    assert(rows(dir) == Set((1L, "a", 10L), (2L, "b", 20L),
      (3L, "C", 130L), (4L, "D", 140L)))
    val after = VT.readManifest(spark, dir, 2L).files.map(_.path)
    val carried = after.toSet.intersect(before.toSet)
    assert(carried.nonEmpty, "files outside the WHERE range must carry by reference")
    assert(before.toSet.diff(after.toSet).nonEmpty, "matching files must rewrite")
  }

  test("DELETE prunes, honors NULL-condition semantics, and supports full-table form") {
    val dir = tmp(); mk(dir)
    val before = VT.readManifest(spark, dir, 1L).files.map(_.path)
    GraftSql.sql(spark, s"DELETE FROM graft_vtable('$dir') WHERE k <= 2 AND s <> 'a'")
    assert(rows(dir) == Set((1L, "a", 10L), (3L, "c", 30L), (4L, "d", 40L)))
    val after = VT.readManifest(spark, dir, 2L).files.map(_.path)
    assert(after.toSet.intersect(before.toSet).nonEmpty,
      "files above the WHERE bound must carry by reference")
    GraftSql.sql(spark, s"DELETE FROM graft_vtable('$dir')")
    assert(VT.read(spark, dir).count() == 0)
    // history preserved: pre-delete versions still read
    assert(VT.read(spark, dir, Some(1L)).count() == 4)
  }

  test("catalog: name addressing works across TVFs and DML") {
    val cat = Files.createTempDirectory("cat").toString + "/catalog.json"
    val old = spark.conf.getOption("spark.graft.catalog.path")
    spark.conf.set("spark.graft.catalog.path", cat)
    try {
      graft.functions.GraftFunctions.register(spark)
      val dir = tmp(); mk(dir)
      spark.sql(s"SELECT * FROM graft_register_vtable('orders_t', '$dir')")
      // TVF by name == TVF by path
      assert(spark.sql("SELECT * FROM graft_vtable('orders_t')").count() ==
        spark.sql(s"SELECT * FROM graft_vtable('$dir')").count())
      // DML by name
      GraftSql.sql(spark, "DELETE FROM graft_vtable('orders_t') WHERE k = 1")
      assert(rows(dir) == Set((2L, "b", 20L), (3L, "c", 30L), (4L, "d", 40L)))
      // history/stats TVFs resolve the name too
      assert(spark.sql("SELECT * FROM graft_vtable_history('orders_t')")
        .count() == 2)
      // unknown names fail loudly
      val ex = intercept[Exception](
        spark.sql("SELECT * FROM graft_vtable('nope')").collect())
      assert(ex.getMessage.contains("no versioned table named"))
    } finally old match {
      case Some(v) => spark.conf.set("spark.graft.catalog.path", v)
      case None => spark.conf.unset("spark.graft.catalog.path")
    }
  }

  test("parser wrapper: graft DML parses here, everything else delegates") {
    val p = new GraftSqlParser(spark.sessionState.sqlParser)
    val plan = p.parsePlan(
      "MERGE INTO graft_vtable('/x') USING src ON t.k = s.k " +
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
    assert(plan.isInstanceOf[graft.sql.GraftMergeCommand])
    assert(plan.asInstanceOf[graft.sql.GraftMergeCommand].keys == Seq("k"))
    // non-graft statements delegate verbatim
    assert(p.parsePlan("SELECT 1").isInstanceOf[
      org.apache.spark.sql.catalyst.plans.logical.LogicalPlan])
    intercept[Exception](p.parsePlan("SELEC 1"))
  }

  test("unsupported clauses on a graft target fail loudly, not silently") {
    // per-column UPDATE SET in MERGE is out of grammar
    val ex = intercept[IllegalArgumentException] {
      GraftDml.parse(
        "MERGE INTO graft_vtable('/x') USING src ON t.k = s.k " +
          "WHEN MATCHED THEN UPDATE SET v = 1 " +
          "WHEN NOT MATCHED THEN INSERT *")
    }
    assert(ex.getMessage.contains("unsupported WHEN clause") ||
      ex.getMessage.contains("supported shapes"))
    // missing INSERT clause
    val ex2 = intercept[IllegalArgumentException] {
      GraftDml.parse(
        "MERGE INTO graft_vtable('/x') USING src ON t.k = s.k " +
          "WHEN MATCHED THEN UPDATE SET *")
    }
    assert(ex2.getMessage.contains("INSERT"))
    // mismatched key names
    val ex3 = intercept[IllegalArgumentException] {
      GraftDml.parse(
        "MERGE INTO graft_vtable('/x') USING src ON t.k = s.kk " +
          "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
    }
    assert(ex3.getMessage.contains("share a name"))
  }

  test("DDL: CREATE TABLE AS creates, registers, and round-trips; DROP splits catalog from data") {
    val name = s"ddl_spec_${java.util.UUID.randomUUID().toString.take(8)}"
    val loc = tmp()
    Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("k", "v")
      .createOrReplaceTempView("ddl_spec_src")
    val v = GraftSql.sql(spark,
      s"""CREATE TABLE graft_vtable('$name') LOCATION '$loc' STATS (k)
         |AS SELECT k, v FROM ddl_spec_src""".stripMargin).as[Long].head()
    assert(v == 1L)
    // name resolves; the created table is a real versioned table with the
    // declared stats column, so SQL MERGE works against the NAME
    assert(GraftCatalog.resolveDir(spark, name) == loc)
    Seq((3L, 33L, false), (4L, 40L, false)).toDF("k", "v", "del")
      .createOrReplaceTempView("ddl_spec_chg")
    GraftSql.sql(spark,
      s"""MERGE INTO graft_vtable('$name') AS t USING ddl_spec_chg AS s
         |ON t.k = s.k WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    assert(VT.read(spark, loc).as[(Long, Long)].collect().toSet ==
      Set((1L, 10L), (2L, 20L), (3L, 33L), (4L, 40L)))
    // duplicate CREATE refuses loudly; IF NOT EXISTS no-ops at the
    // current version without touching data
    val ex = intercept[IllegalArgumentException] {
      GraftSql.sql(spark,
        s"CREATE TABLE graft_vtable('$name') AS SELECT 1 AS k").collect()
    }
    assert(ex.getMessage.contains("already exists"))
    val vNo = GraftSql.sql(spark,
      s"CREATE TABLE IF NOT EXISTS graft_vtable('$name') AS SELECT 1 AS k")
      .as[Long].head()
    assert(vNo == 2L, "IF NOT EXISTS returns the existing version")
    // DROP removes the NAME only — data stays addressable by path
    // (catalog/metadata split); the returned version is the last one
    assert(GraftSql.sql(spark,
      s"DROP TABLE graft_vtable('$name')").as[Long].head() == 2L)
    assert(GraftCatalog.lookup(spark, name).isEmpty)
    assert(VT.read(spark, loc).count() == 4L)
    // un-registered name: DROP refuses; IF EXISTS no-ops with -1
    intercept[IllegalArgumentException] {
      GraftSql.sql(spark, s"DROP TABLE graft_vtable('$name')").collect()
    }
    assert(GraftSql.sql(spark,
      s"DROP TABLE IF EXISTS graft_vtable('$name')").as[Long].head() == -1L)
    // re-register + DROP PURGE deletes the data too
    GraftCatalog.register(spark, name, loc)
    GraftSql.sql(spark, s"DROP TABLE graft_vtable('$name') PURGE").collect()
    assert(VT.currentVersion(spark, loc).isEmpty, "PURGE must delete the table")
  }

  test("DDL: default location derives from the catalog; unsupported shapes fail loudly") {
    val name = s"ddl_dflt_${java.util.UUID.randomUUID().toString.take(8)}"
    Seq((7L, 70L)).toDF("k", "v").createOrReplaceTempView("ddl_dflt_src")
    GraftSql.sql(spark,
      s"CREATE TABLE graft_vtable('$name') AS SELECT k, v FROM ddl_dflt_src").collect()
    try {
      val dir = GraftCatalog.resolveDir(spark, name)
      assert(dir.endsWith(s"graft/$name"), s"default location was $dir")
      assert(VT.read(spark, dir).count() == 1L)
      // default stats column is the query's first column → keyed MERGE works
      Seq((8L, 80L, false)).toDF("k", "v", "del")
        .createOrReplaceTempView("ddl_dflt_chg")
      GraftSql.sql(spark,
        s"MERGE INTO graft_vtable('$name') AS t USING ddl_dflt_chg AS s " +
          "ON t.k = s.k WHEN MATCHED THEN UPDATE SET * " +
          "WHEN NOT MATCHED THEN INSERT *")
      assert(VT.read(spark, dir).count() == 2L)
    } finally GraftSql.sql(spark,
      s"DROP TABLE IF EXISTS graft_vtable('$name') PURGE").collect()
    // column-list DDL is out of grammar — the schema comes from AS
    val ex = intercept[IllegalArgumentException] {
      GraftDml.parse("CREATE TABLE graft_vtable('x') (k BIGINT, v BIGINT)")
    }
    assert(ex.getMessage.contains("AS <query>"))
    // trailing junk on DROP is refused, not ignored
    val ex2 = intercept[IllegalArgumentException] {
      GraftDml.parse("DROP TABLE graft_vtable('x') CASCADE")
    }
    assert(ex2.getMessage.contains("unexpected trailing text"))
    // plain Spark DDL (no graft_vtable marker) falls through untouched
    assert(GraftDml.parse("CREATE TABLE plain (k INT) USING parquet").isEmpty)
    assert(GraftDml.parse("DROP TABLE plain").isEmpty)
  }

  test("catalog updates hold a cross-process lock; a stale lock fails loudly") {
    val name = s"lock_spec_${java.util.UUID.randomUUID().toString.take(8)}"
    val dir = tmp()
    // plant a stale lock beside the catalog — a writer crashed mid-update
    val catPath = new org.apache.hadoop.fs.Path(
      spark.conf.getOption("spark.graft.catalog.path")
        .getOrElse("spark-warehouse/_graft_catalog.json"))
    val fs = catPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(catPath.getParent)
    val lock = new org.apache.hadoop.fs.Path(catPath.getParent,
      s".${catPath.getName}.lock")
    fs.create(lock, false).close()
    spark.conf.set("spark.graft.catalog.lockTimeoutMs", "300")
    try {
      val ex = intercept[IllegalStateException](
        GraftCatalog.register(spark, name, dir))
      assert(ex.getMessage.contains("lock"), s"undiagnostic: ${ex.getMessage}")
      assert(GraftCatalog.lookup(spark, name).isEmpty,
        "a refused registration must not partially apply")
    } finally {
      spark.conf.unset("spark.graft.catalog.lockTimeoutMs")
      fs.delete(lock, false)
    }
    // operator remediation: lock removed, same call succeeds and releases
    GraftCatalog.register(spark, name, dir)
    assert(GraftCatalog.lookup(spark, name).contains(dir))
    assert(!fs.exists(lock), "the lock must release after the update")
    GraftCatalog.drop(spark, name)
  }

  test("OPTIMIZE bin-packs small files; ZORDER BY re-clusters; content and history hold") {
    val dir = tmp()
    VT.create(Seq((1L, 1L)).toDF("k", "v").coalesce(1), dir, Seq("k", "v"))
    (2L to 8L).foreach(i =>
      VT.commitAppend(Seq((i, i * 10)).toDF("k", "v").coalesce(1), dir))
    val before = VT.read(spark, dir).as[(Long, Long)].collect().toSet
    val nFilesBefore = VT.readManifest(spark, dir,
      VT.currentVersion(spark, dir).get).files.size
    val v = GraftSql.sql(spark, s"OPTIMIZE graft_vtable('$dir')").as[Long].head()
    assert(v == 9L, "OPTIMIZE must land as one new commit")
    val mAfter = VT.readManifest(spark, dir, v)
    assert(mAfter.files.size < nFilesBefore, "compaction must shrink the file count")
    assert(VT.read(spark, dir).as[(Long, Long)].collect().toSet == before)
    // pre-optimize state still time-travels
    assert(VT.read(spark, dir, Some(8L)).as[(Long, Long)].collect().toSet == before)
    // ZORDER BY over the two stats columns is one more commit, same rows
    val v2 = GraftSql.sql(spark,
      s"OPTIMIZE graft_vtable('$dir') ZORDER BY (k, v)").as[Long].head()
    assert(v2 == 10L)
    assert(VT.read(spark, dir).as[(Long, Long)].collect().toSet == before)
    // trailing junk refused, not ignored
    val ex = intercept[IllegalArgumentException](
      GraftDml.parse(s"OPTIMIZE graft_vtable('$dir') FULL"))
    assert(ex.getMessage.contains("OPTIMIZE"))
    // plain OPTIMIZE on a non-graft target falls through to Spark
    assert(GraftDml.parse("OPTIMIZE other_table").isEmpty)
  }

  test("VACUUM RETAIN n VERSIONS reclaims through SQL; the retention clause is mandatory") {
    val dir = tmp(); mk(dir)
    GraftSql.sql(spark, s"UPDATE graft_vtable('$dir') SET v = v + 1")
    GraftSql.sql(spark, s"UPDATE graft_vtable('$dir') SET v = v + 1")
    val deleted = GraftSql.sql(spark,
      s"VACUUM graft_vtable('$dir') RETAIN 1 VERSIONS").as[Long].head()
    assert(deleted > 0L, "full-table rewrites must leave reclaimable files")
    assert(rows(dir).map(_._3) == Set(12L, 22L, 32L, 42L))
    intercept[IllegalArgumentException](VT.read(spark, dir, Some(1L)))
    // shape without RETAIN is refused loudly — silent unbounded vacuum
    // would destroy time travel
    val ex = intercept[IllegalArgumentException](
      GraftDml.parse(s"VACUUM graft_vtable('$dir')"))
    assert(ex.getMessage.contains("RETAIN"))
    intercept[IllegalArgumentException](
      GraftDml.parse(s"VACUUM graft_vtable('$dir') RETAIN 0 VERSIONS"))
  }

  test("CTAS CLUSTER BY: tight per-file intervals from v1, no OPTIMIZE pass needed") {
    val name = s"ctas_cl_${java.util.UUID.randomUUID().toString.take(8)}"
    val loc = tmp()
    spark.range(0, 4000).selectExpr("id AS k", "CAST(id % 7 AS LONG) AS v")
      .repartition(8) // deliberately scrambled input layout
      .createOrReplaceTempView("ctas_cl_src")
    // AQE size-coalescing folds this tiny fixture into ONE range
    // partition (the right behavior at real sizes); pin a multi-file
    // layout so the interval assertions bite
    val oldCoalesce = spark.conf.get("spark.sql.adaptive.coalescePartitions.enabled", "true")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try GraftSql.sql(spark,
      s"CREATE TABLE graft_vtable('$name') LOCATION '$loc' STATS (k) " +
        "CLUSTER BY (k) AS SELECT k, v FROM ctas_cl_src").collect()
    finally spark.conf.set(
      "spark.sql.adaptive.coalescePartitions.enabled", oldCoalesce)
    val files = VT.readManifest(spark, loc, 1L).files
    assert(files.size > 1, "need multiple files for the layout to matter")
    // range-clustered write: per-file [min,max] on k are non-overlapping
    val ivs = files.map { f =>
      val st = f.stats("k"); (st.min.get.toLong, st.max.get.toLong)
    }.sortBy(_._1)
    assert(ivs.sliding(2).forall {
      case Seq(a, b) => a._2 < b._1
      case _ => true
    }, s"intervals must be disjoint, got $ivs")
    // ...so a narrow range prunes to one file immediately
    val (survivors, _) = VT.pruneFilesMulti(spark, loc,
      Seq(("k", lit(10L), lit(20L))))
    assert(survivors.size == 1, s"expected 1 survivor, got $survivors")
    // an unknown CLUSTER BY column refuses loudly
    val ex = intercept[Exception](GraftSql.sql(spark,
      s"CREATE TABLE graft_vtable('${name}_b') CLUSTER BY (nope) " +
        "AS SELECT k FROM ctas_cl_src").collect())
    assert(ex.getMessage.contains("nope"), ex.getMessage)
    GraftSql.sql(spark, s"DROP TABLE graft_vtable('$name')").collect()
  }

  test("OPTIMIZE WHERE compacts only the scoped files; the tail carries byte-identical") {
    val dir = tmp()
    // two key ranges in separate files; fragment the LOW range with small
    // appends — the HIGH range's file must never be touched
    VT.create(Seq((100L, "hi")).toDF("k", "s").coalesce(1), dir, Seq("k"))
    (1L to 3L).foreach { i =>
      GraftSql.sql(spark,
        s"INSERT INTO graft_vtable('$dir') SELECT CAST($i AS BIGINT) AS k, 'lo' AS s")
        .collect()
    }
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def sig() = VT.readManifest(spark, dir, VT.currentVersion(spark, dir).get)
      .files.map { f =>
        val st = fs.getFileStatus(new org.apache.hadoop.fs.Path(s"$dir/${f.path}"))
        f.path -> (st.getLen, st.getModificationTime)
      }.toMap
    val before = sig()
    assert(before.size == 4)
    val v = GraftSql.sql(spark,
      s"OPTIMIZE graft_vtable('$dir') WHERE (k < 50)").as[Long].head()
    assert(v == 5L)
    val after = sig()
    // the three low-range fragments packed into one file; the high-range
    // file carried byte-identical (never statted away, never rewritten)
    assert(after.size == 2, s"expected 2 files after scoped pack, got ${after.keys}")
    val carried = before.keySet.intersect(after.keySet)
    assert(carried.size == 1 && carried.forall(p => after(p) == before(p)),
      "the out-of-scope file must carry byte-identical")
    assert(VT.read(spark, dir).as[(Long, String)].collect().toSet ==
      Set((100L, "hi"), (1L, "lo"), (2L, "lo"), (3L, "lo")))
    // pre-optimize state still time-travels
    assert(VT.read(spark, dir, Some(4L)).count() == 4L)
    // WHERE composes with ZORDER BY: only scoped files re-cluster
    val dir2 = tmp()
    VT.create(Seq((1L, 1L), (2L, 2L), (50L, 5L), (60L, 6L))
      .toDF("a", "b").repartition(4), dir2, Seq("a", "b"))
    val before2 = sig2(fs, dir2)
    GraftSql.sql(spark,
      s"OPTIMIZE graft_vtable('$dir2') WHERE (a < 10) ZORDER BY (a, b)").collect()
    val after2 = sig2(fs, dir2)
    assert(before2.keySet.intersect(after2.keySet).nonEmpty,
      "out-of-scope files must survive a scoped zorder")
    assert(VT.read(spark, dir2).count() == 4L)
    // empty condition refuses at parse
    intercept[IllegalArgumentException](
      GraftDml.parse(s"OPTIMIZE graft_vtable('$dir') WHERE ()"))
  }

  private def sig2(fs: org.apache.hadoop.fs.FileSystem,
                   dir: String): Map[String, (Long, Long)] =
    VT.readManifest(spark, dir, VT.currentVersion(spark, dir).get)
      .files.map { f =>
        val st = fs.getFileStatus(new org.apache.hadoop.fs.Path(s"$dir/${f.path}"))
        f.path -> (st.getLen, st.getModificationTime)
      }.toMap

  test("VACUUM RETAIN n HOURS keeps the wall-clock window, always the current version") {
    val dir = tmp(); mk(dir)                                        // v1
    GraftSql.sql(spark, s"UPDATE graft_vtable('$dir') SET v = v + 1").collect() // v2
    Thread.sleep(5)
    GraftSql.sql(spark, s"UPDATE graft_vtable('$dir') SET v = v + 1").collect() // v3
    // a generous window keeps everything
    GraftSql.sql(spark, s"VACUUM graft_vtable('$dir') RETAIN 48 HOURS").collect()
    assert(VT.versions(spark, dir) == Seq(1L, 2L, 3L))
    // zero-hour retention reclaims history but NEVER the current version
    val deleted = GraftSql.sql(spark,
      s"VACUUM graft_vtable('$dir') RETAIN 0 HOURS").as[Long].head()
    assert(deleted >= 0L)
    assert(VT.versions(spark, dir).lastOption.contains(3L))
    assert(VT.read(spark, dir).count() == 4L, "current content must survive")
    intercept[IllegalArgumentException](
      GraftDml.parse(s"VACUUM graft_vtable('$dir') RETAIN 1 DAYS"))
  }

  test("RESTORE TABLE TO VERSION AS OF rolls back as a new commit through SQL") {
    val dir = tmp(); mk(dir)
    GraftSql.sql(spark, s"DELETE FROM graft_vtable('$dir') WHERE k >= 3")
    assert(rows(dir).map(_._1) == Set(1L, 2L))
    val v = GraftSql.sql(spark,
      s"RESTORE TABLE graft_vtable('$dir') TO VERSION AS OF 1").as[Long].head()
    assert(v == 3L, "restore must append to history, not rewind it")
    assert(rows(dir).map(_._1) == Set(1L, 2L, 3L, 4L))
    // the deleted state remains addressable between the endpoints
    assert(VT.read(spark, dir, Some(2L)).count() == 2L)
    val ex = intercept[IllegalArgumentException](
      GraftDml.parse(s"RESTORE TABLE graft_vtable('$dir') TO 1"))
    assert(ex.getMessage.contains("VERSION AS OF"))
  }

  test("ALTER TABLE ADD COLUMNS is metadata-only; carried files read NULL; UPDATE fills") {
    val dir = tmp(); mk(dir)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def sig() = VT.readManifest(spark, dir, VT.currentVersion(spark, dir).get)
      .files.map { f =>
        val st = fs.getFileStatus(new org.apache.hadoop.fs.Path(s"$dir/${f.path}"))
        f.path -> (st.getLen, st.getModificationTime)
      }.toMap
    val before = sig()
    val v = GraftSql.sql(spark,
      s"ALTER TABLE graft_vtable('$dir') ADD COLUMNS (tag STRING, score DOUBLE)")
      .as[Long].head()
    assert(v == 2L)
    assert(sig() == before, "ADD COLUMNS must not touch one data byte")
    val widened = VT.read(spark, dir)
    assert(widened.columns.toSeq == Seq("k", "s", "v", "tag", "score"))
    assert(widened.where(col("tag").isNotNull || col("score").isNotNull).count() == 0L)
    // v1 time-travels with the ORIGINAL schema
    assert(VT.read(spark, dir, Some(1L)).columns.toSeq == Seq("k", "s", "v"))
    // the new column is writable through ordinary DML
    GraftSql.sql(spark,
      s"UPDATE graft_vtable('$dir') SET tag = 'hot' WHERE k <= 2")
    assert(VT.read(spark, dir).where(col("tag") === "hot").count() == 2L)
    // existing name (any case) refused; drops/renames out of grammar
    val ex = intercept[Exception](GraftSql.sql(spark,
      s"ALTER TABLE graft_vtable('$dir') ADD COLUMNS (K BIGINT)").collect())
    assert(ex.getMessage.contains("already exists"))
    val ex2 = intercept[IllegalArgumentException](
      GraftDml.parse(s"ALTER TABLE graft_vtable('$dir') ALTER COLUMN v TYPE STRING"))
    assert(ex2.getMessage.contains("ADD COLUMNS"))
    assert(GraftDml.parse("ALTER TABLE plain ADD COLUMNS (x INT)").isEmpty)
  }

  test("CHECK constraints: validated at ADD, enforced by every live-row commit") {
    val dir = tmp(); mk(dir)
    // adding a constraint the data already violates refuses loudly
    val ex0 = intercept[IllegalArgumentException](GraftSql.sql(spark,
      s"ALTER TABLE graft_vtable('$dir') ADD CONSTRAINT big CHECK (v > 15)").collect())
    assert(ex0.getMessage.contains("existing rows violate"), ex0.getMessage)
    val v = GraftSql.sql(spark,
      s"ALTER TABLE graft_vtable('$dir') ADD CONSTRAINT pos CHECK (v > 0)")
      .as[Long].head()
    assert(v == 2L)
    // a violating INSERT aborts mid-write: no version published, data intact
    Seq((9L, "x", -1L)).toDF("k", "s", "v").createOrReplaceTempView("bad_ins")
    val ex1 = intercept[Exception](GraftSql.sql(spark,
      s"INSERT INTO graft_vtable('$dir') SELECT k, s, v FROM bad_ins").collect())
    def chain(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => e.getMessage +: chain(e.getCause))
    assert(chain(ex1).exists(m => m != null && m.contains("CHECK constraint 'pos'")),
      s"undiagnostic: ${chain(ex1)}")
    assert(VT.currentVersion(spark, dir).contains(2L), "no version may publish")
    assert(rows(dir).map(_._1) == Set(1L, 2L, 3L, 4L))
    // a violating UPDATE aborts; a valid one passes
    val ex2 = intercept[Exception](GraftSql.sql(spark,
      s"UPDATE graft_vtable('$dir') SET v = -v WHERE k = 1").collect())
    assert(chain(ex2).exists(m => m != null && m.contains("'pos'")))
    GraftSql.sql(spark, s"UPDATE graft_vtable('$dir') SET v = v + 1 WHERE k = 1")
    // a violating MERGE insert aborts; tombstones are exempt (dead payload)
    Seq((5L, "e", -5L, false)).toDF("k", "s", "v", "del")
      .createOrReplaceTempView("bad_chg")
    val ex3 = intercept[Exception](GraftSql.sql(spark,
      s"""MERGE INTO graft_vtable('$dir') AS t USING bad_chg AS s ON t.k = s.k
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin).collect())
    assert(chain(ex3).exists(m => m != null && m.contains("'pos'")))
    // SQL NULL semantics: a NULL predicate PASSES (standard CHECK)
    Seq((6L, null.asInstanceOf[String], 60L)).toDF("k", "s", "v")
      .createOrReplaceTempView("null_ins")
    GraftSql.sql(spark,
      s"ALTER TABLE graft_vtable('$dir') ADD CONSTRAINT named CHECK (length(s) > 0)")
    GraftSql.sql(spark,
      s"INSERT INTO graft_vtable('$dir') SELECT k, s, v FROM null_ins").collect()
    assert(rows(dir).exists(_._1 == 6L), "NULL CHECK must pass per SQL")
    // DROP lifts enforcement; duplicate add / missing drop refuse
    GraftSql.sql(spark, s"ALTER TABLE graft_vtable('$dir') DROP CONSTRAINT pos")
    GraftSql.sql(spark,
      s"INSERT INTO graft_vtable('$dir') SELECT 9L AS k, 'x' AS s, -1L AS v").collect()
    assert(rows(dir).exists(t => t._1 == 9L && t._3 == -1L))
    intercept[IllegalArgumentException](GraftSql.sql(spark,
      s"ALTER TABLE graft_vtable('$dir') DROP CONSTRAINT pos").collect())
    intercept[IllegalArgumentException](GraftSql.sql(spark,
      s"ALTER TABLE graft_vtable('$dir') ADD CONSTRAINT named CHECK (1 = 1)").collect())
  }

  test("INSERT INTO appends by name; column mismatches refuse loudly") {
    val dir = tmp(); mk(dir)
    // columns deliberately out of order: resolution is BY NAME
    Seq((55L, 5L, "e")).toDF("v", "k", "s").createOrReplaceTempView("ins_src")
    val v = GraftSql.sql(spark,
      s"INSERT INTO graft_vtable('$dir') SELECT v, k, s FROM ins_src")
      .as[Long].head()
    assert(v == 2L)
    assert(rows(dir) == Set((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L),
      (4L, "d", 40L), (5L, "e", 55L)))
    // the append reused every existing file by reference
    val m = VT.readManifest(spark, dir, 2L)
    val m1 = VT.readManifest(spark, dir, 1L)
    assert(m1.files.map(_.path).forall(m.files.map(_.path).contains))
    // missing column refuses loudly, nothing commits
    val ex = intercept[IllegalArgumentException](GraftSql.sql(spark,
      s"INSERT INTO graft_vtable('$dir') SELECT 6 AS k, 'f' AS s").collect())
    assert(ex.getMessage.contains("resolve by name"), ex.getMessage)
    assert(VT.currentVersion(spark, dir).contains(2L))
    // non-graft INSERT falls through to Spark untouched
    assert(GraftDml.parse("INSERT INTO plain VALUES (1)").isEmpty)
    // INSERT OVERWRITE replaces the whole content as one commit; the
    // pre-overwrite state keeps time-traveling
    val vBefore = VT.currentVersion(spark, dir).get
    val vOw = GraftSql.sql(spark,
      s"INSERT OVERWRITE graft_vtable('$dir') " +
        "SELECT 100 + id AS k, 'ow' AS s, id * 2 AS v FROM range(3)")
      .as[Long].head()
    assert(vOw == vBefore + 1)
    assert(rows(dir) == Set((100L, "ow", 0L), (101L, "ow", 2L), (102L, "ow", 4L)))
    assert(VT.read(spark, dir, Some(vBefore)).count() == 5L,
      "the overwritten state must still time-travel")
  }

  test("REPLACE WHERE rewrites only candidate files; new rows must satisfy the predicate") {
    val dir = tmp(); mk(dir)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def sig() = VT.readManifest(spark, dir, VT.currentVersion(spark, dir).get)
      .files.map { f =>
        val st = fs.getFileStatus(new org.apache.hadoop.fs.Path(s"$dir/${f.path}"))
        f.path -> (st.getLen, st.getModificationTime)
      }.toMap
    val before = sig()
    Seq((1L, "A", 100L), (2L, "B", 200L)).toDF("k", "s", "v")
      .createOrReplaceTempView("rw_src")
    val v = GraftSql.sql(spark,
      s"INSERT INTO graft_vtable('$dir') REPLACE WHERE (k <= 2) " +
        "SELECT k, s, v FROM rw_src").as[Long].head()
    assert(v == 2L)
    assert(rows(dir) == Set((1L, "A", 100L), (2L, "B", 200L),
      (3L, "c", 30L), (4L, "d", 40L)))
    // the k=3 / k=4 files (provably outside the mined range) carried BY
    // REFERENCE — same path, same bytes, same mtime; the k<=2 files left
    val after = sig()
    val carried = before.keySet.intersect(after.keySet)
    assert(carried.nonEmpty, "files outside the mined range must carry by reference")
    assert(before.keySet.diff(after.keySet).nonEmpty,
      "candidate files must leave the manifest")
    assert(carried.forall(p => after(p) == before(p)),
      "carried files must be byte-identical (never rewritten)")
    // pre-replace state still time-travels
    assert(VT.read(spark, dir, Some(1L)).where($"k" === 1L)
      .select("v").as[Long].head() == 10L)
    // a replacement row OUTSIDE the predicate aborts in-frame: no version
    def chain(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(e => Option(e.getMessage).getOrElse("")).toSeq
    val ex = intercept[Exception](GraftSql.sql(spark,
      s"INSERT INTO graft_vtable('$dir') REPLACE WHERE (k <= 2) " +
        "SELECT CAST(9 AS BIGINT) AS k, 'z' AS s, CAST(1 AS BIGINT) AS v").collect())
    assert(chain(ex).exists(_.contains("does not satisfy the REPLACE WHERE")),
      chain(ex).mkString(" | "))
    assert(VT.currentVersion(spark, dir).contains(2L),
      "a failed replace must not publish")
    // no candidate files at all still appends the new rows (unlike DELETE,
    // an empty match set is not a no-op)
    val v3 = GraftSql.sql(spark,
      s"INSERT INTO graft_vtable('$dir') REPLACE WHERE (k >= 100) " +
        "SELECT CAST(100 AS BIGINT) AS k, 'h' AS s, CAST(7 AS BIGINT) AS v")
      .as[Long].head()
    assert(v3 == 3L)
    assert(rows(dir).contains((100L, "h", 7L)))
    // OVERWRITE + REPLACE WHERE is contradictory: loud grammar fail
    val ex2 = intercept[IllegalArgumentException](GraftDml.parse(
      s"INSERT OVERWRITE graft_vtable('$dir') REPLACE WHERE (k <= 2) SELECT 1"))
    assert(ex2.getMessage.contains("REPLACE WHERE"), ex2.getMessage)
  }

  test("REPLACE WHERE: unminable predicates stay exact; NULL condition keeps the row") {
    val dir = tmp()
    VT.create(Seq((Option(1L), "a"), (Option(3L), "b"), (Option.empty[Long], "n"))
      .toDF("k", "s"), dir, statsCols = Seq("k"))
    // k % 2 = 1 mines nothing (full rewrite — correct, just unpruned);
    // the NULL-keyed row's condition is NULL → the row SURVIVES, matching
    // DELETE's SQL semantics
    val v = VT.commitReplaceWhere(
      Seq((Option(5L), "r")).toDF("k", "s"), dir, expr("k % 2 = 1"))
    assert(v == 2L)
    assert(VT.read(spark, dir).as[(Option[Long], String)].collect().toSet ==
      Set((Option(5L), "r"), (Option.empty[Long], "n")))
    // txn ledger: replaying the same (app, batch) no-ops at the commit
    val v2 = VT.commitReplaceWhere(Seq((Option(7L), "x")).toDF("k", "s"),
      dir, expr("k % 2 = 1"), txn = Some("rw-app" -> 9L))
    val v3 = VT.commitReplaceWhere(Seq((Option(7L), "x")).toDF("k", "s"),
      dir, expr("k % 2 = 1"), txn = Some("rw-app" -> 9L))
    assert(v2 == 3L && v3 == 3L)
    assert(VT.read(spark, dir).where($"s" === "x").count() == 1L)
  }

  test("SHALLOW CLONE: zero-copy create, independent life, compaction materializes") {
    val dir = tmp(); mk(dir)
    VT.commitAppend(Seq((5L, "e", 50L)).toDF("k", "s", "v"), dir) // v2
    val cloneDir = tmp()
    val v = VT.shallowClone(spark, dir, cloneDir)
    assert(v == 1L)
    // zero-copy: the clone wrote NO data files of its own
    val cloneData = new java.io.File(cloneDir, "data")
    assert(!cloneData.exists() || cloneData.listFiles().isEmpty,
      "a shallow clone must not copy data")
    assert(VT.read(spark, cloneDir).as[(Long, String, Long)].collect().toSet ==
      rows(dir))
    // fresh identity, provenance recorded
    assert(VT.tableId(spark, cloneDir) != VT.tableId(spark, dir))
    assert(VT.readManifest(spark, cloneDir, 1L).props("graft.cloneOf")
      .startsWith(dir))
    // pruned reads work through the absolute references
    assert(VT.readWhere(spark, cloneDir, $"k" >= 5L).count() == 1L)
    // clone-side DELETE does not touch the source…
    VT.commitDelete(spark, cloneDir, $"k" <= 2L)
    assert(VT.read(spark, cloneDir).count() == 3L)
    assert(VT.read(spark, dir).count() == 5L)
    // …and source-side appends do not leak into the clone
    VT.commitAppend(Seq((6L, "f", 60L)).toDF("k", "s", "v"), dir)
    assert(VT.read(spark, cloneDir).count() == 3L)
    // compaction re-materializes: afterwards the clone owns all its files
    VT.commitCompact(spark, cloneDir)
    val owned = VT.readManifest(spark, cloneDir,
      VT.currentVersion(spark, cloneDir).get).files
    assert(owned.nonEmpty && owned.forall(f => !f.path.startsWith("/")),
      s"post-compact files must be clone-relative, got ${owned.map(_.path)}")
    assert(VT.read(spark, cloneDir).as[(Long, String, Long)].collect().toSet ==
      Set((3L, "c", 30L), (4L, "d", 40L), (5L, "e", 50L)))
    // SQL surface: clone AT an older version via the catalog, read via TVF
    GraftSql.sql(spark, "DROP TABLE IF EXISTS graft_vtable('clone_src') PURGE").collect()
    GraftSql.sql(spark, "DROP TABLE IF EXISTS graft_vtable('clone_t') PURGE").collect()
    GraftSql.sql(spark,
      s"CREATE TABLE graft_vtable('clone_src') LOCATION '$dir-again' AS " +
        "SELECT CAST(id AS BIGINT) AS k FROM range(4)").collect()
    GraftSql.sql(spark,
      "INSERT INTO graft_vtable('clone_src') SELECT CAST(9 AS BIGINT) AS k").collect()
    val vc = GraftSql.sql(spark,
      s"CREATE TABLE graft_vtable('clone_t') LOCATION '$dir-clone' " +
        "SHALLOW CLONE graft_vtable('clone_src', 1)").as[Long].head()
    assert(vc == 1L)
    assert(spark.sql("SELECT COUNT(*) FROM graft_vtable('clone_t')")
      .as[Long].head() == 4L, "clone pinned source version 1")
    GraftSql.sql(spark, "DROP TABLE graft_vtable('clone_src')").collect()
    GraftSql.sql(spark, "DROP TABLE graft_vtable('clone_t')").collect()
    // a patched source (its deletion vector pending) refuses with the
    // remediation
    val morDir = tmp()
    VT.create(Seq((1L, 1L)).toDF("k", "x"), morDir, Seq("k"))
    VT.commitPatch(Seq((1L, 2L)).toDF("k", "x"), morDir, Seq("k"),
      Seq.empty, lit(false))
    val ex = intercept[IllegalArgumentException](
      VT.shallowClone(spark, morDir, tmp()))
    assert(ex.getMessage.contains("shallowClone"), ex.getMessage)
  }

  test("DML interop: SQL update then library merge then SQL delete stays exact") {
    val dir = tmp(); mk(dir)
    GraftSql.sql(spark, s"UPDATE graft_vtable('$dir') SET v = v * 2 WHERE k IN (1, 3)")
    VT.commitMerge(Seq((4L, "d4", 44L, false)).toDF("k", "s", "v", "del"),
      dir, Seq("k"), Seq.empty, $"del")
    GraftSql.sql(spark, s"DELETE FROM graft_vtable('$dir') WHERE v >= 40 AND v < 60")
    assert(rows(dir) == Set((1L, "a", 20L), (2L, "b", 20L), (3L, "c", 60L)))
    // every step versioned: full history time-travels
    assert(VT.versions(spark, dir) == Seq(1L, 2L, 3L, 4L))
  }
}
