package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._

import graft.ops.{GraftCatalog, VersionedTable => VT}

/** The V2 `TableCatalog` surface ([[graft.catalog.GraftTableCatalog]]):
  * `graft.<name>` resolves through SPARK'S analyzer — SELECT (swapped to
  * the native manifest-pruned read), INSERT INTO/OVERWRITE, CTAS, ALTER,
  * DELETE, TRUNCATE, time travel — against the same name→dir catalog the
  * TVF surface uses.
  */
class GraftTableCatalogSpec extends SparkSuite {
  import spark.implicits._

  graft.functions.GraftFunctions.register(spark)
  spark.conf.set("spark.sql.catalog.graft",
    classOf[graft.catalog.GraftTableCatalog].getName)

  /** Isolated catalog file per test — names are global state. */
  private def withCatalog[T](body: String => T): T = {
    val root = Files.createTempDirectory("v2cat").toString
    val old = spark.conf.getOption("spark.graft.catalog.path")
    spark.conf.set("spark.graft.catalog.path", s"$root/_catalog.json")
    try body(root)
    finally old match {
      case Some(v) => spark.conf.set("spark.graft.catalog.path", v)
      case None => spark.conf.unset("spark.graft.catalog.path")
    }
  }

  /** 4 range-clustered files over k = 0..99 → tight per-file intervals. */
  private def mkTable(dir: String): Unit = {
    val base = spark.range(100)
      .select($"id".as("k"), ($"id" % 7).cast("string").as("s"))
      .repartitionByRange(4, $"k").sortWithinPartitions($"k")
    VT.create(base, dir, statsCols = Seq("k"))
  }

  private def scanFiles(df: DataFrame): Seq[Int] =
    df.queryExecution.executedPlan.collect {
      case s: FileSourceScanExec => s.relation.location.inputFiles.length
    }

  test("SELECT graft.t resolves through Spark's analyzer to the SAME pruned native scan") {
    withCatalog { root =>
      val dir = s"$root/t"; mkTable(dir)
      GraftCatalog.register(spark, "cat_sel", dir)
      val df = spark.sql("SELECT k, s FROM graft.cat_sel WHERE k BETWEEN 80 AND 99")
      // swapped to the tagged parquet relation and manifest-pruned, exactly
      // like the TVF/library read — no V2 row-based fallback scan
      val files = scanFiles(df)
      assert(files.nonEmpty && files.head < 4,
        s"expected the native pruned scan (<4 files), got $files")
      assert(df.as[(Long, String)].collect().toSet ==
        (80L to 99L).map(k => (k, (k % 7).toString)).toSet)
      // and the answer matches the library read bit-for-bit
      assert(spark.sql("SELECT * FROM graft.cat_sel").as[(Long, String)]
        .collect().toSet ==
        VT.read(spark, dir).as[(Long, String)].collect().toSet)
    }
  }

  test("CREATE TABLE + INSERT INTO + INSERT OVERWRITE through SQL") {
    withCatalog { root =>
      spark.sql("CREATE TABLE graft.cat_ins (k BIGINT, s STRING) " +
        s"LOCATION '$root/ti' TBLPROPERTIES ('stats'='k')")
      val dir = GraftCatalog.lookup(spark, "cat_ins").get
      assert(VT.currentVersion(spark, dir).contains(1L), "created empty at v1")
      spark.sql("INSERT INTO graft.cat_ins VALUES (1, 'a'), (2, 'b')")
      spark.sql("INSERT INTO graft.cat_ins SELECT 3L, 'c'")
      assert(spark.sql("SELECT * FROM graft.cat_ins").as[(Long, String)]
        .collect().toSet == Set((1L, "a"), (2L, "b"), (3L, "c")))
      // by-position with coercion: analyzer casts INT literals to BIGINT
      spark.sql("INSERT OVERWRITE graft.cat_ins VALUES (9, 'z')")
      assert(VT.read(spark, dir).as[(Long, String)].collect().toSet ==
        Set((9L, "z")))
      // history preserved: the overwrite is a commit, not a truncate-write
      assert(VT.read(spark, dir, asOf = Some(3L)).count() == 3L)
    }
  }

  test("CTAS, DROP TABLE (entry only) and PURGE") {
    withCatalog { root =>
      spark.conf.set("spark.graft.catalog.path", s"$root/_catalog.json")
      spark.sql(s"CREATE TABLE graft.cat_ctas LOCATION '$root/ctas' " +
        "TBLPROPERTIES ('stats'='k') AS SELECT id AS k, id * 2 AS v FROM range(10)")
      assert(spark.sql("SELECT sum(v) FROM graft.cat_ctas").as[Long].head() == 90L)
      val dir = GraftCatalog.lookup(spark, "cat_ctas").get
      spark.sql("DROP TABLE graft.cat_ctas")
      assert(GraftCatalog.lookup(spark, "cat_ctas").isEmpty)
      // catalog/metadata split: the table survives by path
      assert(VT.read(spark, dir).count() == 10L)
    }
  }

  test("ALTER TABLE ADD COLUMNS / RENAME COLUMN / DROP COLUMN via Spark grammar") {
    withCatalog { root =>
      val dir = s"$root/t"; mkTable(dir)
      GraftCatalog.register(spark, "cat_alt", dir)
      spark.sql("ALTER TABLE graft.cat_alt ADD COLUMNS (v BIGINT)")
      assert(spark.table("graft.cat_alt").columns.toSeq == Seq("k", "s", "v"))
      spark.sql("ALTER TABLE graft.cat_alt RENAME COLUMN s TO label")
      assert(spark.table("graft.cat_alt").columns.toSeq == Seq("k", "label", "v"))
      spark.sql("ALTER TABLE graft.cat_alt DROP COLUMN v")
      assert(spark.table("graft.cat_alt").columns.toSeq == Seq("k", "label"))
      assert(spark.sql("SELECT count(*) FROM graft.cat_alt").as[Long].head() == 100L)
    }
  }

  test("DELETE FROM graft.t WHERE … and TRUNCATE route through SupportsDelete") {
    withCatalog { root =>
      val dir = s"$root/t"; mkTable(dir)
      GraftCatalog.register(spark, "cat_del", dir)
      spark.sql("DELETE FROM graft.cat_del WHERE k >= 50")
      assert(spark.sql("SELECT count(*), max(k) FROM graft.cat_del")
        .as[(Long, Long)].head() == ((50L, 49L)))
      // versioned: the delete is a commit, pre-image travels
      assert(VT.read(spark, dir, asOf = Some(1L)).count() == 100L)
      spark.sql("TRUNCATE TABLE graft.cat_del")
      assert(spark.table("graft.cat_del").count() == 0L)
    }
  }

  test("VERSION AS OF / TIMESTAMP AS OF time travel through Spark grammar") {
    withCatalog { root =>
      val dir = s"$root/t"
      VT.create(Seq((1L, "a")).toDF("k", "s"), dir, statsCols = Seq("k"))
      VT.commitAppend(Seq((2L, "b")).toDF("k", "s"), dir)
      GraftCatalog.register(spark, "cat_tt", dir)
      assert(spark.sql("SELECT count(*) FROM graft.cat_tt VERSION AS OF 1")
        .as[Long].head() == 1L)
      assert(spark.sql("SELECT count(*) FROM graft.cat_tt VERSION AS OF 2")
        .as[Long].head() == 2L)
      // a timestamp far in the future resolves to the current version
      assert(spark.sql(
        "SELECT count(*) FROM graft.cat_tt TIMESTAMP AS OF '2099-01-01 00:00:00'")
        .as[Long].head() == 2L)
    }
  }

  test("DataFrame writeTo: append and replace-where overwrite") {
    withCatalog { root =>
      val dir = s"$root/t"
      VT.create(Seq((1L, "a"), (5L, "e")).toDF("k", "s"), dir,
        statsCols = Seq("k"))
      GraftCatalog.register(spark, "cat_w", dir)
      Seq((2L, "b")).toDF("k", "s").writeTo("graft.cat_w").append()
      assert(VT.read(spark, dir).count() == 3L)
      // overwrite(cond) = REPLACE WHERE: rows in the k<3 slice are
      // replaced, k=5 survives untouched
      Seq((1L, "A"), (2L, "B")).toDF("k", "s")
        .writeTo("graft.cat_w").overwrite($"k" < 3L)
      assert(VT.read(spark, dir).as[(Long, String)].collect().toSet ==
        Set((1L, "A"), (2L, "B"), (5L, "e")))
    }
  }

  test("the two addressing surfaces are one catalog: TVF name == graft.name") {
    withCatalog { root =>
      spark.sql(s"CREATE TABLE graft.cat_two (k BIGINT) LOCATION '$root/two'")
      spark.sql("INSERT INTO graft.cat_two VALUES (7)")
      // TVF spelling sees the same table
      assert(spark.sql("SELECT k FROM graft_vtable('cat_two')").as[Long]
        .collect().toSeq == Seq(7L))
      assert(spark.sql("SHOW TABLES IN graft").collect()
        .map(_.getString(1)).contains("cat_two"))
    }
  }

  test("native read is the default path; the V1 row-based fallback is reachable ONLY in a bare session") {
    withCatalog { root =>
      val dir = s"$root/t"; mkTable(dir)
      GraftCatalog.register(spark, "cat_fb", dir)
      // THIS session (GraftSession — the default packaging) must take the
      // native parquet scan: a packaging mistake that silently dropped
      // to the row-based fallback would be a correctness-invisible
      // performance cliff, so the plan shape is the assert
      val native = spark.sql("SELECT k, s FROM graft.cat_fb WHERE k >= 90")
      assert(native.queryExecution.executedPlan.collect {
        case f: FileSourceScanExec => f }.nonEmpty,
        s"native read lost:\n${native.queryExecution.executedPlan}")
      assert(native.queryExecution.executedPlan.collect {
        case r: org.apache.spark.sql.execution.RowDataSourceScanExec => r
      }.isEmpty, "registered session must never take the V1 fallback")
      // a BARE session (no extensions, no register) still answers —
      // correct, through the V1Scan row-based fallback
      val bare = SparkTestSession.bare()
      bare.conf.set("spark.sql.catalog.graft",
        classOf[graft.catalog.GraftTableCatalog].getName)
      spark.conf.getOption("spark.graft.catalog.path")
        .foreach(bare.conf.set("spark.graft.catalog.path", _))
      val fb = bare.sql("SELECT k, s FROM graft.cat_fb WHERE k >= 90")
      assert(fb.queryExecution.executedPlan.collect {
        case r: org.apache.spark.sql.execution.RowDataSourceScanExec => r
      }.nonEmpty,
        s"expected the V1 fallback scan in a bare session:\n${fb.queryExecution.executedPlan}")
      assert(fb.as[(Long, String)](org.apache.spark.sql.Encoders.product)
        .collect().toSet ==
        (90L to 99L).map(k => (k, (k % 7).toString)).toSet,
        "the fallback must stay correct")
    }
  }

  test("MERGE INTO graft.t via Spark's own grammar: CDC upsert, untouched files carried") {
    withCatalog { root =>
      val dir = s"$root/t"; mkTable(dir)
      GraftCatalog.register(spark, "cat_mrg", dir)
      val basePaths = VT.readManifest(spark, dir, 1L).files.map(_.path).toSet
      // (300, del=true) is UNMATCHED: per SQL MERGE semantics the DELETE
      // action only gates matched rows — it must INSERT (the CDC commit
      // would have tombstone-dropped it)
      Seq((200L, "ins", false), (5L, "upd", false), (7L, "gone", true),
          (300L, "insdel", true))
        .toDF("k", "s", "del").createOrReplaceTempView("cat_mrg_src")
      spark.sql(
        """MERGE INTO graft.cat_mrg AS t USING cat_mrg_src AS s
          |ON t.k = s.k
          |WHEN MATCHED AND s.del THEN DELETE
          |WHEN MATCHED THEN UPDATE SET *
          |WHEN NOT MATCHED THEN INSERT *""".stripMargin).collect()
      val out = VT.read(spark, dir).as[(Long, String)].collect().toMap
      assert(out.size == 101, s"100 - 1 delete + 2 inserts, got ${out.size}")
      assert(out(5L) == "upd" && out(200L) == "ins" && !out.contains(7L) &&
        out(300L) == "insdel")
      // the same stats-pruned touched-file detection as the library call:
      // keys {5, 7, 200} intersect at most 2 of the 4 range-clustered
      // files — the rest carry BY REFERENCE into v2
      val v2Paths = VT.readManifest(spark, dir, 2L).files.map(_.path).toSet
      val carried = basePaths.intersect(v2Paths)
      assert(carried.size >= 2,
        s"expected >=2 of 4 base files carried by reference, got $carried")
    }
  }

  test("DataFrame mergeInto API (MergeIntoWriter) routes through the same rewrite") {
    withCatalog { root =>
      val dir = s"$root/t"; mkTable(dir)
      GraftCatalog.register(spark, "cat_mrg_api", dir)
      // same resolved MergeIntoTable plan as the SQL spelling — the
      // post-hoc rule neither knows nor cares which front door built it
      Seq((200L, "ins", false), (5L, "upd", false), (7L, "gone", true))
        .toDF("k", "s", "del").as("s")
        .mergeInto("graft.cat_mrg_api", col("cat_mrg_api.k") === col("s.k"))
        .whenMatched(col("s.del")).delete()
        .whenMatched().updateAll()
        .whenNotMatched().insertAll()
        .merge()
      val out = VT.read(spark, dir).as[(Long, String)].collect().toMap
      assert(out.size == 100 && out(5L) == "upd" && out(200L) == "ins" &&
        !out.contains(7L))
    }
  }

  test("MERGE WITH SCHEMA EVOLUTION widens the table through the catalog") {
    withCatalog { root =>
      val dir = s"$root/t"; mkTable(dir)
      GraftCatalog.register(spark, "cat_mrg_evo", dir)
      // source carries a column the target lacks: Spark's own
      // ResolveMergeIntoSchemaEvolution computes the AddColumn change,
      // drives it through GraftTableCatalog.alterTable (an O(1)
      // commitAddColumns metadata commit), re-resolves, and the ordinary
      // whole-row merge lands on the widened schema
      Seq((5L, "upd", "x5"), (200L, "ins", "x200"))
        .toDF("k", "s", "extra").createOrReplaceTempView("cat_mrg_evo_src")
      spark.sql(
        """MERGE WITH SCHEMA EVOLUTION INTO graft.cat_mrg_evo AS t
          |USING cat_mrg_evo_src AS s
          |ON t.k = s.k
          |WHEN MATCHED THEN UPDATE SET *
          |WHEN NOT MATCHED THEN INSERT *""".stripMargin).collect()
      val out = spark.sql(
        "SELECT k, s, extra FROM graft.cat_mrg_evo")
        .as[(Long, String, Option[String])].collect()
        .map { case (k, s, e) => k -> ((s, e)) }.toMap
      assert(out.size == 101)
      assert(out(5L) == (("upd", Some("x5"))))
      assert(out(200L) == (("ins", Some("x200"))))
      // carried rows read NULL through the evolved schema (no rewrite)
      assert(out(6L) == (((6 % 7).toString, None)))
      // two commits: the ALTER (v2) then the merge (v3)
      assert(VT.currentVersion(spark, dir).contains(3L))
    }
  }

  test("MERGE with duplicate source keys raises the cardinality violation") {
    withCatalog { root =>
      val dir = s"$root/t"; mkTable(dir)
      GraftCatalog.register(spark, "cat_mrg_dup", dir)
      // key 5 appears twice: SQL MERGE (and Delta) must error, not pick
      // an arbitrary winner like the CDC tiebreak path would
      Seq((5L, "a", false), (5L, "b", false), (200L, "ins", false))
        .toDF("k", "s", "del").createOrReplaceTempView("cat_mrg_dup_src")
      val e = intercept[Exception](spark.sql(
        """MERGE INTO graft.cat_mrg_dup AS t USING cat_mrg_dup_src AS s
          |ON t.k = s.k
          |WHEN MATCHED THEN UPDATE SET *
          |WHEN NOT MATCHED THEN INSERT *""".stripMargin).collect())
      def chain(t: Throwable): String =
        Option(t).map(x => Option(x.getMessage).getOrElse("") +
          chain(x.getCause)).getOrElse("")
      assert(chain(e).contains("MERGE cardinality violation"), chain(e))
      // the failed MERGE must not have committed anything
      assert(VT.currentVersion(spark, dir).contains(1L))
      assert(VT.read(spark, dir).count() == 100L)
      // unique-keyed source still merges fine afterwards
      spark.sql(
        """MERGE INTO graft.cat_mrg_dup AS t USING
          |  (SELECT k, max(s) AS s FROM cat_mrg_dup_src GROUP BY k) AS s
          |ON t.k = s.k
          |WHEN MATCHED THEN UPDATE SET *
          |WHEN NOT MATCHED THEN INSERT *""".stripMargin).collect()
      val out = VT.read(spark, dir).as[(Long, String)].collect().toMap
      assert(out.size == 101 && out(5L) == "b" && out(200L) == "ins")
    }
  }

  test("UPDATE graft.t SET … WHERE … via Spark's own grammar") {
    withCatalog { root =>
      val dir = s"$root/t"; mkTable(dir)
      GraftCatalog.register(spark, "cat_upd", dir)
      spark.sql(
        """UPDATE graft.cat_upd SET s = concat(s, '!')
          |WHERE k >= 10 AND k < 20 AND k % 2 = 0""".stripMargin).collect()
      val out = VT.read(spark, dir).as[(Long, String)].collect().toMap
      assert(out(10L) == "3!" && out(12L) == "5!" && out(11L) == "4" &&
        out(9L) == "2" && out.size == 100)
    }
  }

  test("DELETE FROM graft.t with an UNPUSHABLE predicate routes through the commit") {
    withCatalog { root =>
      val dir = s"$root/t"; mkTable(dir)
      GraftCatalog.register(spark, "cat_delx", dir)
      // k % 2 = 0 has no V1 Filter form — SupportsDelete alone cannot
      // serve it; the DML rewrite can
      spark.sql("DELETE FROM graft.cat_delx WHERE k < 50 AND k % 2 = 0")
        .collect()
      val ks = VT.read(spark, dir).select("k").as[Long].collect().toSet
      assert(ks.size == 75 && !ks.contains(48L) && ks.contains(49L) &&
        ks.contains(50L))
    }
  }

  test("UPDATE and DELETE on graft.t act on its dir when the dir has no path separator") {
    withCatalog { root =>
      // a relative dir is also readable as a table name: a second table
      // registered under that name must stay untouched
      val rel = s"vtrel${System.nanoTime}"
      val other = s"$root/other"
      try {
        mkTable(rel); mkTable(other)
        GraftCatalog.register(spark, "cat_rel", rel)
        GraftCatalog.register(spark, rel, other)
        spark.sql("UPDATE graft.cat_rel SET s = 'u' WHERE k = 2").collect()
        spark.sql("DELETE FROM graft.cat_rel WHERE k % 50 = 1").collect()
        val out = VT.read(spark, rel).as[(Long, String)].collect().toMap
        assert(out.size == 98 && out(2L) == "u" && !out.contains(51L))
        assert(VT.versions(spark, other) == Seq(1L))
      } finally {
        val p = new org.apache.hadoop.fs.Path(rel)
        p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
      }
    }
  }

  test("unsupported MERGE shapes refuse loudly, naming the contract") {
    withCatalog { root =>
      val dir = s"$root/t"; mkTable(dir)
      GraftCatalog.register(spark, "cat_mrg_bad", dir)
      Seq((5L, "x", false)).toDF("k", "s", "del")
        .createOrReplaceTempView("cat_mrg_bad_src")
      def msgOf(sql: String): String = {
        val e = intercept[Exception](spark.sql(sql).collect())
        def chain(t: Throwable): String =
          Option(t).map(e => Option(e.getMessage).getOrElse("") +
            chain(e.getCause)).getOrElse("")
        chain(e)
      }
      // per-column SET is not the whole-row CDC upsert
      assert(msgOf(
        """MERGE INTO graft.cat_mrg_bad AS t USING cat_mrg_bad_src AS s
          |ON t.k = s.k
          |WHEN MATCHED THEN UPDATE SET s = 'boom'
          |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
        .contains("supported MERGE shape"))
      // NOT MATCHED BY SOURCE has no CDC meaning here
      assert(msgOf(
        """MERGE INTO graft.cat_mrg_bad AS t USING cat_mrg_bad_src AS s
          |ON t.k = s.k
          |WHEN MATCHED THEN UPDATE SET *
          |WHEN NOT MATCHED THEN INSERT *
          |WHEN NOT MATCHED BY SOURCE THEN DELETE""".stripMargin)
        .contains("NOT MATCHED BY SOURCE"))
      // a non-equality ON condition cannot key the upsert
      assert(msgOf(
        """MERGE INTO graft.cat_mrg_bad AS t USING cat_mrg_bad_src AS s
          |ON t.k > s.k
          |WHEN MATCHED THEN UPDATE SET *
          |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
        .contains("key equality"))
      // a PARTIAL same-name list must refuse — the whole-row commit would
      // silently overwrite the unassigned columns
      assert(msgOf(
        """MERGE INTO graft.cat_mrg_bad AS t USING cat_mrg_bad_src AS s
          |ON t.k = s.k
          |WHEN MATCHED THEN UPDATE SET s = s.s
          |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
        .contains("whole-row"))
      // SQL applies the FIRST matching action: an unconditional UPDATE
      // before the DELETE makes the DELETE unreachable — Spark's own
      // parser rejects the shape (NON_LAST_MATCHED_CLAUSE_OMIT_CONDITION);
      // the rewrite keeps a defense-in-depth refusal for API-built plans
      assert(msgOf(
        """MERGE INTO graft.cat_mrg_bad AS t USING cat_mrg_bad_src AS s
          |ON t.k = s.k
          |WHEN MATCHED THEN UPDATE SET *
          |WHEN MATCHED AND s.del THEN DELETE
          |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
        .contains("MATCHED"))
    }
  }

  test("writes to a time-traveled table and unknown names refuse loudly") {
    withCatalog { root =>
      val dir = s"$root/t"; mkTable(dir)
      GraftCatalog.register(spark, "cat_err", dir)
      intercept[Exception](
        spark.sql("INSERT INTO graft.nope VALUES (1)"))
      val e = intercept[Exception](
        spark.sql("SELECT * FROM graft.cat_err VERSION AS OF 99").collect())
      assert(e.getMessage != null)
    }
  }
}
