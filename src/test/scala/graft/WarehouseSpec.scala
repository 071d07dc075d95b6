package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import graft.ops.Warehouse

class WarehouseSpec extends SparkSuite {

  test("mergeReplaceParquet: last-writer-wins, new keys append, idempotent") {
    import spark.implicits._
    import graft.ops.{Warehouse => W}
    val dir = java.nio.file.Files.createTempDirectory("merge").toString + "/wh"
    val v1 = Seq((1L, "a1"), (2L, "b1"), (3L, "c1")).toDF("k", "v")
    assert(W.mergeReplaceParquet(v1, dir, Seq("k"), Seq($"v")) == 3)
    // overlap: key 2 replaced, key 4 appended, keys 1/3 untouched
    val v2 = Seq((2L, "b2"), (4L, "d1")).toDF("k", "v")
    assert(W.mergeReplaceParquet(v2, dir, Seq("k"), Seq($"v")) == 4)
    val state = spark.read.parquet(dir).as[(Long, String)].collect().toMap
    assert(state == Map(1L -> "a1", 2L -> "b2", 3L -> "c1", 4L -> "d1"),
      s"got $state")
    // idempotent: re-applying the same batch changes nothing
    assert(W.mergeReplaceParquet(v2, dir, Seq("k"), Seq($"v")) == 4)
    assert(spark.read.parquet(dir).as[(Long, String)].collect().toMap == state)
    // no staging/retired leftovers (underscore-prefixed siblings — the
    // un-prefixed names the old assertion checked never exist at all)
    assert(!new java.io.File(new java.io.File(dir).getParentFile, "_wh.staging").exists())
    assert(!new java.io.File(new java.io.File(dir).getParentFile, "_wh.old").exists())
  }
  import spark.implicits._

  test("dedupByKey keeps exactly one row per key, deterministic winner") {
    val df = Seq((1, "b", 2.0), (1, "a", 1.0), (2, "c", 3.0), (1, "a", 0.5))
      .toDF("k", "s", "v")
    val out = Warehouse.dedupByKey(df, Seq("k"), Seq($"s", $"v"))
      .orderBy("k").collect()
    assert(out.map(_.getInt(0)).toSeq == Seq(1, 2))
    assert(out(0).getString(1) == "a" && out(0).getDouble(2) == 0.5)
  }

  test("dedupByKey: native-aggregate fast path equals the custom operator, nulls included") {
    // null tiebreak values exercise the NULLS FIRST (asc) / NULLS LAST
    // (desc) agreement between SortOrder defaults and struct ordering
    val df = Seq[(Int, Option[String], Option[Double])](
      (1, Some("b"), Some(2.0)), (1, None, Some(9.0)), (1, Some("a"), None),
      (2, Some("c"), Some(3.0)), (2, Some("c"), Some(1.0)),
      (3, None, None), (3, None, Some(0.0)))
      .toDF("k", "s", "v")
    def rows(out: org.apache.spark.sql.DataFrame) =
      out.orderBy("k").collect().map(_.toSeq).toSeq
    for (tb <- Seq(Seq($"s", $"v"), Seq($"s".desc, $"v".desc))) {
      val fast = rows(Warehouse.dedupByKey(df, Seq("k"), tb))
      val slow = rows(graft.plans.TopKPlans
        .topKPerGroupSort(df, Seq("k"), tb, 1, "__rn").drop("__rn"))
      assert(fast == slow, s"tiebreak $tb: fast=$fast slow=$slow")
    }
  }

  test("upsertNewRows = incoming minus existing keys") {
    val target = Seq((1, "t"), (2, "t")).toDF("k", "v")
    val incoming = Seq((2, "i"), (3, "i")).toDF("k", "v")
    val out = Warehouse.upsertNewRows(incoming, target, Seq("k")).collect()
    assert(out.map(_.getInt(0)).toSeq == Seq(3))
  }

  test("property: upsert is idempotent and first-writer-wins (ScalaCheck)") {
    val genBatch = Gen.listOfN(30,
      Gen.zip(Gen.choose(0, 9), Gen.alphaStr.map(_.take(5))))
    val prop = Prop.forAll(genBatch, genBatch) { (b1, b2) =>
      val wh = Files.createTempDirectory("prop_wh").toString + "/t"
      val d1 = b1.toDF("k", "v")
      val d2 = b2.toDF("k", "v")
      val tb = Seq($"v")
      val n1 = Warehouse.upsertIntoParquet(d1, wh, Seq("k"), tb)
      val n1again = Warehouse.upsertIntoParquet(d1, wh, Seq("k"), tb)
      val stored1 = spark.read.parquet(wh).as[(Int, String)].collect().toMap
      Warehouse.upsertIntoParquet(d2, wh, Seq("k"), tb)
      val stored2 = spark.read.parquet(wh).as[(Int, String)].collect().toMap
      val distinct1 = b1.map(_._1).distinct.size
      n1 == distinct1 &&
        n1again == 0 &&
        // first batch's values survive the second batch (first-writer-wins)
        stored1.forall { case (k, v) => stored2(k) == v } &&
        // every key present
        (b1.map(_._1) ++ b2.map(_._1)).toSet == stored2.keySet
    }
    val result = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(5), prop)
    assert(result.passed, result.status.toString)
  }

  /** Names under `dir` (empty when it is absent). */
  private def listing(dir: String): Set[String] =
    Option(new java.io.File(dir).list()).map(_.toSet).getOrElse(Set.empty)

  /** A target directory that exists but holds no parquet data file. */
  private def preCreated(prefix: String): String = {
    val dir = Files.createTempDirectory(prefix).toString + "/t"
    new java.io.File(dir).mkdirs()
    new java.io.File(dir, "_SUCCESS").createNewFile()
    dir
  }

  test("upsertIntoParquet: a pre-created target with no parquet data files takes the batch") {
    val wh = preCreated("precreated")
    val batch = Seq((1, "b"), (1, "a"), (2, "c")).toDF("k", "v")
    assert(Warehouse.upsertIntoParquet(batch, wh, Seq("k"), Seq($"v")) == 2)
    assert(spark.read.parquet(wh).as[(Int, String)].collect().toMap == Map(1 -> "a", 2 -> "c"))
    assert(Warehouse.upsertIntoParquet(batch, wh, Seq("k"), Seq($"v")) == 0)
  }

  test("mergeReplaceParquet: a pre-created target with no parquet data files takes the batch") {
    val wh = preCreated("mrprecreated")
    val batch = Seq((1, "b"), (1, "a"), (2, "c")).toDF("k", "v")
    assert(Warehouse.mergeReplaceParquet(batch, wh, Seq("k"), Seq($"v")) == 2)
    assert(spark.read.parquet(wh).as[(Int, String)].collect().toMap == Map(1 -> "a", 2 -> "c"))
  }

  test("applyChangesParquet: a pre-created target with no parquet data files is created from the inserts") {
    val wh = preCreated("acprecreated")
    val changes = Seq((1, "a", false), (2, "b", false), (3, "x", true)).toDF("k", "v", "del")
    assert(Warehouse.applyChangesParquet(changes, wh, Seq("k"), Seq($"v"), $"del",
      payloadCols = Seq("v")) == 2)
    assert(spark.read.parquet(wh).as[(Int, String)].collect().toMap == Map(1 -> "a", 2 -> "b"))
  }

  test("upsertIntoParquet: an empty batch writes nothing, whatever the target") {
    val empty = Seq.empty[(Int, String)].toDF("k", "v")
    val root = Files.createTempDirectory("emptybatch").toString
    // absent target: no directory appears
    val absent = root + "/absent"
    assert(Warehouse.upsertIntoParquet(empty, absent, Seq("k"), Seq($"v")) == 0)
    assert(!new java.io.File(absent).exists())
    // pre-created empty target: stays empty
    val bare = root + "/bare"
    new java.io.File(bare).mkdirs()
    assert(Warehouse.upsertIntoParquet(empty, bare, Seq("k"), Seq($"v")) == 0)
    assert(listing(bare).isEmpty, s"left behind: ${listing(bare)}")
    // existing warehouse: listing unchanged
    val wh = root + "/wh"
    assert(Warehouse.upsertIntoParquet(Seq((1, "a")).toDF("k", "v"), wh, Seq("k"), Seq($"v")) == 1)
    val before = listing(wh)
    assert(Warehouse.upsertIntoParquet(empty, wh, Seq("k"), Seq($"v")) == 0)
    assert(listing(wh) == before)
  }

  test("upsertIntoParquet: re-running a batch inserts 0 rows and adds no file") {
    val wh = Files.createTempDirectory("rerun").toString + "/t"
    val batch = (0 until 200).map(i => (i % 150, s"v$i")).toDF("k", "v").repartition(3)
    assert(Warehouse.upsertIntoParquet(batch, wh, Seq("k"), Seq($"v")) == 150)
    // every file the load kept holds rows
    assert(spark.read.parquet(wh).inputFiles.length ==
      spark.read.parquet(wh).select(input_file_name()).distinct().count())
    val before = listing(wh)
    assert(Warehouse.upsertIntoParquet(batch, wh, Seq("k"), Seq($"v")) == 0)
    assert(listing(wh) == before)
    assert(spark.read.parquet(wh).count() == 150)
  }

  test("upsertIntoParquet: a load into an existing warehouse runs <= 3 jobs") {
    val root = Files.createTempDirectory("loadjobs").toString
    val wh = root + "/t"
    Warehouse.upsertIntoParquet((0 until 500).map(i => (i, s"a$i")).toDF("k", "v"),
      wh, Seq("k"), Seq($"v"))
    (250 until 750).map(i => (i, s"b$i")).toDF("k", "v").write.parquet(root + "/in")
    val incoming = spark.read.parquet(root + "/in")
    var n = -1L
    val jobs = jobsLaunchedBy {
      n = Warehouse.upsertIntoParquet(incoming, wh, Seq("k"), Seq($"v"))
    }
    assert(n == 250)
    assert(jobs <= 3, s"load ran $jobs jobs, want <= 3 (dedup map, key broadcast, write)")
    assert(spark.read.parquet(wh).count() == 750)
  }

  test("incrementalAfterWatermark: a filtered warehouse falls back to the aggregate, same rows") {
    val wh = Files.createTempDirectory("wmfilter").toString + "/t"
    Seq((1, java.sql.Date.valueOf("2024-01-01")), (2, java.sql.Date.valueOf("2024-03-01")))
      .toDF("k", "d").write.parquet(wh)
    val source = Seq((7, java.sql.Date.valueOf("2024-01-15")),
      (8, java.sql.Date.valueOf("2024-02-01")), (9, java.sql.Date.valueOf("2024-03-02")))
      .toDF("k", "d")
    val default = lit("1900-01-01").cast("date")
    def keys(df: org.apache.spark.sql.DataFrame) = df.as[(Int, java.sql.Date)].collect().map(_._1).toSet
    val bare = spark.read.parquet(wh)
    assert(keys(Warehouse.incrementalAfterWatermark(source, bare, "d", default)) == Set(9))
    // the filter leaves 2024-01-01 as the max: the aggregate path must see it
    val filtered = bare.filter($"k" === 1)
    val out = Warehouse.incrementalAfterWatermark(source, filtered, "d", default)
    assert(keys(out) == Set(7, 8, 9))
    assert(out.queryExecution.optimizedPlan.collect {
      case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a }.nonEmpty)
  }

  test("incrementalAfterWatermark: a TIMESTAMP watermark from footers equals the aggregate to the µs") {
    val ts = (s: String) => java.sql.Timestamp.valueOf(s)
    val source = Seq((1, ts("2024-05-01 10:00:00.123455")), (2, ts("2024-05-01 10:00:00.123456")),
      (3, ts("2024-05-01 10:00:00.123457"))).toDF("k", "t")
    val default = lit("1900-01-01").cast("timestamp")
    for (tsType <- Seq("TIMESTAMP_MICROS", "TIMESTAMP_MILLIS", "INT96")) {
      val wh = Files.createTempDirectory("wmts").toString + "/t"
      spark.conf.set("spark.sql.parquet.outputTimestampType", tsType)
      try Seq((10, ts("2024-04-30 00:00:00")), (11, ts("2024-05-01 10:00:00.123456")),
        (12, null.asInstanceOf[java.sql.Timestamp])).toDF("k", "t").repartition(2).write.parquet(wh)
      finally spark.conf.unset("spark.sql.parquet.outputTimestampType")
      val bare = spark.read.parquet(wh)
      for (inclusive <- Seq(false, true)) {
        val viaFooter = Warehouse.incrementalAfterWatermark(source, bare, "t", default, inclusive)
        val viaAgg = Warehouse.incrementalAfterWatermark(source, bare.filter(lit(true)), "t",
          default, inclusive)
        val got = viaFooter.as[(Int, java.sql.Timestamp)].collect().toSet
        assert(got == viaAgg.as[(Int, java.sql.Timestamp)].collect().toSet, tsType)
        // MILLIS truncates the stored value itself: both paths see .123
        val want = if (tsType == "TIMESTAMP_MILLIS") Set(1, 2, 3)
          else if (inclusive) Set(2, 3) else Set(3)
        assert(got.map(_._1) == want, s"$tsType inclusive=$inclusive: $got")
      }
    }
  }

  test("highWaterMark falls back to default on empty input") {
    val empty = Seq.empty[(String, String)].toDF("k", "d")
    val hwm = empty.agg(Warehouse.highWaterMark(empty, "d", lit("1900-01-01")))
      .collect().head.getString(0)
    assert(hwm == "1900-01-01")
  }

  test("compactParquet: bin-packs many small files, rows intact, crash-safe swap") {
    import spark.implicits._
    import graft.ops.{Warehouse => W}
    val dir = java.nio.file.Files.createTempDirectory("compact").toString + "/t"
    val df = (0L until 5000L).map(i => (i, s"row-$i")).toDF("k", "v")
    df.repartition(40).write.parquet(dir) // simulated micro-batch litter
    val (before, after) = W.compactParquet(spark, dir, targetFileBytes = 512L * 1024)
    assert(before == 40, s"fixture should start with 40 files, had $before")
    assert(after < before, s"compaction must reduce file count: $before -> $after")
    val back = spark.read.parquet(dir)
    assert(back.count() == 5000)
    assert(back.exceptAll(df).isEmpty && df.exceptAll(back).isEmpty)
  }

  test("compactParquet refuses a Hive-partitioned layout instead of flattening it") {
    import spark.implicits._
    import graft.ops.{Warehouse => W}
    val dir = java.nio.file.Files.createTempDirectory("compactpart").toString + "/t"
    Seq((1L, "a"), (2L, "b")).toDF("k", "part")
      .write.partitionBy("part").parquet(dir)
    assertThrows[IllegalArgumentException] {
      W.compactParquet(spark, dir)
    }
  }

  test("compactPartitioned: per-partition bin-packing keeps layout and rows") {
    import spark.implicits._
    import graft.ops.{Warehouse => W}
    val dir = java.nio.file.Files.createTempDirectory("compactp2").toString + "/t"
    val df = (0L until 3000L).map(i => (i, s"row-$i", s"p${i % 3}")).toDF("k", "v", "part")
    df.repartition(10).write.partitionBy("part").parquet(dir)
    val report = W.compactPartitioned(spark, dir, targetFileBytes = 1L << 20)
    assert(report.keySet == Set("part=p0", "part=p1", "part=p2"))
    report.foreach { case (p, (before, after)) =>
      assert(after <= before && after == 1, s"$p: $before -> $after")
    }
    val back = spark.read.parquet(dir)
    assert(back.count() == 3000)
    assert(back.exceptAll(df).isEmpty && df.exceptAll(back).isEmpty)
    // partition pruning still works on the compacted layout
    assert(back.filter($"part" === "p1").count() == 1000)
  }

  // ---------------------------------------------------------------- SCD-2
  private def scdRows(df: org.apache.spark.sql.DataFrame) =
    df.select("k", "ts", "attr", "valid_to", "is_current")
      .collect()
      .map(r => (r.getAs[Int]("k"), r.getAs[Int]("ts"), r.getAs[String]("attr"),
        Option(r.getAs[Integer]("valid_to")).map(_.toInt), r.getAs[Boolean]("is_current")))
      .toSet

  test("scd2Apply: insert, no-op drop, change closes the old row") {
    val dim = Seq((1, 10, "A"), (2, 10, "X")).toDF("k", "ts", "attr")
    val upd = Seq(
      (1, 20, "A"),  // no-op: same attr as current -> dropped
      (2, 20, "Y"),  // change: closes (2,10,X)
      (3, 20, "N")   // brand-new key
    ).toDF("k", "ts", "attr")
    val out = Warehouse.scd2Apply(dim, upd, "k", "ts", Seq("attr"))
    assert(scdRows(out) == Set(
      (1, 10, "A", None, true),
      (2, 10, "X", Some(20), false),
      (2, 20, "Y", None, true),
      (3, 20, "N", None, true)))
  }

  test("S6: JDBC load round-trips through embedded Derby with the NULL-'' convention") {
    // The reference's warehouse sink is a real database (load.py:29-32);
    // exercise the df.write.format("jdbc") path against the in-process
    // Derby that ships with Spark — no network DB needed. Blank strings
    // must land as SQL NULL (COPY ... NULL '' semantics, load.py:96).
    import spark.implicits._
    val props = new java.util.Properties()
    props.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
    val url = "jdbc:derby:memory:graftwh;create=true"
    val df = Seq(
      (1L, "BROOKLYN", "F"),
      (2L, "", "M"), // blank borough -> NULL in the warehouse
      (3L, "QUEENS", "")
    ).toDF("arrest_key", "boro", "law_cat")
    graft.ops.Warehouse.loadJdbc(df, url, "arrests", props)
    val back = graft.ops.Warehouse.readJdbc(spark, url, "arrests", props)
    assert(back.count() == 3)
    val byKey = back.collect().map(r => r.getLong(0) -> (r.get(1), r.get(2))).toMap
    assert(byKey(1L) == ("BROOKLYN", "F"))
    assert(byKey(2L) == (null, "M"), "blank string must round-trip as SQL NULL")
    assert(byKey(3L) == ("QUEENS", null))
    // overwrite mode is idempotent: reloading replaces, not duplicates
    graft.ops.Warehouse.loadJdbc(df, url, "arrests", props)
    assert(graft.ops.Warehouse.readJdbc(spark, url, "arrests", props).count() == 3)
    // append mode adds
    graft.ops.Warehouse.loadJdbc(df.filter($"arrest_key" === 1L), url, "arrests",
      props, mode = "append")
    assert(graft.ops.Warehouse.readJdbc(spark, url, "arrests", props).count() == 4)
  }

  test("readJdbcPartitioned issues a parallel range scan, same rows") {
    import spark.implicits._
    val props = new java.util.Properties()
    props.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
    val url = "jdbc:derby:memory:graftwhpart;create=true"
    val df = (1L to 100L).map(k => (k, s"name$k")).toDF("k", "name")
    graft.ops.Warehouse.loadJdbc(df, url, "t", props)
    val back = graft.ops.Warehouse.readJdbcPartitioned(spark, url, "t", props,
      "k", numPartitions = 4)
    assert(back.rdd.getNumPartitions == 4,
      s"expected 4 JDBC partitions, got ${back.rdd.getNumPartitions}")
    assert(back.count() == 100L)
    assert(back.agg(org.apache.spark.sql.functions.sum("k")).head().getLong(0) == 5050L)
    // degenerate single-value table falls back to the single-task read
    graft.ops.Warehouse.loadJdbc(df.filter($"k" === 7L), url, "t1", props)
    val one = graft.ops.Warehouse.readJdbcPartitioned(spark, url, "t1", props,
      "k", numPartitions = 4)
    assert(one.count() == 1L)
  }

  test("mergeIntoJdbc: conflicts are skipped BY THE DATABASE, insert count from MERGE") {
    import spark.implicits._
    val W = graft.ops.Warehouse
    val props = new java.util.Properties()
    props.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
    val url = "jdbc:derby:memory:graftmerge;create=true"
    val tiebreak = Seq(org.apache.spark.sql.functions.col("v"))

    // batch 1: keys 1..50 — creates the target, all insert
    val n1 = W.mergeIntoJdbc((1L to 50L).map(k => (k, s"first-$k")).toDF("k", "v"),
      url, "tgt", "stage", Seq("k"), tiebreak, props)
    assert(n1 == 50L, s"fresh merge must insert everything, got $n1")

    // batch 2: keys 26..75 with CONFLICTING payloads — the database's own
    // MERGE count says 25 inserted (50..75 minus the 26..50 conflicts)
    val n2 = W.mergeIntoJdbc((26L to 75L).map(k => (k, s"second-$k")).toDF("k", "v"),
      url, "tgt", "stage", Seq("k"), tiebreak, props)
    assert(n2 == 25L, s"the database must skip the 25 conflicting keys, got $n2")

    val back = W.readJdbc(spark, url, "tgt", props).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(back.size == 75)
    assert(back(30L) == "first-30", "a conflicting key keeps the incumbent row")
    assert(back(60L) == "second-60", "a new key inserts batch 2's row")

    // replay of batch 2 is a no-op — the idempotence the reference's
    // ON CONFLICT DO NOTHING chunk loop relies on (load.py:114-147)
    val n3 = W.mergeIntoJdbc((26L to 75L).map(k => (k, s"second-$k")).toDF("k", "v"),
      url, "tgt", "stage", Seq("k"), tiebreak, props)
    assert(n3 == 0L)
    assert(W.readJdbc(spark, url, "tgt", props).count() == 75)

    // intra-batch duplicate keys dedup before staging: one row lands, and
    // the tiebreak picks the deterministic winner
    val n4 = W.mergeIntoJdbc(Seq((100L, "bb"), (100L, "aa")).toDF("k", "v"),
      url, "tgt", "stage", Seq("k"), tiebreak, props)
    assert(n4 == 1L)
    assert(W.readJdbc(spark, url, "tgt", props).filter($"k" === 100L)
      .head().getString(1) == "aa")

    // the auto-created target carries a real PRIMARY KEY: the MERGE's
    // NOT MATCHED probe is an index lookup, and uniqueness is enforced by
    // the database, not assumed — a raw duplicate insert must violate it
    val conn = java.sql.DriverManager.getConnection(url, props)
    try {
      val dup = intercept[java.sql.SQLException] {
        conn.createStatement().executeUpdate(
          """INSERT INTO tgt ("k", "v") VALUES (100, 'smuggled')""")
      }
      assert(dup.getSQLState.startsWith("23"), // integrity constraint violation
        s"expected a PK violation, got ${dup.getSQLState}: ${dup.getMessage}")
    } finally conn.close()
  }

  test("mergeReplaceJdbc: matched keys update in-place, new keys insert, all in-DB") {
    import spark.implicits._
    val W = graft.ops.Warehouse
    val props = new java.util.Properties()
    props.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
    val url = "jdbc:derby:memory:graftmergeupd;create=true"
    val tiebreak = Seq(org.apache.spark.sql.functions.col("v"))

    val n1 = W.mergeReplaceJdbc((1L to 40L).map(k => (k, s"first-$k")).toDF("k", "v"),
      url, "tgt", "stage", Seq("k"), tiebreak, props)
    assert(n1 == 40L)
    // keys 21..60: 20 updates + 20 inserts, one MERGE, counted by the DB
    val n2 = W.mergeReplaceJdbc((21L to 60L).map(k => (k, s"second-$k")).toDF("k", "v"),
      url, "tgt", "stage", Seq("k"), tiebreak, props)
    assert(n2 == 40L, s"all 40 staged rows take effect (20 UPDATE + 20 INSERT), got $n2")
    val back = W.readJdbc(spark, url, "tgt", props).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(back.size == 60)
    assert(back(10L) == "first-10", "untouched keys keep their row")
    assert(back(30L) == "second-30", "matched keys take the staged row (last writer wins)")
    assert(back(50L) == "second-50")
    // idempotent replay: same rows affected, same content
    val n3 = W.mergeReplaceJdbc((21L to 60L).map(k => (k, s"second-$k")).toDF("k", "v"),
      url, "tgt", "stage", Seq("k"), tiebreak, props)
    assert(n3 == 40L && W.readJdbc(spark, url, "tgt", props).count() == 60)
  }

  test("scd2Apply: late-arriving update slots into the middle of history") {
    val dim = Seq((1, 10, "A"), (1, 30, "C")).toDF("k", "ts", "attr")
    val upd = Seq((1, 20, "B")).toDF("k", "ts", "attr")
    val out = Warehouse.scd2Apply(dim, upd, "k", "ts", Seq("attr"))
    assert(scdRows(out) == Set(
      (1, 10, "A", Some(20), false),
      (1, 20, "B", Some(30), false),
      (1, 30, "C", None, true)))
  }

  test("scd2Apply: consecutive same-attr updates collapse to the first") {
    val dim = Seq.empty[(Int, Int, String)].toDF("k", "ts", "attr")
    val upd = Seq((1, 10, "A"), (1, 20, "A"), (1, 30, "B"), (1, 40, "A"))
      .toDF("k", "ts", "attr")
    val out = Warehouse.scd2Apply(dim, upd, "k", "ts", Seq("attr"))
    assert(scdRows(out) == Set(
      (1, 10, "A", Some(30), false),
      (1, 30, "B", Some(40), false),
      (1, 40, "A", None, true)))
  }

  test("applyChanges: delete / update / insert / pass-through in one merge") {
    val snap = Seq((1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0))
      .toDF("k", "s", "v")
    // key 1: tombstone; key 2: update; key 4: insert; key 5: tombstone for
    // an absent key (must NOT insert); key 3: untouched pass-through
    val changes = Seq(
      (1, "a", 0.0, true), (2, "B", 22.0, false),
      (4, "d", 40.0, false), (5, "e", 50.0, true))
      .toDF("k", "s", "v", "del")
    val out = Warehouse.applyChanges(snap, changes, Seq("k"), deleteCond = $"del")
      .as[(Int, String, Double)].collect().toSet
    assert(out == Set((2, "B", 22.0), (3, "c", 30.0), (4, "d", 40.0)), s"got $out")
  }

  test("applyChanges: NULL delete predicate is not a delete (SQL CASE semantics)") {
    val snap = Seq((1, "a")).toDF("k", "s")
    val changes = Seq((1, Option.empty[String])).toDF("k", "s")
    // deleteCond `s = 'x'` is NULL for a null s — row must update, not drop
    val out = Warehouse.applyChanges(snap, changes, Seq("k"),
        deleteCond = $"s" === "x")
      .as[(Int, Option[String])].collect().toSet
    assert(out == Set((1, None)), s"got $out")
  }

  test("applyChangesParquet: create, merge rounds, crash-safe swap leftovers absent") {
    val dir = Files.createTempDirectory("cdc").toString + "/wh"
    // round 1 — no warehouse yet: inserts land, the tombstone is a no-op;
    // payloadCols keeps the CDC flag column out of the created schema
    val r1 = Seq((1, "a", false), (2, "b", false), (9, "x", true))
      .toDF("k", "s", "del")
    assert(Warehouse.applyChangesParquet(r1, dir, Seq("k"), Seq($"s"), $"del",
      payloadCols = Seq("s")) == 2)
    assert(spark.read.parquet(dir).columns.toSet == Set("k", "s"),
      "the del flag must not leak into the created warehouse schema")
    // round 2 — update 1, delete 2, insert 3
    val r2 = Seq((1, "A", false), (2, "b", true), (3, "c", false))
      .toDF("k", "s", "del")
    assert(Warehouse.applyChangesParquet(r2, dir, Seq("k"), Seq($"s"), $"del") == 2)
    val state = spark.read.parquet(dir).select("k", "s")
      .as[(Int, String)].collect().toMap
    assert(state == Map(1 -> "A", 3 -> "c"), s"got $state")
    // replaying round 2 converges to the same state (upsert/delete idempotent)
    assert(Warehouse.applyChangesParquet(r2, dir, Seq("k"), Seq($"s"), $"del") == 2)
    val parent = new java.io.File(dir).getParentFile
    assert(!new java.io.File(parent, "_wh.staging").exists())
    assert(!new java.io.File(parent, "_wh.old").exists())
    // an empty changelog is a true no-op: count returned, table not rewritten
    def dataFiles() = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(f => f.getName -> f.lastModified()).toMap
    val before = dataFiles()
    val emptyC = Seq.empty[(Int, String, Boolean)].toDF("k", "s", "del")
    assert(Warehouse.applyChangesParquet(emptyC, dir, Seq("k"), Seq($"s"), $"del") == 2)
    assert(dataFiles() == before, "empty changelog must not rewrite the warehouse")
  }

  test("applyChangesPartitioned: only touched partitions merge; others' files untouched") {
    val dir = Files.createTempDirectory("cdcp").toString + "/wh"
    Seq((1, "p1", "a"), (2, "p1", "b"), (3, "p2", "c"), (4, "p3", "d"))
      .toDF("k", "p", "s")
      .write.partitionBy("p").parquet(dir)
    def filesOf(p: String): Map[String, Long] = {
      val d = new java.io.File(s"$dir/p=$p")
      d.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> f.lastModified()).toMap
    }
    val p3Before = filesOf("p3")
    // touch p1 (update 1, delete 2), p2 (insert 5), and CREATE p4 (insert 6,
    // plus a tombstone for an absent key that must neither insert nor leak
    // the flag column into the new partition's schema); p3 untouched
    val changes = Seq((1, "p1", "A", false), (2, "p1", "b", true), (5, "p2", "e", false),
      (6, "p4", "f", false), (7, "p4", "g", true))
      .toDF("k", "p", "s", "del")
    val counts = Warehouse.applyChangesPartitioned(changes, dir, "p",
      Seq("k"), Seq($"s"), $"del")
    assert(counts == Map("p1" -> 1L, "p2" -> 2L, "p4" -> 1L), s"got $counts")
    val state = spark.read.parquet(dir).select("k", "p", "s")
      .as[(Int, String, String)].collect().toSet
    assert(state == Set((1, "p1", "A"), (3, "p2", "c"), (5, "p2", "e"),
      (4, "p3", "d"), (6, "p4", "f")), s"got $state")
    assert(filesOf("p3") == p3Before, "untouched partition was rewritten")
    // the created partition's schema matches the table (no flag columns)
    assert(spark.read.parquet(s"$dir/p=p4").columns.toSet == Set("k", "s"),
      "new partition schema must match existing partitions")
    // empty-string partition values address __HIVE_DEFAULT_PARTITION__,
    // which raw-dir addressing refuses
    val empty = Seq((9, "", "z", false)).toDF("k", "p", "s", "del")
    intercept[IllegalArgumentException] {
      Warehouse.applyChangesPartitioned(empty, dir, "p", Seq("k"), Seq($"s"), $"del")
    }
    // an all-tombstone changelog for an ABSENT partition must not create a
    // phantom partition dir
    val ghost = Seq((8, "p9", "h", true)).toDF("k", "p", "s", "del")
    assert(Warehouse.applyChangesPartitioned(ghost, dir, "p",
      Seq("k"), Seq($"s"), $"del") == Map("p9" -> 0L))
    assert(!new java.io.File(s"$dir/p=p9").exists(), "phantom partition created")
  }

  test("applyChangesPartitioned: values needing Hive escaping address the writer's dir") {
    val dir = Files.createTempDirectory("cdce").toString + "/wh"
    // ':' is in Spark's escape set — the writer stores p=2024%3Aq1
    Seq((1, "2024:q1", "a"), (2, "plain", "b")).toDF("k", "p", "s")
      .write.partitionBy("p").parquet(dir)
    assert(new java.io.File(s"$dir/p=2024%3Aq1").exists(), "writer layout assumption")
    val changes = Seq((1, "2024:q1", "A", false), (3, "2024:q1", "c", false))
      .toDF("k", "p", "s", "del")
    val counts = Warehouse.applyChangesPartitioned(changes, dir, "p",
      Seq("k"), Seq($"s"), $"del")
    assert(counts == Map("2024:q1" -> 2L), s"got $counts")
    val state = spark.read.parquet(dir).select("k", "p", "s")
      .as[(Int, String, String)].collect().toSet
    assert(state == Set((1, "2024:q1", "A"), (3, "2024:q1", "c"), (2, "plain", "b")),
      s"escaped partition forked: $state")
    assert(!new java.io.File(s"$dir/p=2024:q1").exists(),
      "a raw (unescaped) sibling dir was created — partition forked")
  }

  test("applyChanges equals a sequential per-row model on random changelogs") {
    // model: apply the changelog to a Map one row at a time — tombstone
    // removes, else put; compare against the one-join distributed result
    val genSnap = Gen.mapOf(Gen.zip(Gen.choose(0, 30), Gen.alphaStr.map(_.take(4))))
    val genChanges = Gen.listOf(Gen.zip(
      Gen.choose(0, 30), Gen.alphaStr.map(_.take(4)), Gen.oneOf(true, false)))
      // one change row per key (the documented pre-dedup contract)
      .map(_.groupBy(_._1).map(_._2.head).toList)
    val prop = Prop.forAll(genSnap, genChanges) { (snap, changes) =>
      val model = changes.foldLeft(snap) { case (m, (k, v, del)) =>
        if (del) m - k else m.updated(k, v)
      }
      // the sentinel row keeps toDF inferable on empty inputs; filtered out
      val snapDf = (snap.toSeq :+ ((-999, "x")))
        .toDF("k", "s").filter($"k" =!= -999)
      val chDf = (changes :+ ((-999, "x", false)))
        .toDF("k", "s", "del").filter($"k" =!= -999)
      val got = Warehouse.applyChanges(snapDf, chDf, Seq("k"), deleteCond = $"del")
        .as[(Int, String)].collect().toMap
      got == model
    }
    val result = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(15), prop)
    assert(result.passed, result.status.toString)
  }

  test("applyChangesPartitioned: job count is O(1) in touched partitions") {
    // the r9 serial loop scheduled a full merge job PER touched dir; the
    // single-job merge must run the same number of Spark jobs whether the
    // changelog touches 2 partitions or 8
    def jobsFor(nParts: Int): Int = {
      val dir = Files.createTempDirectory("cdcj").toString + "/wh"
      (0 until nParts).flatMap(p => Seq((p * 10, s"p$p", "a"), (p * 10 + 1, s"p$p", "b")))
        .toDF("k", "p", "s").write.partitionBy("p").parquet(dir)
      val changes = (0 until nParts).flatMap(p =>
          Seq((p * 10, s"p$p", "A", false), (p * 10 + 2, s"p$p", "c", false)))
        .toDF("k", "p", "s", "del")
      val counter = new java.util.concurrent.atomic.AtomicInteger(0)
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          counter.incrementAndGet()
      }
      spark.sparkContext.addSparkListener(listener)
      try {
        val counts = Warehouse.applyChangesPartitioned(changes, dir, "p",
          Seq("k"), Seq($"s"), $"del")
        assert(counts.size == nParts && counts.values.forall(_ == 3L), s"got $counts")
        org.apache.spark.TestListenerShim.waitForListeners(spark.sparkContext)
        counter.get()
      } finally spark.sparkContext.removeSparkListener(listener)
    }
    val (j2, j8) = (jobsFor(2), jobsFor(8))
    assert(j8 == j2, s"job count grew with touched partitions: 2→$j2 jobs, 8→$j8 jobs")
  }

  test("applyChangesPartitionedBy: multi-column layout, untouched leaves byte-stable") {
    val dir = Files.createTempDirectory("cdcm").toString + "/wh"
    Seq((1, "2024-01-01", "web", "a"), (2, "2024-01-01", "app", "b"),
        (3, "2024-01-02", "web", "c"), (4, "2024-01-02", "app", "d"))
      .toDF("k", "dt", "src", "s")
      .write.partitionBy("dt", "src").parquet(dir)
    def filesOf(rel: String): Map[String, Long] = {
      val d = new java.io.File(s"$dir/$rel")
      d.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> f.lastModified()).toMap
    }
    val untouched = Seq("dt=2024-01-01/src=app", "dt=2024-01-02/src=web",
      "dt=2024-01-02/src=app").map(r => r -> filesOf(r)).toMap
    // touch only (2024-01-01, web): update 1, insert 5; CREATE (2024-01-03, web)
    val changes = Seq(
      (1, "2024-01-01", "web", "A", false), (5, "2024-01-01", "web", "e", false),
      (6, "2024-01-03", "web", "f", false), (7, "2024-01-03", "web", "g", true))
      .toDF("k", "dt", "src", "s", "del")
    val counts = Warehouse.applyChangesPartitionedBy(changes, dir, Seq("dt", "src"),
      Seq("k"), Seq($"s"), $"del")
    assert(counts == Map(Seq("2024-01-01", "web") -> 2L, Seq("2024-01-03", "web") -> 1L),
      s"got $counts")
    val state = spark.read.parquet(dir).select("k", "dt", "src", "s")
      .as[(Int, String, String, String)].collect().toSet
    assert(state == Set(
      (1, "2024-01-01", "web", "A"), (5, "2024-01-01", "web", "e"),
      (2, "2024-01-01", "app", "b"), (3, "2024-01-02", "web", "c"),
      (4, "2024-01-02", "app", "d"), (6, "2024-01-03", "web", "f")), s"got $state")
    untouched.foreach { case (rel, before) =>
      assert(filesOf(rel) == before, s"untouched leaf $rel was rewritten")
    }
    // created leaf carries the table payload schema, not the CDC flag
    assert(spark.read.parquet(s"$dir/dt=2024-01-03/src=web").columns.toSet == Set("k", "s"))
    // a change row naming only a PREFIX of the partition columns is refused
    val partial = Seq((8, "2024-01-01", "x", false)).toDF("k", "dt", "s", "del")
    intercept[IllegalArgumentException] {
      Warehouse.applyChangesPartitionedBy(partial, dir, Seq("dt", "src"),
        Seq("k"), Seq($"s"), $"del")
    }
  }

  test("applyChangesPartitionedBy: a pre-created leaf with no data files is created from the inserts") {
    val dir = Files.createTempDirectory("cdcpre").toString + "/wh"
    Seq((1, "p1", "a")).toDF("k", "p", "s").write.partitionBy("p").parquet(dir)
    new java.io.File(s"$dir/p=p2").mkdirs()
    val changes = Seq((2, "p2", "b", false), (3, "p2", "c", true)).toDF("k", "p", "s", "del")
    val counts = Warehouse.applyChangesPartitionedBy(changes, dir, Seq("p"),
      Seq("k"), Seq($"s"), $"del")
    assert(counts == Map(Seq("p2") -> 1L), s"got $counts")
    // the created leaf takes the table payload, not the CDC flag
    assert(spark.read.parquet(s"$dir/p=p2").columns.toSet == Set("k", "s"))
    val state = spark.read.parquet(dir).select("k", "p", "s")
      .as[(Int, String, String)].collect().toSet
    assert(state == Set((1, "p1", "a"), (2, "p2", "b")), s"got $state")
  }

  test("applyChangesPartitioned: fully-deleted partition becomes empty but readable") {
    val dir = Files.createTempDirectory("cdcd").toString + "/wh"
    Seq((1, "p1", "a"), (2, "p1", "b"), (3, "p2", "c"))
      .toDF("k", "p", "s").write.partitionBy("p").parquet(dir)
    val changes = Seq((1, "p1", "a", true), (2, "p1", "b", true))
      .toDF("k", "p", "s", "del")
    val counts = Warehouse.applyChangesPartitioned(changes, dir, "p",
      Seq("k"), Seq($"s"), $"del")
    assert(counts == Map("p1" -> 0L), s"got $counts")
    // whole-table read still works and sees only p2's row
    val state = spark.read.parquet(dir).select("k", "p", "s")
      .as[(Int, String, String)].collect().toSet
    assert(state == Set((3, "p2", "c")), s"got $state")
  }

  test("applyChangesEvolve: new changelog column appends with NULLs; meta stays out") {
    val snap = Seq((1, "a"), (2, "b"), (3, "c")).toDF("k", "s")
    // changelog grew a `score` column the table lacks; `op` is transport
    // metadata that must never become payload
    val changes = Seq((2, "B", 2.5, "u"), (4, "d", 4.0, "i"), (3, "c", 0.0, "d"))
      .toDF("k", "s", "score", "op")
    val out = Warehouse.applyChangesEvolve(snap, changes, Seq("k"),
      deleteCond = $"op" === "d", metaCols = Seq("op"))
    assert(out.columns.toSeq == Seq("k", "s", "score"))
    val state = out.as[(Int, String, Option[Double])].collect().toSet
    // 1: pre-existing, NULL score; 2: updated with score; 3: deleted; 4: inserted
    assert(state == Set((1, "a", None), (2, "B", Some(2.5)), (4, "d", Some(4.0))),
      s"got $state")
    // the plain merge DROPS the unknown column (target schema is law);
    // evolve is the only path that widens
    val plain = Warehouse.applyChanges(snap, changes, Seq("k"), $"op" === "d")
    assert(plain.columns.toSeq == Seq("k", "s"))
  }

  test("applyChangesPartitioned: evolveSchema widens touched leaves, mergeSchema folds") {
    val dir = Files.createTempDirectory("cdcev").toString + "/wh"
    Seq((1, "p1", "a"), (2, "p2", "b")).toDF("k", "p", "s")
      .write.partitionBy("p").parquet(dir)
    // changelog adds `score`; touches only p1 (update) and creates p3
    val changes = Seq((1, "p1", "A", 1.5, false), (3, "p3", "c", 3.5, false))
      .toDF("k", "p", "s", "score", "del")
    // the flag column must be NAMED as metadata — evolution would
    // otherwise absorb it into the table schema
    val counts = Warehouse.applyChangesPartitioned(changes, dir, "p",
      Seq("k"), Seq($"s"), $"del", evolveSchema = true, metaCols = Seq("del"))
    assert(counts == Map("p1" -> 1L, "p3" -> 1L), s"got $counts")
    // touched + created leaves carry the evolved schema; untouched p2 keeps
    // its old footer — whole-table readers fold the fork with mergeSchema
    assert(spark.read.parquet(s"$dir/p=p1").columns.toSet == Set("k", "s", "score"))
    assert(spark.read.parquet(s"$dir/p=p2").columns.toSet == Set("k", "s"))
    val state = spark.read.option("mergeSchema", "true").parquet(dir)
      .select("k", "p", "s", "score")
      .as[(Int, String, String, Option[Double])].collect().toSet
    assert(state == Set((1, "p1", "A", Some(1.5)), (2, "p2", "b", None),
      (3, "p3", "c", Some(3.5))), s"got $state")
  }

  test("crash between swap renames: retired-only state recovers, no rows lost") {
    // simulate the swap's one non-atomic window — target renamed to
    // _<dir>.old, new data never landed — for both the partitioned and
    // the flat paths; a rerun must restore the retired copy, MERGE into
    // it (not re-create from the changelog), and lose nothing
    val dir = Files.createTempDirectory("cdccrash").toString + "/wh"
    Seq((1, "p1", "a"), (2, "p1", "b"), (3, "p2", "c"))
      .toDF("k", "p", "s").write.partitionBy("p").parquet(dir)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.rename(new org.apache.hadoop.fs.Path(s"$dir/p=p1"),
      new org.apache.hadoop.fs.Path(s"$dir/_p=p1.old"))
    assert(!new java.io.File(s"$dir/p=p1").exists(), "window precondition")
    val counts = Warehouse.applyChangesPartitioned(
      Seq((1, "p1", "A", false)).toDF("k", "p", "s", "del"),
      dir, "p", Seq("k"), Seq($"s"), $"del")
    assert(counts == Map("p1" -> 2L), s"got $counts")
    val state = spark.read.parquet(dir).select("k", "p", "s")
      .as[(Int, String, String)].collect().toSet
    // k=2 is the row the old code would have destroyed (create-branch
    // rerun + delete(retired))
    assert(state == Set((1, "p1", "A"), (2, "p1", "b"), (3, "p2", "c")), s"got $state")

    val flat = Files.createTempDirectory("flatcrash").toString + "/wh"
    Seq((1, "a"), (2, "b")).toDF("k", "s").write.parquet(flat)
    val ffs = new org.apache.hadoop.fs.Path(flat)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    ffs.rename(new org.apache.hadoop.fs.Path(flat),
      new org.apache.hadoop.fs.Path(flat + "/../_wh.old"))
    assert(Warehouse.applyChangesParquet(
      Seq((1, "A", false)).toDF("k", "s", "del"),
      flat, Seq("k"), Seq($"s"), $"del") == 2L)
    val fstate = spark.read.parquet(flat).as[(Int, String)].collect().toSet
    assert(fstate == Set((1, "A"), (2, "b")), s"got $fstate")
  }

  test("applyChanges is idempotent for upsert-only changelogs") {
    val snap = Seq((1, "a", 1.0), (2, "b", 2.0)).toDF("k", "s", "v")
    val changes = Seq((2, "B", 2.5, false), (3, "c", 3.0, false))
      .toDF("k", "s", "v", "del")
    def once(t: org.apache.spark.sql.DataFrame) =
      Warehouse.applyChanges(t, changes, Seq("k"), deleteCond = $"del")
    val one = once(snap)
    val twice = once(one)
    assert(one.as[(Int, String, Double)].collect().toSet
      == twice.as[(Int, String, Double)].collect().toSet)
  }
}
