package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions
import graft.ops.{GraftCatalog, VersionedTable => VT, Warehouse}
import graft.plans.{PlanHints, TopKPerGroupExec}
import graft.sql.GraftSql

/** The two install routes plan alike: the suite's [[GraftSession]]
  * session (the extension) and a bare session upgraded by
  * [[GraftFunctions.register]] run the same rules and strategies, so an
  * interval join, a pruned versioned read, a catalog read, a catalog
  * DELETE, a graft MERGE and a top-k dedup come out the same on both.
  */
class InstallRoutesSpec extends SparkSuite {

  private lazy val registered: SparkSession = {
    val s = SparkTestSession.bare()
    GraftFunctions.register(s)
    s
  }

  private def routes: Seq[(String, SparkSession)] =
    Seq("extension" -> spark, "register" -> registered)

  private def tmp(): String = Files.createTempDirectory("routes").toString

  /** 4 range-clustered files over k = 0..99 → tight per-file intervals. */
  private def mkTable(dir: String): Unit =
    VT.create(spark.range(100)
        .select(col("id").as("k"), (col("id") % 7).cast("string").as("s"))
        .repartitionByRange(4, col("k")).sortWithinPartitions(col("k")),
      dir, statsCols = Seq("k"))

  private def scanFiles(df: DataFrame): Seq[Int] =
    df.queryExecution.executedPlan.collect {
      case s: FileSourceScanExec => s.relation.location.inputFiles.length
    }

  private def rows(df: DataFrame): Set[(Long, String)] =
    df.collect().map(r => (r.getLong(0), r.getString(1))).toSet

  test("an overlap join plans an equi join on the bin id on both routes") {
    val pairs = routes.map { case (route, s) =>
      def side(p: String, n: Long, step: Long) = s.range(n).select(
        col("id").as(s"${p}_id"),
        (col("id") * step % 5000).as(s"${p}_start"),
        (col("id") * step % 5000 + col("id") % 400).as(s"${p}_end"))
      val df = side("a", 80, 61).join(side("b", 90, 53),
          PlanHints.overlap(col("a_start"), col("a_end"),
            col("b_start"), col("b_end"), 256L))
        .select("a_id", "b_id")
      val p = df.queryExecution.executedPlan.toString
      assert(!p.contains("BroadcastNestedLoop") && !p.contains("CartesianProduct"),
        s"$route route kept the nested loop:\n$p")
      assert(p.contains("SortMergeJoin") || p.contains("HashJoin"),
        s"$route route: expected an equi join on the bin id:\n$p")
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    assert(pairs.head.nonEmpty && pairs.distinct.size == 1)
  }

  test("a graft_vtable WHERE read prunes the same files on both routes") {
    val dir = s"${tmp()}/t"; mkTable(dir)
    val files = routes.map { case (route, s) =>
      val df = s.sql(s"SELECT k, s FROM graft_vtable('$dir') WHERE k >= 90")
      assert(rows(df) == (90L to 99L).map(k => (k, (k % 7).toString)).toSet, route)
      route -> scanFiles(df)
    }
    assert(files.head._2.nonEmpty && files.head._2.head < 4,
      s"expected a manifest-pruned scan (<4 files): $files")
    assert(files.map(_._2).distinct.size == 1, files)
  }

  /** The `graft` catalog on both sessions, over a catalog file in `root`. */
  private def withCatalog[T](root: String)(body: => T): T = {
    val keys = Seq("spark.sql.catalog.graft", "spark.graft.catalog.path")
    val old = keys.map(k => k -> spark.conf.getOption(k))
    try {
      routes.foreach { case (_, s) =>
        s.conf.set(keys(0), classOf[graft.catalog.GraftTableCatalog].getName)
        s.conf.set(keys(1), s"$root/_catalog.json")
      }
      body
    } finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("a graft.t catalog read takes the native file scan on both routes") {
    val root = tmp(); val dir = s"$root/t"; mkTable(dir)
    withCatalog(root) {
      GraftCatalog.register(spark, "routes_t", dir)
      routes.foreach { case (route, s) =>
        val df = s.sql("SELECT k, s FROM graft.routes_t WHERE k >= 90")
        assert(scanFiles(df).nonEmpty,
          s"$route route lost the native scan:\n${df.queryExecution.executedPlan}")
        assert(rows(df) == (90L to 99L).map(k => (k, (k % 7).toString)).toSet, route)
      }
    }
  }

  test("a graft.t DELETE … BETWEEN commits the same rows and files on both routes") {
    val root = tmp()
    withCatalog(root) {
      val commits = routes.map { case (route, s) =>
        val dir = s"$root/$route"; mkTable(dir)
        GraftCatalog.register(spark, s"routes_del_$route", dir)
        s.sql(s"DELETE FROM graft.routes_del_$route WHERE k BETWEEN 10 AND 20").collect()
        val base = VT.readManifest(s, dir, 1L).files.map(_.path).toSet
        val files = VT.readManifest(s, dir, 2L).files
        (rows(VT.read(s, dir).select("k", "s")),
          files.count(f => base(f.path)),
          files.map(f => (f.rows, f.stats("k").min, f.stats("k").max)).sorted)
      }
      assert(commits.head._1 ==
        ((0L to 9L) ++ (21L to 99L)).map(k => (k, (k % 7).toString)).toSet)
      assert(commits.head._2 == 3, "the three files without k in 10..20 carry by reference")
      assert(commits.distinct.size == 1, commits)
    }
  }

  test("a graft_vtable MERGE commits the same version and rows on both routes") {
    val outs = routes.map { case (route, s) =>
      val dir = s"${tmp()}/t"; mkTable(dir)
      s.createDataFrame(Seq((5L, "upd"), (200L, "ins"))).toDF("k", "s")
        .createOrReplaceTempView("routes_chg")
      val stmt = s"MERGE INTO graft_vtable('$dir') AS t USING routes_chg AS s " +
        "ON t.k = s.k WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"
      // the extension parses graft DML itself; the register route cannot
      // install a parser and goes through GraftSql
      val out = if (route == "extension") s.sql(stmt) else GraftSql.sql(s, stmt)
      (out.head().getLong(0), rows(VT.read(s, dir).select("k", "s")))
    }
    assert(outs.head._1 == 2L, outs.map(_._1))
    assert(outs.head._2.size == 101 && outs.head._2((5L, "upd")) &&
      outs.head._2((200L, "ins")))
    assert(outs.distinct.size == 1)
  }

  test("an expression-tiebreak dedupByKey plans the top-k operator on both routes") {
    val outs = routes.map { case (route, s) =>
      val df = s.range(100).select((col("id") % 7).as("k"), col("id").as("v"))
      // an expression sort item is not eligible for the aggregate plan
      val out = Warehouse.dedupByKey(df, Seq("k"), Seq((col("v") % 5).asc, col("v").desc))
      val plan = out.queryExecution.sparkPlan
      assert(plan.collect { case t: TopKPerGroupExec => t }.nonEmpty,
        s"$route route: expected the top-k operator:\n$plan")
      out.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    assert(outs.head.size == 7 && outs.distinct.size == 1, outs)
  }
}
