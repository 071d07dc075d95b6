package graft

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.ops.{VersionedTable => VT}

/** One predicate corpus through every route that prunes a versioned
  * table's files: the DataFrame route ([[VT.readWhere]]), the SQL route
  * (a `WHERE` over `graft_vtable`, pruned by
  * [[graft.plans.VtableSkipping]]) and copy-on-write DML
  * ([[VT.commitDelete]]'s removed files). Each route must return exactly
  * the plain filter's rows, and open only files a predicate cannot
  * refute.
  *
  * Survivors are pinned as bounds: `want` is what the manifest stats can
  * refute, and `was` is what a route kept before the routes shared one
  * miner. A route may keep no file outside `was` (no pruning is lost) and
  * must keep every file in `want` (no file holding a match is skipped).
  * Where the two agree the survivors are pinned exactly; the cases that
  * name a `was` are the ones the shared miner newly prunes.
  */
class PruningRoutesSpec extends SparkSuite {
  import spark.implicits._

  private val all = (0 to 7).toSet

  /** 8 files, file `j` holding k in [100j, 100j + 99]: `i` = j,
    * `d` = 2019-11-01 plus k / 10 days, `s` = k % 10 as a string.
    */
  private def rows: DataFrame = spark.range(0, 800, 1, 8).select(
    $"id".as("k"),
    ($"id" / 100).cast("int").as("i"),
    date_add(lit("2019-11-01").cast("date"), ($"id" / 10).cast("int")).as("d"),
    ($"id" % 10).cast("string").as("s"))

  private def mkTable(): String = {
    val dir = Files.createTempDirectory("pruneroutes").toString + "/t"
    VT.create(rows, dir, statsCols = Seq("k", "i", "d", "s"), bloomCols = Seq("k"))
    dir
  }

  /** A predicate in both spellings, with the files each route may keep:
    * exactly `want`, or on the DataFrame and DML routes (where `dfWas` is
    * given) any set between `want` and `dfWas`.
    */
  private case class Case(name: String, cond: Column, sql: String, want: Set[Int],
                          dfWas: Option[Set[Int]] = None)

  private val twelve = Seq(5L, 15L, 25L, 35L, 45L, 55L, 65L, 75L, 85L, 95L, 750L, 760L)

  private val corpus = Seq(
    // ranges on k
    Case("k >= 100", $"k" >= 100L, "k >= 100", all - 0),
    Case("k < 220", $"k" < 220L, "k < 220", Set(0, 1, 2)),
    Case("500 > k", lit(500) > $"k", "500 > k", Set(0, 1, 2, 3, 4, 5)),
    Case("k = 5", $"k" === 5, "k = 5", Set(0)),
    Case("k between 10 and 20", $"k".between(10, 20), "k BETWEEN 10 AND 20", Set(0)),
    // IN-lists: two values stay `In`; twelve become `InSet` in SQL
    Case("k in 2 values", $"k".isin(5L, 700L), "k IN (5, 700)", Set(0, 7)),
    Case("k in 12 values", $"k".isin(twelve: _*),
      s"k IN (${twelve.mkString(", ")})", Set(0, 7)),
    // casts and folding
    Case("int i >= 5L", $"i" >= 5L, "i >= 5L", Set(5, 6, 7)),
    Case("date d >= string", $"d" >= "2020-01-01", "d >= '2020-01-01'", Set(6, 7)),
    Case("k >= cast literal", $"k" >= lit(650).cast("bigint"),
      "k >= CAST(650 AS BIGINT)", Set(6, 7), dfWas = Some(all)),
    Case("k >= folded sum", $"k" >= lit(640) + 5, "k >= 640 + 5", Set(6, 7),
      dfWas = Some(all)),
    // a mixed conjunction: the length() conjunct mines nothing
    Case("mixed conjunction", $"k" >= 100L && $"k" < 220L && length($"s") === 1,
      "k >= 100 AND k < 220 AND length(s) = 1", Set(1, 2)),
    // shapes that must not prune
    Case("or", $"k" < 10L || $"k" > 790L, "k < 10 OR k > 790", all),
    Case("null-safe equality", $"k" <=> 5, "k <=> 5", all),
    Case("arithmetic on the column", $"k" + 1 > 5, "k + 1 > 5", all))

  /** File ordinal `j` by base name, from the manifest's k minimum. */
  private def ordinals(dir: String): Map[String, Int] = {
    val m = VT.readManifest(spark, dir, VT.currentVersion(spark, dir).get)
    m.files.map(f => new Path(f.path).getName -> (f.stats("k").min.get.toInt / 100)).toMap
  }

  private def survivors(df: DataFrame, ord: Map[String, Int]): Set[Int] =
    df.inputFiles.map(p => ord(new Path(p).getName)).toSet

  private def checkBounds(route: String, c: Case, got: Set[Int], was: Option[Set[Int]]): Unit =
    was match {
      case None => assert(got == c.want, s"$route, ${c.name}: kept $got, want ${c.want}")
      case Some(w) =>
        info(s"$route, ${c.name}: kept ${got.toSeq.sorted.mkString(",")}")
        assert(c.want.subsetOf(got) && got.subsetOf(w),
          s"$route, ${c.name}: kept $got, want ${c.want} ⊆ kept ⊆ $w")
    }

  private def same(a: DataFrame, b: DataFrame): Boolean =
    a.collect().toSeq.map(_.toString).sorted == b.collect().toSeq.map(_.toString).sorted

  test("DataFrame and SQL routes keep the pinned files and return the plain filter's rows") {
    val dir = mkTable()
    val ord = ordinals(dir)
    assert(ord.values.toSet == all, s"one file per k hundred, got $ord")
    corpus.foreach { c =>
      val plain = rows.filter(c.cond)
      val viaDf = VT.readWhere(spark, dir, c.cond)
      checkBounds("DataFrame", c, survivors(viaDf, ord), c.dfWas)
      assert(same(viaDf, plain), s"DataFrame, ${c.name}: rows differ from the plain filter")
      val viaSql = spark.sql(s"SELECT k, i, d, s FROM graft_vtable('$dir') WHERE ${c.sql}")
      checkBounds("SQL", c, survivors(viaSql, ord), None)
      assert(same(viaSql, plain), s"SQL, ${c.name}: rows differ from the plain filter")
    }
  }

  test("commitDelete rewrites only the files the DataFrame route keeps") {
    val picked = Set("k between 10 and 20", "k in 12 values", "date d >= string",
      "k >= folded sum", "mixed conjunction", "null-safe equality")
    corpus.filter(c => picked(c.name)).foreach { c =>
      val dir = mkTable()
      val ord = ordinals(dir)
      val before = VT.readManifest(spark, dir, VT.currentVersion(spark, dir).get)
      VT.commitDelete(spark, dir, c.cond)
      val after = VT.readManifest(spark, dir, VT.currentVersion(spark, dir).get)
      val removed = (before.files.map(_.path).toSet -- after.files.map(_.path))
        .map(p => ord(new Path(p).getName))
      checkBounds("commitDelete", c, removed, c.dfWas)
      assert(same(VT.read(spark, dir), rows.filter(!coalesce(c.cond, lit(false)))),
        s"commitDelete, ${c.name}: the table differs from the plain anti-filter")
    }
  }
}
