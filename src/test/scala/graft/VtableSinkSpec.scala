package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.ops.{VersionedTable => VT}

/** Streaming SINK into a versioned table (`format("graft-vtable")`):
  * micro-batches land as versioned commits, exactly-once through the
  * table's own transaction ledger, with the target's identity pinned
  * under the checkpoint.
  */
class VtableSinkSpec extends SparkSuite {
  import spark.implicits._

  private def tmp(): String = Files.createTempDirectory("vsink").toString

  private def drain(srcDir: String, ckpt: String, ddl: String,
                    opts: Map[String, String]): Unit = {
    var w = spark.readStream.schema(ddl).parquet(srcDir)
      .writeStream.format("graft-vtable")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
    opts.foreach { case (k, v) => w = w.option(k, v) }
    w.start().awaitTermination()
  }

  test("merge mode: CDC micro-batches commit exactly-once; replay no-ops") {
    val base = tmp()
    val (src, ckpt, tbl) = (s"$base/src", s"$base/ckpt", s"$base/t")
    VT.create((0L until 20L).map(k => (k, s"v1-$k")).toDF("k", "s"),
      tbl, statsCols = Seq("k"))
    // batch 0: update 0..4, tombstone 5..9
    ((0L until 5L).map(k => (k, s"v2-$k", false)) ++
      (5L until 10L).map(k => (k, s"v1-$k", true)))
      .toDF("k", "s", "del").write.mode("append").parquet(src)
    drain(src, ckpt, "k bigint, s string, del boolean",
      Map("dir" -> tbl, "mode" -> "merge", "keys" -> "k",
        "deleteCond" -> "del", "appId" -> "sink-spec"))
    assert(VT.currentVersion(spark, tbl).contains(2L))
    assert(VT.read(spark, tbl).count() == 15)
    // batch 1 on the same checkpoint: inserts
    (20L until 25L).map(k => (k, s"v2-$k", false)).toDF("k", "s", "del")
      .write.mode("append").parquet(src)
    drain(src, ckpt, "k bigint, s string, del boolean",
      Map("dir" -> tbl, "mode" -> "merge", "keys" -> "k",
        "deleteCond" -> "del", "appId" -> "sink-spec"))
    assert(VT.read(spark, tbl).count() == 20)
    val got = VT.read(spark, tbl).select("k", "s").as[(Long, String)].collect().toSet
    assert(got == ((0L until 5L).map(k => (k, s"v2-$k")) ++
      (10L until 20L).map(k => (k, s"v1-$k")) ++
      (20L until 25L).map(k => (k, s"v2-$k"))).toSet)
    // crash-window replay: the engine re-delivers the LAST batch id with
    // the same content — the ledger must swallow it
    val ghost = Seq((0L, "GHOST", false)).toDF("k", "s", "del")
    assert(VT.commitMerge(ghost, tbl, Seq("k"), Seq.empty, $"del",
      txn = Some("sink-spec" -> 1L)) == VT.currentVersion(spark, tbl).get)
    assert(!VT.read(spark, tbl).select("s").as[String].collect().contains("GHOST"))
  }

  test("append mode resolves columns by name; patch mode lands O(batch) patches") {
    val base = tmp()
    val (src, ckpt, tbl) = (s"$base/src", s"$base/ckpt", s"$base/t")
    VT.create(Seq((1L, 10L)).toDF("k", "v"), tbl, statsCols = Seq("k"))
    // columns deliberately reordered vs the table
    Seq((20L, 2L), (30L, 3L)).toDF("v", "k")
      .write.mode("append").parquet(src)
    drain(src, ckpt, "v bigint, k bigint", Map("dir" -> tbl))
    assert(VT.read(spark, tbl).as[(Long, Long)].collect().toSet ==
      Set((1L, 10L), (2L, 20L), (3L, 30L)))
    // patch mode: merge-on-read commits, base files carried untouched
    val tbl2 = s"$base/t2"; val src2 = s"$base/src2"; val ckpt2 = s"$base/ckpt2"
    VT.create(Seq((1L, "a"), (2L, "b")).toDF("k", "s"), tbl2, statsCols = Seq("k"))
    val baseFiles = VT.readManifest(spark, tbl2, 1L).files.map(_.path).toSet
    Seq((1L, "A", false), (2L, "b", true)).toDF("k", "s", "del")
      .write.mode("append").parquet(src2)
    drain(src2, ckpt2, "k bigint, s string, del boolean",
      Map("dir" -> tbl2, "mode" -> "patch", "keys" -> "k", "deleteCond" -> "del"))
    val m = VT.readManifest(spark, tbl2, VT.currentVersion(spark, tbl2).get)
    assert(m.op == "patch" && m.dvs.nonEmpty, "patch mode must land a merge-on-read batch")
    assert(baseFiles.subsetOf(m.files.map(_.path).toSet), "base files must carry untouched")
    assert(VT.read(spark, tbl2).as[(Long, String)].collect().toSet == Set((1L, "A")))
  }

  test("a recreated target fails the stream loudly: the ledger died with the table") {
    val base = tmp()
    val (src, ckpt, tbl) = (s"$base/src", s"$base/ckpt", s"$base/t")
    VT.create(Seq((1L, "a")).toDF("k", "s"), tbl, statsCols = Seq("k"))
    Seq((2L, "b", false)).toDF("k", "s", "del").write.mode("append").parquet(src)
    drain(src, ckpt, "k bigint, s string, del boolean",
      Map("dir" -> tbl, "mode" -> "merge", "keys" -> "k", "deleteCond" -> "del"))
    assert(VT.read(spark, tbl).count() == 2)
    // drop + recreate: fresh ledger, fresh id — replayed/continuing batch
    // ids would all apply "fresh" against the impostor
    val fs = new org.apache.hadoop.fs.Path(tbl)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(tbl), true)
    VT.create(Seq((9L, "z")).toDF("k", "s"), tbl, statsCols = Seq("k"))
    Seq((3L, "c", false)).toDF("k", "s", "del").write.mode("append").parquet(src)
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      drain(src, ckpt, "k bigint, s string, del boolean",
        Map("dir" -> tbl, "mode" -> "merge", "keys" -> "k", "deleteCond" -> "del"))
    }
    def chain(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => e.getMessage +: chain(e.getCause))
    assert(chain(ex).exists(m => m != null && m.contains("recreated")),
      s"undiagnostic failure: ${chain(ex)}")
    assert(VT.read(spark, tbl).as[(Long, String)].collect().toSet == Set((9L, "z")),
      "nothing may land on the impostor table")
  }

  test("two queries with different checkpoints get independent ledgers by default") {
    // the old fixed default appId let query B's batch 0 collide with
    // query A's cursor and silently vanish
    val base = tmp()
    val tbl = s"$base/t"
    VT.create(Seq((0L, "seed")).toDF("k", "s"), tbl, statsCols = Seq("k"))
    Seq((1L, "a", false)).toDF("k", "s", "del").write.parquet(s"$base/srcA")
    drain(s"$base/srcA", s"$base/ckptA", "k bigint, s string, del boolean",
      Map("dir" -> tbl, "mode" -> "merge", "keys" -> "k", "deleteCond" -> "del"))
    Seq((2L, "b", false)).toDF("k", "s", "del").write.parquet(s"$base/srcB")
    drain(s"$base/srcB", s"$base/ckptB", "k bigint, s string, del boolean",
      Map("dir" -> tbl, "mode" -> "merge", "keys" -> "k", "deleteCond" -> "del"))
    assert(VT.read(spark, tbl).select("k").as[Long].collect().toSet ==
      Set(0L, 1L, 2L),
      "the second query's batches must not be swallowed by the first's ledger")
    // and the same checkpoint re-drained still replays exactly-once
    drain(s"$base/srcB", s"$base/ckptB", "k bigint, s string, del boolean",
      Map("dir" -> tbl, "mode" -> "merge", "keys" -> "k", "deleteCond" -> "del"))
    assert(VT.read(spark, tbl).count() == 3L)
  }

  test("unsupported shapes refuse at start: partitionBy, bad mode, missing keys") {
    val base = tmp()
    val tbl = s"$base/t"
    VT.create(Seq((1L, "a")).toDF("k", "s"), tbl, statsCols = Seq("k"))
    Seq((2L, "b")).toDF("k", "s").write.parquet(s"$base/src")
    def start(f: org.apache.spark.sql.streaming.DataStreamWriter[
        org.apache.spark.sql.Row] => org.apache.spark.sql.streaming.DataStreamWriter[
        org.apache.spark.sql.Row]): Unit =
      f(spark.readStream.schema("k bigint, s string").parquet(s"$base/src")
        .writeStream.format("graft-vtable")
        .option("checkpointLocation",
          s"$base/ckpt-${java.util.UUID.randomUUID().toString.take(8)}")
        .trigger(Trigger.AvailableNow()))
        .start().awaitTermination()
    intercept[Exception](start(_.partitionBy("k").option("dir", tbl)))
    intercept[Exception](start(_.option("dir", tbl).option("mode", "upsert")))
    intercept[Exception](start(_.option("dir", tbl).option("mode", "merge")))
    intercept[Exception](start(_.option("mode", "append"))) // no dir
    // and the table still holds exactly its create state
    assert(VT.read(spark, tbl).count() == 1)
  }

  test("session-conf checkpoint without explicit appId refuses at start") {
    // spark.sql.streaming.checkpointLocation checkpoints under a per-query
    // subdirectory the sink cannot observe: a derived-random appId would
    // mint a fresh ledger key per restart and append mode would duplicate
    // the replayed batch — so that shape must refuse loudly at query
    // start, and an explicit appId must unblock it.
    val base = tmp()
    val tbl = s"$base/t"
    VT.create(Seq((1L, "a")).toDF("k", "s"), tbl, statsCols = Seq("k"))
    Seq((2L, "b")).toDF("k", "s").write.parquet(s"$base/src")
    spark.conf.set("spark.sql.streaming.checkpointLocation", s"$base/sess-ckpt")
    try {
      def start(extra: Map[String, String]): Unit = {
        var w = spark.readStream.schema("k bigint, s string")
          .parquet(s"$base/src")
          .writeStream.format("graft-vtable").option("dir", tbl)
          .queryName("sessckpt-" + extra.size)
          .trigger(Trigger.AvailableNow())
        extra.foreach { case (k, v) => w = w.option(k, v) }
        w.start().awaitTermination()
      }
      val ex = intercept[Exception](start(Map.empty))
      def chain(t: Throwable): Seq[String] =
        Option(t).toSeq.flatMap(e =>
          Option(e.getMessage).toSeq ++ chain(e.getCause))
      assert(chain(ex).exists(_.contains("appId")),
        s"undiagnostic refusal: ${chain(ex)}")
      assert(VT.read(spark, tbl).count() == 1, "nothing may have landed")
      start(Map("appId" -> "sessckpt-explicit"))
      assert(VT.read(spark, tbl).select("k").as[Long].collect().toSet ==
        Set(1L, 2L), "explicit appId must unblock the session-conf shape")
    } finally spark.conf.unset("spark.sql.streaming.checkpointLocation")
  }
}
