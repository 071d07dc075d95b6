package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.functions._

import graft.ops.{FooterStats, VersionedTable => VT}

/** Random sequences of the deletion-vector operations
  * ([[VT.commitDeleteDv]], [[VT.commitUpdateDv]], [[VT.materializeDvs]],
  * [[VT.restore]], [[VT.commitAppend]], and in the merge cases
  * [[VT.commitPatch]]) against a sequential model. The table mixes the
  * file kinds a DV key must tell apart: one file shared from a
  * shallow-clone source (keyed by its absolute path) and two table-owned
  * files in different commit dirs with the SAME part-file name. At every
  * version, `read(asOf)`, `changesBetween` (with and without pre-images)
  * and `signedRowsBetween` must equal what the model derives from its
  * snapshots.
  */
class DvPropertySpec extends SparkSuite {
  import spark.implicits._

  private type State = Map[Long, String]

  /** The test table: version 1 is a shallow clone of a one-file source
    * (k 0..19), version 2 registers `data/ea/part-00000.parquet` (k 20..39)
    * and `data/eb/part-00000.parquet` (k 40..59).
    */
  private def build(root: String): (String, State) = {
    val src = s"$root/src"
    val dir = s"$root/t"
    def rows(lo: Long, hi: Long) = spark.range(lo, hi, 1, 1)
      .select($"id".as("k"), concat(lit("r"), $"id".cast("string")).as("s"))
    VT.create(rows(0, 20), src, statsCols = Seq("k"),
      props = Map(VT.DvsEnabledProp -> "true"))
    VT.shallowClone(spark, src, dir)
    val conf = spark.sparkContext.hadoopConfiguration
    val entries = Seq("ea" -> (20L, 40L), "eb" -> (40L, 60L)).map {
      case (sub, (lo, hi)) =>
        val staged = s"$root/stage-$sub"
        rows(lo, hi).coalesce(1).write.parquet(staged)
        val part = Files.list(Paths.get(staged)).toArray.map(_.asInstanceOf[java.nio.file.Path])
          .find(_.getFileName.toString.endsWith(".parquet")).get
        val target = Paths.get(dir, "data", sub, "part-00000.parquet")
        Files.createDirectories(target.getParent)
        Files.copy(part, target, StandardCopyOption.REPLACE_EXISTING)
        VT.FileEntry(s"data/$sub/part-00000.parquet",
          FooterStats.rowCount(new org.apache.hadoop.fs.Path(target.toString), conf),
          Map.empty)
    }
    VT.commitAddFiles(spark, dir, entries)
    (dir, (0L until 60L).map(k => k -> s"r$k").toMap)
  }

  private def snapshot(dir: String, v: Long): State =
    VT.read(spark, dir, Some(v)).as[(Long, String)].collect()
      .groupBy(_._1).map { case (k, rs) =>
        assert(rs.length == 1, s"v$v holds key $k ${rs.length} times")
        k -> rs.head._2
      }

  private def feed(a: State, b: State): Set[(String, Long, String)] =
    (a.keySet ++ b.keySet).flatMap { k =>
      (a.get(k), b.get(k)) match {
        case (None, Some(y)) => Some(("insert", k, y))
        case (Some(x), None) => Some(("delete", k, x))
        case (Some(x), Some(y)) if x != y => Some(("update", k, y))
        case _ => None
      }
    }

  private def feedWithPreimages(a: State, b: State): Set[(String, Long, String)] =
    feed(a, b).flatMap {
      case ("update", k, y) => Set(("update_preimage", k, a(k)), ("update_postimage", k, y))
      case other => Set(other)
    }

  private def signed(a: State, b: State): Map[(Long, String), Long] =
    (b.toSet -- a.toSet).map(_ -> 1L).toMap ++ (a.toSet -- b.toSet).map(_ -> -1L).toMap

  /** One random run: `ops` operations from `seed`, then every check.
    * With `patches`, two in seven operations are [[VT.commitPatch]]
    * batches of 1 to 4 rows: upserts and tombstones of live keys, of keys
    * an earlier patch wrote and of absent keys, with keys repeated within
    * the batch (the last row of a key wins).
    */
  private def run(seed: Long, ops: Int, patches: Boolean = false): Unit = {
    val rnd = new scala.util.Random(seed)
    val (dir, s2) = build(Files.createTempDirectory(s"dvprop$seed").toString)
    // version -> (model state, DVs pending)
    val model = scala.collection.mutable.Map[Long, (State, Boolean)](
      1L -> ((0L until 20L).map(k => k -> s"r$k").toMap, false), 2L -> ((s2, false)))
    var cur = 2L
    var nextKey = 1000L
    var nextPatchKey = 2000L
    val log = scala.collection.mutable.ArrayBuffer.empty[String]
    (1 to ops).foreach { _ =>
      val (state, pending) = model(cur)
      val keys = state.keys.toSeq.sorted
      val lo = if (keys.isEmpty) 0L else keys(rnd.nextInt(keys.size))
      val hi = lo + rnd.nextInt(6)
      val range = $"k" >= lo && $"k" <= hi
      val hit = state.filter { case (k, _) => k >= lo && k <= hi }
      val (label, v, expected) = rnd.nextInt(if (patches) 7 else 5) match {
        case 0 =>
          (s"deleteDv[$lo,$hi]", VT.commitDeleteDv(spark, dir, range),
            if (hit.isEmpty) None else Some((state -- hit.keys, true)))
        case 1 =>
          (s"updateDv[$lo,$hi]", VT.commitUpdateDv(spark, dir, range,
              Seq("s" -> concat($"s", lit("u")))),
            if (hit.isEmpty) None
            else Some((state ++ hit.map { case (k, s) => k -> (s + "u") }, true)))
        case 2 =>
          ("materialize", VT.materializeDvs(spark, dir),
            if (pending) Some((state, false)) else None)
        case 3 =>
          val to = 1L + rnd.nextInt(cur.toInt)
          (s"restore($to)", VT.restore(spark, dir, to),
            if (to == cur) None else Some(model(to)))
        case 5 | 6 =>
          val patched = keys.filter(_ >= 2000L)
          val batch = (0 until 1 + rnd.nextInt(4)).foldLeft(Seq.empty[(Long, String, Boolean, Int)]) {
            (acc, i) =>
              val k = rnd.nextInt(4) match {
                case 0 if patched.nonEmpty => patched(rnd.nextInt(patched.size))
                case 1 => nextPatchKey += 1; nextPatchKey
                case 2 if acc.nonEmpty => acc(rnd.nextInt(acc.size))._1
                case _ => if (keys.isEmpty) { nextPatchKey += 1; nextPatchKey }
                          else keys(rnd.nextInt(keys.size))
              }
              acc :+ ((k, s"p${log.size}.$i", rnd.nextInt(3) == 0, i))
          }
          // one row per key, the batch's last (highest seq) winning
          val last = batch.groupBy(_._1).map { case (k, rs) => k -> rs.maxBy(_._4) }
          val hits = last.keySet.exists(state.contains)
          val next = last.foldLeft(state) { case (m, (k, (_, s, del, _))) =>
            if (del) m - k else m.updated(k, s)
          }
          (s"patch(${batch.map { case (k, s, d, _) => s"$k${if (d) "-" else "=" + s}" }.mkString(",")})",
            VT.commitPatch(batch.toDF("k", "s", "del", "seq"), dir, Seq("k"),
              Seq($"seq".desc), $"del"),
            if (!hits && last.values.forall(_._3)) None else Some((next, pending || hits)))
        case _ =>
          val n = 1 + rnd.nextInt(3)
          val ks = (nextKey until nextKey + n).toSeq
          nextKey += n
          (s"append(${ks.mkString(",")})",
            VT.commitAppend(ks.map(k => (k, s"a$k")).toDF("k", "s"), dir),
            Some((state ++ ks.map(k => k -> s"a$k"), pending)))
      }
      log += s"$label -> v$v"
      expected match {
        case None => assert(v == cur, s"seed $seed: $label published v$v; ${log.mkString("; ")}")
        case Some(next) =>
          assert(v == cur + 1, s"seed $seed: $label returned v$v; ${log.mkString("; ")}")
          model(v) = next
          cur = v
      }
    }
    val trail = s"seed $seed: ${log.mkString("; ")}"
    (1L to cur).foreach { v =>
      assert(snapshot(dir, v) == model(v)._1, s"read(v$v) differs from the model; $trail")
    }
    // consecutive windows plus a few random wider ones
    val windows = (2L to cur).map(v => (v - 1, v)) ++ Seq.fill(4) {
      val a = 1L + rnd.nextInt((cur - 1).toInt)
      (a, a + 1 + rnd.nextInt((cur - a).toInt))
    }
    windows.distinct.foreach { case (a, b) =>
      val (sa, sb) = (model(a)._1, model(b)._1)
      val got = VT.changesBetween(spark, dir, a, b, Seq("k"))
        .select("change_type", "k", "s").as[(String, Long, String)].collect()
      assert(got.length == got.toSet.size && got.toSet == feed(sa, sb),
        s"changesBetween($a, $b): got ${got.toSeq.sorted}, want ${feed(sa, sb).toSeq.sorted}; $trail")
      val pre = VT.changesBetween(spark, dir, a, b, Seq("k"), preimages = true)
        .select("change_type", "k", "s").as[(String, Long, String)].collect()
      assert(pre.length == pre.toSet.size && pre.toSet == feedWithPreimages(sa, sb),
        s"changesBetween($a, $b, preimages): got ${pre.toSeq.sorted}, " +
          s"want ${feedWithPreimages(sa, sb).toSeq.sorted}; $trail")
      val net = VT.signedRowsBetween(spark, dir, a, b)
        .groupBy("k", "s").agg(sum("__sign").as("n")).filter($"n" =!= 0L)
        .as[(Long, String, Long)].collect().map { case (k, s, n) => (k, s) -> n }.toMap
      assert(net == signed(sa, sb),
        s"signedRowsBetween($a, $b): got $net, want ${signed(sa, sb)}; $trail")
    }
  }

  test("random DV sequences over clone-shared and same-named files match the model") {
    Seq(4101L, 4102L).foreach(run(_, 12))
  }

  test("random DV sequences match the model under delta manifests") {
    underDeltaManifests(Seq(4103L, 4104L).foreach(run(_, 12)))
  }

  test("random DV-merge sequences with patch commits match the model") {
    Seq(4201L, 4202L).foreach(run(_, 14, patches = true))
  }

  test("random DV-merge sequences with patch commits match the model under delta manifests") {
    underDeltaManifests(Seq(4203L, 4204L).foreach(run(_, 14, patches = true)))
  }

  private def underDeltaManifests(f: => Unit): Unit = {
    spark.conf.set("spark.graft.vtable.inlineMaxFiles", "2")
    spark.conf.set("spark.graft.vtable.checkpointInterval", "2")
    try f
    finally {
      spark.conf.unset("spark.graft.vtable.inlineMaxFiles")
      spark.conf.unset("spark.graft.vtable.checkpointInterval")
    }
  }
}
