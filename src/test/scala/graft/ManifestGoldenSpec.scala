package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.{FooterStats, VersionedTable => VT}

/** Golden manifests: a fixed sequence of every [[VT]] commit operation,
  * whose `_vlog` (every manifest's JSON, every checkpoint's rows, the
  * listing itself) must match a stored snapshot byte for byte once the
  * values that differ per run are masked — commit times (`ts`, `adjTs`),
  * UUIDs (`graft.tableId`, Spark part-file names), commit-dir nonces and
  * the temp root. Run twice: with default settings (self-contained `full`
  * manifests) and with `inlineMaxFiles=2`/`checkpointInterval=2`
  * (`delta` manifests, parquet checkpoints, the restore pointer).
  *
  * Every run writes its rendering to `target/manifest-golden/<mode>.txt`;
  * a deliberate manifest format change updates the snapshot under
  * `src/test/resources/golden/` from there.
  */
class ManifestGoldenSpec extends SparkSuite {
  import spark.implicits._

  /** `n` rows k = from until `until` over `slices` input partitions —
    * a range, so the file layout does not follow the host's core count.
    */
  private def rows(from: Long, until: Long, slices: Int, tag: String): DataFrame =
    spark.range(from, until, 1, slices).select($"id".as("k"),
      concat(lit(tag), $"id".cast("string")).as("v"),
      ($"id" % 5).cast("int").as("n"))

  private def sequence(root: String): Seq[String] = {
    val dir = s"$root/t"
    val clone = s"$root/clone"
    VT.create(rows(0, 30, 3, "a"), dir, Seq("k", "n"), bloomCols = Seq("k"),
      props = Map("owner" -> "golden"))
    VT.commitAppend(rows(30, 40, 1, "b"), dir)
    // files registered by reference: written outside any commit dir
    val ext = s"$dir/data/ext"
    rows(40, 45, 1, "c").write.parquet(ext)
    val fs = new org.apache.hadoop.fs.Path(ext)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val entries = fs.listStatus(new org.apache.hadoop.fs.Path(ext)).toSeq
      .filter(_.getPath.getName.endsWith(".parquet")).map { st =>
        VT.FileEntry(s"data/ext/${st.getPath.getName}",
          FooterStats.rowCount(st.getPath, spark.sparkContext.hadoopConfiguration),
          Map.empty)
      }
    VT.commitAddFiles(spark, dir, entries)
    VT.commitOverwrite(rows(0, 40, 4, "o"), dir)
    VT.commitReplaceWhere(rows(0, 10, 1, "r"), dir, $"k" < 10L)
    VT.commitUpdate(spark, dir, $"k" === 20L, Seq("v" -> lit("upd")))
    VT.commitDelete(spark, dir, $"k" === 21L)
    val changes = Seq((12L, "m12", 2, false, 1), (13L, "x", 3, true, 1),
      (100L, "m100", 0, false, 1)).toDF("k", "v", "n", "del", "seq")
    VT.commitMerge(changes.coalesce(1), dir, Seq("k"), Seq($"seq"), $"del")
    val evolving = Seq((14L, "e14", 4, 7L, false, 1), (101L, "e101", 1, 8L, false, 1))
      .toDF("k", "v", "n", "w", "del", "seq")
    VT.commitMergeEvolve(evolving.coalesce(1), dir, Seq("k"), Seq($"seq"),
      $"del", metaCols = Seq("del", "seq"))
    // a 0-row patch publishes no version
    VT.commitPatch(rows(0, 0, 1, "z").withColumn("w", lit(0L)), dir, Seq("k"),
      Seq.empty, lit(false))
    VT.addCheckConstraint(spark, dir, "kpos", "k >= 0")
    VT.commitAddColumns(spark, dir, Seq("x" -> "INT"))
    val patch = (ks: Seq[Long], tag: String) =>
      ks.map(k => (k, s"$tag$k", 1, 0L, 9, false)).toDF("k", "v", "n", "w", "x", "del")
        .coalesce(1)
    VT.commitPatch(patch(Seq(1L, 2L), "p"), dir, Seq("k"), Seq.empty, $"del")
    VT.commitPatch(patch(Seq(2L, 102L), "q"), dir, Seq("k"), Seq.empty, $"del")
    VT.materializeDvs(spark, dir)
    VT.commitRenameColumn(spark, dir, "v", "label")
    VT.commitDropColumn(spark, dir, "x")
    VT.dropCheckConstraint(spark, dir, "kpos")
    VT.commitDeleteDv(spark, dir, $"k" === 5L)
    VT.commitUpdateDv(spark, dir, $"k" === 6L, Seq("label" -> lit("dv")))
    VT.materializeDvs(spark, dir)
    VT.commitCompact(spark, dir, clusterBy = Seq("k"))
    VT.shallowClone(spark, dir, clone)
    VT.restore(spark, dir, 4L)
    assert(VT.currentVersion(spark, dir).contains(22L),
      s"the sequence publishes 22 versions: ${VT.history(spark, dir)}")
    render(root, dir) ++ render(root, clone)
  }

  /** The masked `_vlog` of `dir`: its listing, each manifest's JSON, each
    * checkpoint's rows (sorted — the checkpoint's row order is a
    * partitioning detail).
    */
  private def render(root: String, dir: String): Seq[String] = {
    import scala.jdk.CollectionConverters._
    val log = Paths.get(dir, "_vlog")
    val names = Files.list(log).iterator().asScala.map(_.getFileName.toString)
      .filterNot(_.startsWith(".")).toSeq.sorted
    val body = names.flatMap { n =>
      if (n.endsWith(".json"))
        Seq(s"== $n") ++ new String(Files.readAllBytes(log.resolve(n)), UTF_8).split("\n")
      else if (n.startsWith("ckpt-"))
        Seq(s"== $n") ++ spark.read.parquet(log.resolve(n).toString)
          .collect().map(_.toString).toSeq.map(mask(root, _)).sorted
      else Seq(s"== $n")
    }
    (s"# ${dir.stripPrefix(root)}" +: names.map("ls " + _)) ++ body.map(mask(root, _))
  }

  private def mask(root: String, s: String): String =
    s.replace(root, "<root>")
      .replaceAll("\"(ts|adjTs)\" : \\d+", "\"$1\" : 0")
      .replaceAll("[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}", "<uuid>")
      .replaceAll("data/c(\\d+)-[0-9a-f]{8}", "data/c$1-<nonce>")

  private def golden(mode: String, confs: Map[String, String]): Unit = {
    val keys = confs.keys.toSeq :+ "spark.sql.shuffle.partitions"
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    // a fixed shuffle width: the suite session's follows the host's cores
    (confs + ("spark.sql.shuffle.partitions" -> "4")).foreach {
      case (k, v) => spark.conf.set(k, v)
    }
    val actual =
      try sequence(Files.createTempDirectory("golden").toString)
      finally saved.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    val out = Paths.get("target", "manifest-golden", s"$mode.txt")
    Files.createDirectories(out.getParent)
    Files.write(out, (actual.mkString("\n") + "\n").getBytes(UTF_8))
    val stream = getClass.getResourceAsStream(s"/golden/manifests-$mode.txt")
    assert(stream != null, s"no snapshot for $mode; this run's rendering is $out")
    val expected = try new String(stream.readAllBytes(), UTF_8).split("\n").toSeq
                   finally stream.close()
    val firstDiff = expected.zipAll(actual, "<none>", "<none>").zipWithIndex
      .find { case ((e, a), _) => e != a }
    assert(firstDiff.isEmpty, firstDiff.map { case ((e, a), i) =>
      s"$mode manifests differ at line ${i + 1} (rendering: $out):\n" +
        s"  expected: $e\n  actual:   $a"
    }.getOrElse(""))
  }

  test("golden manifests: full manifests under default settings") {
    golden("full", Map.empty)
  }

  test("golden manifests: delta manifests, checkpoints and the restore pointer") {
    golden("delta", Map(
      "spark.graft.vtable.inlineMaxFiles" -> "2",
      "spark.graft.vtable.checkpointInterval" -> "2"))
  }
}
