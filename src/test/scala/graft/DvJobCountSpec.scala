package graft

import java.nio.file.Files

import org.apache.spark.sql.catalyst.plans.logical.Filter
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.ops.{VersionedTable => VT}

/** Spark jobs per deletion-vector operation on a small table. DV sidecars
  * are read on the driver, so a read at a DV version is one scan job, a
  * DV update two (positions, images), a materialize one write and a DV
  * change feed the diff's two; a merge whose changelog is local finds its
  * touched files with no job, and so does a patch: its positions take the
  * semi-join's broadcast of the batch keys and one collect, its appended
  * rows the dedup's shuffle and one write. No query of any of them scans
  * a sidecar.
  */
class DvJobCountSpec extends SparkSuite {
  import spark.implicits._

  /** Every file a query planned by `f` scans, as scheme-stripped paths. */
  private def scannedFiles(f: => Any): Set[String] = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new QueryExecutionListener {
      override def onSuccess(name: String, qe: QueryExecution, ns: Long): Unit =
        qe.analyzed.foreach(_.collectWithSubqueries {
          case lr: LogicalRelation => lr.relation match {
            case h: HadoopFsRelation => h.location.inputFiles.foreach(p =>
              seen.add(new org.apache.hadoop.fs.Path(p).toUri.getPath))
            case _ =>
          }
        })
      override def onFailure(name: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      f
      org.apache.spark.sql.GraftShim.drainListenerBus(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    import scala.jdk.CollectionConverters._
    seen.asScala.toSet
  }

  private def sidecars(dir: String): Set[String] =
    VT.versions(spark, dir).flatMap(v => VT.readManifest(spark, dir, v).dvs)
      .map(p => new org.apache.hadoop.fs.Path(s"$dir/$p").toUri.getPath).toSet

  test("DV reads, commits and change feeds never scan a sidecar and run a fixed number of jobs") {
    val dir = Files.createTempDirectory("dvjobs").toString + "/t"
    VT.create(spark.range(200)
      .select($"id".as("k"), ($"id" % 7).cast("string").as("s"))
      .repartitionByRange(4, $"k").sortWithinPartitions($"k"),
      dir, statsCols = Seq("k"), props = Map(VT.DvsEnabledProp -> "true"))
    val counts = scala.collection.mutable.LinkedHashMap.empty[String, Int]
    val scanned = scala.collection.mutable.Set.empty[String]
    def measure(name: String)(f: => Any): Unit =
      scanned ++= scannedFiles { counts(name) = jobsLaunchedBy(f) }

    measure("commitDeleteDv")(VT.commitDeleteDv(spark, dir, $"k" >= 10L && $"k" < 20L))  // v2
    measure("read at a DV version")(VT.read(spark, dir).collect())
    // the fold is one filter that prints counts, not positions, and equals
    // another read's fold (on the same scan attributes) exactly when the
    // sidecar sets are equal
    val v2Fold = VT.read(spark, dir, Some(2L)).queryExecution.analyzed
      .collectFirst { case f: Filter => f.condition }.get
    def fold(v: Long) = VT.read(spark, dir, Some(v)).queryExecution.analyzed
      .collectFirst { case f: Filter => f.condition.withNewChildren(v2Fold.children) }.get
    val plan = VT.read(spark, dir).queryExecution.executedPlan.toString
    assert(plan.contains("graft_dv_live(") && plan.contains("1 files, 10 positions"), plan)
    assert(v2Fold.isInstanceOf[graft.ops.DvLive] && fold(2L) == v2Fold)
    measure("commitUpdateDv")(VT.commitUpdateDv(spark, dir, $"k" >= 60L && $"k" < 65L,
      Seq("s" -> lit("u"))))                                                            // v3
    assert(fold(3L) != v2Fold)
    measure("changesBetween over a DV window")(
      VT.changesBetween(spark, dir, 1L, 3L, Seq("k")).collect())
    measure("materializeDvs")(VT.materializeDvs(spark, dir))                            // v4
    val changes = Seq((5L, "m", false), (70L, "x", true), (500L, "n", false))
      .toDF("k", "s", "del")
    measure("commitMerge of a local changelog")(
      VT.commitMerge(changes, dir, Seq("k"), Seq($"s"), $"del"))                        // v5
    measure("commitPatch of a local changelog")(
      VT.commitPatch(Seq((6L, "p", false), (71L, "x", true), (600L, "n", false))
        .toDF("k", "s", "del"), dir, Seq("k"), Seq($"s"), $"del"))                       // v6

    assert(VT.read(spark, dir).count() == 200L - 10L - 1L + 1L)
    val dvFiles = sidecars(dir)
    assert(dvFiles.size == 3)
    assert((scanned & dvFiles).isEmpty,
      s"queries scanned DV sidecars: ${(scanned & dvFiles).mkString(", ")}")
    assert(counts.toMap == Map(
      "commitDeleteDv" -> 1,
      "read at a DV version" -> 1,
      "commitUpdateDv" -> 2,
      "changesBetween over a DV window" -> 2,
      "materializeDvs" -> 1,
      "commitMerge of a local changelog" -> 3,
      "commitPatch of a local changelog" -> 4), s"jobs per operation: $counts")
  }
}
