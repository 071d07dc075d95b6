package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{BoundReference, GenericInternalRow, XxHash64}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.ops.VersionedTable

/** The micro-lakehouse: a keyed versioned table under a fixed cycle of
  * small copy-on-write merges, deletion-vector deletes and updates, a
  * maintenance commit (fold DVs, bin-pack small files), and reads that use
  * the same files: pruned range reads, time travel and the change feed.
  */
final class TableCommits(spark: SparkSession, work: File, seed: Long, tracer: Tracer)
    extends Workload(spark, work, seed, tracer) {
  import spark.implicits._

  // the shares are assumed, not measured (README, "Assumed traffic shares")
  val p = Gen.TableParams(rows = 100000, files = 8, mergeRows = 1000,
    mergeDeleteShare = 0.1, mergeInsertShare = 0.2, dvRows = 40, readRows = 5000)
  // compaction bin-packs files under `smallBytes` into `targetBytes` files
  val smallBytes = 64L << 10
  val targetBytes = 512L << 10

  /** The op cycle: writes on even slots, reads on odd ones; one
    * maintenance commit per cycle.
    */
  private val Cycle = Vector("merge", "read_where", "delete_dv", "time_travel",
    "update_dv", "changes", "maintain", "read_where")
  override def cycle: Int = Cycle.length
  def nominalCycleS: Double = 5.0
  private def kind(i: Int) = Cycle(Math.floorMod(i, Cycle.length))

  def params: Map[String, Any] = Map(
    "rows" -> p.rows, "initial_files" -> p.files, "merge_rows" -> p.mergeRows,
    "merge_delete_share" -> p.mergeDeleteShare,
    "merge_insert_share" -> p.mergeInsertShare, "dv_rows" -> p.dvRows,
    "read_rows" -> p.readRows, "op_cycle" -> Cycle.mkString(","),
    "compact_small_bytes" -> smallBytes, "compact_target_bytes" -> targetBytes)

  private val table = new File(work, "table").getPath
  private val model = new TableModel(seed, p.rows)

  def createState(): Unit = {
    val s = seed
    val gen = udf((id: Long) => Gen.initialRow(s, id))
    val df = spark.range(0, p.rows, 1, p.files)
      .select(col("id"), gen(col("id")).as("r"))
      .select(col("id"), col("r.grp"), col("r.qty"), col("r.v").as("amount"), col("r.name"))
    val v = VersionedTable.create(df, table, statsCols = Seq("id"))
    // the generator's own digest is the model of version 1
    model.start(v, TableModel.digest(df))
  }

  def warmUpOps: Int = cycle

  private val rng = Gen.rng(seed, 7)
  private var changes: DataFrame = _
  private var changeRows: Seq[(Long, Option[Gen.TRow])] = Nil
  private var window: (Long, Long) = _
  private var fromV = 0L
  private var result: Any = _
  private var before: Map[String, Long] = Map.empty

  override def prepare(i: Int): Unit = {
    val cur = VersionedTable.currentVersion(spark, table).get
    kind(i) match {
      case "merge" =>
        // updates and tombstones inside one key window, inserts past the end
        val lo = rng.nextInt((model.nextId - 5 * p.mergeRows).toInt).toLong
        val live = (lo until lo + 5 * p.mergeRows).filter(model.alive)
        val upd = scala.util.Random.javaRandomToRandom(new java.util.Random(rng.nextLong()))
          .shuffle(live).take((p.mergeRows * (1 - p.mergeInsertShare)).toInt)
        val nDel = (upd.length * p.mergeDeleteShare).toInt
        val ins = (0 until (p.mergeRows * p.mergeInsertShare).toInt)
          .map(_ => model.allocate())
        changeRows = upd.take(nDel).map(id => id -> None) ++
          (upd.drop(nDel) ++ ins).map(id => id -> Some(Gen.tableRow(rng)))
        val blank = Gen.TRow(0, 0, 0.0, "")
        changes = changeRows.map { case (id, r) =>
          val x = r.getOrElse(blank)
          (id, x.grp, x.qty, x.v, x.name, r.isEmpty)
        }.toDF("id", "grp", "qty", "amount", "name", "del")
      case "delete_dv" | "update_dv" =>
        val lo = rng.nextInt((model.nextId - p.dvRows).toInt).toLong
        window = (lo, lo + p.dvRows - 1)
      case "read_where" =>
        val lo = rng.nextInt((model.nextId - p.readRows).toInt).toLong
        window = (lo, lo + p.readRows - 1)
      // fixed distances, so each read covers the same commits on every seed
      case "time_travel" =>
        fromV = math.max(1L, cur - 4)
      case "changes" =>
        fromV = math.max(1L, cur - 2)
      case "maintain" => ()
    }
    before = Workload.dataFiles(new File(table, "data"))
  }

  private def range = col("id").between(window._1, window._2)

  def run(i: Int): OpResult = {
    val k = kind(i)
    val (cls, rows) = k match {
      case "merge" =>
        tracer.span("vtable.commit")(commit(VersionedTable.commitMerge(changes, table,
          Seq("id"), Seq(col("qty")), col("del"))))
        ("write", changeRows.length.toLong)
      case "delete_dv" =>
        tracer.span("vtable.commit")(commit(VersionedTable.commitDeleteDv(spark, table, range)))
        ("write", p.dvRows.toLong)
      case "update_dv" =>
        tracer.span("vtable.commit")(commit(VersionedTable.commitUpdateDv(spark, table, range,
          Seq("qty" -> (col("qty") + 1), "amount" -> (col("amount") + 0.5)))))
        ("write", p.dvRows.toLong)
      case "maintain" =>
        tracer.span("vtable.compact") {
          commit(VersionedTable.materializeDvs(spark, table))
          commit(VersionedTable.commitCompact(spark, table, targetBytes = targetBytes,
            smallBytes = smallBytes, clusterBy = Seq("id")))
        }
        ("write", 0L)
      case "read_where" =>
        val got = tracer.span("vtable.read")(
          VersionedTable.readWhere(spark, table, range)
            .as[(Long, Int, Int, Double, String)].collect())
        result = got
        ("read", got.length.toLong)
      case "time_travel" =>
        val got = tracer.span("vtable.read")(TableModel.digest(
          VersionedTable.read(spark, table, Some(fromV))))
        result = got
        ("read", got._3)
      case "changes" =>
        val cur = VersionedTable.currentVersion(spark, table).get
        val got = tracer.span("vtable.read")(
          VersionedTable.changesBetween(spark, table, fromV, cur, Seq("id"))
            .select("id", "grp", "qty", "amount", "name", "change_type")
            .as[(Long, Int, Int, Double, String, String)].collect())
        result = got
        ("read", got.length.toLong)
    }
    OpResult(k, cls, rows)
  }

  private var calls = 0
  private var attempts = 0
  /** Every commit goes through the engine's optimistic-concurrency retry;
    * attempts beyond the first are the layer's retries.
    */
  private def commit(body: => Long): Long = {
    calls += 1
    VersionedTable.withCommitRetry() { attempts += 1; body }
  }

  override def verify(i: Int, r: OpResult): Unit = {
    val cur = VersionedTable.currentVersion(spark, table).get
    r.kind match {
      case "merge" =>
        model.commit(cur, changeRows)
      case "delete_dv" =>
        model.commit(cur, (window._1 to window._2).filter(model.alive).map(id => id -> None))
      case "update_dv" =>
        model.commit(cur, (window._1 to window._2).filter(model.alive).map { id =>
          val x = model.row(id)
          id -> Some(x.copy(qty = x.qty + 1, v = x.v + 0.5))
        })
      case "maintain" =>
        model.fillTo(cur)
        val m = VersionedTable.readManifest(spark, table, cur)
        require("vtable.maintain_folds_dvs", m.dvs.isEmpty,
          s"version $cur still has ${m.dvs.size} DVs")
      case "read_where" =>
        val got = result.asInstanceOf[Array[(Long, Int, Int, Double, String)]].sortBy(_._1).toSeq
        val want = (window._1 to window._2).filter(model.alive).map { id =>
          val x = model.row(id); (id, x.grp, x.qty, x.v, x.name)
        }
        require("vtable.read_where_matches_model", got == want,
          s"op $i: range $window read ${got.length} rows, model ${want.length}")
      case "time_travel" =>
        val got = result.asInstanceOf[(Long, Long, Long)]
        require("vtable.time_travel_matches_model", got == model.digestAt(fromV),
          s"op $i: version $fromV digest $got, model ${model.digestAt(fromV)}")
      case "changes" =>
        val got = result.asInstanceOf[Array[(Long, Int, Int, Double, String, String)]]
          .map(t => t._1 -> (t._6, Gen.TRow(t._2, t._3, t._4, t._5))).sortBy(_._1).toSeq
        val want = model.changes(fromV, cur).sortBy(_._1)
        require("vtable.changes_match_model", got == want,
          s"op $i: changes $fromV..$cur returned ${got.length} rows, model ${want.length}")
    }
    if (r.cls == "write") {
      val now = Workload.dataFiles(new File(table, "data"))
      val added = now.keySet -- before.keySet
      count("vtable.commits", 1)
      count("vtable.files_added", added.size)
      count("vtable.bytes_added", added.toSeq.map(now).sum)
      count("vtable.change_rows", r.rows)
    }
  }

  def finalCheck(): Unit = {
    val cur = VersionedTable.currentVersion(spark, table).get
    // the table's digest at sampled versions, current included
    val sampled = (Seq(cur) ++ Seq.fill(2)(1L + rng.nextInt(cur.toInt))).distinct
    sampled.foreach { v =>
      val got = TableModel.digest(VersionedTable.read(spark, table, Some(v)))
      require("vtable.version_digest_matches_model", got == model.digestAt(v),
        s"version $v digest $got, model ${model.digestAt(v)}")
    }
  }

  def endState(): Map[String, Double] = {
    val cur = VersionedTable.currentVersion(spark, table).get
    val m = VersionedTable.readManifest(spark, table, cur)
    val (bytes, nFiles) = Workload.du(new File(table))
    val manifest = Option(new File(table, "_vlog").listFiles()).getOrElse(Array.empty[File])
      .filter(_.getName.startsWith(f"v$cur%012d")).map(_.length()).sum
    Map("stored_bytes" -> bytes.toDouble, "stored_files" -> nFiles.toDouble,
      "live_rows" -> model.live.toDouble,
      "stored_bytes_per_row" -> bytes.toDouble / math.max(1L, model.live),
      "vtable.live_files" -> m.files.size.toDouble,
      "vtable.dvs_live" -> m.dvs.size.toDouble,
      "vtable.manifest_bytes" -> manifest.toDouble,
      "vtable.version" -> cur.toDouble,
      "vtable.commit_retries" -> (attempts - calls).toDouble)
  }
}

/** The table the benchmark expects: the initial rows (recomputed from the
  * generator), the rows commits changed since, and per version the digest
  * a full read must return and the rows each commit changed.
  */
final class TableModel(seed: Long, initialRows: Int) {
  private val changed = mutable.HashMap.empty[Long, Option[Gen.TRow]]
  var nextId: Long = initialRows
  var live: Long = initialRows
  private var state = (0L, 0L, 0L) // xor of row hashes, sum of their top 24 bits, count
  private val digests = mutable.HashMap.empty[Long, (Long, Long, Long)]
  private val log = mutable.HashMap.empty[Long, Seq[(Long, Option[Gen.TRow], Option[Gen.TRow])]]

  private def get(id: Long): Option[Gen.TRow] = changed.getOrElse(id,
    if (id < initialRows) Some(Gen.initialRow(seed, id)) else None)
  def alive(id: Long): Boolean = get(id).isDefined
  def row(id: Long): Gen.TRow = get(id).get
  def allocate(): Long = { nextId += 1; nextId - 1 }

  def start(v: Long, digest: (Long, Long, Long)): Unit = {
    state = digest
    fillTo(v)
  }

  private def set(id: Long, r: Option[Gen.TRow]): Unit = {
    get(id).foreach { old => fold(TableModel.hash(id, old), -1); live -= 1 }
    r.foreach { x => fold(TableModel.hash(id, x), 1); live += 1 }
    changed(id) = r
  }

  private def fold(h: Long, sign: Int): Unit =
    state = (state._1 ^ h, state._2 + sign * (h >>> 40), state._3 + sign)

  /** Versions up to `v` that changed no rows (table creation, maintenance,
    * commits that matched nothing) read as the last known state.
    */
  def fillTo(v: Long): Unit = {
    val known = if (digests.isEmpty) 0L else digests.keys.max
    (known + 1 to v).foreach(x => digests(x) = state)
  }

  def commit(v: Long, changes: Seq[(Long, Option[Gen.TRow])]): Unit = {
    val known = if (digests.isEmpty) 0L else digests.keys.max
    val applied = changes.flatMap { case (id, after) =>
      val before = get(id)
      // a tombstone for an absent key is a no-op
      if (before.isEmpty && after.isEmpty) None
      else { set(id, after); Some((id, before, after)) }
    }
    if (v > known) { log(v) = applied; fillTo(v) }
    else require(applied.isEmpty, s"rows changed but no version was committed after $known")
  }

  def digestAt(v: Long): (Long, Long, Long) = digests(v)

  /** The change feed `from`..`to`: post-image for inserts and updates,
    * pre-image for deletes; keys whose payload ended where it began drop.
    */
  def changes(from: Long, to: Long): Seq[(Long, (String, Gen.TRow))] = {
    val first = mutable.LinkedHashMap.empty[Long, Option[Gen.TRow]]
    (from + 1 to to).flatMap(v => log.getOrElse(v, Nil)).foreach { case (id, before, _) =>
      if (!first.contains(id)) first(id) = before
    }
    first.toSeq.flatMap { case (id, pre) =>
      (pre, get(id)) match {
        case (None, Some(x)) => Some(id -> ("insert", x))
        case (Some(x), None) => Some(id -> ("delete", x))
        case (Some(a), Some(b)) if a != b => Some(id -> ("update", b))
        case _ => None
      }
    }
  }
}

object TableModel {
  private val hashExpr = XxHash64(Seq(
    BoundReference(0, LongType, nullable = false),
    BoundReference(1, IntegerType, nullable = false),
    BoundReference(2, IntegerType, nullable = false),
    BoundReference(3, DoubleType, nullable = false),
    BoundReference(4, StringType, nullable = false)), 42L) // Spark's default seed

  /** Spark's `xxhash64(id, grp, qty, amount, name)` of one row. */
  def hash(id: Long, r: Gen.TRow): Long = hashExpr.eval(new GenericInternalRow(
    Array[Any](id, r.grp, r.qty, r.v, UTF8String.fromString(r.name)))).asInstanceOf[Long]

  /** The same digest computed by the engine over a read. */
  def digest(df: DataFrame): (Long, Long, Long) = {
    val h = xxhash64(col("id"), col("grp"), col("qty"), col("amount"), col("name"))
    val r = df.select(bit_xor(h), sum(shiftrightunsigned(h, 40)), count(lit(1))).head()
    (if (r.isNullAt(0)) 0L else r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1), r.getLong(2))
  }
}
