package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.{Offset => V1Offset, Source}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

import graft.ops.{GraftCatalog, VersionedTable => VT}

/** STREAMING TABLE SOURCE over a versioned table — Delta's default
  * `readStream` shape (initial snapshot, then per-commit APPENDED rows,
  * payload schema only — no change-type/preimage machinery; that is
  * [[VtableCdfSource]]): `spark.readStream.format("graft-vtable")
  * .option("dir", …).load()` is the common front door for downstream
  * training-data pipelines that just want "the table, as it grows".
  *
  * Offsets ARE table versions; slices are deterministic functions of the
  * immutable manifests, so restarts replay exactly-once from the
  * engine's offset log with no sidecar state. Unlike the CDF source,
  * no slice needs materialization: the snapshot and every append slice
  * are pure parquet scans (no diff join), flagged streaming in place.
  *
  * Commit-kind semantics (Delta's contract):
  *  - `append` / `add_files` (and `create`/`clone` when the window
  *    reaches back to v1): the commit's ADDED rows, O(change) from the
  *    delta manifest ([[VT.addedRows]]).
  *  - layout / metadata commits (`compact`, constraints, column
  *    add/rename/drop): emit NOTHING — they change no logical row
  *    (`dataChange=false` in Delta terms). A widened/renamed schema
  *    surfaces on the NEXT data commit, whose slice no longer aligns
  *    with the pinned stream schema and fails loudly; a restart adopts
  *    the new schema and resumes from the checkpoint.
  *  - row-REWRITING commits (`merge`, `update`, `delete`, `overwrite`,
  *    `replace_where`, `restore`, `patch`): refuse LOUDLY by default —
  *    appended-rows semantics cannot represent them (Delta fails the
  *    same way). `skipChangeCommits=true` skips them (the consumer
  *    accepts missing updates/deletes); consumers that need them use
  *    the CDF source.
  *
  * `startingVersion=N` skips the snapshot and follows data commits from
  * version N (inclusive); `startingTimestamp='yyyy-MM-dd HH:mm:ss[.f…]'`
  * resolves to the earliest commit at or after the instant (session time
  * zone) and behaves identically — the two are mutually exclusive.
  * `maxVersionsPerBatch` / `maxBytesPerBatch`
  * bound batch admission (versions / manifest-stamped added bytes; both
  * soft caps — at least one version per batch). The table's identity
  * UUID is pinned lazily
  * under the checkpoint (same discipline as [[VtableCdfSource]]) so a
  * drop/recreate fails loudly instead of replaying a foreign log.
  */
class VtableTableSource(spark: SparkSession, parameters: Map[String, String],
                        metadataPath: String = "")
  extends Source
  with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {

  private val dir = GraftCatalog.resolveDir(spark, parameters.getOrElse("dir",
    throw new IllegalArgumentException(
      "graft-vtable source: option 'dir' (table name or directory) is required")))
  private val skipChangeCommits =
    parameters.get("skipChangeCommits").exists(_.toBoolean)
  private val maxVersions =
    parameters.get("maxVersionsPerBatch").map(_.toInt).getOrElse(128)
  /** Byte-based admission (Delta's `maxBytesPerTrigger`): cap a batch by
    * the manifest-stamped ADDED bytes of the versions it admits. Soft
    * cap — at least one version always admits so the stream progresses;
    * a pending snapshot admits `snapshotV` for free (it is mandatory
    * initial work) and budgets only the ride-along appends. Legacy
    * entries without byte stamps count 0 (admit-friendly).
    */
  private val maxBytes: Option[Long] =
    parameters.get("maxBytesPerBatch").map(_.toLong)

  /** `startingVersion`, with `startingTimestamp` resolved to one
    * (Delta's spelling pair): the timestamp resolves to the EARLIEST
    * commit at or after it, riding [[VT.versionAtTimestamp]]'s
    * verified-stamped-prefix binary search — `versionAtTimestamp` gives
    * the largest version committed AT OR BEFORE ts, so the stream starts
    * there when the stamp matches exactly and one past it otherwise. A
    * timestamp before the first commit starts from version 1 (the whole
    * history — Delta reads from the earliest available the same way); a
    * timestamp after the newest commit follows FUTURE commits only.
    * Resolution happens once, at source construction; the checkpointed
    * offsets (not the option) govern every batch after the first.
    */
  private val startingV: Option[Long] = {
    require(!(parameters.contains("startingVersion") &&
        parameters.contains("startingTimestamp")),
      "graft-vtable source: startingVersion and startingTimestamp are " +
        "mutually exclusive")
    parameters.get("startingVersion").map { v =>
      require(v.toLong >= 1L,
        s"graft-vtable source: startingVersion must be >= 1, got $v")
      v.toLong
    }.orElse(parameters.get("startingTimestamp").map { s =>
      val ts = VT.parseTsMillis(spark, s,
        "graft-vtable source startingTimestamp")
      try {
        val v = VT.versionAtTimestamp(spark, dir, ts)
        if (VT.readMeta(spark, dir, v).adjTs >= ts) v else v + 1L
      } catch {
        // before the first commit: the whole history qualifies
        case e: IllegalArgumentException
            if e.getMessage != null &&
              e.getMessage.contains("before the earliest") => 1L
      }
    })
  }
  /** Snapshot PLANNING floor (no starting option): pinned at source
    * construction and used ONLY by [[latestOffset]] to size the first
    * batch. The replayed batch-0 slice is a function of the LOGGED end
    * offset alone (see [[getBatch]]) — a crash-restart re-pins this at
    * the new current version, which must not change what batch 0 reads.
    */
  private val snapshotV: Option[Long] = startingV match {
    case Some(_) => None
    case None => Some(VT.currentVersion(spark, dir).getOrElse(
      throw new IllegalArgumentException(
        s"graft-vtable source: $dir is not a versioned table")))
  }
  /** Versions <= baseV are before the stream's horizon. `-1` marks a
    * pending snapshot — distinct from any real version so
    * `startingVersion=1` (baseV = 0) cannot collide with it.
    */
  private val baseV: Long = startingV.map(_ - 1L).getOrElse(-1L)

  override val schema: StructType = VtableTableSource.schemaFor(spark, parameters)

  @volatile private var pinnedTableIdCache: Option[String] = None
  private def pinnedTableId: Option[String] = {
    if (pinnedTableIdCache.isEmpty) {
      pinnedTableIdCache =
        if (metadataPath.isEmpty) VT.tableId(spark, dir)
        else {
          val p = new org.apache.hadoop.fs.Path(metadataPath, "graft-table-id")
          graft.ops.TableIdPin.pinOrRead(
            p.getFileSystem(spark.sparkContext.hadoopConfiguration), p,
            VT.tableId(spark, dir))
        }
    }
    pinnedTableIdCache
  }

  private def requireSameTable(): Unit =
    graft.ops.TableIdPin.requireSame(pinnedTableId, VT.tableId(spark, dir),
      "graft-vtable source", dir,
      "start a NEW stream (new checkpoint) against the new table")

  private case class TblOffset(version: Long) extends V1Offset {
    override def json: String = version.toString
  }

  private def versionOf(o: org.apache.spark.sql.connector.read.streaming.Offset): Long =
    o match {
      case TblOffset(v) => v
      case other => other.json.trim.toLong // incl. SerializedOffset replays
    }

  override def getOffset: Option[V1Offset] = {
    requireSameTable()
    val cur = VT.currentVersion(spark, dir).getOrElse(return None)
    if (cur > baseV) Some(TblOffset(cur)) else None
  }

  // ---- admission control + Trigger.AvailableNow (see VtableCdfSource:
  // with SupportsAdmissionControl the engine hands latestOffset the START
  // offset, so per-batch version capping is restart-safe) ----------------
  @volatile private var availableNowEnd: Option[Long] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowEnd = VT.currentVersion(spark, dir)

  override def getDefaultReadLimit
      : org.apache.spark.sql.connector.read.streaming.ReadLimit =
    org.apache.spark.sql.connector.read.streaming.ReadLimit.allAvailable()

  override def reportLatestOffset()
      : org.apache.spark.sql.connector.read.streaming.Offset =
    VT.currentVersion(spark, dir).map(TblOffset).orNull

  override def latestOffset(
      start: org.apache.spark.sql.connector.read.streaming.Offset,
      limit: org.apache.spark.sql.connector.read.streaming.ReadLimit)
      : org.apache.spark.sql.connector.read.streaming.Offset = {
    requireSameTable()
    val cur = availableNowEnd
      .orElse(VT.currentVersion(spark, dir)).getOrElse(return null)
    val from = Option(start).map(versionOf).getOrElse(baseV)
    // `start` is the last DURABLY COMMITTED offset — advance the vacuum
    // pin here too, because the engine only calls commit() for batch N
    // while constructing batch N+1 (a drained AvailableNow query's final
    // batch would otherwise leave the pin one batch behind)
    if (from > 0L) pinFloor(from)
    // a pending snapshot (from < 0) advances at least to snapshotV in
    // one slice; appended versions ride along up to the caps
    val effFrom = if (from < 0L) snapshotV.get else from
    val capV = math.max(effFrom, math.min(cur, effFrom + maxVersions))
    val byteCapped = maxBytes match {
      case None => capV
      case Some(budget) =>
        // one manifest-header read per candidate version (≤ maxVersions);
        // layout/metadata commits emit nothing, so they admit for free.
        // addedBytesOf reuses the single header read per version.
        var v = effFrom; var acc = 0L; var stop = false
        while (v < capV && !stop) {
          val m = VT.readMeta(spark, dir, v + 1)
          val b = if (silentOps(m.op)) 0L else VT.addedBytesOf(spark, dir, m)
          if (v > effFrom && acc + b > budget) stop = true
          else { acc += b; v += 1 }
        }
        v
    }
    val endV =
      if (from >= 0L) byteCapped
      else {
        // batch 0 reads the table AS OF the LOGGED offset, so that offset
        // must name a version whose snapshot is a pure scan — a pending
        // DV set at `end` could NEVER replay (manifests
        // are immutable; the checkpoint would wedge permanently). Refuse
        // at PLANNING time when even the floor is unclean — nothing is
        // logged, so a restart after OPTIMIZE succeeds; otherwise cap the
        // ride-alongs at the last clean version (later commits arrive as
        // ordinary slices under the append-path rules).
        def clean(v: Long): Boolean = VT.readMeta(spark, dir, v).dvs.isEmpty
        if (!clean(snapshotV.get))
          throw new IllegalStateException(
            s"graft-vtable source: $dir carries deletion vectors at the " +
              "stream's snapshot version — run OPTIMIZE (materializeDvs) " +
              "first, then start the stream")
        var v = snapshotV.get
        while (v < byteCapped && clean(v + 1)) v += 1
        v
      }
    if (endV > from) TblOffset(endV) else null
  }

  /** Pinned-schema alignment: a slice read under an evolved table schema
    * either widened (extra columns — fail: restart to adopt) or lost a
    * pinned column (rename/drop — fail: restart to adopt).
    */
  private def align(df: DataFrame): DataFrame = {
    val extra = df.columns.filterNot(schema.fieldNames.contains)
    val missing = schema.fieldNames.filterNot(df.columns.contains)
    if (extra.nonEmpty || missing.nonEmpty)
      throw new IllegalStateException(
        s"graft-vtable source: table $dir evolved mid-stream " +
          s"(new: ${extra.mkString(", ")}; gone: ${missing.mkString(", ")}) " +
          "— restart the stream to adopt the new schema")
    df.select(schema.fieldNames.map(col).toIndexedSeq: _*)
  }

  private val changeOps = Set("merge", "update", "delete", "delete_dv",
    "update_dv", "overwrite", "replace_where", "restore", "patch")
  // dv_materialize rewrites BYTES (folding already-streamed-as-deleted
  // rows out of base files), never logical rows — invisible, like compact
  private val silentOps = Set("compact", "dv_materialize", "addConstraint",
    "dropConstraint", "addColumns", "rename_column", "drop_column")

  /** One version's appended rows (None = nothing to emit). */
  private def slice(v: Long): Option[DataFrame] = {
    val op = VT.readMeta(spark, dir, v).op
    op match {
      case "append" | "add_files" | "create" | "clone" =>
        Some(align(VT.addedRows(spark, dir, v)))
      case _ if silentOps(op) => None
      case _ if changeOps(op) =>
        if (skipChangeCommits) None
        else throw new IllegalStateException(
          s"graft-vtable source: version $v of $dir is a '$op' commit — " +
            "appended-rows streaming cannot represent row rewrites. Set " +
            "option skipChangeCommits=true to skip them, or consume the " +
            "change feed (format graft-vtable-cdf) for full CDC semantics")
      case other => throw new IllegalStateException(
        s"graft-vtable source: version $v of $dir has unrecognized commit " +
          s"kind '$other' — refusing to guess its streaming semantics")
    }
  }

  /** The snapshot: the table AS OF `v` — a pure parquet scan. Deletion
    * vectors at the snapshot version (a DV commit's or a patch's) would
    * put their fold inside a streaming plan; refuse and point at
    * materialization.
    */
  private def snapshotSlice(v: Long): DataFrame = {
    val m = VT.readMeta(spark, dir, v)
    require(m.dvs.isEmpty,
      s"graft-vtable source: $dir has pending deletion vectors at the " +
        "snapshot version — run materializeDvs (or OPTIMIZE) first")
    align(VT.read(spark, dir, Some(v)))
  }

  private def asStreaming(df: DataFrame): DataFrame = {
    val plan = df.queryExecution.analyzed.transform {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation
          if !lr.isStreaming => lr.copy(isStreaming = true)
      case lr: org.apache.spark.sql.catalyst.plans.logical.LocalRelation
          if !lr.isStreaming => lr.copy(isStreaming = true)
    }
    org.apache.spark.sql.GraftShim.dataFrame(spark, plan)
  }

  /** Vacuum-guard cursor (see [[VtableCdfSource]]'s twin): the lowest
    * version this stream's next replay needs, registered so VACUUM
    * refuses to strand it.
    */
  private def pinFloor(v: Long): Unit =
    if (metadataPath.nonEmpty)
      VT.pinCursor(spark, dir, s"graft-vtable @ $metadataPath",
        math.max(1L, v))

  override def commit(end: V1Offset): Unit = pinFloor(versionOf(end))

  override def getBatch(start: Option[V1Offset], end: V1Offset): DataFrame = {
    requireSameTable()
    val from = start.map(versionOf).getOrElse(baseV)
    val to = versionOf(end)
    pinFloor(if (from < 0L) to else from)
    // batch 0 in snapshot mode is the table AS OF the LOGGED end offset —
    // a pure function of the offset log, so a crash-restart replay (which
    // re-pins snapshotV at the NEW current version) re-reads exactly the
    // slice it originally emitted; commits in (construction, end] fold
    // into the snapshot instead of arriving as append slices (Delta's
    // reservoirVersion contract). snapshotV is only a planning floor.
    if (from < 0L) return asStreaming(snapshotSlice(to))
    val slices = ((from + 1) to to).flatMap(slice)
    val out = slices.reduceOption(_ union _).getOrElse(
      org.apache.spark.sql.GraftShim.dataFrame(spark,
        org.apache.spark.sql.catalyst.plans.logical.LocalRelation(
          org.apache.spark.sql.catalyst.types.DataTypeUtils.toAttributes(schema),
          Seq.empty, isStreaming = true)))
    asStreaming(out)
  }

  override def stop(): Unit = ()
}

object VtableTableSource {
  private[sources] def schemaFor(spark: SparkSession,
                                 parameters: Map[String, String]): StructType = {
    val dir = GraftCatalog.resolveDir(spark, parameters.getOrElse("dir",
      throw new IllegalArgumentException(
        "graft-vtable source: option 'dir' (table name or directory) is required")))
    val v = VT.currentVersion(spark, dir).getOrElse(
      throw new IllegalArgumentException(
        s"graft-vtable source: $dir is not a versioned table"))
    StructType.fromDDL(VT.readMeta(spark, dir, v).schemaDdl)
  }
}
