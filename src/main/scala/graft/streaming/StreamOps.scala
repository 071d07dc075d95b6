package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StatefulProcessor, StreamingQuery, TimeMode, TimerValues, Trigger, TTLConfig, ValueState}

import graft.ops.Warehouse

/** Structured Streaming operators (SURVEY §2.6): the reference's
  * checkpoint/high-water-mark machinery (scripts/extract.py:74-95) maps to
  * `checkpointLocation` + watermarks; its chunked batch loop maps to
  * micro-batches. The same aggregation functions run in batch and stream —
  * equivalence is the test contract (SURVEY §5.4).
  */
object StreamOps {

  /** Tumbling-window aggregation — identical logical plan in batch and
    * streaming; caller supplies either a batch frame or a readStream frame.
    */
  def tumblingAgg(events: DataFrame, width: String): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), width), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("sum_value"))
      .select(col("window.start").as("win_start"), col("event_type"),
        col("n"), col("sum_value"))

  /** Session windows per user (gap-based). */
  def sessionAgg(events: DataFrame, gap: String): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("user_id"), col("n_events"))

  /** Checkpointed incremental ingestion (SURVEY §2.6 I2): a file-source
    * stream upserted first-writer-wins into a parquet warehouse.
    *
    * The reference keeps a `{total_records, offset}` JSON checkpoint and
    * relies on `ON CONFLICT (arrest_key) DO NOTHING`
    * (`scripts/extract.py:74-95`, `scripts/load.py:146`); here the source
    * offsets live in `checkpointLocation` (Spark records which files each
    * micro-batch consumed) and the sink is the idempotent keyed upsert —
    * so a replayed micro-batch inserts zero rows and the composition is
    * effectively exactly-once. Restarting with the same checkpoint resumes
    * from the recorded offsets, processing only files that arrived since.
    */
  def incrementalIngest(spark: SparkSession, srcDir: String, schemaDdl: String,
                        checkpointDir: String, warehouseDir: String,
                        keys: Seq[String], tiebreak: Seq[String]): StreamingQuery = {
    val src = spark.readStream.schema(schemaDdl).parquet(srcDir)
    src.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        Warehouse.upsertIntoParquet(batch, warehouseDir, keys, tiebreak.map(col))
        ()
      }
      .start()
  }

  /** Streaming CDC apply — the changelog as the canonical STREAMING input
    * (the Debezium-topic shape): a file-source stream of change rows is
    * applied to a parquet warehouse by [[graft.ops.Warehouse
    * .applyChangesParquet]] per micro-batch (tombstones delete, matched
    * keys update, new keys insert), completing the S1×I2×CDC composition
    * the reference's checkpoint+merge loop gestures at
    * (scripts/extract.py:74-95 + scripts/load.py:107-159) — there the
    * merge can only ever insert; here a replayed retraction is honored.
    *
    * Exactly-once posture, layered like [[incrementalIngest]] plus a
    * batch-id marker (the discipline [[graft.ops.BatchIngest]] uses for
    * its page checkpoint): Structured Streaming's offset log already
    * guarantees a batch replays only after a crash BETWEEN sink
    * completion and commit; the marker narrows even that window —
    * - merge done, marker unwritten → replay re-merges; per-batch apply
    *   is convergent (same changelog twice = same table), so the end
    *   state is identical;
    * - marker written, offsets uncommitted → replay is SKIPPED by the
    *   marker.
    * The marker lives beside the warehouse (`_<dir>.lastbatch`) and is
    * keyed by the checkpoint's monotonically-increasing batchId — reset
    * `checkpointDir` and the marker together or a fresh stream's batch 0
    * would be mistaken for already-applied history.
    */
  def streamingCdcApply(spark: SparkSession, srcDir: String, schemaDdl: String,
                        checkpointDir: String, warehouseDir: String,
                        keys: Seq[String], tiebreak: Seq[org.apache.spark.sql.Column],
                        deleteCond: org.apache.spark.sql.Column,
                        payloadCols: Seq[String] = Seq.empty): StreamingQuery = {
    val src = spark.readStream.schema(schemaDdl).parquet(srcDir)
    src.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyCdcBatch(batch, batchId, warehouseDir, keys, tiebreak, deleteCond,
          payloadCols)
        ()
      }
      .start()
  }

  /** One micro-batch of [[streamingCdcApply]]: merge unless the marker
    * proves this batchId already applied. Package-visible so the replay
    * spec can re-issue a batchId explicitly. Returns true when the merge
    * ran, false when skipped as already applied.
    */
  private[graft] def applyCdcBatch(batch: DataFrame, batchId: Long,
                                   warehouseDir: String, keys: Seq[String],
                                   tiebreak: Seq[org.apache.spark.sql.Column],
                                   deleteCond: org.apache.spark.sql.Column,
                                   payloadCols: Seq[String]): Boolean = {
    val spark = batch.sparkSession
    val whPath = new org.apache.hadoop.fs.Path(warehouseDir)
    val fs = whPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val marker = new org.apache.hadoop.fs.Path(whPath.getParent,
      "_" + whPath.getName + ".lastbatch")
    val last =
      if (!fs.exists(marker)) -1L
      else {
        val in = fs.open(marker)
        try new String(in.readAllBytes(),
          java.nio.charset.StandardCharsets.UTF_8).trim.toLong
        finally in.close()
      }
    if (batchId <= last) false
    else {
      Warehouse.applyChangesParquet(batch, warehouseDir, keys, tiebreak,
        deleteCond, payloadCols)
      // write-then-rename: a torn marker would wedge every later batch
      val tmp = new org.apache.hadoop.fs.Path(marker.getParent,
        marker.getName + ".tmp")
      val out = fs.create(tmp, true)
      try out.write(batchId.toString
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
      fs.delete(marker, false)
      fs.rename(tmp, marker)
      true
    }
  }

  /** Streaming CDC into a VERSIONED table ([[graft.ops.VersionedTable]]):
    * each micro-batch lands as one stats-pruned copy-on-write merge
    * COMMIT, so the table's version history IS the stream's batch history
    * — any intermediate state stays time-travel-readable until vacuum,
    * which the flat [[streamingCdcApply]] cannot offer (its staged swap
    * destroys the previous state).
    *
    * Exactly-once WITHOUT a sidecar marker file: the batch id rides in
    * the manifest's transaction ledger (`txn = appId -> batchId`,
    * [[graft.ops.VersionedTable.Manifest.txns]] — the Delta
    * `setTransaction` idea). The manifest rename is the single commit
    * point, so the two crash windows close by construction: merge
    * committed / offsets uncommitted → the replayed batch id is in the
    * CURRENT manifest and the commit skips; data written / manifest
    * unpublished → nothing became visible, the replay re-merges from the
    * same base version and the orphaned files are vacuumed later.
    *
    * The table must already exist ([[graft.ops.VersionedTable.create]]
    * with the initial snapshot — the Debezium bootstrap shape: snapshot
    * first, then stream the changelog). `appId` names this stream; use
    * one per (stream, table) pair and keep it stable across restarts —
    * it is what makes a replayed batchId recognizable. Corollary: a FRESH
    * checkpoint restarts batch ids at 0, so starting over against the
    * same table needs a fresh `appId` too, or the ledger would silently
    * swallow the new stream's first batches (same rule as the flat
    * variant's marker: reset checkpoint and identity together).
    *
    * `asPatches = true` commits each micro-batch with
    * [[graft.ops.VersionedTable.commitPatch]]: the matched rows' positions
    * land in a deletion vector and the batch's rows append, so no existing
    * file is rewritten; OPTIMIZE (`materializeDvs`) on a cadence folds the
    * positions back into clean files.
    */
  def streamingCdcApplyVersioned(spark: SparkSession, srcDir: String,
                                 schemaDdl: String, checkpointDir: String,
                                 tableDir: String, keys: Seq[String],
                                 tiebreak: Seq[org.apache.spark.sql.Column],
                                 deleteCond: org.apache.spark.sql.Column,
                                 appId: String,
                                 asPatches: Boolean = false): StreamingQuery = {
    require(graft.ops.VersionedTable.currentVersion(spark, tableDir).nonEmpty,
      s"streamingCdcApplyVersioned: $tableDir is not a versioned table — " +
        "create it from the initial snapshot first (VersionedTable.create)")
    val src = spark.readStream.schema(schemaDdl).parquet(srcDir)
    src.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // same txn-ledger exactly-once either way; a patch's positions
        // depend on the head, so a lost race re-derives them
        if (asPatches)
          graft.ops.VersionedTable.withCommitRetry() {
            graft.ops.VersionedTable.commitPatch(batch, tableDir, keys, tiebreak,
              deleteCond, txn = Some(appId -> batchId))
          }
        else
          graft.ops.VersionedTable.commitMerge(batch, tableDir, keys, tiebreak,
            deleteCond, txn = Some(appId -> batchId))
        ()
      }
      .start()
  }

  /** Streaming first-seen dedup via `flatMapGroupsWithState` — the custom
    * per-key state surface (`KeyValueGroupedDataset`) the built-in
    * `dropDuplicates` doesn't expose: state is an explicit Boolean
    * "seen" flag per key, so variants (count-limited keep-N, TTL'd state
    * via timeouts) are one-line changes. Emits each key's FIRST row only,
    * across all micro-batches.
    */
  def streamingFirstSeen[K: org.apache.spark.sql.Encoder,
                         V: org.apache.spark.sql.Encoder](
      ds: Dataset[V], key: V => K)(
      implicit tup: org.apache.spark.sql.Encoder[(K, V)]): Dataset[V] = {
    implicit val boolEnc: org.apache.spark.sql.Encoder[Boolean] =
      org.apache.spark.sql.Encoders.scalaBoolean
    ds.groupByKey(key)
      .flatMapGroupsWithState[Boolean, V](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (_: K, rows: Iterator[V], state: GroupState[Boolean]) =>
          if (state.exists) Iterator.empty
          else {
            state.update(true)
            rows.take(1)
          }
      }
  }

  /** Streaming exact dedup with BOUNDED state: watermark-TTL'd key state
    * via `dropDuplicatesWithinWatermark` — duplicates arriving within the
    * watermark delay of each other collapse, state for keys older than
    * the watermark is evicted. The production form of streaming dedup at
    * 100 TB: unbounded-state `dropDuplicates` eventually OOMs; first-seen
    * `flatMapGroupsWithState` keeps explicit but also unbounded state.
    */
  def streamingDedupWithinWatermark(df: DataFrame, keys: Seq[String],
                                    tsCol: String, delay: String): DataFrame =
    df.withWatermark(tsCol, delay)
      .dropDuplicatesWithinWatermark(keys)

  /** Stream-stream inner join within a bounded time skew: each left event
    * pairs with right events for the same key whose timestamp lies in
    * [left.ts − skew, left.ts]. Both sides carry watermarks so Spark can
    * evict buffered state once the watermark passes the join window — the
    * state-bounding discipline mandatory for an unbounded 100 TB stream
    * (an un-watermarked stream-stream join buffers forever).
    *
    * The same function applies to two BATCH frames unchanged — that
    * equivalence is the test contract.
    */
  def streamStreamJoin(left: DataFrame, right: DataFrame,
                       key: String, skew: String): DataFrame = {
    val l = left.withWatermark("ts", "1 hour")
      .select(col(key).as("k"), col("ts").as("l_ts"), col("event_id").as("l_id"))
    val r = right.withWatermark("ts", "1 hour")
      .select(col(key).as("r_k"), col("ts").as("r_ts"), col("event_id").as("r_id"))
    l.join(r,
      col("k") === col("r_k") &&
        col("r_ts") >= col("l_ts") - expr(s"INTERVAL $skew") &&
        col("r_ts") <= col("l_ts") &&
        col("l_id") =!= col("r_id"))
      .select("k", "l_id", "r_id", "l_ts", "r_ts")
  }

  /** Run a streaming transform over a bounded file source to completion
    * (Trigger.AvailableNow + memory sink) and return the result — the
    * batch↔stream equivalence harness. `schemaDdl` must match the files.
    */
  def runBounded(spark: SparkSession, srcDir: String, schemaDdl: String,
                 queryName: String)(f: DataFrame => DataFrame): DataFrame = {
    val src = spark.readStream.schema(schemaDdl).parquet(srcDir)
    val q = f(src).writeStream
      .outputMode("complete")
      .format("memory")
      .queryName(queryName)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.table(queryName)
  }

  /** Per-key running (count, sum) via Spark 4's `transformWithState` — the
    * arbitrary-state successor to `mapGroupsWithState`: named, typed
    * per-key `ValueState` handles living in the (RocksDB) state store,
    * with TTL and timer support. Each micro-batch folds its rows into the
    * persisted totals and emits the updated (key, n, sum) row.
    *
    * Requires the RocksDB state store provider
    * (`spark.sql.streaming.stateStore.providerClass`); the default
    * HDFS-backed provider does not implement the TWS contract.
    */
  class RunningTotalsProcessor
      extends StatefulProcessor[Long, (Long, Double), (Long, Long, Double)] {
    @transient private var totals: ValueState[(Long, Double)] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      totals = getHandle.getValueState("totals",
        org.apache.spark.sql.Encoders.product[(Long, Double)], TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[(Long, Double)],
                                 timerValues: TimerValues): Iterator[(Long, Long, Double)] = {
      var (n, s) = if (totals.exists()) totals.get() else (0L, 0.0)
      rows.foreach { r => n += 1; s += r._2 }
      totals.update((n, s))
      Iterator.single((key, n, s))
    }
  }

  /** (user_id, value) events → per-user running totals, batch- or
    * stream-side (same plan both ways).
    */
  def statefulRunningTotals(events: DataFrame): Dataset[(Long, Long, Double)] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.select(col("user_id").cast("long"), col("value").cast("double"))
      .as[(Long, Double)]
      .groupByKey(_._1)
      .transformWithState(new RunningTotalsProcessor, TimeMode.None(), OutputMode.Update())
  }
}
