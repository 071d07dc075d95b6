package graft.sources

import org.apache.spark.sql.{DataFrame, GraftShim, SQLContext, SparkSession}
import org.apache.spark.sql.execution.streaming.Sink
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.sources.{DataSourceRegister, StreamSinkProvider}
import org.apache.spark.sql.streaming.OutputMode

import graft.ops.{GraftCatalog, VersionedTable => VT}

/** STREAMING SINK into a versioned table — the write side of the CDC loop
  * as a first-class format, so `df.writeStream.format("graft-vtable")
  * .option("dir", …).option("mode", "merge").option("keys", "k")` replaces
  * the `foreachBatch` + commit boilerplate
  * ([[graft.streaming.StreamOps.streamingCdcApplyVersioned]] stays as the
  * library shape).
  *
  * Exactly-once is the table's OWN transaction ledger: every micro-batch
  * commits with `txn = (appId, batchId)`, so the engine's post-failure
  * batch replay (same id, same content — the Structured Streaming
  * contract) no-ops at the commit instead of double-applying. No sidecar
  * state; a crash between commit and checkpoint advance is absorbed by
  * the replay.
  *
  * Modes (option `mode`, default `append`):
  *  - `append`: [[VT.commitAppend]] — new files only, columns resolved BY
  *    NAME (the INSERT INTO discipline), no existing byte rewritten.
  *  - `merge`: [[VT.commitMerge]] — each batch is a CDC changelog (keys
  *    update, `deleteCond` rows tombstone, new keys insert), stats-pruned
  *    copy-on-write.
  *  - `patch`: [[VT.commitPatch]] — merge-on-read: the matched rows'
  *    positions land in a deletion vector and the batch appends, so no
  *    existing file is rewritten; OPTIMIZE (`materializeDvs`) on a
  *    cadence folds the positions back into clean files.
  *
  * The TARGET TABLE's identity UUID is pinned under the query's
  * checkpoint at first batch (same discipline as
  * [[VtableCdfSource]]): the ledger lives in the table, so a recreated
  * table arrives with an EMPTY ledger and the engine's replayed batch ids
  * would all apply "fresh" against the wrong table — the pin turns that
  * into a loud failure naming both ids.
  *
  * Ledger identity: the default `appId` derives from the checkpoint path
  * (batch ids are checkpoint-scoped, so the ledger key is too — two
  * queries with different checkpoints get independent ledgers instead of
  * silently swallowing each other's restarting batch ids). An EXPLICIT
  * `appId` keeps the library rule: reset checkpoint and appId together.
  */
class VtableSinkProvider extends StreamSinkProvider
  with org.apache.spark.sql.sources.StreamSourceProvider with DataSourceRegister {
  override def shortName(): String = "graft-vtable"

  // ---- the READ side of the same format: snapshot-then-appends
  // streaming over a versioned table (see [[VtableTableSource]]) --------

  override def sourceSchema(sqlContext: SQLContext,
                            schema: Option[org.apache.spark.sql.types.StructType],
                            providerName: String,
                            parameters: Map[String, String])
      : (String, org.apache.spark.sql.types.StructType) =
    (shortName(), VtableTableSource.schemaFor(sqlContext.sparkSession, parameters))

  override def createSource(sqlContext: SQLContext, metadataPath: String,
                            schema: Option[org.apache.spark.sql.types.StructType],
                            providerName: String,
                            parameters: Map[String, String])
      : org.apache.spark.sql.execution.streaming.Source =
    new VtableTableSource(sqlContext.sparkSession, parameters, metadataPath)

  override def createSink(sqlContext: SQLContext,
                          parameters: Map[String, String],
                          partitionColumns: Seq[String],
                          outputMode: OutputMode): Sink = {
    require(partitionColumns.isEmpty,
      "graft-vtable sink: partitionBy is not supported — cluster the table " +
        "with OPTIMIZE ... ZORDER BY instead")
    require(outputMode == OutputMode.Append() || outputMode == OutputMode.Update(),
      s"graft-vtable sink: $outputMode is not supported — each micro-batch " +
        "must be a DELTA (append/update); Complete mode would re-commit the " +
        "whole result every trigger")
    new VtableSink(sqlContext.sparkSession, parameters)
  }
}

class VtableSink(spark: SparkSession, parameters: Map[String, String])
  extends Sink {

  private val dir = GraftCatalog.resolveDir(spark, parameters.getOrElse("dir",
    throw new IllegalArgumentException(
      "graft-vtable sink: option 'dir' (table name or directory) is required")))
  private val mode = parameters.getOrElse("mode", "append").toLowerCase
  require(Seq("append", "merge", "patch").contains(mode),
    s"graft-vtable sink: mode must be append|merge|patch, got '$mode'")
  private val keys: Seq[String] = parameters.get("keys")
    .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Seq.empty)
  require(mode == "append" || keys.nonEmpty,
    s"graft-vtable sink: mode=$mode requires option 'keys' " +
      "(comma-separated merge key columns)")
  /** Ledger identity. The default derives from the CHECKPOINT path: the
    * engine's batch ids are checkpoint-scoped, so the ledger key must be
    * too — a fixed default would let a SECOND query (fresh checkpoint,
    * batch ids restarting at 0) find the first query's high cursor and
    * silently swallow every one of its batches. Same checkpoint →
    * same derived id → restarts stay exactly-once; different checkpoint →
    * different id → independent ledgers.
    *
    * When the option is ABSENT the query may still be durably
    * checkpointed through the `spark.sql.streaming.checkpointLocation`
    * session conf — the engine then checkpoints under a per-query
    * SUBDIRECTORY this sink cannot see, so no stable id can be derived
    * and a random one would mint a FRESH ledger key per (re)start: a
    * crash-restart replays the last micro-batch under the new key and
    * append mode duplicates it. That shape therefore REFUSES at query
    * start and demands an explicit `appId`. Only a genuinely temp
    * checkpoint (neither option nor conf — a non-resumable dev run, no
    * cross-restart replay possible) falls back to a per-instance random
    * id: duplicate ledger entries beat silent data loss.
    */
  private val appId = parameters.get("appId").getOrElse {
    parameters.get("checkpointLocation") match {
      case Some(ckpt) =>
        "graft-vtable-sink-" + java.security.MessageDigest.getInstance("MD5")
          .digest(ckpt.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(12)
      case None =>
        require(spark.conf.getOption("spark.sql.streaming.checkpointLocation").isEmpty,
          "graft-vtable sink: this query checkpoints under " +
            "spark.sql.streaming.checkpointLocation (a per-query subdirectory " +
            "the sink cannot observe), so no exactly-once ledger identity can " +
            "be derived — pass .option(\"appId\", <stable id>) (reset it " +
            "together with the checkpoint) or pass checkpointLocation as a " +
            "writer option")
        "graft-vtable-sink-" + java.util.UUID.randomUUID().toString.take(12)
    }
  }
  private val deleteCond = parameters.get("deleteCond")
    .map(s => GraftShim.column(
      spark.sessionState.sqlParser.parseExpression(s)))
    .getOrElse(lit(false))
  require(VT.currentVersion(spark, dir).nonEmpty,
    s"graft-vtable sink: $dir is not a versioned table — create it from " +
      "the initial snapshot first (VersionedTable.create / CREATE TABLE)")

  /** Identity pin under the checkpoint (absent → pin at instance scope —
    * weaker, but `checkpointLocation` is always present in practice).
    */
  private val pinnedTableId: Option[String] =
    parameters.get("checkpointLocation") match {
      case None => VT.tableId(spark, dir)
      case Some(ckpt) =>
        val p = new org.apache.hadoop.fs.Path(ckpt, "graft-table-id")
        graft.ops.TableIdPin.pinOrRead(
          p.getFileSystem(spark.sparkContext.hadoopConfiguration), p,
          VT.tableId(spark, dir))
    }

  private def requireSameTable(): Unit =
    graft.ops.TableIdPin.requireSame(pinnedTableId, VT.tableId(spark, dir),
      "graft-vtable sink", dir,
      "its ledger is gone, so replayed batch ids would all apply fresh — " +
        "start a NEW stream with a new checkpoint against the new table")

  override def addBatch(batchId: Long, data: DataFrame): Unit = {
    requireSameTable()
    val batch = GraftShim.asBatch(data)
    VT.withCommitRetry() {
      mode match {
        case "append" =>
          val tableCols = org.apache.spark.sql.types.StructType
            .fromDDL(VT.readMeta(spark, dir,
              VT.currentVersion(spark, dir).get).schemaDdl).fieldNames.toSeq
          require(batch.columns.sorted.toSeq == tableCols.sorted,
            s"graft-vtable sink: batch columns ${batch.columns.sorted.mkString(", ")} " +
              s"do not match the table's ${tableCols.sorted.mkString(", ")}")
          VT.commitAppend(batch.select(tableCols.map(col): _*), dir,
            txn = Some(appId -> batchId))
        case "merge" =>
          VT.commitMerge(batch, dir, keys, Seq.empty, deleteCond,
            txn = Some(appId -> batchId))
        case "patch" =>
          VT.commitPatch(batch, dir, keys, Seq.empty, deleteCond,
            txn = Some(appId -> batchId))
      }
    }
    ()
  }

  override def toString: String = s"VtableSink[$dir, mode=$mode]"
}
