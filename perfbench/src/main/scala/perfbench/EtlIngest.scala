package perfbench

import java.io.{File, PrintWriter}
import java.time.LocalDate

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

import graft.etl.ArrestPipeline
import graft.sources.LoopbackPages

/** The reference's weekly job, one batch per op: SoQL offset-paged extract
  * from the loopback server, `ArrestPipeline.transform`, the warehouse
  * watermark, then the first-writer-wins `ArrestPipeline.load`. Each stage
  * is materialized before the next starts, as the reference's
  * extract/transform/load scripts hand files to each other.
  */
final class EtlIngest(spark: SparkSession, work: File, seed: Long, tracer: Tracer)
    extends Workload(spark, work, seed, tracer) {

  // the shares are assumed, not measured (README, "Assumed traffic shares")
  val p = Gen.EtlParams(batchRows = 10000, repeatShare = 0.05,
    inBatchDupShare = 0.02, dropShare = 0.03, lateShare = 0.02,
    upperHeaderEvery = 4)
  val pageRows = 2500
  def nominalCycleS: Double = 2.5

  def params: Map[String, Any] = Map(
    "batch_rows" -> p.batchRows, "page_rows" -> pageRows,
    "repeat_key_share" -> p.repeatShare, "in_batch_dup_share" -> p.inBatchDupShare,
    "dirty_drop_share" -> p.dropShare, "late_row_share" -> p.lateShare,
    "upper_header_every" -> p.upperHeaderEvery)

  private val source = dir("source")
  private val warehouse = new File(work, "warehouse").getPath
  private var endpoint: String = _
  private var loadedOrdinals = 0
  private var batch: Gen.EtlBatch = _
  private val model = new EtlModel
  private var expect: EtlModel.BatchCounts = _
  private var last: (Long, Long, Long, Long) = _ // served, kept, after watermark, inserted

  /** The warehouse starts as the initial load of batch 0's clean rows;
    * the warm-up ops load the next batches.
    */
  def createState(): Unit = {
    val history = Gen.etlBatch(seed, p, 0, 0)
    loadedOrdinals = history.newKeys
    val first = model.expect(history)
    val rows = history.expected.flatten.map(c => org.apache.spark.sql.Row(c.key,
      java.sql.Date.valueOf(c.date), c.pdCd, c.pdDesc, c.kyCd, c.ofnsDesc, c.lawCode,
      c.lawCat, c.boro, c.precinct, c.juris, c.age, c.sex, c.race, c.x, c.y, c.lat, c.lon))
    val inserted = ArrestPipeline.load(spark.createDataFrame(
      java.util.Arrays.asList(rows: _*), ArrestPipeline.ArrestSchema), warehouse)
    require("etl.rows_inserted", inserted == first.inserted,
      s"initial load inserted $inserted rows, model ${first.inserted}")
    model.commit(first)
    files = Workload.dataFiles(new File(warehouse))
    endpoint = s"${LoopbackPages.serve(spark, source.getPath)}/${LoopbackPages.SoqlPath}"
  }

  def warmUpOps: Int = 2
  private def batchNo(i: Int) = i + 1 + warmUpOps

  /** Write op `i`'s batch as the server's current page set. */
  override def prepare(i: Int): Unit = {
    val b = batchNo(i)
    batch = Gen.etlBatch(seed, p, b, loadedOrdinals)
    loadedOrdinals += batch.newKeys
    Option(source.listFiles()).foreach(_.foreach(_.delete()))
    val pages = batch.lines.grouped(pageRows).zipWithIndex.map { case (ls, n) =>
      val name = f"page-$n%05d.jsonl"
      val out = new PrintWriter(new File(source, name), "UTF-8")
      ls.foreach(out.println)
      out.close()
      s"""{"file":"$name","rows":${ls.length},"minKey":0,"maxKey":0}"""
    }.mkString(",")
    val mw = new PrintWriter(new File(source, "_manifest.json"), "UTF-8")
    mw.println(s"""{"keyCol":"arrest_key","schemaDdl":"${schema(batch.upperHeaders).toDDL}","pages":[$pages]}""")
    mw.close()
    LoopbackPages.invalidate(source.getPath)
    LoopbackPages.clearRequestLog(source.getPath)
    expect = model.expect(batch)
  }

  private def schema(upper: Boolean): StructType = StructType(Gen.Cols.map(c =>
    StructField(if (upper) c.toUpperCase else c, StringType)))

  def run(i: Int): OpResult = {
    val (raw, served) = tracer.span("sources.extract") {
      val df = spark.read.format("graft-paged")
        .option("mode", "offset")
        .option("pageSize", pageRows.toString)
        .schema(schema(batch.upperHeaders))
        .load(endpoint)
        .persist(StorageLevel.MEMORY_AND_DISK)
      (df, df.count())
    }
    val (cleaned, kept, current) = tracer.span("etl.transform") {
      val cleaned = ArrestPipeline.transform(raw).persist(StorageLevel.MEMORY_AND_DISK)
      val kept = cleaned.count()
      val current = ArrestPipeline.incrementalSource(cleaned, spark.read.parquet(warehouse))
        .persist(StorageLevel.MEMORY_AND_DISK)
      (cleaned, kept, current)
    }
    val afterWm = tracer.span("etl.watermark")(current.count())
    val inserted = tracer.span("warehouse.load")(ArrestPipeline.load(current, warehouse))
    Seq(current, cleaned, raw).foreach(_.unpersist())
    last = (served, kept, afterWm, inserted)
    OpResult("batch", "write", batch.lines.length.toLong)
  }

  private var files = Map.empty[String, Long]

  override def verify(i: Int, r: OpResult): Unit = {
    val (served, kept, afterWm, inserted) = last
    require("etl.rows_served", served == batch.lines.length,
      s"batch ${batchNo(i)}: extract returned $served of ${batch.lines.length} rows")
    require("etl.rows_kept", kept == expect.kept,
      s"batch ${batchNo(i)}: transform kept $kept rows, model ${expect.kept}")
    require("etl.rows_after_watermark", afterWm == expect.afterWatermark,
      s"batch ${batchNo(i)}: watermark kept $afterWm rows, model ${expect.afterWatermark}")
    require("etl.rows_inserted", inserted == expect.inserted,
      s"batch ${batchNo(i)}: load inserted $inserted rows, model ${expect.inserted}")
    model.commit(expect)
    val gets = LoopbackPages.requestLog(source.getPath)
      .filter(_._1.startsWith(LoopbackPages.SoqlPath))
    val pageGets = gets.count(g => !g._1.contains("count(1)"))
    val now = Workload.dataFiles(new File(warehouse))
    val added = now.keySet -- files.keySet
    files = now
    count("sources.pages_fetched", pageGets)
    count("sources.requests", gets.size)
    count("sources.rows_out", served)
    count("etl.rows_in", served)
    count("etl.rows_kept", afterWm)
    count("warehouse.rows_in", afterWm)
    count("warehouse.rows_inserted", inserted)
    count("warehouse.files_written", added.size)
    count("warehouse.bytes_written", added.toSeq.map(now).sum)
  }

  def finalCheck(): Unit = {
    val seen = new java.util.HashSet[String]()
    var rows = 0L
    var duplicates = 0L
    var mismatched = 0L
    val it = spark.read.parquet(warehouse).toLocalIterator()
    while (it.hasNext) {
      val row = it.next()
      val key = row.getString(0)
      if (!seen.add(key)) duplicates += 1
      val fields = (0 until row.length).map(j =>
        if (row.isNullAt(j)) null else row.get(j).toString)
      if (!model.rows.get(key).contains(Gen.hash64(Gen.Clean.render(fields)))) mismatched += 1
      rows += 1
    }
    require("etl.no_duplicate_keys", duplicates == 0, s"$duplicates arrest_keys stored twice")
    require("etl.key_set", rows == model.rows.size,
      s"warehouse holds $rows keys, model ${model.rows.size}")
    require("etl.first_writer_payloads", mismatched == 0,
      s"$mismatched of $rows warehouse rows differ from the model's first-writer payload")
  }

  def endState(): Map[String, Double] = {
    val (bytes, nFiles) = Workload.du(new File(warehouse))
    Map("stored_bytes" -> bytes.toDouble, "stored_files" -> nFiles.toDouble,
      "live_rows" -> model.rows.size.toDouble,
      "stored_bytes_per_row" -> bytes.toDouble / math.max(1, model.rows.size))
  }
}

/** What the warehouse must hold: per key, the hash of its first writer's
  * clean row, and the high-water mark the next batch is filtered by.
  */
final class EtlModel {
  val rows = mutable.HashMap.empty[String, Long]
  private var hwm: LocalDate = LocalDate.of(1900, 1, 1)

  def expect(b: Gen.EtlBatch): EtlModel.BatchCounts = {
    val kept = b.expected.flatten
    val current = kept.filter(c => !c.date.isBefore(hwm))
    val winners = current.groupBy(_.key).values.map(_.min(EtlModel.Tiebreak))
      .filterNot(c => rows.contains(c.key)).toSeq
    EtlModel.BatchCounts(kept.length, current.length, winners.length, winners)
  }

  def commit(c: EtlModel.BatchCounts): Unit = c.winners.foreach { w =>
    rows(w.key) = Gen.hash64(w.render)
    if (w.date.isAfter(hwm)) hwm = w.date
  }
}

object EtlModel {
  final case class BatchCounts(kept: Long, afterWatermark: Long, inserted: Long,
                               winners: Seq[Gen.Clean])

  /** `ArrestPipeline.load`'s tiebreak: every non-key column ascending,
    * nulls first (the engine compares strings as UTF-8 bytes; these are
    * ASCII, where that equals `String.compareTo`).
    */
  val Tiebreak: Ordering[Gen.Clean] = new Ordering[Gen.Clean] {
    private def s(a: String, b: String): Int =
      if (a == null) (if (b == null) 0 else -1) else if (b == null) 1 else a.compareTo(b)
    def compare(a: Gen.Clean, b: Gen.Clean): Int = {
      val cs = Iterator(
        () => a.date.compareTo(b.date), () => s(a.pdCd, b.pdCd),
        () => s(a.pdDesc, b.pdDesc), () => s(a.kyCd, b.kyCd),
        () => s(a.ofnsDesc, b.ofnsDesc), () => s(a.lawCode, b.lawCode),
        () => s(a.lawCat, b.lawCat), () => s(a.boro, b.boro),
        () => Integer.compare(a.precinct, b.precinct), () => s(a.juris, b.juris),
        () => s(a.age, b.age), () => s(a.sex, b.sex), () => s(a.race, b.race),
        () => s(a.x, b.x), () => s(a.y, b.y),
        () => java.lang.Double.compare(a.lat, b.lat),
        () => java.lang.Double.compare(a.lon, b.lon))
      cs.map(_()).find(_ != 0).getOrElse(0)
    }
  }
}
