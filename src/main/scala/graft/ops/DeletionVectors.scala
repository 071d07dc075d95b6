package graft.ops

import scala.collection.mutable

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.example.data.simple.convert.GroupRecordConverter
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.{HadoopInputFile, HadoopOutputFile}
import org.apache.parquet.io.ColumnIOFactory
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.{Column, GraftShim, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types.{BooleanType, DataType}
import org.apache.spark.unsafe.types.UTF8String

/** Deleted row positions of a versioned table, held on the driver: per DV
  * file key, the sorted row indexes its sidecars record. A read applies
  * them as one filter on the base scan, [[live]]
  * (`graft_dv_live(_metadata.file_path, _metadata.row_index)`), and the
  * DV commits, the materialize fold and the change feed's liveness diff
  * use the same sets, so no Spark job ever reads a sidecar.
  *
  * Memory: O(recorded positions) longs plus one key per DV'd file, on the
  * driver and in each task of a scan that filters by it. That is the data
  * the broadcast build side of the former anti-join collected on the
  * driver, so the bound is the one DVs always had, and the
  * auto-materialize policy and OPTIMIZE keep it small.
  *
  * Identity: a set read from sidecars is named by their absolute paths,
  * and a difference `a -- b` by both sides' paths. Sidecars are immutable,
  * so equal names mean equal positions, and two [[DvLive]] filters are
  * equal exactly when their sets' names are.
  */
final class DvSet private (val dirPath: String, val sidecars: Set[String],
                           val minus: Set[String], private val byFile: Map[String, Array[Long]])
    extends Serializable {

  def isEmpty: Boolean = byFile.isEmpty

  /** The DV file keys holding at least one position. */
  def files: Set[String] = byFile.keySet

  def positions: Long = byFile.valuesIterator.map(_.length.toLong).sum

  /** The positions of this set that `o` does not hold. */
  def --(o: DvSet): DvSet = {
    require(minus.isEmpty && o.minus.isEmpty, "DvSet.--: operands must be read sets")
    val left = byFile.iterator.map { case (k, ps) =>
      k -> o.byFile.get(k).fold(ps)(drop => ps.filter(java.util.Arrays.binarySearch(drop, _) < 0))
    }.filter(_._2.nonEmpty).toMap
    new DvSet(dirPath, sidecars, o.sidecars, left)
  }

  /** A scan-row filter, true where the row's position is NOT in the set;
    * `!live` selects the positions in it. Resolves only against a raw
    * file scan (it reads the scan's `_metadata`).
    */
  def live: Column =
    if (isEmpty) lit(true)
    else GraftShim.column(DvLive(GraftShim.expression(col("_metadata.file_path")),
      GraftShim.expression(col("_metadata.row_index")), this))

  /** The file a scan task is on changes once per file, so its position
    * array is looked up once per file; a racing overwrite only repeats
    * the lookup.
    */
  @transient @volatile private var last: DvSet.Hit = _

  def isLive(path: UTF8String, pos: Long): Boolean = {
    var h = last
    if (h == null || !h.path.equals(path)) {
      h = new DvSet.Hit(path.clone(),
        byFile.getOrElse(DvSet.fileKey(dirPath, path.toString), DvSet.NoPositions))
      last = h
    }
    java.util.Arrays.binarySearch(h.positions, pos) < 0
  }

  override def equals(o: Any): Boolean = o match {
    case d: DvSet => d.sidecars == sidecars && d.minus == minus
    case _ => false
  }
  override def hashCode: Int = (sidecars, minus).hashCode

  /** Counts only: EXPLAIN must not print positions. */
  override def toString: String = s"${byFile.size} files, $positions positions"
}

object DvSet {

  private final class Hit(val path: UTF8String, val positions: Array[Long])
  private val NoPositions = Array.emptyLongArray

  val empty: DvSet = new DvSet("", Set.empty, Set.empty, Map.empty)

  private val FileCol = "__vt_file"
  private val PosCol = "__vt_pos"
  private val Schema = MessageTypeParser.parseMessageType(
    s"message spark_schema { required binary $FileCol (STRING); required int64 $PosCol; }")

  /** Each scan row's raw file path and row index, as `__vt_file` and
    * `__vt_pos` — what [[write]] records.
    */
  val positionCols: Seq[Column] = Seq(
    col("_metadata.file_path").as(FileCol), col("_metadata.row_index").as(PosCol))

  /** The `(raw file path, row index)` of every row of `scan`, a
    * [[positionCols]] scan: one job.
    */
  def collectPositions(scan: org.apache.spark.sql.DataFrame): Seq[(String, Long)] =
    scan.select(FileCol, PosCol).collect().map(r => (r.getString(0), r.getLong(1))).toSeq

  /** The table dir as a scheme-stripped absolute path. */
  private def dirPathOf(dir: String): String = (
    if (dir.contains(":/")) new Path(dir).toUri.getPath
    else new java.io.File(dir).getAbsolutePath).stripSuffix("/")

  private def absolute(dir: String, ref: String): String =
    new Path(VersionedTable.dataPath(dir, ref)).toUri.getPath

  /** The DV key of a scanned file, equal to its manifest path: a
    * table-owned file keys by its path under the table dir
    * (`data/<commit>/<part>`), a shallow-clone shared file by the
    * absolute path the clone's manifest stores. The two shapes cannot
    * collide (`data/…` vs `/…`). The scan reports a URI, whose scheme
    * and authority drop here; scheme-qualified manifest refs (remote
    * clones) are refused at the commit sites, since their stored form
    * could not match. The sidecar writer and the probe both key through
    * here.
    */
  def fileKey(dirPath: String, fileUri: String): String = {
    val p = new java.net.URI(fileUri).getPath
    if (p.startsWith(dirPath + "/data/")) p.substring(dirPath.length + 1) else p
  }

  private def sortedDistinct(ps: Array[Long]): Array[Long] = {
    java.util.Arrays.sort(ps)
    ps.distinct
  }

  /** The positions the sidecars `refs` (table-relative) record, read on
    * the driver with parquet's own reader.
    */
  def read(spark: SparkSession, dir: String, refs: Seq[String]): DvSet =
    if (refs.isEmpty) empty
    else {
      val conf = spark.sessionState.newHadoopConf()
      val acc = mutable.HashMap.empty[String, mutable.ArrayBuilder.ofLong]
      refs.foreach(ref => readSidecar(new Path(VersionedTable.dataPath(dir, ref)), conf) {
        (key, pos) => acc.getOrElseUpdate(key, new mutable.ArrayBuilder.ofLong) += pos
      })
      new DvSet(dirPathOf(dir), refs.map(absolute(dir, _)).toSet, Set.empty,
        acc.iterator.map { case (k, b) => k -> sortedDistinct(b.result()) }.toMap)
    }

  private def readSidecar(path: Path, conf: Configuration)(f: (String, Long) => Unit): Unit = {
    val reader = FooterStats.open(HadoopInputFile.fromPath(path, conf), conf)
    try {
      val schema = reader.getFooter.getFileMetaData.getSchema
      val (fi, pi) = (schema.getFieldIndex(FileCol), schema.getFieldIndex(PosCol))
      val io = new ColumnIOFactory().getColumnIO(schema)
      var group = reader.readNextRowGroup()
      while (group != null) {
        val records = io.getRecordReader(group, new GroupRecordConverter(schema))
        var i = 0L
        while (i < group.getRowCount) {
          val g = records.read()
          f(g.getString(fi, 0), g.getLong(pi, 0))
          i += 1
        }
        group = reader.readNextRowGroup()
      }
    } finally reader.close()
  }

  /** Record `hits` (raw scan file path, row index) as one sidecar file
    * under `dir/rel`, written on the driver. Returns its table-relative
    * ref and the set it holds.
    */
  def write(spark: SparkSession, dir: String, rel: String,
            hits: Seq[(String, Long)]): (String, DvSet) = {
    val dirPath = dirPathOf(dir)
    val byFile = hits.groupMap(_._1)(_._2).toSeq
      .groupMapReduce(h => fileKey(dirPath, h._1))(_._2)(_ ++ _)
      .map { case (k, ps) => k -> sortedDistinct(ps.toArray) }
    val ref = s"$rel/part-00000-${java.util.UUID.randomUUID()}-c000.snappy.parquet"
    val conf = spark.sessionState.newHadoopConf()
    val writer = ExampleParquetWriter.builder(
        HadoopOutputFile.fromPath(new Path(dir, ref), conf))
      .withConf(conf).withType(Schema)
      .withCompressionCodec(CompressionCodecName.SNAPPY).build()
    val groups = new SimpleGroupFactory(Schema)
    try byFile.toSeq.sortBy(_._1).foreach { case (k, ps) =>
      ps.foreach(p => writer.write(groups.newGroup().append(FileCol, k).append(PosCol, p)))
    } finally writer.close()
    (ref, new DvSet(dirPath, Set(absolute(dir, ref)), Set.empty, byFile))
  }
}

/** `graft_dv_live(file_path, row_index)`: true where the row's position
  * is not in `dv`. A native filter on the base scan in place of an
  * anti-join against the sidecar rows; equal when the sets' names are.
  */
case class DvLive(filePath: Expression, rowIndex: Expression, dv: DvSet)
    extends BinaryExpression {
  override def left: Expression = filePath
  override def right: Expression = rowIndex
  override def dataType: DataType = BooleanType
  override def prettyName: String = "graft_dv_live"
  override protected def nullSafeEval(p: Any, i: Any): Any =
    dv.isLive(p.asInstanceOf[UTF8String], i.asInstanceOf[Long])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("dv", dv, classOf[DvSet].getName)
    nullSafeCodeGen(ctx, ev, (p, i) => s"${ev.value} = $ref.isLive($p, $i);")
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(filePath = l, rowIndex = r)
}
