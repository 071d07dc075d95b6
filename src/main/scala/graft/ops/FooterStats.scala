package graft.ops

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.column.statistics.Statistics
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.InputFile
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.LogicalTypeAnnotation
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Cast, LessThan, Literal}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.ops.VersionedTable.ColStat

/** Manifest stats lifted from the parquet FOOTERS a commit just wrote —
  * the zero-extra-jobs path behind [[VersionedTable]]'s commits. The
  * footers already hold exact per-column (min, max, nullCount) and exact
  * row counts; re-scanning the output to recompute them doubles every
  * commit's IO at 100 TB. Values convert to Catalyst INTERNAL form and
  * render through the same `Cast(x, STRING)` (session timezone included)
  * as the scan-side aggregation, so manifests are encoding-identical
  * whichever path produced them (spec-pinned).
  *
  * Strictly conservative: `lift` returns None — sending the whole commit
  * down the scan path — whenever ANY (file, column) lacks trustworthy
  * footer stats: float/double columns (parquet excludes NaN from stats
  * while Spark orders NaN largest), INT96 timestamps (no usable order),
  * NANOS units (truncation would break the max bound), legacy-ambiguous
  * binary orderings (parquet-mr itself reports those stats as absent),
  * or simply dropped statistics. An all-null chunk set IS usable (it is
  * the all-null ColStat). Commits beyond `maxFooterFiles` also fall back
  * — a serial driver footer loop stops amortizing where a scan starts
  * to.
  *
  * The same footer reads serve [[Warehouse]]: a bare parquet warehouse's
  * watermark ([[columnMax]], same refusal rules), its Spark row schema
  * ([[sparkSchema]], read in place of a schema-inference job) and the row
  * count of the files a load or staged swap just wrote ([[rowCounts]]).
  */
object FooterStats {

  private val maxFooterFiles = 512

  /** Open `file` for a driver-side read with options built from `conf`,
    * the caller's loaded configuration. The one-argument
    * `ParquetFileReader.open` builds its options over a fresh Hadoop
    * `Configuration`, which re-scans the classpath for its default
    * resources on every call.
    */
  private[ops] def open(file: InputFile, conf: Configuration): ParquetFileReader =
    ParquetFileReader.open(file, HadoopReadOptions.builder(conf).build())

  /** Row count of one parquet file from its FOOTER — a driver-side
    * metadata read (no Spark job), used by the DV auto-materialize
    * policy to size sidecars without scanning them.
    */
  def rowCount(path: Path, conf: Configuration): Long =
    rowCountOf(HadoopInputFile.fromPath(path, conf), conf)

  private def rowCountOf(file: InputFile, conf: Configuration): Long = {
    val reader = open(file, conf)
    val footer = try reader.getFooter finally reader.close()
    import scala.jdk.CollectionConverters._
    footer.getBlocks.asScala.map(_.getRowCount).sum
  }

  /** The Spark row schema Spark's parquet writer stores in a file's
    * footer metadata; None when the key is absent or does not parse
    * (a file another writer produced).
    */
  def sparkSchema(file: FileStatus, conf: Configuration): Option[StructType] = {
    val reader = open(HadoopInputFile.fromStatus(file, conf), conf)
    val meta = try reader.getFooter.getFileMetaData.getKeyValueMetaData
               finally reader.close()
    Option(meta.get("org.apache.spark.sql.parquet.row.metadata")).flatMap(json =>
      scala.util.Try(DataType.fromJson(json)).toOption.collect { case st: StructType => st })
  }

  /** One file's footer: its row count and, per stats column, the exact
    * (min, max, nullCount) in Catalyst internal form — min/max None when
    * every value is null.
    */
  private final case class Footer(path: Path, rows: Long,
                          stats: Map[String, (Option[Any], Option[Any], Long)])

  /** Manifest stats of the given parquet files (a commit's part files,
    * as its write listed them), rendered as [[ColStat]]s; 0-row files are
    * left out.
    */
  def lift(spark: SparkSession, parts: Seq[FileStatus], statsCols: Seq[String],
           schema: StructType): Option[Seq[(String, Long, Map[String, ColStat])]] = {
    val tz = spark.sessionState.conf.sessionLocalTimeZone
    // 0-row part files carry no data and no information — the scan path
    // never produced entries for them either
    liftFiles(spark, parts, statsCols, schema).map(_.filter(_.rows > 0).map { f =>
      (f.path.getName, f.rows, f.stats.map { case (c, (mn, mx, nulls)) =>
        val dt = schema(c).dataType
        c -> ColStat(dt.sql, mn.map(render(_, dt, tz)), mx.map(render(_, dt, tz)), nulls)
      })
    })
  }

  /** [[Footer]]s of the given parquet files, in order; None when any
    * (file, column) lacks trustworthy stats or there are more than
    * `maxFooterFiles` files.
    */
  private def liftFiles(spark: SparkSession, files: Seq[FileStatus], statsCols: Seq[String],
                schema: StructType): Option[Seq[Footer]] = {
    val unsupported = statsCols.exists(c => schema(c).dataType match {
      case FloatType | DoubleType => true
      case _ => false
    })
    if (unsupported || files.length > maxFooterFiles) return None
    val conf = spark.sessionState.newHadoopConf()
    val lifted = parMap(files)(liftOne(_, conf, statsCols, schema))
    if (lifted.exists(_.isEmpty)) None else Some(lifted.flatten)
  }

  /** MAX of `column` over the given parquet files, from their footers, in
    * Catalyst internal form: Some(None) when the files hold no non-null
    * value, None when [[liftFiles]] refuses.
    */
  def columnMax(spark: SparkSession, files: Seq[FileStatus], column: String,
                schema: StructType): Option[Option[Any]] = {
    val dt = schema(column).dataType
    liftFiles(spark, files, Seq(column), schema).map(_.flatMap(_.stats(column)._2)
      .reduceOption((a, b) => if (less(a, b, dt)) b else a))
  }

  /** Row count of each given parquet file, from its footer. */
  def rowCounts(spark: SparkSession, files: Seq[FileStatus]): Seq[Long] = {
    val conf = spark.sessionState.newHadoopConf()
    parMap(files)(st => rowCountOf(HadoopInputFile.fromStatus(st, conf), conf))
  }

  // footer opens are independent ~ms-scale IO waits: a serial loop puts
  // file-count × latency on the caller's critical path, so read them in
  // parallel on a bounded pool (a handful of files stays inline — the
  // pool would cost more than it saves)
  private def parMap[B](files: Seq[FileStatus])(f: FileStatus => B): Seq[B] =
    if (files.length <= 4) files.map(f)
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(16, files.length))
      try {
        files.map { st =>
          pool.submit(new java.util.concurrent.Callable[B] {
            override def call(): B = f(st)
          })
        }.map(_.get())
      } finally pool.shutdown()
    }

  private def liftOne(st: FileStatus, conf: Configuration,
                      statsCols: Seq[String], schema: StructType): Option[Footer] = {
    import scala.jdk.CollectionConverters._
    val reader = open(HadoopInputFile.fromStatus(st, conf), conf)
    val footer = try reader.getFooter finally reader.close()
    val blocks = footer.getBlocks.asScala.toSeq
    val rows = blocks.map(_.getRowCount).sum
    val perCol = statsCols.map { c =>
      val dt = schema(c).dataType
      val chunks = blocks.map(_.getColumns.asScala
        .find(_.getPath.toDotString == c))
      if (chunks.exists(_.isEmpty)) return None // nested/missing column
      val stats = chunks.flatten.map(_.getStatistics)
      if (stats.exists(s => s == null || s.isEmpty || !s.isNumNullsSet))
        return None // dropped or untrustworthy footer stats
      val nulls = stats.map(_.getNumNulls).sum
      val nonNull = stats.filter(_.hasNonNullValue)
      if (nonNull.isEmpty) {
        // `hasNonNullValue == false` does NOT imply all-null: INT96 (and
        // other no-order encodings) record null counts but never values.
        // Only the arithmetic proof nulls == rows licenses the all-null
        // stat — anything else falls back to the scan path, because a
        // fabricated (None, None) stat would let pruning DROP a live file
        if (nulls == rows) c -> (None, None, nulls)
        else return None
      } else {
        val pt = chunks.flatten.head.getPrimitiveType
        val mins = nonNull.map(s => internalOf(minOf(s), dt, pt))
        val maxs = nonNull.map(s => internalOf(maxOf(s), dt, pt))
        if (mins.exists(_.isEmpty) || maxs.exists(_.isEmpty)) return None
        val mn = mins.flatten.reduce((a, b) => if (less(a, b, dt)) a else b)
        val mx = maxs.flatten.reduce((a, b) => if (less(a, b, dt)) b else a)
        c -> (Some(mn), Some(mx), nulls)
      }
    }.toMap
    Some(Footer(st.getPath, rows, perCol))
  }

  private def minOf(s: Statistics[_]): Any = s.genericGetMin
  private def maxOf(s: Statistics[_]): Any = s.genericGetMax

  /** Footer value → Catalyst internal value for `dt`, consulting the
    * column's parquet `PrimitiveType` where the physical encoding is
    * ambiguous; None = untrusted (commit falls back to the scan path).
    */
  private def internalOf(v: Any, dt: DataType,
                         pt: org.apache.parquet.schema.PrimitiveType): Option[Any] =
    (dt, v) match {
      case (LongType, l: java.lang.Long) => Some(l)
      case (IntegerType, i: java.lang.Integer) => Some(i)
      case (ShortType, i: java.lang.Integer) => Some(i.shortValue())
      case (ByteType, i: java.lang.Integer) => Some(i.byteValue())
      case (BooleanType, b: java.lang.Boolean) => Some(b)
      case (StringType, b: Binary) => Some(UTF8String.fromBytes(b.getBytes))
      case (DateType, i: java.lang.Integer) => Some(i) // days since epoch
      case (TimestampType | TimestampNTZType, l: java.lang.Long) =>
        // trust only explicit MICROS/MILLIS annotations with the matching
        // UTC adjustment; INT96 arrives as Binary (no usable order) and
        // NANOS would floor-truncate the max bound — both refuse
        pt.getLogicalTypeAnnotation match {
          case ts: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation
              if ts.isAdjustedToUTC == (dt == TimestampType) =>
            ts.getUnit match {
              case LogicalTypeAnnotation.TimeUnit.MICROS => Some(l)
              case LogicalTypeAnnotation.TimeUnit.MILLIS =>
                Some(l * 1000L)
              case _ => None
            }
          case _ => None
        }
      case (d: DecimalType, i: java.lang.Integer) =>
        Some(Decimal(BigDecimal(BigInt(i.longValue()), d.scale), d.precision, d.scale))
      case (d: DecimalType, l: java.lang.Long) =>
        Some(Decimal(BigDecimal(BigInt(l.longValue()), d.scale), d.precision, d.scale))
      case (d: DecimalType, b: Binary) =>
        Some(Decimal(BigDecimal(BigInt(b.getBytes), d.scale), d.precision, d.scale))
      case _ => None
    }

  private def less(a: Any, b: Any, dt: DataType): Boolean =
    LessThan(Literal(a, dt), Literal(b, dt)).eval(null).asInstanceOf[Boolean]

  private def render(v: Any, dt: DataType, tz: String): String =
    Cast(Literal(v, dt), StringType, Some(tz)).eval(null).toString
}
