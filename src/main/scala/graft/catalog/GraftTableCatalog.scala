package graft.catalog

import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession, SQLContext}
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder, SupportsPushDownRequiredColumns, V1Scan}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsOverwrite, SupportsTruncate, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.sources.{BaseRelation, Filter, InsertableRelation, TableScan}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.ops.{GraftCatalog, VersionedTable => VT}

/** Spark V2 `TableCatalog` over the graft versioned-table layer: register
  * it as `spark.sql.catalog.graft = graft.catalog.GraftTableCatalog` and
  * every table in [[GraftCatalog]] resolves through SPARK'S OWN analyzer
  * — `SELECT * FROM graft.t`, `INSERT INTO graft.t`, `CREATE TABLE
  * graft.t (…)`/CTAS, `DROP TABLE graft.t`, `ALTER TABLE graft.t ADD
  * COLUMNS/RENAME COLUMN/DROP COLUMN`, `DELETE FROM graft.t WHERE …`,
  * `TRUNCATE`, and `VERSION/TIMESTAMP AS OF` time travel — no
  * `graft_vtable('…')` TVF spelling, no front-parsed statement heads.
  * `MERGE INTO graft.t` and `UPDATE graft.t` resolve the same way and
  * [[graft.plans.VtableCatalogDml]] routes them to the versioned
  * commits. The front-parser ([[graft.sql.GraftDml]]) remains only for
  * verbs Spark's grammar cannot route through a catalog (OPTIMIZE,
  * VACUUM, RESTORE).
  *
  * The catalog is the same name→dir map the TVF surface uses
  * ([[GraftCatalog]] — one JSON file, cross-process locked), so the two
  * addressing modes see identical state; a table created here is
  * immediately `graft_vtable('name')`-addressable and vice versa. All
  * table STATE stays self-described in the table's own manifest log
  * (Iceberg's catalog/metadata split).
  *
  * Read path: [[GraftTable]] carries only (name, dir, pinned version).
  * With the graft extensions installed, the analyzer swaps the V2
  * relation for the native [[VT.read]] plan
  * ([[graft.plans.VtableCatalogReads]]) — the SAME parquet
  * `LogicalRelation` the TVF produces, manifest-pruned by
  * [[graft.plans.VtableSkipping]] and MV-rewritable by
  * [[graft.plans.VtableViewRewrite]], with zero new scan machinery. A
  * session WITHOUT the extensions still works through the [[V1Scan]]
  * fallback below (row-based, column-pruned — correct, slower; the
  * extensions are the performance path).
  *
  * Write path: [[V1Write]] (the Delta-style DSv2→library bridge) — the
  * analyzer does schema resolution/coercion, then the driver-side
  * `InsertableRelation` routes the WHOLE DataFrame into the library
  * commits ([[VT.commitAppend]] / [[VT.commitOverwrite]] /
  * [[VT.commitReplaceWhere]]), preserving every manifest invariant
  * (CHECK guards, stats, blooms, txn idempotence, commit retry/rebase)
  * with no second write implementation to keep consistent.
  */
class GraftTableCatalog extends TableCatalog with SupportsNamespaces {

  private var catalogName: String = "graft"

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit =
    catalogName = name

  override def name(): String = catalogName

  /** Catalog methods run on the driver inside analysis — the session is
    * the thread-current one (the same convention Delta's catalog uses).
    */
  private def spark: SparkSession = SparkSession.active

  private def nameOf(ident: Identifier): String = {
    require(ident.namespace().isEmpty,
      s"GraftTableCatalog: namespaces are not supported — tables are " +
        s"flat ($catalogName.<table>), got ${ident.namespace().mkString(".")}.${ident.name()}")
    ident.name()
  }

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    if (namespace.nonEmpty) throw new NoSuchNamespaceException(namespace)
    GraftCatalog.entries(spark).keys.toArray.sorted
      .map(n => Identifier.of(Array.empty, n))
  }

  override def tableExists(ident: Identifier): Boolean =
    ident.namespace().isEmpty &&
      GraftCatalog.lookup(spark, ident.name()).isDefined

  override def loadTable(ident: Identifier): Table = {
    val dir = GraftCatalog.lookup(spark, nameOf(ident))
      .getOrElse(throw new NoSuchTableException(ident))
    new GraftTable(s"$catalogName.${ident.name()}", dir, asOf = None)
  }

  /** `VERSION AS OF <n>` — versions are the manifest log's numbers. */
  override def loadTable(ident: Identifier, version: String): Table = {
    val dir = GraftCatalog.lookup(spark, nameOf(ident))
      .getOrElse(throw new NoSuchTableException(ident))
    val v = try version.trim.toLong catch {
      case _: NumberFormatException => throw new IllegalArgumentException(
        s"GraftTableCatalog: VERSION AS OF takes a numeric manifest " +
          s"version, got '$version'")
    }
    new GraftTable(s"$catalogName.${ident.name()}@v$v", dir, asOf = Some(v))
  }

  /** `TIMESTAMP AS OF <ts>` — Spark hands MICROSECONDS since epoch;
    * resolution is the commit-timestamp rule of
    * [[VT.versionAtTimestamp]].
    */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    val dir = GraftCatalog.lookup(spark, nameOf(ident))
      .getOrElse(throw new NoSuchTableException(ident))
    val v = VT.versionAtTimestamp(spark, dir, timestamp / 1000L)
    new GraftTable(s"$catalogName.${ident.name()}@v$v", dir, asOf = Some(v))
  }

  override def createTable(ident: Identifier, columns: Array[Column],
                           partitions: Array[Transform],
                           properties: util.Map[String, String]): Table = {
    val tname = nameOf(ident)
    if (tableExists(ident)) throw new TableAlreadyExistsException(ident)
    // CLUSTER BY (c1, …) is the layout contract: every write through this
    // catalog range-partitions + sorts on these columns, so per-file
    // manifest [min, max] intervals stay tight and stats pruning works
    // from the first commit (the CTAS CLUSTER BY idea, as a table-level
    // property). Hash/bucket/identity PARTITIONED BY transforms refuse —
    // versioned tables prune through stats, not directory layout.
    val clusterCols: Seq[String] = partitions.toSeq.flatMap {
      case cb: org.apache.spark.sql.connector.expressions.ClusterByTransform =>
        cb.columnNames.map(_.fieldNames().mkString("."))
      case other => throw new UnsupportedOperationException(
        s"GraftTableCatalog: unsupported partitioning transform $other — " +
          "use CLUSTER BY (col, …) for layout; versioned tables prune " +
          "through manifest stats, not directories")
    }
    clusterCols.foreach(c => require(columns.exists(_.name().equalsIgnoreCase(c)),
      s"GraftTableCatalog: CLUSTER BY column $c is not in the schema"))
    // CatalogV2Util.v2ColumnsToStructType is private[sql]; defaults/
    // generated columns are not supported here, so the manual fold is the
    // whole conversion
    columns.foreach(c => require(c.defaultValue() == null &&
      c.generationExpression() == null,
      s"GraftTableCatalog: column ${c.name()} carries a DEFAULT/generated " +
        "expression — not supported"))
    val schema = StructType(columns.map(c =>
      org.apache.spark.sql.types.StructField(c.name(), c.dataType(),
        c.nullable())))
    val props = properties.asScala
    val dir = props.get(TableCatalog.PROP_LOCATION)
      .getOrElse(GraftCatalog.defaultTableDir(spark, tname))
    val listed = props.get("stats").map(splitCols)
      .orElse(props.get(s"${TableCatalog.OPTION_PREFIX}stats").map(splitCols))
    // default stats columns: the clustering columns (that is where tight
    // intervals pay), else the first field whose type can carry ordered
    // min/max through the manifest's string round-trip (same contract as
    // VersionedTable.create)
    val statsCols = listed
      .orElse(Some(clusterCols).filter(_.nonEmpty))
      .getOrElse(schema.fields.find(f =>
        f.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType] ||
          Seq("STRING", "DATE", "TIMESTAMP", "TIMESTAMP_NTZ", "BOOLEAN")
            .contains(f.dataType.sql)).map(_.name).toSeq)
    val blooms = props.get("blooms").map(splitCols)
      .orElse(props.get(s"${TableCatalog.OPTION_PREFIX}blooms").map(splitCols))
      .getOrElse(Seq.empty)
    val empty = spark.createDataFrame(
      util.Collections.emptyList[org.apache.spark.sql.Row](), schema)
    // user TBLPROPERTIES flow into table props (so knobs like
    // graft.dvs.enabled work from SQL); engine-reserved and
    // Spark-internal keys are stripped
    val reserved = Set(TableCatalog.PROP_LOCATION, TableCatalog.PROP_PROVIDER,
      TableCatalog.PROP_OWNER, TableCatalog.PROP_EXTERNAL,
      TableCatalog.PROP_COMMENT, TableCatalog.PROP_TABLE_TYPE,
      TableCatalog.PROP_IS_MANAGED_LOCATION, TableCatalog.PROP_COLLATION,
      "stats", "blooms")
    val userProps = props.toMap.filterNot { case (k, _) =>
      reserved(k) || k.startsWith(TableCatalog.OPTION_PREFIX) ||
        k.startsWith("graft.tableId") || k.startsWith("graft.colmap") ||
        k == "graft.coldead"
    }
    VT.create(empty, dir, statsCols = statsCols, bloomCols = blooms,
      props = userProps ++
        (if (clusterCols.isEmpty) Map.empty
         else Map(GraftTable.ClusterByProp -> clusterCols.mkString(","))))
    GraftCatalog.register(spark, tname, dir)
    new GraftTable(s"$catalogName.$tname", dir, asOf = None)
  }

  private def splitCols(s: String): Seq[String] =
    s.split(",").map(_.trim).filter(_.nonEmpty).toSeq

  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val dir = GraftCatalog.lookup(spark, nameOf(ident))
      .getOrElse(throw new NoSuchTableException(ident))
    changes.foreach {
      case add: TableChange.AddColumn =>
        require(add.fieldNames().length == 1,
          "GraftTableCatalog: nested ADD COLUMNS is not supported")
        require(add.position() == null,
          "GraftTableCatalog: ADD COLUMNS FIRST/AFTER is not supported — " +
            "columns append at the end")
        VT.commitAddColumns(spark, dir,
          Seq(add.fieldNames()(0) -> add.dataType().sql))
      case ren: TableChange.RenameColumn =>
        require(ren.fieldNames().length == 1,
          "GraftTableCatalog: nested RENAME COLUMN is not supported")
        VT.commitRenameColumn(spark, dir, ren.fieldNames()(0), ren.newName())
      case del: TableChange.DeleteColumn =>
        require(del.fieldNames().length == 1,
          "GraftTableCatalog: nested DROP COLUMN is not supported")
        VT.commitDropColumn(spark, dir, del.fieldNames()(0))
      case other =>
        throw new UnsupportedOperationException(
          s"GraftTableCatalog: unsupported ALTER TABLE change $other — " +
            "supported: ADD COLUMNS, RENAME COLUMN, DROP COLUMN (use the " +
            "graft_vtable() SQL surface for constraints)")
    }
    loadTable(ident)
  }

  /** DROP removes the CATALOG ENTRY only (the table stays addressable by
    * path — the Iceberg catalog/metadata split, same as the TVF-spelled
    * `DROP TABLE graft_vtable('t')`); `PURGE` additionally deletes data.
    */
  override def dropTable(ident: Identifier): Boolean =
    ident.namespace().isEmpty &&
      (GraftCatalog.lookup(spark, ident.name()) match {
        case None => false
        case Some(_) => GraftCatalog.drop(spark, ident.name()); true
      })

  override def purgeTable(ident: Identifier): Boolean =
    ident.namespace().isEmpty &&
      (GraftCatalog.lookup(spark, ident.name()) match {
        case None => false
        case Some(dir) =>
          GraftCatalog.drop(spark, ident.name())
          val p = new org.apache.hadoop.fs.Path(dir)
          p.getFileSystem(spark.sparkContext.hadoopConfiguration)
            .delete(p, true)
          true
      })

  override def renameTable(from: Identifier, to: Identifier): Unit = {
    val dir = GraftCatalog.lookup(spark, nameOf(from))
      .getOrElse(throw new NoSuchTableException(from))
    if (tableExists(to)) throw new TableAlreadyExistsException(to)
    GraftCatalog.register(spark, nameOf(to), dir)
    GraftCatalog.drop(spark, nameOf(from))
  }

  // ---- SupportsNamespaces: exactly one implicit root namespace --------

  override def listNamespaces(): Array[Array[String]] = Array.empty

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] =
    if (namespace.isEmpty) Array.empty
    else throw new NoSuchNamespaceException(namespace)

  override def namespaceExists(namespace: Array[String]): Boolean =
    namespace.isEmpty

  override def loadNamespaceMetadata(namespace: Array[String]): util.Map[String, String] =
    if (namespace.isEmpty) util.Collections.emptyMap()
    else throw new NoSuchNamespaceException(namespace)

  override def createNamespace(namespace: Array[String],
                               metadata: util.Map[String, String]): Unit =
    throw new UnsupportedOperationException(
      "GraftTableCatalog: namespaces are not supported (flat table names)")

  override def alterNamespace(namespace: Array[String],
                              changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException(
      "GraftTableCatalog: namespaces are not supported (flat table names)")

  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean =
    throw new UnsupportedOperationException(
      "GraftTableCatalog: namespaces are not supported (flat table names)")
}

/** A versioned table as a V2 [[Table]]. Schema/properties come from the
  * (pinned or current) manifest at load; the read plan is swapped in by
  * [[graft.plans.VtableCatalogReads]] (native path) or served by the
  * [[V1Scan]] fallback; writes route through [[V1Write]] into the
  * library commits; SQL `DELETE WHERE` lands on [[SupportsDelete]] and
  * `TRUNCATE` on its default.
  */
class GraftTable(tableName: String, val dir: String, val asOf: Option[Long])
  extends Table with SupportsRead with SupportsWrite with SupportsDelete {

  private def spark: SparkSession = SparkSession.active

  private lazy val meta = {
    val v = asOf.orElse(VT.currentVersion(spark, dir)).getOrElse(
      throw new IllegalArgumentException(
        s"GraftTable: $dir is not a versioned table"))
    VT.readMeta(spark, dir, v)
  }

  override def name(): String = tableName

  override lazy val schema: StructType = StructType.fromDDL(meta.schemaDdl)

  override def properties(): util.Map[String, String] =
    (meta.props ++ Map(
      "graft.version" -> meta.version.toString,
      TableCatalog.PROP_LOCATION -> dir,
      TableCatalog.PROP_PROVIDER -> "graft")).asJava

  override def version(): String = meta.version.toString

  override def capabilities(): util.Set[TableCapability] =
    // AUTOMATIC_SCHEMA_EVOLUTION gates Spark's own
    // ResolveMergeIntoSchemaEvolution: `MERGE WITH SCHEMA EVOLUTION`
    // computes AddColumn changes from the merge actions, drives them
    // through alterTable (commitAddColumns' O(1) metadata commit) and
    // re-resolves the merge against the widened relation
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.V1_BATCH_WRITE, TableCapability.TRUNCATE,
      TableCapability.OVERWRITE_BY_FILTER,
      TableCapability.AUTOMATIC_SCHEMA_EVOLUTION)

  // ---- read: V1Scan fallback (extensions swap in the native plan) -----

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder with SupportsPushDownRequiredColumns {
      private var required: StructType = schema
      override def pruneColumns(requiredSchema: StructType): Unit =
        // keep table column order/casing; empty projection (COUNT(*))
        // keeps one narrowest column — TableScan must return typed rows
        required =
          if (requiredSchema.isEmpty) StructType(schema.fields.take(1))
          else StructType(schema.fields.filter(f =>
            requiredSchema.fieldNames.exists(_.equalsIgnoreCase(f.name))))
      override def build(): Scan = new V1Scan {
        override def readSchema(): StructType = required
        override def toV1TableScan[T <: BaseRelation with TableScan](
            context: SQLContext): T =
          new BaseRelation with TableScan {
            override def sqlContext: SQLContext = context
            override def schema: StructType = required
            override def buildScan(): org.apache.spark.rdd.RDD[org.apache.spark.sql.Row] =
              VT.read(context.sparkSession, dir, asOf)
                .select(required.fieldNames.map(org.apache.spark.sql.functions.col)
                  .toIndexedSeq: _*).rdd
          }.asInstanceOf[T]
      }
    }

  // ---- write: V1Write into the library commits ------------------------

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    require(asOf.isEmpty,
      s"GraftTable: cannot write to a time-traveled table ($tableName)")
    new WriteBuilder with SupportsTruncate with SupportsOverwrite {
      private var overwriteAll = false
      private var replaceWhere: Option[Array[Filter]] = None

      override def truncate(): WriteBuilder = { overwriteAll = true; this }

      override def canOverwrite(filters: Array[Filter]): Boolean =
        filters.forall(GraftTable.filterToColumn(_).isDefined)

      override def overwrite(filters: Array[Filter]): WriteBuilder = {
        replaceWhere = Some(filters); this
      }

      override def build(): Write = new V1Write {
        override def toInsertableRelation: InsertableRelation =
          new InsertableRelation {
            override def insert(data: DataFrame, overwrite: Boolean): Unit = {
              // analyzer already coerced by position to the table schema;
              // align names positionally so the commit's by-name check holds
              val meta = VT.readMeta(data.sparkSession, dir,
                VT.currentVersion(data.sparkSession, dir).get)
              val tableCols =
                StructType.fromDDL(meta.schemaDdl).fieldNames.toSeq
              val renamed = data.toDF(tableCols: _*)
              // CLUSTER BY layout contract: range-partition + sort every
              // write so per-file manifest intervals stay tight. The
              // partition count is EXPLICIT (session shuffle partitions):
              // with the default, AQE would coalesce a small batch to one
              // file and erase the range layout the clustering exists for
              val aligned = meta.props.get(GraftTable.ClusterByProp) match {
                case Some(cols) =>
                  val cs = cols.split(",").toSeq
                    .map(org.apache.spark.sql.functions.col)
                  val n = data.sparkSession.sessionState.conf.numShufflePartitions
                  renamed.repartitionByRange(n, cs: _*)
                    .sortWithinPartitions(cs: _*)
                case None => renamed
              }
              VT.withCommitRetry() {
                if (overwriteAll || overwrite) VT.commitOverwrite(aligned, dir)
                else replaceWhere match {
                  case Some(fs) =>
                    VT.commitReplaceWhere(aligned, dir,
                      GraftTable.filtersToCondition(fs))
                  case None => VT.commitAppend(aligned, dir)
                }
              }
              ()
            }
          }
      }
    }
  }

  // ---- SQL DELETE -----------------------------------------------------

  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    filters.forall(GraftTable.filterToColumn(_).isDefined)

  override def deleteWhere(filters: Array[Filter]): Unit = {
    graft.plans.GraftCatalogDeleteCommand.delete(spark, dir,
      GraftTable.filtersToCondition(filters))
    ()
  }

  override def toString: String = s"GraftTable($tableName, $dir)"
}

object GraftTable {
  import org.apache.spark.sql.{Column => SqlColumn}
  import org.apache.spark.sql.functions._

  /** Table prop recording the CLUSTER BY columns declared at create:
    * every catalog write range-partitions + sorts on them.
    */
  val ClusterByProp = "graft.clusterBy"

  /** V1 [[Filter]] → [[SqlColumn]]; None = not convertible (callers must
    * have declined via the matching `can*` so Spark keeps the residual).
    */
  def filterToColumn(f: Filter): Option[SqlColumn] = {
    import org.apache.spark.sql.sources._
    f match {
      case EqualTo(a, v) => Some(col(a) === lit(v))
      case EqualNullSafe(a, v) => Some(col(a) <=> lit(v))
      case GreaterThan(a, v) => Some(col(a) > lit(v))
      case GreaterThanOrEqual(a, v) => Some(col(a) >= lit(v))
      case LessThan(a, v) => Some(col(a) < lit(v))
      case LessThanOrEqual(a, v) => Some(col(a) <= lit(v))
      case In(a, vs) => Some(col(a).isin(vs.toIndexedSeq.map(lit): _*))
      case IsNull(a) => Some(col(a).isNull)
      case IsNotNull(a) => Some(col(a).isNotNull)
      case StringStartsWith(a, v) => Some(col(a).startsWith(v))
      case StringEndsWith(a, v) => Some(col(a).endsWith(v))
      case StringContains(a, v) => Some(col(a).contains(v))
      case And(l, r) =>
        for (lc <- filterToColumn(l); rc <- filterToColumn(r)) yield lc && rc
      case Or(l, r) =>
        for (lc <- filterToColumn(l); rc <- filterToColumn(r)) yield lc || rc
      case Not(c) => filterToColumn(c).map(!_)
      case _: AlwaysTrue => Some(lit(true))
      case _: AlwaysFalse => Some(lit(false))
      case _ => None
    }
  }

  def filtersToCondition(filters: Array[Filter]): SqlColumn =
    filters.toSeq.flatMap(filterToColumn)
      .reduceOption(_ && _).getOrElse(lit(true))
}
