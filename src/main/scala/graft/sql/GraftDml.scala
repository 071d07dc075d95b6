package graft.sql

import org.apache.spark.sql.{Column, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.AttributeReference
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import org.apache.spark.sql.GraftShim

import graft.ops.{GraftCatalog, VersionedTable}

/** SQL DML over versioned tables — `MERGE INTO` / `UPDATE` / `DELETE`
  * statements targeting `graft_vtable('<name-or-dir>')`, parsed here and
  * routed through the library commits: MERGE through
  * [[VersionedTable.commitMerge]]; UPDATE and DELETE build the catalog
  * route's commands ([[graft.plans.GraftCatalogUpdateCommand]] /
  * [[graft.plans.GraftCatalogDeleteCommand]]), which choose deletion
  * vectors or copy-on-write per table.
  * The reference's upsert is SQL (reference/scripts/load.py:114-147:
  * `INSERT ... ON CONFLICT DO NOTHING` over a staging table); the
  * engine's answer is reachable from SQL too.
  *
  * Supported grammar (anything else on a graft_vtable target fails LOUDLY
  * with the supported shape; statements not addressing graft_vtable fall
  * through to Spark's parser untouched):
  *
  * {{{
  *   MERGE INTO graft_vtable('<ref>') [AS] [t]
  *   USING (<subquery>) | <table> [AS] [s]
  *   ON t.k1 = s.k1 [AND t.k2 = s.k2 ...]
  *   [WHEN MATCHED AND <cond-over-source> THEN DELETE]
  *   WHEN MATCHED THEN UPDATE SET *
  *   WHEN NOT MATCHED THEN INSERT *
  *
  *   UPDATE graft_vtable('<ref>') SET c1 = <expr> [, c2 = <expr> ...]
  *     [WHERE <cond>]
  *
  *   DELETE FROM graft_vtable('<ref>') [WHERE <cond>]
  * }}}
  *
  * `SET *` / `INSERT *` (whole-row upsert) is deliberate: the versioned
  * merge is a CDC apply — per-column merge expressions belong upstream in
  * the changelog query. UPDATE/DELETE conditions prune files through the
  * manifest (mined conjuncts; see [[VersionedTable.commitUpdate]]), so a
  * narrow SQL DELETE on a huge table rewrites only the files that could
  * hold a matching row. Each command returns one row: the new table
  * version.
  */
object GraftDml {

  private val mergeHead =
    """(?is)^\s*MERGE\s+INTO\s+graft_vtable\s*\(\s*'([^']+)'\s*\)\s*(?:AS\s+)?(\w+)?\s+USING\s+(.*)$""".r
  private val updateHead =
    """(?is)^\s*UPDATE\s+graft_vtable\s*\(\s*'([^']+)'\s*\)\s+SET\s+(.*)$""".r
  private val deleteHead =
    """(?is)^\s*DELETE\s+FROM\s+graft_vtable\s*\(\s*'([^']+)'\s*\)\s*(.*)$""".r
  private val createHead =
    """(?is)^\s*CREATE\s+TABLE\s+(IF\s+NOT\s+EXISTS\s+)?graft_vtable\s*\(\s*'([^']+)'\s*\)\s*(.*)$""".r
  private val dropHead =
    """(?is)^\s*DROP\s+TABLE\s+(IF\s+EXISTS\s+)?graft_vtable\s*\(\s*'([^']+)'\s*\)\s*(.*?)\s*;?\s*$""".r
  private val optimizeHead =
    """(?is)^\s*OPTIMIZE\s+graft_vtable\s*\(\s*'([^']+)'\s*\)\s*(.*?)\s*;?\s*$""".r
  private val vacuumHead =
    """(?is)^\s*VACUUM\s+graft_vtable\s*\(\s*'([^']+)'\s*\)\s*(.*?)\s*;?\s*$""".r
  private val restoreHead =
    """(?is)^\s*RESTORE\s+TABLE\s+graft_vtable\s*\(\s*'([^']+)'\s*\)\s*(.*?)\s*;?\s*$""".r
  private val alterHead =
    """(?is)^\s*ALTER\s+TABLE\s+graft_vtable\s*\(\s*'([^']+)'\s*\)\s*(.*?)\s*;?\s*$""".r
  private val insertHead =
    """(?is)^\s*INSERT\s+(INTO|OVERWRITE)\s+graft_vtable\s*\(\s*'([^']+)'\s*\)\s+(.+?)\s*;?\s*$""".r

  /** Our statements return Some(command plan); everything else None. */
  def parse(sqlText: String): Option[LogicalPlan] = sqlText match {
    case mergeHead(target, alias, rest) =>
      Some(parseMerge(target, Option(alias).getOrElse("t"), rest))
    case updateHead(target, rest) => Some(parseUpdate(target, rest))
    case deleteHead(target, rest) => Some(parseDelete(target, rest))
    case createHead(ifNot, name, rest) =>
      Some(parseCreate(name, ifNot != null, rest))
    case dropHead(ifEx, name, rest) => Some(parseDrop(name, ifEx != null, rest))
    case optimizeHead(target, rest) => Some(parseOptimize(target, rest))
    case vacuumHead(target, rest) => Some(parseVacuum(target, rest))
    case restoreHead(target, rest) => Some(parseRestore(target, rest))
    case alterHead(target, rest) => Some(parseAlter(target, rest))
    case insertHead(kind, target, query) =>
      Some(parseInsert(target, kind.equalsIgnoreCase("OVERWRITE"), query))
    case _ => None
  }

  private val replaceWhereHead = """(?is)^REPLACE\s+WHERE\s*(\(.*)$""".r

  /** `INSERT INTO|OVERWRITE ... <query>`, plus the predicate-scoped form
    * `INSERT INTO graft_vtable('ref') REPLACE WHERE (<cond>) <query>`
    * (the Delta `replaceWhere` idea). The condition is parenthesized and
    * extracted paren-balanced/quote-aware, so any Spark expression —
    * including nested function calls and string literals — works without
    * ambiguity against the query that follows.
    */
  private def parseInsert(target: String, overwrite: Boolean,
                          rest: String): LogicalPlan = rest match {
    case replaceWhereHead(span) =>
      if (overwrite)
        fail("INSERT OVERWRITE does not take REPLACE WHERE — the " +
          "predicate-scoped form is INSERT INTO graft_vtable('ref') " +
          "REPLACE WHERE (<cond>) <query>")
      val end = balancedEnd(span, 0)
      val cond = span.substring(1, end - 1).trim
      val query = span.substring(end).trim
      if (cond.isEmpty) fail("REPLACE WHERE: empty condition")
      if (query.isEmpty) fail("REPLACE WHERE: missing <query> after the condition")
      GraftInsertCommand(target, query, overwrite = false,
        replaceWhere = Some(cond))
    case _ => GraftInsertCommand(target, rest, overwrite = overwrite)
  }

  private def fail(what: String): Nothing =
    throw new IllegalArgumentException(
      s"GraftDml: $what — supported shapes: MERGE INTO graft_vtable('ref') " +
        "[AS t] USING (<subquery>)|<table> [AS s] ON t.k = s.k [AND ...] " +
        "[WHEN MATCHED AND <cond> THEN DELETE] WHEN MATCHED THEN UPDATE SET * " +
        "WHEN NOT MATCHED THEN INSERT *; UPDATE graft_vtable('ref') SET c = " +
        "expr[, ...] [WHERE cond]; DELETE FROM graft_vtable('ref') [WHERE cond]; " +
        "CREATE TABLE [IF NOT EXISTS] graft_vtable('name') [LOCATION 'dir'] " +
        "[STATS (col[, ...])] AS <query> | SHALLOW CLONE graft_vtable('src'[, v]); " +
        "DROP TABLE [IF EXISTS] " +
        "graft_vtable('name') [PURGE]; OPTIMIZE graft_vtable('ref') " +
        "[ZORDER BY (c1, c2[, ...])]; VACUUM graft_vtable('ref') RETAIN " +
        "<n> VERSIONS | RETAIN <n> HOURS [FORCE]; " +
        "RESTORE TABLE graft_vtable('ref') TO VERSION AS OF " +
        "<n> | TO TIMESTAMP AS OF '<ts>'; " +
        "ALTER TABLE graft_vtable('ref') ADD COLUMNS (c type[, ...]) | " +
        "RENAME COLUMN a TO b | DROP COLUMN c; " +
        "INSERT INTO|OVERWRITE graft_vtable('ref') <query>; " +
        "INSERT INTO graft_vtable('ref') REPLACE WHERE (<cond>) <query>")

  /** Index of the char AFTER the paren-balanced, quote-aware span opening
    * at `start` (which must be '(').
    */
  private def balancedEnd(s: String, start: Int): Int = {
    var depth = 0; var i = start; var inQuote = false
    while (i < s.length) {
      val c = s.charAt(i)
      if (inQuote) { if (c == '\'') inQuote = false }
      else c match {
        case '\'' => inQuote = true
        case '(' => depth += 1
        case ')' =>
          depth -= 1
          if (depth == 0) return i + 1
        case _ =>
      }
      i += 1
    }
    fail("unbalanced parentheses")
  }

  /** Split on a separator at paren depth 0, outside quotes. */
  private def topLevelSplit(s: String, sep: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var depth = 0; var inQuote = false; var last = 0; var i = 0
    val upper = s.toUpperCase
    val sepU = sep.toUpperCase
    while (i < s.length) {
      val c = s.charAt(i)
      if (inQuote) { if (c == '\'') inQuote = false; i += 1 }
      else c match {
        case '\'' => inQuote = true; i += 1
        case '(' => depth += 1; i += 1
        case ')' => depth -= 1; i += 1
        case _ =>
          if (depth == 0 && upper.startsWith(sepU, i) &&
              (!sep.head.isLetter || i == 0 || !s.charAt(i - 1).isLetterOrDigit) &&
              (!sep.last.isLetter || i + sep.length >= s.length ||
                !s.charAt(i + sep.length).isLetterOrDigit)) {
            out += s.substring(last, i); i += sep.length; last = i
          } else i += 1
      }
    }
    out += s.substring(last)
    out.toSeq
  }

  private def parseMerge(target: String, tAlias: String, rest0: String): LogicalPlan = {
    val rest = rest0.trim
    // USING source: parenthesized subquery or a table name
    val (sourceSql, afterSource) =
      if (rest.startsWith("(")) {
        val end = balancedEnd(rest, 0)
        (rest.substring(1, end - 1).trim, rest.substring(end))
      } else {
        val m = """(?s)^([\w.]+)(.*)$""".r.findFirstMatchIn(rest)
          .getOrElse(fail("MERGE: cannot parse USING source"))
        (s"SELECT * FROM ${m.group(1)}", m.group(2))
      }
    val onSplit = """(?is)^\s*(?:AS\s+)?(\w+)?\s*ON\s+(.*)$""".r
    val (sAlias, afterOn) = afterSource match {
      case onSplit(a, r) =>
        (Option(a).filterNot(x => x == null || x.equalsIgnoreCase("ON"))
          .getOrElse("s"), r)
      case _ => fail("MERGE: missing ON clause")
    }
    // condition runs to the first top-level WHEN
    val whenParts = topLevelSplit(afterOn, "WHEN").map(_.trim)
    if (whenParts.size < 2) fail("MERGE: missing WHEN clauses")
    val onCond = whenParts.head
    val keys = topLevelSplit(onCond, "AND").map(_.trim).map { eq =>
      val m = """^(\w+)\.(\w+)\s*=\s*(\w+)\.(\w+)$""".r.findFirstMatchIn(eq)
        .getOrElse(fail(s"MERGE: ON must be alias-qualified key equalities, got '$eq'"))
      val (a1, c1, a2, c2) = (m.group(1), m.group(2), m.group(3), m.group(4))
      val (tc, sc) =
        if (a1.equalsIgnoreCase(tAlias) && a2.equalsIgnoreCase(sAlias)) (c1, c2)
        else if (a2.equalsIgnoreCase(tAlias) && a1.equalsIgnoreCase(sAlias)) (c2, c1)
        else fail(s"MERGE: ON equality '$eq' must relate $tAlias and $sAlias")
      if (!tc.equalsIgnoreCase(sc))
        fail(s"MERGE: key columns must share a name ($tc vs $sc) — alias " +
          "the source column in the USING query")
      tc
    }
    var deleteCond: Option[String] = None
    var sawUpdate = false; var sawInsert = false
    whenParts.tail.foreach { w =>
      val delM = """(?is)^MATCHED\s+AND\s+(.+?)\s+THEN\s+DELETE\s*;?\s*$""".r
      val updM = """(?is)^MATCHED\s+THEN\s+UPDATE\s+SET\s+\*\s*;?\s*$""".r
      val insM = """(?is)^NOT\s+MATCHED\s+THEN\s+INSERT\s+\*\s*;?\s*$""".r
      w match {
        case delM(c) => deleteCond = Some(stripAlias(c, sAlias))
        case updM() => sawUpdate = true
        case insM() => sawInsert = true
        case other => fail(s"MERGE: unsupported WHEN clause 'WHEN $other'")
      }
    }
    if (!sawUpdate || !sawInsert)
      fail("MERGE: need both WHEN MATCHED THEN UPDATE SET * and " +
        "WHEN NOT MATCHED THEN INSERT * (whole-row CDC upsert)")
    GraftMergeCommand(target, sourceSql, keys, deleteCond)
  }

  /** The delete condition is evaluated over the SOURCE rows — strip the
    * source alias qualifier so it parses against the bare columns.
    */
  private def stripAlias(cond: String, sAlias: String): String =
    cond.replaceAll(s"(?i)\\b${java.util.regex.Pattern.quote(sAlias)}\\.", "")

  private def splitWhere(rest: String): (String, Option[String]) = {
    val parts = topLevelSplit(rest, "WHERE")
    if (parts.size == 1) (parts.head.trim.stripSuffix(";").trim, None)
    else if (parts.size == 2)
      (parts.head.trim, Some(parts(1).trim.stripSuffix(";").trim))
    else fail("more than one top-level WHERE")
  }

  private def parseUpdate(target: String, rest: String): LogicalPlan = {
    val (setPart, where) = splitWhere(rest)
    val sets = topLevelSplit(setPart, ",").map(_.trim).map { kv =>
      val m = """(?s)^(\w+)\s*=\s*(.+)$""".r.findFirstMatchIn(kv)
        .getOrElse(fail(s"UPDATE: cannot parse SET assignment '$kv'"))
      (m.group(1), m.group(2).trim)
    }
    if (sets.isEmpty) fail("UPDATE: empty SET list")
    graft.plans.GraftCatalogUpdateCommand(target,
      sets.map { case (c, e) => c -> expr(e) }, where.map(expr))
  }

  private def parseCreate(name: String, ifNotExists: Boolean,
                          rest0: String): LogicalPlan = {
    val rest = rest0.trim
    val clone =
      """(?is)^(?:LOCATION\s+'([^']+)'\s*)?SHALLOW\s+CLONE\s+graft_vtable\s*\(\s*'([^']+)'\s*(?:,\s*(\d+)\s*)?\)\s*;?\s*$""".r
        .findFirstMatchIn(rest)
    clone.foreach { c =>
      return GraftCloneTableCommand(name, ifNotExists, Option(c.group(1)),
        c.group(2), Option(c.group(3)).map(_.toLong))
    }
    val m = """(?is)^(?:LOCATION\s+'([^']+)'\s*)?(?:STATS\s*\(([^)]*)\)\s*)?(?:CLUSTER\s+BY\s*\(([^)]*)\)\s*)?AS\s+(.+)$""".r
      .findFirstMatchIn(rest)
      .getOrElse(fail("CREATE TABLE: expected [LOCATION 'dir'] " +
        "[STATS (col[, ...])] [CLUSTER BY (col[, ...])] AS <query>, or " +
        "[LOCATION 'dir'] SHALLOW CLONE graft_vtable('src'[, version])" +
        (if (rest.isEmpty || !rest.toUpperCase.contains("AS"))
          " — column-list DDL is not supported; the schema comes from the AS query"
        else "")))
    val statsCols = Option(m.group(2)).toSeq
      .flatMap(_.split(',').map(_.trim).filter(_.nonEmpty))
    val clusterBy = Option(m.group(3)).toSeq
      .flatMap(_.split(',').map(_.trim).filter(_.nonEmpty))
    GraftCreateTableCommand(name, ifNotExists, Option(m.group(1)),
      statsCols, m.group(4).trim.stripSuffix(";").trim, clusterBy)
  }

  private def parseDrop(name: String, ifExists: Boolean,
                        rest: String): LogicalPlan = {
    val purge = rest.trim.equalsIgnoreCase("PURGE")
    if (!purge && rest.trim.nonEmpty)
      fail(s"DROP TABLE: unexpected trailing text '${rest.trim}'")
    GraftDropTableCommand(name, ifExists, purge)
  }

  /** `OPTIMIZE graft_vtable('ref') [ZORDER BY (c1, c2[, ...])]` — the
    * table-maintenance compaction commit ([[VersionedTable.commitCompact]]):
    * bare OPTIMIZE bin-packs small files; ZORDER BY additionally rewrites
    * the table clustered on the Morton z-value of the named stats columns
    * so multi-dimension predicates prune (Delta's OPTIMIZE ZORDER BY).
    */
  private def parseOptimize(target: String, rest: String): LogicalPlan = {
    var t = rest.trim
    // optional file-granularity scope, Delta's OPTIMIZE ... WHERE shape:
    // the parenthesized condition extracts paren-balanced/quote-aware
    var where: Option[String] = None
    val w = """(?is)^WHERE\s*(\(.*)$""".r.findFirstMatchIn(t)
    w.foreach { m =>
      val span = m.group(1)
      val end = balancedEnd(span, 0)
      val cond = span.substring(1, end - 1).trim
      if (cond.isEmpty) fail("OPTIMIZE WHERE: empty condition")
      where = Some(cond)
      t = span.substring(end).trim
    }
    if (t.isEmpty) GraftOptimizeCommand(target, Seq.empty, where)
    else {
      val m = """(?is)^ZORDER\s+BY\s*\(([^)]+)\)$""".r.findFirstMatchIn(t)
        .getOrElse(fail(s"OPTIMIZE: unexpected trailing text '$t' — supported: " +
          "OPTIMIZE graft_vtable('ref') [WHERE (<cond>)] [ZORDER BY (c1, c2[, ...])]"))
      val cols = m.group(1).split(',').map(_.trim).filter(_.nonEmpty).toSeq
      if (cols.isEmpty) fail("OPTIMIZE: empty ZORDER BY column list")
      GraftOptimizeCommand(target, cols, where)
    }
  }

  /** `VACUUM graft_vtable('ref') RETAIN <n> VERSIONS` — reclaim data files
    * referenced only by manifests older than the newest `n` versions.
    * The retention count is REQUIRED: an unbounded default would silently
    * destroy time travel, so the statement must say what it keeps.
    *
    * The two forms guard differently ON PURPOSE: `RETAIN 0 VERSIONS`
    * would keep NOTHING — not even the current version — so it refuses;
    * `RETAIN 0 HOURS` bounds AGE and the engine always keeps the current
    * version regardless of age ([[graft.ops.VersionedTable]] time-based
    * retention), so `0 HOURS` is the intentional, spec-pinned
    * "keep only the current version" spelling (Delta's idiom for the
    * same knob).
    */
  private def parseVacuum(target: String, rest: String): LogicalPlan = {
    // trailing FORCE overrides the stream-cursor retention guard
    val (body, force) = {
      val t = rest.trim
      val m = """(?is)^(.*?)\s+FORCE$""".r.findFirstMatchIn(t)
      m.map(x => (x.group(1).trim, true)).getOrElse((t, false))
    }
    val hoursForm = """(?is)^RETAIN\s+(\d+)\s+HOURS$""".r
      .findFirstMatchIn(body)
    hoursForm.foreach { h =>
      return GraftVacuumCommand(target, -1, hours = Some(h.group(1).toLong),
        force = force)
    }
    val m = """(?is)^RETAIN\s+(\d+)\s+VERSIONS$""".r.findFirstMatchIn(body)
      .getOrElse(fail(s"VACUUM: expected RETAIN <n> VERSIONS or RETAIN <n> " +
        s"HOURS [FORCE], got '${rest.trim}'"))
    val keep = m.group(1).toInt
    if (keep < 1) fail("VACUUM: RETAIN must keep at least 1 version")
    GraftVacuumCommand(target, keep, force = force)
  }

  /** `RESTORE TABLE graft_vtable('ref') TO VERSION AS OF <n>` (or
    * `TO TIMESTAMP AS OF '<yyyy-MM-dd HH:mm:ss[.f…]>'`, resolved through
    * [[VersionedTable.versionAtTimestamp]]) — roll the table back AS A
    * NEW COMMIT ([[VersionedTable.restore]]): history stays monotone, the
    * rollback itself is time-travelable and CDF-visible.
    */
  private def parseRestore(target: String, rest: String): LogicalPlan = {
    val tsForm = """(?is)^TO\s+TIMESTAMP\s+AS\s+OF\s+'([^']+)'$""".r
      .findFirstMatchIn(rest.trim)
    tsForm.foreach { m =>
      return GraftRestoreCommand(target, -1L, toTimestamp = Some(m.group(1)))
    }
    val m = """(?is)^TO\s+VERSION\s+AS\s+OF\s+(\d+)$""".r.findFirstMatchIn(rest.trim)
      .getOrElse(fail("RESTORE TABLE: expected TO VERSION AS OF <n> or " +
        s"TO TIMESTAMP AS OF '<ts>', got '${rest.trim}'"))
    GraftRestoreCommand(target, m.group(1).toLong)
  }

  /** `ALTER TABLE graft_vtable('ref') ADD COLUMNS (c1 type1[, ...])` —
    * metadata-only schema evolution ([[VersionedTable.commitAddColumns]]);
    * `... RENAME COLUMN a TO b` / `... DROP COLUMN c` — metadata-only
    * column mapping ([[VersionedTable.commitRenameColumn]]/
    * [[VersionedTable.commitDropColumn]]: shared immutable files keep
    * their physical names; dropped bytes stay dead and can never be
    * resurrected by a re-add); `... ADD CONSTRAINT name CHECK (expr)` /
    * `... DROP CONSTRAINT name` — table-level CHECK constraints enforced
    * by every later live-row commit
    * ([[VersionedTable.addCheckConstraint]]). TYPE changes are not
    * supported: they would corrupt shared immutable files older versions
    * time-travel to.
    */
  private def parseAlter(target: String, rest: String): LogicalPlan = {
    val t = rest.trim
    val addCons = """(?is)^ADD\s+CONSTRAINT\s+(\w+)\s+CHECK\s*\((.+)\)$""".r
    val dropCons = """(?is)^DROP\s+CONSTRAINT\s+(\w+)$""".r
    val renameCol = """(?is)^RENAME\s+COLUMN\s+(\w+)\s+TO\s+(\w+)\s*;?\s*$""".r
    val dropCol = """(?is)^DROP\s+COLUMN\s+(\w+)\s*;?\s*$""".r
    t match {
      case addCons(name, expr) =>
        return GraftAlterConstraintCommand(target, name, Some(expr.trim))
      case dropCons(name) =>
        return GraftAlterConstraintCommand(target, name, None)
      case renameCol(from, to) =>
        return GraftAlterColumnCommand(target, from, Some(to))
      case dropCol(name) =>
        return GraftAlterColumnCommand(target, name, None)
      case _ =>
    }
    val m = """(?is)^ADD\s+COLUMNS\s*\((.+)\)$""".r.findFirstMatchIn(t)
      .getOrElse(fail(s"ALTER TABLE: only ADD COLUMNS (c type[, ...]), " +
        "RENAME COLUMN a TO b, DROP COLUMN c, ADD CONSTRAINT name CHECK " +
        s"(expr), and DROP CONSTRAINT name are supported, got '$t'"))
    val cols = topLevelSplit(m.group(1), ",").map(_.trim).filter(_.nonEmpty).map { cd =>
      val cm = """(?s)^(\w+)\s+(.+)$""".r.findFirstMatchIn(cd)
        .getOrElse(fail(s"ALTER TABLE: cannot parse column definition '$cd'"))
      (cm.group(1), cm.group(2).trim)
    }
    if (cols.isEmpty) fail("ALTER TABLE: empty ADD COLUMNS list")
    GraftAlterAddColumnsCommand(target, cols)
  }

  private def parseDelete(target: String, rest: String): LogicalPlan = {
    val t = rest.trim
    val where =
      if (t.isEmpty || t == ";") None
      else {
        val m = """(?is)^WHERE\s+(.+?)\s*;?\s*$""".r.findFirstMatchIn(t)
          .getOrElse(fail(s"DELETE: unexpected trailing text '$t'"))
        Some(m.group(1))
      }
    graft.plans.GraftCatalogDeleteCommand(target, where.map(expr).getOrElse(lit(true)))
  }

  private[graft] def versionOutput: Seq[AttributeReference] =
    Seq(AttributeReference("version", LongType, nullable = false)())

  private[sql] def parseCond(spark: SparkSession, sql: Option[String]): Column =
    sql.map(s => GraftShim.column(
      spark.sessionState.sqlParser.parseExpression(s))).getOrElse(lit(true))
}

/** `MERGE INTO graft_vtable(...)` — a copy-on-write CDC upsert commit. */
case class GraftMergeCommand(target: String, sourceSql: String,
                             keys: Seq[String], deleteCondSql: Option[String])
  extends LeafRunnableCommand {
  override val output: Seq[org.apache.spark.sql.catalyst.expressions.Attribute] =
    GraftDml.versionOutput
  override def run(spark: SparkSession): Seq[Row] = {
    val dir = GraftCatalog.resolveDir(spark, target)
    val src = spark.sql(sourceSql)
    val delCond = deleteCondSql.map(s => GraftShim.column(
      spark.sessionState.sqlParser.parseExpression(s))).getOrElse(lit(false))
    // commit bodies re-read the CURRENT manifest, so retrying the whole
    // call is the standard optimistic-concurrency answer
    Seq(Row(VersionedTable.withCommitRetry() {
      VersionedTable.commitMerge(src, dir, keys, Seq.empty, delCond)
    }))
  }
}

/** `CREATE TABLE graft_vtable('name') [LOCATION ...] [STATS (...)] AS
  * <query>` — runs the query, creates the versioned table at the given
  * (or catalog-default) location, and registers the name in
  * [[GraftCatalog]]. `STATS` declares the manifest stats columns — name
  * the merge key here or later `MERGE INTO` refuses (the same contract
  * as [[VersionedTable.create]]); default is the query's FIRST column.
  * The reference DDL analog: reference/scripts/setup_db.py:33-54. Crash
  * between create and register leaves the table addressable by path;
  * re-registering is one `graft_register_vtable` call — the catalog is
  * deliberately not a second source of truth.
  */
/** CTAS; `CLUSTER BY (cols)` range-partitions and sorts the INITIAL
  * write so the manifest's per-file [min, max] intervals are tight from
  * v1 — stats pruning and merge touched-file detection work immediately,
  * without waiting for an `OPTIMIZE` layout pass. The clustering columns
  * should be (a prefix of) the STATS columns, where the intervals pay.
  */
case class GraftCreateTableCommand(name: String, ifNotExists: Boolean,
                                   location: Option[String],
                                   statsCols: Seq[String], selectSql: String,
                                   clusterBy: Seq[String] = Seq.empty)
  extends LeafRunnableCommand {
  override val output: Seq[org.apache.spark.sql.catalyst.expressions.Attribute] =
    GraftDml.versionOutput
  override def run(spark: SparkSession): Seq[Row] = {
    GraftCatalog.lookup(spark, name) match {
      case Some(dir) =>
        if (!ifNotExists)
          throw new IllegalArgumentException(
            s"GraftDml: table '$name' already exists (at $dir) — use CREATE " +
              "TABLE IF NOT EXISTS to no-op, or DROP TABLE first")
        Seq(Row(VersionedTable.currentVersion(spark, dir).getOrElse(-1L)))
      case None =>
        val dir = location.getOrElse(GraftCatalog.defaultTableDir(spark, name))
        val df0 = spark.sql(selectSql)
        clusterBy.foreach(c => require(df0.columns.contains(c),
          s"GraftDml: CLUSTER BY column $c is not in the query's output " +
            s"(${df0.columns.mkString(", ")})"))
        val df =
          if (clusterBy.isEmpty) df0
          else df0
            .repartitionByRange(clusterBy.map(org.apache.spark.sql.functions.col): _*)
            .sortWithinPartitions(clusterBy.map(org.apache.spark.sql.functions.col): _*)
        val stats = if (statsCols.nonEmpty) statsCols
          else df.columns.headOption.toSeq
        val v = VersionedTable.create(df, dir, statsCols = stats)
        GraftCatalog.register(spark, name, dir)
        Seq(Row(v))
    }
  }
}

/** `CREATE TABLE graft_vtable('name') [LOCATION 'dir'] SHALLOW CLONE
  * graft_vtable('src'[, version])` — zero-copy clone
  * ([[VersionedTable.shallowClone]]): one metadata commit referencing
  * the source's files, registered in the catalog under the new name.
  */
case class GraftCloneTableCommand(name: String, ifNotExists: Boolean,
                                  location: Option[String],
                                  source: String, sourceVersion: Option[Long])
  extends LeafRunnableCommand {
  override val output: Seq[org.apache.spark.sql.catalyst.expressions.Attribute] =
    GraftDml.versionOutput
  override def run(spark: SparkSession): Seq[Row] = {
    GraftCatalog.lookup(spark, name) match {
      case Some(dir) =>
        if (!ifNotExists)
          throw new IllegalArgumentException(
            s"GraftDml: table '$name' already exists (at $dir) — use CREATE " +
              "TABLE IF NOT EXISTS to no-op, or DROP TABLE first")
        Seq(Row(VersionedTable.currentVersion(spark, dir).getOrElse(-1L)))
      case None =>
        val dir = location.getOrElse(GraftCatalog.defaultTableDir(spark, name))
        val srcDir = GraftCatalog.resolveDir(spark, source)
        val v = VersionedTable.shallowClone(spark, srcDir, dir, sourceVersion)
        GraftCatalog.register(spark, name, dir)
        Seq(Row(v))
    }
  }
}

/** `DROP TABLE graft_vtable('name') [PURGE]` — removes the CATALOG entry
  * (the table stays addressable by path — Iceberg's catalog/metadata
  * split); `PURGE` additionally deletes the table directory. Returns the
  * dropped table's last version, or −1 for an `IF EXISTS` no-op.
  */
case class GraftDropTableCommand(name: String, ifExists: Boolean,
                                 purge: Boolean)
  extends LeafRunnableCommand {
  override val output: Seq[org.apache.spark.sql.catalyst.expressions.Attribute] =
    GraftDml.versionOutput
  override def run(spark: SparkSession): Seq[Row] = {
    GraftCatalog.lookup(spark, name) match {
      case None =>
        if (!ifExists)
          throw new IllegalArgumentException(
            s"GraftDml: no table named '$name' — use DROP TABLE IF EXISTS to no-op")
        Seq(Row(-1L))
      case Some(dir) =>
        val v = VersionedTable.currentVersion(spark, dir).getOrElse(-1L)
        GraftCatalog.drop(spark, name)
        if (purge) {
          val p = new org.apache.hadoop.fs.Path(dir)
          p.getFileSystem(spark.sparkContext.hadoopConfiguration)
            .delete(p, true)
        }
        Seq(Row(v))
    }
  }
}

/** `INSERT INTO graft_vtable(...) <query>` — an append-only commit
  * ([[VersionedTable.commitAppend]]): new files only, no existing byte
  * read or rewritten. `INSERT OVERWRITE` replaces the whole content as
  * one commit ([[VersionedTable.commitOverwrite]]; prior versions keep
  * time-traveling until vacuum). `REPLACE WHERE (<cond>)` scopes the
  * overwrite to the predicate ([[VersionedTable.commitReplaceWhere]]):
  * only files that could hold a matching row rewrite, the rest carry by
  * reference, and every inserted row must satisfy the predicate (in-frame
  * loud-fail). Columns resolve BY NAME (any order); a missing or extra
  * column fails loudly — positional coercion silently writing the wrong
  * column is the classic INSERT footgun.
  */
case class GraftInsertCommand(target: String, sourceSql: String,
                              overwrite: Boolean = false,
                              replaceWhere: Option[String] = None)
  extends LeafRunnableCommand {
  override val output: Seq[org.apache.spark.sql.catalyst.expressions.Attribute] =
    GraftDml.versionOutput
  override def run(spark: SparkSession): Seq[Row] = {
    val dir = GraftCatalog.resolveDir(spark, target)
    val cur = VersionedTable.currentVersion(spark, dir).getOrElse(
      throw new IllegalArgumentException(
        s"GraftDml: INSERT target $dir is not a versioned table"))
    val tableCols = org.apache.spark.sql.types.StructType
      .fromDDL(VersionedTable.readMeta(spark, dir, cur).schemaDdl)
      .fieldNames.toSeq
    val df = spark.sql(sourceSql)
    if (df.columns.sorted.toSeq != tableCols.sorted)
      throw new IllegalArgumentException(
        s"GraftDml: INSERT columns ${df.columns.sorted.mkString(", ")} " +
          s"do not match the table's ${tableCols.sorted.mkString(", ")} — " +
          "columns resolve by name; alias the query's output")
    val aligned = df.select(tableCols.map(org.apache.spark.sql.functions.col): _*)
    Seq(Row(VersionedTable.withCommitRetry() {
      replaceWhere match {
        case Some(condSql) => VersionedTable.commitReplaceWhere(
          aligned, dir, GraftDml.parseCond(spark, Some(condSql)))
        case None =>
          if (overwrite) VersionedTable.commitOverwrite(aligned, dir)
          else VersionedTable.commitAppend(aligned, dir)
      }
    }))
  }
}

/** `OPTIMIZE graft_vtable(...) [WHERE (<cond>)] [ZORDER BY (...)]` —
  * compaction commit; `WHERE` scopes the candidate set at FILE
  * granularity through the manifest stats (whole files rewrite, rows
  * unchanged), so daily maintenance is O(slice), not O(table). Returns
  * the post-optimize version (unchanged when nothing to do).
  */
case class GraftOptimizeCommand(target: String, zorderBy: Seq[String],
                                whereSql: Option[String] = None)
  extends LeafRunnableCommand {
  override val output: Seq[org.apache.spark.sql.catalyst.expressions.Attribute] =
    GraftDml.versionOutput
  override def run(spark: SparkSession): Seq[Row] = {
    val dir = GraftCatalog.resolveDir(spark, target)
    // pending deletion vectors fold into clean base files first — the
    // OPTIMIZE half of the DV contract; compaction then proceeds over
    // DV-free state
    VersionedTable.withCommitRetry() {
      VersionedTable.materializeDvs(spark, dir)
    }
    Seq(Row(VersionedTable.withCommitRetry() {
      VersionedTable.commitCompact(spark, dir,
        clusterBy = zorderBy, zorder = zorderBy.nonEmpty,
        where = whereSql.map(s => GraftDml.parseCond(spark, Some(s))))
    }))
  }
}

/** `VACUUM graft_vtable(...) RETAIN n VERSIONS` — returns files deleted. */
case class GraftVacuumCommand(target: String, keepVersions: Int,
                              hours: Option[Long] = None,
                              force: Boolean = false)
  extends LeafRunnableCommand {
  override val output: Seq[org.apache.spark.sql.catalyst.expressions.Attribute] =
    Seq(AttributeReference("deleted_files", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val dir = GraftCatalog.resolveDir(spark, target)
    Seq(Row(hours match {
      case Some(h) =>
        VersionedTable.vacuumRetainHours(spark, dir, h.toDouble, force).toLong
      case None =>
        VersionedTable.vacuum(spark, dir, keepVersions, force).toLong
    }))
  }
}

/** `RESTORE TABLE graft_vtable(...) TO VERSION AS OF n` (or `TO
  * TIMESTAMP AS OF '<ts>'` — `toTimestamp` wins when set) — rollback
  * commit.
  */
case class GraftRestoreCommand(target: String, toVersion: Long,
                               toTimestamp: Option[String] = None)
  extends LeafRunnableCommand {
  override val output: Seq[org.apache.spark.sql.catalyst.expressions.Attribute] =
    GraftDml.versionOutput
  override def run(spark: SparkSession): Seq[Row] = {
    val dir = GraftCatalog.resolveDir(spark, target)
    val v = toTimestamp match {
      case Some(s) =>
        VersionedTable.versionAtTimestamp(spark, dir,
          VersionedTable.parseTsMillis(spark, s, "RESTORE TABLE"))
      case None => toVersion
    }
    Seq(Row(VersionedTable.withCommitRetry() {
      VersionedTable.restore(spark, dir, v)
    }))
  }
}

/** `ALTER TABLE graft_vtable(...) ADD CONSTRAINT name CHECK (expr)` /
  * `DROP CONSTRAINT name` — table-level CHECK constraints
  * ([[VersionedTable.addCheckConstraint]]: existing data validated before
  * the constraint publishes; later live-row commits enforce in-frame).
  */
case class GraftAlterConstraintCommand(target: String, name: String,
                                       checkSql: Option[String])
  extends LeafRunnableCommand {
  override val output: Seq[org.apache.spark.sql.catalyst.expressions.Attribute] =
    GraftDml.versionOutput
  override def run(spark: SparkSession): Seq[Row] = {
    val dir = GraftCatalog.resolveDir(spark, target)
    Seq(Row(VersionedTable.withCommitRetry() {
      checkSql match {
        case Some(expr) => VersionedTable.addCheckConstraint(spark, dir, name, expr)
        case None => VersionedTable.dropCheckConstraint(spark, dir, name)
      }
    }))
  }
}

/** `ALTER TABLE graft_vtable(...) ADD COLUMNS (...)` — O(1) metadata-only
  * schema evolution; no data file is read or written.
  */
/** `ALTER TABLE graft_vtable('ref') RENAME COLUMN a TO b` / `DROP COLUMN
  * c` — metadata-only schema evolution over shared immutable files
  * ([[VersionedTable.commitRenameColumn]]/[[VersionedTable.commitDropColumn]]
  * — the Delta column-mapping idea): O(1) commits, zero data bytes
  * touched, dropped/renamed physical identities tracked so later adds
  * can never resurrect dead bytes.
  */
case class GraftAlterColumnCommand(target: String, column: String,
                                   renameTo: Option[String])
  extends LeafRunnableCommand {
  override val output: Seq[org.apache.spark.sql.catalyst.expressions.Attribute] =
    GraftDml.versionOutput
  override def run(spark: SparkSession): Seq[Row] = {
    val dir = GraftCatalog.resolveDir(spark, target)
    Seq(Row(VersionedTable.withCommitRetry() {
      renameTo match {
        case Some(to) => VersionedTable.commitRenameColumn(spark, dir, column, to)
        case None => VersionedTable.commitDropColumn(spark, dir, column)
      }
    }))
  }
}

case class GraftAlterAddColumnsCommand(target: String, cols: Seq[(String, String)])
  extends LeafRunnableCommand {
  override val output: Seq[org.apache.spark.sql.catalyst.expressions.Attribute] =
    GraftDml.versionOutput
  override def run(spark: SparkSession): Seq[Row] = {
    val dir = GraftCatalog.resolveDir(spark, target)
    Seq(Row(VersionedTable.withCommitRetry() {
      VersionedTable.commitAddColumns(spark, dir, cols)
    }))
  }
}
