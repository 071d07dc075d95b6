package graft.plans

import org.apache.spark.sql.{GraftShim, Row, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{EliminateSubqueryAliases, UnresolvedAttribute}
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, Cast, EqualTo, Expression}
import org.apache.spark.sql.catalyst.plans.QueryPlan
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.functions.lit

import graft.catalog.GraftTable
import graft.ops.VersionedTable

/** Analyzer (post-hoc resolution) rule: `MERGE INTO graft.t`, `UPDATE
  * graft.t` and arbitrary-predicate `DELETE FROM graft.t` — parsed and
  * RESOLVED by Spark's own grammar/analyzer against the V2 catalog
  * relation — rewrite into the versioned-table commits. This is the
  * Delta playbook (DeltaAnalysis → MergeIntoCommand): the table does not
  * implement `SupportsRowLevelOperations`, whose group-based rewrite
  * would re-plan the merge as a self-join + full-group rewrite; the
  * library's [[VersionedTable.commitMerge]] already IS the optimized
  * physical strategy — stats-pruned touched-file detection, bloom-probe
  * skipping, carried-by-reference untouched files — so the rewrite
  * routes there and keeps ONE merge implementation for the TVF spelling,
  * the catalog spelling, and the programmatic API.
  *
  * Runs BEFORE [[VtableCatalogReads]] in the post-hoc batch (injection
  * order) — that rule swaps V2 relations for native reads, which must
  * not happen to a DML target. Spark's own `RewriteMergeIntoTable` /
  * `RewriteUpdateTable` (Resolution batch, earlier) leave tables without
  * row-level-operation support untouched, so the plans arrive here
  * intact; without this rule they would fail in CheckAnalysis.
  *
  * Supported MERGE shape — the whole-row CDC upsert the warehouse
  * contract defines (same as the TVF spelling, now through Spark's
  * parser): `ON` is a conjunction of target-source key equalities,
  * `WHEN MATCHED [AND cond] THEN DELETE` (cond over SOURCE columns),
  * `WHEN MATCHED THEN UPDATE SET *`, `WHEN NOT MATCHED THEN INSERT *`.
  * Anything else refuses loudly, naming the supported shape. UPDATE and
  * DELETE take arbitrary assignments/predicates.
  */
object VtableCatalogDml extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan match {
    case m: MergeIntoTable if m.resolved && target(m.targetTable).isDefined =>
      rewriteMerge(m, target(m.targetTable).get)
    case u: UpdateTable if u.resolved && target(u.table).isDefined =>
      rewriteUpdate(u, target(u.table).get)
    case d: DeleteFromTable if d.resolved && target(d.table).isDefined =>
      val t = target(d.table).get
      requireWritable(t, "DELETE FROM")
      GraftCatalogDeleteCommand(pathRef(t),
        GraftShim.column(unbind(d.condition, "DELETE WHERE")))
    case _ => plan
  }

  private def target(p: LogicalPlan): Option[GraftTable] =
    EliminateSubqueryAliases(p) match {
      case r: DataSourceV2Relation if r.table.isInstanceOf[GraftTable] =>
        Some(r.table.asInstanceOf[GraftTable])
      // plain sessions reach this rule from the optimizer (extra
      // optimizations), where V2 pushdown may already have produced a
      // scan relation
      case s: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
          if s.relation.table.isInstanceOf[GraftTable] =>
        Some(s.relation.table.asInstanceOf[GraftTable])
      case _ => None
    }

  /** `t`'s directory as a command `ref`: [[graft.ops.GraftCatalog
    * .resolveDir]] reads a ref without a path separator as a table name,
    * so a relative directory is spelled `./<dir>`.
    */
  private def pathRef(t: GraftTable): String =
    if (t.dir.exists(c => c == '/' || c == '\\')) t.dir else s"./${t.dir}"

  private def requireWritable(t: GraftTable, verb: String): Unit =
    require(t.asOf.isEmpty,
      s"VtableCatalogDml: cannot $verb a time-traveled table (${t.name()})")

  private def fail(what: String): Nothing =
    throw new UnsupportedOperationException(
      s"VtableCatalogDml: $what — supported MERGE shape: ON <target-source " +
        "key equalities> [WHEN MATCHED AND <cond over source> THEN DELETE] " +
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT * " +
        "(the whole-row CDC upsert; richer actions need per-action " +
        "rewrites the versioned commit does not define)")

  /** Resolved attribute refs → by-name unresolved refs, so the commit can
    * re-resolve them against ITS OWN read of the table (the same contract
    * as the SQL-string front door); `With` is inlined first, since its
    * common-expression refs cannot re-resolve by name.
    */
  private def unbind(e: Expression, what: String): Expression = VersionedTable.inlined(e).transform {
    case a: AttributeReference => UnresolvedAttribute.quoted(a.name)
    case s: org.apache.spark.sql.catalyst.expressions.SubqueryExpression =>
      throw new UnsupportedOperationException(
        s"VtableCatalogDml: $what with a subquery is not supported — " +
          "materialize the subquery into the condition first")
  }

  private def rewriteMerge(m: MergeIntoTable, t: GraftTable): LogicalPlan = {
    requireWritable(t, "MERGE INTO")
    val tOut = EliminateSubqueryAliases(m.targetTable).outputSet
    val sOut = m.sourceTable.outputSet
    val keys = VersionedTable.conjuncts(m.mergeCondition).map {
      case EqualTo(a: AttributeReference, b: AttributeReference)
          if tOut.contains(a) && sOut.contains(b) =>
        if (!a.name.equalsIgnoreCase(b.name))
          fail(s"ON equality ${a.name} = ${b.name}: key columns must share " +
            "a name (alias the source column)")
        a.name
      case EqualTo(b: AttributeReference, a: AttributeReference)
          if tOut.contains(a) && sOut.contains(b) =>
        if (!a.name.equalsIgnoreCase(b.name))
          fail(s"ON equality ${b.name} = ${a.name}: key columns must share " +
            "a name (alias the source column)")
        a.name
      case other => fail(s"ON condition '${other.sql}' is not a " +
        "target-source key equality")
    }
    // `SET *` / `INSERT *` resolve to one same-name source assignment per
    // target column; casts inserted by coercion are fine
    def stripCast(e: Expression): Expression = e match {
      case c: Cast => stripCast(c.child)
      case x => x
    }
    def wholeRow(assigns: Seq[Assignment], what: String): Unit = {
      assigns.foreach { a =>
        (a.key, stripCast(a.value)) match {
          case (k: AttributeReference, v: AttributeReference)
              if tOut.contains(k) && sOut.contains(v) &&
                k.name.equalsIgnoreCase(v.name) => ()
          case _ => fail(s"$what must assign every target column from the " +
            s"same-name source column (SET * / INSERT *), got " +
            s"'${a.key.sql} = ${a.value.sql}'")
        }
      }
      // a PARTIAL same-name list would silently execute as a whole-row
      // replace (the commit is whole-row CDC) — coverage is the contract
      if (assigns.size != tOut.size)
        fail(s"$what assigns ${assigns.size} of ${tOut.size} target " +
          "columns — the CDC upsert is whole-row (SET * / INSERT *); " +
          "partial column lists would silently overwrite the rest")
    }
    var deleteCond: Option[Expression] = None
    var sawUpdate = false
    m.matchedActions.foreach {
      case DeleteAction(Some(c)) =>
        if (!c.references.subsetOf(sOut))
          fail("WHEN MATCHED AND <cond> THEN DELETE: the condition must " +
            "reference only SOURCE columns (the CDC tombstone flag)")
        if (deleteCond.nonEmpty) fail("multiple DELETE actions")
        if (sawUpdate)
          fail("WHEN MATCHED THEN UPDATE is listed BEFORE the conditional " +
            "DELETE — SQL applies the first matching action, making the " +
            "DELETE unreachable; list WHEN MATCHED AND <cond> THEN DELETE " +
            "first")
        deleteCond = Some(c)
      case UpdateAction(None, assigns, _) =>
        wholeRow(assigns, "WHEN MATCHED THEN UPDATE"); sawUpdate = true
      case UpdateStarAction(None) => sawUpdate = true
      case other => fail(s"unsupported WHEN MATCHED action $other")
    }
    var sawInsert = false
    m.notMatchedActions.foreach {
      case InsertAction(None, assigns) =>
        wholeRow(assigns, "WHEN NOT MATCHED THEN INSERT"); sawInsert = true
      case InsertStarAction(None) => sawInsert = true
      case other => fail(s"unsupported WHEN NOT MATCHED action $other")
    }
    if (m.notMatchedBySourceActions.nonEmpty)
      fail("WHEN NOT MATCHED BY SOURCE is not supported (the CDC upsert " +
        "never touches unmatched target rows)")
    if (!sawUpdate || !sawInsert)
      fail("need both WHEN MATCHED THEN UPDATE SET * and WHEN NOT MATCHED " +
        "THEN INSERT *")
    // WITH SCHEMA EVOLUTION needs no handling here: Spark's own
    // ResolveMergeIntoSchemaEvolution (resolution batch, before this
    // post-hoc rule) computes the AddColumn changes from the merge
    // actions and drives them through GraftTableCatalog.alterTable —
    // i.e. commitAddColumns' O(1) metadata commit — then re-resolves the
    // merge against the evolved relation, so the plan arriving here is
    // an ordinary whole-row merge over the widened schema. Type CHANGES
    // surface as non-AddColumn TableChanges and refuse inside alterTable
    // (shared files are immutable), preserving the refusal contract.
    GraftCatalogMergeCommand(t.dir, m.sourceTable, keys,
      deleteCond.map(GraftShim.column))
  }

  private def rewriteUpdate(u: UpdateTable, t: GraftTable): LogicalPlan = {
    requireWritable(t, "UPDATE")
    // unbound expressions are stored as OPAQUE Column wrappers: raw
    // Expression fields would make the command node "unresolved" and
    // fail the optimizer's plan validation in the extra-optimizations
    // path (the commit re-resolves them against its own read)
    val sets = u.assignments.map { a =>
      a.key match {
        case k: AttributeReference =>
          k.name -> GraftShim.column(unbind(a.value, "UPDATE SET"))
        case other => throw new UnsupportedOperationException(
          s"VtableCatalogDml: UPDATE of nested field '${other.sql}' is not " +
            "supported — top-level columns only")
      }
    }
    GraftCatalogUpdateCommand(pathRef(t), sets,
      u.condition.map(c => GraftShim.column(unbind(c, "UPDATE WHERE"))))
  }
}

/** `MERGE INTO graft.<t>` — the whole-row CDC upsert routed into
  * [[VersionedTable.commitMerge]] (stats-pruned touched-file detection,
  * untouched files carried by reference). The delete condition keeps its
  * RESOLVED source references: the command wraps the very source plan
  * they were resolved against, so they bind by expression id.
  */
case class GraftCatalogMergeCommand(dir: String, source: LogicalPlan,
                                    keys: Seq[String],
                                    deleteCond: Option[org.apache.spark.sql.Column])
  extends LeafRunnableCommand {
  override val output: Seq[Attribute] = graft.sql.GraftDml.versionOutput
  override def innerChildren: Seq[QueryPlan[_]] = Seq(source)
  override def run(spark: SparkSession): Seq[Row] = {
    val src = GraftShim.dataFrame(spark, source)
    val del = deleteCond.getOrElse(lit(false))
    Seq(Row(VersionedTable.withCommitRetry() {
      // SQL MERGE semantics, not the CDC contract: the DELETE condition
      // gates MATCHED rows only — an unmatched flagged row still INSERTs —
      // and duplicate source keys raise the standard cardinality-violation
      // error instead of the CDC path's tiebreak dedup
      VersionedTable.commitMerge(src, dir, keys, Seq.empty, del,
        deleteMatchedOnly = true, failOnDupKeys = true)
    }))
  }
}

/** `UPDATE … SET … [WHERE …]` on a versioned table, from either SQL
  * spelling: `UPDATE graft.<t>` (Spark's grammar, this rule) and `UPDATE
  * graft_vtable('<ref>')` ([[graft.sql.GraftDml]]). `ref` resolves at run
  * time through [[graft.ops.GraftCatalog.resolveDir]], which returns a
  * path unchanged. DV-enabled tables update positionally
  * ([[VersionedTable.commitUpdateDv]]: byte-stable base files, O(matched)
  * written); others take the file-pruned copy-on-write rewrite
  * ([[VersionedTable.commitUpdate]]).
  */
case class GraftCatalogUpdateCommand(ref: String,
                                     sets: Seq[(String, org.apache.spark.sql.Column)],
                                     cond: Option[org.apache.spark.sql.Column])
  extends LeafRunnableCommand {
  override val output: Seq[Attribute] = graft.sql.GraftDml.versionOutput
  override def run(spark: SparkSession): Seq[Row] = {
    val dir = graft.ops.GraftCatalog.resolveDir(spark, ref)
    val c = cond.getOrElse(lit(true))
    Seq(Row(VersionedTable.withCommitRetry() {
      if (VersionedTable.dvsEnabled(spark, dir))
        VersionedTable.commitUpdateDv(spark, dir, c, sets)
      else VersionedTable.commitUpdate(spark, dir, c, sets)
    }))
  }
}

/** `DELETE FROM … [WHERE …]` on a versioned table: `DELETE FROM
  * graft.<t>` with any predicate (this rule), `DELETE FROM
  * graft_vtable('<ref>')` ([[graft.sql.GraftDml]]), and the pushable
  * filters of `SupportsDelete` ([[graft.catalog.GraftTable.deleteWhere]],
  * `TRUNCATE`) all run [[GraftCatalogDeleteCommand.delete]].
  */
case class GraftCatalogDeleteCommand(ref: String,
                                     cond: org.apache.spark.sql.Column)
  extends LeafRunnableCommand {
  override val output: Seq[Attribute] = graft.sql.GraftDml.versionOutput
  override def run(spark: SparkSession): Seq[Row] =
    Seq(Row(GraftCatalogDeleteCommand.delete(spark,
      graft.ops.GraftCatalog.resolveDir(spark, ref), cond)))
}

object GraftCatalogDeleteCommand {
  /** Delete the rows of the table at `dir` matching `cond`; returns the
    * new version. DV-enabled tables (TBLPROPERTIES
    * graft.dvs.enabled=true, the Delta enableDeletionVectors knob) delete
    * positionally ([[VersionedTable.commitDeleteDv]]: O(matched rows),
    * byte-stable base files); others take the file-pruned copy-on-write
    * rewrite ([[VersionedTable.commitDelete]]).
    */
  def delete(spark: SparkSession, dir: String,
             cond: org.apache.spark.sql.Column): Long =
    VersionedTable.withCommitRetry() {
      if (VersionedTable.dvsEnabled(spark, dir))
        VersionedTable.commitDeleteDv(spark, dir, cond)
      else VersionedTable.commitDelete(spark, dir, cond)
    }
}
