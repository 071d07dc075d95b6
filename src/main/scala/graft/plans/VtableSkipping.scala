package graft.plans

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Count, Max, Min}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, LocalRelation, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{FileStatusCache, HadoopFsRelation, InMemoryFileIndex, LogicalRelation}
import org.apache.spark.sql.types.{DataType, StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String

import graft.ops.VersionedTable

/** Optimizer-integrated data skipping for versioned tables: the rule that
  * makes `SELECT … FROM graft_vtable('/wh/t') WHERE k BETWEEN 5 AND 9` —
  * or any `VersionedTable.read(...).filter(...)` DataFrame — skip
  * manifest-pruned files WITHOUT the caller going through
  * [[graft.ops.VersionedTable.readWhere]].
  *
  * [[graft.ops.VersionedTable]] tags every base parquet relation it hands
  * out with its (dir, pinned version). This rule fires on
  * `Filter(cond, taggedRelation)` — the shape the main optimizer batches
  * normalize to (predicates pushed through projects, adjacent filters
  * combined) — hands the condition to
  * [[graft.ops.VersionedTable.filesMatching]], the one pruning decision
  * [[graft.ops.VersionedTable.readWhere]] and the DML commits also take
  * (one miner: `attr <op> literal` ranges and `attr IN (literals)` sets;
  * ORs never split, casts/UDFs on the column mine nothing, strict bounds
  * widen to closed), which asks the manifest which files could hold a
  * qualifying row (zone-map intervals + bloom sidecar refinement), and
  * swaps the relation's [[InMemoryFileIndex]] for one listing only the
  * survivors.
  *
  * Correctness is independent of extraction, twice over: every mined
  * predicate is implied by the conjunct it came from, and the Filter
  * node itself is LEFT IN PLACE — pruning only decides which files are
  * worth opening, exactly parquet row-group pruning one level up. The
  * relation's output attributes are reused verbatim, so no expression id
  * in the surrounding plan changes. Pruning a tagged base under a DV
  * fold is sound because Catalyst only places a Filter directly on the
  * base where filtering is sound, and skipping a file none of whose rows
  * survive that filter is the same algebra at file granularity.
  *
  * Runs in the user-provided / injected-rule batch AFTER the main
  * optimizer (so literal folding and predicate pushdown are done).
  * Terminates under fixed-point: a pruned relation is re-tagged with
  * [[prunedTag]] and never matched again; a no-op prune returns the
  * original node instance.
  *
  * Reference note: the reference engine re-reads its whole SQLite table
  * per run (reference/scripts/load.py:107-159) — file skipping is the
  * capability gap this closes at warehouse scale.
  */
object VtableSkipping extends Rule[LogicalPlan] {

  /** Decision memo per relation node: Set of predicate `semanticHash`es
    * already decided NO-OP for this relation, so re-executions skip the
    * manifest read + bloom refinement. Keyed by predicate hash — not a
    * blanket boolean — because DataFrames share relation nodes: a no-op
    * decision for one filter must not disable pruning for a DIFFERENT,
    * prunable filter over the same base.
    */
  private[graft] val prunedTag =
    org.apache.spark.sql.catalyst.trees.TreeNodeTag[Set[Int]]("graft.vtable.pruned")

  /** Separate marker for relations this rule already REWROTE — a
    * dedicated tag, not a sentinel hash inside the memo set (a real
    * predicate's semanticHash could collide with any sentinel value and
    * silently disable pruning for the whole relation).
    */
  private[graft] val rewrittenTag =
    org.apache.spark.sql.catalyst.trees.TreeNodeTag[Boolean]("graft.vtable.rewritten")

  private def eligible(lr: LogicalRelation, cond: Expression): Boolean =
    lr.getTagValue(VersionedTable.pruneTag).isDefined &&
      lr.getTagValue(rewrittenTag).isEmpty &&
      !lr.getTagValue(prunedTag).exists(_.contains(cond.semanticHash())) &&
      lr.relation.isInstanceOf[HadoopFsRelation]

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    // an attribute-only Project between Filter and relation (the V2
    // catalog swap's narrowing shape — see VtableCatalogReads) is
    // transparent to pruning: its list is bare relation attributes, so
    // the predicate's names are the relation's names
    case f @ Filter(cond, proj @ Project(pl, lr: LogicalRelation))
        if pl.forall(_.isInstanceOf[AttributeReference]) &&
          eligible(lr, cond) =>
      pruneRelation(cond, lr) match {
        case None => f
        case Some(newLr) => Filter(cond, Project(pl, newLr))
      }
    case f @ Filter(cond, lr: LogicalRelation) if eligible(lr, cond) =>
      pruneRelation(cond, lr) match {
        case None => f
        case Some(newLr) => Filter(cond, newLr)
      }
  }

  /** The pruned replacement for `lr` under predicate `cond`: a narrowed
    * relation, an empty local relation (no survivor), or None when
    * nothing prunes (decision memoized on the node).
    */
  private def pruneRelation(cond: Expression,
                            lr: LogicalRelation): Option[LogicalPlan] = {
    val (dir, version) = lr.getTagValue(VersionedTable.pruneTag).get
    val fsRel = lr.relation.asInstanceOf[HadoopFsRelation]
    val spark = fsRel.sparkSession
    // synchronized: DataFrames share relation nodes, and concurrent
    // optimizations of two queries over the same base would otherwise
    // interleave this get-then-set (the tags map is a plain HashMap)
    def memoNoOp(): Option[LogicalPlan] = lr.synchronized {
      lr.setTagValue(prunedTag,
        lr.getTagValue(prunedTag).getOrElse(Set.empty) + cond.semanticHash())
      None
    }
    VersionedTable.filesMatching(spark, dir, cond,
        VersionedTable.readMeta(spark, dir, version)) match {
      // nothing minable: the decision cannot change for THIS predicate,
      // so memo it — the fixed-point batch (and any re-execution of the
      // same DataFrame) must not re-walk the conjuncts every pass
      case None => memoNoOp()
      // no-op prune: memo THIS predicate's decision, or every
      // re-execution repeats the manifest read + bloom refinement (up
      // to 256 file opens) to re-derive a known nothing
      case Some(survivors) if survivors.size >= fsRel.location.inputFiles.length =>
        memoNoOp()
      // no file can hold a qualifying row — the relation collapses to
      // an empty local relation with the SAME output attributes
      case Some(survivors) if survivors.isEmpty =>
        Some(LocalRelation(lr.output, Seq.empty, isStreaming = false))
      case Some(survivors) =>
        val paths = survivors.map(f => new Path(VersionedTable.dataPath(dir, f.path)))
        val index = new InMemoryFileIndex(spark, paths, fsRel.options,
          Some(fsRel.dataSchema), FileStatusCache.getOrCreate(spark),
          None, None)
        val pruned = lr.copy(relation = fsRel.copy(location = index)(spark))
        pruned.setTagValue(rewrittenTag, true)
        Some(pruned)
    }
  }
}

/** Metadata-only aggregates: `SELECT COUNT(*) / MIN(k) / MAX(k) /
  * COUNT(k) FROM graft_vtable('/wh/t')` answered ENTIRELY from the
  * manifest — zero Spark jobs, zero file opens (the Delta "metadata-only
  * query"). The manifest already carries exact per-file row counts and,
  * for stats columns, (nulls, min, max); an ungrouped, unfiltered
  * aggregate over those functions is a driver-side fold of that list.
  *
  * Strictly conservative: fires only when EVERY output aggregate is
  * answerable — grouping empty, no Filter below (a Filter invalidates
  * manifest totals; [[VtableSkipping]] handles that shape instead), no
  * DISTINCT / FILTER clause, no pending deletion vectors (base rows are
  * then an upper bound, not a count), and every referenced column has stats in
  * EVERY file. One unanswerable aggregate leaves the whole plan alone.
  * Bound folds run through Catalyst `Cast`/`LessThan` on the column's own
  * type, so the answer is the engine's own comparison — never a string's.
  *
  * Matches SQL semantics on the edges: an ungrouped aggregate over an
  * empty table still returns ONE row (count 0, min/max NULL), and an
  * all-null stats column folds to min = max = NULL.
  */
object VtableMetadataAgg extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case agg @ Aggregate(Nil, _, child, _) =>
      stripProjects(child) match {
        case Some(lr) if lr.getTagValue(VersionedTable.pruneTag).isDefined =>
          val (dir, version) = lr.getTagValue(VersionedTable.pruneTag).get
          answer(agg, dir, version).getOrElse(agg)
        case _ => agg
      }
  }

  /** Column-pruning leaves pass-through Projects (possibly empty) between
    * the aggregate and the relation; anything else — a Filter, a computed
    * column — means the manifest totals no longer apply.
    */
  private def stripProjects(p: LogicalPlan): Option[LogicalRelation] = p match {
    case lr: LogicalRelation => Some(lr)
    case Project(pl, c) if pl.forall(_.isInstanceOf[AttributeReference]) =>
      stripProjects(c)
    case _ => None
  }

  private def answer(agg: Aggregate, dir: String, version: Long): Option[LogicalPlan] = {
    val spark = org.apache.spark.sql.SparkSession.active
    val m = VersionedTable.readMeta(spark, dir, version)
    // deletion vectors make header totals BASE-row counts, not live-row
    // counts — the metadata answer would overcount
    if (m.dvs.nonEmpty) return None
    val schema = StructType.fromDDL(m.schemaDdl)
    val totalRows = m.totalRows
    // shared fold: driver loop below the distributed threshold, ONE Spark
    // job over the checkpoint relation above it — the metadata answer
    // stays O(metadata) at 10⁶ files too. Lazy: a pure COUNT(*) answers
    // from the header without folding anything.
    lazy val folds = VersionedTable.statsFold(spark, dir, version)._2

    // a column is answerable only when EVERY file carries stats for it —
    // an externally-registered entry without stats makes counts/bounds
    // unknowable, not just unprunable
    def fold(name: String): Option[VersionedTable.ColFold] =
      folds.get(name).filter(_.blind == 0L)
    def internal(s: String, dt: DataType): Any =
      Cast(Literal(UTF8String.fromString(s), StringType), dt,
        Some(spark.sessionState.conf.sessionLocalTimeZone)).eval(null)
    def bound(name: String, takeMin: Boolean): Option[Any] =
      fold(name).map { f =>
        val b = if (takeMin) f.min else f.max
        b.map(internal(_, schema(name).dataType)).orNull // all-null → SQL NULL
      }

    val values = agg.aggregateExpressions.map {
      case Alias(AggregateExpression(fn, _, false, None, _), _) => fn match {
        case Count(Seq(l: Literal)) if l.value != null => Some(totalRows)
        case Count(Seq(a: AttributeReference)) =>
          fold(a.name).map(f => totalRows - f.nulls)
        case Min(a: AttributeReference) => bound(a.name, takeMin = true)
        case Max(a: AttributeReference) => bound(a.name, takeMin = false)
        case _ => None
      }
      case _ => None
    }
    if (values.exists(_.isEmpty)) None
    else Some(LocalRelation(agg.output,
      Seq(InternalRow.fromSeq(values.map(_.get))), isStreaming = false))
  }
}
