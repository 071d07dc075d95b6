package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreeNodeTag
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.types.{DoubleType, LongType}

import graft.ops.{DvLive, VersionedTable, ViewOps}

/** Automatic MATERIALIZED-VIEW query rewrite: a grouped `COUNT` / `SUM` /
  * `AVG` aggregate over a versioned table is answered from its maintained
  * incremental view ([[graft.ops.ViewOps.refreshAggView]]) instead of
  * scanning the table — the lakehouse "aggregate routing" every warehouse
  * ships (Oracle QUERY REWRITE, BigQuery/Snowflake MV rewrite), done as a
  * Catalyst rule so SQL and DataFrame users get it transparently.
  *
  * At 100 TB this is the difference between O(table) and O(groups): the
  * maintained view holds one row per group, so `SELECT dept, SUM(cents)
  * FROM fact GROUP BY dept` reads the view's few thousand rows while the
  * fact scan would read everything. The view is kept current per commit
  * by IVM ([[graft.ops.ViewOps]]), so the rewrite is read-time free.
  *
  * Sound by four gates, each conservative:
  *
  *  1. FRESHNESS IS EXACT, version against version. Every versioned read
  *     pins its version in [[VersionedTable.pruneTag]]; the rewrite fires
  *     only when the view's transaction ledger says it folded EXACTLY
  *     that source version (`txns(appId) == scanVersion`). A stale view,
  *     a time-traveled scan, or a mid-maintenance view leaves the plan
  *     alone — correct-but-slower, never wrong.
  *  2. THE ALGEBRA IS THE DISTRIBUTIVE SUBSET. The view state carries
  *     per group: live count `n`, and per measure `sum_<m>` / non-null
  *     count `nn_<m>`. Query `COUNT(*)` → `SUM(n)`, `COUNT(m)` →
  *     `SUM(nn_m)`, `SUM(m)` → `SUM(nullif-presented sum_m)` (a group
  *     with zero non-null contributions presents NULL, exactly SQL SUM),
  *     `AVG(m)` → `SUM(presented sum_m) / SUM(nn_m)` as doubles. Because
  *     these re-aggregate per-group partials, the query may group by any
  *     SUBSET (or expression) of the view's group columns — the rollup
  *     falls out of the same algebra. MIN/MAX/DISTINCT/FILTER-clause
  *     aggregates are not derivable from the state and refuse the
  *     rewrite. Ungrouped counts coalesce to 0 over an empty state
  *     (SQL's one-row answer).
  *  3. DELETION VECTORS ARE THE TAGGED VERSION'S. A read at a DV version
  *     filters its base scan with one `graft_dv_live` ([[DvLive]])
  *     expression that carries its sidecar set; the rewrite strips that
  *     filter only when the set equals the scan's
  *     [[VersionedTable.dvStateTag]] (a bare scan must have none), so the
  *     view, whose state at that version includes the DV retraction,
  *     answers for exactly the rows the scan would return.
  *  4. PREDICATES ONLY OVER GROUP COLUMNS. A `WHERE` between the
  *     aggregate and the scan rewrites only when every referenced column
  *     is a view group column — such a filter commutes with grouping
  *     (all rows of a group share its value), so filtering view rows is
  *     the same set. Any other residual expression shape refuses.
  *
  * Views announce themselves through [[ViewOps.Rewrites]] — registered
  * automatically by every successful [[ViewOps.refreshAggView]] in this
  * JVM (driver-resident session state, like temp views: a restarted
  * driver re-registers on its first refresh). The output attributes of
  * the rewritten aggregate reuse the original expression ids, so the
  * surrounding plan is untouched.
  */
object VtableViewRewrite extends Rule[LogicalPlan] {

  /** Marks aggregates this rule produced — the fixed-point batch must not
    * try to rewrite the rewritten (a view registered over a view would
    * otherwise loop).
    */
  private[graft] val rewrittenTag = TreeNodeTag[Boolean]("graft.mv.rewritten")

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformUp {
      case agg: Aggregate if agg.getTagValue(rewrittenTag).isEmpty =>
        rewrite(agg).getOrElse(agg)
    }

  private def conjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => conjuncts(l) ++ conjuncts(r)
    case o => Seq(o)
  }

  /** The table's own deletion-vector fold: a [[DvLive]] whose set was
    * read from sidecars (not a difference of two sets). Returns the set's
    * sidecar files for the identity check against the tagged version's
    * dv state.
    */
  private def dvFold(e: Expression): Option[Set[String]] = e match {
    case d: DvLive if d.dv.minus.isEmpty => Some(d.dv.sidecars)
    case _ => None
  }

  /** Pass-through Projects, at most one user Filter, and at most one
    * deletion-vector fold between the aggregate and the tagged base
    * relation; anything else is not a shape the view can answer. The fold
    * is a [[DvLive]] conjunct of a Filter (the optimizer merges a user
    * filter pushed onto the scan into the same node); `dv` carries its
    * sidecar set so the caller can verify it IS the tagged version's dv
    * state.
    */
  private def strip(p: LogicalPlan, cond: Option[Expression],
                    dv: Option[Set[String]])
      : Option[(Option[Expression], LogicalRelation, Option[Set[String]])] =
    p match {
      case lr: LogicalRelation => Some((cond, lr, dv))
      case Project(pl, c) if pl.forall(_.isInstanceOf[AttributeReference]) =>
        strip(c, cond, dv)
      case Filter(f, c) =>
        val (folds, rest) = conjuncts(f).partition(_.isInstanceOf[DvLive])
        val user = rest.reduceOption(And)
        (folds.map(dvFold), user) match {
          case (Seq(), Some(u)) if cond.isEmpty => strip(c, Some(u), dv)
          case (Seq(Some(files)), u) if dv.isEmpty && (u.isEmpty || cond.isEmpty) =>
            strip(c, u.orElse(cond), Some(files))
          case _ => None
        }
      case _ => None
    }

  private def rewrite(agg: Aggregate): Option[LogicalPlan] =
    for {
      (cond, lr, dvFiles) <- strip(agg.child, None, None)
      (srcDir, srcV) <- lr.getTagValue(VersionedTable.pruneTag)
      // dv-state identity, from the tag (no I/O): a dv-fold scan must
      // filter by EXACTLY the tagged version's sidecar set; a bare
      // tagged scan must have none pending. The view's state at a fresh
      // cursor includes the DV retraction (signedRowsBetween composes
      // DVs), so answering from it is exact.
      if dvFiles == lr.getTagValue(VersionedTable.dvStateTag)
        .filter(_.nonEmpty)
      spark = sessionOf(lr)
      // kill switch (ScaleBench uses it to measure the un-rewritten scan;
      // operators can use it to rule the rewrite out while debugging)
      if spark.conf.get("spark.graft.mv.rewrite", "true").toBoolean
      mvs = ViewOps.Rewrites.forSource(spark, srcDir)
      if mvs.nonEmpty
      out <- mvs.view.flatMap(mv => tryAnswer(agg, cond, lr, srcDir, srcV, mv))
        .headOption
    } yield out

  /** The session the plan's relation belongs to — `SparkSession.active`
    * is a thread-local that can name a DIFFERENT session in multi-session
    * JVMs, and an optimizer rule must not cross that boundary.
    */
  private def sessionOf(lr: LogicalRelation): SparkSession = lr.relation match {
    case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
      h.sparkSession
    case _ => SparkSession.active
  }

  /** Pure (no-I/O) feasibility gate on the aggregate-function shapes, run
    * BEFORE any manifest read: a query whose aggregates the view algebra
    * cannot derive (MIN/MAX/DISTINCT/FILTER/unknown) must not pay
    * filesystem I/O per optimizer fixpoint iteration just to refuse in
    * `rewriteExpr` later.
    */
  private def shapeSupported(agg: Aggregate, measureSet: Set[String]): Boolean =
    agg.aggregateExpressions.forall(_.collect {
      case ae: AggregateExpression => ae
    }.forall { ae =>
      !ae.isDistinct && ae.filter.isEmpty && (ae.aggregateFunction match {
        case Count(Seq(l: Literal)) => l.value != null
        case Count(Seq(a: AttributeReference)) => measureSet(a.name.toLowerCase)
        case s: Sum => s.child match {
          case a: AttributeReference => measureSet(a.name.toLowerCase)
          case Cast(a: AttributeReference, LongType, _, _) =>
            measureSet(a.name.toLowerCase)
          case _ => false
        }
        case av: Average => av.child match {
          case a: AttributeReference => measureSet(a.name.toLowerCase)
          case _ => false
        }
        case _ => false
      })
    })

  /** Freshness memo. A POSITIVE verdict — "view version `vv` folded
    * exactly source version `srcV` of table identity `srcId`" — is a
    * statement about immutable manifests, so once computed it is sound
    * forever and cached unconditionally (a later vacuum of `vv` just
    * fails the subsequent view read and the rewrite declines). The
    * identity is part of the key, read from the scan's
    * [[VersionedTable.tableIdTag]] (stamped from the manifest the read
    * already parsed — no I/O here); scans of legacy tables without an id
    * bypass the memo entirely and keep the original per-call check. A
    * NEGATIVE verdict ("view not caught up") can flip at any commit, so
    * it lives only until the registry epoch bumps (a refresh in this JVM)
    * or a short TTL expires (a refresh elsewhere) — bounded staleness,
    * bounded I/O per planning pass.
    */
  private final case class FreshKey(viewDir: String, appId: String,
                                    srcDir: String, srcV: Long, srcId: String)
  private final case class Miss(epoch: Long, deadlineNanos: Long)
  private val freshHit =
    new java.util.concurrent.ConcurrentHashMap[FreshKey, java.lang.Long]()
  private val freshMiss =
    new java.util.concurrent.ConcurrentHashMap[FreshKey, Miss]()
  private val missTtlNanos = 2000L * 1000 * 1000
  private def boundedPut[K, V](m: java.util.concurrent.ConcurrentHashMap[K, V],
                               k: K, v: V): Unit = {
    if (m.size > 4096) m.clear() // arbitrary eviction is safe for a memo
    m.put(k, v)
  }

  /** The view version whose state folds EXACTLY `srcV`, or None. */
  private def freshViewVersion(spark: SparkSession,
                               mv: ViewOps.Rewrites.MvDef, srcDir: String,
                               srcV: Long, scanId: Option[String]): Option[Long] = {
    val key = scanId.map(FreshKey(mv.viewDir, mv.appId, srcDir, srcV, _))
    key.foreach { k =>
      val hit = freshHit.get(k)
      if (hit != null) return Some(hit.longValue)
      val miss = freshMiss.get(k)
      if (miss != null && miss.epoch == ViewOps.Rewrites.epoch.get() &&
          System.nanoTime() < miss.deadlineNanos) return None
    }
    val verdict = computeFreshness(spark, mv, srcDir, srcV, scanId)
    key.foreach { k =>
      verdict match {
        case Some(vv) => boundedPut(freshHit, k, java.lang.Long.valueOf(vv))
        case None => boundedPut(freshMiss, k,
          Miss(ViewOps.Rewrites.epoch.get(), System.nanoTime() + missTtlNanos))
      }
    }
    verdict
  }

  private def computeFreshness(spark: SparkSession,
                               mv: ViewOps.Rewrites.MvDef, srcDir: String,
                               srcV: Long, scanId: Option[String]): Option[Long] = {
    // freshness: the view must have folded EXACTLY the scanned version...
    val vv = VersionedTable.currentVersion(spark, mv.viewDir).getOrElse(return None)
    val meta = VersionedTable.readMeta(spark, mv.viewDir, vv)
    if (!meta.txns.get(mv.appId).contains(srcV)) return None
    // ...OF THE SAME TABLE: version numbers restart across drop/recreate
    // at one path, so the cursor alone would let a stale view answer for
    // a different table. The view pins the source's identity UUID at
    // bootstrap; a pinned id must match the scanned table's (from the
    // scan's tag when stamped, else the version's manifest).
    val foldedId = meta.props.get(ViewOps.SrcIdProp)
    if (foldedId.isDefined && scanId.orElse(
        VersionedTable.readMeta(spark, srcDir, srcV).props
          .get(VersionedTable.TableIdProp)) != foldedId)
      return None
    Some(vv)
  }

  private def tryAnswer(agg: Aggregate, cond: Option[Expression],
                        lr: LogicalRelation, srcDir: String, srcV: Long,
                        mv: ViewOps.Rewrites.MvDef): Option[LogicalPlan] = try {
    val spark = sessionOf(lr)
    val groupSet = mv.groupCols.map(_.toLowerCase).toSet
    val measureSet = mv.measures.map(_.toLowerCase).toSet
    // cheap structural refusals before any manifest read. Determinism is
    // load-bearing, not hygiene: a non-deterministic predicate (rand())
    // has no column references, passes the group-column gate vacuously,
    // and would sample one-row-per-group VIEW rows instead of source rows
    if (!agg.groupingExpressions.forall(_.references.forall(r =>
        groupSet(r.name.toLowerCase)))) return None
    if (!agg.groupingExpressions.forall(_.deterministic)) return None
    if (!agg.aggregateExpressions.forall(_.deterministic)) return None
    if (!cond.forall(c => c.deterministic &&
        c.references.forall(r => groupSet(r.name.toLowerCase))))
      return None
    if (!shapeSupported(agg, measureSet)) return None
    val vv = freshViewVersion(spark, mv, srcDir, srcV,
      lr.getTagValue(VersionedTable.tableIdTag)).getOrElse(return None)

    // read the view AT the validated version — a concurrent refresh
    // between the freshness check and this read would otherwise serve a
    // NEWER view state to a scan pinned at srcV
    val viewPlan = VersionedTable.read(spark, mv.viewDir, asOf = Some(vv))
      .queryExecution.analyzed
    val vAttr: Map[String, Attribute] =
      viewPlan.output.map(a => a.name.toLowerCase -> a).toMap
    def nAttr = vAttr("n")
    def sumAttr(m: String) = vAttr(s"sum_${m.toLowerCase}")
    def nnAttr(m: String) = vAttr(s"nn_${m.toLowerCase}")
    def aggOf(fn: AggregateFunction): Expression =
      AggregateExpression(fn, Complete, isDistinct = false)
    // a group whose non-null contributions hit zero presents NULL — SUM's
    // SQL semantics; re-summing presented partials then matches the source
    def presentedSum(m: String): Expression =
      If(EqualTo(nnAttr(m), Literal(0L)), Literal(null, LongType), sumAttr(m))
    def asCount(e: Expression): Expression = Coalesce(Seq(e, Literal(0L)))

    def rewriteExpr(e: Expression): Option[Expression] = e match {
      case ae: AggregateExpression if ae.isDistinct || ae.filter.isDefined => None
      case ae: AggregateExpression => ae.aggregateFunction match {
        case Count(Seq(l: Literal)) if l.value != null =>
          Some(asCount(aggOf(Sum(nAttr))))
        case Count(Seq(a: AttributeReference)) if measureSet(a.name.toLowerCase) =>
          Some(asCount(aggOf(Sum(nnAttr(a.name)))))
        case s: Sum => s.child match {
          case a: AttributeReference if measureSet(a.name.toLowerCase) =>
            Some(aggOf(Sum(presentedSum(a.name))))
          case Cast(a: AttributeReference, LongType, _, _)
              if measureSet(a.name.toLowerCase) =>
            Some(aggOf(Sum(presentedSum(a.name))))
          case _ => None
        }
        case av: Average => av.child match {
          case a: AttributeReference if measureSet(a.name.toLowerCase) =>
            Some(Divide(Cast(aggOf(Sum(presentedSum(a.name))), DoubleType),
              Cast(aggOf(Sum(nnAttr(a.name))), DoubleType)))
          case _ => None
        }
        case _ => None
      }
      case a: AttributeReference =>
        if (groupSet(a.name.toLowerCase)) Some(vAttr(a.name.toLowerCase)) else None
      case other =>
        val kids = other.children.map(rewriteExpr)
        if (kids.exists(_.isEmpty)) None
        else Some(other.withNewChildren(kids.map(_.get)))
    }

    val newGroups = agg.groupingExpressions.map(rewriteExpr)
    val newAggs = agg.aggregateExpressions.map {
      case a: AttributeReference =>
        rewriteExpr(a).map(e => Alias(e, a.name)(exprId = a.exprId))
      case al @ Alias(child, name) =>
        rewriteExpr(child).map(e => Alias(e, name)(exprId = al.exprId))
      case _ => None
    }
    if (newGroups.exists(_.isEmpty) || newAggs.exists(_.isEmpty)) return None
    val newCond = cond.map(rewriteExpr)
    if (newCond.exists(_.isEmpty)) return None
    val child = newCond.flatten.map(Filter(_, viewPlan)).getOrElse(viewPlan)
    val rewritten = Aggregate(newGroups.map(_.get),
      newAggs.map(_.get.asInstanceOf[NamedExpression]), child)
    rewritten.setTagValue(rewrittenTag, true)
    Some(rewritten)
  } catch {
    // a vacuumed view, a concurrent drop, a schema surprise: the rewrite
    // is an optimization — never let it fail the query
    case scala.util.control.NonFatal(_) => None
  }
}
