package graft.plans

import org.apache.spark.sql.{Column, GraftShim}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical.{Generate, Join, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{BooleanType, DataType, LongType}

/** Optimizer extension that turns interval-overlap joins into distributable
  * binned hash joins — the brief's "custom `Rule[LogicalPlan]` via
  * `SparkSessionExtensions`" surface, applied where Catalyst genuinely
  * cannot help: a join whose only condition is
  * `aStart <= bEnd AND bStart <= aEnd` has no equi predicate, so Spark
  * plans a broadcast-nested-loop/cartesian — quadratic work that no amount
  * of cluster buys back at 100 TB.
  *
  * Users write the natural predicate through [[GraftOverlap]] (exposed as
  * `PlanHints.overlap`): semantically it IS the plain overlap check, so the
  * query is correct with or without the extension installed. When
  * [[IntervalJoinRewrite]] is active (via `GraftSqlExtensions` or
  * `GraftFunctions.register`), the rule rewrites the join to
  * the [[graft.ops.JoinOps.intervalJoin]] shape: both sides explode over
  * the fixed-width bins their intervals cover, the join becomes an equi
  * join on bin id, the exact predicate stays as residual, and the
  * first-shared-bin condition keeps every pair emitted exactly once.
  */
case class GraftOverlap(aStart: Expression, aEnd: Expression,
                        bStart: Expression, bEnd: Expression,
                        binWidth: Long)
    extends Expression with Predicate with CodegenFallback {
  override def children: Seq[Expression] = Seq(aStart, aEnd, bStart, bEnd)
  override def nullable: Boolean = children.exists(_.nullable)
  override def dataType: DataType = BooleanType
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    if (children.forall(_.dataType == LongType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"graft_overlap needs BIGINT bounds, got ${children.map(_.dataType).mkString(", ")}")
  }
  // the un-rewritten semantics: closed-interval overlap (null if any bound null)
  override def eval(input: InternalRow): Any = {
    val as = aStart.eval(input); val ae = aEnd.eval(input)
    val bs = bStart.eval(input); val be = bEnd.eval(input)
    if (as == null || ae == null || bs == null || be == null) null
    else java.lang.Boolean.valueOf(
      as.asInstanceOf[Long] <= be.asInstanceOf[Long] &&
        bs.asInstanceOf[Long] <= ae.asInstanceOf[Long])
  }
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(aStart = newChildren(0), aEnd = newChildren(1),
      bStart = newChildren(2), bEnd = newChildren(3))
}

object PlanHints {
  /** Closed-interval overlap predicate carrying the bin width the optimizer
    * should rewrite with. Bounds must be non-negative BIGINT (epoch micros
    * etc. — integer `div` truncation equals floor only on non-negatives).
    */
  def overlap(aStart: Column, aEnd: Column, bStart: Column, bEnd: Column,
              binWidth: Long): Column = {
    require(binWidth > 0, s"binWidth must be positive, got $binWidth")
    GraftShim.column(GraftOverlap(
      GraftShim.expression(aStart), GraftShim.expression(aEnd),
      GraftShim.expression(bStart), GraftShim.expression(bEnd), binWidth))
  }
}

object IntervalJoinRewrite extends Rule[LogicalPlan] with PredicateHelper {

  override def apply(plan: LogicalPlan): LogicalPlan = plan transform {
    case j @ Join(left, right, Inner, Some(cond), hint) =>
      val conjuncts = splitConjunctivePredicates(cond)
      conjuncts.collectFirst {
        case o: GraftOverlap if oriented(o, left, right).isDefined =>
          (o, oriented(o, left, right).get)
      } match {
        case Some((marker, o)) =>
          val rest = conjuncts.filterNot(_ eq marker)
          rewrite(left, right, o, rest, hint, j)
        case None => j
      }
  }

  /** The marker's a-side bounds must come wholly from one join side and the
    * b-side bounds from the other; returns the marker normalized so that
    * (aStart, aEnd) belong to `left`. */
  private def oriented(o: GraftOverlap, left: LogicalPlan,
                       right: LogicalPlan): Option[GraftOverlap] = {
    def from(e: Expression, p: LogicalPlan) =
      e.references.nonEmpty && e.references.subsetOf(p.outputSet)
    if (from(o.aStart, left) && from(o.aEnd, left) &&
      from(o.bStart, right) && from(o.bEnd, right)) Some(o)
    else if (from(o.bStart, left) && from(o.bEnd, left) &&
      from(o.aStart, right) && from(o.aEnd, right))
      Some(GraftOverlap(o.bStart, o.bEnd, o.aStart, o.aEnd, o.binWidth))
    else None
  }

  private def rewrite(left: LogicalPlan, right: LogicalPlan, o: GraftOverlap,
                      rest: Seq[Expression],
                      hint: org.apache.spark.sql.catalyst.plans.logical.JoinHint,
                      original: Join): LogicalPlan = {
    val w = Literal(o.binWidth, LongType)
    def div(e: Expression) = IntegralDivide(e, w)
    def explodeBins(child: LogicalPlan, s: Expression, e: Expression,
                    name: String): (LogicalPlan, Attribute) = {
      val bin = AttributeReference(name, LongType, nullable = true)()
      // Sequence is TimeZoneAwareExpression: without a timeZoneId it stays
      // UNRESOLVED and the optimizer's plan validation rejects the rewrite
      val seq = new Sequence(div(s), div(e), None,
        Some(org.apache.spark.sql.internal.SQLConf.get.sessionLocalTimeZone))
      (Generate(Explode(seq),
        unrequiredChildIndex = Nil, outer = false, qualifier = None,
        generatorOutput = Seq(bin), child = child), bin)
    }
    val (genL, binL) = explodeBins(left, o.aStart, o.aEnd, "__graft_bin_l")
    val (genR, binR) = explodeBins(right, o.bStart, o.bEnd, "__graft_bin_r")
    val newCond = Seq(
      EqualTo(binL, binR),
      LessThanOrEqual(o.aStart, o.bEnd),
      LessThanOrEqual(o.bStart, o.aEnd),
      // emit each pair only from the first shared bin (both sides cover it)
      EqualTo(binL, Greatest(Seq(div(o.aStart), div(o.bStart))))
    ) ++ rest
    Project(original.output,
      Join(genL, genR, Inner, Some(newCond.reduce(And)), hint))
  }
}
