package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge from Catalyst [[Expression]] to the public [[Column]] API.
  *
  * Spark 4 moved `Column` to a backend-agnostic `ColumnNode` representation;
  * the classic converter (`org.apache.spark.sql.classic.ExpressionUtils`) is
  * `private[sql]`, so this one-file shim lives in the `org.apache.spark.sql`
  * package to re-export it for graft's native expressions.
  */
object GraftShim {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Wrap a Catalyst [[org.apache.spark.sql.catalyst.plans.logical.LogicalPlan]]
    * as a DataFrame (`Dataset.ofRows` is `private[sql]` in Spark 4) — the
    * entry point for custom logical operators planned by injected
    * strategies.
    */
  def dataFrame(spark: SparkSession,
                plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Block until the asynchronous, `private[spark]` listener bus has
    * delivered every event posted so far. */
  def drainListenerBus(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()

  /** Mine `attr <op> literal` comparisons from a predicate Column's
    * top-level AND conjuncts — Spark 4 Columns are backend-agnostic
    * [[internal.ColumnNode]] trees (`UnresolvedFunction("and"/">="/...)`),
    * not Catalyst expressions, so the walk must live here where the
    * `private[sql]` node API is visible. Returns one possibly one-sided
    * closed interval per comparison: `(name, lo, hi)` with `None` =
    * unbounded (strict ops widen to closed — the caller re-applies the
    * exact predicate anyway). OR nodes are never split; anything
    * unrecognized yields nothing — strictly conservative.
    */
  /** Re-wrap a streaming micro-batch DataFrame as a BATCH one over the
    * already-planned RDD — the `ForeachBatchSink` trick, needed by any V1
    * [[execution.streaming.Sink]] that wants to run its own actions on
    * the batch (a plan with streaming-flagged leaves refuses every action
    * but the engine's own). `LogicalRDD.fromDataset` is `private[sql]`,
    * hence here.
    */
  def asBatch(data: DataFrame): DataFrame = {
    val ds = data.asInstanceOf[classic.Dataset[Row]]
    val node = execution.LogicalRDD.fromDataset(
      ds.queryExecution.toRdd, ds, isStreaming = false)
    classic.Dataset.ofRows(ds.sparkSession, node)
  }

  def mineRanges(c: Column): Seq[(String, Option[Column], Option[Column])] = {
    import org.apache.spark.sql.internal._
    def conjuncts(n: ColumnNode): Seq[ColumnNode] = n match {
      case UnresolvedFunction("and", args, _, _, _, _) if args.size == 2 =>
        conjuncts(args(0)) ++ conjuncts(args(1))
      case other => Seq(other)
    }
    def attrName(n: ColumnNode): Option[String] = n match {
      case a: UnresolvedAttribute => Some(a.nameParts.mkString("."))
      case _ => None
    }
    def asCol(n: ColumnNode): Column = Column(n)
    conjuncts(c.node).flatMap {
      case UnresolvedFunction(op, args, _, _, _, _) if args.size == 2 =>
        (args(0), args(1)) match {
          case (a, l: Literal) if attrName(a).isDefined =>
            val n = attrName(a).get
            op match {
              case ">=" | ">"       => Some((n, Some(asCol(l)), None))
              case "<=" | "<"       => Some((n, None, Some(asCol(l))))
              case "=" | "==" => Some((n, Some(asCol(l)), Some(asCol(l))))
              case _ => None
            }
          case (l: Literal, a) if attrName(a).isDefined =>
            val n = attrName(a).get
            op match {
              // literal on the LEFT flips the direction
              case ">=" | ">"       => Some((n, None, Some(asCol(l))))
              case "<=" | "<"       => Some((n, Some(asCol(l)), None))
              case "=" | "==" => Some((n, Some(asCol(l)), Some(asCol(l))))
              case _ => None
            }
          case _ => None
        }
      // a Column wrapping a CATALYST predicate (SQL-parsed WHERE clauses,
      // shim-built native expressions) mines through the catalyst walk
      case other => tryExpressionOf(other).map(mineCatalystRanges)
        .getOrElse(Nil)
    }
  }

  private def tryExpressionOf(
      n: org.apache.spark.sql.internal.ColumnNode): Option[Expression] =
    try Some(classic.ExpressionUtils.expression(Column(n)))
    catch { case _: Exception => None }

  private def catConjuncts(e: Expression): Seq[Expression] = e match {
    case org.apache.spark.sql.catalyst.expressions.And(l, r) =>
      catConjuncts(l) ++ catConjuncts(r)
    case other => Seq(other)
  }

  private def catName(e: Expression): Option[String] = e match {
    case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
      Some(a.nameParts.mkString("."))
    case a: org.apache.spark.sql.catalyst.expressions.AttributeReference =>
      Some(a.name)
    case _ => None
  }

  /** The catalyst-side sibling of [[mineRanges]]: the same conservative
    * conjunct walk over a (possibly unresolved) Catalyst predicate — the
    * shape a SQL-parsed `WHERE` clause has before analysis. Strictly
    * conservative: only bare `attr <op> literal` shapes mine.
    */
  def mineCatalystRanges(e: Expression): Seq[(String, Option[Column], Option[Column])] = {
    import org.apache.spark.sql.catalyst.expressions._
    catConjuncts(e).flatMap {
      case GreaterThanOrEqual(a, l: Literal) if catName(a).isDefined =>
        Some((catName(a).get, Some(column(l)), None))
      case GreaterThan(a, l: Literal) if catName(a).isDefined =>
        Some((catName(a).get, Some(column(l)), None))
      case LessThanOrEqual(a, l: Literal) if catName(a).isDefined =>
        Some((catName(a).get, None, Some(column(l))))
      case LessThan(a, l: Literal) if catName(a).isDefined =>
        Some((catName(a).get, None, Some(column(l))))
      case EqualTo(a, l: Literal) if catName(a).isDefined =>
        Some((catName(a).get, Some(column(l)), Some(column(l))))
      case GreaterThanOrEqual(l: Literal, a) if catName(a).isDefined =>
        Some((catName(a).get, None, Some(column(l))))
      case GreaterThan(l: Literal, a) if catName(a).isDefined =>
        Some((catName(a).get, None, Some(column(l))))
      case LessThanOrEqual(l: Literal, a) if catName(a).isDefined =>
        Some((catName(a).get, Some(column(l)), None))
      case LessThan(l: Literal, a) if catName(a).isDefined =>
        Some((catName(a).get, Some(column(l)), None))
      case EqualTo(l: Literal, a) if catName(a).isDefined =>
        Some((catName(a).get, Some(column(l)), Some(column(l))))
      case _ => None
    }
  }

  /** Catalyst-side IN-list miner (see [[mineInSets]]). */
  def mineCatalystInSets(e: Expression): Seq[(String, Seq[Column])] = {
    import org.apache.spark.sql.catalyst.expressions._
    catConjuncts(e).flatMap {
      case In(a, vs) if catName(a).isDefined && vs.nonEmpty &&
          vs.forall(_.isInstanceOf[Literal]) =>
        Some((catName(a).get, vs.map(column)))
      case _ => None
    }
  }

  /** Companion miner for IN-lists: `attr.isin(lit, …)` conjuncts as
    * `(name, values)` — the dynamic-partition-pruning shape (a join's
    * build-side key set pushed at a scan). Only all-literal IN lists are
    * mined; a NULL literal inside the list is harmless (SQL IN never
    * selects on a NULL match, so a file pruned because only NULL "fit"
    * had no qualifying rows anyway).
    */
  def mineInSets(c: Column): Seq[(String, Seq[Column])] = {
    import org.apache.spark.sql.internal._
    def conjuncts(n: ColumnNode): Seq[ColumnNode] = n match {
      case UnresolvedFunction("and", args, _, _, _, _) if args.size == 2 =>
        conjuncts(args(0)) ++ conjuncts(args(1))
      case other => Seq(other)
    }
    conjuncts(c.node).flatMap {
      case UnresolvedFunction("in", args, _, _, _, _) if args.size >= 2 =>
        (args.head, args.tail) match {
          case (a: UnresolvedAttribute, vs) if vs.forall(_.isInstanceOf[Literal]) =>
            Some((a.nameParts.mkString("."), vs.map(v => Column(v))))
          case _ => None
        }
      // catalyst-backed predicate nodes (SQL-parsed WHERE) — see mineRanges
      case other if !other.isInstanceOf[UnresolvedFunction] =>
        tryExpressionOf(other).map(mineCatalystInSets).getOrElse(Nil)
      case _ => None
    }
  }
}
