package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateOrdering
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning, UnspecifiedDistribution}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.types.IntegerType

/** Whole-operator extension surface: per-group top-k as a first-class
  * physical operator — logical node ([[TopKPerGroup]]), planner strategy
  * ([[TopKStrategy]]), and physical operator ([[TopKPerGroupExec]]). The
  * strategy is in the graft install table
  * ([[graft.functions.GraftFunctions]]): a [[graft.GraftSession]] session
  * plans the node, and so does any session `GraftFunctions.register` ran
  * on.
  *
  * Why a custom operator when a window (`row_number <= k`) expresses the
  * same result: the window plan SORTS every partition's full group contents
  * (shuffle all rows, sort, rank, then discard all but k), so at 100 TB the
  * shuffle carries the whole fact table. This operator keeps a bounded
  * k-element heap per group on BOTH sides of the exchange — the map side
  * emits at most k rows per (partition, group), the shuffle moves only
  * those, and no sort of the full data ever happens. Same partial/final
  * shape as Spark's own hash aggregate; state is bounded by
  * groups-per-partition × k rows.
  *
  * The same result is available as a UDAF ([[graft.functions.TopKAggregator]])
  * where injecting a strategy isn't an option; this operator additionally
  * returns rows in their original width (no struct packing) with a rank
  * column, and pins the plan shape (one exchange, no SortExec) in
  * `TopKPlanSpec`.
  */
case class TopKPerGroup(groupCols: Seq[Expression], order: Seq[SortOrder],
                        k: Int, rankAttr: Attribute, child: LogicalPlan)
    extends UnaryNode {
  require(k > 0, s"k must be positive, got $k")
  override def output: Seq[Attribute] = child.output :+ rankAttr
  override def producedAttributes: AttributeSet = AttributeSet(rankAttr :: Nil)
  override def maxRows: Option[Long] = child.maxRows
  override protected def withNewChildInternal(newChild: LogicalPlan): TopKPerGroup =
    copy(child = newChild)
}

object TopKStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerGroup(g, o, k, rank, child) =>
      val partial = TopKPerGroupExec(g, o, k, rank, partial = true,
        planLater(child))
      TopKPerGroupExec(g, o, k, rank, partial = false, partial) :: Nil
    case _ => Nil
  }
}

/** Bounded per-group top-k. `partial = true` runs before the exchange with
  * no distribution requirement (per-partition heaps, emits ≤ k rows per
  * group per partition, no rank). `partial = false` declares
  * `ClusteredDistribution(groupCols)` — EnsureRequirements inserts the one
  * hash exchange — and emits each group's final top k with `rank` 1..k.
  *
  * Memory safety at high group cardinality (the hash-map state is
  * groups-per-partition × k rows, unbounded by default — same hazard as
  * Spark's ObjectHashAggregate, same cure): past
  * `spark.graft.topk.maxGroupsInMemory` in-flight groups,
  *  - the PARTIAL node EVICTS the coldest half of its heap map (LRU
  *    order) downstream and keeps going. Hot groups stay resident and
  *    keep combining; a drain-everything flush would instead re-emit
  *    every hot group's ≤ k rows on each overflow, an unbounded shuffle
  *    amplification when cardinality sits just above the cap. Evicted
  *    groups emit ≤ k rows per residency — more shuffle bytes than the
  *    uncapped case, identical answer, since the final node
  *    re-aggregates whatever reaches it;
  *  - the FINAL node (which cannot flush — ranks must see the whole
  *    group) hands everything to a spillable external sort
  *    ([[org.apache.spark.sql.execution.UnsafeExternalRowSorter]], the
  *    machinery under SortExec) keyed (group, order) and streams ranked
  *    rows off the sorted run, exactly the sort-based fallback
  *    ObjectHashAggregate uses. Rows its heaps already discarded stay
  *    discarded — they ranked below k within a group this partition owns
  *    entirely, so they can never reach the top k.
  */
case class TopKPerGroupExec(groupCols: Seq[Expression], order: Seq[SortOrder],
                            k: Int, rankAttr: Attribute, partial: Boolean,
                            child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] =
    if (partial) child.output else child.output :+ rankAttr

  override def producedAttributes: AttributeSet =
    if (partial) AttributeSet.empty else AttributeSet(rankAttr :: Nil)

  // rankAttr is an output-only field; without this override the partial
  // node would "reference" an attribute its child never produces and print
  // as invalid (!TopKPerGroup) in explain output
  override def references: AttributeSet =
    AttributeSet((groupCols ++ order).flatMap(_.references))

  override def requiredChildDistribution: Seq[Distribution] =
    if (partial) UnspecifiedDistribution :: Nil
    else ClusteredDistribution(groupCols) :: Nil

  override def outputPartitioning: Partitioning = child.outputPartitioning

  override protected def doExecute(): RDD[InternalRow] = {
    val groupExprs = groupCols
    val sortOrder = order
    val limit = k
    val childOutput = child.output
    val isPartial = partial
    val maxGroups = conf.getConfString(
      "spark.graft.topk.maxGroupsInMemory", (1 << 21).toString).toInt
    require(maxGroups > 0, s"maxGroupsInMemory must be positive, got $maxGroups")
    child.execute().mapPartitions({ iter =>
      val keyProj = UnsafeProjection.create(groupExprs, childOutput)
      // generated comparator over the child row — evaluates the SortOrder
      // keys directly, so heap entries are plain row copies, no key tuple
      val cmp = GenerateOrdering.generate(sortOrder, childOutput)
      // reverse: head of the heap = WORST retained row (classic top-k)
      val heapCmp = new java.util.Comparator[InternalRow] {
        override def compare(a: InternalRow, b: InternalRow): Int = cmp.compare(b, a)
      }
      // access-order LinkedHashMap: iteration visits least-recently-offered
      // groups first, which is the partial node's eviction order
      val groups = new java.util.LinkedHashMap[UnsafeRow, java.util.PriorityQueue[InternalRow]](
        16, 0.75f, true)

      // offer a row to its group's heap, creating the heap if absent;
      // caller guarantees map-size headroom for the create
      def offer(row: InternalRow, key: UnsafeRow): Unit = {
        var heap = groups.get(key)
        if (heap == null) {
          heap = new java.util.PriorityQueue[InternalRow](limit, heapCmp)
          groups.put(key.copy(), heap)
        }
        if (heap.size < limit) heap.add(row.copy())
        else if (cmp.compare(row, heap.peek()) < 0) { // row ranks before worst
          heap.poll(); heap.add(row.copy())
        }
      }

      if (isPartial) {
        // Streaming eviction: whenever a NEW group would push the map past
        // maxGroups, emit the coldest HALF (LRU iteration order) downstream
        // and keep going — per-task state stays capped at maxGroups × k rows
        // no matter the partition's cardinality, while hot groups remain
        // resident and keep combining instead of re-emitting every overflow.
        //
        // ADAPTIVE PARTIAL SKIP (the low-reduction-ratio escape every
        // partial aggregate needs): on near-unique keys the map combines
        // nothing — every row pays a key copy, a heap allocation and map
        // churn just to be re-emitted, and per-task state balloons to the
        // partition's cardinality (measured at sf10: 60M near-unique rows
        // → 57× blowup from GC pressure alone). After `skipFloor` rows,
        // if fewer than 10% found an existing group, NEW keys stop
        // inserting and their rows PASS THROUGH uncopied (the final node
        // settles them — any subset of partial combining is correct);
        // already-resident hot groups keep combining.
        new Iterator[InternalRow] {
          private var flushed: Iterator[InternalRow] = Iterator.empty
          private var passRow: InternalRow = null
          private var inputDone = false
          private var rowsSeen = 0L
          private var combineHits = 0L
          private var skip = false
          private val skipFloor = 1L << 16
          private def drainAll(): Iterator[InternalRow] = {
            val buf = new scala.collection.mutable.ArrayBuffer[InternalRow]()
            groups.forEach((_, heap) => heap.forEach(r => buf += r))
            groups.clear()
            buf.iterator
          }
          private def evictColdestHalf(): Iterator[InternalRow] = {
            val evict = math.max(1, groups.size / 2)
            val buf = new scala.collection.mutable.ArrayBuffer[InternalRow]()
            val it = groups.entrySet().iterator()
            var i = 0
            while (i < evict && it.hasNext) {
              it.next().getValue.forEach(r => buf += r)
              it.remove()
              i += 1
            }
            buf.iterator
          }
          private def pump(): Unit = {
            while (passRow == null && !flushed.hasNext && !inputDone) {
              if (!iter.hasNext) { inputDone = true; flushed = drainAll() }
              else {
                val row = iter.next()
                val key = keyProj(row)
                rowsSeen += 1
                val heap = groups.get(key) // bumps the group's LRU recency
                if (heap != null) {
                  combineHits += 1
                  if (heap.size < limit) heap.add(row.copy())
                  else if (cmp.compare(row, heap.peek()) < 0) {
                    heap.poll(); heap.add(row.copy())
                  }
                } else if (skip) {
                  // safe uncopied: the consumer (shuffle write) finishes
                  // with the row before this iterator's next pump()
                  passRow = row
                } else {
                  if (groups.size >= maxGroups)
                    flushed = evictColdestHalf() // emit, then insert fresh
                  val h = new java.util.PriorityQueue[InternalRow](limit, heapCmp)
                  h.add(row.copy())
                  groups.put(key.copy(), h)
                  if (rowsSeen >= skipFloor && combineHits * 10L < rowsSeen)
                    skip = true
                }
              }
            }
          }
          override def hasNext: Boolean = {
            pump(); passRow != null || flushed.hasNext
          }
          override def next(): InternalRow = {
            pump()
            if (passRow != null) { val r = passRow; passRow = null; r }
            else flushed.next()
          }
        }
      } else {
        val withRank = UnsafeProjection.create(
          childOutput.zipWithIndex.map { case (a, i) =>
            BoundReference(i, a.dataType, a.nullable)
          } :+ BoundReference(childOutput.size, IntegerType, false),
          childOutput :+ rankAttr)
        val rankRow = new GenericInternalRow(1)
        val joined = new JoinedRow
        var sorter: org.apache.spark.sql.execution.UnsafeExternalRowSorter = null
        val toUnsafe = UnsafeProjection.create(childOutput, childOutput)
        def asUnsafe(r: InternalRow): UnsafeRow = r match {
          case u: UnsafeRow => u
          case other => toUnsafe(other)
        }
        while (iter.hasNext && sorter == null) {
          val row = iter.next()
          val key = keyProj(row)
          if (!groups.containsKey(key) && groups.size >= maxGroups) {
            // Sort-based fallback: everything retained so far plus the rest
            // of the input goes through a spillable external sort keyed
            // (group, order); rows the heaps already evicted ranked below k
            // in a fully-local group and are correctly gone.
            sorter = TopKPerGroupExec.makeSorter(childOutput, groupExprs, sortOrder)
            groups.forEach((_, heap) => heap.forEach(r => sorter.insertRow(asUnsafe(r))))
            groups.clear()
            sorter.insertRow(asUnsafe(row))
          } else offer(row, key)
        }
        if (sorter != null) {
          while (iter.hasNext) sorter.insertRow(asUnsafe(iter.next()))
          val tc = org.apache.spark.TaskContext.get()
          if (tc != null) tc.addTaskCompletionListener[Unit](_ => sorter.cleanupResources())
          var prevKey: UnsafeRow = null
          var emitted = 0
          sorter.sort().flatMap { row =>
            val key = keyProj(row)
            if (prevKey == null || key != prevKey) { prevKey = key.copy(); emitted = 0 }
            if (emitted < limit) {
              emitted += 1
              rankRow.update(0, emitted)
              Some(withRank(joined(row, rankRow)): InternalRow)
            } else None
          }
        } else {
          val out = scala.collection.mutable.ArrayBuffer.empty[InternalRow]
          groups.forEach { (_, heap) =>
            val rows = new Array[InternalRow](heap.size)
            var i = rows.length - 1
            while (i >= 0) { rows(i) = heap.poll(); i -= 1 } // poll worst-first
            var r = 0
            while (r < rows.length) {
              rankRow.update(0, r + 1)
              out += withRank(joined(rows(r), rankRow)).copy()
              r += 1
            }
          }
          out.iterator
        }
      }
    }, preservesPartitioning = true)
  }

  override protected def withNewChildInternal(newChild: SparkPlan): TopKPerGroupExec =
    copy(child = newChild)
}

object TopKPerGroupExec {
  /** Spillable external sorter over (group keys asc, then the top-k order) —
    * the same machinery SortExec runs on. Constant zero prefix + no radix:
    * every comparison goes through the generated full-row ordering, which
    * keeps this a cold-fallback-only code path with no prefix-encoding
    * subtleties.
    */
  private[plans] def makeSorter(
      childOutput: Seq[Attribute], groupExprs: Seq[Expression],
      order: Seq[SortOrder]): org.apache.spark.sql.execution.UnsafeExternalRowSorter = {
    import org.apache.spark.sql.execution.UnsafeExternalRowSorter
    val fullOrder = groupExprs.map(e => SortOrder(e, Ascending)) ++ order
    val ordering = GenerateOrdering.generate(fullOrder, childOutput)
    val prefixComputer = new UnsafeExternalRowSorter.PrefixComputer {
      private val p = new UnsafeExternalRowSorter.PrefixComputer.Prefix
      override def computePrefix(row: InternalRow): UnsafeExternalRowSorter.PrefixComputer.Prefix = {
        p.value = 0L; p.isNull = false; p
      }
    }
    UnsafeExternalRowSorter.create(
      org.apache.spark.sql.catalyst.types.DataTypeUtils.fromAttributes(childOutput),
      ordering,
      org.apache.spark.util.collection.unsafe.sort.PrefixComparators.LONG,
      prefixComputer,
      org.apache.spark.SparkEnv.get.memoryManager.pageSizeBytes,
      false)
  }
}

/** DataFrame-level entry: plans `df` through the custom operator, on a
  * session that has [[TopKStrategy]] (see [[TopKPerGroup]]). `orderCols`
  * must induce a TOTAL order within each group for a deterministic result
  * (add a key tiebreak, same rule as any ranking).
  */
object TopKPlans {
  def topKPerGroup(df: DataFrame, groupCols: Seq[String],
                   orderCols: Seq[(String, Boolean)], k: Int,
                   rankName: String = "rnk"): DataFrame =
    planNode(df, groupCols, k, rankName) { attrOf =>
      orderCols.map { case (c, asc) =>
        SortOrder(attrOf(c), if (asc) Ascending else Descending)
      }
    }

  /** [[topKPerGroup]] taking arbitrary sort COLUMNS (any deterministic
    * expression over the input; directional columns like `$"ts".desc`
    * keep their direction and null ordering). Columns resolve through a
    * throwaway `sort` against the input's analyzed plan — a Spark 4
    * `Column` is a backend-agnostic node that only becomes a Catalyst
    * expression under real analysis, and only a Sort node accepts
    * SortOrder-wrapped columns (a Project would fail analysis on them,
    * which is how directional tiebreaks used to break here).
    */
  def topKPerGroupSort(df: DataFrame, groupCols: Seq[String],
                       sortCols: Seq[org.apache.spark.sql.Column], k: Int,
                       rankName: String = "rnk"): DataFrame =
    planNode(df, groupCols, k, rankName) { _ =>
      val analyzed = df.sort(sortCols: _*).queryExecution.analyzed
      val order = analyzed.collectFirst {
        case s: org.apache.spark.sql.catalyst.plans.logical.Sort => s.order
      }.getOrElse(throw new IllegalStateException(
        s"sort-column resolution expected a Sort node in:\n$analyzed"))
      order.map { so =>
        so.child match {
          case a: Alias => so.copy(child = a.child)
          case _ => so
        }
      }
    }

  private def planNode(df: DataFrame, groupCols: Seq[String], k: Int,
                       rankName: String)
                      (mkOrder: (String => Attribute) => Seq[SortOrder]): DataFrame = {
    require(groupCols.nonEmpty,
      "topKPerGroup needs at least one group column (ClusteredDistribution(Nil) " +
        "is unplannable); for a global top-k use orderBy(...).limit(k)")
    val spark = df.sparkSession
    val analyzed = df.queryExecution.analyzed
    def attrOf(name: String): Attribute = analyzed.output.filter(_.name == name) match {
      case Seq(a) => a
      case Seq() => throw new IllegalArgumentException(
        s"column $name not in ${analyzed.output.map(_.name).mkString(", ")}")
      case many => throw new IllegalArgumentException(
        s"column $name is ambiguous (${many.size} matches) — alias before topKPerGroup")
    }
    val g = groupCols.map(attrOf)
    val so = mkOrder(attrOf)
    val rank = AttributeReference(rankName, IntegerType, nullable = false)()
    org.apache.spark.sql.GraftShim.dataFrame(spark,
      TopKPerGroup(g, so, k, rank, analyzed))
  }
}
