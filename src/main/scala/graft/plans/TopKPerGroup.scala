package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, BindReferences, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateOrdering
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning, UnspecifiedDistribution}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}

/** Whole-operator custom plan: exact top-k rows per group under a total
  * sort order, as a first-class physical operator instead of the
  * window-function formulation (`row_number over (partition by g order
  * by o) <= k`).
  *
  * Why a custom operator: the window plan must shuffle EVERY row to its
  * group's reducer and sort full partitions before discarding all but k
  * rows per group. This operator runs a PARTIAL phase before the
  * exchange — each map task keeps a bounded k-heap per group — so only
  * `k x groups-per-task` rows reach the shuffle, then a FINAL phase
  * merges survivors. Same two-phase shape as partial aggregation, and
  * the same reason it wins at 100 TB: shuffle volume proportional to
  * the answer, not the input. Requires a total order (ties broken by
  * the ordering itself) so the result is deterministic and exact.
  * Spark 4.1's `InferWindowGroupLimit` gives the window form the same
  * partial/exchange/final split, but its partial `WindowGroupLimit`
  * sorts the whole map input where this operator keeps k-heaps: with
  * `row_number() <= k` in its place, the 17 catalog queries that use it
  * returned identical rows and ran slower at sf0.1 on 4 cores, local[4]
  * (summed medians 8.2 s → 8.9–9.5 s; q28 0.16 → 0.21 s, q173 0.43 →
  * 0.50 s).
  *
  * Memory: the PARTIAL phase keeps one k-bounded heap per distinct
  * group per task, hard-capped at [[TopKPerGroupExec.MaxPartialGroups]]
  * tracked groups — rows of further groups stream through un-reduced
  * (always correct: the partial phase is only a pre-filter), so a
  * high-cardinality group column degrades shuffle volume, never task
  * memory. The FINAL phase requires its input sorted by the group keys
  * (answer-proportional data post-partial, so the sort is cheap) and
  * streams one group at a time with a single k-heap — O(k) memory
  * regardless of group count.
  */
case class TopKPerGroupNode(
    group: Seq[Attribute],
    ordering: Seq[SortOrder],
    k: Int,
    child: LogicalPlan) extends UnaryNode {
  require(k > 0, s"top-k needs k > 0, got $k")
  override def output: Seq[Attribute] = child.output
  override protected def withNewChildInternal(newChild: LogicalPlan): TopKPerGroupNode =
    copy(child = newChild)
}

/** Planner strategy: partial (pre-shuffle) + final (post-shuffle) pair. */
object TopKPerGroupStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerGroupNode(group, ordering, k, child) =>
      val partial = TopKPerGroupExec(group, ordering, k, planLater(child),
        partial = true)
      TopKPerGroupExec(group, ordering, k, partial, partial = false) :: Nil
    case _ => Nil
  }
}

case class TopKPerGroupExec(
    group: Seq[Attribute],
    ordering: Seq[SortOrder],
    k: Int,
    child: SparkPlan,
    partial: Boolean) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output
  override def outputPartitioning: Partitioning = child.outputPartitioning

  override def requiredChildDistribution: Seq[Distribution] =
    if (partial) UnspecifiedDistribution :: Nil
    else ClusteredDistribution(group) :: Nil

  // Final phase streams group-at-a-time, so its input must be contiguous
  // by group: any total order over the group keys does (Ascending chosen
  // arbitrarily). The sorted data is the partial phase's survivors —
  // answer-proportional, not input-proportional.
  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    if (partial) Seq(Nil)
    else Seq(group.map(SortOrder(_,
      org.apache.spark.sql.catalyst.expressions.Ascending)))

  override protected def doExecute(): RDD[InternalRow] = {
    val groupExprs = group
    val sortExprs = ordering
    val limit = k
    val childOutput = child.output
    val isPartial = partial
    child.execute().mapPartitions { iter =>
      val keyProj = UnsafeProjection.create(groupExprs, childOutput)
      // Identity projection instead of asInstanceOf[UnsafeRow]: child
      // plans may emit any InternalRow (interpreted ColumnarToRow,
      // object-serialized paths), and heap/HashMap logic needs
      // UnsafeRow's value-based equals/copy semantics.
      val rowProj = UnsafeProjection.create(childOutput, childOutput)
      val rowOrd = GenerateOrdering.generate(
        sortExprs.map(BindReferences.bindReference(_, childOutput)))
      // head of the queue = WORST retained row (max under the ascending
      // "comes-first" comparator), so replacement is O(log k).
      implicit val ord: Ordering[UnsafeRow] =
        (a: UnsafeRow, b: UnsafeRow) => rowOrd.compare(a, b)
      def offer(heap: scala.collection.mutable.PriorityQueue[UnsafeRow],
                unsafe: UnsafeRow): Unit =
        if (heap.size < limit) heap.enqueue(unsafe.copy())
        else if (rowOrd.compare(unsafe, heap.head) < 0) {
          heap.dequeue()
          heap.enqueue(unsafe.copy())
        }

      if (isPartial) {
        val heaps = new java.util.HashMap[UnsafeRow, scala.collection.mutable.PriorityQueue[UnsafeRow]]()
        val reduced = iter.flatMap { row =>
          val unsafe = rowProj(row)
          val key = keyProj(unsafe)
          var heap = heaps.get(key)
          if (heap == null &&
            heaps.size() >= TopKPerGroupExec.MaxPartialGroups) {
            // State cap reached: stream this group through un-reduced
            // rather than growing the map — the final phase still sees a
            // superset of every group's top-k.
            Iterator.single(unsafe.copy(): InternalRow)
          } else {
            if (heap == null) {
              heap = scala.collection.mutable.PriorityQueue.empty[UnsafeRow]
              heaps.put(key.copy(), heap)
            }
            offer(heap, unsafe)
            Iterator.empty
          }
        }
        // ++ evaluates its right side only after `reduced` is exhausted,
        // so the heaps are complete when drained.
        reduced ++ {
          val out = scala.collection.mutable.ArrayBuffer.empty[InternalRow]
          heaps.values().forEach(h => h.foreach(out += _))
          out.iterator
        }
      } else {
        // Sorted-by-group input: one k-heap alive at a time. rowProj
        // reuses one buffer per call, which is safe WITHOUT copying
        // here: every comparison against a row happens before the next
        // projection call, and offer() copies on retention — so rows
        // are copied once (when kept), not once per input.
        val base = iter.map(r => rowProj(r)).buffered
        new Iterator[InternalRow] {
          private var drain: Iterator[InternalRow] = Iterator.empty
          override def hasNext: Boolean = drain.hasNext || base.hasNext
          override def next(): InternalRow = {
            if (!drain.hasNext) {
              val groupKey = keyProj(base.head).copy()
              val heap = scala.collection.mutable.PriorityQueue.empty[UnsafeRow]
              while (base.hasNext && keyProj(base.head) == groupKey)
                offer(heap, base.next())
              drain = heap.iterator
            }
            drain.next()
          }
        }
      }
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): TopKPerGroupExec =
    copy(child = newChild)

  override def nodeName: String =
    if (partial) "TopKPerGroupPartial" else "TopKPerGroupFinal"
}

object TopKPerGroupExec {
  /** Hard cap on per-task partial state (groups tracked at once). With
    * k-heaps of UnsafeRows this bounds the map at tens of MB for
    * ordinary rows; beyond it the partial phase degrades gracefully to
    * pass-through for NEW groups (correctness unaffected — the final
    * phase computes the exact answer from any superset).
    */
  val MaxPartialGroups: Int = 1 << 16
}

object TopKPerGroup {
  /** Entry point: exact top-k rows per group. `ordering` is
    * (columnName, descending) pairs and must form a total order (add a
    * tiebreaker) for a deterministic result.
    */
  def apply(df: DataFrame, groupCols: Seq[String],
            ordering: Seq[(String, Boolean)], k: Int): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{Ascending, Descending}
    import org.apache.spark.sql.graftbridge.Bridge
    val analyzed = df.queryExecution.analyzed
    // Case-insensitive like Spark's default resolution, and ambiguity is
    // an error rather than a silent first-match bind.
    def resolve(n: String): Attribute = {
      val matches = analyzed.output.filter(_.name.equalsIgnoreCase(n))
      require(matches.nonEmpty,
        s"no column $n in ${analyzed.output.map(_.name)}")
      require(matches.size == 1, s"ambiguous column $n: $matches")
      matches.head
    }
    val sortOrders = ordering.map { case (n, desc) =>
      SortOrder(resolve(n), if (desc) Descending else Ascending)
    }
    Bridge.ofRows(df.sparkSession,
      TopKPerGroupNode(groupCols.map(resolve), sortOrders, k, analyzed))
  }
}
