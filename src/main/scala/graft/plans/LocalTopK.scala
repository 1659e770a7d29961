package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression, RowOrdering, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.execution.{SparkPlan, UnaryExecNode}

/** Whole-operator Catalyst extension (SURVEY §2.2 preference order (c):
  * LogicalPlan + SparkStrategy + SparkPlan, registered through
  * SparkSessionExtensions): map-side per-group top-k pruning.
  *
  * Top-k is algebraic: a group's global top-k is contained in the union
  * of each partition's local top-k, so pruning before the exchange
  * shrinks the shuffle from O(rows) to O(partitions x groups x k)
  * without changing the answer. Spark 3.5+ exploits this itself — the
  * InferWindowGroupLimit rule plans a Partial WindowGroupLimitExec below
  * the shuffle for rank-filter patterns — so the HONEST positioning of
  * this node is (a) the extension-point demonstration, and (b) a
  * different cost model: WindowGroupLimit's partial mode consumes a
  * partition-local SORT (O(n log n) per partition, materialized sort
  * buffer) while this operator keeps a bounded k-heap per group key
  * (O(n log k), memory O(groups x k) rows, no sort) — the right trade
  * when k is small, groups are few, and partitions are fat, which is
  * exactly the 100 TB leaderboard/sampling shape. It is also a direct
  * library API: no window-function pattern needed for Catalyst to
  * recognize.
  *
  * Correctness requires the prune ordering to EQUAL the downstream
  * ranking's total order (ties at the k-th slot would otherwise be cut
  * arbitrarily); the q46 entry orders by (price DESC, key ASC) — total —
  * on both the prune and the window.
  */
/** Logical marker carrying group columns + intra-group order.
  * `maxGroups` bounds the exec's per-partition heap map: group keys past
  * the cap PASS THROUGH unpruned. Under-pruning is always lossless (the
  * downstream rank filter still cuts exactly), so the cap turns a
  * potential O(distinct-groups) memory blowup into graceful degradation —
  * the property that makes AUTOMATIC insertion (AutoLocalTopK) safe at
  * any group cardinality. */
case class LocalTopKPerGroup(
    k: Int,
    groupCols: Seq[Expression],
    order: Seq[SortOrder],
    child: LogicalPlan,
    maxGroups: Int = Int.MaxValue)
    extends UnaryNode {
  override def output: Seq[Attribute] = child.output
  override protected def withNewChildInternal(newChild: LogicalPlan): LocalTopKPerGroup =
    copy(child = newChild)
}

/** Physical operator: one pass per partition, a bounded k-heap per group
  * key. Memory is O(min(groups-per-partition, maxGroups) x k) ROWS (not
  * input size); once the heap map holds `maxGroups` keys, rows of unseen
  * keys stream through unpruned (lossless — see LocalTopKPerGroup). */
case class LocalTopKPerGroupExec(
    k: Int,
    groupCols: Seq[Expression],
    order: Seq[SortOrder],
    child: SparkPlan,
    maxGroups: Int)
    extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output
  override def outputPartitioning: org.apache.spark.sql.catalyst.plans.physical.Partitioning =
    child.outputPartitioning

  override protected def doExecute(): RDD[InternalRow] = {
    val childOutput = child.output
    val ord = order
    val gCols = groupCols
    val kk = k
    val maxG = maxGroups
    child.execute().mapPartitions({ iter =>
      val keyProj = UnsafeProjection.create(gCols, childOutput)
      val rowOrd = RowOrdering.create(ord, childOutput)
      // max-heap on the PRUNE order's "worst first": peek = current k-th
      val heapOrd = rowOrd.asInstanceOf[Ordering[InternalRow]].reverse
      val heaps = new java.util.HashMap[UnsafeRow, java.util.PriorityQueue[InternalRow]]()
      // Overflow keys stream out immediately (no buffering); heap drain is
      // the lazy right side of ++, evaluated only after input is consumed.
      iter.flatMap { row =>
        val key = keyProj(row)
        var h = heaps.get(key)
        if (h == null && heaps.size() < maxG) {
          h = new java.util.PriorityQueue[InternalRow](kk + 1, heapOrd)
          heaps.put(key.copy(), h)
        }
        if (h == null) Iterator.single(row) // map full: pass through unpruned
        else {
          if (h.size < kk) h.add(row.copy())
          else if (rowOrd.compare(row, h.peek()) < 0) { // row ranks before current k-th
            h.poll(); h.add(row.copy())
          }
          Iterator.empty
        }
      } ++ {
        import scala.jdk.CollectionConverters._
        heaps.values.asScala.iterator.flatMap(_.iterator().asScala)
      }
    }, preservesPartitioning = true)
  }

  override protected def withNewChildInternal(newChild: SparkPlan): LocalTopKPerGroupExec =
    copy(child = newChild)
}

object LocalTopKStrategy extends org.apache.spark.sql.execution.SparkStrategy {
  import org.apache.spark.sql.catalyst.expressions.RowNumber
  import org.apache.spark.sql.catalyst.plans.logical.WindowGroupLimit

  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case LocalTopKPerGroup(k, g, o, child, maxG) =>
      LocalTopKPerGroupExec(k, g, o, planLater(child), maxG) :: Nil
    // Production (spark.sql.extensions) ordering quirk: the injected
    // AutoLocalTopK runs in the operator-optimization batch, BEFORE
    // Spark's InferWindowGroupLimit, whose only self-guard is on a
    // WindowGroupLimit child — so it stacks its sort-based limit on top
    // of the already-planted heap prune. A row_number WindowGroupLimit
    // directly over our node with a limit >= k AND the SAME grouping and
    // order is pruning rows the heap already cut (under-pruning either
    // way is lossless; the Filter above the Window enforces the exact
    // bound): absorb it at planning time instead of paying its
    // partition-local sort. The spec match matters (ADVICE r6): a WGL
    // whose partition/order differs from the prune's has exact
    // per-group-limit semantics of its OWN that absorption would void —
    // such a node (only constructible by hand; both inserting rules fire
    // under a Filter+Window with identical specs) must plan normally,
    // with the heap prune as a plain child. The session
    // (extraOptimizations) path never hits this — there the rule runs
    // AFTER InferWindowGroupLimit and replaces the node outright.
    case WindowGroupLimit(ps, os, _: RowNumber, limit,
        LocalTopKPerGroup(k, g, o, child, maxG))
        if limit >= k &&
          ps.length == g.length && ps.zip(g).forall { case (a, b) => a.semanticEquals(b) } &&
          os.length == o.length && os.zip(o).forall { case (a, b) => a.semanticEquals(b) } =>
      LocalTopKPerGroupExec(k, g, o, planLater(child), maxG) :: Nil
    case _ => Nil
  }
}

object LocalTopK {
  /** Install the strategy once per session (idempotent). */
  def register(spark: SparkSession): Unit =
    if (!spark.experimental.extraStrategies.contains(LocalTopKStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ LocalTopKStrategy

  /** Library API: prune `df` to (at most) each partition's local top-k
    * rows per group under `order` — a lossless pre-shuffle filter for a
    * downstream row_number/rank <= k, provided `order` is the SAME total
    * order the ranking uses. */
  def topKPerGroup(
      df: org.apache.spark.sql.DataFrame,
      k: Int,
      groupCols: Seq[org.apache.spark.sql.Column],
      order: Seq[org.apache.spark.sql.Column]): org.apache.spark.sql.DataFrame = {
    val spark = df.sparkSession
    register(spark)
    val child = org.apache.spark.sql.GraftPlanShim.logicalPlan(df)
    // Unresolved expressions are fine here: the analyzer resolves any
    // node's `expressions` against its child's output generically.
    val g = groupCols.map(org.apache.spark.sql.GraftPlanShim.expression)
    val o = order.map(org.apache.spark.sql.GraftPlanShim.expression).map {
      case so: SortOrder => so
      case e => SortOrder(e, org.apache.spark.sql.catalyst.expressions.Ascending)
    }
    org.apache.spark.sql.GraftPlanShim.ofRows(spark, LocalTopKPerGroup(k, g, o, child))
  }
}
