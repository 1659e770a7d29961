package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Attribute, EqualTo, IsNull, Or}
import org.apache.spark.sql.catalyst.plans.LeftAnti
import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule

/** Optimizer extension: NOT IN → PLAIN ANTI JOIN, licensed by declared
  * NOT NULL columns — the sixth consumer of [[TableConstraints]].
  *
  * `x NOT IN (subquery)` carries SQL's three-valued-logic trap: a NULL
  * x or any NULL in the subquery flips rows to UNKNOWN, so Spark plans
  * the single-column case as a null-aware anti join (NAAJ) — which
  * supports ONLY a broadcast build, and FORCES it: measured
  * (`PROBE_Q100`), the plan stays `BroadcastHashJoin … LeftAnti,
  * BuildRight, isNullAware=true` even with the broadcast threshold at
  * 1 KB, because no shuffle strategy can implement the null-aware
  * semantics. At 100 TB that is a mandatory multi-GB blocklist
  * broadcast to every executor — or an OOM. But the null semantics
  * only matter if nulls can EXIST: when the probe column is a
  * declared FK child (NOT NULL) and the subquery column is a declared
  * PK or FK child (NOT NULL), the null-aware disjunct `IsNull(a = b)`
  * is statically false, `NOT IN` IS the plain anti join, and the
  * planner is freed to pick shuffle-capable sort-merge/hash anti
  * strategies (the probe's rule-on plan: `SortMergeJoin … LeftAnti`).
  *
  * This deliberately CONVERTS rather than deletes (contrast with the
  * anti-join firewall in [[RewriteJoinElimination]]): the probe still
  * executes, and if the declarations are ever violated the discrepancy
  * surfaces in results rather than being silently optimized away.
  *
  * Narrowness: fires only on the exact single-column NAAJ condition
  * shape `Or(a = b, IsNull(a = b))`, with both attributes traced
  * through value-preserving nodes to scan columns declared non-null
  * ([[TableConstraints.nonNullColumn]]). Dim-side filters are fine —
  * they change which rows are in the list, never the columns' null
  * profile. q58's deliberately nullable CASE key refuses at the trace
  * (an alias of a non-attribute never reaches a scan column). */
object RewriteNotInToAnti extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case j @ Join(left, right, LeftAnti,
        Some(Or(eq @ EqualTo(x: Attribute, y: Attribute), IsNull(eq2: EqualTo))), _)
        if eq.semanticEquals(eq2) && licensed(left, right, x, y) =>
      j.copy(condition = Some(eq))
  }

  private def licensed(
      left: LogicalPlan, right: LogicalPlan, x: Attribute, y: Attribute): Boolean = {
    val (a, b) =
      if (left.outputSet.contains(x) && right.outputSet.contains(y)) (x, y)
      else if (left.outputSet.contains(y) && right.outputSet.contains(x)) (y, x)
      else return false
    def nonNull(side: LogicalPlan, attr: Attribute): Boolean =
      RewriteJoinElimination.traceScanCol(side, attr)
        .exists { case (t, c) => TableConstraints.nonNullColumn(t, c) }
    nonNull(left, a) && nonNull(right, b)
  }
}
