package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeMap, AttributeSet, IntegerLiteral, Literal, SortOrder}
import org.apache.spark.sql.catalyst.plans.logical.{GlobalLimit, Join, LocalLimit, LogicalPlan, Project, Sort}
import org.apache.spark.sql.catalyst.rules.Rule

/** Optimizer extension: TOP-K PUSHDOWN THROUGH JOINS, licensed by the
  * same RELY constraints as [[RewriteJoinElimination]]. The shape:
  *
  *   SELECT f.*, d.extra FROM fact f [LEFT] JOIN dim d ON f.fk = d.pk
  *   ORDER BY f.x LIMIT k
  *
  * Stock Spark executes the ENTIRE join, then takes the top k — at
  * 100 TB, a full fact-table join to produce k rows. But when the join
  * provably preserves the fact multiset (inner FK→PK: every fact row
  * matches exactly once by referential integrity + key uniqueness;
  * left-outer on a covered PK: exactly once, matched or null-extended)
  * and the sort keys are fact columns, the top-k of the join IS the
  * join of the top-k: rank first — a per-partition-heap
  * TakeOrderedAndProject over the fact scan, no full sort, no join —
  * then join k rows (which then broadcast). `LimitPushDown` pushes
  * plain limits through preserved join sides; it cannot push a SORTED
  * limit, because without constraints a join may drop or duplicate
  * fact rows and reorder the boundary. The RELY license is exactly
  * what makes it sound.
  *
  * Tie semantics: with a non-total ORDER BY, which boundary ties
  * survive is already partitioning-dependent in the unpushed
  * TakeOrdered; the pushed plan picks from the same tie class.
  * Catalog entries use total orders, so the oracle parity is exact.
  *
  * Narrowness: fires only on GlobalLimit(k, LocalLimit(k,
  * Sort(global))) over a [Project of a] licensed Join, k bounded
  * (top-k, not pagination), deterministic sort keys tracing to the
  * preserved side (alias-resolved through the Project). Idempotent:
  * the pushed fact child is recognized and skipped on re-runs. */
object RewriteTopKThroughJoin extends Rule[LogicalPlan] {

  /** TakeOrdered territory; beyond this a real sort is planned anyway
    * (spark.sql.execution.topKSortFallbackThreshold's scale). */
  private val maxK = 100000

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformDown {
    case gl @ GlobalLimit(IntegerLiteral(k),
        ll @ LocalLimit(_, s @ Sort(ord, true, child, _))) if k > 0 && k <= maxK =>
      pushThrough(k, ord, child)
        .map(nc => gl.copy(child = ll.copy(child = s.copy(child = nc))))
        .getOrElse(gl)
  }

  private def pushThrough(
      k: Int, ord: Seq[SortOrder], child: LogicalPlan): Option[LogicalPlan] =
    child match {
      case j: Join => pushJoin(k, ord, j)
      case p @ Project(list, inner) =>
        // resolve sort keys through the projection's aliases so derived
        // sort columns (e.g. a renamed fact column) still trace; recurse
        // so Project stacks (e.g. the residue of a sibling rule's
        // rewrite before CollapseProject reruns) don't block the push
        val aliasMap = AttributeMap(list.collect {
          case a @ Alias(e, _) => a.toAttribute -> e
        })
        val remapped = ord.map(_.transformUp {
          case a: Attribute => aliasMap.getOrElse(a, a)
        }.asInstanceOf[SortOrder])
        pushThrough(k, remapped, inner).map(nc => p.copy(child = nc))
      case _ => None
    }

  private def pushJoin(k: Int, ord: Seq[SortOrder], j: Join): Option[LogicalPlan] = {
    if (ord.exists(!_.deterministic)) return None
    val refs = AttributeSet(ord.flatMap(_.references))
    RewriteJoinElimination.preservedSides(j)
      .find(side => refs.subsetOf(side.outputSet))
      .flatMap { fact =>
        fact match {
          // already pushed (fixed-point re-run) — stable
          case GlobalLimit(IntegerLiteral(k2), LocalLimit(_, Sort(ord2, true, _, _)))
              if k2 <= k && ord2.length == ord.length &&
                ord2.zip(ord).forall { case (a, b) => a.semanticEquals(b) } =>
            None
          case _ =>
            val pushed = GlobalLimit(Literal(k),
              LocalLimit(Literal(k), Sort(ord, global = true, fact, None)))
            Some(if (fact eq j.left) j.copy(left = pushed) else j.copy(right = pushed))
        }
      }
  }
}
