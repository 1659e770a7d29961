package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeMap, AttributeReference, EqualTo, Expression, IsNotNull, NamedExpression, RowFrame, SpecifiedWindowFrame, UnboundedFollowing, UnboundedPreceding, WindowExpression, WindowSpecDefinition}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Average, Count, Max, Min, Sum}
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, Join, LogicalPlan, Project, Window}
import org.apache.spark.sql.catalyst.rules.Rule

/** Optimizer extension: SELF-JOIN AGGREGATE ELIMINATION via window
  * functions (the WinMagic rewrite — Zuzarte et al., "WinMagic: Subquery
  * Elimination Using Window Aggregation", SIGMOD 2003). The most common
  * hand-written analytics shape there is:
  *
  *   SELECT t.*, a.total
  *   FROM t JOIN (SELECT k, sum(x) AS total FROM t GROUP BY k) a
  *     ON t.k = a.k
  *
  * — scan the table, aggregate it, join the aggregate BACK onto the same
  * table. The rule detects the self-scan (the join input and the
  * aggregate's input are semantically the same plan: `sameResult` on
  * the bases below each side's top Project, whose independently-pruned
  * column lists are then reconciled expression-by-expression) and
  * collapses the whole shape to
  *
  *   SELECT t.*, sum(x) OVER (PARTITION BY k) AS total FROM t
  *
  * one scan, one shuffle, zero joins.
  *
  * Soundness: the aggregate side has exactly one row per key, so the
  * inner equi join attaches "the aggregate of t's rows with key = my
  * key" to each row — which is precisely the unbounded-frame window
  * aggregate over PARTITION BY k, row for row, because both sides fold
  * the SAME multiset (same relation, same filters — that is what the
  * `sameResult` check certifies). Two edges are handled explicitly:
  *  - NULL keys: the inner join drops them (NULL = NULL is not true)
  *    while a window would keep them as their own partition, so the
  *    rewrite inserts Filter(IsNotNull(k)) when the key is nullable —
  *    usually already present via the optimizer's constraint inference,
  *    in which case it is a no-op predicate;
  *  - float folds: hash-aggregate and window-aggregate may fold doubles
  *    in different orders. The naive plan's own result is already
  *    partitioning-dependent for FP sums (Spark's partial aggregation
  *    makes no ordering promise), so the rewrite stays inside the same
  *    nondeterminism envelope — exact for the integral/decimal
  *    aggregates a correctness-minded query uses.
  *
  * Why this is a 100 TB rule: the naive plan reads the fact table TWICE
  * (the second scan is never reused — exchange reuse only deduplicates
  * shuffles, not scans), aggregates one copy (a full shuffle on k),
  * then shuffle-joins the two (another full shuffle of the fact side).
  * The rewritten plan is one scan and one exchange on k followed by an
  * in-partition sort — at a 100 TB fact table, half the IO and half the
  * network. COST-GUARDED like RewriteEagerAgg: when the aggregate side
  * fits the broadcast threshold the naive plan is scan + tiny broadcast
  * (no fact shuffle at all) and the window's full exchange would be
  * strictly worse, so the rule only fires in the shuffle-join regime —
  * the regime the second fact scan actually hurts in.
  *
  * Deliberately narrow (AutoLocalTopK's philosophy):
  *  - INNER join, condition exactly ONE `a = b` attribute equality
  *    whose aggregate-side attribute IS the group key passthrough and
  *    whose other-side attribute is the SAME underlying column (checked
  *    through the positional attribute map the `sameResult` proof
  *    licenses);
  *  - Aggregate with a single bare-attribute grouping key, outputs =
  *    key passthrough + aliased non-DISTINCT un-FILTERed
  *    sum/count/min/max/avg calls;
  *  - both inputs deterministic; everything else untouched.
  * Idempotent: the rewritten plan contains no Join, so no re-match.
  */
object RewriteSelfJoinAgg extends Rule[LogicalPlan] {

  /** Decompose a join input into (projection list, base plan). Column
    * pruning rewrites each side's top Project independently (the probe
    * keeps the user's output columns, the aggregate side keeps only key
    * + aggregated inputs), so the self-scan comparison must happen BELOW
    * the Projects: the bases are compared with `sameResult`, and the two
    * projection lists are then reconciled expression-by-expression. A
    * Project restricts/derives columns, never rows, so the row multiset
    * both sides fold is the base's. */
  private def split(p: LogicalPlan): (Seq[NamedExpression], LogicalPlan) = p match {
    case Project(list, child) => (list, child)
    case other => (other.output, other)
  }

  private def supportedCall(ae: AggregateExpression): Boolean =
    !ae.isDistinct && ae.filter.isEmpty && ae.deterministic &&
      (ae.aggregateFunction match {
        case _: Sum | _: Count | _: Min | _: Max | _: Average => true
        case _ => false
      })

  private def deterministicPlan(p: LogicalPlan): Boolean =
    !p.exists(_.expressions.exists(!_.deterministic))

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformDown {
    case j @ Join(left, agg: Aggregate, Inner, Some(EqualTo(_, _)), _) =>
      rewrite(j, left, agg, aggIsLeft = false).getOrElse(j)
    case j @ Join(agg: Aggregate, right, Inner, Some(EqualTo(_, _)), _) =>
      rewrite(j, right, agg, aggIsLeft = true).getOrElse(j)
  }

  private def rewrite(
      j: Join,
      otherPlan: LogicalPlan,
      agg: Aggregate,
      aggIsLeft: Boolean): Option[LogicalPlan] = {
    // COST GUARD: below the broadcast threshold the naive plan never
    // shuffles the fact side; the window exchange would be a regression.
    val thr = conf.autoBroadcastJoinThreshold
    if (thr >= 0 && agg.stats.sizeInBytes <= thr) return None

    val gk = agg.groupingExpressions match {
      case Seq(a: Attribute) => a
      case _ => return None
    }
    val Some(EqualTo(x, y)) = j.condition: @unchecked
    val (lk, rk) = (x, y) match {
      case (a: AttributeReference, b: AttributeReference)
          if otherPlan.outputSet.contains(a) && agg.outputSet.contains(b) => (a, b)
      case (b: AttributeReference, a: AttributeReference)
          if otherPlan.outputSet.contains(a) && agg.outputSet.contains(b) => (a, b)
      case _ => return None
    }
    if (rk.exprId != gk.exprId) return None

    // Aggregate outputs: the key passthrough plus aliased supported calls.
    val calls = agg.aggregateExpressions.flatMap {
      case a: Attribute if a.exprId == gk.exprId => None
      case al @ Alias(ae: AggregateExpression, _) if supportedCall(ae) => Some(al)
      case _ => return None
    }
    if (calls.isEmpty) return None

    // The self-scan proof: both inputs project over the same base rows.
    val (lList, lBase) = split(otherPlan)
    val (rList, rBase) = split(agg.child)
    if (!lBase.sameResult(rBase)) return None
    if (!deterministicPlan(otherPlan) || !deterministicPlan(agg.child)) return None
    // sameResult ⇒ canonically equal ⇒ base outputs align positionally.
    val baseMap = AttributeMap(rBase.output.zip(lBase.output))

    // Reconcile the aggregate side's projection onto the probe side:
    // each right-projection column maps to an existing probe column with
    // a semantically equal definition, or is synthesized onto the probe
    // (pruning dropped it there — widening a Project adds columns, not
    // rows). Returns None if a right column's definition can't be
    // re-expressed over the probe base.
    val existing = new scala.collection.mutable.ArrayBuffer[NamedExpression]
    existing ++= lList
    val amap: Map[org.apache.spark.sql.catalyst.expressions.ExprId, Attribute] =
      rList.map { ne =>
        val overLeft = ne match {
          case a: Attribute => baseMap.getOrElse(a, return None)
          case Alias(e, name) =>
            val me = e.transform { case a: Attribute => baseMap.getOrElse(a, a) }
            if (me.references.exists(a => !lBase.outputSet.contains(a))) return None
            existing.collectFirst {
              case la: Attribute if la.semanticEquals(me) => la
              case la @ Alias(le, _) if le.semanticEquals(me) => la.toAttribute
            }.getOrElse {
              val fresh = Alias(me, name)()
              existing += fresh
              fresh.toAttribute
            }
          case _ => return None
        }
        ne.exprId -> overLeft
      }.toMap

    // The join key must be the SAME COLUMN as the group key — joining a
    // different column against a keyed aggregate is not a per-partition
    // fold of the probe side's own rows.
    if (amap.getOrElse(gk.exprId, return None).exprId != lk.exprId) return None

    val probe: LogicalPlan =
      if (existing.size == lList.size) otherPlan
      else Project(existing.toSeq, lBase)

    val filtered = if (lk.nullable) Filter(IsNotNull(lk), probe) else probe
    val frame = SpecifiedWindowFrame(RowFrame, UnboundedPreceding, UnboundedFollowing)
    val spec = WindowSpecDefinition(Seq(lk), Nil, frame)
    val winExprs: Seq[NamedExpression] = calls.map { al =>
      val mapped = al.child.transform {
        case a: Attribute => amap.getOrElse(a.exprId, a)
      }.asInstanceOf[AggregateExpression]
      Alias(WindowExpression(mapped, spec), al.name)(
        exprId = al.exprId, qualifier = al.qualifier)
    }
    val win = Window(winExprs, Seq(lk), Nil, filtered)
    // Reproduce the join's output schema exactly (names, exprIds, order):
    // probe attrs and window aliases already carry the right ids; the
    // aggregate's key passthrough becomes an alias of the probe key.
    val keyAlias = Alias(lk, rk.name)(exprId = rk.exprId, qualifier = rk.qualifier)
    val projList: Seq[NamedExpression] = j.output.map { a =>
      if (a.exprId == rk.exprId) keyAlias else a
    }
    Some(Project(projList, win))
  }
}
