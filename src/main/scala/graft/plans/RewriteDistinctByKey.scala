package graft.plans

import org.apache.spark.sql.catalyst.expressions.{aggregate, Alias, Attribute, AttributeSet, NamedExpression}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Deduplicate, Filter, GlobalLimit, Join, LocalLimit, LogicalPlan, Project, RepartitionOperation, Sample, Sort, SubqueryAlias}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.LogicalRelation

/** Optimizer extension: DISTINCT ELIMINATION licensed by declared RELY
  * unique keys — the third consumer of [[TableConstraints]], after join
  * elimination and top-k pushdown.
  *
  * `SELECT DISTINCT <cols ⊇ unique key> FROM t` is a full-width
  * exchange of every row to deduplicate a table that was never
  * duplicated: at 100 TB the DISTINCT alone shuffles the whole fact
  * table. Spark's `distinctKeys` machinery removes redundant distincts
  * only when the PLAN constructs uniqueness (an Aggregate/Deduplicate
  * below); a bare scan has empty distinctKeys, so a declared-PK table
  * can never shed the shuffle without a constraint framework. The RELY
  * declaration closes it: rows distinct on a superset of a unique key
  * are already distinct, so the Deduplicate (or its optimized
  * grouping-only-Aggregate form — `ReplaceDeduplicateWithAggregate`
  * runs before this batch) is the identity and drops.
  *
  * Soundness: the child must provably hold AT MOST ONE row per value of
  * the distinct keys. `uniqueOn` certifies it by recursion over
  * multiplicity-preserving nodes:
  *  - a scan of a table whose declared unique key's columns are all
  *    among the keys (the RELY trust step, same contract as the other
  *    two consumers; keys beyond the unique key only refine groups);
  *  - row SUBSETS of a unique child stay unique: Filter, Limit, Sample;
  *    Sort/Repartition/SubqueryAlias reorder only;
  *  - Project: attribute passthrough, plus aliases OF attributes remap;
  *    keys the Project derives are dropped from the search (superset);
  *  - Aggregate / Deduplicate children are unconditionally unique on
  *    their own grouping/dedup attributes — no declaration needed;
  *  - Join: via [[RewriteJoinElimination.preservedSides]] — a join that
  *    preserves the fact multiset keeps output rows 1:1 with fact rows,
  *    so uniqueness on the keys' fact-side projection carries through
  *    (dim columns riding along are functions of the fact row).
  * Everything else (Union, Expand, generators, unlicensed joins)
  * refuses.
  *
  * Both distinct spellings are handled: `Deduplicate` (streaming keeps
  * the node; batch when the rule sees it first) and the grouping-only
  * `Aggregate` whose aggregate list is pure grouping-attribute
  * passthrough — replaced by the equivalent Project to keep output
  * exprIds intact. Idempotent: the rewrite removes the node it matched.
  *
  * Deliberately out of scope: STREAMING dedup state elimination. A
  * declared-key stream's `dropDuplicates` is dead state the same way,
  * but `uniqueOn` can only certify sources it can NAME, and a
  * micro-batch plan's scan is a per-batch file-list relation (no
  * single table root), so the trace refuses. Licensing streams would
  * need a declaration keyed to the stream's identity, not its scan —
  * a different trust surface than the table contract this family is
  * built on. */
object RewriteDistinctByKey extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case agg @ Aggregate(groupings, aggs, child, _)
        if groupings.nonEmpty && groupings.forall(_.isInstanceOf[Attribute]) &&
          uniqueOn(child, AttributeSet(groupings)) =>
      val rewritten = aggs.map(asPassthrough(groupings, child))
      if (rewritten.forall(_.isDefined)) Project(rewritten.flatten, child) else agg
    case Deduplicate(keys, child) if uniqueOn(child, AttributeSet(keys)) =>
      child
  }

  /** The identity form of an aggregate-list entry over a keys-unique
    * child — with one row per group, aggregates degenerate to scalar
    * expressions (the warehouse "group-by key elimination"):
    *  - a grouping attribute, or a rename of one;
    *  - `first`/`any_value(col)` IS the column
    *    (`ReplaceDeduplicateWithAggregate` spells dropDuplicates'
    *    payload columns as exactly that; ignoreNulls immaterial — the
    *    group's only value, null or not, is what either form returns);
    *  - `min`/`max(col)` IS the column (same datatype, null-safe);
    *  - `sum(col)` is the column cast to the sum's result type — kept
    *    only for long/double/integral inputs where the cast is
    *    value-exact (decimal sums change precision semantics; refused);
    *  - `avg(col)` is the column cast to double when that is the
    *    declared result type (x/1 — Spark's own division of the 1-row
    *    sum produces the identical double);
    *  - `count(*)` is 1; `count(col)` is `IF(col IS NULL, 0, 1)`.
    * Anything else (a real multi-row aggregate, a FILTER clause)
    * refuses. */
  private def asPassthrough(groupings: Seq[org.apache.spark.sql.catalyst.expressions.Expression],
      child: LogicalPlan)(ne: NamedExpression): Option[NamedExpression] = {
    import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, If, IsNull, Literal}
    import org.apache.spark.sql.types.{DoubleType, LongType}
    def isGrouping(a: Attribute): Boolean = groupings.exists {
      case g: Attribute => g.exprId == a.exprId
      case _ => false
    }
    def own(a: Attribute): Boolean = child.outputSet.contains(a)
    def rewrap(al: Alias, e: Expression): NamedExpression =
      Alias(e, al.name)(al.exprId, al.qualifier, al.explicitMetadata,
        al.nonInheritableMetadataKeys)
    ne match {
      case a: Attribute if isGrouping(a) => Some(a)
      case Alias(a: Attribute, _) if isGrouping(a) => Some(ne)
      case al @ Alias(ae: aggregate.AggregateExpression, _) if ae.filter.isEmpty =>
        ae.aggregateFunction match {
          case aggregate.First(a: Attribute, _) if own(a) => Some(rewrap(al, a))
          case aggregate.Min(a: Attribute) if own(a) => Some(rewrap(al, a))
          case aggregate.Max(a: Attribute) if own(a) => Some(rewrap(al, a))
          case s @ aggregate.Sum(a: Attribute, _)
              if own(a) && (s.dataType == a.dataType ||
                (s.dataType == LongType && a.dataType != DoubleType &&
                  Cast.canUpCast(a.dataType, LongType))) =>
            Some(rewrap(al,
              if (s.dataType == a.dataType) a else Cast(a, s.dataType)))
          case av @ aggregate.Average(a: Attribute, _)
              if own(a) && av.dataType == DoubleType &&
                Cast.canUpCast(a.dataType, DoubleType) =>
            Some(rewrap(al, Cast(a, DoubleType)))
          case aggregate.Count(Seq(Literal(_, _))) =>
            Some(rewrap(al, Literal(1L, LongType)))
          case aggregate.Count(Seq(a: Attribute)) if own(a) =>
            Some(rewrap(al,
              If(IsNull(a), Literal(0L, LongType), Literal(1L, LongType))))
          case _ => None
        }
      case _ => None
    }
  }

  /** Does `p` provably hold at most one row per value of `keys`? */
  private[plans] def uniqueOn(p: LogicalPlan, keys: AttributeSet): Boolean = p match {
    case l: LogicalRelation =>
      RewriteJoinElimination.tableOf(l)
        .flatMap(TableConstraints.pkOf)
        .exists { pk =>
          val pkAttrs = l.output.filter(o => pk.contains(o.name))
          pkAttrs.length == pk.length && pkAttrs.forall(keys.contains)
        }
    case Project(list, child) =>
      val remapped = list.collect {
        case al @ Alias(a: Attribute, _) if keys.contains(al.toAttribute) => a
      }
      val passed = keys.toSeq.filter(child.outputSet.contains)
      uniqueOn(child, AttributeSet(passed ++ remapped))
    case a: Aggregate =>
      // any Aggregate's output is unique on its grouping attributes
      a.groupingExpressions.nonEmpty && a.groupingExpressions.forall {
        case g: Attribute => keys.contains(g)
        case _ => false
      }
    case d: Deduplicate => AttributeSet(d.keys).subsetOf(keys)
    case j: Join =>
      import org.apache.spark.sql.catalyst.plans.{LeftAnti, LeftSemi}
      j.joinType match {
        // semi/anti output is a row SUBSET of the left side
        case LeftSemi | LeftAnti =>
          uniqueOn(j.left, keys.filter(j.left.outputSet.contains))
        case _ =>
          RewriteJoinElimination.preservedSides(j).exists { side =>
            uniqueOn(side, keys.filter(side.outputSet.contains))
          }
      }
    case f: Filter if f.condition.deterministic => uniqueOn(f.child, keys)
    case s: Sort => uniqueOn(s.child, keys)
    case l: LocalLimit => uniqueOn(l.child, keys)
    case g: GlobalLimit => uniqueOn(g.child, keys)
    case s: Sample => uniqueOn(s.child, keys)
    case r: RepartitionOperation => uniqueOn(r.child, keys)
    case s: SubqueryAlias => uniqueOn(s.child, keys)
    case _ => false
  }
}
