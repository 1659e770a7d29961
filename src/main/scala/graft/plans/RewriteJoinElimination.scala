package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeSet, EqualTo, Expression, PredicateHelper}
import org.apache.spark.sql.catalyst.plans.{Inner, LeftOuter, LeftSemi, RightOuter}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, Join, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** Declared table constraints (`RELY` semantics): primary keys and
  * foreign keys the engine TRUSTS without enforcing — the warehouse
  * pattern (Oracle `RELY`, Snowflake/Databricks `RELY` on informational
  * constraints) that licenses optimizations Spark's constraint-free
  * inference structurally cannot reach. Spark's `distinctKeys`
  * (LogicalPlanDistinctKeys.scala) proves uniqueness only when the plan
  * CONSTRUCTS it (an Aggregate/Distinct below the join); it can never
  * know that a bare `orders` scan is unique on `o_orderkey`, and no
  * plan-shape analysis can ever establish referential integrity. A
  * declaration can — and the contract is explicit: constraints are
  * trusted, not checked, exactly like RELY. A declared FK additionally
  * asserts the child columns are non-null (the NOT NULL FK form); rows
  * violating a declaration make elimination unsound, which is the
  * documented RELY bargain.
  *
  * Tables are identified by the terminal path segment of a single-root
  * file-source scan (`<dir>/<table>.parquet` — Tables.scala's layout),
  * so declarations hold across every sf directory. */
object TableConstraints {
  final case class Fk(
      childTable: String, childCols: Seq[String],
      parentTable: String, parentCols: Seq[String])

  private val pks = scala.collection.concurrent.TrieMap.empty[String, Seq[String]]
  private val fks = scala.collection.concurrent.TrieMap.empty[(String, String), Fk]

  def declarePk(table: String, cols: Seq[String]): Unit = pks.put(table, cols)
  def declareFk(childTable: String, childCols: Seq[String],
      parentTable: String, parentCols: Seq[String]): Unit =
    fks.put((childTable, parentTable), Fk(childTable, childCols, parentTable, parentCols))

  def pkOf(table: String): Option[Seq[String]] = pks.get(table)
  def fkOf(childTable: String, parentTable: String): Option[Fk] =
    fks.get((childTable, parentTable))

  /** Is this column declared NOT NULL? True for PK columns (RELY PK ⇒
    * NOT NULL) and FK child columns (the NOT NULL FK form — see the
    * class scaladoc). */
  def nonNullColumn(table: String, col: String): Boolean =
    pks.get(table).exists(_.contains(col)) ||
      fks.values.exists(fk => fk.childTable == table && fk.childCols.contains(col))

  /** The synthetic star schema's keys (TESTDATA.md; integrity verified
    * against every shipped sf dir and preserved by ScaleUp's
    * FK-consistent strides). A production deployment would declare these
    * from its own catalog (`ALTER TABLE ... ADD CONSTRAINT ... RELY`). */
  def registerStarSchema(): Unit = {
    declarePk("orders", Seq("o_orderkey"))
    declarePk("customer", Seq("c_custkey"))
    declarePk("part", Seq("p_partkey"))
    declarePk("supplier", Seq("s_suppkey"))
    declarePk("nation", Seq("n_nationkey"))
    declarePk("region", Seq("r_regionkey"))
    declareFk("lineitem", Seq("l_orderkey"), "orders", Seq("o_orderkey"))
    declareFk("lineitem", Seq("l_partkey"), "part", Seq("p_partkey"))
    declareFk("lineitem", Seq("l_suppkey"), "supplier", Seq("s_suppkey"))
    declareFk("orders", Seq("o_custkey"), "customer", Seq("c_custkey"))
    declareFk("customer", Seq("c_nationkey"), "nation", Seq("n_nationkey"))
    // Event/corpus tables: single-column surrogate keys, uniqueness
    // verified in every shipped sf dir and preserved by ScaleUp's
    // per-replica key strides (lineitem deliberately has NO declared
    // key — its (l_orderkey, l_linenumber) is not unique in this
    // synthetic corpus, and declaring an unverified key is exactly the
    // RELY bargain violated).
    declarePk("events", Seq("event_id"))
    declarePk("documents", Seq("doc_id"))
    declarePk("embeddings", Seq("vec_id"))
    // verified: zero nulls, zero orphans in every shipped sf dir AND
    // the ScaleUp outputs through sf100 (the generator's strides are
    // FK-consistent by construction)
    declareFk("events", Seq("user_id"), "customer", Seq("c_custkey"))
  }
}

/** Optimizer extension: JOIN ELIMINATION licensed by declared RELY
  * constraints — the classic "dead dimension join" removal every mature
  * warehouse optimizer performs and Spark cannot, because it has no
  * constraint framework (SPARK-19842 has been open since 2017).
  *
  * Spark 4's own `EliminateOuterJoin` already removes an outer join
  * whose null-supplying side is plan-provably unique (distinctKeys) and
  * unreferenced. Two structurally-out-of-reach cases remain, and this
  * rule closes both:
  *
  *  1. INNER FK-join elimination: `fact JOIN dim ON fact.fk = dim.pk`
  *     with no dim column referenced. Sound iff every fact row matches
  *     EXACTLY once: ≥1 needs referential integrity (fk values ⊆ pk
  *     values, fk non-null), ≤1 needs pk uniqueness — both are DATA
  *     properties no plan shape can certify; the declared FK+PK assert
  *     them. This is the view-mediated shape: curated views join every
  *     conformed dimension, queries touching only fact columns pay for
  *     none of the joins they don't read.
  *  2. OUTER elimination against a BARE dim scan: left-outer to `dim`
  *     itself (no Distinct in the plan) has empty distinctKeys, so
  *     Spark keeps it; the declared PK alone licenses it (unmatched
  *     rows null-extend unreferenced columns; matched rows match ≤1
  *     time). No integrity assumption needed.
  *
  * Narrowness discipline:
  *  - the parent must be output-defining (Project/Aggregate) with
  *    references ⊆ the preserved side — a Filter forwards its child's
  *    schema, so deadness is not locally decidable there;
  *  - the dim side must be the bare table scan, optionally under an
  *    attribute-only Project (the pruned shape), for INNER also
  *    unfiltered (a dim predicate turns the join into a filter);
  *    outer additionally tolerates a deterministic dim-side Filter —
  *    matches only shrink, and 0 matches still yields the one
  *    null-extended row;
  *  - join keys must be the scan's OWN attributes (exprId present in
  *    the scan output, matching the declared column names) — aliases
  *    or derived keys don't fire;
  *  - INNER requires the equi-conjuncts to pair EXACTLY the declared
  *    FK→PK columns and nothing else (any extra predicate filters);
  *    OUTER requires the pinned dim columns to COVER the PK, extra
  *    deterministic conjuncts allowed.
  * Idempotent: the rewrite removes the matched Join; nothing re-fires.
  */
object RewriteJoinElimination extends Rule[LogicalPlan] with PredicateHelper {

  /** Terminal-segment table name of a single-root file scan. */
  private[plans] def tableOf(l: LogicalRelation): Option[String] = l.relation match {
    case h: HadoopFsRelation =>
      h.location.rootPaths.map(_.getName).distinct match {
        case Seq(one) if one.endsWith(".parquet") => Some(one.stripSuffix(".parquet"))
        case _ => None
      }
    case _ => None
  }

  /** Peel the dim side down to its scan: [Project(attrs)] [Filter] scan.
    * Returns (table, scan, filter conjuncts collected on the way). */
  private def dimScan(p: LogicalPlan): Option[(String, LogicalRelation, Seq[Expression])] =
    p match {
      case l: LogicalRelation => tableOf(l).map((_, l, Nil))
      case Project(list, child) if list.forall(_.isInstanceOf[Attribute]) =>
        dimScan(child)
      case Filter(cond, child) if cond.deterministic =>
        dimScan(child).map { case (t, l, fs) =>
          (t, l, fs ++ splitConjunctivePredicates(cond))
        }
      case _ => None
    }

  /** A dim-side filter that provably removes no rows: IsNotNull on a
    * declared-PK column (PK ⇒ NOT NULL under RELY). The optimizer's
    * constraint inference plants exactly these on every inner equi-join
    * side, so without this allowance the inner channel would never fire. */
  private def benignFilter(e: Expression, scan: LogicalRelation, pk: Seq[String]): Boolean =
    e match {
      case org.apache.spark.sql.catalyst.expressions.IsNotNull(a: Attribute) =>
        scan.output.exists(o => o.exprId == a.exprId && pk.contains(o.name))
      case _ => false
    }

  /** Trace `a` from `p` down to the scan that owns it, via VALUE-PRESERVING
    * nodes only, returning (table, scan column name). Referential
    * integrity is a property of the BASE column's values; the inner-join
    * elimination is sound only if every value of `a` at the join is a
    * value of that base column. A whitelist walk guarantees it: Project
    * passthrough, Filter/Sort/Limit/Sample/Repartition (row subsets or
    * reorders), Window (child columns ride through untouched), Aggregate
    * when `a` is a bare grouping attribute, and Join when `a` comes from
    * a side that is never null-extended (inner/cross/semi/anti, or the
    * preserved side of an outer). Everything else — Union (first child's
    * exprIds but BOTH children's values), Expand (grouping sets null-out
    * grouping columns), full-outer, generators, unknown nodes — refuses,
    * and the rule stays its hand. */
  private[plans] def traceScanCol(p: LogicalPlan, a: Attribute): Option[(String, String)] = p match {
    case l: LogicalRelation =>
      l.output.find(_.exprId == a.exprId)
        .flatMap(o => tableOf(l).map(t => (t, o.name)))
    case j: Join =>
      val fromLeft = j.left.outputSet.contains(a)
      val child = if (fromLeft) j.left else j.right
      val preserved = j.joinType match {
        case Inner | org.apache.spark.sql.catalyst.plans.Cross |
            org.apache.spark.sql.catalyst.plans.LeftSemi |
            org.apache.spark.sql.catalyst.plans.LeftAnti => true
        case LeftOuter => fromLeft
        case RightOuter => !fromLeft
        case _ => false
      }
      if (preserved) traceScanCol(child, a) else None
    case agg: Aggregate =>
      val grouped = agg.groupingExpressions.exists {
        case g: Attribute => g.exprId == a.exprId
        case _ => false
      }
      if (grouped) traceScanCol(agg.child, a) else None
    case Project(_, child) if child.outputSet.contains(a) => traceScanCol(child, a)
    case f: Filter => traceScanCol(f.child, a)
    case w: org.apache.spark.sql.catalyst.plans.logical.Window
        if w.child.outputSet.contains(a) => traceScanCol(w.child, a)
    case s: org.apache.spark.sql.catalyst.plans.logical.Sort => traceScanCol(s.child, a)
    case l: org.apache.spark.sql.catalyst.plans.logical.LocalLimit => traceScanCol(l.child, a)
    case g: org.apache.spark.sql.catalyst.plans.logical.GlobalLimit => traceScanCol(g.child, a)
    case r: org.apache.spark.sql.catalyst.plans.logical.RepartitionOperation =>
      traceScanCol(r.child, a)
    case s: org.apache.spark.sql.catalyst.plans.logical.Sample => traceScanCol(s.child, a)
    case s: org.apache.spark.sql.catalyst.plans.logical.SubqueryAlias => traceScanCol(s.child, a)
    case _ => None
  }

  private def survivor(parentRefs: AttributeSet, j: Join): Option[LogicalPlan] =
    preservedSides(j).find(k => parentRefs.subsetOf(k.outputSet))

  /** The join sides whose ROW MULTISET the join provably preserves under
    * the declared constraints — each fact row appears in the output
    * exactly once, with its own column values intact. This is the shared
    * license: elimination drops the join when the parent reads only a
    * preserved side; top-k pushdown ([[RewriteTopKThroughJoin]]) commutes
    * an ORDER-BY-fact-columns LIMIT below the join for the same reason. */
  private[plans] def preservedSides(j: Join): Seq[LogicalPlan] =
    j.joinType match {
      case Inner =>
        (tryLicense(j, j.left, j.right, outer = false) ++
          tryLicense(j, j.right, j.left, outer = false)).toSeq
      case LeftOuter => tryLicense(j, j.left, j.right, outer = true).toSeq
      case RightOuter => tryLicense(j, j.right, j.left, outer = true).toSeq
      case _ => Nil
    }

  private def tryLicense(
      j: Join,
      kept: LogicalPlan,
      dropped: LogicalPlan,
      outer: Boolean): Option[LogicalPlan] = {
    val cond = j.condition.getOrElse(return None)
    if (!cond.deterministic) return None
    val (dimTable, scan, dimFilters) = dimScan(dropped).getOrElse(return None)
    val pk = TableConstraints.pkOf(dimTable).getOrElse(return None)
    val conjuncts = splitConjunctivePredicates(cond)
    // (keptAttr, dimAttr) equi-pairs; Nones mark non-pair conjuncts.
    val pairs = conjuncts.map {
      case EqualTo(a: Attribute, b: Attribute)
          if kept.outputSet.contains(a) && dropped.outputSet.contains(b) => Some((a, b))
      case EqualTo(b: Attribute, a: Attribute)
          if kept.outputSet.contains(a) && dropped.outputSet.contains(b) => Some((a, b))
      case _ => None
    }

    if (outer) {
      // pinned dim columns must cover the PK; extra deterministic
      // conjuncts and dim filters only shrink the (≤1-row) match set
      val pinned = pairs.flatten.flatMap { case (_, p) =>
        scan.output.find(_.exprId == p.exprId).map(_.name)
      }.toSet
      if (pk.toSet.subsetOf(pinned)) Some(kept) else None
    } else {
      // INNER: the dim side must lose no rows (only PK-IsNotNull filters,
      // which RELY makes vacuous), and ALL conjuncts must be equi-pairs
      // realizing exactly the declared FK→PK mapping.
      if (!dimFilters.forall(benignFilter(_, scan, pk))) return None
      if (pairs.exists(_.isEmpty)) return None
      val pairNames = pairs.flatten.map { case (f, p) =>
        val dimCol = scan.output.find(_.exprId == p.exprId).map(_.name).getOrElse(return None)
        val fc = traceScanCol(kept, f).getOrElse(return None)
        (fc, dimCol)
      }
      // one child table for all pairs, with a declared FK to dimTable
      val child = pairNames.map(_._1._1).distinct match {
        case Seq(one) => one
        case _ => return None
      }
      val fk = TableConstraints.fkOf(child, dimTable).getOrElse(return None)
      val declared = fk.childCols.zip(fk.parentCols).toSet
      val seen = pairNames.map { case ((_, fcol), pcol) => (fcol, pcol) }.toSet
      // exact cover: the equi-pairs are precisely the FK mapping (and the
      // FK's parent side is the full PK, else uniqueness isn't granted)
      if (seen == declared && fk.parentCols.toSet == pk.toSet) Some(kept) else None
    }
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformDown {
    case p @ Project(list, j: Join) =>
      survivor(p.references, j).map(Project(list, _)).getOrElse(p)
    case a @ Aggregate(_, _, j: Join, _) =>
      survivor(a.references, j).map(k => a.copy(child = k)).getOrElse(a)
    // SEMI elimination — `WHERE fk IN (SELECT pk FROM dim)` is the
    // identity under referential integrity: every fact row has a match,
    // so the whole semi join (a fact-table-sized exchange in the
    // non-broadcast regime) filters nothing and drops. The inner
    // license is exactly the needed proof (it certifies ≥1 match; its
    // additional ≤1 is merely unused). No parent guard needed: a semi
    // join's output IS its left side. LeftAnti is deliberately NOT
    // rewritten even though the same license proves it empty: anti
    // joins on the declared FK are precisely how the trust-but-verify
    // audit (i24_constraint_audit) CHECKS the declarations, and an
    // optimizer that deletes the audit's probe would make RELY
    // self-certifying.
    case j @ Join(_, _, LeftSemi, _, _) =>
      tryLicense(j, j.left, j.right, outer = false).getOrElse(j)
  }
}
