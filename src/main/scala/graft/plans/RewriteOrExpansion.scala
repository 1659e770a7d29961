package graft.plans

import org.apache.spark.sql.catalyst.expressions.{And, Attribute, AttributeReference, Coalesce, EqualTo, Expression, Literal, Not, Or}
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan, Union}
import org.apache.spark.sql.catalyst.rules.Rule

/** Optimizer extension: OR-EXPANSION of disjunctive join predicates —
  * the classic "concatenation" transform (Oracle's OR-expansion; see
  * also Galindo-Legaria & Rosenthal, "Outerjoin Simplification and
  * Reordering", TODS 1997 lineage of join-predicate normalization). A
  * join whose condition is
  *
  *   L JOIN R ON L.a = R.a OR L.b = R.b
  *
  * has NO equi-conjunct, so Spark can only plan it as a nested-loop
  * join — broadcast NLJ when one side fits, a cartesian product
  * otherwise — and either way every (l, r) pair is enumerated: O(N·M)
  * predicate evaluations, the single worst scale cliff in SQL. The rule
  * rewrites it to a UNION of two hash-joinable branches:
  *
  *   (L JOIN R ON L.a = R.a)
  *   UNION ALL
  *   (L JOIN R ON L.b = R.b AND NOT coalesce(L.a = R.a, false))
  *
  * Soundness (multiset): a pair belongs to the OR join iff c1 OR c2
  * evaluates TRUE (SQL join semantics drop null/false alike). Branch 1
  * takes exactly the c1-true pairs; branch 2 takes the c2-true pairs
  * where c1 is NOT true — `NOT coalesce(c1, false)` is precisely
  * "c1 evaluated to false OR null" — so every qualifying pair appears
  * exactly once and no other pair appears. Residual conjuncts (e.g. the
  * `id_a < id_b` dedup guard of a pair-generation join) apply verbatim
  * to both branches. The two branches re-scan the inputs (the union is
  * a tree, not a DAG), which trades ONE extra scan of each side for
  * turning O(N·M) pair enumeration into two O(N+M) hash joins — at
  * 100 TB that is the difference between a job that finishes and one
  * that doesn't. This is exactly the transform d07's edge generation
  * performs BY HAND (prefix-match UNION suffix-match); the rule grants
  * it to users who write the natural OR form.
  *
  * Deliberately narrow (AutoLocalTopK's philosophy):
  *  - INNER join whose condition, split into conjuncts, contains
  *    EXACTLY ONE `attrL = attrR OR attrL' = attrR'` disjunct (each
  *    equality one bare attribute per side, either orientation);
  *  - remaining conjuncts deterministic (they copy into both branches);
  *  - everything else — three-way ORs, expression operands, outer
  *    joins — is left to Spark's native planning.
  * Idempotent: the branch conditions contain no OR conjunct, so the
  * rewritten joins never re-match. */
object RewriteOrExpansion extends Rule[LogicalPlan] {

  private def conjuncts(e: Expression): Seq[Expression] = e match {
    case And(a, b) => conjuncts(a) ++ conjuncts(b)
    case x => Seq(x)
  }

  /** Normalize `x = y` to EqualTo(leftAttr, rightAttr). */
  private def sided(e: Expression, l: LogicalPlan, r: LogicalPlan): Option[EqualTo] =
    e match {
      case EqualTo(a: AttributeReference, b: AttributeReference)
          if l.outputSet.contains(a) && r.outputSet.contains(b) => Some(EqualTo(a, b))
      case EqualTo(b: AttributeReference, a: AttributeReference)
          if l.outputSet.contains(a) && r.outputSet.contains(b) => Some(EqualTo(a, b))
      case _ => None
    }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformDown {
    case j @ Join(left, right, Inner, Some(cond), _) =>
      val cs = conjuncts(cond)
      val (ors, rest) = cs.partition {
        case Or(EqualTo(_, _), EqualTo(_, _)) => true
        case _ => false
      }
      val rewritten = ors match {
        case Seq(Or(e1, e2)) if rest.forall(_.deterministic) =>
          (sided(e1, left, right), sided(e2, left, right)) match {
            case (Some(eq1), Some(eq2)) =>
              val c1 = (eq1 +: rest).reduce(And(_, _))
              // "c1 not true" — false and null both qualify, matching
              // what the OR join's own evaluation would have dropped
              val guard = Not(Coalesce(Seq(eq1, Literal(false))))
              val c2 = (Seq(eq2, guard) ++ rest).reduce(And(_, _))
              Some(Union(
                j.copy(condition = Some(c1)),
                j.copy(condition = Some(c2))))
            case _ => None
          }
        case _ => None
      }
      rewritten.getOrElse(j)
  }
}
