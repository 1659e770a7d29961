package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, BitmapBitPosition, BitmapBucketNumber, BitmapConstructAgg, BitmapCount, Coalesce, Literal, NamedExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Complete, Count, Sum}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}

/** Optimizer extension: COUNT(DISTINCT intcol) as BITMAP AGGREGATION —
  * q80's hand-written plan made engine behavior (the q48/q61/q66
  * principle): a user writes the textbook
  *
  *   Aggregate(G, count(DISTINCT c))           -- c integral
  *
  * and the rule plants the two-level bitmap plan underneath:
  *
  *   Aggregate(G, coalesce(sum(bitmap_count(bm)), 0))
  *     over Aggregate(G ++ bitmap_bucket_number(c),
  *                    bm = bitmap_construct_agg(bitmap_bit_position(c)))
  *
  * Soundness: (bitmap_bucket_number, bitmap_bit_position) is an
  * INJECTIVE decomposition of the full long domain (floor-division
  * bucket + in-bucket offset; verified across negatives/zero/bucket
  * boundaries in BitmapDistinctSpec), each bucket's bitmap has one bit
  * per distinct value, buckets partition the domain, so the sum of
  * bitmap_count over a group's buckets is exactly its distinct count.
  * Null inputs set no bit — matching COUNT(DISTINCT)'s null-dropping —
  * and the empty global group yields sum-of-nothing = null, coalesced
  * to COUNT's 0-on-empty.
  *
  * Why this is a 100 TB rule: Spark's native distinct plan expands to
  * a two-phase aggregate whose FIRST shuffle carries one row per
  * DISTINCT (G, c) PAIR — at a billion keys that's a billion-row
  * exchange. The bitmap plan's shuffle carries one ≤4 KB bitmap per
  * (G, bucket) cell — 32768 keys compressed per row, with map-side
  * partial OR-merging. The reduction factor is up to the bucket width;
  * dense key spaces (surrogate ids, the common case for COUNT
  * DISTINCT at scale) compress best. Worst case (keys scattered one
  * per bucket) the exchange degrades to one 16-byte-payload row per
  * key — the same volume the native plan ships, bounded downside.
  * MEASURED at sf1 (1.5 M orders, 150 k customers, 3 groups,
  * local[4]): the q84 query shuffles 434,066 records / 3.29 MB with
  * the rule off vs 45 records / 17.4 KB with it on — 189× fewer
  * bytes, because the exchange carries (group, bucket) bitmaps
  * instead of every distinct (group, key) pair.
  *
  * Deliberately narrow (AutoLocalTopK's philosophy):
  *  - exactly ONE aggregate function in the Aggregate, a non-FILTERed
  *    COUNT(DISTINCT c) over a single integral-typed ATTRIBUTE;
  *  - grouping expressions are plain attributes (so the inner/outer
  *    re-grouping is a pass-through of resolved references);
  *  - everything else (other agg functions, expressions over c,
  *    multi-column distinct) is left to Spark's native planning.
  * Idempotent: the rewritten outer aggregate's function is SUM, which
  * the pattern no longer matches. */
object RewriteBitmapDistinct extends Rule[LogicalPlan] {

  private def isIntegral(e: org.apache.spark.sql.catalyst.expressions.Expression): Boolean =
    e.dataType match {
      case ByteType | ShortType | IntegerType | LongType => true
      case _ => false
    }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformDown {
    case agg @ Aggregate(groupExprs, aggExprs, child, _)
        if groupExprs.forall(_.isInstanceOf[Attribute]) =>
      val groupAttrs = groupExprs.map(_.asInstanceOf[Attribute])
      // Partition the output list into grouping passthroughs and the
      // single count-distinct we may rewrite.
      val (distincts, others) = aggExprs.partition {
        case Alias(AggregateExpression(Count(Seq(c)), _, true, None, _), _)
            if c.isInstanceOf[Attribute] && isIntegral(c) => true
        case _ => false
      }
      val othersAreGroupRefs = others.forall {
        case a: Attribute => groupAttrs.exists(_.exprId == a.exprId)
        case _ => false
      }
      val noOtherAggs = !others.exists(_.exists(_.isInstanceOf[AggregateExpression]))
      if (distincts.size == 1 && othersAreGroupRefs && noOtherAggs) {
        val distinctAlias = distincts.head.asInstanceOf[Alias]
        val cd = distinctAlias.child.asInstanceOf[AggregateExpression]
        val c = cd.aggregateFunction.asInstanceOf[Count].children.head
        // The Bitmap* scalar expressions are RuntimeReplaceable; the
        // optimizer's replacement batch has ALREADY run by the time
        // extraOptimizations fire, so inject their replacement trees,
        // not the unevaluable wrappers.
        val bucket = Alias(BitmapBucketNumber(c).replacement, "graft_bmb")()
        val bm = Alias(
          AggregateExpression(BitmapConstructAgg(BitmapBitPosition(c).replacement),
            Complete, isDistinct = false),
          "graft_bm")()
        val inner = Aggregate(
          groupAttrs :+ bucket.toAttribute,
          (groupAttrs: Seq[NamedExpression]) :+ bucket :+ bm,
          child)
        // Inner grouping must reference the bucket EXPRESSION, not the
        // alias attribute, at this (pre-analysis-complete) stage — but
        // the rule runs on a RESOLVED plan, so group by the alias's
        // child and emit the alias:
        val innerFixed = inner.copy(groupingExpressions = groupAttrs :+ bucket.child)
        val total = Alias(
          Coalesce(Seq(
            AggregateExpression(Sum(BitmapCount(bm.toAttribute).replacement),
              Complete, isDistinct = false),
            Literal(0L))),
          distinctAlias.name)(exprId = distinctAlias.exprId,
            qualifier = distinctAlias.qualifier)
        // Replace in place so the output column order is untouched.
        val rewritten = aggExprs.map(e => if (e eq distinctAlias) total else e)
        agg.copy(
          aggregateExpressions = rewritten,
          child = innerFixed)
      } else agg
  }
}
