package graft.plans

import graft.{GraftSession, SparkEntry, SparkTestBase}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.window.WindowGroupLimitExec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The automatic rewrite's contract: the naive rank-filter idiom gets the
  * heap prune WITHOUT any library call, Spark's sort-based
  * WindowGroupLimit is taken over (not duplicated), the rule stays out
  * of every shape where a heap cut would be lossy, and the maxGroups
  * overflow path stays exact. */
class AutoLocalTopKSpec extends AnyFunSuite {
  private lazy val s = SparkTestBase.spark
  private val d = SparkTestBase.sfDir

  private def flatten(p: SparkPlan): Seq[SparkPlan] = GraftSession.flattenPlan(p)

  private def hasTopK(df: DataFrame): Boolean = {
    df.collect() // finalize AQE
    flatten(df.queryExecution.executedPlan).exists(_.isInstanceOf[LocalTopKPerGroupExec])
  }

  test("q48's naive idiom plans the heap prune and replaces WindowGroupLimit") {
    val df = SparkEntry.queries("q48_topk_auto")(s, d)
    assert(hasTopK(df), "LocalTopKPerGroupExec missing from q48's plan")
    assert(!flatten(df.queryExecution.executedPlan)
      .exists(_.isInstanceOf[WindowGroupLimitExec]),
      "sort-based WindowGroupLimit still present — double prune")
    // Same answer as the explicit library-API entry over the same data.
    val auto = df.collect().map(_.toSeq).toSeq
    val lib = SparkEntry.queries("q46_topk_native")(s, d).collect().map(_.toSeq).toSeq
    assert(auto == lib)
  }

  test("rule stays out of rank()/dense_rank() (ties at k must survive)") {
    import s.implicits._
    val df = Seq(("a", 5), ("a", 5), ("a", 3), ("b", 2), ("b", 2))
      .toDF("g", "v").repartition(3)
    val w = Window.partitionBy("g").orderBy(col("v").desc)
    val ranked = df.withColumn("r", rank().over(w)).filter(col("r") <= 1)
    assert(!hasTopK(ranked), "rule fired on rank() — a heap cut would drop ties")
    assert(ranked.count() == 4) // both 5s in a, both 2s in b
    val dense = df.withColumn("r", dense_rank().over(w)).filter(col("r") <= 1)
    assert(!hasTopK(dense))
  }

  test("rule stays out of multi-expression windows (sibling needs all rows)") {
    import s.implicits._
    val df = Seq(("a", 1), ("a", 2), ("a", 3)).toDF("g", "v")
    val w = Window.partitionBy("g").orderBy(col("v").asc)
    val mixed = df
      .withColumn("rn", row_number().over(w))
      .withColumn("total", sum(col("v")).over(
        Window.partitionBy("g").orderBy(col("v").asc)
          .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .filter(col("rn") <= 1)
    // One Window hosts rn, a second hosts the frame-spanning sum; pruning
    // under EITHER before the sum evaluates would corrupt `total`.
    assert(mixed.collect().map(r => r.getAs[Long]("total")).toSeq == Seq(6L))
  }

  test("row_number with ties: auto-pruned answer is a valid row_number answer") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    import s.implicits._
    // row_number over a NON-total order is nondeterministic among ties;
    // the prune must yield SOME valid answer: exact per-group counts and
    // the exact multiset of order-column values the true top-k has.
    val rowGen = for { g <- Gen.choose(0, 2); v <- Gen.choose(0, 3) } yield (g, v)
    val prop = Prop.forAll(Gen.nonEmptyListOf(rowGen), Gen.choose(1, 3)) { (rows, k) =>
      val df = rows.map { case (g, v) => (g.toLong, v.toLong) }
        .toDF("g", "v").repartition(3)
      val w = Window.partitionBy("g").orderBy(col("v").desc) // ties: no tiebreak
      val got = df.withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
        .groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
      val want = rows.groupBy(_._1.toLong).view
        .mapValues(_.map(_._2.toLong).sorted(Ordering[Long].reverse).take(k).sorted).toMap
      got == want
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(30), prop)
    assert(res.passed, res.status.toString)
  }

  test("a spec-matching WindowGroupLimit stacked over the heap prune is absorbed") {
    // The production spark.sql.extensions path runs AutoLocalTopK in the
    // operator batch, BEFORE Spark's InferWindowGroupLimit — which then
    // stacks its sort-based limit over the already-planted heap node
    // (its only self-guard is on a WindowGroupLimit child), with the SAME
    // partition/order specs (both rules fire on the same Filter+Window).
    // The strategy must absorb that redundant prune instead of paying its
    // sort — and absorption must be a row-level NO-OP (ADVICE r6).
    import org.apache.spark.sql.catalyst.expressions.{Descending, RowNumber, SortOrder}
    import s.implicits._
    val df = Seq(("a", 1L), ("a", 2L), ("b", 3L)).toDF("g", "v").repartition(2)
    LocalTopK.register(s)
    val pruned = LocalTopK.topKPerGroup(df, 1, Seq(col("g")), Seq(col("v").desc))
    val child = org.apache.spark.sql.GraftPlanShim.logicalPlan(pruned)
    val analyzed = s.sessionState.executePlan(child).analyzed
    val (gAttr, vAttr) = (analyzed.output(0), analyzed.output(1))
    val stacked = org.apache.spark.sql.GraftPlanShim.ofRows(s,
      org.apache.spark.sql.catalyst.plans.logical.WindowGroupLimit(
        Seq(gAttr), Seq(SortOrder(vAttr, Descending)), RowNumber(), 1, analyzed))
    val got = stacked.collect().map(_.toSeq).toSet
    val plan = flatten(stacked.queryExecution.executedPlan)
    assert(plan.exists(_.isInstanceOf[LocalTopKPerGroupExec]))
    assert(!plan.exists(_.isInstanceOf[WindowGroupLimitExec]),
      "stacked WindowGroupLimit survived planning — production path double-prunes")
    // Row-level: the absorbed WGL contributed nothing — the output is the
    // prune's own output, bit for bit.
    assert(got == pruned.collect().map(_.toSeq).toSet)
  }

  test("a spec-MISMATCHED WindowGroupLimit is NOT absorbed (its semantics differ)") {
    // A hand-built WGL whose orderSpec differs from the prune's has exact
    // per-group-limit semantics of its own; absorbing it would silently
    // change results (ADVICE r6). It must plan as a real
    // WindowGroupLimitExec with the heap prune as a plain child.
    import org.apache.spark.sql.catalyst.expressions.{Ascending, RowNumber, SortOrder}
    import s.implicits._
    val df = Seq(("a", 1L), ("a", 2L), ("b", 3L)).toDF("g", "v").repartition(2)
    LocalTopK.register(s)
    val pruned = LocalTopK.topKPerGroup(df, 1, Seq(col("g")), Seq(col("v").desc))
    val child = org.apache.spark.sql.GraftPlanShim.logicalPlan(pruned)
    val analyzed = s.sessionState.executePlan(child).analyzed
    val (gAttr, vAttr) = (analyzed.output(0), analyzed.output(1))
    val stacked = org.apache.spark.sql.GraftPlanShim.ofRows(s,
      org.apache.spark.sql.catalyst.plans.logical.WindowGroupLimit(
        Seq(gAttr), Seq(SortOrder(vAttr, Ascending)), RowNumber(), 1, analyzed))
    val got = stacked.collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val plan = flatten(stacked.queryExecution.executedPlan)
    assert(plan.exists(_.isInstanceOf[LocalTopKPerGroupExec]))
    assert(plan.exists(_.isInstanceOf[WindowGroupLimitExec]),
      "mismatched WindowGroupLimit was absorbed — its exact per-group semantics were voided")
    // Row-level: exact per-group MIN-v (the WGL's own ascending order)
    // over whatever the prune emitted.
    val want = pruned.collect().map(r => (r.getString(0), r.getLong(1)))
      .groupBy(_._1).map { case (g, rows) => (g, rows.map(_._2).min) }.toSet
    assert(got == want)
  }

  test("maxGroups overflow passes rows through unpruned and stays exact") {
    import s.implicits._
    val df = (1 to 200).map(i => ((i % 37).toLong, i.toLong)).toDF("g", "v").repartition(4)
    val order = Seq(col("v").desc)
    // Library path with an absurdly small heap-map cap: most keys overflow
    // to pass-through in every partition; the downstream rank must still
    // produce the exact top-k.
    val child = org.apache.spark.sql.GraftPlanShim.logicalPlan(df)
    val g = Seq(org.apache.spark.sql.GraftPlanShim.expression(col("g")))
    val o = order.map(org.apache.spark.sql.GraftPlanShim.expression).map {
      case so: org.apache.spark.sql.catalyst.expressions.SortOrder => so
      case e => org.apache.spark.sql.catalyst.expressions.SortOrder(
        e, org.apache.spark.sql.catalyst.expressions.Ascending)
    }
    LocalTopK.register(s)
    val pruned = org.apache.spark.sql.GraftPlanShim.ofRows(
      s, LocalTopKPerGroup(2, g, o, child, maxGroups = 1))
    val w = Window.partitionBy("g").orderBy(order: _*)
    def topk(in: DataFrame) = in
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(topk(pruned) == topk(df))
    assert(hasTopK(pruned.withColumn("rn", row_number().over(w)).filter(col("rn") <= 2)))
  }
}
