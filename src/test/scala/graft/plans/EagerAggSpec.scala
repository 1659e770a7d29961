package graft.plans

import graft.SparkTestBase
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join, LogicalPlan}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** RewriteEagerAgg behavior:
  *  - in the shuffle-join regime the naive join-then-group shape gets
  *    its decomposable aggregates pushed below the join;
  *  - the rewrite REDUCES shuffled records there (measured, not just
  *    plan shape) and rows are identical with the rule removed;
  *  - the COST GUARD keeps the naive plan when the group side
  *    broadcasts (where the naive plan shuffles strictly less);
  *  - non-conforming shapes (outer join, DISTINCT agg, mixed-side
  *    group keys, decimal sum) are untouched even in-regime. */
class EagerAggSpec extends AnyFunSuite {
  private lazy val s = SparkTestBase.spark
  private val d = SparkTestBase.sfDir

  private def naive(): DataFrame =
    graft.relational.RelationalQueries.q66EagerAgg.fn(s, d)

  /** run body with broadcast disabled (the rule's firing regime) */
  private def noBroadcast[T](body: => T): T = {
    val saved = s.conf.get("spark.sql.autoBroadcastJoinThreshold")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try body finally s.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
  }

  private def hasPreAggBelowJoin(p: LogicalPlan): Boolean =
    p.collect { case j: Join => j }.exists(j =>
      (j.left.collectFirst { case a: Aggregate => a } orElse
        j.right.collectFirst { case a: Aggregate => a }).isDefined)

  private def shuffled(body: => Unit): Long = {
    val n = new java.util.concurrent.atomic.LongAdder
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        val m = e.stageInfo.taskMetrics
        if (m != null) n.add(m.shuffleWriteMetrics.recordsWritten)
      }
    }
    s.sparkContext.addSparkListener(listener)
    try { body; graft.SparkTestBase.drainListener(() => n.sum); n.sum }
    finally s.sparkContext.removeSparkListener(listener)
  }

  test("naive join-then-group gets a pre-aggregate below the join (no-broadcast regime)") {
    // q66's fn pins its own no-broadcast scope
    val plan = naive().queryExecution.optimizedPlan
    val na = plan.collect { case a: Aggregate => a }.size
    assert(na == 2, s"expected final + pre aggregate, got $na:\n$plan")
    assert(hasPreAggBelowJoin(plan), s"no aggregate under the join:\n$plan")
  }

  test("cost guard: with the group side broadcastable the plan stays naive") {
    val li = graft.Tables.t(s, d, "lineitem")
    val ord = graft.Tables.t(s, d, "orders")
    val df = li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderpriority").agg(sum(col("l_quantity")).as("q"))
    assert(!hasPreAggBelowJoin(df.queryExecution.optimizedPlan),
      "rule fired in the broadcast regime — the guard should refuse")
  }

  test("rule-off rows match rule-on rows") {
    val on = naive().collect().map(_.toSeq)
    SparkTestBase.withoutRules(RewriteEagerAgg) {
      val offDf = naive()
      assert(!hasPreAggBelowJoin(offDf.queryExecution.optimizedPlan),
        "rule removed but plan still pre-aggregates")
      val off = offDf.collect().map(_.toSeq)
      assert(on.toSeq == off.toSeq, "eager aggregation changed the answer")
    }
  }

  test("the rewrite reduces shuffled records in its regime") {
    // both sides measured under no-broadcast: naive = join exchanges
    // carry every lineitem row; rewritten = one row per orderkey
    val on = shuffled { naive().collect(); () }
    val saved = s.experimental.extraOptimizations
    s.experimental.extraOptimizations = saved.filterNot(_ == RewriteEagerAgg)
    val off = try shuffled { naive().collect(); () }
      finally s.experimental.extraOptimizations = saved
    assert(on < off,
      s"eager agg did not reduce shuffle volume: $on vs $off records")
  }

  test("avg decomposes to (sum, count) partials below the join, bit-identical rule-off") {
    // q69's fn pins its own no-broadcast scope
    val df = graft.relational.RelationalQueries.q69EagerAvg.fn(s, d)
    val plan = df.queryExecution.optimizedPlan
    assert(hasPreAggBelowJoin(plan), s"no aggregate under the join:\n$plan")
    // the pushed pre-aggregate must carry BOTH avg partials
    val pre = plan.collect { case j: Join => j }.flatMap(j =>
      j.left.collectFirst { case a: Aggregate => a } orElse
        j.right.collectFirst { case a: Aggregate => a }).head
    val names = pre.aggregateExpressions.map(_.name)
    assert(names.exists(_.startsWith("__graft_ea_s_")) &&
      names.exists(_.startsWith("__graft_ea_c_")),
      s"avg partials missing from pre-aggregate: $names")
    val on = df.collect().map(_.toSeq)
    val saved = s.experimental.extraOptimizations
    s.experimental.extraOptimizations = saved.filterNot(_ == RewriteEagerAgg)
    try {
      val off = graft.relational.RelationalQueries.q69EagerAvg.fn(s, d).collect().map(_.toSeq)
      assert(on.toSeq == off.toSeq, "eager avg changed the answer (must be bit-identical)")
    } finally s.experimental.extraOptimizations = saved
  }

  test("decimal sum pushes guarded partials and matches rule-off exactly") {
    // q71 itself moved to the guard-free Sum128 path; the stock
    // widened-decimal Sum (and its overflow-guard count partial) is
    // exercised here on the same join shape.
    def decimalSum() = noBroadcast {
      val df = graft.Tables.t(s, d, "lineitem").select("l_orderkey", "l_extendedprice")
        .join(graft.Tables.t(s, d, "orders").select("o_orderkey", "o_orderpriority"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(sum(col("l_extendedprice").cast("decimal(12,2)")).as("revenue"))
        .orderBy("o_orderpriority")
      df.queryExecution.executedPlan
      df
    }
    val df = decimalSum()
    val plan = df.queryExecution.optimizedPlan
    assert(hasPreAggBelowJoin(plan), s"decimal sum not pushed:\n$plan")
    // the pre-aggregate must carry the overflow-guard count partial
    val pre = plan.collect { case j: Join => j }.flatMap(j =>
      j.left.collectFirst { case a: Aggregate => a } orElse
        j.right.collectFirst { case a: Aggregate => a }).head
    assert(pre.aggregateExpressions.map(_.name).exists(_.startsWith("__graft_ea_n_")),
      s"overflow-guard count partial missing: ${pre.aggregateExpressions.map(_.name)}")
    // schema must match the naive plan (re-sum widened then cast back)
    val on = df.collect().map(_.toSeq)
    val saved = s.experimental.extraOptimizations
    s.experimental.extraOptimizations = saved.filterNot(_ == RewriteEagerAgg)
    try {
      val offDf = decimalSum()
      assert(df.schema == offDf.schema,
        s"rewrite changed the output schema: ${df.schema} vs ${offDf.schema}")
      assert(on.toSeq == offDf.collect().map(_.toSeq).toSeq,
        "eager decimal sum changed the answer")
    } finally s.experimental.extraOptimizations = saved
  }

  test("saturated-precision decimal sums are excluded from the rewrite") {
    import s.implicits._
    // decimal(38,0): Sum's widening is capped at 38, leaving < 10
    // digits of per-key headroom — the one regime where a per-key
    // partial can overflow while the naive grand total stays
    // representable (keys cancel), which would force the merge's
    // conservative null where the naive plan answers a number.
    // pushable() therefore refuses saturated widening outright; the
    // naive plan runs and its semantics (including true-overflow null
    // under non-ANSI) hold by construction.
    val ansiKey = "spark.sql.ansi.enabled"
    val ansiSaved = s.conf.get(ansiKey)
    s.conf.set(ansiKey, "false")
    try noBroadcast {
      // key 1's partial would overflow (2 x 9e37 > decimal(38,0)); key
      // 4 — same group g1 — cancels it, so g1's TRUE total is exactly
      // 0, representable. Pre-fix, the rewrite fired here and answered
      // the conservative null; now it must not fire and the exact total
      // must come back. via strings: the Scala BigDecimal encoder pins
      // (38,18), which can't hold 9e37.
      val big = "9" + "0" * 37
      val fact = Seq((1L, big), (1L, big), (4L, s"-$big"), (4L, s"-$big"))
        .toDF("k", "v")
        .select(col("k"), col("v").cast("decimal(38,0)").as("v"))
      val dims = (1L to 2000L).map(i => (i, s"g${i % 3}")).toDF("k", "g")
      val df = dims.join(fact, "k").groupBy("g").agg(sum(col("v")).as("total"))
      assert(!hasPreAggBelowJoin(df.queryExecution.optimizedPlan),
        "saturated decimal(38,0) sum must not be rewritten")
      // No value assertion on g1: at this precision even VANILLA Spark's
      // two-phase Sum is accumulation-order-dependent (a partition-local
      // partial of +9e37 +9e37 overflows to null before the cancelling
      // negatives arrive), so "the naive plan answers a number" is not a
      // stable fact to pin. The contract under test is purely that the
      // rule declines the regime and leaves whatever Spark does alone —
      // rule-on output below must equal rule-off by construction.
      val ruleOnRows = df.collect().map(_.toSeq).toSet
      val saved = s.experimental.extraOptimizations
      s.experimental.extraOptimizations = saved.filterNot(_ == RewriteEagerAgg)
      val ruleOff = try dims.join(fact, "k")
        .groupBy("g").agg(sum(col("v")).as("total")).collect().map(_.toSeq).toSet
        finally s.experimental.extraOptimizations = saved
      assert(ruleOnRows == ruleOff, "declined rewrite must be a no-op")
      // sub-saturation decimal sums still rewrite (q71's regime)
      val factOk = fact.select(col("k"), col("v").cast("decimal(20,0)").as("v"))
      val dfOk = dims.join(factOk, "k").groupBy("g").agg(sum(col("v")).as("total"))
      assert(hasPreAggBelowJoin(dfOk.queryExecution.optimizedPlan),
        "decimal(20,0) sum (28 digits of widened headroom) must still rewrite")
    } finally s.conf.set(ansiKey, ansiSaved)
  }

  test("Sum128 decomposes below the join with no guard, rule-off parity") {
    noBroadcast {
      val df = graft.relational.RelationalQueries.q71EagerDecimal.fn(s, d)
      assert(hasPreAggBelowJoin(df.queryExecution.optimizedPlan),
        "int128 sum did not decompose below the join")
      val on = df.collect().map(_.toSeq)
      val saved = s.experimental.extraOptimizations
      s.experimental.extraOptimizations = saved.filterNot(_ == RewriteEagerAgg)
      val off = try {
        val offDf = graft.relational.RelationalQueries.q71EagerDecimal.fn(s, d)
        assert(!hasPreAggBelowJoin(offDf.queryExecution.optimizedPlan))
        offDf.collect().map(_.toSeq)
      } finally s.experimental.extraOptimizations = saved
      assert(on.toSeq == off.toSeq, "Sum128 eager decomposition changed the answer")
    }
  }

  test("non-conforming shapes are untouched even in-regime") {
    noBroadcast {
      val li = graft.Tables.t(s, d, "lineitem")
      val ord = graft.Tables.t(s, d, "orders")
      // outer join
      val outer = li.join(ord, col("l_orderkey") === col("o_orderkey"), "left")
        .groupBy("o_orderpriority").agg(sum(col("l_quantity")).as("q"))
      assert(!hasPreAggBelowJoin(outer.queryExecution.optimizedPlan), "outer join rewritten")
      // DISTINCT aggregate
      val dist = li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority").agg(countDistinct(col("l_quantity")).as("q"))
      assert(!hasPreAggBelowJoin(dist.queryExecution.optimizedPlan), "distinct agg rewritten")
      // group keys from BOTH sides
      val mixed = li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority", "l_linenumber").agg(sum(col("l_quantity")).as("q"))
      assert(!hasPreAggBelowJoin(mixed.queryExecution.optimizedPlan), "mixed groups rewritten")
      // avg over a DOUBLE input — re-associating the FP partial sums
      // would drift from the naive plan by ulps; must stay naive
      val davg = li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority").agg(avg(col("l_quantity")).as("q"))
      assert(!hasPreAggBelowJoin(davg.queryExecution.optimizedPlan), "double avg rewritten")
    }
  }
}
