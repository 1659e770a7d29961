package graft.relational

import graft.{GraftSession, SparkTestBase}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.scalatest.funsuite.AnyFunSuite

/** q70 is only a capstone if the four channels fire in the SAME plan —
  * each one already has its own entry (q54/q55/q66/q48); this spec pins
  * the composition: DPP partition filter on the fact scan, runtime
  * bloom probe, eager pre-aggregate below the fact join, and the
  * LocalTopKPerGroup physical operator, all in one query, with the
  * answer matching the all-channels-off recomputation exactly. */
class CapstoneComposeSpec extends AnyFunSuite {
  private lazy val s = SparkTestBase.spark
  private val d = SparkTestBase.sfDir

  test("all four pruning/plan channels fire in q70's single plan") {
    val df = RelationalQueries.q70PruningCapstone.fn(s, d)
    val rows = df.collect() // run: DPP's metric needs an executed scan
    assert(rows.nonEmpty)

    // 1. DPP on the partitioned fact scan
    val scans = GraftSession.flattenPlan(df.queryExecution.executedPlan)
      .collect { case f: FileSourceScanExec => f }
    val fact = scans.find(_.metadata.get("Location").exists(_.contains("orders_by_year")))
      .getOrElse(fail("partitioned fact scan not found"))
    assert(fact.partitionFilters.exists(_.toString.contains("dynamicpruning")),
      s"no DynamicPruningExpression on the fact scan: ${fact.partitionFilters}")
    val partsRead = fact.metrics.get("numPartitions").map(_.value)
    assert(partsRead.exists(n => n > 0 && n < 7),
      s"DPP did not prune year directories at runtime: read $partsRead of 7")

    // 2. runtime bloom filter probed on the lineitem side
    val opt = df.queryExecution.optimizedPlan
    assert(opt.toString.contains("might_contain") && opt.toString.contains("bloom_filter_agg"),
      "runtime bloom filter missing from the optimized plan")

    // 3. eager pre-aggregate below the fact join (RewriteEagerAgg's
    // __graft_ea_ partials, not just any aggregate)
    val preAggs = opt.collect { case j: Join => j }.flatMap(j =>
      (j.left.collectFirst { case a: Aggregate => a } orElse
        j.right.collectFirst { case a: Aggregate => a }).toSeq)
    assert(preAggs.exists(_.aggregateExpressions.exists(_.name.startsWith("__graft_ea_"))),
      s"no eager pre-aggregate below a join:\n$opt")

    // 4. the rank window collapsed to the native top-k operator
    assert(GraftSession.flattenPlan(df.queryExecution.executedPlan)
      .exists(_.isInstanceOf[graft.plans.LocalTopKPerGroupExec]),
      "LocalTopKPerGroupExec missing — AutoLocalTopK did not fire")

    // composition must not change the answer: recompute with every
    // channel off / naive shapes
    import org.apache.spark.sql.functions._
    val bloomKey = "spark.sql.optimizer.runtime.bloomFilter.enabled"
    val savedBloom = s.conf.get(bloomKey)
    val savedExtra = s.experimental.extraOptimizations
    s.conf.set(bloomKey, "false")
    s.experimental.extraOptimizations =
      savedExtra.filterNot(_ == graft.plans.RewriteEagerAgg)
    try {
      val ord = graft.Tables.t(s, d, "orders")
      val dim = ord.select(year(col("o_orderdate")).as("y")).distinct()
        .withColumn("y_tag", when(col("y") % 2 === 1, "odd").otherwise("even"))
      val agg = graft.Tables.t(s, d, "lineitem").select("l_orderkey", "l_quantity")
        .join(ord.filter(col("o_orderstatus") === "F")
            .select(col("o_orderkey"), col("o_orderpriority"),
              year(col("o_orderdate")).as("o_year")),
          col("l_orderkey") === col("o_orderkey"))
        .join(dim.filter(col("y_tag") === "odd"), col("o_year") === col("y"))
        .groupBy("o_year", "o_orderpriority")
        .agg(count(lit(1)).as("n_items"), sum(col("l_quantity")).as("total_qty"))
      val w = org.apache.spark.sql.expressions.Window.partitionBy("o_year")
        .orderBy(col("total_qty").desc, col("o_orderpriority"))
      val expected = agg.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 2)
        .select(col("o_year"), col("o_orderpriority"), col("n_items"),
          col("total_qty"), col("rn").cast("long").as("rn"))
        .orderBy("o_year", "rn").collect()
      assert(rows.map(_.toSeq).toSeq == expected.map(_.toSeq).toSeq,
        "composed plan diverged from the channels-off recomputation")
    } finally {
      s.conf.set(bloomKey, savedBloom)
      s.experimental.extraOptimizations = savedExtra
    }
  }
}
