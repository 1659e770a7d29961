package graft.relational

import graft.{GraftSession, SparkTestBase}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.scalatest.funsuite.AnyFunSuite

/** The two runtime-pruning channels (q54/q55) — the behaviors the oracle
  * can't check because they change IO, not answers:
  *  - q54: the fact scan carries a DynamicPruningExpression partition
  *    filter and, after execution, touched fewer partitions than exist
  *    (no static year filter anywhere — the dim predicate is data);
  *  - q55: the optimized plan probes a runtime bloom filter
  *    (might_contain) on the fact side, and the rows equal the
  *    bloom-off plan's exactly (no false negatives by construction).
  */
class RuntimePruningSpec extends AnyFunSuite {
  private lazy val s = SparkTestBase.spark
  private val d = SparkTestBase.sfDir

  private def flatten(p: SparkPlan): Seq[SparkPlan] = GraftSession.flattenPlan(p)

  test("q54 plans dynamic partition pruning and reads only the dim-selected years") {
    val df = RelationalQueries.q54Dpp.fn(s, d)
    val rows = df.collect() // run: DPP executes the dim subquery first
    assert(rows.nonEmpty)
    val scans = flatten(df.queryExecution.executedPlan)
      .collect { case f: FileSourceScanExec => f }
    val fact = scans.find(_.metadata.get("Location").exists(_.contains("orders_by_year")))
      .getOrElse(fail("fact scan not found"))
    assert(fact.partitionFilters.exists(_.toString.contains("dynamicpruning")),
      s"no DynamicPruningExpression in partition filters: ${fact.partitionFilters}")
    // No STATIC year/modulo filter may do the pruning (the first cut's
    // constraint-inference leak): the only partition filters are
    // isnotnull + the dynamic one.
    assert(!fact.partitionFilters.exists(_.toString.contains("% 2")),
      s"static modulo filter leaked into partition filters: ${fact.partitionFilters}")
    // Runtime proof: the scan's partition-count metric says 4 of the 7
    // year directories were read.
    val partsRead = fact.metrics.get("numPartitions").map(_.value)
    assert(partsRead.contains(4L), s"expected 4 partitions read, got $partsRead")
  }

  test("q55 probes a runtime bloom filter and matches the bloom-off answer") {
    val df = RelationalQueries.q55RuntimeFilter.fn(s, d)
    val opt = df.queryExecution.optimizedPlan.toString
    assert(opt.contains("might_contain"),
      "no runtime bloom filter in the optimized plan")
    assert(opt.contains("bloom_filter_agg"),
      "no bloom filter build aggregate in the optimized plan")
    val got = df.collect().map(_.toSeq).toSeq
    // Reference: same query with the injector off.
    val key = "spark.sql.optimizer.runtime.bloomFilter.enabled"
    val saved = s.conf.get(key)
    s.conf.set(key, "false")
    try {
      import org.apache.spark.sql.functions._
      val plain = graft.Tables.t(s, d, "lineitem").select("l_orderkey", "l_extendedprice")
        .join(graft.Tables.t(s, d, "orders")
          .filter(col("o_orderpriority") === "1-URGENT")
          .select("o_orderkey", "o_orderpriority"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_items"), graft.Det.dsum(col("l_extendedprice")).as("total"))
        .orderBy("o_orderpriority")
      assert(got == plain.collect().map(_.toSeq).toSeq)
    } finally s.conf.set(key, saved)
  }
}
