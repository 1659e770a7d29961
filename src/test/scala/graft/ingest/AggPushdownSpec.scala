package graft.ingest

import graft.{GraftSession, SparkTestBase}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.scalatest.funsuite.AnyFunSuite

/** i25: the unfiltered COUNT/MIN/MAX must be answered from parquet
  * FOOTERS, not data pages — the plan carries `PushedAggregation`, the
  * scan's output rows are per-row-group partials (not per table row),
  * and the answer matches a plain full scan bit-for-bit. */
class AggPushdownSpec extends AnyFunSuite {
  private val s = SparkTestBase.spark
  private val d = SparkTestBase.sfDir

  test("i25: aggregate is pushed into the parquet footer scan") {
    val (df, rows) = IngestQueries.pushedFooterAggPlan(s, d)

    // 1. the executed plan's scan advertises the pushed aggregation
    val scans = GraftSession.flattenPlan(df.queryExecution.executedPlan)
      .collect { case b: BatchScanExec => b }
    assert(scans.nonEmpty, s"expected a DSv2 BatchScan:\n${df.queryExecution}")
    val desc = scans.map(_.scan.description()).mkString("\n")
    assert(desc.contains("PushedAggregation") && desc.contains("COUNT(*)"),
      s"aggregate was not pushed into the scan:\n$desc")

    // 2. the scan emitted row-group partials, not table rows: lineitem at
    // sf0.001 has ~6k rows in a handful of row groups
    val tableRows = s.read.parquet(s"$d/lineitem.parquet").count()
    val scanned = scans
      .map(_.metrics.get("numOutputRows").map(_.value).getOrElse(0L)).sum
    assert(scanned > 0 && scanned < tableRows / 10,
      s"scan emitted $scanned rows for a $tableRows-row table — " +
        "the aggregate was computed from data pages, not footers")

    // 3. same answer as the unpushed plan
    val plain = s.read.parquet(s"$d/lineitem.parquet")
      .agg(org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)),
        org.apache.spark.sql.functions.min("l_orderkey"),
        org.apache.spark.sql.functions.max("l_orderkey"),
        org.apache.spark.sql.functions.min("l_linenumber"),
        org.apache.spark.sql.functions.max("l_linenumber"))
      .collect()(0)
    assert(rows.length == 1 && rows(0) == plain,
      s"pushed answer ${rows.toSeq} != plain answer $plain")
  }
}
