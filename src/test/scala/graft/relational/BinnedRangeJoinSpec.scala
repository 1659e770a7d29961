package graft.relational

import graft.{GraftSession, SparkTestBase}
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** q60's contract: interval binning turns the no-equi-key range join
  * into an equi join (no nested-loop or cartesian node anywhere in the
  * plan) and the rewrite is lossless — identical rows to the naive
  * theta form that Spark would otherwise nested-loop through.
  */
class BinnedRangeJoinSpec extends AnyFunSuite {
  private lazy val s = SparkTestBase.spark
  private val d = SparkTestBase.sfDir
  private val W = 300000000L

  test("q60 plans an equi join — no nested loop, no cartesian product") {
    val df = RelationalQueries.q60BinnedRangeJoin.fn(s, d)
    df.collect() // finalize AQE
    val nodes = GraftSession.flattenPlan(df.queryExecution.executedPlan)
    assert(!nodes.exists(_.isInstanceOf[BroadcastNestedLoopJoinExec]),
      "binned range join still plans a BroadcastNestedLoopJoin")
    assert(!nodes.exists(_.isInstanceOf[CartesianProductExec]),
      "binned range join still plans a CartesianProduct")
  }

  test("binning matches the naive theta join row for row") {
    val ev = graft.Tables.t(s, d, "events")
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), unix_micros(col("ts")).as("pus"))
    val c = ev.filter(col("event_type") === "click")
      .select(unix_micros(col("ts")).as("cus"))
    val naive = p.join(c, abs(col("pus") - col("cus")) <= W, "left")
      .groupBy("event_id")
      .agg(count(col("cus")).as("n_close"))
      .orderBy("event_id")
      .collect()
    val binned = RelationalQueries.q60BinnedRangeJoin.fn(s, d)
      .select("event_id", "n_close").collect()
    assert(binned.toSeq == naive.toSeq)
    // The window is real: some purchase actually has a nearby click.
    assert(naive.exists(_.getLong(1) > 0))
  }
}
