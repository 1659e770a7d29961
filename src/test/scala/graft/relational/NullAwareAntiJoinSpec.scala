package graft.relational

import graft.{GraftSession, SparkTestBase}
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.scalatest.funsuite.AnyFunSuite

/** q58's physical contract — the parts the oracle can't see: NOT IN
  * plans as a NULL-AWARE anti join (not a plain LeftAnti, whose
  * equality semantics would wrongly keep NULL-keyed rows), and the
  * three-valued-logic row drops happen for the right reasons. */
class NullAwareAntiJoinSpec extends AnyFunSuite {
  private lazy val s = SparkTestBase.spark
  private val d = SparkTestBase.sfDir

  test("q58 plans a null-aware anti join and drops NULL-keyed rows") {
    val df = RelationalQueries.q58NotInNullAware.fn(s, d)
    val rows = df.collect()
    val joins = GraftSession.flattenPlan(df.queryExecution.executedPlan)
      .collect { case b: BroadcastHashJoinExec => b }
    assert(joins.exists(_.isNullAwareAntiJoin),
      "NOT IN did not plan as a null-aware anti join")
    // Every 50th custkey is NULLed on the left: NULL NOT IN (non-empty)
    // is UNKNOWN, so none of those keys may appear.
    assert(rows.nonEmpty)
    assert(!rows.exists(_.getLong(0) % 50 == 0),
      "a NULL-keyed row survived NOT IN — three-valued logic violated")
    // And a NULL in the SUBQUERY empties the result entirely.
    import org.apache.spark.sql.functions._
    graft.Tables.t(s, d, "customer").createOrReplaceTempView("customer")
    graft.Tables.t(s, d, "orders")
      .withColumn("o_custkey",
        when(col("o_orderkey") === 1L, lit(null)).otherwise(col("o_custkey")))
      .createOrReplaceTempView("orders_with_null")
    val emptied = s.sql(
      """SELECT c_custkey FROM customer
        |WHERE c_custkey NOT IN (SELECT o_custkey FROM orders_with_null)""".stripMargin)
    assert(emptied.count() == 0,
      "NOT IN over a subquery containing NULL must return no rows")
  }
}
