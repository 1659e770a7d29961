package graft.plans

import graft.SparkTestBase
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.Join
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** RewriteJoinElimination's LeftSemi channel:
  *  - the FK IN-subquery guard vanishes (no Join in the optimized
  *    plan); stock Spark keeps the semi join; rows identical;
  *  - narrowness: a FILTERED dim semi join genuinely filters and must
  *    survive; a non-FK pair survives;
  *  - the anti-join firewall: the same license proves an FK anti join
  *    empty, but it must NEVER be rewritten — it is the audit probe
  *    (i24) that checks the declarations. */
class SemiElimSpec extends AnyFunSuite {
  private lazy val s = SparkTestBase.spark
  private val d = SparkTestBase.sfDir

  private def li = graft.Tables.t(s, d, "lineitem")
  private def orders = graft.Tables.t(s, d, "orders")

  private def joins(df: DataFrame): Int =
    df.queryExecution.optimizedPlan.collect { case j: Join => j }.size

  private def shape: DataFrame =
    li.join(orders.select("o_orderkey"),
        col("l_orderkey") === col("o_orderkey"), "left_semi")
      .groupBy("l_returnflag").agg(count(lit(1)).as("n"))
      .orderBy("l_returnflag")

  test("FK semi join eliminated; stock keeps it; rows equal") {
    TableConstraints.registerStarSchema()
    assert(joins(shape) == 0, "FK semi join was not eliminated")
    val off = SparkTestBase.withoutRules(RewriteJoinElimination) {
      val ndf = shape
      assert(joins(ndf) == 1, "stock Spark eliminated a semi join?!")
      ndf.collect().map(_.toSeq).toSeq
    }
    assert(shape.collect().map(_.toSeq).toSeq == off, "rows differ")
  }

  test("narrowness: filtered dim and non-FK pair survive") {
    TableConstraints.registerStarSchema()
    val filtered = li.join(
        orders.filter(col("o_orderkey") % 2 === 0).select("o_orderkey"),
        col("l_orderkey") === col("o_orderkey"), "left_semi")
      .groupBy("l_returnflag").agg(count(lit(1)).as("n"))
    assert(joins(filtered) == 1, "eliminated a filtering semi join")
    val nonFk = li.join(orders.select("o_orderkey"),
        col("l_partkey") === col("o_orderkey"), "left_semi")
      .groupBy("l_returnflag").agg(count(lit(1)).as("n"))
    assert(joins(nonFk) == 1, "eliminated a non-FK semi join")
  }

  test("anti-join firewall: the audit probe is never rewritten") {
    TableConstraints.registerStarSchema()
    val audit = li.join(orders.select("o_orderkey"),
        col("l_orderkey") === col("o_orderkey"), "left_anti")
      .agg(count(lit(1)).as("orphans"))
    assert(joins(audit) == 1, "the FK anti-join audit probe was optimized away")
    assert(audit.collect().head.getLong(0) == 0L,
      "the audit itself should find zero orphans in this corpus")
  }
}
