package graft.plans

import graft.SparkTestBase
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Deduplicate, GlobalLimit, Join}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The q99 license capstone: four RELY-licensed rewrites fire on one
  * query in one optimizer batch. Asserted plan shape after rules:
  *  - the semi-join guard is GONE (exactly one Join remains);
  *  - the DISTINCT is GONE (no Aggregate/Deduplicate anywhere);
  *  - the surviving FK join has the top-k pushed BELOW it (a
  *    GlobalLimit inside the join's subtree);
  * and the stock plan keeps all three (two joins, a dedup aggregate,
  * no pushed limit), with identical rows. */
class LicenseCapstoneSpec extends AnyFunSuite {
  private lazy val s = SparkTestBase.spark
  private val d = SparkTestBase.sfDir

  private def shape: DataFrame =
    graft.Tables.t(s, d, "events")
      .join(graft.Tables.t(s, d, "customer").select("c_custkey"),
        col("user_id") === col("c_custkey"), "left_semi")
      .join(graft.Tables.t(s, d, "customer"), col("user_id") === col("c_custkey"))
      .select(col("event_id"), col("event_type"), col("value"),
        col("c_mktsegment"))
      .distinct()
      .orderBy(col("value").desc, col("event_id"))
      .limit(20)

  test("all four channels fire; stock keeps all three operators; rows equal") {
    TableConstraints.registerStarSchema()
    val p = shape.queryExecution.optimizedPlan
    val joins = p.collect { case j: Join => j }
    assert(joins.size == 1, s"expected 1 join after elimination, got ${joins.size}")
    assert(!p.exists { case _: Aggregate | _: Deduplicate => true; case _ => false },
      "the covered DISTINCT survived")
    assert(joins.head.exists { case _: GlobalLimit => true; case _ => false },
      "top-k was not pushed below the surviving FK join")
    val on = shape.collect().map(_.toSeq).toSeq
    val off = SparkTestBase.withoutRules(RewriteJoinElimination,
        RewriteTopKThroughJoin, RewriteDistinctByKey) {
      val np = shape.queryExecution.optimizedPlan
      assert(np.collect { case j: Join => j }.size == 2, "stock lost a join?!")
      assert(np.exists { case _: Aggregate => true; case _ => false },
        "stock lost the dedup?!")
      shape.collect().map(_.toSeq).toSeq
    }
    assert(on == off, "capstone rows differ between pushed and stock plans")
  }
}
