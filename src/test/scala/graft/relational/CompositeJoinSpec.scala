package graft.relational

import graft.{GraftSession, SparkTestBase}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.scalatest.funsuite.AnyFunSuite

/** q51's join geometry — the part the oracle can't check: both dims
  * broadcast, the selective region predicate reaches its scan, and no
  * join degenerates to a cartesian product. */
class CompositeJoinSpec extends AnyFunSuite {
  private lazy val s = SparkTestBase.spark
  private val d = SparkTestBase.sfDir

  private def flatten(p: SparkPlan): Seq[SparkPlan] = GraftSession.flattenPlan(p)

  test("q51 broadcasts both dims and pushes the region filter to the scan") {
    val df = RelationalQueries.q51TpchComposite.fn(s, d)
    val rows = df.collect() // finalize AQE
    assert(rows.nonEmpty && rows.length <= 5, "ASIA nations only")
    val plan = flatten(df.queryExecution.executedPlan)
    val bcasts = plan.count(_.isInstanceOf[BroadcastHashJoinExec])
    assert(bcasts >= 2, s"expected region+nation broadcast joins, saw $bcasts")
    val planStr = df.queryExecution.executedPlan.toString
    assert(planStr.contains("r_name"),
      "region filter not visible in the physical plan")
    assert(Seq("EqualTo(r_name,ASIA)", "r_name = ASIA").exists(planStr.contains) ||
      planStr.contains("PushedFilters: [IsNotNull(r_name), EqualTo(r_name,ASIA)]"),
      "ASIA predicate did not reach the region scan")
    // Revenue ordering is the query's contract; spot-check monotonicity.
    val revs = rows.map(_.getDouble(1)).toSeq
    assert(revs == revs.sorted(Ordering[Double].reverse), "revenue not DESC")
  }
}
