package graft.relational

import graft.{GraftSession, SparkTestBase}
import org.apache.spark.sql.execution.joins.ShuffledHashJoinExec
import org.scalatest.funsuite.AnyFunSuite

/** q59's physical contract: the SHUFFLE_HASH hint pins the third join
  * strategy (hash without sort) against the planner's broadcast
  * preference at test SF, building on the filtered part side. */
class ShuffleHashJoinSpec extends AnyFunSuite {
  private lazy val s = SparkTestBase.spark
  private val d = SparkTestBase.sfDir

  test("q59 plans a shuffled hash join building on the hinted part side") {
    val df = RelationalQueries.q59ShuffleHashJoin.fn(s, d)
    df.collect() // finalize AQE
    val joins = GraftSession.flattenPlan(df.queryExecution.executedPlan)
      .collect { case j: ShuffledHashJoinExec => j }
    assert(joins.nonEmpty, "no ShuffledHashJoinExec in the executed plan")
    // The hash table must be built on the (filtered, smaller) part side,
    // not the lineitem fact.
    assert(joins.exists(j =>
      j.buildSide.toString == "BuildRight" &&
        j.right.output.exists(_.name == "p_partkey")),
      s"hash build side is not the part dim: ${joins.map(_.buildSide)}")
  }
}
