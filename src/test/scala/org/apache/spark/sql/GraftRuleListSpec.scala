package org.apache.spark.sql

import graft.SparkTestBase
import graft.plans._
import org.scalatest.funsuite.AnyFunSuite

/** The graft engine's one rule list, pinned: the session install path
  * and the `spark.sql.extensions` path apply the same strategies and
  * optimizer rules in the same order. Lives in this package to read
  * SparkSessionExtensions' `private[sql]` builders. */
class GraftRuleListSpec extends AnyFunSuite {
  private lazy val s = SparkTestBase.spark

  private val expectedRules = Seq(RewriteHofDotProduct, RewriteBinnedRangeJoin,
    AutoLocalTopK, RewriteEagerAgg, RewriteBitmapDistinct, RewriteSelfJoinAgg,
    RewriteOrExpansion, RewriteJoinElimination, RewriteTopKThroughJoin,
    RewriteDistinctByKey, RewriteNotInToAnti)
  private val expectedStrategies = Seq(LocalTopKStrategy, AsofJoinStrategy)

  test("install on a fresh session applies the list in order, once") {
    val fresh = s.newSession()
    GraftEngine.install(fresh)
    assert(fresh.experimental.extraOptimizations == expectedRules)
    assert(fresh.experimental.extraStrategies == expectedStrategies)
    GraftEngine.install(fresh)
    assert(fresh.experimental.extraOptimizations == expectedRules,
      "a second install added rules")
    assert(fresh.experimental.extraStrategies == expectedStrategies,
      "a second install added strategies")
  }

  test("GraftPlanExtensions injects the same rules and strategies in the same order") {
    val ext = new SparkSessionExtensions
    new GraftPlanExtensions().apply(ext)
    assert(ext.buildOptimizerRules(s) == expectedRules)
    assert(ext.buildPlannerStrategies(s) == expectedStrategies)
  }
}
