package graft.plans

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.SparkStrategy

/** The graft engine: every custom planner strategy and optimizer rule,
  * each listed ONCE, in the order both install paths apply them. Every
  * session entry point (graft.GraftSession: Verify, Bench, Explain,
  * tests) calls `install`, so the catalog runs against the same engine
  * the production `spark.sql.extensions` flag configures. */
object GraftEngine {
  val strategies: Seq[SparkStrategy] = Seq(LocalTopKStrategy, AsofJoinStrategy)

  val optimizerRules: Seq[Rule[LogicalPlan]] = Seq(
    RewriteHofDotProduct,
    RewriteBinnedRangeJoin,
    AutoLocalTopK,
    RewriteEagerAgg,
    RewriteBitmapDistinct,
    RewriteSelfJoinAgg,
    RewriteOrExpansion,
    RewriteJoinElimination,
    RewriteTopKThroughJoin,
    RewriteDistinctByKey,
    RewriteNotInToAnti)

  /** Session path (idempotent, the SqlStrategy.setup pattern): appends
    * each strategy and rule the session lacks, in list order. */
  def install(spark: SparkSession): Unit = {
    TableConstraints.registerStarSchema()
    val exp = spark.experimental
    exp.extraStrategies ++= strategies.filterNot(exp.extraStrategies.contains)
    exp.extraOptimizations ++= optimizerRules.filterNot(exp.extraOptimizations.contains)
  }
}

/** Production registration path (same jar flag as the functions):
  * --conf spark.sql.extensions=graft.plans.GraftPlanExtensions
  *
  * Injected rules run in the operator-optimization batch, a fixed point
  * before Spark's own InferWindowGroupLimit, so AutoLocalTopK matches
  * the bare Filter+Window shape here (the session path runs after it
  * and takes over the WindowGroupLimit instead; LocalTopKStrategy
  * absorbs the limit Spark stacks on the prune, so both end at the same
  * pruned plan). The fixed point also lets RewriteJoinElimination see
  * the dead join that column pruning exposes in a later iteration. */
class GraftPlanExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    TableConstraints.registerStarSchema()
    GraftEngine.strategies.foreach(s => ext.injectPlannerStrategy(_ => s))
    GraftEngine.optimizerRules.foreach(r => ext.injectOptimizerRule(_ => r))
  }
}
