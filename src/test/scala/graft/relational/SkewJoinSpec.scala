package graft.relational

import graft.{GraftSession, SparkTestBase, Tables}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** q44's scale claim, machine-checked: AQE's OptimizeSkewedJoin must
  * actually split the hot partition of the merge-hinted join. Test data
  * is tiny, so the skew thresholds are forced down to make the hot key's
  * partition register as skewed; at production sizes the defaults fire
  * on the same plan shape. */
class SkewJoinSpec extends AnyFunSuite {
  private lazy val s: SparkSession = SparkTestBase.spark
  private val d = "/root/testdata/sf0.01"

  private def withConf[T](pairs: (String, String)*)(body: => T): T = {
    val old = pairs.map { case (k, _) => k -> s.conf.getOption(k) }
    pairs.foreach { case (k, v) => s.conf.set(k, v) }
    try body
    finally old.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None)    => s.conf.unset(k)
    }
  }

  test("AQE marks and splits the skewed sort-merge join partition") {
    withConf(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      // Thresholds sized to the test corpus: the hot key holds ~90% of
      // 10k rows, compressed to tens of KB post-shuffle.
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "2KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "1KB",
      // The catalog query aggregates after the join; splitting the join's
      // partitioning would normally be vetoed because it forces the agg
      // to re-shuffle. Production guidance is to leave the veto alone and
      // let AQE decide; forcing here isolates the splitter itself.
      "spark.sql.adaptive.forceOptimizeSkewedJoin" -> "true") {
      // repartition(8): a skewed partition splits by assigning map-output
      // subsets to sub-reads, so the shuffle needs >1 mapper — the tiny
      // single-file scan would otherwise be one unsplittable map task.
      // (On a cluster the fact scan has thousands of mappers for free.)
      val fact = Tables.t(s, d, "events").repartition(8).select(
        when(pmod(col("user_id"), lit(10)) =!= 0, lit(0L)).otherwise(col("user_id"))
          .as("skew_key"),
        col("value"))
      val dim = graft.Stage.materialize(s, fact.select(col("skew_key")).distinct()
        .withColumn("tier", when(col("skew_key") === 0, lit("hot")).otherwise(lit("cold"))),
        "skewspecdim")
      val joined = fact.join(dim.hint("merge"), "skew_key")
      joined.collect() // finalize THIS QueryExecution's adaptive plan
      val plan = joined.queryExecution.executedPlan
      val smj = GraftSession.flattenPlan(plan).filter(_.nodeName.startsWith("SortMergeJoin"))
      assert(smj.nonEmpty, s"expected a sort-merge join in:\n$plan")
      assert(smj.exists(_.toString.contains("skew=true")),
        s"OptimizeSkewedJoin never marked the join as skewed:\n$plan")
    }
  }
}
