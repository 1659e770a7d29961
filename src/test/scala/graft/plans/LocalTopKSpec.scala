package graft.plans

import graft.{GraftSession, SparkTestBase, Tables}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The custom operator's contract: pruning is LOSSLESS under a shared
  * total order, the physical node really plans, and the prune output is
  * bounded by partitions x groups x k. */
class LocalTopKSpec extends AnyFunSuite {
  private lazy val s = SparkTestBase.spark
  private val d = "/root/testdata/sf0.01"

  private def flatten(p: SparkPlan): Seq[SparkPlan] = GraftSession.flattenPlan(p)

  private def base = Tables.t(s, d, "orders")
    .select("o_orderpriority", "o_orderkey", "o_totalprice")

  test("prune-then-rank equals rank (lossless under shared total order)") {
    val w = Window.partitionBy("o_orderpriority")
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    def rank(df: org.apache.spark.sql.DataFrame) = df
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= 5)
      .collect().map(r => (r.getString(0), r.getInt(3), r.getLong(1))).toSet
    val pruned = LocalTopK.topKPerGroup(base, 5,
      Seq(col("o_orderpriority")), Seq(col("o_totalprice").desc, col("o_orderkey").asc))
    // The baseline is computed DRIVER-SIDE, not via the same rank-filter
    // idiom: with AutoLocalTopK installed engine-wide (SparkTestBase),
    // an engine baseline would itself be auto-pruned by the operator
    // under test, and a row-dropping exec bug would corrupt both sides
    // identically.
    val expected = base.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      .groupBy(_._1).toSeq.flatMap { case (prio, rows) =>
        rows.sortBy(r => (-r._3, r._2)).take(5).zipWithIndex
          .map { case (r, i) => (prio, i + 1, r._2) }.toSeq
      }.toSet
    assert(rank(pruned) == expected)
  }

  test("physical LocalTopKPerGroupExec node is planned and bounds its output") {
    val spread = base.repartition(7)
    val pruned = LocalTopK.topKPerGroup(spread, 4,
      Seq(col("o_orderpriority")), Seq(col("o_totalprice").desc, col("o_orderkey").asc))
    val n = pruned.count()
    assert(flatten(pruned.queryExecution.executedPlan)
      .exists(_.isInstanceOf[LocalTopKPerGroupExec]))
    val groups = 5 // o_orderpriority cardinality
    assert(n <= 7L * groups * 4, s"prune emitted $n rows")
    assert(n >= groups * 4, "prune ate too much — some group lost rows")
  }

  test("groups smaller than k pass through whole") {
    import s.implicits._
    val tiny = Seq(("a", 1L), ("a", 2L), ("b", 3L)).toDF("g", "v").repartition(3)
    val pruned = LocalTopK.topKPerGroup(tiny, 5, Seq(col("g")), Seq(col("v").asc))
    assert(pruned.count() == 3)
  }

  test("property: prune-then-rank equals rank on random data, ties included") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    import s.implicits._
    // Values drawn from a tiny domain so k-th-slot TIES are common — the
    // case where a prune order coarser than the rank order would lose
    // rows. (id is the shared tiebreak on both sides.)
    val rowGen = for {
      g <- Gen.choose(0, 3)
      v <- Gen.choose(0, 5)
    } yield (g, v)
    val prop = Prop.forAll(Gen.nonEmptyListOf(rowGen), Gen.choose(1, 4), Gen.choose(1, 6)) {
      (rows, k, parts) =>
        val df = rows.zipWithIndex
          .map { case ((g, v), id) => (g.toLong, v.toLong, id.toLong) }
          .toDF("g", "v", "id").repartition(parts)
        val order = Seq(col("v").desc, col("id").asc)
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("g").orderBy(order: _*)
        def topk(in: org.apache.spark.sql.DataFrame) = in
          .withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
        // Driver-side expected (see the lossless test above for why the
        // baseline must not be the engine's own rank-filter idiom).
        val expected = rows.zipWithIndex
          .map { case ((g, v), id) => (g.toLong, v.toLong, id.toLong) }
          .groupBy(_._1).flatMap { case (_, grp) =>
            grp.sortBy(r => (-r._2, r._3)).take(k)
          }.toSet
        topk(LocalTopK.topKPerGroup(df, k, Seq(col("g")), order)) == expected
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(30), prop)
    assert(res.passed, res.status.toString)
  }
}
