package graft.pipeline

import graft.{GraftSession, SparkTestBase}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Algorithm-level cross-check for p05: the semi-naive frontier BFS must
  * compute the same hop distances as the naive full-relaxation form
  * (every round re-joins ALL discovered vertices, Bellman-Ford style),
  * and its loop must obey the same beyond-broadcast discipline as p03. */
class BfsSpec extends AnyFunSuite {
  private lazy val s = SparkTestBase.spark
  private val d = SparkTestBase.sfDir

  test("semi-naive BFS equals naive full relaxation, and broadcasts nothing") {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[
      org.apache.spark.sql.execution.SparkPlan]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit = {
        plans.add(qe.executedPlan); ()
      }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, ex: Exception): Unit = ()
    }
    s.listenerManager.register(listener)
    val got = try {
      val r = PipelineQueries.p05BfsHops.fn(s, d).collect().map(_.toSeq).toSeq
      SparkTestBase.drainListener(() => plans.size.toLong)
      r
    } finally s.listenerManager.unregister(listener)

    import scala.jdk.CollectionConverters._
    assert(!plans.asScala.toSeq.flatMap(GraftSession.flattenPlan).exists(
      _.isInstanceOf[org.apache.spark.sql.execution.exchange.BroadcastExchangeExec]),
      "BFS loop broadcast something — frontier must flow as a co-partitioned shuffle")

    // naive reference: iterate dist(v) <- min(dist(v), dist(u)+1 over
    // edges u->v) to fixpoint (8 rounds cap, matching the entry)
    val raw = graft.Tables.t(s, d, "lineitem").select("l_orderkey", "l_suppkey")
      .join(graft.Tables.t(s, d, "orders").select("o_orderkey", "o_custkey"),
        col("l_orderkey") === col("o_orderkey"))
      .select((col("o_custkey") * 2).as("c"), (col("l_suppkey") * 2 + 1).as("s"))
      .distinct()
    val edges = raw.select(col("c").as("src"), col("s").as("dst"))
      .unionAll(raw.select(col("s").as("src"), col("c").as("dst"))).cache()
    try {
      val src0 = graft.Tables.t(s, d, "orders")
        .agg(min(col("o_custkey"))).head().getLong(0) * 2
      var dist = s.range(1).select(lit(src0).as("v"), lit(0).as("dist"))
      for (r <- 1 to 8) {
        val relaxed = edges.join(dist, col("src") === col("v"))
          .filter(col("dist") === r - 1) // only the newest layer can extend
          .select(col("dst").as("v"), (col("dist") + 1).as("dist"))
        dist = dist.unionAll(relaxed)
          .groupBy("v").agg(min(col("dist")).as("dist"))
          .localCheckpoint()
      }
      val expected = dist.groupBy("dist").agg(count(lit(1)).as("n_vertices"))
        .orderBy("dist").collect().map(_.toSeq).toSeq
      assert(expected.map(_(1).asInstanceOf[Long]).sum > 1,
        "BFS reached nothing beyond the source — test vacuous")
      assert(got == expected, s"semi-naive $got != naive $expected")
    } finally { edges.unpersist(); () }
  }
}
