package graft.relational

import graft.{GraftSession, SparkTestBase}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Algorithm-level cross-checks for the two entries whose Spark side runs
  * a genuinely different algorithm than its oracle:
  *  - p04 triangles: the degree-oriented count must equal the naive
  *    a<b<c triple self-join computed HERE in Spark (the DuckDB oracle
  *    re-proves the same identity cross-engine at sf0.01);
  *  - q63 funnel: the single-shuffle sorted-array state machine must
  *    equal the k-joins-for-k-stages formulation. */
class GraphFunnelSpec extends AnyFunSuite {
  private lazy val s = SparkTestBase.spark
  private val d = SparkTestBase.sfDir

  test("degree-oriented triangle count equals the naive triple join") {
    val row = graft.pipeline.PipelineQueries.p04Triangles.fn(s, d).collect()(0)
    val (nEdges, nTri) = (row.getLong(0), row.getLong(1))

    val l = graft.Tables.t(s, d, "lineitem")
      .filter(col("l_shipdate") >= lit(java.sql.Timestamp.valueOf("1995-01-01 00:00:00"))
        && col("l_shipdate") < lit(java.sql.Timestamp.valueOf("1998-01-01 00:00:00")))
      .select("l_orderkey", "l_partkey")
    val e = l.as("l1").join(l.as("l2"),
        col("l1.l_orderkey") === col("l2.l_orderkey")
          && col("l1.l_partkey") < col("l2.l_partkey"))
      .select(col("l1.l_partkey").as("a"), col("l2.l_partkey").as("b"))
      .distinct().cache()
    try {
      assert(e.count() == nEdges)
      val naive = e.as("e1")
        .join(e.as("e2"), col("e1.b") === col("e2.a"))
        .join(e.as("e3"),
          col("e3.a") === col("e1.a") && col("e3.b") === col("e2.b"))
        .count()
      assert(naive == nTri, s"degree-oriented $nTri != naive $naive")
      assert(nTri > 0, "test graph has no triangles — assertion vacuous")
    } finally { e.unpersist(); () }
  }

  test("pagerank broadcasts nothing and keeps the edge side pinned per round") {
    import scala.jdk.CollectionConverters._
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
    val result = try {
      val r = graft.pipeline.PipelineQueries.p03Pagerank.fn(s, d).collect()
      SparkTestBase.drainListener(() => plans.size.toLong)
      r
    } finally s.listenerManager.unregister(listener)

    val flat = plans.asScala.toSeq.map(GraftSession.flattenPlan)
    // beyond-broadcast: NO broadcast exchange in any round/setup execution
    assert(!flat.flatten.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.exchange.BroadcastExchangeExec]),
      "pagerank plan broadcast something — the rank vector must flow as a shuffle")
    // each round join streams the PINNED edges (output has dst) against
    // the rank table: the rank side carries either the raw `rk` or — when
    // RewriteEagerAgg pre-computes the per-vertex contribution below the
    // join (the better plan: the damped-update div runs once per VERTEX,
    // not once per edge) — its `__graft_ea_*` partial. The edge side must
    // carry no exchange; only ranks may move.
    def rankish(names: Seq[String]): Boolean =
      names.contains("rk") || names.exists(_.startsWith("__graft_ea_"))
    val roundJoins = flat.flatten.collect {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec
          if (j.left.output.map(_.name).contains("dst") &&
              rankish(j.right.output.map(_.name))) ||
             (j.right.output.map(_.name).contains("dst") &&
              rankish(j.left.output.map(_.name))) => j
    }
    assert(roundJoins.size >= 3, s"expected >=3 rank-round joins, saw ${roundJoins.size}")
    roundJoins.foreach { j =>
      val edgesSide = if (j.left.output.map(_.name).contains("dst")) j.left else j.right
      assert(!GraftSession.flattenPlan(edgesSide).exists(
        _.isInstanceOf[org.apache.spark.sql.execution.exchange.ShuffleExchangeLike]),
        s"edge side re-shuffled in a rank round:\n$j")
    }
    // graduation must not change the answer: the broadcast-form loop
    // (r7's implementation) computes the identical fixpoint
    val raw = graft.Tables.t(s, d, "lineitem").select("l_orderkey", "l_suppkey")
      .join(graft.Tables.t(s, d, "orders").select("o_orderkey", "o_custkey"),
        col("l_orderkey") === col("o_orderkey"))
      .select((col("o_custkey") * 2).as("c"), (col("l_suppkey") * 2 + 1).as("s"))
      .distinct()
    val edges = raw.select(col("c").as("src"), col("s").as("dst"))
      .unionAll(raw.select(col("s").as("src"), col("c").as("dst"))).cache()
    try {
      val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      val edgesDeg = edges.join(broadcast(deg), "src")
      var ranks = deg.select(col("src").as("v"), lit(100000000L).as("rk"))
      for (_ <- 1 to 3) {
        ranks = edgesDeg.join(broadcast(ranks), col("src") === col("v"))
          .groupBy(col("dst"))
          .agg((lit(15000000L) +
            sum(expr("(34 * rk + 20 * deg) div (40 * deg)"))).as("rk"))
          .withColumnRenamed("dst", "v")
      }
      val expected = ranks
        .select(col("v"), (col("rk").cast("double") / 100000000L).as("r"))
        .orderBy(col("r").desc, col("v")).limit(50).collect()
      assert(result.map(_.toSeq).toSeq == expected.map(_.toSeq).toSeq,
        "co-partitioned pagerank diverged from the broadcast-form fixpoint")
    } finally { edges.unpersist(); () }
  }

  test("funnel state machine equals the per-stage min-join formulation") {
    val row = RelationalQueries.q63Funnel.fn(s, d).collect()(0)
    val ev = graft.Tables.t(s, d, "events")
    val t1 = ev.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min(col("ts")).as("ts1"))
    val t2 = ev.filter(col("event_type") === "click").as("e")
      .join(t1.as("t1"), col("e.user_id") === col("t1.user_id")
        && col("e.ts") > col("t1.ts1"))
      .groupBy(col("e.user_id")).agg(min(col("e.ts")).as("ts2"))
    val t3 = ev.filter(col("event_type") === "purchase").as("e")
      .join(t2.as("t2"), col("e.user_id") === col("t2.user_id")
        && col("e.ts") > col("t2.ts2"))
      .groupBy(col("e.user_id")).agg(min(col("e.ts")).as("ts3"))
    assert(row.getLong(0) == t1.count(), "stage-1 count diverges")
    assert(row.getLong(1) == t2.count(), "stage-2 count diverges")
    assert(row.getLong(2) == t3.count(), "stage-3 count diverges")
    // monotone by construction; >0 keeps the check non-vacuous (at
    // sf0.001 every active user happens to complete all three stages)
    assert(row.getLong(0) >= row.getLong(1) && row.getLong(1) >= row.getLong(2))
    assert(row.getLong(2) > 0, "no full-funnel users — assertion vacuous")
  }
}
