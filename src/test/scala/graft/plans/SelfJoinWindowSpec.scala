package graft.plans

import graft.SparkTestBase
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{Join, Window}
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** RewriteSelfJoinAgg soundness and narrowness:
  *  - the q86 shape rewrites to Window with the Join GONE and ONE scan
  *    of the base table (the whole point: the naive plan reads it twice);
  *  - on/off parity on an in-memory relation covering null keys (the
  *    inner join drops them; the rewrite's IsNotNull filter must too),
  *    multiple aggregates, and the avg path;
  *  - the cost guard: under the default broadcast threshold the naive
  *    broadcast-join plan is kept;
  *  - non-conforming shapes untouched: join key ≠ group key column,
  *    DISTINCT aggregate, different relations on the two sides. */
class SelfJoinWindowSpec extends AnyFunSuite {
  private lazy val s = SparkTestBase.spark
  private val d = SparkTestBase.sfDir

  private def noBroadcast[T](body: => T): T = {
    val saved = s.conf.get("spark.sql.autoBroadcastJoinThreshold")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try body finally s.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
  }

  private def windowPlanted(df: DataFrame): Boolean = {
    val p = df.queryExecution.optimizedPlan
    p.collectFirst { case w: Window => w }.isDefined &&
      p.collect { case j: Join => j }.isEmpty
  }

  private def naiveOrders(): DataFrame = {
    val o = graft.Tables.t(s, d, "orders").select(col("o_orderkey"),
      col("o_custkey"), expr("cast(round(o_totalprice * 100) as bigint)").as("cents"))
    val a = o.groupBy("o_custkey").agg(sum(col("cents")).as("cust_cents"),
      count(lit(1)).as("n_orders"))
    o.join(a, "o_custkey")
      .select(col("o_orderkey"), col("o_custkey"), col("cents"),
        col("cust_cents"), col("n_orders"))
      .orderBy("o_orderkey")
  }

  test("q86 shape: window planted, join gone, base scanned once") {
    noBroadcast {
      val df = naiveOrders()
      assert(windowPlanted(df), "rule did not fire on the self-join-agg shape")
      val scans = df.queryExecution.optimizedPlan
        .collect { case l: LogicalRelation => l }
      assert(scans.size == 1, s"expected one scan, got ${scans.size}")
    }
  }

  test("on/off parity, including null keys and the avg path") {
    import s.implicits._
    val base = Seq[(Option[Long], Long)](
      (Some(1L), 10L), (Some(1L), 32L), (Some(2L), 7L), (None, 5L),
      (Some(2L), 11L), (None, 3L), (Some(3L), 0L)).toDF("k", "x")
    def naive(): DataFrame = {
      val a = base.groupBy("k").agg(sum(col("x")).as("sx"),
        count(lit(1)).as("n"), min(col("x")).as("mn"),
        max(col("x")).as("mx"), avg(col("x")).as("av"))
      base.join(a, "k").orderBy("k", "x")
    }
    noBroadcast {
      assert(windowPlanted(naive()), "rule did not fire on the local relation")
      val on = naive().collect().map(_.toSeq).toSeq
      val off = SparkTestBase.withoutRules(RewriteSelfJoinAgg)(naive().collect().map(_.toSeq).toSeq)
      assert(on == off, "rule-on rows differ from rule-off rows")
      // null keys must be gone on both paths
      assert(!on.exists(_.head == null))
    }
  }

  test("cost guard: broadcast regime keeps the naive join") {
    // default threshold (10 MB) — sf0.01 orders aggregates well below it
    val df = naiveOrders()
    assert(!windowPlanted(df), "rule fired inside the broadcast regime")
  }

  test("non-conforming shapes are untouched") {
    noBroadcast {
      val o = graft.Tables.t(s, d, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      // join key is NOT the group key column (SQL form keeps the
      // Aggregate bare under the Join, so this exercises the key-identity
      // check rather than a shape mismatch)
      o.createOrReplaceTempView("graft_sjw_o")
      val wrongKey = s.sql(
        """SELECT * FROM graft_sjw_o o JOIN
          |  (SELECT o_custkey, COUNT(*) AS n FROM graft_sjw_o GROUP BY 1) a
          |ON o.o_orderkey = a.o_custkey""".stripMargin)
      assert(!windowPlanted(wrongKey), "fired when join key != group key")
      // DISTINCT aggregate
      val dist = o.groupBy("o_custkey").agg(countDistinct(col("o_orderkey")).as("n"))
      val withDistinct = o.join(dist, "o_custkey")
      assert(!windowPlanted(withDistinct), "fired on a DISTINCT aggregate")
      // different relation on the aggregate side
      val li = graft.Tables.t(s, d, "lineitem")
        .select(col("l_orderkey").as("o_orderkey"), col("l_quantity"))
      val liAgg = li.groupBy("o_orderkey").agg(count(lit(1)).as("n"))
      val crossRel = o.join(liAgg, "o_orderkey")
      assert(!windowPlanted(crossRel), "fired across two different relations")
    }
  }
}
