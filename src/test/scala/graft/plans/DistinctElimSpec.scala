package graft.plans

import graft.SparkTestBase
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Deduplicate}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** RewriteDistinctByKey soundness and narrowness:
  *  - DISTINCT over columns covering a declared unique key vanishes
  *    (no Aggregate/Deduplicate in the optimized plan); stock Spark
  *    keeps the dedup; rows identical;
  *  - the license composes through a preserved join (orders ⋈ customer
  *    on the declared FK: DISTINCT on (o_orderkey, dim col) drops);
  *  - narrowness: keys not covering the unique key refuse, a
  *    self-union child (duplicates rows) refuses, an unlicensed join
  *    refuses, and an undeclared table (lineitem) refuses. */
class DistinctElimSpec extends AnyFunSuite {
  private lazy val s = SparkTestBase.spark
  private val d = SparkTestBase.sfDir

  private def ev = graft.Tables.t(s, d, "events")
  private def orders = graft.Tables.t(s, d, "orders")
  private def customer = graft.Tables.t(s, d, "customer")
  private def li = graft.Tables.t(s, d, "lineitem")

  private def hasDedup(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.exists {
      case _: Aggregate => true
      case _: Deduplicate => true
      case _ => false
    }

  test("covering distinct vanishes; stock keeps it; rows equal") {
    TableConstraints.registerStarSchema()
    def shape = ev.select(col("event_id"), col("event_type"), col("value"))
      .distinct()
      .orderBy(col("value").desc, col("event_id")).limit(20)
    assert(!hasDedup(shape), "covered DISTINCT was not eliminated")
    val off = SparkTestBase.withoutRules(RewriteDistinctByKey) {
      val ndf = shape
      assert(hasDedup(ndf), "stock Spark eliminated a bare-scan DISTINCT?!")
      ndf.collect().map(_.toSeq).toSeq
    }
    assert(shape.collect().map(_.toSeq).toSeq == off, "rows differ")
  }

  test("dropDuplicates spelling and a filtered child eliminate too") {
    TableConstraints.registerStarSchema()
    val dd = ev.filter(col("value") > 0)
      .dropDuplicates("event_id", "event_type")
      .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
    assert(!dd.queryExecution.optimizedPlan.exists {
      case a: Aggregate => a.groupingExpressions.length > 1 // the dedup form
      case _: Deduplicate => true
      case _ => false
    }, "dropDuplicates over a unique-key filter child survived")
    val off = SparkTestBase.withoutRules(RewriteDistinctByKey) {
      dd.orderBy("event_type").collect().map(_.toSeq).toSeq
    }
    assert(dd.orderBy("event_type").collect().map(_.toSeq).toSeq == off)
  }

  test("license composes through a preserved FK join") {
    TableConstraints.registerStarSchema()
    val j = orders.join(customer, col("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey"), col("c_name")).distinct()
      .orderBy(col("o_orderkey")).limit(10)
    assert(!hasDedup(j), "distinct over a preserved FK join was not eliminated")
    val off = SparkTestBase.withoutRules(RewriteDistinctByKey)(j.collect().map(_.toSeq).toSeq)
    assert(j.collect().map(_.toSeq).toSeq == off)
  }

  test("group-by-key elimination: aggregates over the unique key degenerate") {
    TableConstraints.registerStarSchema()
    def shape = ev.groupBy(col("event_id"), col("event_type"))
      .agg(max(col("value")).as("max_v"), count(lit(1)).as("n"),
        avg(col("value")).as("avg_v"), sum(col("user_id")).as("su"),
        min(col("ts")).as("mt"), count(col("value")).as("nv"))
      .orderBy(col("max_v").desc, col("event_id")).limit(20)
    assert(!hasDedup(shape), "keyed group-by aggregate was not eliminated")
    val off = SparkTestBase.withoutRules(RewriteDistinctByKey) {
      val ndf = shape
      assert(hasDedup(ndf), "stock Spark eliminated a bare-scan group-by?!")
      ndf.collect().map(_.toSeq).toSeq
    }
    assert(shape.collect().map(_.toSeq).toSeq == off, "rows differ")
    // a DECIMAL sum changes precision semantics — must refuse
    val dec = ev.groupBy(col("event_id"))
      .agg(sum(col("value").cast("decimal(12,2)")).as("s"))
    assert(hasDedup(dec), "eliminated a decimal sum")
  }

  test("narrowness: uncovered keys, duplicating child, unlicensed join, undeclared table") {
    TableConstraints.registerStarSchema()
    // unique key not covered — a real dedup, must stay
    val uncovered = ev.select(col("event_type"), col("value")).distinct()
    assert(hasDedup(uncovered), "eliminated a real DISTINCT")
    // union can duplicate rows — must stay. (Branches deliberately
    // differ: Spark's own RemoveNoopUnion legally collapses
    // Distinct(Union(a, a)) to Distinct(a) before this rule sees it.)
    val unioned = ev.select("event_id", "event_type")
      .unionAll(ev.filter(col("value") > 0).select("event_id", "event_type"))
      .distinct()
    assert(hasDedup(unioned), "eliminated DISTINCT over a duplicating union")
    // join with no declared constraint — must stay
    val unlicensed = ev.join(li, col("event_id") === col("l_orderkey"))
      .select(col("event_id"), col("l_linenumber")).distinct()
    assert(hasDedup(unlicensed), "eliminated through an unlicensed join")
    // lineitem has no declared key — must stay
    val undeclared = li.select("l_orderkey", "l_linenumber").distinct()
    assert(hasDedup(undeclared), "eliminated on an undeclared table")
  }
}
