package graft.plans

import graft.SparkTestBase
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** RewriteBitmapDistinct soundness and narrowness:
  *  - the injectivity precondition: (bucket, bit_position) decomposes
  *    the long domain without collisions across negatives, zero, and
  *    bucket boundaries;
  *  - rewrite parity with the rule OFF on grouped and global shapes,
  *    including null keys (dropped) and negative keys;
  *  - the empty input yields COUNT's 0, not SUM's null;
  *  - non-conforming shapes (extra aggregates, multi-column distinct,
  *    non-integral input) are left untouched. */
class BitmapDistinctSpec extends AnyFunSuite {
  private lazy val s = SparkTestBase.spark
  private val d = SparkTestBase.sfDir

  private def fired(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.toString.contains("bitmap_construct_agg")

  test("bucket/bit decomposition is injective across the long domain") {
    import s.implicits._
    val vals = Seq(Long.MinValue + 1, -70000L, -32769L, -32768L, -1L, 0L,
      1L, 2L, 32767L, 32768L, 32769L, 70000L, Long.MaxValue - 1)
    val df = vals.toDF("v")
    df.createOrReplaceTempView("graft_bmp_vals")
    val pairs = s.sql(
      """SELECT DISTINCT bitmap_bucket_number(v) AS b, bitmap_bit_position(v) AS p
        |FROM graft_bmp_vals""".stripMargin).count()
    assert(pairs == vals.distinct.size, "bucket/bit pair collided")
  }

  test("grouped and global rewrites fire and match the rule-off plan") {
    def grouped(): DataFrame = graft.Tables.t(s, d, "orders")
      .groupBy("o_orderpriority")
      .agg(countDistinct(col("o_custkey")).as("n"))
      .orderBy("o_orderpriority")
    def global(): DataFrame = graft.Tables.t(s, d, "orders")
      .agg(countDistinct(col("o_custkey")).as("n"))
    assert(fired(grouped()), "rule did not fire on the grouped shape")
    assert(fired(global()), "rule did not fire on the global shape")
    val (gOn, gOff) = (grouped().collect(),
      SparkTestBase.withoutRules(RewriteBitmapDistinct)(grouped().collect()))
    assert(gOn.map(_.toSeq).toSeq == gOff.map(_.toSeq).toSeq)
    val (aOn, aOff) = (global().collect(),
      SparkTestBase.withoutRules(RewriteBitmapDistinct)(global().collect()))
    assert(aOn.map(_.toSeq).toSeq == aOff.map(_.toSeq).toSeq)
  }

  test("null keys drop, negatives count, empty input yields zero") {
    import s.implicits._
    val df = Seq[java.lang.Long](-5L, -5L, null, 0L, 7L)
      .toDF("k").select(col("k").cast("long").as("k"))
    val counted = df.agg(countDistinct(col("k")).as("n"))
    assert(fired(counted))
    assert(counted.head().getLong(0) == 3L) // -5, 0, 7; null dropped
    val empty = df.filter(col("k") > 100).agg(countDistinct(col("k")).as("n"))
    assert(empty.head().getLong(0) == 0L, "empty input must yield 0, not null")
  }

  test("non-conforming shapes are untouched") {
    val t = graft.Tables.t(s, d, "orders")
    // extra aggregate alongside the distinct
    val mixed = t.groupBy("o_orderpriority")
      .agg(countDistinct(col("o_custkey")).as("n"), count(lit(1)).as("total"))
    assert(!fired(mixed), "must not fire with a second aggregate present")
    // non-integral input
    val str = t.groupBy("o_orderpriority")
      .agg(countDistinct(col("o_orderstatus")).as("n"))
    assert(!fired(str), "must not fire on a string column")
    // multi-column distinct
    val multi = t.groupBy("o_orderpriority")
      .agg(countDistinct(col("o_custkey"), col("o_orderstatus")).as("n"))
    assert(!fired(multi), "must not fire on multi-column distinct")
  }
}
