package graft.relational

import graft.{GraftSession, SparkTestBase, Tables}
import org.apache.spark.sql.execution.TakeOrderedAndProjectExec
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** q101: the bucket-walk top-N must equal the naive global-window
  * selection exactly (same rows, same aggregates), while the plan never
  * funnels the corpus — no TakeOrderedAndProject (that is the
  * driver-bounded k=25 shape q19/q46 own) and the only unpartitioned
  * window runs over the bounded bucket-count table. */
class DistributedTopnSpec extends AnyFunSuite {
  private lazy val s = SparkTestBase.spark
  private val d = SparkTestBase.sfDir

  test("bucket-walk selection equals the global-window top-N, bit for bit") {
    val naive = Tables.t(s, d, "lineitem")
      .withColumn("rn", row_number().over(Window.orderBy(
        col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber"))))
      .filter(col("rn") <= 5000)
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"),
        graft.Det.dsum(col("l_extendedprice")).as("total"),
        min(col("l_extendedprice")).as("min_price"),
        max(col("l_extendedprice")).as("max_price"))
      .orderBy("l_returnflag")
      .collect().map(_.toSeq).toSeq
    val got = RelationalQueries.q101DistributedTopn.fn(s, d)
      .collect().map(_.toSeq).toSeq
    assert(got == naive)
    assert(got.nonEmpty)
  }

  test("an undersized corpus (rows < N) selects everything, matching the SQL") {
    // With fewer rows than N the walk never reaches cum >= N; boundary
    // selection must still be total (min-bkt with take clamped to its
    // count) so the result equals a plain full-corpus aggregate.
    val dir = graft.TempDirs.newTempDir("q101_small")
    val li = Tables.t(s, d, "lineitem").limit(100).cache()
    li.write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val expected = s.read.parquet(s"$dir/lineitem.parquet")
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"),
        graft.Det.dsum(col("l_extendedprice")).as("total"),
        min(col("l_extendedprice")).as("min_price"),
        max(col("l_extendedprice")).as("max_price"))
      .orderBy("l_returnflag").collect().map(_.toSeq).toSeq
    val got = RelationalQueries.q101DistributedTopn.fn(s, dir)
      .collect().map(_.toSeq).toSeq
    li.unpersist()
    assert(got == expected)
    assert(got.nonEmpty)
  }

  test("q102: sampled boundaries equal the global-window top-N, bit for bit") {
    val naive = Tables.t(s, d, "lineitem")
      .withColumn("rn", row_number().over(Window.orderBy(
        col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber"))))
      .filter(col("rn") <= 20000)
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"),
        graft.Det.dsum(col("l_extendedprice")).as("total"),
        min(col("l_extendedprice")).as("min_price"),
        max(col("l_extendedprice")).as("max_price"))
      .orderBy("l_returnflag")
      .collect().map(_.toSeq).toSeq
    val got = RelationalQueries.q102SampledTopn.fn(s, d)
      .collect().map(_.toSeq).toSeq
    assert(got == naive)
    assert(got.nonEmpty)
  }

  test("q102 stays exact on a lognormal-skewed column where equi-width degenerates") {
    // exp(price/3000) concentrates ~all mass in the lowest equi-width
    // buckets (q101's scheme would rank nearly the whole corpus in one
    // boundary bucket); sampled equi-depth boundaries keep the walk
    // exact AND balanced.
    val dir = graft.TempDirs.newTempDir("q102_skew")
    Tables.t(s, d, "lineitem")
      .withColumn("l_extendedprice", exp(col("l_extendedprice") / lit(3000.0)))
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val skewed = s.read.parquet(s"$dir/lineitem.parquet")
    val naive = skewed
      .withColumn("rn", row_number().over(Window.orderBy(
        col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber"))))
      .filter(col("rn") <= 7000)
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"),
        graft.Det.dsum(col("l_extendedprice")).as("total"),
        min(col("l_extendedprice")).as("min_price"),
        max(col("l_extendedprice")).as("max_price"))
      .orderBy("l_returnflag")
      .collect().map(_.toSeq).toSeq
    val got = RelationalQueries.sampledTopn(s, dir, 7000L)
      .collect().map(_.toSeq).toSeq
    assert(got == naive)
    assert(got.nonEmpty)
  }

  /** The r12 invariant (verdict item 2): NO single-partition window
    * anywhere in the RUN ever processes more than ~sample-size rows.
    * Rewritten in r13 after the original was found VACUOUS twice over:
    * (a) it inspected only the final DataFrame's plan, but the sample
    * ranks and bucket walks run inside materialized sub-jobs — so it
    * usually saw no window at all; (b) it read WindowExec's
    * numOutputRows metric, which this Spark version does not expose
    * (WindowExec reports only spillSize), so even a found window
    * compared -1 <= 16384. Now: every execution in the run is captured
    * via SparkTestBase.executedPlans (checkpoint jobs included), the
    * capture must contain at least one global window (else the test
    * fails as vacuous), and each window's volume is read from the
    * nearest DESCENDANT that reports rows (exchange record counters /
    * numOutputRows) and must be both measurable and <= 16384. */
  private def assertBoundedGlobalWindows(
      mk: => org.apache.spark.sql.DataFrame): Unit = {
    var finalDf: org.apache.spark.sql.DataFrame = null
    val nodes = SparkTestBase.executedPlans(expectMin = 2) {
      finalDf = mk; finalDf.collect()
    }
    assert(!nodes.exists(_.isInstanceOf[TakeOrderedAndProjectExec]),
      "the selected set must stay distributed — no driver-bounded heap")
    val globals = nodes.collect {
      case w: WindowExec if w.partitionSpec.isEmpty => w }
    assert(globals.nonEmpty,
      "captured no single-partition window anywhere in the run — the " +
        "sample-rank windows should be visible via the listener; this " +
        "assertion would be vacuous")
    def rowsInto(w: org.apache.spark.sql.execution.SparkPlan): Long =
      GraftSession.flattenPlan(w).drop(1).iterator
        .flatMap(n => n.metrics.collectFirst {
          case (k, m) if k == "numOutputRows" ||
            k.toLowerCase.contains("records") => m.value
        }).toSeq.headOption.getOrElse(-1L)
    globals.foreach { w =>
      val in = rowsInto(w)
      assert(in >= 0,
        "single-partition window volume unmeasurable — no descendant " +
          "reports a row metric; do not let this assertion go vacuous")
      assert(in <= 16384L,
        s"single-partition window processed $in rows — the recursion " +
          "was supposed to bound every global sort at ~sample size")
    }
  }

  test("q102 plan: no TakeOrdered funnel; every global window is sample-bounded") {
    assertBoundedGlobalWindows(RelationalQueries.q102SampledTopn.fn(s, d))
    // and the sample rate itself is size-bounded by construction
    val li = Tables.t(s, d, "lineitem")
    val h = conv(substring(md5(concat_ws("-",
      col("l_orderkey").cast("string"), col("l_linenumber").cast("string"))),
      1, 8), 16, 10).cast("long")
    val m = math.max(1L, li.count() / 4096)
    val ns = li.filter(h % m === 0).count()
    assert(ns > 0 && ns <= 16384, s"sample not size-bounded: $ns rows")
  }

  test("q101 plan: no TakeOrdered funnel; every global window is sample-bounded") {
    assertBoundedGlobalWindows(RelationalQueries.q101DistributedTopn.fn(s, d))
  }

  test("boundary recursion triggers above the rank threshold and stays exact") {
    // 40k rows with cnt > 16384 forces at least one recursive round
    // (boundary bucket ~cnt/64 ~ 625, then a direct bounded rank); the
    // selected multiset must equal the naive global-window top-n.
    import s.implicits._
    val rows = (1 to 40000).map { i =>
      val v = ((i * 2654435761L) % 100000L).toDouble / 100.0
      ("F", v, i.toLong, i)
    }.toDF("l_returnflag", "v", "l_orderkey", "l_linenumber")
      .repartition(4).cache()
    rows.count()
    val got = RelationalQueries
      .topRowsRecursive(s, rows, 5000L, 40000L, "v", depth = 1)
      .collect().map(r => (r.getDouble(1), r.getLong(2))).sorted.toSeq
    val naive = rows.withColumn("rn", row_number().over(Window.orderBy(
        col("v").desc, col("l_orderkey"), col("l_linenumber"))))
      .filter(col("rn") <= 5000)
      .collect().map(r => (r.getDouble(1), r.getLong(2))).sorted.toSeq
    rows.unpersist()
    assert(got.size == 5000)
    assert(got == naive)
  }
}
