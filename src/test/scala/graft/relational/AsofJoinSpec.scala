package graft.relational

import graft.{GraftSession, SparkTestBase}
import org.scalatest.funsuite.AnyFunSuite

/** q29's union-window as-of join on constructed data where every edge is
  * present: equal-timestamp match (inclusive >=), purchase before any
  * click (null match), multiple clicks (latest wins), user with no
  * clicks at all. The fixture is written as an events.parquet in a temp
  * dir so the test drives the exact catalog fn. */
class AsofJoinSpec extends AnyFunSuite {
  private lazy val s = SparkTestBase.spark

  test("as-of semantics: inclusive match, latest-prior click, null when none") {
    import s.implicits._
    def ts(sec: Int) = new java.sql.Timestamp(sec * 1000L)
    val events = Seq(
      // (event_id, ts, user_id, event_type, value, props)
      (100L, ts(10), 1L, "click", 0.0, "{}"),
      (101L, ts(10), 1L, "purchase", 5.0, "{}"),  // equal ts → matches click@10
      (102L, ts(5), 1L, "purchase", 1.0, "{}"),   // before any click → null
      (200L, ts(1), 2L, "click", 0.0, "{}"),
      (201L, ts(8), 2L, "click", 0.0, "{}"),
      (202L, ts(9), 2L, "purchase", 2.0, "{}"),   // latest prior click is @8
      (300L, ts(4), 3L, "purchase", 3.0, "{}"))   // user never clicked → null
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val dir = java.nio.file.Files.createTempDirectory("graft_asof_spec_")
    events.coalesce(1).write.mode("overwrite").parquet(dir.resolve("events.parquet").toString)

    val got = RelationalQueries.q29AsofJoin.fn(s, dir.toString).collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(3)) null else r.getTimestamp(3))).toMap
    assert(got(101L) == ts(10), "a click at the exact purchase timestamp matches (>= is inclusive)")
    assert(got(102L) == null, "no click at or before t=5")
    assert(got(202L) == ts(8), "the LATEST prior click wins, not the first")
    assert(got(300L) == null, "user with no clicks")
    assert(got.size == 4)

    // The native range-merge operator (q50) must agree on every edge case
    // and actually plan its physical node.
    val nativeDf = RelationalQueries.q50AsofNative.fn(s, dir.toString)
    val native = nativeDf.collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(3)) null else r.getTimestamp(3))).toMap
    assert(native == got)
    assert(GraftSession.flattenPlan(nativeDf.queryExecution.executedPlan)
      .exists(_.isInstanceOf[graft.plans.AsofJoinExec]),
      "AsofJoinExec missing from q50's physical plan")
  }

  test("property: range-merge operator equals brute force on random data") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    import s.implicits._
    // Small domains force every regime: tied times (inclusive >=), keys
    // with no right rows, right rows with no left rows, dense groups.
    val rowGen = for { k <- Gen.choose(0, 4); t <- Gen.choose(0, 9) } yield (k, t)
    val prop = Prop.forAll(
      Gen.listOf(rowGen), Gen.nonEmptyListOf(rowGen), Gen.choose(1, 5)) {
      (rights, lefts, parts) =>
        val lDf = lefts.zipWithIndex
          .map { case ((k, t), id) => (id.toLong, k.toLong, t.toLong) }
          .toDF("lid", "lk", "lt").repartition(parts)
        val rDf = rights.zipWithIndex
          .map { case ((k, t), id) => (id.toLong + 10000L, k.toLong, t.toLong) }
          .toDF("rid", "rk", "rt").repartition(parts)
        val joined = graft.plans.AsofJoin.asof(lDf, rDf,
            Seq(lDf("lk")), Seq(rDf("rk")), lDf("lt"), rDf("rt"))
          .select("lid", "rt")
          .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) -1L else r.getLong(1)))
          .toMap
        val expected = lefts.zipWithIndex.map { case ((k, t), id) =>
          val best = rights.filter(r => r._1 == k && r._2 <= t).map(_._2.toLong)
          id.toLong -> (if (best.isEmpty) -1L else best.max)
        }.toMap
        joined == expected
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(30), prop)
    assert(res.passed, res.status.toString)
  }
}
