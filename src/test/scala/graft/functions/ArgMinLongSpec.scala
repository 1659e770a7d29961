package graft.functions

import graft.{GraftSession, SparkTestBase}
import org.scalatest.funsuite.AnyFunSuite

/** graft_argmin's contract: equal to "first value ordered by (ord ASC,
  * value ASC)" under ANY partitioning — the determinism min_by cannot
  * give (it keeps the first row encountered on ties). */
class ArgMinLongSpec extends AnyFunSuite {
  private lazy val s = SparkTestBase.spark

  test("argmin equals the sort-based reference, ties to smaller value, any partitioning") {
    import org.apache.spark.sql.functions._
    val rnd = new scala.util.Random(7)
    // deliberately tie-heavy: ords drawn from 4 distinct doubles
    val rows = Seq.tabulate(4000) { i =>
      (i % 37L, Array(0.25, 0.5, 0.5, 1.0)(rnd.nextInt(4)), rnd.nextInt(50).toLong)
    }
    val expected = rows.groupBy(_._1).map { case (k, g) =>
      k -> g.map(r => (r._2, r._3)).min
    }
    for (parts <- Seq(1, 7, 32)) {
      val df = s.createDataFrame(rows).toDF("k", "ord", "v").repartition(parts)
      val got = df.groupBy("k")
        .agg(ArgMinLong.argmin(col("ord"), col("v")).as("am"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      expected.foreach { case (k, (_, v)) =>
        assert(got(k) == v, s"parts=$parts key=$k")
      }
    }
  }

  test("nulls are ignored; all-null group yields null; plan hash-aggregates") {
    import org.apache.spark.sql.functions._
    val df = s.createDataFrame(Seq(
      (1L, Some(2.0), Some(10L)), (1L, Some(1.0), None), (1L, None, Some(5L)),
      (2L, None, Some(3L)), (2L, Some(4.0), None)
    )).toDF("k", "ord", "v")
    val agg = df.groupBy("k").agg(ArgMinLong.argmin(col("ord"), col("v")).as("am"))
    val got = agg.collect().map(r => r.getLong(0) -> Option(r.get(1))).toMap
    assert(got(1L) == Some(10L)) // (1.0, null) ignored; (2.0, 10) wins
    assert(got(2L) == None)
    val plans = GraftSession.flattenPlan(agg.queryExecution.executedPlan)
    assert(plans.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.aggregate.HashAggregateExec]),
      "argmin must be HashAggregate-eligible (flat buffer), not SortAggregate")
    assert(!plans.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.aggregate.SortAggregateExec]))
  }
}
