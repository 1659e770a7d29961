package graft.plans

import graft.SparkTestBase
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.Or
import org.apache.spark.sql.catalyst.plans.LeftAnti
import org.apache.spark.sql.catalyst.plans.logical.Join
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** RewriteNotInToAnti soundness and narrowness:
  *  - the declared-non-null NOT-IN shape converts to a plain anti join
  *    (no Or/IsNull in the condition); stock Spark keeps the
  *    null-aware disjunct; rows identical (the data is null-free by
  *    the verified declarations, so both semantics agree);
  *  - q58's deliberately NULLABLE derived key must refuse (its
  *    three-valued behavior is the entry's whole point);
  *  - an undeclared column pair refuses. */
class NaajConvertSpec extends AnyFunSuite {
  private lazy val s = SparkTestBase.spark
  private val d = SparkTestBase.sfDir

  private def nullAwareAnti(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.exists {
      case j @ Join(_, _, LeftAnti, Some(cond), _) =>
        cond.exists { case _: Or => true; case _ => false }
      case _ => false
    }

  private def naaj(cond: org.apache.spark.sql.Column): DataFrame =
    graft.Tables.t(s, d, "events")
      .join(graft.Tables.t(s, d, "customer")
          .filter(col("c_mktsegment") === "BUILDING").select("c_custkey"),
        cond, "left_anti")
      .groupBy("event_type").agg(count(lit(1)).as("n"))
      .orderBy("event_type")

  private def shape: DataFrame =
    naaj(col("user_id") === col("c_custkey") ||
      isnull(col("user_id") === col("c_custkey")))

  test("declared non-null NOT IN converts to plain anti; stock keeps NAAJ; rows equal") {
    TableConstraints.registerStarSchema()
    assert(!nullAwareAnti(shape), "null-aware condition was not converted")
    val off = SparkTestBase.withoutRules(RewriteNotInToAnti) {
      val ndf = shape
      assert(nullAwareAnti(ndf), "stock Spark dropped the null-aware disjunct?!")
      ndf.collect().map(_.toSeq).toSeq
    }
    assert(shape.collect().map(_.toSeq).toSeq == off, "rows differ")
  }

  test("q58's nullable derived key refuses; undeclared pair refuses") {
    TableConstraints.registerStarSchema()
    graft.Tables.t(s, d, "customer").createOrReplaceTempView("customer")
    graft.Tables.t(s, d, "orders").createOrReplaceTempView("orders")
    val q58 = s.sql(
      """SELECT c_custkey, c_mktsegment FROM customer
        |WHERE (CASE WHEN c_custkey % 50 = 0 THEN NULL ELSE c_custkey END)
        |      NOT IN (SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT')
        |ORDER BY c_custkey""".stripMargin)
    assert(nullAwareAnti(q58), "converted q58's genuinely nullable NOT IN")
    // documents.n_chars carries no declaration — must refuse
    val undeclared = graft.Tables.t(s, d, "events")
      .join(graft.Tables.t(s, d, "documents").select("n_chars"),
        col("user_id") === col("n_chars") ||
          isnull(col("user_id") === col("n_chars")),
        "left_anti")
      .groupBy("event_type").agg(count(lit(1)).as("n"))
    assert(nullAwareAnti(undeclared), "converted an undeclared pair")
  }
}
