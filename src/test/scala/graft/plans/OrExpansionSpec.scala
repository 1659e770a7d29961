package graft.plans

import graft.{GraftSession, SparkTestBase}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.Or
import org.apache.spark.sql.catalyst.plans.logical.{Join, Union}
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** RewriteOrExpansion soundness and narrowness:
  *  - the disjunctive join becomes a Union of two equi joins, with no
  *    nested-loop or cartesian operator in the physical plan;
  *  - on/off parity on an in-memory relation that covers null keys
  *    (never matching, both paths) and pairs matching BOTH disjuncts
  *    (counted once — the NOT-coalesce guard);
  *  - non-conforming shapes untouched: three-way OR, expression
  *    operands, left outer join. */
class OrExpansionSpec extends AnyFunSuite {
  private lazy val s = SparkTestBase.spark

  private def expanded(df: DataFrame): Boolean = {
    val p = df.queryExecution.optimizedPlan
    val hasUnion = p.collectFirst { case u: Union => u }.isDefined
    val orJoins = p.collect {
      case j: Join if j.condition.exists(_.exists(_.isInstanceOf[Or])) => j
    }
    hasUnion && orJoins.isEmpty
  }

  private def noPairEnumeration(df: DataFrame): Boolean =
    GraftSession.flattenPlan(df.queryExecution.executedPlan).forall {
      case _: BroadcastNestedLoopJoinExec => false
      case _: CartesianProductExec => false
      case _ => true
    }

  private def pairs(): (DataFrame, DataFrame) = {
    import s.implicits._
    // k1/k2 nullable; rows 4&5 match on BOTH keys; row 6 only via k2;
    // row 7's null keys match nothing on either path
    val t = Seq[(Long, Option[String], Option[String])](
      (1L, Some("a"), Some("x")), (2L, Some("a"), Some("y")),
      (3L, Some("b"), Some("y")), (4L, Some("c"), Some("z")),
      (5L, Some("c"), Some("z")), (6L, Some("d"), Some("z")),
      (7L, None, None)).toDF("id", "k1", "k2")
    val joined = t.as("a").join(t.as("b"),
      (col("a.k1") === col("b.k1") || col("a.k2") === col("b.k2")) &&
        col("a.id") < col("b.id"))
      .select(col("a.id").as("u"), col("b.id").as("v"))
      .orderBy("u", "v")
    (t, joined)
  }

  test("disjunctive join expands to a union of equi joins") {
    val (_, joined) = pairs()
    assert(expanded(joined), "rule did not fire on the OR-join shape")
    assert(noPairEnumeration(joined), "physical plan still enumerates pairs")
  }

  test("on/off parity: null keys drop, both-match pairs count once") {
    val (_, joined) = pairs()
    val on = joined.collect().map(_.toSeq).toSeq
    val off =
      SparkTestBase.withoutRules(RewriteOrExpansion)(pairs()._2.collect().map(_.toSeq).toSeq)
    assert(on == off, s"rule-on $on differs from rule-off $off")
    // (4,5) matches both disjuncts — exactly once in the output
    assert(on.count(_ == Seq(4L, 5L)) == 1)
    // null-keyed row 7 pairs with nothing
    assert(!on.flatten.contains(7L))
  }

  test("q88 catalog entry runs the expanded plan") {
    val df = graft.SparkEntry.queries("q88_or_join_auto")(s, SparkTestBase.sfDir)
    assert(expanded(df), "q88 did not get the union-of-equi-joins plan")
    assert(noPairEnumeration(df))
  }

  test("non-conforming shapes are untouched") {
    import s.implicits._
    val t = Seq((1L, "a", "x"), (2L, "b", "y")).toDF("id", "k1", "k2")
    val threeWay = t.as("a").join(t.as("b"),
      col("a.k1") === col("b.k1") || col("a.k2") === col("b.k2") ||
        col("a.id") === col("b.id"))
    assert(!expanded(threeWay), "fired on a three-way OR")
    val exprOperand = t.as("a").join(t.as("b"),
      concat(col("a.k1"), lit("_")) === col("b.k1") || col("a.k2") === col("b.k2"))
    assert(!expanded(exprOperand), "fired on a non-attribute operand")
    val outer = t.as("a").join(t.as("b"),
      col("a.k1") === col("b.k1") || col("a.k2") === col("b.k2"), "left_outer")
    assert(!expanded(outer), "fired on an outer join")
  }
}
