package graft.plans

import graft.SparkTestBase
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.Join
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** RewriteJoinElimination soundness and narrowness.
  *
  * The INNER channel (FK+PK RELY): the q94 shape loses its Join and
  * scans ONE table, stock Spark keeps the join (no constraint
  * framework), and rule-on/rule-off rows are identical on the real
  * FK-consistent data. The OUTER channel (PK RELY): a left outer against
  * the BARE dim scan — empty `distinctKeys`, so Spark 4's own
  * EliminateOuterJoin cannot fire — is eliminated by the declared PK.
  *
  * Narrowness: a filtered dim side under INNER, equi-pairs that are not
  * the declared FK, referenced dim columns, an undeclared table, and a
  * fact key that reaches the join through a null-extending path (the
  * value-preservation trace) all keep their joins. */
class JoinEliminationSpec extends AnyFunSuite {
  private lazy val s = SparkTestBase.spark
  private val d = SparkTestBase.sfDir

  private def joins(df: DataFrame): Int =
    df.queryExecution.optimizedPlan.collect { case j: Join => j }.size

  private def li = graft.Tables.t(s, d, "lineitem")
  private def orders = graft.Tables.t(s, d, "orders")

  private def q94(): DataFrame =
    li.join(orders, col("l_orderkey") === col("o_orderkey"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("n"))
      .orderBy("l_returnflag", "l_linestatus")

  test("inner FK channel: join gone, one scan; stock Spark keeps it; rows equal") {
    TableConstraints.registerStarSchema()
    val df = q94()
    assert(joins(df) == 0, "rule did not eliminate the dead FK join")
    val scans = df.queryExecution.optimizedPlan
      .collect { case l: LogicalRelation => l }
    assert(scans.size == 1, s"expected one scan, got ${scans.size}")
    val off = SparkTestBase.withoutRules(RewriteJoinElimination) {
      val ndf = q94()
      assert(joins(ndf) == 1, "stock Spark eliminated an inner join?!")
      ndf.collect().map(_.toSeq).toSeq
    }
    assert(df.collect().map(_.toSeq).toSeq == off, "rule changed the rows")
  }

  test("outer PK channel: bare dim scan (distinctKeys empty) eliminated") {
    TableConstraints.registerStarSchema()
    def q(): DataFrame =
      li.join(orders, col("l_orderkey") === col("o_orderkey"), "left_outer")
        .groupBy("l_returnflag").agg(count(lit(1)).as("n")).orderBy("l_returnflag")
    assert(joins(q()) == 0, "PK-licensed outer elimination did not fire")
    val off = SparkTestBase.withoutRules(RewriteJoinElimination) {
      val ndf = q()
      // the bare scan constructs no distinctKeys, so Spark keeps the join
      assert(joins(ndf) == 1, "EliminateOuterJoin fired on a bare scan?!")
      ndf.collect().map(_.toSeq).toSeq
    }
    assert(q().collect().map(_.toSeq).toSeq == off)
  }

  test("narrowness: filtered dim, wrong pair, referenced dim, undeclared table") {
    TableConstraints.registerStarSchema()
    // INNER with a dim-side filter restricts the fact rows — must survive
    val filtered = li.join(orders.filter(col("o_orderkey") % 2 === 0),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy("l_returnflag").agg(count(lit(1)).as("n"))
    assert(joins(filtered) == 1, "eliminated an inner join with a filtered dim")
    // equi-pair that is not the declared FK (l_partkey vs o_orderkey)
    val wrongFk = li.join(orders, col("l_partkey") === col("o_orderkey"))
      .groupBy("l_returnflag").agg(count(lit(1)).as("n"))
    assert(joins(wrongFk) == 1, "eliminated a non-FK equi-join")
    // a referenced dim column keeps the join
    val refDim = li.join(orders, col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderpriority").agg(count(lit(1)).as("n"))
    assert(joins(refDim) == 1, "eliminated a join whose dim side is read")
    // lineitem is the one table with NO declared key (its 2-col key is
    // not unique in this corpus) — untouched even when unreferenced.
    // (events moved to the declared side when RewriteDistinctByKey
    // landed its verified event_id/doc_id/vec_id declarations.)
    val ev = graft.Tables.t(s, d, "events")
    val undeclared = ev.join(li, col("event_id") === col("l_orderkey"), "left_outer")
      .groupBy("event_type").agg(count(lit(1)).as("n"))
    assert(joins(undeclared) == 1, "eliminated against an undeclared table")
  }

  test("value-preservation trace: a union-sourced fact key refuses the inner channel") {
    TableConstraints.registerStarSchema()
    import s.implicits._
    // A Union reuses its FIRST child's exprIds but carries BOTH children's
    // values — exprId identity alone would "prove" the key is lineitem's
    // base column while value -1 violates RI. The trace must refuse.
    val fake = Seq((-1L, "X")).toDF("l_orderkey", "l_returnflag")
    val unioned = li.select("l_orderkey", "l_returnflag").union(fake)
    val q = unioned.join(orders, col("l_orderkey") === col("o_orderkey"))
      .groupBy("l_returnflag").agg(count(lit(1)).as("n"))
    assert(joins(q) == 1, "inner channel fired on a union-sourced fact key")
    // ... and the refusal is semantic, not cosmetic: the -1 row must drop.
    val rows = q.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(!rows.contains("X"), "the RI-violating union row leaked through")
  }
}
