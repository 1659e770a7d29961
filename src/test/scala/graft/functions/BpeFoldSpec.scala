package graft.functions

import graft.SparkTestBase
import org.apache.spark.sql.GraftPlanShim
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, StringType}
import org.scalatest.funsuite.AnyFunSuite

/** Pins [[BpeFold]] bit-identical to t20's SQL fold
  * (concat('|', regexp_replace(text,'(.)','$1|')) reduced through 30
  * replace passes) — the enc string itself, since md5(enc) is the
  * entry's output contract. Identity is checked on the real fixture
  * corpus with t20's real learned merge table, and on adversarial docs
  * with a synthetic merge table covering multi-byte pairs, adjacent
  * competing pairs, and the regex line-terminator carve-out. */
class BpeFoldSpec extends AnyFunSuite {
  private lazy val s = SparkTestBase.spark

  private def encOld = expr(
    """aggregate(merges,
      |  concat('|', regexp_replace(text, '(.)', '$1|')),
      |  (s, p) -> replace(s, concat('|', substr(p,1,1), '|', substr(p,2,1), '|'),
      |                    concat('|', p, '|')))""".stripMargin)

  private def encNew = GraftPlanShim.column(BpeFold(
    GraftPlanShim.expression(col("text")),
    GraftPlanShim.expression(col("merges"))))

  test("enc matches the SQL fold on the fixture corpus with the learned merges") {
    val docs = s.read.parquet(s"${SparkTestBase.sfDir}/documents.parquet")
      .select(col("doc_id"), col("text"))
    // t20's merge-table construction, verbatim
    val toks = split(col("text"), " ")
    val tf = docs.select(explode(toks).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("tf"))
    val pairsOf = transform(
      sequence(lit(1), length(col("tok")) - 1),
      i => col("tok").substr(i, lit(2)))
    val top = tf.filter(length(col("tok")) >= 2)
      .select(explode(pairsOf).as("pair"), col("tf"))
      .groupBy("pair").agg(sum(col("tf")).as("n"))
      .orderBy(col("n").desc, col("pair")).limit(30)
    val merges = top.agg(expr(
      "transform(sort_array(collect_list(struct(-n as nn, pair))), x -> x.pair)")
      .as("merges"))
    val diff = docs.crossJoin(broadcast(merges))
      .select(encNew.as("a"), encOld.as("b"))
      .filter(not(col("a") <=> col("b"))).count()
    assert(diff == 0L)
  }

  test("enc matches on adversarial docs and merge shapes") {
    import s.implicits._
    val docs = Seq(
      "aaa bb abab",            // overlapping/adjacent pair competition
      "a",                      // single char
      "",                       // empty: enc = '|'
      "line one\nline two\r",   // \n \r pass through the regex unpiped
      "hx y z", // the other three Java line terminators
      "héllo wörld 中文字 ab",  // multi-byte chars around merges
      "a|b |a b|"               // pipes in the input text itself
    ).toDF("text")
    // 2-code-point pairs only, like the real learned table (substr
    // windows over tokens), including multi-byte and space-bearing pairs
    val merges = Seq(Seq("ab", "aa", "ll", "中文", "b ", " a")).toDF("merges")
    val diff = docs.crossJoin(broadcast(merges))
      .select(encNew.as("a"), encOld.as("b"))
      .filter(not(col("a") <=> col("b"))).count()
    assert(diff == 0L)
  }

  test("a merge that is not exactly 2 code points fails, naming the element") {
    def enc(merges: String*) = BpeFold(Literal("abc"),
      Literal.create(merges, ArrayType(StringType))).eval()
    val empty = intercept[IllegalArgumentException](enc("ab", ""))
    assert(empty.getMessage.contains("merge 1 must be exactly 2 code points, got ''"))
    val nul = intercept[IllegalArgumentException](enc("ab", null))
    assert(nul.getMessage.contains("merge 1 must be exactly 2 code points, got null"))
    val three = intercept[IllegalArgumentException](enc("abc"))
    assert(three.getMessage.contains("merge 0 must be exactly 2 code points, got 'abc'"))
    assert(enc("中文").toString == "|a|b|c|", "a 2-code-point multi-byte merge compiles")
  }

  test("null text yields null") {
    import s.implicits._
    val d = Seq[Option[String]](None).toDF("text")
      .withColumn("merges", array(lit("ab")))
      .select(encNew.as("a")).collect()(0)
    assert(d.isNullAt(0))
  }
}
