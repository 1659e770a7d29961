package graft.text

import graft.{GraftSession, SparkTestBase}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Driver-side ground truth for t25 (iterative BPE training) and p14
  * (importance-ranked data selection). Both reference implementations
  * re-derive the result with plain Scala collections and exact integer
  * arithmetic, so every comparison is equality, not tolerance. */
class BpeTrainSpec extends AnyFunSuite {
  private lazy val s = SparkTestBase.spark
  private val d = SparkTestBase.sfDir

  /** Reference trainer: symbols as lists, one batch merge per round,
    * left-to-right non-overlapping within each token. */
  private def refTrain(tf: Map[String, Long], rounds: Int)
      : Seq[(Int, String, String, String, Long)] = {
    def mergeOne(syms: List[String], a: String, b: String): List[String] =
      syms match {
        case x :: y :: rest if x == a && y == b => (a + b) :: mergeOne(rest, a, b)
        case x :: rest => x :: mergeOne(rest, a, b)
        case Nil => Nil
      }
    var vocab: Map[List[String], Long] =
      tf.map { case (tok, n) => tok.toList.map(_.toString) -> n }
    (1 to rounds).flatMap { r =>
      val counts = vocab.toSeq
        .flatMap { case (syms, n) =>
          syms.zip(syms.drop(1)).map(p => (p._1, p._2) -> n)
        }
        .groupBy(_._1).view.mapValues(_.map(_._2).sum).toSeq
      if (counts.isEmpty) None
      else {
        val ((a, b), n) = counts.minBy { case ((a, b), n) => (-n, a, b) }
        vocab = vocab.map { case (syms, c) => mergeOne(syms, a, b) -> c }
        Some((r, a, b, a + b, n))
      }
    }
  }

  test("t25 equals the driver-side trainer on sf0.001, all 6 rounds") {
    val tf = graft.Tables.t(s, d, "documents")
      .select(explode(split(col("text"), " ")).as("tok"))
      .collect().map(_.getString(0))
      .filterNot(_.contains("|")) // t25 drops delimiter-bearing tokens
      .groupBy(identity).map { case (k, v) => k -> v.length.toLong }
    val expected = refTrain(tf, 6)
    val got = graft.text.TextQueries.t25BpeTrain.fn(s, d).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4))).toSeq
    assert(got == expected)
    // the corpus must actually exercise 6 rounds for the test to mean much
    assert(got.size == 6)
  }

  test("t25 merges runs exactly: aaaa + (a,a) -> [aa,aa], so round 2 sees (aa,aa)") {
    // A corpus where shared-delimiter replace (t20's form) would merge
    // 'aaaa' only alternately ([aa,a,a]) and diverge from round 2 on.
    val dir = graft.TempDirs.newTempDir("bpe_runs")
    s.createDataFrame(Seq(
      (1L, "aaaa aaaa ab", "en", "src0", 12L),
      (2L, "aaaa", "en", "src0", 4L)))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = graft.text.TextQueries.t25BpeTrain.fn(s, dir).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(4)))
      .toSeq
    // round 1: (a,a) appears 3x in each 'aaaa' (tf 3) + 0 in 'ab' = 9
    // round 2: every 'aaaa' is [aa,aa], so (aa,aa) count = 3
    assert(got.take(2) == Seq((1, "a", "a", 9L), (2, "aa", "aa", 3L)))
    // and the trainer agrees with the reference on this corpus end to end
    val tf = Map("aaaa" -> 3L, "ab" -> 1L)
    assert(got == refTrain(tf, 6).map(x => (x._1, x._2, x._3, x._5)))
  }

  test("t25 drops tokens containing the '|' delimiter instead of corrupting") {
    // 'a|b' would symbolize to '|a|||||b|' and decode into empty-string
    // symbols; t25 filters such tokens on both engine and oracle sides,
    // so the trained merges are exactly those of the pipe-free corpus.
    val dir = graft.TempDirs.newTempDir("bpe_pipe")
    s.createDataFrame(Seq(
      (1L, "a|b a|b a|b cd cd", "en", "src0", 17L),
      (2L, "cd ce", "en", "src0", 5L)))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = graft.text.TextQueries.t25BpeTrain.fn(s, dir).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(4)))
      .toSeq
    // (c,d) tf=3 wins round 1; the 3 'a|b' tokens contribute nothing
    assert(got.head == ((1, "c", "d", 3L)))
    assert(got == refTrain(Map("cd" -> 3L, "ce" -> 1L), 6)
      .map(x => (x._1, x._2, x._3, x._5)))
  }

  test("p14 equals the driver-side importance ranking, bit for bit") {
    val md = java.security.MessageDigest.getInstance("MD5")
    def bucket(tok: String): Long = {
      val h = md.digest(tok.getBytes("UTF-8"))
      ((((h(0) & 0xff) << 8) | (h(1) & 0xff)).toLong) % 256L
    }
    val rows = graft.Tables.t(s, d, "documents")
      .select(col("doc_id"), col("lang"), split(col("text"), " ").as("toks"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getSeq[String](2)))
    val counts = new scala.collection.mutable.HashMap[Long, (Long, Long)]()
    rows.foreach { case (_, lang, toks) =>
      toks.foreach { t =>
        val b = bucket(t)
        val (raw, tgt) = counts.getOrElse(b, (0L, 0L))
        counts(b) = (raw + 1, tgt + (if (lang == "en") 1L else 0L))
      }
    }
    val expected = rows.filter(_._2 != "en").map { case (id, _, toks) =>
      val tgt = toks.map(t => counts(bucket(t))._2).sum
      val raw = toks.map(t => counts(bucket(t))._1).sum
      (id, tgt, raw, tgt.toDouble / raw.toDouble)
    }.sortBy { case (id, _, _, sc) => (-sc, id) }.take(200).toSeq
    val got = graft.pipeline.PipelineQueries.p14ImportanceSelect.fn(s, d)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSeq
    assert(got == expected)
    assert(got.nonEmpty)
  }

  test("p14 plan: bucket table broadcasts; top-200 is a bounded heap, not a global sort") {
    val df = graft.pipeline.PipelineQueries.p14ImportanceSelect.fn(s, d)
    df.collect()
    val nodes = GraftSession.flattenPlan(df.queryExecution.executedPlan)
    assert(nodes.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.joins.BroadcastHashJoinExec]))
    assert(!nodes.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.joins.SortMergeJoinExec]))
    assert(nodes.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.TakeOrderedAndProjectExec]))
  }
}
