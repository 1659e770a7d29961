package graft.text

import graft.{GraftSession, SparkTestBase}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Driver-side ground truth for the round-10 curation operators: C4-style
  * line-level corpus dedup (d16), GPT-style concat-and-chunk sequence
  * packing (t23), and token-budget subset selection (t24). All integer
  * arithmetic — every comparison is exact. Plan-shape assertions pin the
  * scale contracts the entries' scaladocs claim (fact side never
  * shuffles for d16; t24 has no corpus-wide global window).
  */
class CurationOpsSpec extends AnyFunSuite {
  private lazy val s = SparkTestBase.spark
  private val d = SparkTestBase.sfDir

  private lazy val corpus: Array[(Long, Array[String])] =
    graft.Tables.t(s, d, "documents")
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1).toArray)

  private def spans(toks: Array[String]): Array[String] =
    toks.grouped(3).map(_.mkString(" ")).toArray

  test("d16 line dedup: drops exactly the corpus-wide hot spans, order kept") {
    val counts = corpus.iterator.flatMap(c => spans(c._2))
      .toSeq.groupBy(identity).map { case (k, v) => k -> v.length }
    val expected = corpus.flatMap { case (id, toks) =>
      val (kept, dropped) = spans(toks).partition(counts(_) < 3)
      if (kept.nonEmpty) Some((id, kept.mkString(" "), kept.length.toLong,
        dropped.length.toLong))
      else None
    }.sortBy(_._1).toSeq
    val got = graft.dedup.DedupQueries.d16LineDedup.fn(s, d).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .toSeq
    assert(got == expected)
    assert(got.exists(_._4 > 0), "the corpus always has hot spans to drop")
  }

  test("d16 plan: the hot set never appears in a row schema; no join in the broadcast path") {
    val df = graft.dedup.DedupQueries.d16LineDedup.fn(s, d)
    df.collect()
    val nodes = GraftSession.flattenPlan(df.queryExecution.executedPlan)
    // the hot set lives OFF-ROW in a Spark broadcast: the rewrite plan has
    // NO join node at all, so no plan boundary can copy the set per row
    // (generation 2 of this entry materialized rows × 21 MB at sf10)
    assert(!nodes.exists(_.isInstanceOf[org.apache.spark.sql.execution.joins.BaseJoinExec]),
      s"broadcast path must not join:\n${df.queryExecution}")
    assert(nodes.exists(_.toString.contains("graft_bc_sorted_contains")),
      "the off-row broadcast probe is not in the plan")
    val exchanges = nodes.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike => e }
    // Layout.widen's guarded scan repair (FIRES here: one-file fixture) +
    // the final ORDER BY — the count pass runs in the eager hot-set
    // stage, outside this plan
    val (widen, algo) = exchanges.partition {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec =>
        e.shuffleOrigin == org.apache.spark.sql.execution.exchange.REPARTITION_BY_NUM
      case _ => false
    }
    assert(widen.nonEmpty, "the widen guard must fire on the one-file fixture")
    assert(algo.size == 1, s"extra algorithm shuffle:\n${df.queryExecution}")
  }

  test("d16 beyond-broadcast path: positions anti-join returns identical rows") {
    val rowsOf = (df: org.apache.spark.sql.DataFrame) =>
      df.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSeq
    val broadcastPath = rowsOf(graft.dedup.DedupQueries.d16LineDedup.fn(s, d))
    val saved = s.conf.getOption("spark.graft.d16.hotBroadcastMax")
    s.conf.set("spark.graft.d16.hotBroadcastMax", "0")
    try {
      val df = graft.dedup.DedupQueries.d16LineDedup.fn(s, d)
      assert(rowsOf(df) == broadcastPath,
        "anti-join path diverged from the broadcast path")
      val nodes = GraftSession.flattenPlan(df.queryExecution.executedPlan)
      assert(nodes.exists {
        case j: org.apache.spark.sql.execution.joins.BaseJoinExec =>
          j.joinType == org.apache.spark.sql.catalyst.plans.LeftAnti
        case _ => false
      }, s"expected the hot-table anti join:\n${df.queryExecution}")
    } finally saved match {
      case Some(v) => s.conf.set("spark.graft.d16.hotBroadcastMax", v)
      case None    => s.conf.unset("spark.graft.d16.hotBroadcastMax")
    }
  }

  test("t23 sequence pack: per-shard prefix placement, budget-256 chunks") {
    val expected = corpus.map { case (id, toks) => (id, id % 8, toks.length.toLong) }
      .groupBy(_._2).toSeq.flatMap { case (_, docs) =>
        docs.sortBy(_._1).foldLeft((0L, List.empty[(Long, Long, Long, Long, Long)])) {
          case ((cum, acc), (id, sh, n)) =>
            (cum + n, (id, sh, n, cum / 256, cum % 256) :: acc)
        }._2
      }.sortBy(_._1)
    val got = TextQueries.t23SequencePack.fn(s, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    assert(got == expected)
    assert(got.map(_._4).max > 10, "packing must span many sequences per shard")
  }

  test("t24 budget select: equals the global-window prefix, boundary tight") {
    val ranked = corpus.map { case (id, toks) =>
      val n = toks.length.toLong
      (id, 1000L * toks.distinct.length / n, n)
    }.sortBy { case (id, score, _) => (-score, id) }
    val expected = ranked.scanLeft((0L, 0L, 0L, 0L)) {
      case ((_, _, _, cum), (id, sc, n)) => (id, sc, n, cum + n)
    }.drop(1).takeWhile(_._4 <= 10000L).sortBy(_._1).toSeq
    val got = TextQueries.t24TokenBudgetSelect.fn(s, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == expected)
    val total = got.map(_._3).sum
    val next = ranked.drop(got.size).headOption
    assert(total <= 10000L)
    assert(next.forall(total + _._3 > 10000L), "prefix must stop exactly at the budget")
  }

  test("t24 plan: two bucket-scoped windows, no corpus-wide global window") {
    val df = TextQueries.t24TokenBudgetSelect.fn(s, d)
    df.collect()
    val nodes = GraftSession.flattenPlan(df.queryExecution.executedPlan)
    val windows = nodes.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w }
    assert(windows.size == 2)
    // the single-partition window runs over the <=1001-row bucket agg;
    // the corpus-side window is partitioned by score
    assert(windows.exists(_.partitionSpec.nonEmpty),
      "corpus window must be bucket-partitioned")
    assert(nodes.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.joins.BroadcastHashJoinExec]),
      "bucket priors must broadcast back to the corpus")
  }

  test("t26 confusion matrix equals the cross-tab of t21's and t22's own outputs") {
    val gold = TextQueries.t21QualityRules.fn(s, d)
      .select("doc_id", "keep").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val pred = TextQueries.t22HashedClassifier.fn(s, d)
      .select("doc_id", "keep").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(gold.keySet == pred.keySet)
    def cell(g: Int, p: Int): Long =
      gold.count { case (id, gv) => gv == g && pred(id) == p }.toLong
    val (tp, fp, fn, tn) = (cell(1, 1), cell(0, 1), cell(1, 0), cell(0, 0))
    def bp(num: Long, den: Long): Long = if (den == 0) 0L else num / den
    val expected = (tp, fp, fn, tn,
      bp(10000 * tp, tp + fp), bp(10000 * tp, tp + fn),
      bp(20000 * tp, 2 * tp + fp + fn))
    val r = TextQueries.t26ClassifierEval.fn(s, d).collect()
    assert(r.length == 1)
    val got = (r(0).getLong(0), r(0).getLong(1), r(0).getLong(2), r(0).getLong(3),
      r(0).getLong(4), r(0).getLong(5), r(0).getLong(6))
    assert(got == expected)
    assert(tp + fp + fn + tn == gold.size.toLong)
  }

  test("t21's scan-local fold path equals the groupBy path, row for row") {
    // the corpus-size-adaptive switch (qualitySignals scaladoc): force
    // the scale path and compare every signal column bit-for-bit
    val small = TextQueries.t21QualityRules.fn(s, d)
      .collect().map(_.toSeq).toSeq
    sys.props.put("graft.t21.forceFold", "1")
    try {
      val fold = TextQueries.t21QualityRules.fn(s, d)
        .collect().map(_.toSeq).toSeq
      assert(fold == small)
      assert(fold.nonEmpty)
    } finally sys.props.remove("graft.t21.forceFold")
  }
}
