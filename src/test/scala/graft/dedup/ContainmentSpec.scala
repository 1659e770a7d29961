package graft.dedup

import graft.{GraftSession, SparkTestBase, Tables}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** d19: the prefix-filtered containment join must be lossless against
  * brute-force all-directed-pairs over STRING shingles (also exercising
  * the hash-id reduction), and must actually prune candidates. */
class ContainmentSpec extends AnyFunSuite {
  private lazy val s = SparkTestBase.spark
  private val d = SparkTestBase.sfDir

  test("d19 equals brute-force directed containment, string shingles") {
    val toks = split(col("text"), " ")
    val sh = Tables.t(s, d, "documents")
      .select(col("doc_id"), sort_array(array_distinct(transform(
        sequence(lit(1), greatest(size(toks) - 2, lit(0))),
        i => concat_ws(" ", element_at(toks, i), element_at(toks, i + 1),
          element_at(toks, i + 2))))).as("sh"))
      .filter(size(col("sh")) > 0)
    val cont = size(array_intersect(col("a.sh"), col("b.sh"))).cast("double") /
      size(col("a.sh")).cast("double")
    val brute = sh.as("a").crossJoin(sh.as("b"))
      .filter(col("a.doc_id") =!= col("b.doc_id"))
      .select(col("a.doc_id").as("i"), col("b.doc_id").as("j"), cont.as("c"))
      .filter(col("c") >= 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val got = DedupQueries.d19Containment.fn(s, d)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == brute,
      s"missing=${(brute -- got).take(5)} extra=${(got -- brute).take(5)}")
    assert(brute.nonEmpty, "fixture has no containment pairs — test is vacuous")
    // the asymmetry must be exercised: some pair qualifies in one
    // direction only (the doc-inside-doc case Jaccard misses)
    assert(brute.exists { case (i, j, _) => !brute.exists(p => p._1 == j && p._2 == i) },
      "every pair is symmetric — fixture never exercises containment asymmetry")
  }

  test("d19's scale path (bare-id candidates + array join-back) equals the inline path") {
    val inline = DedupQueries.d19Containment.fn(s, d)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    sys.props.put("graft.d19.forceJoinBack", "1")
    try {
      val joinBack = DedupQueries.d19Containment.fn(s, d)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(joinBack == inline)
      assert(inline.nonEmpty)
    } finally sys.props.remove("graft.d19.forceJoinBack")
  }

  test("d19's scale path plans no posting-stream sort-merge join; sig-screen lookups broadcast") {
    // Pins the r12b join discipline: the sf100 wall was sort-merge
    // sorting the ~500M-row container-posting side (434 vs 94 s hashed)
    // and the screen's shuffle-join lookups reshipping the pair stream
    // (159.7 s). A Spark upgrade or config drift that silently reverts
    // either choice fails here, not in a scale campaign.
    //
    // Strengthened per ADVICE r12: at sf0.001 every small side auto-
    // broadcasts, so a bare no-SMJ assert was near-vacuous — AQE would
    // hide a silently-reverted shuffle_hash hint. With BOTH broadcast
    // thresholds disabled in scope, the hint (and the explicit
    // broadcast() on the sig lookups) is the ONLY thing standing
    // between each join and a sort-merge plan, so we can assert the
    // full join inventory positively: at least one SHUFFLED-HASH join
    // (the candidate join's hint held), >=2 broadcast joins (the gated
    // sig lookups held), and any surviving SMJ confined to the
    // survivor-bound (i, j) join-backs — which AQE broadcast-converts
    // in production (survivors measured ~505k rows at sf100) and which
    // only degrade to SMJ here because this scope forbids broadcast.
    sys.props.put("graft.d19.forceJoinBack", "1")
    try SparkTestBase.withSQLConf(
        "spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1") {
      val df = DedupQueries.d19Containment.fn(s, d)
      df.collect() // execute so AQE finalizes every stage's plan
      val nodes = flatten(df.queryExecution.executedPlan)
      val smj = nodes.collect {
        case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j }
      val badSmj = smj.filterNot(j =>
        (j.leftKeys ++ j.rightKeys).flatMap(_.references).map(_.name)
          .toSet.subsetOf(Set("i", "j")))
      assert(badSmj.isEmpty,
        s"sort-merge join leaked onto a posting/candidate stream: " +
          badSmj.map(_.verboseString(1)))
      val shj = nodes.collect {
        case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec => j }
      assert(shj.nonEmpty,
        "candidate join is not shuffled-hash — the shuffle_hash hint drifted " +
          "(at sf100 the un-hinted SMJ sorts the ~500M-row posting side: 434 vs 94 s)")
      val bhj = nodes.collect {
        case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => j }
      assert(bhj.size >= 2,
        s"sig-screen lookups did not broadcast under the gate (got ${bhj.size} BHJ)")
    } finally sys.props.remove("graft.d19.forceJoinBack")
  }

  private def flatten(p: org.apache.spark.sql.execution.SparkPlan) =
    GraftSession.flattenPlan(p)
}
