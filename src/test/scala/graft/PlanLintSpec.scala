package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.joins.CartesianProductExec
import org.apache.spark.sql.execution.window.WindowExec
import org.scalatest.funsuite.AnyFunSuite

/** Catalog-wide plan lint: every query's physical plan is walked for the
  * scale-killer shapes this project keeps designing away —
  *  - a window with an EMPTY partition spec funnels all rows through one
  *    task (the r1 q18 bug class);
  *  - a CartesianProduct (non-broadcast nested loop) is an N*M shuffle
  *    explosion (broadcast NLJ is fine and expected for q13/q14).
  * New catalog entries get linted automatically just by existing. */
class PlanLintSpec extends AnyFunSuite {
  private lazy val s = SparkTestBase.spark
  private val d = SparkTestBase.sfDir

  private def flatten(p: SparkPlan): Seq[SparkPlan] = GraftSession.flattenPlan(p)

  /** Entries allowed an empty-partition window because the windowed
    * input is BOUNDED BY CONSTRUCTION, not data-sized — the lint exists
    * to catch accidental all-rows funnels, not deliberate single-task
    * work on broadcast-sized tables:
    *  - p07_mix_allocation: largest-remainder apportionment ranks the
    *    (lang, source) BUCKET table — |langs|x|sources| rows at any
    *    corpus scale (its scaladoc documents the bound). A global rank
    *    over tens of rows is the intended plan; partitioning it would
    *    fake a distribution the algorithm doesn't have (the remainder
    *    rank is inherently global).
    *  - q74_interval_split: the two cumulative-count windows run over
    *    the DENSE DAY table — bounded by the time domain (~2.4k rows
    *    for this corpus, 37k for a century), never by the data volume;
    *    the counting-vs-reporting rewrite exists precisely so no
    *    data-sized structure is ever windowed or joined pairwise.
    *  - p09_hybrid_retrieval: the two rank row_numbers run over
    *    TakeOrdered top-50 SURVIVOR sets (LIMIT 50 sits under each
    *    window) — ≤50 rows at any corpus scale; the corpus-sized
    *    ranking work is the TakeOrdered itself (per-partition heaps,
    *    no global sort), which is the point of the entry's plan.
    *  - q82_interpolate: the IGNORE-NULLS neighbor windows run over
    *    the dense day spine (q74's time-domain bound) — event rows are
    *    reduced to per-day points BEFORE any window sees them. */
  private val boundedGlobalWindows =
    Set("p07_mix_allocation", "q74_interval_split", "p09_hybrid_retrieval",
      "q82_interpolate",
      // q85's exclusive-prefix window runs over the per-bucket TOTALS
      // relation — #buckets = value-domain / 65536 (price cents → a few
      // hundred rows at any corpus size); the data path is the
      // map-side-combined counts GROUP BY, and the within-bucket rank
      // window IS partitioned. Same bounded-by-domain argument as q74.
      "q85_exact_quantiles", "q89_percentile_cont",
      // p12's windows run on the per-LANGUAGE bucket table — single-digit
      // rows at any corpus size (p07's argument verbatim: the remainder
      // rank of largest-remainder apportionment is inherently global).
      "p12_temperature_mix",
      // p13's running-offset window runs on the 256-row bucket-count
      // relation (m08's distributed-rank machinery) — bounded by the
      // 60-bit key domain's div-2^52 bucketing, never by the corpus.
      "p13_shard_shuffle",
      // t24's exclusive-prefix window runs over the per-SCORE bucket
      // token totals — the score is an integer per-mille, so ≤1001 rows
      // at any corpus size (its scaladoc documents the bound); the
      // corpus-sized pass is the map-side-combined bucket agg, and the
      // within-bucket cumsum windows ARE partitioned (CurationOpsSpec
      // pins that plan).
      "t24_token_budget_select",
      // q101's descending cumulative walk runs over the per-price-band
      // bucket COUNTS — q85's value-domain bound verbatim (price cents
      // div 65536 → ~200 rows at any corpus size); the boundary
      // bucket's selection goes through topRowsRecursive, whose
      // unpartitioned windows are (a) the ≤~8k hash-sample ranks,
      // (b) the ≤65-row walks, and (c) a threshold rank the DRIVER
      // gates at ≤8192 rows (DistributedTopnSpec asserts all of them
      // from runtime window metrics).
      "q101_distributed_topn",
      // q102: same topRowsRecursive bound — every unpartitioned window
      // is sample-bounded (≤~8k) by construction and asserted from the
      // executed plan's metrics in DistributedTopnSpec.
      "q102_sampled_topn")

  test("no catalog query plans a single-partition window or a cartesian product") {
    val violations = SparkEntry.catalog.flatMap { q =>
      val plan = q.fn(s, d).queryExecution.executedPlan
      flatten(plan).collect {
        case w: WindowExec
            if w.partitionSpec.isEmpty && !boundedGlobalWindows(q.name) =>
          s"${q.name}: WindowExec with empty partitionSpec (single-task window)"
        case _: CartesianProductExec =>
          s"${q.name}: CartesianProductExec (non-broadcast cross product)"
      }
    }
    assert(violations.isEmpty, violations.mkString("\n"))
  }

  /** SMJ tripwire for the dedup tier (r13 sweep follow-through): the
    * round-12/13 campaigns kept finding the same disease — a sort-merge
    * join whose sorted input dwarfs its output, where a shuffled-hash
    * join passes the stream through linearly (d19's candidate join: 434
    * vs 94 s at sf100; d03's banded self-join; the CC loops' pointer
    * jumps). Every dedup entry now runs with BOTH broadcast thresholds
    * disabled — so AQE cannot paper over a lost hint at test SF — and
    * any sort-merge join not on the explicit allowlist is a failure.
    * A new entry (or a refactor that drops a hint) gets linted
    * automatically just by existing. */
  private val allowedDedupSmj: Map[String, Set[Set[String]]] = Map(
    // d05/d19: (i, j) survivor join-backs — survivor-bound streams that
    // AQE broadcast-converts in production (ContainmentSpec/DedupSpec
    // force the scale paths and pin their full join inventory; this
    // lint covers the default paths). Their inline candidate joins
    // (ptok / ptok,tok) are the FAT-ROW regime: ord arrays ride the
    // join deliberately (no join-back below the 2M/20k-doc crossovers),
    // and d03's measured A/B (SMJ 9.6 vs SHJ 11.8 s at sf10) showed the
    // hash build loses on rows this wide — SMJ retained by measurement.
    "d05_ngram_jaccard" -> Set(Set("i", "j"), Set("ptok")),
    "d19_containment" -> Set(Set("i", "j"), Set("ptok", "tok")),
    // d03: measured no-action (SCALE.md r13 A/B table) — the banded
    // self-join carries the 32-perm signature payload (~300 B/row) so
    // verification needs no join-back; the fat-row hash build measured
    // 19% slower than the sort it replaces at sf10 AND 1.6x slower at
    // sf100 (121.8 vs 196.3 s cold). -Dgraft.d03.shj re-runs the A/B
    // at any scale without a recompile.
    "d03_minhash_lsh" -> Set(Set("band", "bkey")),
    // d08/d09: the exact-confirm anti-join vs history. Under this
    // lint's broadcast-disabled scope it degrades to SMJ, but the
    // production path bloom-routes the batch down to |hits| and
    // broadcasts it (their scaladocs); the SMJ here is an artifact of
    // the lint config, same class as the (i, j) join-backs above.
    "d08_bloom_incremental" -> Set(Set("h")),
    "d09_sharded_bloom" -> Set(Set("h")),
    // d10: per-round co-partitioned rejoins on the pinned vec_id/cell
    // layout — the r11 re-engineering measured the full entry at
    // 8.8x/decade to sf100; the sorted streams are id-width and linear
    // in |V|. Revisit only if the ladder bends.
    "d10_semantic_dedup" -> Set(Set("vec_id"), Set("cell")),
    // d11: the md5-portable dual is doc_id < 100 bounded by
    // construction — nothing here is corpus-scale.
    "d11_simhash_portable" -> Set(Set("blk", "blkval")),
    // d04: measured no-action like d03 (SMJ 17.7 vs SHJ 19.3 s at sf10,
    // w3) — the self-join's heavily duplicated block keys favor the
    // sort's run-length merge over hash chains.
    "d04_simhash" -> Set(Set("blk", "blkval")))

  test("dedup tier plans no unexpected sort-merge join (broadcast disabled)") {
    SparkTestBase.withSQLConf(
        "spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1") {
      val violations = graft.dedup.DedupQueries.all.flatMap { q =>
        val nodes = SparkTestBase.executedPlans(expectMin = 1) {
          q.fn(s, d).collect()
        }
        nodes.collect {
            case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j }
          .map(j => (j.leftKeys ++ j.rightKeys).flatMap(_.references)
            .map(_.name).toSet)
          // EXACT key-set match (ADVICE r13): the old subset check passed
          // any SMJ whose keys merely CONTAINED an allowed set, so a new
          // corpus-scale SMJ that happened to include allowlisted names
          // (e.g. i,j plus a posting key) would silently pass the lint.
          .filterNot(ks => allowedDedupSmj.getOrElse(q.name, Set.empty)
            .contains(ks))
          .map(ks => s"${q.name}: sort-merge join on keys $ks — hash it " +
            "(hint(\"shuffle_hash\")) or allowlist it with a bounded-sort argument")
      }
      assert(violations.isEmpty, violations.mkString("\n"))
    }
  }

  /** SMJ tripwire for the NON-dedup heavy tier (r13 verdict item 3):
    * p06's fact join — IDENTICAL to p05's hinted one — sat sort-merge
    * for five rounds because only per-entry specs pinned shapes outside
    * the dedup tier. Every entry with an sf10+ scale ladder now gets
    * the same broadcast-disabled SMJ inventory the dedup tier has:
    * with both thresholds off, AQE cannot paper over a lost hint, and
    * any sort-merge join not on the argued allowlist fails. */
  private val heavyTierEntries = Seq(
    "p03_pagerank", "p04_triangles", "p05_bfs_hops", "p06_bfs_recursive_cte",
    "q37_stats_exact", "q51_tpch_composite", "q70_pruning_capstone",
    "q101_distributed_topn", "q102_sampled_topn",
    "t14_lm_score", "t21_quality_rules", "t25_bpe_train", "t26_classifier_eval",
    "i21_spj_join", "i26_sorted_scan_join")

  private val allowedHeavySmj: Map[String, Set[Set[String]]] = Map(
    // i21/i26: the storage-partitioned join IS the entry's point — the
    // DSv2 source reports (bucket, k) partitioning + ordering, so the
    // SMJ consumes the layout with NO exchange and NO sort node doing
    // real work; a hash hint would discard the free order the entries
    // exist to exploit.
    "i21_spj_join" -> Set(Set("bucket", "k")),
    "i26_sorted_scan_join" -> Set(Set("bucket", "k")),
    // p06: the recursion's level join — SMJ retained BY MEASUREMENT
    // (r14 A/B, two runs): SHUFFLE_HASH(reach) measured 88.3/95.0 s w3
    // at sf10 vs 57.1 unhinted, calibrations recorded. The edge-side
    // subtree is identical on every level, so its sorted exchange is
    // computed once and REUSED across all 8 levels; the hash form
    // forfeits that reuse for a per-level rebuild (p06's scaladoc).
    "p06_bfs_recursive_cte" -> Set(Set("src", "v")))

  test("heavy-tier entries plan no unexpected sort-merge join (broadcast disabled)") {
    SparkTestBase.withSQLConf(
        "spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1") {
      val violations = SparkEntry.catalog
        .filter(q => heavyTierEntries.contains(q.name)).flatMap { q =>
        val nodes = SparkTestBase.executedPlans(expectMin = 1) {
          q.fn(s, d).collect()
        }
        nodes.collect {
            case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j }
          .map(j => (j.leftKeys ++ j.rightKeys).flatMap(_.references)
            .map(_.name).toSet)
          .filterNot(ks => allowedHeavySmj.getOrElse(q.name, Set.empty)
            .contains(ks))
          .map(ks => s"${q.name}: sort-merge join on keys $ks — hash it " +
            "(hint(\"shuffle_hash\")) or allowlist it with a bounded-sort argument")
      }
      assert(violations.isEmpty, violations.distinct.mkString("\n"))
    }
  }

  /** Regression tripwires for the two plan properties the scale story
    * leans on hardest: the hot relational path stays inside whole-stage
    * codegen, and selective scans keep their pushed filters. A refactor
    * that silently drops either (a stray UDF, a cast that blocks
    * pushdown) fails here, not in a benchmark three rounds later. */
  test("hot relational queries keep whole-stage codegen and scan pushdown") {
    val hot = Seq("q01_scan_project", "q02_filter_predicates",
      "q03_agg_pricing_summary", "q07_join_broadcast", "q08_join_multiway")
    val noCodegen = hot.filterNot { n =>
      val df = SparkEntry.queries(n)(s, d)
      // collect() finalizes THIS queryExecution's AQE plan (a write would
      // spawn its own); results are a handful of rows at the test SF
      df.collect()
      flatten(df.queryExecution.executedPlan).exists(
        _.isInstanceOf[org.apache.spark.sql.execution.WholeStageCodegenExec])
    }
    assert(noCodegen.isEmpty, s"no WholeStageCodegen span in: $noCodegen")
    val noPushdown = Seq("q01_scan_project", "q02_filter_predicates").filterNot { n =>
      val plan = SparkEntry.queries(n)(s, d).queryExecution.executedPlan.toString
      plan.contains("PushedFilters: [") && !plan.contains("PushedFilters: []")
    }
    assert(noPushdown.isEmpty, s"selective scan lost PushedFilters in: $noPushdown")
  }
}
