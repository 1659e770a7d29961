package graft

/** Benchmark main. Prints ONE JSON line for the driver.
  *
  * Measurement contract (VERDICT r1 "What's wrong" #2/#3):
  *  - a full warmup pass first, so JVM/codegen warmup is not misattributed
  *    to whichever query happens to run first;
  *  - deterministic `catalog` order (not Map iteration order);
  *  - result production forced with a noop-format write, not `.count()` —
  *    count() lets Catalyst prune every projection and drop sorts, which
  *    flatters the engine; the noop sink materializes every output row.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession()
    // NonFatal only (ADVICE r2): an OOM must crash the harness, not show up
    // as a silent -1 among ordinary numbers. Failures are named on stderr.
    def runOnce(q: Q): Double = {
      val t0 = System.nanoTime()
      try runReleasing(q)
      catch {
        case scala.util.control.NonFatal(e) =>
          System.err.println(s"[bench] ${q.name} failed: ${e.getClass.getName}: ${e.getMessage}")
          return -1.0
      }
      (System.nanoTime() - t0) / 1e9
    }
    // Checkpoint blocks released OUTSIDE the timed region would hide the
    // cost a real pipeline pays; released inside, every query is charged
    // its own cleanup and the block manager stays flat across passes
    // (graft.Stage.release scaladoc; timing impact measured within run
    // variance either way — this is bounded-memory hygiene, not a
    // speedup).
    def runReleasing(q: Q): Unit =
      try q.fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      finally Stage.release()
    // Optional args narrow the run to named queries (dev aid; the driver
    // passes none and measures the full catalog).
    val catalog = if (args.isEmpty) SparkEntry.catalog
      else SparkEntry.catalog.filter(q => args.contains(q.name))
    // SPARK_GRAFT_BENCH_PASSES=1 -> no warmup, one measured pass: for
    // entries whose wall at large SFs (minutes) dwarfs JIT/codegen noise,
    // where 3 passes would triple an hour-long scale run for no
    // information. Default (unset/2) keeps the warmup + min-of-2
    // protocol below.
    // "1" = one cold pass (multi-minute scale entries where JIT noise is
    // negligible); "w1" = warmup + one measured pass (isolated per-entry
    // scale runs: repeatable like the default protocol at 2/3 the wall);
    // unset/other = warmup + min-of-2 (the driver's protocol).
    val mode = sys.env.getOrElse("SPARK_GRAFT_BENCH_PASSES", "2")
    // Entries whose measured wall depends on machine state more than on
    // code: multi-GB temp staging (i21/i26), corpus-sized pins (graph
    // kernels, d18), or the largest shuffles in the catalog.
    val heavyTier = Set(
      "i21_spj_join", "i26_sorted_scan_join", "q37_stats_exact",
      "q70_pruning_capstone", "d05_ngram_jaccard", "d10_semantic_dedup",
      "d16_line_dedup", "d18_incremental_cc", "d19_containment",
      "t14_lm_score", "st21_stream_neardup", "p03_pagerank",
      "p04_triangles", "p05_bfs_hops", "p06_bfs_recursive_cte")
    // Flush dirty pages + reclaim driver garbage between measured passes;
    // the cost lands OUTSIDE every timed region by construction.
    def syncQuiesce(): Unit = {
      try new ProcessBuilder("sync").start().waitFor()
      catch { case scala.util.control.NonFatal(_) => () }
      System.gc(); Thread.sleep(500)
    }
    // Box-speed calibration (VERDICT r12 item 5): cross-round bench totals
    // had become drift-dominated (same-code walls spanning 14% on one day;
    // the r11 binary re-measuring 1.3-1.4x slower a round later), and the
    // drift correction was narrated, not recorded. These two pinned
    // workloads are FROZEN — pure Spark built-ins over spark.range, no
    // graft code, no input files — so their walls move only with the box
    // (CPU contention, scheduler, JVM), never with engine changes. A
    // round-over-round comparison divides by them: cpu_sec calibrates the
    // codegen/compute axis (hash-reduce 4B longs), shuffle_sec the
    // exchange axis (50M rows into 1M groups). Protocol: one warmup +
    // min-of-2 each, syncQuiesce before every timed pass, measured BEFORE
    // the catalog so no entry's garbage lands in the calibration.
    def calibrate(): (Double, Double) = {
      import org.apache.spark.sql.functions._
      def run(df: => org.apache.spark.sql.DataFrame): Double = {
        val t0 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      // bit_xor, not sum: summing the hashes overflows long under ANSI.
      // 4B rows so the wall (~0.7 s quiet-box at 32 threads; ~2 s loaded)
      // sits well above timer/scheduler noise — a 0.2 s workload would
      // drift +-20% on its own. (ADVICE r13: the old comment said 1B.)
      def cpu() = run(spark.range(4000000000L).agg(bit_xor(xxhash64(col("id")))))
      def shuffle() = run(spark.range(50000000L)
        .groupBy(pmod(col("id"), lit(1000000L)).as("k")).count()
        .agg(sum(col("count"))))
      cpu(); shuffle() // warmup (JIT + codegen for the calibration plans)
      syncQuiesce(); val c1 = cpu(); val s1 = shuffle()
      syncQuiesce(); val c2 = cpu(); val s2 = shuffle()
      (math.min(c1, c2), math.min(s1, s2))
    }
    // Calibration runs BEFORE the catalog so no entry's garbage lands in
    // the calibration — EXCEPT in cold1 mode, where its warmup passes
    // would JIT-warm Spark's range/hash-agg/exchange paths and silently
    // change what "cold" means vs prior rounds' genuinely-cold artifacts
    // (ADVICE r13). In mode "1" it runs AFTER the catalog: the entry
    // stays cold and the box-speed axes are still recorded.
    val preCal = if (mode == "1") None else Some(calibrate())
    val results = if (mode == "1") {
      catalog.map(q => q.name -> runOnce(q))
    } else if (mode == "w1") {
      catalog.foreach(runOnce)
      // measure steady-state, not the warmup pass's pending garbage
      System.gc(); Thread.sleep(2000)
      catalog.map(q => q.name -> runOnce(q))
    } else if (mode == "w3") {
      // WARM min-of-3 (VERDICT r12 item 3): the sf100 ladder protocol was
      // warm1-at-sf10 / cold1-at-sf100, so every "x/decade" on the last
      // decade carried a ~1.2-1.5x cold-page penalty and the true warm
      // exponent was inferred, not measured. One warmup pass (pages + JIT)
      // then three measured passes with a sync quiesce before each, min —
      // the warm analog of the heavy tier's min-of-3.
      catalog.foreach(runOnce)
      catalog.map { q =>
        val ts = (1 to 3).map { _ => syncQuiesce(); runOnce(q) }
        q.name -> (if (ts.forall(_ < 0)) -1.0 else ts.filter(_ >= 0).min)
      }
    } else {
      catalog.foreach(runOnce) // warmup pass (JIT + codegen cache)
      // Two measured passes, min per query: single-pass numbers on a busy
      // 32-thread box swing +-50% on the shuffle-heavy entries (observed
      // d05 5.5-14.5 s across runs of identical code); min-of-2 reports
      // the repeatable cost, not the scheduler's mood. Passes are
      // separated by a filesystem sync + GC so one pass's pending
      // writeback/garbage is not billed to the next (the r10 same-day
      // spread, 176.7-205.1 s on identical code, was exactly this
      // measurement state).
      syncQuiesce()
      val p1 = catalog.map(q => q.name -> runOnce(q)).toMap
      syncQuiesce()
      val base = catalog.map { q =>
        val t2 = runOnce(q)
        val t1 = p1(q.name)
        q.name -> (if (t1 < 0 || t2 < 0) math.max(t1, t2) else math.min(t1, t2))
      }
      // The declared HEAVY tier (entries that stage multi-GB temp files
      // or pin corpus-sized state — the ones the scale campaigns measured
      // swinging several-x on kernel dirty-page state, e.g. i26 13-66 s)
      // gets a third measured pass with a sync IMMEDIATELY before each
      // timing, so its reported number is min-of-3 with at least one
      // clean-page measurement — the SCALE.md min-of-3 protocol, moved
      // into the headline bench.
      val p3 = catalog.filter(q => heavyTier(q.name)).map { q =>
        syncQuiesce(); q.name -> runOnce(q)
      }.toMap
      base.map { case (name, t) =>
        val t3 = p3.getOrElse(name, -1.0)
        name -> (if (t3 < 0) t else if (t < 0) t3 else math.min(t, t3))
      }
    }
    val (calCpu, calShuffle) = preCal.getOrElse(calibrate())
    val qs = results.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum
    // Per-entry measurement protocol, so numbers in this file are
    // comparable to each other and across rounds (ADVICE r11: the
    // heavy tier's min-of-3 + pre-timing quiesce was silent): default
    // protocol + the entries measured differently.
    val protocolDefault = mode match {
      case "1" => "cold1"
      case "w1" => "warm1"
      case "w3" => "warm-min3-sync"
      case _ => "min2-sync"
    }
    val protocolOverrides =
      if (mode == "1" || mode == "w1" || mode == "w3") Nil
      else catalog.map(_.name).filter(heavyTier).map(n => s""""$n":"min3-sync"""")
    val protocol =
      s""""protocol_default":"$protocolDefault","protocol_overrides":${
        protocolOverrides.mkString("{", ",", "}")}"""
    // Calibration placement is part of the measurement (ADVICE r14): in
    // cold1 mode the calibration runs AFTER the catalog on a
    // garbage-laden JVM, so its cpu/shuffle values are NOT comparable to
    // the pre-catalog calibrations of the other modes — record where it
    // ran so cross-round drift normalization can account for it.
    val calPlacement = if (preCal.isDefined) "pre-catalog" else "post-catalog"
    val calibration =
      f""""calibration":{"cpu_sec":$calCpu%.3f,"shuffle_sec":$calShuffle%.3f,"placement":"$calPlacement"}"""
    val line = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,$protocol,$calibration,"sf":"$sfDir"}"""
    println(line)
    // The driver captures stdout with a bounded tail, and a 170-entry
    // queries map overflows it — two rounds running, BENCH_r*.json lost
    // the headline total to truncation (VERDICT r7 #7). Persist the
    // same line to a file so the number survives regardless of how the
    // harness buffers stdout.
    val out = java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "target/bench.json"))
    if (out.getParent != null) java.nio.file.Files.createDirectories(out.getParent)
    java.nio.file.Files.write(out, line.getBytes("UTF-8"))
    // The driver's r9 artifact shows the stdout tail it keeps is 2000
    // chars — a 200-entry queries map can never fit, so its JSON parse of
    // the tail fails every round even with the full line printed. Emit a
    // LAST line that fits that window: same total, the ~20 heavy-tier
    // queries inline, and a pointer to the full per-query map on disk.
    val headline = Seq(
      "q37_stats_exact", "q43_sessionize", "q51_tpch_composite", "q63_funnel",
      "q66_eager_agg", "q70_pruning_capstone", "q71_eager_decimal",
      "q93_rolling_distinct", "q99_license_capstone",
      "d05_ngram_jaccard", "d07_cc_clusters", "d10_semantic_dedup",
      "d16_line_dedup", "d18_incremental_cc", "d19_containment",
      "v07_ann_partition_pruned", "v11_ivf_portable",
      "v20_ivf_pq", "v23_filtered_ann_slim", "t14_lm_score",
      "t15_bm25", "t24_token_budget_select", "t25_bpe_train",
      "t26_classifier_eval",
      "st07_stream_stream_join", "st14_stream_left_outer_join",
      "p03_pagerank", "p04_triangles", "p05_bfs_hops", "p08_sequence_pack")
    val rmap = results.toMap
    val compactQs = headline.flatMap(n => rmap.get(n).map(v => f""""$n":$v%.3f"""))
      .mkString("{", ",", "}")
    println(s"""{"metric":"total","value":$total,"unit":"sec","queries":$compactQs,"queries_full":"${out.toString}","n_queries":${results.size},$calibration,"sf":"$sfDir"}""")
    spark.stop()
  }
}
