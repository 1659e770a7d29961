package graft.tools

import org.apache.spark.sql.functions._
import org.apache.spark.sql.DataFrame

/** Stage-decomposition probes for the investigations an open ROADMAP
  * item still names (not part of the catalog). One probe per run, picked
  * by environment variable:
  *   PROBE_D19V=1        d19 containment pipeline stages (d19 residual)
  *   PROBE_STREAMSTATE=1 max state rows per stateful streaming entry
  *   PROBE_ST23SPLIT=1   st23 cost split and history-tier growth
  *   PROBE_P04=1         p04 per-stage decomposition
  * Usage: PROBE_X=1 SPARK_GRAFT_SF_DIR=<dir> tools/run.sh graft.tools.Probe
  * Probes for closed investigations were deleted; SCALE.md records their
  * numbers and how to recover their code from git history. */
object Probe {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession()
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    def time(tag: String)(f: => DataFrame): Unit = {
      f.queryExecution // warm plan
      val t0 = System.nanoTime()
      f.write.format("noop").mode("overwrite").save()
      println(f"[probe] $tag%-28s ${(System.nanoTime() - t0) / 1e9}%8.3f s")
    }
    if (sys.env.contains("PROBE_D19V")) {
      // d19 VERIFICATION cost decomposition: is the 62 s verify stage
      // bytes-bound (1.6 KB ord arrays through two exchanges per pair),
      // row-bound (7.3M join rows regardless of payload), or CPU-bound
      // (array_intersect's per-pair hash set)? Variants:
      //   arrays-noCPU  — both join-backs ship the arrays, consume is
      //                   size() only (no intersect): isolates shipping.
      //   sig-screen    — join-backs ship 512-bit signatures (64 B)
      //                   instead of arrays; popcount(sigA & ~sigB) is a
      //                   LOWER bound on |A \ B| (every A-set bit absent
      //                   from B's sig is >=1 missing shingle), so
      //                   pruning sz - missLB < ceil(theta*sz) is
      //                   lossless. Reports survivor count + time.
      //   verify-full   — shipped plan's array join-backs + intersect.
      sys.props.put("graft.d19.forceJoinBack", "1")
      val theta = 0.9
      val tk = col("toks")
      val shStr = array_distinct(transform(
        sequence(lit(1), greatest(size(tk) - 2, lit(0))),
        i => concat_ws(" ", element_at(tk, i), element_at(tk, i + 1),
          element_at(tk, i + 2))))
      def timed[T](tag: String)(f: => T): T = {
        val t0 = System.nanoTime()
        val r = f
        println(f"[probe] $tag%-28s ${(System.nanoTime() - t0) / 1e9}%8.3f s")
        r
      }
      // ranked build mirroring the SHIPPED map-only order-key build
      // (unigram-estimate order; see DedupQueries.d19). ORDER env picks
      // the order key for A/B candidate-volume comparisons:
      //   ORDER=hash     pure shingle-hash order
      //   ORDER=unigram  c(w1)+c(w2)+c(w3) (shipped r12 default)
      //   ORDER=bigram   least(c(w1w2), c(w2w3))
      //   ORDER=df       true df join-back (the retired r11 build)
      val order = sys.env.getOrElse("ORDER", "unigram")
      val docsT = graft.Tables.t(spark, d, "documents")
        .select(col("doc_id"), split(col("text"), " ").as("toks"))
      val t = col("toks")
      def w(i: org.apache.spark.sql.Column, off: Int) = element_at(t, i + off)
      def lookupOf(df: org.apache.spark.sql.DataFrame) = {
        val arr = df.collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
        val kBc = spark.sparkContext.broadcast(arr.map(_._1))
        val vBc = spark.sparkContext.broadcast(arr.map(_._2))
        (x: org.apache.spark.sql.Column) =>
          org.apache.spark.sql.GraftPlanShim.column(
            graft.functions.BroadcastSortedLookup(kBc, vBc,
              org.apache.spark.sql.GraftPlanShim.expression(x)))
      }
      val keyedExpr = order match {
        case "hash" =>
          array_distinct(transform(
            sequence(lit(1), greatest(size(t) - 2, lit(0))),
            i => struct(lit(0L).as("e"),
              xxhash64(concat_ws(" ", w(i, 0), w(i, 1), w(i, 2))).as("x"))))
        // order=unigram calls the SHIPPED graft.dedup.DedupQueries
        // .unigramRanked directly (see `ranked` below) so the probe's
        // build stage is the production plan by construction — an
        // earlier probe build recomputed the word-count lookup 3x per
        // shingle (no wcArr alias) and measured 100.9 s at sf10 where
        // the shipped form is ~25 s, billing the discipline bug to the
        // build stage it claimed to mirror.
        case "unigram" => null
        case "bigram" =>
          val bg = timed("bg-build")(lookupOf(
            docsT.select(explode(transform(
              sequence(lit(1), greatest(size(t) - 1, lit(0))),
              i => concat_ws(" ", w(i, 0), w(i, 1)))).as("b"))
              .groupBy("b").agg(count(lit(1)).as("c"))
              .select(xxhash64(col("b")).as("h"), col("c"))))
          array_distinct(transform(
            sequence(lit(1), greatest(size(t) - 2, lit(0))),
            i => struct(
              least(bg(xxhash64(concat_ws(" ", w(i, 0), w(i, 1)))),
                bg(xxhash64(concat_ws(" ", w(i, 1), w(i, 2))))).as("e"),
              xxhash64(concat_ws(" ", w(i, 0), w(i, 1), w(i, 2))).as("x"))))
        case "df" => null
      }
      // MSIG=<words> mirrors the inline mini-sig pre-screen
      // (DedupQueries.d19, r14): W 64-bit words ride the posting rows
      // and prune candidates inside the join condition. MSIG=0 matches
      // the SHIPPED default — the r14 same-session sf100 A/B retired
      // the screen (the +16 B/posting-row exchange tax outweighs the
      // pipelined broadcast probes it saves; SCALE.md r14).
      val msigW = sys.env.get("MSIG").map(_.toInt).getOrElse(0)
      require(msigW == 0 || order == "unigram",
        "MSIG rides the unigramRanked build — set ORDER=unigram")
      val ranked = timed("ranked-build")(
        if (order == "unigram") {
          // Stage.materialize inside is an eager localCheckpoint, so
          // the build executes fully within this timed scope.
          graft.dedup.DedupQueries.unigramRanked(spark, d, "d19v", msigW)
        } else if (order == "df") {
          val sh = docsT
            .select(col("doc_id"), transform(shStr, x => xxhash64(x)).as("s"))
            .filter(size(col("s")) > 0)
          val dfCounts = sh.select(explode(col("s")).as("shingle"))
            .groupBy("shingle").agg(count(lit(1)).as("df"))
          graft.Stage.materialize(spark,
            sh.select(col("doc_id"), explode(col("s")).as("shingle"))
              .join(dfCounts, "shingle")
              .groupBy("doc_id")
              .agg(array_sort(collect_list(struct(col("df"), col("shingle")))).as("o"))
              .select(col("doc_id"),
                transform(col("o"), x => x.getField("shingle")).as("ord"))
              .withColumn("sz", size(col("ord"))),
            "d19vranked")
        } else graft.Stage.materialize(spark,
          docsT.select(col("doc_id"),
            transform(array_sort(keyedExpr), e => e.getField("x")).as("ord"))
            .filter(size(col("ord")) > 0)
            .withColumn("sz", size(col("ord"))),
          "d19vranked"))
      val gCls = floor(log2(col("sz"))).cast("long")
      def msigCols(prefix: String) = (0 until msigW).map(t =>
        col(s"msig$t").as(s"$prefix$t"))
      val missMini: org.apache.spark.sql.Column =
        if (msigW == 0) lit(0)
        else (0 until msigW).map(t =>
          bit_count(col(s"im$t").bitwiseAND(col(s"jm$t").bitwiseXOR(lit(-1L)))))
          .reduce(_ + _)
      val probeLite = ranked.select(
        Seq(col("doc_id"), col("sz"), gCls.as("g")) ++ msigCols("im") ++
          Seq(explode(slice(col("ord"), lit(1),
            (col("sz") - ceil(col("sz") * theta) + 1).cast("int"))).as("ptok")): _*)
      val classes = ranked.select(gCls.as("jg")).distinct()
      val indexLite = ranked.crossJoin(broadcast(classes))
        .withColumn("og", ceil(lit(theta) * pow(lit(2.0), col("jg"))).cast("long"))
        .filter(col("sz") >= col("og"))
        .select(
          Seq(col("doc_id").as("j"), col("sz").as("jsz"), col("jg")) ++
            msigCols("jm") ++
            Seq(posexplode(slice(col("ord"), lit(1),
              (col("sz") - col("og") + 1).cast("int"))).as(Seq("jpos", "tok"))): _*)
      // D19_SHJ=1 hints the candidate join to a shuffled HASH join with
      // the build map on the (30x smaller) probe-prefix side: the clean
      // sf100 split measured the default sort-merge join at 434 s for a
      // LINEARLY-growing 146M-row candidate output — the super-linear
      // term is sorting the ~500M-row container-posting side, not the
      // match volume.
      val probeSide =
        if (sys.env.contains("D19_SHJ")) probeLite.hint("shuffle_hash")
        else probeLite
      val candRaw = probeSide.join(indexLite,
          col("g") === col("jg") && col("ptok") === col("tok") &&
            col("doc_id") =!= col("j") &&
            col("jsz") >= ceil(col("sz") * theta) &&
            col("jsz") - col("jpos") >= ceil(col("sz") * theta) &&
            (col("sz") - missMini >= ceil(col("sz") * theta)))
        .select(col("doc_id").as("i"), col("j"))
      timed("cand-raw-count")(
        println(s"[probe] cand-raw = " + candRaw.count()))
      val candDedup = timed("cand-dedup-materialize")(
        graft.Stage.materialize(spark,
          candRaw.dropDuplicates("i", "j"), "d19vcand"))
      println(s"[probe] cand-pairs = ${candDedup.count()}")
      // D19_STOP=cand ends the probe here — the tail stages measure
      // verification counterfactuals and double the sf100 wall.
      if (sys.env.get("D19_STOP").contains("cand")) {
        sys.props.remove("graft.d19.forceJoinBack")
        spark.stop(); sys.exit(0)
      }
      val docsSide = ranked.select(col("doc_id"), col("ord"), col("sz"))
      def withBoth = candDedup
        .join(docsSide.select(col("doc_id").as("i"),
          col("ord").as("ord"), col("sz").as("sz")), "i")
        .join(docsSide.select(col("doc_id").as("j"), col("ord").as("jord")), "j")
      val sigs = {
        val aggs = Seq(count(lit(1)).as("sz")) ++ (0 until 8).map(k =>
          coalesce(bit_or(when((col("slot") / 64).cast("int") === k,
            expr("shiftleft(1L, cast(slot % 64 as int))"))),
            lit(0L)).as(s"sig$k"))
        graft.Stage.materialize(spark,
          ranked.select(col("doc_id"), explode(col("ord")).as("shingle"))
            .withColumn("slot", pmod(col("shingle"), lit(512L)))
            .groupBy("doc_id")
            .agg(aggs.head, aggs.tail: _*)
            .select(col("doc_id"), col("sz"),
              array((0 until 8).map(k => col(s"sig$k")): _*).as("sig")),
          "d19vsigs")
      }
      val missLB = aggregate(
        zip_with(col("isig"), col("jsig"),
          (a, b) => bit_count(a.bitwiseAND(b.bitwiseXOR(lit(-1L))))),
        lit(0), (acc, x) => acc + x)
      // NOTE: this is the SHUFFLE-JOIN screen shape, kept as the
      // counterfactual — it measured 159.7 s at sf100 (the pair stream
      // reships with sig payloads), which is why the SHIPPED entries
      // now broadcast the sig lookups under an 8M-doc budget.
      val screened = candDedup
        .join(sigs.select(col("doc_id").as("i"), col("sz"),
          col("sig").as("isig")), "i")
        .join(sigs.select(col("doc_id").as("j"), col("sig").as("jsig")), "j")
        .filter(col("sz") - missLB >= ceil(col("sz") * theta))
        .select(col("i"), col("j"), col("sz"))
      time("sig-screen")(screened)
      println(s"[probe] screen-survivors = ${screened.count()}")
      // The unscreened array join-back is measured DEAD at sf100 (it
      // exhausted the box's disk mid-shuffle on 141.7M pairs x ~3.2 KB
      // of ord arrays), so it only runs under D19_FAT=1, and only AFTER
      // the screen stages above have reported — a D19_FAT disk-death
      // must not take the screen measurements down with it (ADVICE r12:
      // this block used to run first, contradicting its own comment).
      if (sys.env.contains("D19_FAT"))
        time("arrays-noCPU")(withBoth
          .select(col("i"), col("j"),
            (size(col("ord")) + size(col("jord"))).as("w"))
          .filter(col("w") >= 0))
      val containment = size(array_intersect(col("ord"), col("jord")))
        .cast("double") / col("sz").cast("double")
      if (sys.env.contains("D19_FAT"))
        time("verify-full")(withBoth
          .select(col("i"), col("j"), containment.as("containment"))
          .filter(col("containment") >= theta))
      sys.props.remove("graft.d19.forceJoinBack")
      spark.stop(); sys.exit(0)
    }
    if (sys.env.contains("PROBE_STREAMSTATE")) {
      // Stateful-tier state-store ladder: replay the sf dir's events
      // through the stateful entries and record per-batch state rows
      // from StreamingQueryProgress — the number that must stay bounded
      // by DESIGN (O(distinct bands), O(keys-in-window)) while input
      // scales 100x. numRowsTotal comes from the state operators
      // themselves (RocksDB/HDFS provider metrics, the ones
      // RocksdbStateSpec asserts exist).
      val rec = new scala.collection.mutable.ArrayBuffer[(Long, Long, Long)]()
      val listener = new org.apache.spark.sql.streaming.StreamingQueryListener {
        import org.apache.spark.sql.streaming.StreamingQueryListener._
        override def onQueryStarted(e: QueryStartedEvent): Unit = ()
        override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
        override def onQueryProgress(e: QueryProgressEvent): Unit = {
          val p = e.progress
          rec.synchronized {
            rec += ((p.batchId, p.numInputRows,
              p.stateOperators.map(_.numRowsTotal).sum))
          }
        }
      }
      spark.streams.addListener(listener)
      // STREAMSTATE_ROCKSDB=1: run the ladder under the RocksDB provider
      // (the 100 TB deployment provider) instead of the default HDFS-
      // backed store — the r13 verdict's st23 item asks for the state
      // bound at the 10M+ event decade under RocksDB specifically.
      if (sys.env.contains("STREAMSTATE_ROCKSDB"))
        spark.conf.set("spark.sql.streaming.stateStore.providerClass",
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      // STREAMSTATE_ONLY=a,b,c: narrow to named entries (the sf100 rung
      // only needs st21/st23 — the session-window entries are a
      // different ladder).
      val names0 = Seq("st21_stream_neardup", "st16_timer_session_expiry",
        "st17_chained_windows", "st18_state_reader",
        // st23 next to st21: same corpus, same band machinery — the delta
        // in maxStateRows IS the retention design's bound (st21 holds
        // every band ever seen; st23 holds the retention working set)
        "st23_bounded_state_neardup")
      val names = sys.env.get("STREAMSTATE_ONLY")
        .map(f => names0.filter(f.split(",").toSet)).getOrElse(names0)
      for (name <- names) {
        rec.synchronized(rec.clear())
        val q = graft.SparkEntry.catalog.find(_.name == name).get
        val t0 = System.nanoTime()
        q.fn(spark, d).write.format("noop").mode("overwrite").save()
        graft.Stage.release()
        val wall = (System.nanoTime() - t0) / 1e9
        Thread.sleep(2000) // listener bus is async; let it drain
        val (batches, input, maxState) = rec.synchronized {
          (rec.size, rec.map(_._2).sum,
            if (rec.isEmpty) 0L else rec.map(_._3).max)
        }
        println(f"[probe] $name%-28s batches=$batches%-4d input=$input%-10d " +
          f"maxStateRows=$maxState%-9d wall=$wall%8.3f s")
      }
      // Static ever-seen-bands counterpoint for the near-dup entries:
      // st21's state converges to exactly this number (set-once per
      // band), so at the big rungs the st23-vs-ever-seen ratio does not
      // need a second multi-minute streaming replay to be measured.
      if (names.exists(n => n.startsWith("st21") || n.startsWith("st23"))) {
        val bands = graft.streaming.StreamingQueries.bandize(
          graft.Tables.t(spark, d, "documents").select("doc_id", "text"))
          .agg(count_distinct(col("band"))).collect()(0).getLong(0)
        println(f"[probe] static distinct bands (ever-seen bound) = $bands")
      }
      spark.streams.removeListener(listener)
      spark.stop(); sys.exit(0)
    }
    if (sys.env.contains("PROBE_ST23SPLIT")) {
      // st23 cost split + history-growth (r14 verdict items 2/5): the
      // board's slowest bench entry, decomposed via boundedStateNearDup's
      // probe modes. Ladder passthrough < bands < nohist < full splits
      // the wall into fixed micro-batch overhead / band derivation /
      // state ops / per-batch history read+join. Then ST23_HIST=n1,n2,..
      // (default 1000000,10000000) seeds the history tier with synthetic
      // never-matching bands and re-times full — the growth of the
      // per-batch history join as history scales 10x (the d08
      // bloom-routing argument, measured instead of cited). Protocol:
      // warmup + min-of-3 with sync quiesce per timed pass (w3).
      def quiesce(): Unit = {
        try new ProcessBuilder("sync").start().waitFor()
        catch { case scala.util.control.NonFatal(_) => () }
        System.gc(); Thread.sleep(500)
      }
      def once(mode: String, seed: Option[DataFrame]): Double = {
        val t0 = System.nanoTime()
        graft.streaming.StreamingQueries.boundedStateNearDup(spark, d, mode, seed)
          .write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      def w3(tag: String, mode: String, seed: Option[DataFrame]): Double = {
        once(mode, seed) // warmup
        val ts = (1 to 3).map { _ => quiesce(); once(mode, seed) }
        println(f"[probe] st23:$tag%-22s ${ts.min}%8.3f s (passes ${
          ts.map(t => f"$t%.2f").mkString("/")})")
        ts.min
      }
      val pass = w3("passthrough", "passthrough", None)
      val bands = w3("bands", "bands", None)
      val nohist = w3("nohist", "nohist", None)
      val full = w3("full", "full", None)
      println(f"[probe] st23 split: fixed=$pass%.2f bandDerive=${bands - pass}%.2f " +
        f"stateOps=${nohist - bands}%.2f histJoin=${full - nohist}%.2f s")
      val seeds = sys.env.getOrElse("ST23_HIST", "1000000,10000000")
        .split(",").map(_.trim.toLong)
      for (n <- seeds) {
        val seed = spark.range(n).select(concat(lit("h:"), col("id")).as("band"))
        w3(s"full+hist$n", "full", Some(seed))
      }
      spark.stop(); sys.exit(0)
    }
    if (sys.env.contains("PROBE_P04")) {
      // p04 per-stage decomposition (r13 verdict item 2 — attribute the
      // sf100 wall stage-by-stage): pairs build / orient / raw wedge
      // volume / distinct-(v,w) wedge endpoints / closure under the
      // shipped wedge-agg shape. P04_RAW=1 additionally times the
      // pre-r14 raw-stream closure (the spill-regime counterfactual —
      // at sf100 that is the 1.4B-row shuffle; run it LAST so a spill
      // death cannot take the other stages down).
      val s = spark
      def t[T](tag: String)(f: => T): T = {
        val t0 = System.nanoTime()
        val r = f
        println(f"[probe] $tag%-26s ${(System.nanoTime() - t0) / 1e9}%8.3f s")
        r
      }
      val li = graft.Tables.t(s, d, "lineitem")
      // mirrors PipelineQueries.graphWidth (floor 8 since r16)
      val width = math.min(512L,
        math.max(8L, 2L * li.count() / 1000000L)).toInt
      println(s"[probe] width = $width")
      graft.Widths.withWidth(s, width) {
        val l = li
          .filter(col("l_shipdate") >= lit(java.sql.Timestamp.valueOf("1995-01-01 00:00:00"))
            && col("l_shipdate") < lit(java.sql.Timestamp.valueOf("1998-01-01 00:00:00")))
          .select("l_orderkey", "l_partkey")
        val perOrder = l.groupBy("l_orderkey")
          .agg(sort_array(collect_set(col("l_partkey"))).as("ps"))
          .filter(size(col("ps")) >= 2)
        val pairCol = flatten(transform(col("ps"), (x, i) =>
          transform(slice(col("ps"), i + 2, size(col("ps"))), y => struct(x.as("a"), y.as("b")))))
        val undirected = perOrder
          .select(explode(pairCol).as("p"))
          .select(col("p.a").as("a"), col("p.b").as("b"))
          .distinct()
        val edgesU = t("pairs-build")(graft.Stage.materialize(s,
          if (width > s.sparkContext.defaultParallelism) undirected
          else undirected.coalesce(8), "pp04pairs"))
        println(s"[probe] edges = ${edgesU.count()}")
        val deg = edgesU.select(col("a").as("v")).unionAll(edgesU.select(col("b").as("v")))
          .groupBy("v").agg(count(lit(1)).as("deg"))
        val withDeg = edgesU
          .join(broadcast(deg).withColumnRenamed("v", "a").withColumnRenamed("deg", "da"), "a")
          .join(broadcast(deg).withColumnRenamed("v", "b").withColumnRenamed("deg", "db"), "b")
        val aFirst = col("da") < col("db") || (col("da") === col("db") && col("a") < col("b"))
        val oriented = t("orient")(graft.Stage.materialize(s,
          withDeg.select(
            when(aFirst, col("a")).otherwise(col("b")).as("u"),
            when(aFirst, col("b")).otherwise(col("a")).as("v"),
            when(aFirst, col("db")).otherwise(col("da")).as("dv")),
          "pp04oriented"))
        val e1 = oriented.select(col("u"), col("v"), col("dv"))
        val e2 = oriented.select(col("u"), col("v").as("w"), col("dv").as("dw"))
        val wedgesRaw = e1.join(e2.hint("shuffle_hash"), Seq("u"))
          .filter(col("dv") < col("dw") || (col("dv") === col("dw") && col("v") < col("w")))
          .select("v", "w")
        t("wedge-raw-count")(
          println(s"[probe] wedges-raw = ${wedgesRaw.count()}"))
        // the SHIPPED closure (r14): wedges ship as one packed long
        val pkc = (c1: org.apache.spark.sql.Column, c2: org.apache.spark.sql.Column) =>
          shiftleft(c1, 32).bitwiseOR(c2)
        t("closure-packed")(
          println(s"[probe] triangles = " + wedgesRaw
            .select(pkc(col("v"), col("w")).as("pk"))
            .join(oriented.select(pkc(col("u"), col("v")).as("pk"))
              .hint("shuffle_hash"), Seq("pk")).count()))
        if (sys.env.contains("P04_AGG")) {
          val wagg = wedgesRaw.groupBy("v", "w").agg(count(lit(1)).as("n"))
          t("wedge-distinct-count")(
            println(s"[probe] wedges-distinct = ${wagg.count()}"))
          t("closure-agg")(
            println(s"[probe] triangles-agg = " + wagg.join(
              oriented.select(col("u").as("v"), col("v").as("w")).hint("shuffle_hash"),
              Seq("v", "w")).agg(coalesce(sum(col("n")), lit(0L))).collect()(0).getLong(0)))
        }
        if (sys.env.contains("P04_RAW"))
          t("closure-raw")(
            println(s"[probe] triangles-raw = " + wedgesRaw.join(
              oriented.select(col("u").as("v"), col("v").as("w"))
                .hint("shuffle_hash"), Seq("v", "w")).count()))
      }
      graft.Stage.release()
      spark.stop(); sys.exit(0)
    }
    spark.stop()
  }
}
