package graft.pipeline

import graft.{Q, Tables, Widths}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Capstone: the LLM training-data pipeline composed end-to-end from the
  * catalog's building blocks — quality filtering (TextQueries' t04
  * criteria), exact dedup with deterministic representative (DedupQueries'
  * d01), and an embedding-coverage join — in ONE declarative plan that
  * Catalyst optimizes as a whole (filters push to the scans, the dedup
  * agg and the join pipeline into each other; no materialization
  * boundaries needed because nothing here is self-joined).
  */
object PipelineQueries {

  /** Partition width for the lineitem-derived graph kernels: scale with
    * the DATA (|E| <= 2x lineitem rows, ~1M edge rows per task), floored
    * at the core count and capped sanely. The parquet-metadata count
    * avoids executing any edge lineage; production sizes from table
    * stats the same way. A fixed core-count width puts 100x the rows in
    * each setup task at 100x data — measured as the dominant super-
    * linear term in all three kernels at sf10. */
  /** Data-scaled shuffle width for the graph kernels: ~0.5M input rows
    * per partition, clamped to [8, 512]. The floor is 8, NOT the core
    * count (r16): per-round fixed costs (task waves, checkpoint blocks,
    * exchange setup) scale with the width, and when the data term is
    * below the core count the extra partitions are pure overhead — the
    * driver's own 8-cpu bench ran p03 2.0x and p04/p05 1.7x FASTER than
    * the 32-cpu run at sf0.1 on identical data (PERF_r15), the same
    * sub-16MB-per-partition regime where withCappedStateWidth and
    * ccLoop already floor at 8. Above ~sf2.5 the data term exceeds any
    * local core count and nothing changes (sf10 = 120, sf100 = 512 —
    * every recorded ladder regime keeps its width). Unmeasured: the
    * ≈sf0.5–2.5 mid-band on many-core hosts, where the width (8 up to
    * ~30) sits below the core count; no recorded A/B covers it, and a
    * 4-core host cannot measure it. */
  private def graphWidth(s: SparkSession, d: String): Int =
    math.min(512L,
      math.max(8L,
        2L * Tables.t(s, d, "lineitem").count() / 1000000L)).toInt

  val p01TrainingPipeline: Q = Q(
    "p01_training_pipeline",
    """WITH scored AS (
      |  SELECT doc_id, lang, text,
      |    len(string_split(text, ' ')) AS n_tokens,
      |    len(list_distinct(string_split(text, ' '))) / len(string_split(text, ' ')) AS ttr
      |  FROM documents),
      |kept AS (
      |  SELECT * FROM scored
      |  WHERE n_tokens BETWEEN 10 AND 1000 AND ttr > 0.2),
      |deduped AS (
      |  SELECT MIN(doc_id) AS doc_id, MIN(lang) AS lang FROM kept GROUP BY text)
      |SELECT d.lang, COUNT(*) AS n_docs,
      |  COUNT(e.vec_id) AS n_with_embedding
      |FROM deduped d LEFT JOIN embeddings e ON d.doc_id = e.vec_id
      |GROUP BY d.lang ORDER BY d.lang""".stripMargin) { (s, d) =>
    val toks = split(col("text"), " ")
    val nTok = size(toks).cast("long")
    val ttr = size(array_distinct(toks)).cast("long") / nTok
    val kept = Tables.t(s, d, "documents")
      .select(col("doc_id"), col("lang"), col("text"), nTok.as("n_tokens"), ttr.as("ttr"))
      .filter(col("n_tokens").between(10, 1000) && col("ttr") > 0.2)
    val deduped = kept
      .groupBy("text")
      .agg(min(col("doc_id")).as("doc_id"), min(col("lang")).as("lang"))
    deduped
      .join(Tables.t(s, d, "embeddings").select(col("vec_id")),
        col("doc_id") === col("vec_id"), "left")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), count(col("vec_id")).as("n_with_embedding"))
      .orderBy("lang")
  }

  /** Round-5 capstone: the CURATION pipeline — near-dup fingerprint
    * dedup (d08's canonicalization key), per-source quality ranking
    * keeping only the top 5 (q20/q46's top-k shape), and a final
    * per-lang yield report — again ONE declarative plan. The
    * fingerprint dedup groups on a short prefix key (not full text) and
    * the per-source rank shuffles only survivors: at 100 TB the plan is
    * two key-shuffles over ids+keys, with the heavy text column pruned
    * away right after scoring (ReadSchema keeps it out of every
    * shuffle). */
  val p02CurationPipeline: Q = Q(
    "p02_curation_pipeline",
    """WITH scored AS (
      |  SELECT doc_id, lang, source,
      |    len(string_split(text, ' ')) AS n_tokens,
      |    array_to_string(string_split(text, ' ')[1:3], ' ') AS fp
      |  FROM documents),
      |kept AS (SELECT * FROM scored WHERE n_tokens >= 10),
      |canon AS (
      |  SELECT fp, MIN(doc_id) AS doc_id FROM kept GROUP BY fp),
      |survivors AS (
      |  SELECT k.* FROM kept k JOIN canon c ON k.doc_id = c.doc_id),
      |ranked AS (
      |  SELECT *, row_number() OVER (PARTITION BY source
      |                               ORDER BY n_tokens DESC, doc_id) AS rn
      |  FROM survivors)
      |SELECT lang, COUNT(*) AS n_kept, CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
      |FROM ranked WHERE rn <= 5
      |GROUP BY lang ORDER BY lang""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val toks = split(col("text"), " ")
    val scored = Tables.t(s, d, "documents")
      .select(col("doc_id"), col("lang"), col("source"),
        size(toks).cast("long").as("n_tokens"),
        concat_ws(" ", slice(toks, 1, 3)).as("fp"))
    val kept = scored.filter(col("n_tokens") >= 10)
    val canon = kept.groupBy("fp").agg(min(col("doc_id")).as("doc_id"))
      .select("doc_id")
    val survivors = kept.join(canon, "doc_id")
    val w = Window.partitionBy("source").orderBy(col("n_tokens").desc, col("doc_id"))
    survivors
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_kept"), sum(col("n_tokens")).as("total_tokens"))
      .orderBy("lang")
  }

  /** Fixed-iteration PageRank over the customer–supplier purchase graph
    * — the iterative-convergence sibling of d07's label propagation
    * (that one proves reachability; this one proves NUMERIC iteration
    * is doable exactly). Edges are the distinct (customer, supplier)
    * pairs from lineitem⋈orders, made bidirectional so the bipartite
    * walk mixes; vertex ids disambiguate the two key spaces (2k / 2k+1).
    * Three damped rounds r' = 0.15 + 0.85·Σ r(u)/deg(u), each one
    * edges⋈ranks shuffle + one Det-decimal aggregation — the decimal
    * accumulate does double duty here: order-independent under Spark's
    * parallel partial sums AND bit-identical to DuckDB's unrolled-CTE
    * oracle, so an ITERATIVE double-valued fixpoint computation
    * hash-checks exactly (each round's 8-decimal rounding is part of
    * the algorithm, applied identically by both engines).
    * Scale shape — the BEYOND-BROADCAST form (VERDICT r7 #2): the
    * (src, dst, deg) edge table hash-partitions on src ONCE and NEVER
    * MOVES again; each round's contribution join streams the pinned
    * edges against the rank table co-partitioned on the same key, so
    * the only per-round exchange is the O(vertices) rank delta — first
    * into the join (round k's ranks arrive partitioned by hash(v) from
    * round k-1's aggregation exchange, so even that is usually free)
    * and then out of the partial-aggregated groupBy(dst). NOTHING here
    * is broadcast (PageRankSpec asserts zero BroadcastExchange across
    * every round execution): a billion-vertex rank vector that could
    * never fit a broadcast budget flows through the same plan, the
    * exact graduation d08→d09 made for the bloom filters. The earlier
    * broadcast-rank form was ~equal at bench SF (ranks fit trivially);
    * this shape is what survives when they don't. Ranks rematerialize
    * per round via a partitioning-PRESERVING checkpoint (lineage cut,
    * d07's reliable-storage tradeoff note applies); rounds are fixed,
    * so plan depth is bounded — converge-to-epsilon runs the same loop
    * with a driver-side residual check (d07's convergence pattern). */
  val p03Pagerank: Q = {
    // FIXED-POINT iteration (round 9): ranks live as exact scale-8
    // unscaled longs (R = r * 1e8), and each round's damped update is
    // pure integer arithmetic — the per-edge contribution
    // round_half_up(0.85 * R / deg) is (34*R + 20*deg) div (40*deg)
    // (floor((17R)/(20deg) + 1/2) over positive ints), summed as plain
    // longs. Earlier rounds of this catalog rounded DOUBLE rank sums to
    // decimal(28,8) per iteration; that contract is untenable at scale:
    // a full-entropy double lands within a half-ulp of a 0.5e-8
    // rounding boundary about once per ~1e8 roundings, engines round
    // such a value each by its own mechanism (shortest-string vs
    // multiply-round vs exact-binary — all three observed to disagree
    // in that window), and ONE flipped rounding cascades through every
    // later iteration's sums (measured as a real sf1 divergence when
    // the rounding mechanism changed, and ~2.4 expected boundary hits
    // per run at sf10's 240M round events). Integer arithmetic has no
    // such window: both engines compute identical longs at any scale,
    // and the engine side's hot loop becomes codegen'd long math with
    // zero per-row allocation (305 s -> 56 s at sf10, the decimal
    // Cast+Sum having been the dominant cost). Quantization error vs
    // real-valued PageRank stays <= 1e-8 per contribution — the same
    // order the decimal-rounding form already accepted.
    def iterSql(prev: String, cur: String) =
      s"""$cur AS (
         |  SELECT e.dst AS v, CAST(15000000 + SUM(
         |      (34 * r.rk + 20 * d.deg) // (40 * d.deg)) AS BIGINT) AS rk
         |  FROM edges e JOIN $prev r ON e.src = r.v JOIN deg d ON e.src = d.v
         |  GROUP BY e.dst)""".stripMargin
    Q(
      "p03_pagerank",
      s"""WITH raw AS (
         |  SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS s
         |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
         |edges AS (SELECT c AS src, s AS dst FROM raw
         |          UNION ALL SELECT s AS src, c AS dst FROM raw),
         |deg AS (SELECT src AS v, COUNT(*) AS deg FROM edges GROUP BY src),
         |r0 AS (SELECT v, CAST(100000000 AS BIGINT) AS rk FROM deg),
         |${iterSql("r0", "r1")},
         |${iterSql("r1", "r2")},
         |${iterSql("r2", "r3")}
         |SELECT v, CAST(rk AS DOUBLE) / 100000000 AS r FROM r3
         |ORDER BY r DESC, v LIMIT 50""".stripMargin) { (s, d) =>
      // no broadcast anywhere in the loop — the whole point of the
      // beyond-broadcast form; conf-scoped so AQE can't re-introduce one
      // at runtime either (every round executes eagerly inside the scope
      // via the checkpoint). The final top-50 over the last rank table
      // is join-free, so its lazy execution outside the scope is safe.
      // The loop runs at ONE width everywhere (edges, deg, ranks, every
      // round's groupBy): a width mismatch anywhere re-shuffles a join
      // side every round. That width must scale with the DATA, not the
      // core count — at 100x the fixed 32-wide layout put 1.8M-row hash
      // aggregates in every setup task (edge build measured 2.4x faster
      // at ~1M rows/task; see [[graphWidth]]).
      val width = graphWidth(s, d)
      val confs = Seq(
        "spark.sql.autoBroadcastJoinThreshold" -> "-1",
        // unset by default (falls back to the non-adaptive threshold) —
        // restore via unset, not set(null)
        "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
        // AQE off for the loop: under AQE the checkpoint captures its
        // partitioning from an AdaptiveSparkPlanExec LEAF, which reports
        // Unknown — losing the hash(src)/hash(v) layout and re-shuffling
        // BOTH join sides every round (observed in PageRank spec). The
        // loop's whole design is a static co-partitioned layout; runtime
        // re-planning has nothing to improve here and everything to
        // break, the same reason storage-partitioned iterative jobs pin
        // their layout on a cluster.
        "spark.sql.adaptive.enabled" -> "false",
        // uniform data-scaled width for build AND loop: unlike p05
        // (split widths, |V|-row frontier rounds), p03's rounds keep a
        // |V|-keyed partial-agg hash map per task, which wants the
        // same narrower tasks the build does — measured 111 s uniform
        // vs 144 s split at sf10
        "spark.sql.shuffle.partitions" -> width.toString)
      val saved = confs.map { case (k, _) => k -> s.conf.getOption(k) }
      confs.foreach { case (k, v) => s.conf.set(k, v) }
      def restore(): Unit = saved.foreach {
        case (k, Some(v)) => s.conf.set(k, v)
        case (k, None) => s.conf.unset(k)
      }
      try {
        // shuffle_hash: the build join's sort-merge default sorts 60M+15M
        // rows at sf10 for a join whose output is immediately re-hashed
        // (measured 100 -> 68 s on the edge build)
        val raw = Tables.t(s, d, "lineitem").select("l_orderkey", "l_suppkey")
          .join(Tables.t(s, d, "orders").select("o_orderkey", "o_custkey")
            .hint("shuffle_hash"),
            col("l_orderkey") === col("o_orderkey"))
          .select((col("o_custkey") * 2).as("c"), (col("l_suppkey") * 2 + 1).as("s"))
          .distinct()
        val edgesRaw = raw.select(col("c").as("src"), col("s").as("dst"))
          .unionAll(raw.select(col("s").as("src"), col("c").as("dst")))
        // one-time setup shuffle: PIN the 2-column edge table at
        // hash(src), an explicit width AQE won't coalesce — after this
        // the edge table never moves again. Degree lives on the RANK
        // side, not copied onto every edge: the 100x scale run caught
        // the earlier edges-join-deg setup costing 161 s of the 234 s
        // total at sf10 (an |E|-row join + 3-column write, plus deg's
        // whole lineage recomputed a second time for r0) where this
        // shape pays one |E|-row shuffle-write and keeps every other
        // table at |V| rows.
        val n = width
        val edges = graft.Stage.materializeBy(s,
          edgesRaw, n, Seq(col("src")), "p03edges")
        // deg reads the pinned edges, so nothing upstream re-runs; the
        // groupBy output is hash(v) at width n — co-partitioned with
        // every later rank table
        val deg = graft.Stage.materializeBy(s,
          edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
            .withColumnRenamed("src", "v"),
          n, Seq(col("v")), "p03deg")
        var ranks = graft.Stage.materializeBy(s,
          deg.select(col("v"), lit(100000000L).as("rk"), col("deg")),
          n, Seq(col("v")), "p03r0")
        for (i <- 1 to 3) {
          // shuffle_hash: a sort-merge join would add per-round sorts the
          // hash join doesn't need (neither side's order is reusable).
          // The deg join-back is |V| rows on the SAME hash(v) layout as
          // the groupBy output — zero additional exchange.
          ranks = graft.Stage.materializeKeeping(s,
            edges.join(ranks.hint("shuffle_hash"), col("src") === col("v"))
              .groupBy(col("dst"))
              .agg((lit(15000000L) +
                sum(expr("(34 * rk + 20 * deg) div (40 * deg)"))).as("rk"))
              .withColumnRenamed("dst", "v")
              .join(deg.hint("shuffle_hash"), "v"),
            s"p03r$i")
        }
        ranks
          .select(col("v"), (col("rk").cast("double") / 100000000L).as("r"))
          .orderBy(col("r").desc, col("v")).limit(50)
      } finally restore()
    }
  }

  /** Triangle counting — the other classic distributed-graph kernel next
    * to p03's PageRank (community density, clustering-coefficient
    * features). Graph: suppliers co-occurring in an order (distinct
    * supplier pairs per order from a lineitem self-join). The Spark side
    * runs the DEGREE-ORIENTED algorithm every at-scale system uses
    * (count each triangle at its minimum-(degree,id) vertex): orienting
    * every edge from its lower- to its higher-rank endpoint bounds each
    * vertex's out-degree by O(sqrt(|E|)) on any graph, so the wedge join
    * — the quadratic step — explodes on NO vertex, hub or not; the
    * wedge⋈edge closure is then an equi join on the (v,w) pair. The
    * graph scopes to three ship-years — the unfiltered 7-year
    * co-occurrence graph densifies toward complete (Σ outdeg² ≈ 41M
    * wedges at sf0.1 for 1.2M edges; measured 8.5 s of pure wedge
    * traffic) while the scoped graph keeps the same algorithm
    * end-to-end at ~1.5M wedges — and density, not row count, is the
    * triangle-count cost driver, so the filter is input scoping, not a
    * shortcut (the date predicate pushes to the scan like q51's).
    * The oracle counts the same triangles by the naive a<b<c triple
    * self-join DuckDB can afford at sf0.01 — two genuinely different
    * algorithms, one orientation-invariant count, hash-compared.
    * Edges materialize once (16-byte rows); ranks ride along as carried
    * degree columns rather than a re-join. */
  val p04Triangles: Q = Q(
    "p04_triangles",
    """WITH li AS (SELECT l_orderkey, l_partkey FROM lineitem
      |            WHERE l_shipdate >= TIMESTAMP '1995-01-01'
      |              AND l_shipdate < TIMESTAMP '1998-01-01'),
      |pairs AS (
      |  SELECT DISTINCT l1.l_partkey AS a, l2.l_partkey AS b
      |  FROM li l1 JOIN li l2
      |    ON l1.l_orderkey = l2.l_orderkey AND l1.l_partkey < l2.l_partkey)
      |SELECT (SELECT COUNT(*) FROM pairs) AS n_edges,
      |       (SELECT COUNT(*)
      |        FROM pairs e1
      |        JOIN pairs e2 ON e2.a = e1.b
      |        JOIN pairs e3 ON e3.a = e1.a AND e3.b = e2.b) AS n_triangles""".stripMargin) {
    (s, d) =>
      // wedge/closure shuffles run at a data-scaled width — the fixed
      // core-count width was the kernels' shared super-linear term at
      // the 100x step (see graphWidth)
      val width = graphWidth(s, d)
      Widths.withWidth(s, width) {
      val l = Tables.t(s, d, "lineitem")
        .filter(col("l_shipdate") >= lit(java.sql.Timestamp.valueOf("1995-01-01 00:00:00"))
          && col("l_shipdate") < lit(java.sql.Timestamp.valueOf("1998-01-01 00:00:00")))
        .select("l_orderkey", "l_partkey")
      // pair generation by per-order grouping, not a self-join: one
      // shuffle on orderkey, then C(k,2) ordered pairs per group row
      // (k = parts per order, naturally bounded; a pathological mega-
      // order is where a real pipeline would cap or sample k) — the
      // self-join form scans and shuffles the fact twice for the same
      // pairs (measured ~1 s slower here)
      val perOrder = l.groupBy("l_orderkey")
        .agg(sort_array(collect_set(col("l_partkey"))).as("ps"))
        .filter(size(col("ps")) >= 2)
      val pairCol = flatten(transform(col("ps"), (x, i) =>
        transform(slice(col("ps"), i + 2, size(col("ps"))), y => struct(x.as("a"), y.as("b")))))
      val undirected = perOrder
        .select(explode(pairCol).as("p"))
        .select(col("p.a").as("a"), col("p.b").as("b"))
        .distinct()
      // the edge table is O(100k) 16-byte rows at bench SF — 8 pinned
      // partitions beat 32 there (per-task fixed costs dominate that
      // tier); above the core-count width the graph is cluster-scale
      // and keeps its natural width
      val edgesU = graft.Stage.materialize(s,
        if (width > s.sparkContext.defaultParallelism) undirected
        else undirected.coalesce(8), "p04pairs")
      // degree over UNDIRECTED incidence; rank = (deg, id) lexicographic
      val deg = edgesU.select(col("a").as("v")).unionAll(edgesU.select(col("b").as("v")))
        .groupBy("v").agg(count(lit(1)).as("deg"))
      val withDeg = edgesU
        .join(broadcast(deg).withColumnRenamed("v", "a").withColumnRenamed("deg", "da"), "a")
        .join(broadcast(deg).withColumnRenamed("v", "b").withColumnRenamed("deg", "db"), "b")
      val aFirst = col("da") < col("db") || (col("da") === col("db") && col("a") < col("b"))
      val oriented = graft.Stage.materialize(s,
        withDeg.select(
          when(aFirst, col("a")).otherwise(col("b")).as("u"),
          when(aFirst, col("b")).otherwise(col("a")).as("v"),
          when(aFirst, col("db")).otherwise(col("da")).as("dv")),
        "p04oriented")
      // wedges at the min-rank vertex u: unordered {v,w} pairs ordered by
      // rank so each wedge appears once; closure = oriented edge v->w
      val e1 = oriented.select(col("u"), col("v"), col("dv"))
      val e2 = oriented.select(col("u"), col("v").as("w"), col("dv").as("dw"))
      // Both kernel joins are shuffled-HASH, not sort-merge (r13 SMJ
      // sweep — this entry was the audit's worst flag): the closure
      // join sorted the 140M-row wedge stream at sf10 to emit 13.7M
      // triangles, and the wedge join sorted both 23M-row oriented
      // streams to emit wedges. The build sides (oriented edges) are
      // |E|-row and hash-partitioned across the data-scaled width, so
      // the per-task build map stays bounded at any scale.
      // WEDGE KEY PACKING (r14 — shaving the sf100 spill term): the
      // wedge stream is the kernel's Θ(Σd²) volume (~1.4B rows at
      // sf100), and its (v,w) exchange into the closure join is what
      // pushed the first live sf100 into the spill regime (810.7 s
      // cold, 21.7x on the decade). The exchange's bytes are the only
      // tunable term — the volume is algorithmic — so each wedge ships
      // as ONE packed long (v<<32 | w) instead of a two-long row:
      // UnsafeRow 24 B -> 16 B (-33% spill bytes), and the closure
      // becomes a single-key long join (cheaper hash/compare in the
      // probe loop). Lossless while part keys fit 32 bits — partkey =
      // 200k x SF, so up to SF ~10,000; a 100 TB deployment beyond
      // that widens to two longs, it does not change shape.
      //
      // Measured dead ends, recorded so they stay dead (sf10, w3,
      // isolated): (a) pre-aggregating wedges to ((v,w), count) before
      // the exchange — wedge endpoint duplication is 1.04x on this
      // graph (139.9M raw vs 134.2M distinct at sf10), so the partial
      // agg is pure overhead: 44.4 vs 27.1 s against the raw stream
      // (calibration cpu 0.990 vs 0.807 — the loss survives drift
      // adjustment); (b) broadcasting the closure edge list — the
      // driver-side HashedRelation build for 1M+ rows measured slower
      // than the exchange it saves (r13).
      // Loud guard for the 32-bit bound (ADVICE r14: a silent overflow
      // is silent wrong answers). The bound is a property of the VERTEX
      // domain, so it is checked ONCE on the |V|-row degree table — one
      // O(|E|) scan off the edges checkpoint — not per-row on the
      // Θ(Σd²) wedge stream.
      val keyBounds = deg.agg(
        coalesce(max(col("v")), lit(0L)), coalesce(min(col("v")), lit(0L)),
        coalesce(sum(col("deg")), lit(0L)))
        .collect()(0)
      // r15: the ADVICE-r14 guard fired for real — at sf100 ScaleUp's
      // remapped part keys reach ~1e10 > 2^32, so the r14 sf100 rows
      // (424.2 w3 / 810.7 cold1) were computed with silently colliding
      // packed keys and are retired in SCALE.md. Instead of failing
      // loud, the kernel now WIDENS: packed single-long key while the
      // vertex domain fits 32 bits (bench SFs, production keys that
      // fit), two-column (v,w) key above it — same algorithm, the
      // exchange carries 24 B rows instead of 16 B in the wide regime.
      // -Dgraft.p04.forceWideKey=1: counterfactual knob — runs the wide
      // two-column shape on a corpus whose keys fit 32 bits, so the two
      // regimes can be count-compared at any SF.
      val keyFits32 = keyBounds.getLong(0) < (1L << 32) && keyBounds.getLong(1) >= 0 &&
        !sys.props.get("graft.p04.forceWideKey").contains("1")
      val pk = (c1: org.apache.spark.sql.Column, c2: org.apache.spark.sql.Column) =>
        shiftleft(c1, 32).bitwiseOR(c2)
      // WEDGE BLOOM PRE-FILTER (r15, guide §3.2): the wedge stream's
      // (v,w) exchange into the closure join is the kernel's one
      // super-linear term — Θ(Σd²) rows, ~22 GB packed at sf100, the
      // measured 19.7x/decade spill driver — and only ~1/10 of wedges
      // close into a triangle (13.7M of 139.9M at sf10). A Bloom filter
      // over the |E| oriented pks drops definitely-non-closing wedges
      // INSIDE the wedge stage, before their bytes ever reach the
      // exchange: survivors = triangles + fpp of the rest, so the
      // exchange shrinks ~10x while the closure join still confirms
      // exactly (no false negatives; false positives only ride the
      // smaller shuffle and fail the join as before — bit-identical
      // count). Probe is the codegen'd off-row BroadcastBloomContains
      // — a boxing UDF here would put a closure on the Θ(Σd²) path.
      // This is NOT the r13 dead end (broadcasting the closure edge
      // list as a HashedRelation): the filter is 7 bits/key instead of
      // a 16-byte row in a join map, builds distributively off the
      // checkpoint (one |E| pass), and the exchange it feeds keeps the
      // exact-join semantics. Capacity = |E| (from Σdeg/2, free off the
      // keyBounds scan); fpp 0.02 ≈ 8.2 bits/key ≈ 240 MB at sf100's
      // ~230M edges — per-executor once at cluster scale.
      // -Dgraft.p04.bloomFpp: A/B knob; <= 0 disables the filter.
      // The bloom keys on xxhash64 of the endpoint PAIR in both regimes
      // (equal pairs hash equal, so no false negatives either way; a
      // 64-bit hash collision is just one more false positive for the
      // exact join to reject).
      val bloomFpp = sys.props.get("graft.p04.bloomFpp").map(_.toDouble).getOrElse(0.02)
      // SCALE GATE (r16): the filter only wins while it stays
      // cache-resident. The probe runs once per wedge — Θ(Σd²) times — and
      // each mightContainLong is ~6 dependent random word loads into the
      // filter; at sf10 (23M keys ≈ 24 MB, last-level-cache-sized) the
      // filter measured 45.1 vs 49.7 s w3, at sf100 (231M keys ≈ 241 MB,
      // DRAM-resident) the same filter measured 1234.9 s on vs 965.6 s
      // off, cold1 same-session (SCALE.md r16, calibration caveat there)
      // — the probe's memory-latency term outgrew the exchange bytes it
      // saves. Default bound 64M keys
      // (~67 MB) sits between the measured win and loss; deployments with
      // bigger LLCs or costlier (network) exchanges raise
      // -Dgraft.p04.bloomMaxKeys.
      val bloomMaxKeys = sys.props.get("graft.p04.bloomMaxKeys")
        .map(_.toLong).getOrElse(64000000L)
      val nEdges = math.max(keyBounds.getLong(2) / 2, 1L)
      val closes: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
        if (bloomFpp <= 0 || nEdges > bloomMaxKeys) _ => lit(true)
        else {
          // coalesce to core width before the build: stat.bloomFilter
          // allocates one FULL-SIZE filter buffer per input partition
          // and tree-merges them, so at the loop's data-scaled width
          // (~2000 partitions at sf100) the build alone was ~2000
          // x 230 MB of allocation+merge — measured 1012 s bloom-on vs
          // 749 s off at sf100 before this line. Coalesce is a narrow
          // dependency (no exchange); the scan parallelism drops to the
          // core count for this one |E|-row pass.
          val bf = oriented.select(xxhash64(col("u"), col("v")).as("hk"))
            .coalesce(s.sparkContext.defaultParallelism)
            .stat.bloomFilter("hk", nEdges, bloomFpp)
          val bfB = s.sparkContext.broadcast(bf)
          c => org.apache.spark.sql.GraftPlanShim.column(
            graft.functions.BroadcastBloomContains(bfB,
              org.apache.spark.sql.GraftPlanShim.expression(c)))
        }
      val wedgesRaw = e1.join(e2.hint("shuffle_hash"), Seq("u"))
        .filter(col("dv") < col("dw") || (col("dv") === col("dw") && col("v") < col("w")))
        .filter(closes(xxhash64(col("v"), col("w"))))
      val tri =
        if (keyFits32)
          wedgesRaw.select(pk(col("v"), col("w")).as("pk"))
            .join(oriented.select(pk(col("u"), col("v")).as("pk")).hint("shuffle_hash"),
              Seq("pk"))
        else
          wedgesRaw.select(col("v"), col("w"))
            .join(oriented.select(col("u").as("v"), col("v").as("w")).hint("shuffle_hash"),
              Seq("v", "w"))
      // materialized INSIDE the width scope: the wedge/closure shuffles
      // plan at action time, which must happen before the conf restores
      // (the returned frame is then a checkpoint scan)
      graft.Stage.materializeKeeping(s,
        edgesU.agg(count(lit(1)).as("n_edges"))
          .crossJoin(tri.agg(count(lit(1)).as("n_triangles"))),
        "p04out")
      }
  }

  /** Semi-naive BFS (single-source hop distances) — the third classic
    * graph kernel next to p03's label-propagation fixpoint and p04's
    * wedge counting, and the one that exercises SEMI-NAIVE evaluation:
    * each round joins the edge table against only the FRONTIER (vertices
    * discovered last round), not the whole reach set — the Datalog
    * delta-evaluation trick that turns an O(rounds × reached) cost into
    * O(edges touched once). Graph: p03's bipartite customer/supplier
    * co-occurrence; source: the minimum order-placing customer.
    *
    * Per round: frontier neighbors (co-partitioned shuffle-hash join on
    * the pinned hash(src) edge layout — no broadcast, p03's
    * beyond-broadcast discipline), minus already-visited (left anti on
    * the hash(v)-pinned visited table), becomes the next frontier.
    * Rounds cap at 8 to match the oracle's recursion bound; emptiness
    * early-stop is a bounded per-round action like d07's convergence
    * sum. Output: vertices per hop distance.
    *
    * Oracle: DuckDB recursive CTE enumerating (v, dist) pairs to depth 8
    * then MIN(dist) per vertex — the transitive-closure shape whose
    * intermediate is O(V × depth), exactly what the frontier form
    * avoids at scale. */
  val p05BfsHops: Q = Q(
    "p05_bfs_hops",
    """WITH RECURSIVE raw AS (
      |  SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS s
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      |edges AS (SELECT c AS src, s AS dst FROM raw
      |          UNION ALL SELECT s AS src, c AS dst FROM raw),
      |reach(v, dist) AS (
      |  SELECT 2 * (SELECT MIN(o_custkey) FROM orders), 0
      |  UNION
      |  SELECT e.dst, r.dist + 1 FROM edges e JOIN reach r ON e.src = r.v
      |  WHERE r.dist < 8),
      |d AS (SELECT v, MIN(dist) AS dist FROM reach GROUP BY v)
      |SELECT dist, COUNT(*) AS n_vertices FROM d
      |GROUP BY dist ORDER BY dist""".stripMargin) { (s, d) =>
    val width = graphWidth(s, d)
    val confs = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
      // AQE off for the loop — same reason as p03: the per-round
      // checkpoints must keep their pinned hash layout, and under AQE
      // the captured partitioning reports Unknown
      "spark.sql.adaptive.enabled" -> "false")
    val saved = confs.map { case (k, _) => k -> s.conf.getOption(k) }
    confs.foreach { case (k, v) => s.conf.set(k, v) }
    def restore(): Unit = saved.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None) => s.conf.unset(k)
    }
    try {
      // two widths, deliberately: the EDGE BUILD (|E|-row join/distinct)
      // runs at the data-scaled width, while the LOOP stays at the core
      // width — frontier/visited are |V|-row tables whose per-round
      // fixed costs (checkpoint blocks, task waves) scale with the
      // width, and the per-round edge probe streams the pinned layout
      // at whatever width it was pinned with. Measured at sf10: one
      // width=120 everywhere made the 8 rounds SLOWER than the width
      // it saved on the build.
      val shufKey = "spark.sql.shuffle.partitions"
      val savedShuf = s.conf.get(shufKey)
      // Loop width: the core width where the graph outgrows it (the
      // sf10 A/B above), but never above the data-scaled width — when
      // the whole graph is a few MB (bench SF), |V|-row rounds at core
      // width pay task waves for empty parallelism (graphWidth's floor
      // rationale; the 8-cpu bench ran these rounds 1.7x faster).
      val n = math.min(s.sparkContext.defaultParallelism, width)
      val edges = {
        val raw = Tables.t(s, d, "lineitem").select("l_orderkey", "l_suppkey")
          .join(Tables.t(s, d, "orders").select("o_orderkey", "o_custkey")
            .hint("shuffle_hash"),
            col("l_orderkey") === col("o_orderkey"))
          .select((col("o_custkey") * 2).as("c"), (col("l_suppkey") * 2 + 1).as("s"))
          .distinct()
        s.conf.set(shufKey, width.toString)
        // The pin itself is at the DATA-SCALED width too, not the core
        // width: at the 1000x step a core-width pin put ~72M edge rows
        // (≈1.7 GB unrolled) in EACH cached block, and 32 concurrent
        // tasks unrolling their block OOM'd the 48g heap (the sf100
        // campaign's second failure mode after the scratch exhaustion).
        // Per-round frontier re-hashing to the pin's width is |V|-row
        // bare ids — noise next to the 2|E|-row probe it enables.
        // SER pin above core width (the data-scaled regime): see
        // materializeByLevel — the deserialized default OOM'd at 1000x.
        val lvl = if (width > n) org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER
          else org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
        try graft.Stage.materializeByLevel(s,
          raw.select(col("c").as("src"), col("s").as("dst"))
            .unionAll(raw.select(col("s").as("src"), col("c").as("dst"))),
          width, Seq(col("src")), "p05edges", lvl)
        finally s.conf.set(shufKey, savedShuf)
      }
      // The build's shuffle files (fact join + distinct + the
      // repartition feeding the pin — ~36 GB of the box's 63 GB
      // scratch at the 1000x step) are unreachable the moment `raw`
      // leaves the block above: the pin truncated the lineage. But the
      // ContextCleaner only RELEASES them after a driver GC collects
      // the ShuffleDependency objects, and its periodic-GC cadence
      // (45 s here) lags the rounds' own shuffle production — the
      // sf100 campaign measured the overlap exhausting scratch ("no
      // space left on device", entry dead). One explicit GC hands the
      // build files back before the loop starts writing.
      System.gc()
      // bounded scalar (st14's watermark-scalar precedent): the source id
      val src0 = Tables.t(s, d, "orders")
        .agg(min(col("o_custkey"))).head().getLong(0) * 2
      var visited = graft.Stage.materializeBy(s,
        s.range(1).select(lit(src0).as("v"), lit(0).as("dist")),
        n, Seq(col("v")), "p05v0")
      var frontier = visited
      var round = 1
      var done = false
      while (round <= 8 && !done) {
        val next = graft.Stage.materializeBy(s,
          edges.join(frontier.hint("shuffle_hash"), col("src") === col("v"))
            .select(col("dst").as("v")).distinct()
            // the anti side rides a hash build too (r14 heavy-tier SMJ
            // lint: this join had been left sort-merge — both sides are
            // |V|-row, hash(v)-pinned to the same width, and the SMJ
            // re-SORTED them every round while a hash build passes the
            // candidate stream through linearly; the r13 audit's "p05
            // hashed end-to-end" claim had missed it)
            .join(visited.select("v").hint("shuffle_hash"), Seq("v"), "left_anti")
            .select(col("v"), lit(round).as("dist")),
          n, Seq(col("v")), s"p05f$round")
        if (next.isEmpty) done = true
        else {
          visited = graft.Stage.materializeBy(s,
            visited.unionAll(next), n, Seq(col("v")), s"p05v$round")
          frontier = next
        }
        round += 1
      }
      visited.groupBy("dist").agg(count(lit(1)).as("n_vertices"))
        .orderBy("dist")
    } finally restore()
  }

  /** p05's reachability via the runtime's NATIVE `WITH RECURSIVE`
    * (VERDICT r8 #5) — the engine's own recursion executing the same
    * delta loop p05 hand-rolls, hash-matched against the identical
    * DuckDB recursive oracle. Two semantic bridges:
    *  - Spark's recursion is UNION ALL-only (no UNION dedup across the
    *    accumulated result), so the recursive term dedups EACH LEVEL
    *    with SELECT DISTINCT. On an undirected graph each level is then
    *    a neighbor SET (≤ V rows, though levels revisit earlier
    *    vertices on parity), and MIN(dist) per vertex still recovers
    *    the true BFS distance — first appearance is at d(v).
    *  - DuckDB's UNION-recursion dedups (v, dist) pairs globally; the
    *    same MIN(dist) collapse makes both reductions identical.
    * Which plan wins: p05's manual loop. The native recursion carries
    * no visited set, so every level re-expands the full frontier
    * INCLUDING vertices seen two levels back (the parity echo — on
    * this graph each level is ~all vertices of one side after a couple
    * of hops), and each level's DISTINCT is a full shuffle of a
    * V-sized set; p05's left-anti against visited shrinks each level
    * to the NEW vertices only and keeps one pinned hash layout across
    * rounds. One artifact is kept OUT of the comparison: Spark inlines
    * CTEs into the recursive term, so an edge relation written inside
    * the recursion re-derives the lineitem⋈orders DISTINCT on EVERY
    * level (8× the build cost — measured 11.2 s total at sf0.1), while
    * DuckDB evaluates its non-recursive CTE once; the edge table is
    * therefore pinned outside the loop (Stage.materialize + temp view,
    * the exact footing the oracle has), leaving the recursion itself
    * as the measured difference (p06 ~6.5 s vs p05 ~5.1 s at
    * sf0.1/local[32] — the residual is the parity echo's re-expanded
    * frontiers). Native recursion buys generality (arbitrary SQL, no
    * driver loop) at the cost of delta evaluation — why the
    * hand-rolled form remains the 100 TB shape. */
  val p06BfsRecursiveCte: Q = Q(
    "p06_bfs_recursive_cte",
    """WITH RECURSIVE raw AS (
      |  SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS s
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      |edges AS (SELECT c AS src, s AS dst FROM raw
      |          UNION ALL SELECT s AS src, c AS dst FROM raw),
      |reach(v, dist) AS (
      |  SELECT 2 * (SELECT MIN(o_custkey) FROM orders), 0
      |  UNION
      |  SELECT e.dst, r.dist + 1 FROM edges e JOIN reach r ON e.src = r.v
      |  WHERE r.dist < 8),
      |d AS (SELECT v, MIN(dist) AS dist FROM reach GROUP BY v)
      |SELECT dist, COUNT(*) AS n_vertices FROM d
      |GROUP BY dist ORDER BY dist""".stripMargin) { (s, d) =>
    // Recursion width follows the p05-loop policy (r16): the session
    // width where the graph outgrows it (sf10+ stays at core width, so
    // the r14 sorted-exchange-reuse A/B baseline is untouched), the
    // data-scaled width when the whole graph is a few MB — at bench SF
    // the 8 levels paid core-width task waves per level for empty
    // parallelism (graphWidth's floor rationale; A/B in
    // OPTIMIZATION_r16.md).
    Widths.withWidth(s,
      math.min(s.sparkContext.defaultParallelism, graphWidth(s, d))) {
    Tables.t(s, d, "orders").createOrReplaceTempView("orders")
    // The recursion's LEVEL join stays sort-merge BY MEASUREMENT (r14
    // heavy-tier SMJ lint flag, overruled by its A/B like d03/d04's): a
    // SHUFFLE_HASH(reach) hint measured 88.3/95.0 s w3 at sf10 across
    // two runs vs 57.1 s unhinted (calibrations 2.919/2.052 vs 1.932 —
    // the loss survives drift adjustment). The edge-side subtree is
    // bit-identical on every level, so the engine REUSES its sorted
    // exchange across all 8 levels and each level pays only the merge
    // against the small frontier; the hash form forfeits that reuse for
    // a per-level rebuild. PlanLintSpec allowlists (src, v) with this
    // argument.
    // same shuffled-hash edge build as p05's (r13 SMJ sweep: this copy
    // had been left sort-merge — 60M fact rows sorted for a 60M-row
    // output while p05's identical join hashes)
    val raw = Tables.t(s, d, "lineitem")
      .join(Tables.t(s, d, "orders").hint("shuffle_hash"),
        col("l_orderkey") === col("o_orderkey"))
      .select((col("o_custkey") * 2).as("c"),
        (col("l_suppkey") * 2 + 1).as("s"))
      .distinct()
    graft.Stage.materialize(s,
      raw.select(col("c").as("src"), col("s").as("dst"))
        .union(raw.select(col("s").as("src"), col("c").as("dst"))),
      "p06edges")
      .createOrReplaceTempView("p06_edges")
    // materialized INSIDE the width scope, like p04: the recursion
    // plans its level shuffles at action time, which must happen
    // before the conf restores (the returned frame is then a
    // checkpoint scan)
    graft.Stage.materializeKeeping(s, s.sql(
      """WITH RECURSIVE reach(v, dist) AS (
        |  SELECT 2 * (SELECT MIN(o_custkey) FROM orders) AS v, 0 AS dist
        |  UNION ALL
        |  SELECT DISTINCT e.dst AS v, r.dist + 1 AS dist
        |  FROM p06_edges e JOIN reach r ON e.src = r.v
        |  WHERE r.dist < 8)
        |SELECT dist, COUNT(*) AS n_vertices
        |FROM (SELECT v, MIN(dist) AS dist FROM reach GROUP BY v)
        |GROUP BY dist ORDER BY dist""".stripMargin), "p06out")
    }
  }

  /** Training-MIX planner capstone: the step after curation — decide how
    * many tokens to draw from each (lang, source) bucket against a fixed
    * token budget. Composes the catalog's curation stages (quality gate →
    * exact dedup with min-id representative → 5-gram decontamination vs
    * the eval set, t09's semantics) and then runs LARGEST-REMAINDER
    * apportionment over the surviving buckets: floor(B·tokens_b / total)
    * per bucket, with the leftover budget distributed one token at a
    * time to the largest remainders (ties broken by bucket key). Every
    * step is integer arithmetic — B·tokens_b stays far below 2^63 — so
    * both engines compute identical allocations and the sum of `alloc`
    * is EXACTLY the budget, the apportionment invariant.
    * Scale shape: the doc-level stages are the already-proven curation
    * plans (token pin, gram explode → broadcast semi-join vs a tiny
    * eval set, text-group dedup); the bucket table is |langs|×|sources|
    * — tens of rows at any corpus size — so the two unpartitioned
    * windows (rank by remainder, grand-total floor sum) run on one
    * executor over a broadcast-sized input by construction. */
  val p07MixAllocation: Q = {
    val budget = 100000L
    Q(
      "p07_mix_allocation",
      s"""WITH toks AS (
         |  SELECT doc_id, lang, source, text, string_split(text, ' ') AS toks
         |  FROM documents),
         |kept AS (
         |  SELECT doc_id, lang, source, text, toks, len(toks) AS n_tokens
         |  FROM toks
         |  WHERE len(toks) BETWEEN 10 AND 1000
         |    AND len(list_distinct(toks)) * 1.0 / len(toks) > 0.2),
         |dedup AS (SELECT MIN(doc_id) AS doc_id FROM kept GROUP BY text),
         |g AS (
         |  SELECT k.doc_id, k.lang, k.source, k.n_tokens,
         |    [k.toks[i] || ' ' || k.toks[i+1] || ' ' || k.toks[i+2] || ' '
         |       || k.toks[i+3] || ' ' || k.toks[i+4]
         |     for i in range(1, len(k.toks) - 3)] AS grams
         |  FROM kept k JOIN dedup USING (doc_id)),
         |eval_g AS (
         |  SELECT DISTINCT unnest(grams) AS gram FROM g WHERE doc_id < 10),
         |contaminated AS (
         |  SELECT DISTINCT doc_id
         |  FROM (SELECT doc_id, unnest(grams) AS gram FROM g WHERE doc_id >= 10)
         |  WHERE gram IN (SELECT gram FROM eval_g)),
         |clean AS (
         |  SELECT doc_id, lang, source, n_tokens FROM g
         |  WHERE doc_id >= 10
         |    AND doc_id NOT IN (SELECT doc_id FROM contaminated)),
         |buckets AS (
         |  SELECT lang, source, COUNT(*) AS n_docs,
         |    CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
         |  FROM clean GROUP BY lang, source),
         |alloc AS (
         |  SELECT lang, source, n_docs, n_tokens,
         |    ($budget * n_tokens) // SUM(n_tokens) OVER () AS floor_alloc,
         |    ($budget * n_tokens) % SUM(n_tokens) OVER () AS rem
         |  FROM buckets)
         |SELECT lang, source, n_docs, n_tokens,
         |  CAST(floor_alloc + CASE WHEN
         |      row_number() OVER (ORDER BY rem DESC, lang, source)
         |        <= $budget - SUM(floor_alloc) OVER ()
         |    THEN 1 ELSE 0 END AS BIGINT) AS alloc
         |FROM alloc ORDER BY lang, source""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val toks = split(col("text"), " ")
      // token pin first (t09's lesson): the quality predicates and the
      // gram lambda reference the array many times each
      val kept = graft.Stage.materialize(s,
        Tables.t(s, d, "documents")
          .select(col("doc_id"), col("lang"), col("source"), col("text"),
            toks.as("toks"), size(toks).cast("long").as("n_tokens"))
          .filter(col("n_tokens").between(10, 1000) &&
            size(array_distinct(col("toks"))).cast("double") / col("n_tokens") > 0.2),
        "p07kept")
      val dedup = kept.groupBy("text").agg(min(col("doc_id")).as("doc_id"))
        .select("doc_id")
      val t = col("toks")
      val grams = transform(
        sequence(lit(1), size(t) - 4),
        i => xxhash64(concat_ws(" ", (0 until 5).map(o => element_at(t, i + o)): _*)))
      val g = graft.Stage.materialize(s,
        kept.join(dedup, "doc_id")
          .select(col("doc_id"), col("lang"), col("source"), col("n_tokens"),
            grams.as("grams")),
        "p07g")
      val evalG = g.filter(col("doc_id") < 10)
        .select(explode(col("grams")).as("gh")).distinct()
      val contaminated = g.filter(col("doc_id") >= 10)
        .select(col("doc_id"), explode(col("grams")).as("gh"))
        .join(broadcast(evalG), Seq("gh"), "left_semi")
        .select("doc_id").distinct()
      val clean = g.filter(col("doc_id") >= 10)
        .join(contaminated, Seq("doc_id"), "left_anti")
        .select(col("doc_id"), col("lang"), col("source"), col("n_tokens"))
      val buckets = clean.groupBy("lang", "source")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"))
      val wAll = Window.partitionBy()
      val alloc = buckets
        .withColumn("floor_alloc",
          expr(s"($budget * n_tokens) div sum(n_tokens) over ()"))
        .withColumn("rem", lit(budget) * col("n_tokens") % sum(col("n_tokens")).over(wAll))
      alloc
        .withColumn("rn",
          row_number().over(Window.orderBy(col("rem").desc, col("lang"), col("source"))))
        .withColumn("alloc",
          (col("floor_alloc") +
            when(col("rn") <= lit(budget) - sum(col("floor_alloc")).over(wAll), 1L)
              .otherwise(0L)).cast("long"))
        .select("lang", "source", "n_docs", "n_tokens", "alloc")
        .orderBy("lang", "source")
    }
  }

  /** SEQUENCE PACKING — the last step before tokenized text hits the
    * trainer: greedy first-fit of documents into fixed-capacity context
    * windows (C=256 tokens here; 2k–8k in production), the op that turns
    * a curated corpus into dense training sequences without padding
    * waste. Packing is inherently sequential (each placement depends on
    * the running fill), so the engine uses the same shape real pipelines
    * do: shard the corpus into BUCKETS and pack each bucket
    * independently — bucket count scales with the corpus
    * (greatest(16, ceil(N/2000)): per-bucket work is bounded at ~2000
    * docs forever, so at 100 TB this is millions of independent
    * constant-size folds), one shuffle on the bucket key, and the
    * within-bucket greedy runs as a codegen'd `aggregate` HOF over the
    * sorted (doc_id, ntok) list — no driver loop, no UDF, no state
    * store. Docs are packed in doc_id order (not size-decreasing
    * first-fit): deterministic shard-order packing is what reproducible
    * data loaders use, and it is what makes the assignment
    * oracle-checkable. A doc longer than C gets its own sequence (the
    * fill>0 guard: an empty sequence never rolls over).
    *
    * Oracle: DuckDB recursive CTE advancing every bucket one row per
    * step carrying (seq, fill) — the sequential semantics stated
    * directly; the engine's fold must reproduce it row for row. */
  val p08SequencePack: Q = {
    val cap = 256L
    Q(
      "p08_sequence_pack",
      s"""WITH RECURSIVE nn AS (SELECT COUNT(*) AS n FROM documents),
         |nb AS (SELECT GREATEST(16, (n + 1999) // 2000) AS nb FROM nn),
         |d AS (
         |  SELECT doc_id, doc_id % nb.nb AS bucket,
         |    len(string_split(text, ' ')) AS ntok,
         |    ROW_NUMBER() OVER (PARTITION BY doc_id % nb.nb ORDER BY doc_id) AS rn
         |  FROM documents, nb),
         |pack(bucket, rn, doc_id, ntok, seq, fill) AS (
         |  SELECT bucket, rn, doc_id, ntok, CAST(0 AS BIGINT), ntok
         |  FROM d WHERE rn = 1
         |  UNION ALL
         |  SELECT d.bucket, d.rn, d.doc_id, d.ntok,
         |    CASE WHEN p.fill + d.ntok > $cap THEN p.seq + 1 ELSE p.seq END,
         |    CASE WHEN p.fill + d.ntok > $cap THEN d.ntok ELSE p.fill + d.ntok END
         |  FROM d JOIN pack p ON d.bucket = p.bucket AND d.rn = p.rn + 1)
         |SELECT doc_id, bucket, seq, ntok FROM pack
         |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val nb = Tables.t(s, d, "documents")
        .agg(count(lit(1)).as("n"))
        .select(expr("greatest(16L, (n + 1999L) div 2000L)").as("nb"))
      val withBucket = Tables.t(s, d, "documents")
        .select(col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("ntok"))
        .crossJoin(broadcast(nb))
        .withColumn("bucket", pmod(col("doc_id"), col("nb")))
      val emptyOut = array().cast(
        "array<struct<doc_id:bigint,seq:bigint,ntok:bigint>>")
      val init = struct(lit(0L).as("seq"), lit(0L).as("fill"),
        emptyOut.as("out"))
      withBucket
        .groupBy("bucket")
        .agg(sort_array(collect_list(struct(col("doc_id"), col("ntok"))))
          .as("ds"))
        .select(col("bucket"),
          explode(aggregate(col("ds"), init,
            (acc, x) => {
              val over = acc("fill") > lit(0L) &&
                (acc("fill") + x("ntok")) > lit(cap)
              val ns = when(over, acc("seq") + 1L).otherwise(acc("seq"))
              val nf = when(over, x("ntok")).otherwise(acc("fill") + x("ntok"))
              struct(ns.as("seq"), nf.as("fill"),
                concat(acc("out"), array(struct(
                  x("doc_id").as("doc_id"), ns.as("seq"),
                  x("ntok").as("ntok")))).as("out"))
            },
            acc => acc("out"))).as("e"))
        .select(col("e.doc_id").as("doc_id"), col("bucket"),
          col("e.seq").as("seq"), col("e.ntok").as("ntok"))
        .orderBy("doc_id")
    }
  }

  /** Hybrid retrieval with reciprocal-rank fusion — the RAG-serving
    * composition of the catalog's two retrieval paths: t15's BM25 lexical
    * ranking over `documents` and v02's dense inner-product ranking over
    * `embeddings` (doc_id = vec_id, as p01 established), fused by RRF
    * (k=60, the Cormack et al. constant): score = Σ 1/(k + rank_i) over
    * the systems that retrieved the doc. Ranks, not scores, cross the
    * fusion boundary — RRF's whole point — so the two scoring scales
    * never have to be calibrated. Determinism: both rank lists are
    * row_number over a total order (score DESC, id), the BM25 scores are
    * t15's cleared-to-integer rational form and the dense scores one
    * list_dot_product fold, and the fused score is two correctly-rounded
    * divisions and one add in a fixed expression tree — bit-identical in
    * any IEEE engine. Scale shape: each side is TakeOrdered top-50 (no
    * global window over the corpus — the rank row_number runs on the
    * 50-row survivor set), the fusion is a 50×50 full outer join on ids.
    * At 100 TB the lexical side is a postings-only shuffle (t15) and the
    * dense side an ANN shortlist (v07/v15); the fusion cost never grows.
    */
  val p09HybridRetrieval: Q = Q(
    "p09_hybrid_retrieval",
    """WITH b AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      |n AS (SELECT COUNT(*) AS n, CAST(SUM(len(toks)) AS BIGINT) AS t FROM b),
      |tf AS (
      |  SELECT doc_id, tok, COUNT(*) AS tf, MAX(dl) AS dl FROM (
      |    SELECT doc_id, len(toks) AS dl, unnest(toks) AS tok FROM b)
      |  WHERE tok IN ('spark', 'vector', 'merge')
      |  GROUP BY doc_id, tok),
      |df AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok),
      |sc AS (
      |  SELECT doc_id, tok,
      |    (CAST(2 * n.n - 2 * df.df + 1 AS DOUBLE)
      |       / CAST(2 * df.df + 1 AS DOUBLE))
      |    * (CAST(44 * tf.tf * n.t AS DOUBLE)
      |       / CAST(20 * tf.tf * n.t + 6 * n.t + 18 * tf.dl * n.n AS DOUBLE))
      |      AS s
      |  FROM tf JOIN df USING (tok), n),
      |bm AS (
      |  SELECT doc_id,
      |    COALESCE(MAX(CASE WHEN tok = 'spark' THEN s END), 0.0)
      |    + COALESCE(MAX(CASE WHEN tok = 'vector' THEN s END), 0.0)
      |    + COALESCE(MAX(CASE WHEN tok = 'merge' THEN s END), 0.0) AS bm25
      |  FROM sc GROUP BY doc_id),
      |lex AS (
      |  SELECT doc_id,
      |    CAST(ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS BIGINT) AS r_lex
      |  FROM bm ORDER BY bm25 DESC, doc_id LIMIT 50),
      |pv AS (SELECT embedding::DOUBLE[] AS pv FROM embeddings WHERE vec_id = 0),
      |ds AS (SELECT vec_id, list_dot_product(embedding::DOUBLE[], pv) AS score
      |       FROM embeddings, pv),
      |den AS (
      |  SELECT vec_id AS doc_id,
      |    CAST(ROW_NUMBER() OVER (ORDER BY score DESC, vec_id) AS BIGINT) AS r_dense
      |  FROM ds ORDER BY score DESC, vec_id LIMIT 50)
      |SELECT COALESCE(l.doc_id, de.doc_id) AS doc_id, r_lex, r_dense,
      |  COALESCE(CAST(1 AS DOUBLE) / CAST(60 + r_lex AS DOUBLE), CAST(0 AS DOUBLE))
      |  + COALESCE(CAST(1 AS DOUBLE) / CAST(60 + r_dense AS DOUBLE), CAST(0 AS DOUBLE))
      |    AS rrf
      |FROM lex l FULL OUTER JOIN den de ON l.doc_id = de.doc_id
      |ORDER BY rrf DESC, doc_id""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val terms = Seq("spark", "vector", "merge")
    // Lexical side: t15's BM25 (Lucene k1/b cleared to integer rationals).
    val base = Tables.t(s, d, "documents")
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
    val nt = base.agg(
      count(lit(1)).cast("long").as("n"),
      sum(size(col("toks"))).cast("long").as("t"))
    val tf = base
      .select(col("doc_id"), size(col("toks")).cast("long").as("dl"),
        explode(col("toks")).as("tok"))
      .filter(col("tok").isin(terms: _*))
      .groupBy("doc_id", "tok")
      .agg(count(lit(1)).cast("long").as("tf"), max(col("dl")).as("dl"))
    val dfreq = tf.groupBy("tok").agg(count(lit(1)).cast("long").as("df"))
    // per-term pivot then a FIXED-ORDER sum (t15's discipline): a
    // float SUM over the term rows is merge-order-dependent and at
    // sf1 a near-tie flipped the top-50 membership vs the oracle
    def termScore(term: String) =
      coalesce(max(when(col("tok") === term, col("sc"))), lit(0.0))
    val bm = tf.join(broadcast(dfreq), "tok").crossJoin(broadcast(nt))
      .withColumn("sc",
        ((lit(2L) * col("n") - lit(2L) * col("df") + lit(1L)).cast("double")
          / (lit(2L) * col("df") + lit(1L)).cast("double"))
          * ((lit(44L) * col("tf") * col("t")).cast("double")
            / (lit(20L) * col("tf") * col("t") + lit(6L) * col("t")
              + lit(18L) * col("dl") * col("n")).cast("double")))
      .groupBy("doc_id")
      .agg((termScore("spark") + termScore("vector") + termScore("merge"))
        .as("bm25"))
    // Top-50 via TakeOrdered FIRST; row_number only over the survivors.
    val lex = bm.orderBy(col("bm25").desc, col("doc_id")).limit(50)
      .withColumn("r_lex", row_number()
        .over(Window.orderBy(col("bm25").desc, col("doc_id"))).cast("long"))
      .select("doc_id", "r_lex")
    // Dense side: v02's brute-force inner product vs the vec_id=0 probe.
    val e = Tables.t(s, d, "embeddings")
    val probe = e.filter(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>").as("pv"))
    val ds = e
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .crossJoin(broadcast(probe))
      .select(col("vec_id"),
        expr("aggregate(zip_with(v, pv, (x, y) -> x * y), cast(0.0 as double), (a, x) -> a + x)")
          .as("score"))
    val den = ds.orderBy(col("score").desc, col("vec_id")).limit(50)
      .withColumn("r_dense", row_number()
        .over(Window.orderBy(col("score").desc, col("vec_id"))).cast("long"))
      .select(col("vec_id").as("doc_id"), col("r_dense"))
    lex.join(den, Seq("doc_id"), "full_outer")
      .withColumn("rrf",
        coalesce(lit(1).cast("double")
          / (lit(60L) + col("r_lex")).cast("double"), lit(0).cast("double"))
          + coalesce(lit(1).cast("double")
            / (lit(60L) + col("r_dense")).cast("double"), lit(0).cast("double")))
      .orderBy(col("rrf").desc, col("doc_id"))
  }

  /** In-batch NEGATIVE SAMPLING — the contrastive-training data prep
    * step (CLIP/DPR-style): each anchor document gets k=4 negatives
    * drawn from its own TRAINING BATCH, the standard in-batch trick
    * that makes negatives free at scale. Batch assignment is the
    * engine-portable hash-mod (q47's discipline: a pure function of
    * doc_id — stable under reruns, repartitioning, and engine swaps),
    * and the negatives are the batch peers ranked by md5(anchor ||
    * peer) — a deterministic stand-in for uniform sampling whose
    * winners both engines agree on bit-exactly. The pair join is
    * BLOCKED on the batch id with the batch COUNT scaling as N/128 —
    * batches stay ~128 docs at ANY corpus size (exactly how a real
    * loader batches), so candidate volume is N·128, linear forever; a
    * fixed batch count would make it N²/B, the d10/p08 scale bug class
    * (the first cut measured 26× on 10× data before the count was made
    * corpus-proportional). The per-anchor top-k is the bare row_number
    * idiom AutoLocalTopK absorbs into the bounded heap. Self-pairs are
    * excluded; exclusion of known positives (near-dups) composes by
    * anti-joining d-series pair outputs in front of this entry. */
  val p10InbatchNegatives: Q = Q(
    "p10_inbatch_negatives",
    """WITH b AS (
      |  SELECT doc_id,
      |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
      |      % (SELECT greatest(1, COUNT(*) // 128) FROM documents) AS batch
      |  FROM documents),
      |pr AS (
      |  SELECT a.doc_id AS anchor, n.doc_id AS neg,
      |    md5(CAST(a.doc_id AS VARCHAR) || ':' || CAST(n.doc_id AS VARCHAR)) AS pri
      |  FROM b a JOIN b n ON a.batch = n.batch AND a.doc_id <> n.doc_id),
      |r AS (
      |  SELECT anchor, neg,
      |    row_number() OVER (PARTITION BY anchor ORDER BY pri, neg) AS rk
      |  FROM pr)
      |SELECT anchor, CAST(rk AS BIGINT) AS rk, neg
      |FROM r WHERE rk <= 4 ORDER BY anchor, rk""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    graft.plans.GraftEngine.install(s)
    val nb = Tables.t(s, d, "documents")
      .agg(greatest(lit(1L), expr("count(1) div 128")).as("nb"))
    val b = Tables.t(s, d, "documents")
      .crossJoin(broadcast(nb))
      .select(col("doc_id"),
        (conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
          .cast("long") % col("nb")).as("batch"))
    val pairs = b.as("a").join(b.as("n"),
        col("a.batch") === col("n.batch") && col("a.doc_id") =!= col("n.doc_id"))
      .select(col("a.doc_id").as("anchor"), col("n.doc_id").as("neg"),
        md5(concat(col("a.doc_id").cast("string"), lit(":"),
          col("n.doc_id").cast("string"))).as("pri"))
    val w = Window.partitionBy("anchor").orderBy(col("pri").asc, col("neg").asc)
    pairs
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 4)
      .select(col("anchor"), col("rk").cast("long").as("rk"), col("neg"))
      .orderBy("anchor", "rk")
  }

  /** DATA CARD — the per-source corpus profile every dataset release
    * ships (counts, token volume, exact-dup rate, language mix, length):
    * ONE pass over the corpus producing every statistic at once, because
    * at 100 TB the profile that needs five scans never gets run. All
    * rates are exact integer basis points (never a float division), so
    * the card is bit-identical across engines and reruns. Plan shape:
    * one projection computes tokens + text hash per row, one
    * map-side-combined aggregate per source; the only O(distinct)
    * state is the text-hash set behind the exact-dup count (Spark plans
    * the mixed distinct/non-distinct agg as a two-phase Expand — still
    * a single scan). The approximate alternative at extreme cardinality
    * is u10's KMV rollup; this entry is the exact form. */
  val p11DataCard: Q = Q(
    "p11_data_card",
    """WITH r AS (
      |  SELECT source, lang, n_chars,
      |    len(string_split(text, ' ')) AS n_toks, md5(text) AS h
      |  FROM documents)
      |SELECT source,
      |  COUNT(*) AS n_docs,
      |  CAST(SUM(n_toks) AS BIGINT) AS total_tokens,
      |  COUNT(DISTINCT h) AS n_uniq_texts,
      |  CAST((COUNT(*) - COUNT(DISTINCT h)) * 10000 // COUNT(*) AS BIGINT) AS dup_bp,
      |  CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) * 10000 // COUNT(*) AS BIGINT) AS en_bp,
      |  CAST(SUM(n_chars) * 100 // COUNT(*) AS BIGINT) AS avg_chars_x100
      |FROM r GROUP BY source ORDER BY source""".stripMargin) { (s, d) =>
    Tables.t(s, d, "documents")
      .select(col("source"), col("lang"), col("n_chars"),
        size(split(col("text"), " ", -1)).cast("long").as("n_toks"),
        md5(col("text")).as("h"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_toks")).as("total_tokens"),
        countDistinct(col("h")).as("n_uniq_texts"),
        sum(when(col("lang") === "en", 1L).otherwise(0L)).as("n_en"),
        sum(col("n_chars")).as("sum_chars"))
      .select(col("source"), col("n_docs"), col("total_tokens"),
        col("n_uniq_texts"),
        expr("(n_docs - n_uniq_texts) * 10000 div n_docs").as("dup_bp"),
        expr("n_en * 10000 div n_docs").as("en_bp"),
        expr("sum_chars * 100 div n_docs").as("avg_chars_x100"))
      .orderBy("source")
  }

  /** TEMPERATURE-BASED multilingual mixture (the XLM-R / mT5 upsampling
    * scheme): sampling share ∝ (corpus share)^α with α < 1, boosting
    * low-resource languages relative to raw proportions. α = 1/2 here,
    * which makes the weights EXACTLY computable cross-engine: IEEE-754
    * requires sqrt correctly rounded (the v13 MIPS entry leans on the
    * same guarantee), n_tokens < 2^52 is exactly representable, the
    * 2^20 scale-up multiplies the exponent only, and floor is exact —
    * so `weight = floor(2^20·sqrt(n_tokens))` is a deterministic
    * INTEGER on both engines, and the allocation itself is p07's
    * integer largest-remainder apportionment (Σ alloc = budget
    * exactly, ties by lang). General α (0.3 in XLM-R) needs pow —
    * cross-engine transcendentals differ in the last ulp (the t15/t21
    * lesson), so production would ship α as a rational exponent over
    * repeated sqrt or accept per-engine rounding; the apportionment
    * machinery is α-independent.
    *
    * Scale shape: one partial-aggregated scan to the per-lang token
    * counts (|langs| rows — single-digit at any corpus size), then the
    * window apportionment on that broadcast-sized table. The corpus
    * never moves. */
  val p12TemperatureMix: Q = {
    val budget = 1000000L
    Q(
      "p12_temperature_mix",
      s"""WITH b AS (
         |  SELECT lang, COUNT(*) AS n_docs,
         |    CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
         |  FROM documents GROUP BY lang),
         |w AS (
         |  SELECT lang, n_docs, n_tokens,
         |    CAST(floor(sqrt(CAST(n_tokens AS DOUBLE)) * 1048576) AS BIGINT) AS weight
         |  FROM b),
         |a AS (
         |  SELECT lang, n_docs, n_tokens, weight,
         |    ($budget * weight) // SUM(weight) OVER () AS floor_alloc,
         |    ($budget * weight) % SUM(weight) OVER () AS rem
         |  FROM w)
         |SELECT lang, n_docs, n_tokens, weight,
         |  CAST(floor_alloc + CASE WHEN
         |      row_number() OVER (ORDER BY rem DESC, lang)
         |        <= $budget - SUM(floor_alloc) OVER ()
         |    THEN 1 ELSE 0 END AS BIGINT) AS alloc
         |FROM a ORDER BY lang""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val wAll = Window.partitionBy()
      val b = Tables.t(s, d, "documents")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(size(split(col("text"), " "))).cast("long").as("n_tokens"))
        .withColumn("weight",
          floor(sqrt(col("n_tokens").cast("double")) * 1048576).cast("long"))
      b.withColumn("floor_alloc", expr(s"($budget * weight) div sum(weight) over ()"))
        .withColumn("rem", lit(budget) * col("weight") % sum(col("weight")).over(wAll))
        .withColumn("rn", row_number().over(Window.orderBy(col("rem").desc, col("lang"))))
        .withColumn("alloc",
          (col("floor_alloc") +
            when(col("rn") <= lit(budget) - sum(col("floor_alloc")).over(wAll), 1L)
              .otherwise(0L)).cast("long"))
        .select("lang", "n_docs", "n_tokens", "weight", "alloc")
        .orderBy("lang")
    }
  }

  /** DETERMINISTIC GLOBAL SHUFFLE → balanced training shards — the data
    * loader's prerequisite (WebDataset/TFRecord sharding): documents get
    * a pseudo-random but REPRODUCIBLE order (rank by a portable keyed
    * hash — 15 md5 hex digits, 60 bits, collision-broken by doc_id so
    * the order is total), then round-robin into 16 shards, which makes
    * shard sizes provably balanced (max − min ≤ 1 doc, ShardShuffleSpec)
    * rather than merely balanced in expectation as hash-mod sharding
    * would be. The entry emits the per-shard manifest (doc/token counts
    * + id checksum) — what a loader validates before training.
    *
    * The global rank uses NO global window: m08's distributed-rank
    * machinery — the hash key's high bits bucket the order domain into
    * 128 ranges, ranks are per-bucket row_numbers plus broadcast bucket
    * offsets (the offset table is 128 rows at any corpus size). One
    * shuffle of (8B key, 8B id) pairs; document text never moves. At
    * 100 TB the physical write would be `partitionBy(shard)` on this
    * same assignment; the manifest here is the part an oracle can
    * hash-check. */
  val p13ShardShuffle: Q = Q(
    "p13_shard_shuffle",
    """WITH r AS (
      |  SELECT doc_id, len(string_split(text, ' ')) AS n_tokens,
      |    ROW_NUMBER() OVER (ORDER BY
      |      ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT, doc_id) AS rnk
      |  FROM documents)
      |SELECT CAST((rnk - 1) % 16 AS BIGINT) AS shard,
      |  COUNT(*) AS n_docs,
      |  CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
      |  CAST(SUM(doc_id) AS BIGINT) AS id_checksum
      |FROM r GROUP BY 1 ORDER BY shard""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val keyed = Tables.t(s, d, "documents")
        .select(col("doc_id"),
          org.apache.spark.sql.GraftPlanShim.column(graft.functions.CountTokens(
            org.apache.spark.sql.GraftPlanShim.expression(col("text")))).as("n_tokens"),
          conv(substring(md5(col("doc_id").cast("string")), 1, 15), 16, 10)
            .cast("long").as("ok"))
        .withColumn("bkt", expr("ok div 4503599627370496")) // 2^52 → ≤256 ranges of the 60-bit key
      val rnLocal = row_number()
        .over(Window.partitionBy("bkt").orderBy("ok", "doc_id")).cast("long")
      val offsets = keyed.groupBy("bkt")
        .agg(count(lit(1)).as("n"))
        .withColumn("off",
          coalesce(sum(col("n")).over(Window.orderBy("bkt")
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .select("bkt", "off")
      keyed
        .withColumn("rn", rnLocal)
        .join(broadcast(offsets), Seq("bkt"))
        .select(((col("off") + col("rn") - 1L) % 16).as("shard"),
          col("doc_id"), col("n_tokens"))
        .groupBy("shard")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("n_tokens"),
          sum(col("doc_id")).as("id_checksum"))
        .orderBy("shard")
    }

  /** DSIR-style importance-ranked data selection (Xie et al. 2023's
    * "data selection with importance resampling", re-expressed in the
    * catalog's exact-arithmetic discipline): pick from the RAW pool the
    * documents whose hashed-unigram profile best matches a TARGET
    * domain. Target = the `lang='en'` slice; candidates = everything
    * else (selecting from the non-target pool is the operator's actual
    * use — ranking web-crawl documents by target-likeness).
    *
    * DSIR proper scores log p_target(f) − log p_raw(f) summed over
    * hashed features; per-feature ln() differs in the last ulp across
    * engines (t15's idf note), so the entry scores the RATIO OF
    * EXPECTED FREQUENCIES instead: Σ_tokens tgt_n(bucket) over
    * Σ_tokens raw_n(bucket) — two exact BIGINT sums through ONE
    * correctly-rounded division, bit-identical everywhere and monotone
    * in the same "looks like the target" direction. Buckets are the
    * hashing trick over md5 (t22's recipe), 256 of them, so both bucket
    * count tables are bounded by the FEATURE SPACE, not the corpus.
    *
    * Scale shape: one explode → bucket-count agg (partial-agged to
    * ≤256 rows) → the 256-row table broadcasts back onto the exploded
    * stream (t14's join-back discipline: a broadcast hash probe, never
    * element_at over a map column) → per-doc agg on 8-byte keys →
    * global top-200 via TakeOrdered (AutoLocalTopK's bounded heap —
    * no global sort). Document text never shuffles; the only wide
    * exchanges carry (bucket) and (doc_id, two longs). */
  val p14ImportanceSelect: Q = Q(
    "p14_importance_select",
    """WITH f AS (
      |  SELECT doc_id, lang,
      |    ('0x' || substr(md5(tok), 1, 4))::BIGINT % 256 AS b
      |  FROM (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok
      |        FROM documents)),
      |bc AS (
      |  SELECT b, COUNT(*) AS raw_n,
      |    COUNT(*) FILTER (WHERE lang = 'en') AS tgt_n
      |  FROM f GROUP BY b),
      |s AS (
      |  SELECT doc_id, CAST(SUM(tgt_n) AS BIGINT) AS tgt_mass,
      |         CAST(SUM(raw_n) AS BIGINT) AS raw_mass
      |  FROM f JOIN bc USING (b) WHERE lang <> 'en' GROUP BY doc_id)
      |SELECT doc_id, tgt_mass, raw_mass, tgt_mass / raw_mass AS score
      |FROM s ORDER BY score DESC, doc_id LIMIT 200""".stripMargin) { (s, d) =>
    def feats = Tables.t(s, d, "documents")
      .select(col("doc_id"), col("lang"),
        explode(split(col("text"), " ")).as("tok"))
      .select(col("doc_id"), col("lang"),
        (conv(substring(md5(col("tok")), 1, 4), 16, 10).cast("long") % 256L)
          .as("b"))
    val buckets = feats.groupBy("b")
      .agg(count(lit(1)).as("raw_n"),
        count(when(col("lang") === "en", 1)).as("tgt_n"))
    feats.filter(col("lang") =!= "en")
      .join(broadcast(buckets), "b")
      .groupBy("doc_id")
      .agg(sum(col("tgt_n")).cast("long").as("tgt_mass"),
        sum(col("raw_n")).cast("long").as("raw_mass"))
      .select(col("doc_id"), col("tgt_mass"), col("raw_mass"),
        (col("tgt_mass") / col("raw_mass")).as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(200)
  }

  val all: Seq[Q] = Seq(p01TrainingPipeline, p02CurationPipeline, p03Pagerank, p04Triangles,
    p05BfsHops, p06BfsRecursiveCte, p07MixAllocation, p08SequencePack, p09HybridRetrieval,
    p10InbatchNegatives, p11DataCard, p12TemperatureMix, p13ShardShuffle, p14ImportanceSelect)
}
