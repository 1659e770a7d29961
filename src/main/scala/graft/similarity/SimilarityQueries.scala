package graft.similarity

import graft.{Det, Q, Stage, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Similarity search over `embeddings.embedding: array<float>` (LLM
  * north star): brute-force cosine/dot top-k as the verifiable baseline,
  * and random-hyperplane LSH (single-probe point lookup + multi-probe
  * pair mining) as the scale path.
  *
  * Numerics: scores are computed with `aggregate`/`zip_with` in DOUBLE,
  * folding left-to-right over the array — bit-identical to DuckDB's
  * `list_dot_product`/`list_cosine_similarity` on `::DOUBLE[]` casts
  * (both are sequential folds; verified empirically), so the oracle
  * compare is exact, not approximate. Cosine additionally clamps to
  * [-1, 1] the way DuckDB does (a self-pair can exceed 1 by an ulp).
  *
  * Scale: the probe is one broadcast row, the score is a per-row map, and
  * top-k plans as TakeOrderedAndProject — per-partition heaps, no global
  * sort, no shuffle of the embedding table. The LSH variants bucket on
  * plane-sign bits so candidate generation is a bucket join, never
  * all-pairs.
  */
object SimilarityQueries {

  /** The `dot`/`cosine` helpers below are WRITTEN as interpreted
    * higher-order folds; the engine's HOF-dot-product optimizer rule
    * (graft.plans.GraftEngine, installed on every session) rewrites them
    * to the codegen'd native DotProduct at plan time (bit-exact — the
    * hash oracles prove it per entry). */
  private def emb(s: SparkSession, d: String): DataFrame =
    Tables.t(s, d, "embeddings")

  private def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, v) => acc + v)

  private def cosine(a: Column, b: Column): Column =
    least(greatest(dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b))), lit(-1.0)), lit(1.0))

  /** Deterministic random hyperplanes (fixed seed): nPlanes x 64. */
  private def planes(nPlanes: Int): Seq[Array[Double]] = {
    val rnd = new scala.util.Random(42)
    Seq.fill(nPlanes)(Array.fill(64)(rnd.nextGaussian()))
  }

  /** Sign-bit bucket id from the plane dots: sum_p (dot(v, plane_p) > 0) << p. */
  private def bucketOf(v: Column, ps: Seq[Array[Double]]): Column =
    ps.zipWithIndex.map { case (p, i) =>
      when(dot(v, array(p.map(lit).toSeq: _*)) > 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** DuckDB-side replica of [[bucketOf]]: the planes are seeded
    * CONSTANTS, so the oracle can state the identical sign-LSH
    * arithmetic with the plane vectors inlined as literals.
    * Double.toString emits the shortest exact round-trip decimal and
    * DuckDB parses to the nearest double — the same bit pattern — and
    * list_dot_product is the same sequential fold as the engine's
    * aggregate/zip_with, so bucket ids agree exactly (this is what
    * upgrades v03/v04/v07 from rows-only smoke to full hash-checked
    * entries). */
  private def bucketSql(ps: Seq[Array[Double]], v: String): String =
    "CAST(" + ps.zipWithIndex.map { case (p, i) =>
      s"(CASE WHEN list_dot_product($v, [${p.mkString(", ")}]) > 0 THEN ${1L << i} ELSE 0 END)"
    }.mkString("\n      + ") + " AS BIGINT)"

  /** Brute-force cosine top-20 against the vec_id=0 probe. */
  val v01CosineTopK: Q = Q(
    "v01_cosine_topk",
    """WITH p AS (SELECT embedding::DOUBLE[] AS pv FROM embeddings WHERE vec_id = 0)
      |SELECT vec_id, label,
      |  list_cosine_similarity(embedding::DOUBLE[], pv) AS cos_sim
      |FROM embeddings, p
      |ORDER BY cos_sim DESC, vec_id LIMIT 20""".stripMargin) { (s, d) =>
    val e = emb(s, d)
    val probe = e.filter(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>").as("pv"))
    e.select(col("vec_id"), col("label"), col("embedding").cast("array<double>").as("v"))
      .crossJoin(broadcast(probe))
      .select(col("vec_id"), col("label"), cosine(col("v"), col("pv")).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
      .limit(20)
  }

  /** Brute-force dot-product top-20 (unnormalized inner-product search). */
  val v02DotTopK: Q = Q(
    "v02_dot_topk",
    """WITH p AS (SELECT embedding::DOUBLE[] AS pv FROM embeddings WHERE vec_id = 7)
      |SELECT vec_id, list_dot_product(embedding::DOUBLE[], pv) AS score
      |FROM embeddings, p
      |ORDER BY score DESC, vec_id LIMIT 20""".stripMargin) { (s, d) =>
    // The query is WRITTEN with the interpreted HOF dot; the injected
    // optimizer rule (graft.plans.RewriteHofDotProduct) swaps in the
    // codegen'd native DotProduct — bit-exact, proven by this entry
    // still hash-matching its oracle (plan asserted in HofRewriteSpec).
    val e = emb(s, d)
    val probe = e.filter(col("vec_id") === 7)
      .select(col("embedding").cast("array<double>").as("pv"))
    e.select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .crossJoin(broadcast(probe))
      .select(col("vec_id"), dot(col("v"), col("pv")).as("score"))
      .orderBy(col("score").desc, col("vec_id"))
      .limit(20)
  }

  /** ANN point lookup: 6-plane sign-LSH buckets (64 cells); only the
    * probe's bucket is scanned, then exact cosine ranks the survivors.
    * At scale the table would be written bucketed/partitioned on `bucket`
    * so the lookup is a partition-pruned scan, not a full pass. Fully
    * oracle-checked: the seeded planes inline as literals ([[bucketSql]])
    * so DuckDB computes identical buckets and the identical survivor
    * ranking. */
  val v03AnnLshBucket: Q = Q(
    "v03_ann_lsh_bucket",
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |b AS (SELECT vec_id, v, ${bucketSql(planes(6), "v")} AS bucket FROM e),
       |p AS (SELECT v AS pv, bucket AS pbucket FROM b WHERE vec_id = 0)
       |SELECT vec_id, bucket, list_cosine_similarity(v, pv) AS cos_sim
       |FROM b, p WHERE bucket = pbucket
       |ORDER BY cos_sim DESC, vec_id LIMIT 10""".stripMargin) { (s, d) =>
    val ps = planes(6)
    val e = emb(s, d)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("bucket", bucketOf(col("v"), ps))
    val probe = e.filter(col("vec_id") === 0)
      .select(col("v").as("pv"), col("bucket").as("pbucket"))
    e.join(broadcast(probe), col("bucket") === col("pbucket"))
      .select(col("vec_id"), col("bucket"), cosine(col("v"), col("pv")).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
      .limit(10)
  }

  /** Near-duplicate pair mining with multi-probe LSH: 4 planes, each
    * vector lands in its own bucket plus the 4 one-bit-flip neighbors, so
    * a pair survives if their buckets differ by <= 1 plane disagreement
    * (doubling recall at ~5x candidate cost); candidates verify with
    * exact cosine >= 0.4. Bucket join — never all-pairs.
    *
    * Threshold note: 0.4 is deliberately low because this synthetic
    * corpus' max pairwise cosine is ~0.51 (random vectors; nothing is
    * planted). Sign-LSH discriminates weakly at such angles (plane
    * agreement p = 1 - θ/π ≈ 0.63), which is what drives the candidate
    * volume here; at a true near-dup threshold (0.9 ⇒ p ≈ 0.86) the same
    * construction prunes orders of magnitude harder.
    *
    * Oracle: with BOTH sides probing their 1-bit flips, a pair shares a
    * probe bucket iff xor(B_a, B_b) ∈ {0} ∪ {single flips} ∪ {flip_i ^
    * flip_j} — i.e. hamming(B_a, B_b) <= 2 over the 4 bits. DuckDB
    * restates exactly that criterion (all-pairs is fine at oracle SF)
    * with the literal planes, so the candidate SET — not just the
    * verified scores — is checked. */
  val v04EmbeddingNearDup: Q = Q(
    "v04_embedding_neardup",
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |b AS (SELECT vec_id, v, ${bucketSql(planes(4), "v")} AS bucket FROM e)
       |SELECT a.vec_id AS i, b2.vec_id AS j,
       |  list_cosine_similarity(a.v, b2.v) AS cos_sim
       |FROM b a JOIN b b2 ON a.vec_id < b2.vec_id
       |WHERE bit_count(xor(a.bucket, b2.bucket)) <= 2
       |  AND list_cosine_similarity(a.v, b2.v) >= 0.4
       |ORDER BY i, j""".stripMargin) { (s, d) =>
    val ps = planes(4)
    // Buckets AND norms materialize once (Stage): the self-join would
    // otherwise evaluate the 4 plane dots per side, and pre-computed norms
    // reduce pair verification to a single dot product.
    val e = Stage.materialize(s,
      emb(s, d).repartition(s.sparkContext.defaultParallelism)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
        .withColumn("bucket", bucketOf(col("v"), ps))
        .withColumn("nrm", sqrt(dot(col("v"), col("v")))),
      "v04buckets")
    // Candidates are generated as bare id pairs — carrying the 64-double
    // vectors through the bucket join's quadratic fan-out was the dominant
    // cost (3 GB of shuffle at sf0.1); the vectors join back in on vec_id
    // only for the deduped survivors.
    val probed = e.select(col("vec_id"),
      explode(array(
        col("bucket"),
        col("bucket").bitwiseXOR(1), col("bucket").bitwiseXOR(2),
        col("bucket").bitwiseXOR(4), col("bucket").bitwiseXOR(8))).as("pb"))
    val cand = probed.as("a")
      .join(probed.as("b"), col("a.pb") === col("b.pb") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("i"), col("b.vec_id").as("j"))
      .dropDuplicates("i", "j")
    val cos = least(greatest(
      dot(col("vi"), col("vj")) / (col("ni") * col("nj")), lit(-1.0)), lit(1.0))
    cand
      .join(e.select(col("vec_id").as("i"), col("v").as("vi"), col("nrm").as("ni")), Seq("i"))
      .join(e.select(col("vec_id").as("j"), col("v").as("vj"), col("nrm").as("nj")), Seq("j"))
      .select(col("i"), col("j"), cos.as("cos_sim"))
      .filter(col("cos_sim") >= 0.4)
      .orderBy("i", "j")
  }

  /** v01 through the native codegen'd CosineSim Catalyst expression
    * (graft.functions.CosineSim) instead of interpreted higher-order
    * functions — same bit-exact numerics, compiled loop. Same oracle
    * shape as v01 (different probe so both entries stay meaningful). */
  val v05CosineTopKNative: Q = Q(
    "v05_cosine_topk_native",
    """WITH p AS (SELECT embedding::DOUBLE[] AS pv FROM embeddings WHERE vec_id = 42)
      |SELECT vec_id, list_cosine_similarity(embedding::DOUBLE[], pv) AS cos_sim
      |FROM embeddings, p
      |ORDER BY cos_sim DESC, vec_id LIMIT 20""".stripMargin) { (s, d) =>
    graft.functions.CosineSim.register(s)
    val e = emb(s, d)
    val probe = e.filter(col("vec_id") === 42)
      .select(col("embedding").cast("array<double>").as("pv"))
    e.select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .crossJoin(broadcast(probe))
      .select(col("vec_id"), expr("graft_cosine_sim(v, pv)").as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
      .limit(20)
  }

  /** IVF-style ANN: k-means coarse quantizer (MLlib, fixed seed), search
    * only the probe's cell, rank survivors by exact cosine. The scale
    * shape: centroids train on a sample, the table is written partitioned
    * by cell, and a probe reads one partition — the classic
    * inverted-file layout. No oracle (centroid training is engine-side
    * float iteration); rows>0 holds because the probe's own cell contains
    * the probe. */
  val v06AnnIvf: Q = Q.noOracle("v06_ann_ivf") { (s, d) =>
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val e = Stage.materialize(s,
      emb(s, d).repartition(s.sparkContext.defaultParallelism)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v")),
      "v06vecs")
    val withFeatures = e.withColumn("fv", array_to_vector(col("v")))
    // centroids train on a fixed-seed SAMPLE, not the full table — at
    // 100 TB the quantizer only needs a statistical sketch of the space,
    // and the sample keeps the k-means iterations O(sample) while the
    // assignment pass below stays the only full scan
    val model = new KMeans().setK(16).setSeed(42).setMaxIter(5)
      .setFeaturesCol("fv").setPredictionCol("cell")
      .fit(withFeatures.sample(withReplacement = false, 0.25, seed = 42))
    val cells = model.transform(withFeatures).select(col("vec_id"), col("v"), col("cell"))
    val probe = cells.filter(col("vec_id") === 0)
      .select(col("v").as("pv"), col("cell").as("pcell"))
    cells.join(broadcast(probe), col("cell") === col("pcell"))
      .select(col("vec_id"), col("cell"), cosine(col("v"), col("pv")).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
      .limit(10)
  }

  /** The ANN scale path made physical: the embedding table is WRITTEN
    * partitioned by LSH bucket, and the probe lookup reads back with a
    * bucket predicate — Spark plans a partition-PRUNED scan (one
    * directory of 64 touched; PartitionFilters in the plan, asserted in
    * SimilaritySpec). This is the layout v03 only talks about: at 100 TB
    * the lookup cost is the probe's cell, not the table. Same literal-
    * planes oracle as v03 (the physical layout must not change a single
    * value); bucket comes back as INT from partition-dir inference. */
  val v07AnnPartitionPruned: Q = Q(
    "v07_ann_partition_pruned",
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |b AS (SELECT vec_id, v, ${bucketSql(planes(6), "v")} AS bucket FROM e),
       |p AS (SELECT v AS pv, bucket AS pbucket FROM b WHERE vec_id = 0)
       |SELECT vec_id, CAST(bucket AS INT) AS bucket,
       |  list_cosine_similarity(v, pv) AS cos_sim
       |FROM b, p WHERE bucket = pbucket
       |ORDER BY cos_sim DESC, vec_id LIMIT 10""".stripMargin) { (s, d) =>
    val ps = planes(6)
    val dir = graft.TempDirs.newTempDir("graft_v07_cells_")
    emb(s, d).repartition(s.sparkContext.defaultParallelism)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("bucket", bucketOf(col("v"), ps))
      // cluster by the partition column before partitionBy: otherwise
      // every one of the N write tasks opens a file in each of the 64
      // bucket dirs (N*64 tiny files — measured 2x the whole query's
      // time at local[32]; at cluster scale it's the classic small-file
      // explosion). One shuffle on `bucket` makes it ~one file per dir.
      .repartition(col("bucket"))
      .write.mode("overwrite").partitionBy("bucket").parquet(dir)
    val cells = s.read.parquet(dir)
    val probe = cells.filter(col("vec_id") === 0)
      .select(col("v").as("pv"), col("bucket").as("pbucket")).collect().head
    // (partition-column type is inferred from the dir name — compare via
    // lit of whatever it came back as, not an assumed long)
    cells.filter(col("bucket") === lit(probe.get(1)))
      .select(col("vec_id"), col("bucket"),
        cosine(col("v"), array(probe.getSeq[Double](0).map(lit): _*)).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
      .limit(10)
  }

  /** Exact per-label centroids — the embedding-space aggregate behind
    * IVF training, label prototypes, and drift monitoring. One
    * posexplode + one hash agg on (label, dim): partial aggregation
    * combines map-side, so the shuffle carries 10 labels x 64 dims of
    * partial sums regardless of table size — the textbook
    * shuffle-is-O(groups) shape that survives 100 TB untouched.
    * Output stays FLAT (label, dim_pos, centroid) — nested arrays are
    * not oracle-comparable (round-3 lesson) and downstream consumers
    * regroup cheaply. Floats widen to double exactly (IEEE), then the
    * Det decimal-sum recipe makes the mean bit-identical cross-engine. */
  val v08LabelCentroids: Q = Q(
    "v08_label_centroids",
    s"""SELECT label, CAST(pos AS INT) AS dim_pos,
       |  ${Det.sqlAvg("CAST(e AS DOUBLE)")} AS centroid
       |FROM (SELECT label, unnest(embedding) AS e,
       |             generate_subscripts(embedding, 1) AS pos
       |      FROM embeddings)
       |GROUP BY label, pos
       |ORDER BY label, dim_pos""".stripMargin) { (s, d) =>
    emb(s, d)
      .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "e")))
      .groupBy(col("label"), (col("pos") + 1).cast("int").as("dim_pos"))
      .agg(Det.davg(col("e").cast("double")).as("centroid"))
      .orderBy("label", "dim_pos")
  }

  /** Engine-portable Lloyd's k-means (the oracle-checked dual of v06,
    * like d06 is to d03): k=8 centroids seeded from vec_id 0..7, one
    * assignment → exact-decimal centroid update → re-assignment, all in
    * declarative ops. Every arithmetic step is pinned cross-engine:
    *  - distances expand to (dot(v,v) - 2·dot(v,c)) + dot(c,c), with the
    *    parenthesization FIXED, so both engines reuse the proven
    *    bit-exact sequential dot product;
    *  - argmin is a window row_number ordered by (dist, cell) — total;
    *  - the centroid update routes through Det decimal averaging, so the
    *    round-2 centroids are identical doubles on both engines.
    * Output is per-cell counts + an integer id-checksum after the second
    * assignment: any single differing double anywhere in the two rounds
    * would reassign some vector and break the hash match. Scale shape:
    * centroids broadcast (k·dim doubles), the table never shuffles for
    * assignment; the update is one O(k·dim) agg. */
  val v09KmeansPortable: Q = Q(
    "v09_kmeans_portable",
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |c0 AS (SELECT vec_id AS cell, v AS c FROM e WHERE vec_id < 8),
      |a1 AS (
      |  SELECT vec_id, v, cell FROM (
      |    SELECT e.vec_id, e.v, c0.cell,
      |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
      |        ((list_dot_product(e.v, e.v) - 2 * list_dot_product(e.v, c0.c))
      |          + list_dot_product(c0.c, c0.c)), c0.cell) AS rn
      |    FROM e, c0)
      |  WHERE rn = 1),
      |cd AS (
      |  SELECT cell, pos,
      |    CAST(CAST(CAST(SUM(CAST(x AS DECIMAL(28,8))) AS VARCHAR) AS DOUBLE)
      |         / COUNT(*) AS DOUBLE) AS cx
      |  FROM (SELECT cell, unnest(v) AS x, generate_subscripts(v, 1) AS pos FROM a1)
      |  GROUP BY cell, pos),
      |c1 AS (SELECT cell, list(cx ORDER BY pos) AS c FROM cd GROUP BY cell),
      |a2 AS (
      |  SELECT vec_id, cell FROM (
      |    SELECT e.vec_id, c1.cell,
      |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
      |        ((list_dot_product(e.v, e.v) - 2 * list_dot_product(e.v, c1.c))
      |          + list_dot_product(c1.c, c1.c)), c1.cell) AS rn
      |    FROM e, c1)
      |  WHERE rn = 1)
      |SELECT cell, COUNT(*) AS n_vecs, CAST(SUM(vec_id) AS BIGINT) AS id_sum
      |FROM a2 GROUP BY cell ORDER BY cell""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val e = emb(s, d)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val dist = (dot(col("v"), col("v")) - lit(2) * dot(col("v"), col("c"))) +
      dot(col("c"), col("c"))
    val w = Window.partitionBy("vec_id").orderBy(dist.asc, col("cell").asc)
    def assign(centroids: DataFrame): DataFrame = e
      .crossJoin(broadcast(centroids))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select("vec_id", "v", "cell")
    val c0 = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cell"), col("v").as("c"))
    val a1 = assign(c0)
    val c1 = a1
      .select(col("cell"), posexplode(col("v")).as(Seq("pos", "x")))
      .groupBy("cell", "pos")
      .agg(Det.davg(col("x")).as("cx"))
      .groupBy("cell")
      .agg(array_sort(collect_list(struct(col("pos"), col("cx")))).as("pc"))
      .select(col("cell"), transform(col("pc"), p => p.getField("cx")).as("c"))
    assign(c1)
      .groupBy("cell")
      .agg(count(lit(1)).as("n_vecs"), sum(col("vec_id")).as("id_sum"))
      .orderBy("cell")
  }

  /** IVF search, oracle-checked end to end (the checked dual of v06,
    * completing the pattern: v06 = MLlib-trained quantizer, engine
    * internal; v11 = the SAME index structure with every arithmetic step
    * pinned cross-engine). The quantizer is v09's portable Lloyd round
    * (seeded from vec_id 0..7, exact-decimal centroid update), the index
    * is the assignment of every vector to its nearest centroid, and the
    * SEARCH is real multi-probe IVF: the probe vector ranks the
    * centroids, scans the nprobe=2 nearest cells only, and returns the
    * exact cosine top-10 within them. Every distance uses the fixed
    * parenthesization (dot(v,v) - 2·dot(v,c)) + dot(c,c) and every
    * argmin/rank is a row_number over a total order, so the result —
    * including WHICH cells get probed — is bit-identical in DuckDB and
    * the entry is hash-green, unlike any approximate-recall check.
    * Scale shape: centroids broadcast twice (assignment + probe
    * ranking), the table never shuffles, and the cell filter is the
    * partition-pruned scan v07 demonstrates physically. */
  val v11IvfPortable: Q = Q(
    "v11_ivf_portable",
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |c0 AS (SELECT vec_id AS cell, v AS c FROM e WHERE vec_id < 8),
      |a1 AS (
      |  SELECT vec_id, v, cell FROM (
      |    SELECT e.vec_id, e.v, c0.cell,
      |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
      |        ((list_dot_product(e.v, e.v) - 2 * list_dot_product(e.v, c0.c))
      |          + list_dot_product(c0.c, c0.c)), c0.cell) AS rn
      |    FROM e, c0)
      |  WHERE rn = 1),
      |cd AS (
      |  SELECT cell, pos,
      |    CAST(CAST(CAST(SUM(CAST(x AS DECIMAL(28,8))) AS VARCHAR) AS DOUBLE)
      |         / COUNT(*) AS DOUBLE) AS cx
      |  FROM (SELECT cell, unnest(v) AS x, generate_subscripts(v, 1) AS pos FROM a1)
      |  GROUP BY cell, pos),
      |c1 AS (SELECT cell, list(cx ORDER BY pos) AS c FROM cd GROUP BY cell),
      |a2 AS (
      |  SELECT vec_id, v, cell FROM (
      |    SELECT e.vec_id, e.v, c1.cell,
      |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
      |        ((list_dot_product(e.v, e.v) - 2 * list_dot_product(e.v, c1.c))
      |          + list_dot_product(c1.c, c1.c)), c1.cell) AS rn
      |    FROM e, c1)
      |  WHERE rn = 1),
      |p AS (SELECT v AS pv FROM e WHERE vec_id = 0),
      |pc AS (
      |  SELECT cell FROM (
      |    SELECT c1.cell,
      |      row_number() OVER (ORDER BY
      |        ((list_dot_product(p.pv, p.pv) - 2 * list_dot_product(p.pv, c1.c))
      |          + list_dot_product(c1.c, c1.c)), c1.cell) AS rn
      |    FROM c1, p)
      |  WHERE rn <= 2)
      |SELECT vec_id, cell, list_cosine_similarity(v, pv) AS cos_sim
      |FROM a2 JOIN pc USING (cell), p
      |ORDER BY cos_sim DESC, vec_id LIMIT 10""".stripMargin) { (s, d) =>
    val (e, c1, cells) = ivfPortableIndex(s, d)
    val probe = e.filter(col("vec_id") === 0).select(col("v").as("pv"))
    val probed = ivfProbeCells(c1, probe, 2)
    cells.join(broadcast(probed), "cell")
      .crossJoin(broadcast(probe))
      .select(col("vec_id"), col("cell"), cosine(col("v"), col("pv")).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
      .limit(10)
  }

  /** v09-seeded portable Lloyd-round IVF build, shared by v11/v18:
    * returns (vectors e, centroids c1, index cells = (vec_id, v, cell)).
    * Every arithmetic step is the fixed-parenthesization decimal-exact
    * form v11's scaladoc documents. */
  private def ivfPortableIndex(s: SparkSession, d: String): (DataFrame, DataFrame, DataFrame) = {
    import graft.functions.ArgMinLong.argmin
    val e = emb(s, d)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val dist = (dot(col("v"), col("v")) - lit(2) * dot(col("v"), col("c"))) +
      dot(col("c"), col("c"))
    // Assignment is the native ArgMinLong hash aggregate (d10's lesson
    // made shared): the original window row_number shuffled AND sorted
    // the N x k broadcast expansion WITH the 64-double arrays riding
    // every row — measured as v11's sf100 bend (8.6 -> 106 s on the
    // 10x step, spill-bound). The argmin collapses the expansion to one
    // flat (double,long) buffer per vector BEFORE the exchange
    // (map-side partials), and the arrays re-attach via one
    // co-partitioned join-back — bytes on the wire drop from
    // O(N*k*dim) to O(N*dim). The ranking key is char-for-char the
    // oracle's full d2 expression with the same (dist, cell)
    // lexicographic tie-break, so assignments are fp-identical.
    def assign(centroids: DataFrame): DataFrame = {
      val best = e.crossJoin(broadcast(centroids))
        .groupBy("vec_id")
        .agg(argmin(dist, col("cell")).as("cell"))
      e.join(best, Seq("vec_id")).select("vec_id", "v", "cell")
    }
    val c0 = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cell"), col("v").as("c"))
    val c1 = assign(c0)
      .select(col("cell"), posexplode(col("v")).as(Seq("pos", "x")))
      .groupBy("cell", "pos")
      .agg(Det.davg(col("x")).as("cx"))
      .groupBy("cell")
      .agg(array_sort(collect_list(struct(col("pos"), col("cx")))).as("pc"))
      .select(col("cell"), transform(col("pc"), p => p.getField("cx")).as("c"))
    (e, c1, assign(c1))
  }

  /** Multi-probe cell selection: rank centroids by distance-to-probe,
    * keep the nprobe nearest. orderBy+limit plans as TakeOrdered over
    * the 8 centroid rows — no global window (PlanLint's rule). */
  private def ivfProbeCells(c1: DataFrame, probe: DataFrame, nprobe: Int): DataFrame = {
    val pDist = (dot(col("pv"), col("pv")) - lit(2) * dot(col("pv"), col("c"))) +
      dot(col("c"), col("c"))
    c1.crossJoin(broadcast(probe))
      .orderBy(pDist.asc, col("cell").asc)
      .limit(nprobe)
      .select("cell")
  }

  /** Int8 symmetric quantization + quantized dot-product search — the
    * storage/bandwidth half of a production vector store (4x smaller
    * vectors, integer SIMD dots; the same layout FAISS/SCANN-style
    * engines scan). Per-vector scale = max|x|/127; codes round(x/scale)
    * (the max element lands exactly on ±127, so no clamp is needed);
    * approximate score = int_dot * scale_a * scale_probe.
    *
    * Every step is ORACLE-EXACT, not approximately compared:
    *  - float->double casts are exact; scale is one division;
    *  - round() is half-away-from-zero in BOTH engines on doubles;
    *  - the integer dot is <= 64 * 127^2 ~ 1.03M, exact in any order
    *    and in DuckDB's double list_dot_product alike — so the
    *    APPROXIMATE score is itself deterministic and hash-checked,
    *    while QuantizationSpec separately bounds its recall vs the
    *    exact float top-k (the statistical property).
    * Scale shape: per-row map + broadcast probe + TakeOrdered — the
    * embedding table never shuffles, same as v01/v02. */
  val v10QuantizedDot: Q = Q(
    "v10_quantized_dot",
    """WITH base AS (
      |  SELECT vec_id, label, embedding::DOUBLE[] AS v,
      |    list_max(list_transform(embedding::DOUBLE[], x -> abs(x))) / 127.0 AS scale
      |  FROM embeddings),
      |q AS (
      |  SELECT vec_id, label, scale,
      |    list_transform(v, x -> CAST(round(x / scale) AS BIGINT)) AS codes
      |  FROM base),
      |p AS (SELECT codes AS pc, scale AS ps FROM q WHERE vec_id = 0)
      |SELECT vec_id, label,
      |  (CAST(list_dot_product(codes::DOUBLE[], pc::DOUBLE[]) AS DOUBLE) * scale) * ps AS qdot
      |FROM q, p
      |ORDER BY qdot DESC, vec_id LIMIT 20""".stripMargin) { (s, d) =>
    val scaled = emb(s, d)
      .select(col("vec_id"), col("label"), col("embedding").cast("array<double>").as("v"))
      .withColumn("scale", array_max(transform(col("v"), x => abs(x))) / 127.0)
      .withColumn("codes", transform(col("v"), x => round(x / col("scale"), 0).cast("long")))
    val probe = scaled.filter(col("vec_id") === 0)
      .select(col("codes").as("pc"), col("scale").as("ps"))
    val idot = aggregate(zip_with(col("codes"), col("pc"), (x, y) => x * y),
      lit(0L), (acc, v) => acc + v)
    scaled.crossJoin(broadcast(probe))
      .select(col("vec_id"), col("label"),
        ((idot.cast("double") * col("scale")) * col("ps")).as("qdot"))
      .orderBy(col("qdot").desc, col("vec_id"))
      .limit(20)
  }

  /** CERTIFIED two-phase ANN — approximate prefilter with a rigorous
    * error bound, then exact rerank, provably returning the EXACT
    * top-k (the production pattern for inner-product search at 100 TB:
    * scan cheap int8 codes everywhere, touch full-precision vectors for
    * a shortlist only). Phase 1 scores every row with v10's int8
    * quantized dot (exact integer arithmetic times two scales). Phase 2
    * bounds the true dot per row: with x = x̂ + e, |e|∞ ≤ s_x/2,
    *
    *   |dot(x,p) − qdot| ≤ s_x/2·‖p̂‖₁ + s_p/2·‖x̂‖₁ + d·s_x·s_p/4
    *
    * (‖x̂‖₁ = s_x·Σ|codes|, one broadcast row for the probe side). The
    * shortlist keeps rows with qdot + bound ≥ τ, where τ is the k-th
    * largest (qdot − bound) — any true top-k row y satisfies
    * qdot(y)+b(y) ≥ dot(y) ≥ kth-true ≥ τ, so the shortlist is a
    * guaranteed SUPERSET of the true top-k including boundary ties
    * (bound inflated 1e-6 relative to absorb the bound arithmetic's own
    * last-ulp rounding). Phase 3 reranks the shortlist with the exact
    * fold — so the OUTPUT is independent of phases 1-2, and the oracle
    * is plain brute force (the certificate, not the hash, is what makes
    * the pruning legal; `CertifiedRerankSpec` asserts the shortlist
    * actually prunes and still contains the answer). */
  val v12CertifiedRerank: Q = Q(
    "v12_certified_rerank",
    """WITH p AS (SELECT embedding::DOUBLE[] AS pv FROM embeddings WHERE vec_id = 3)
      |SELECT vec_id, list_dot_product(embedding::DOUBLE[], pv) AS score
      |FROM embeddings, p
      |ORDER BY score DESC, vec_id LIMIT 20""".stripMargin) { (s, d) =>
    val (_, shortlist) = certifiedParts(s, d, 20)
    shortlist
      .select(col("vec_id"), dot(col("v"), col("pv")).as("score"))
      .orderBy(col("score").desc, col("vec_id"))
      .limit(20)
  }

  /** v12's phases 1-2, exposed so `CertifiedRerankSpec` can assert the
    * shortlist both PRUNES and still CONTAINS the true top-k. Returns
    * (scored = every row with qdot/bound, shortlist = certified rows,
    * carrying v and pv for the exact rerank). */
  private[similarity] def certifiedParts(
      s: SparkSession, d: String, k: Int): (DataFrame, DataFrame) = {
    val base = emb(s, d)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("scale", array_max(transform(col("v"), x => abs(x))) / 127.0)
      .withColumn("codes", transform(col("v"), x => round(x / col("scale"), 0).cast("long")))
      .withColumn("l1q", col("scale")
        * aggregate(col("codes"), lit(0L), (a, x) => a + abs(x)).cast("double"))
    val probe = base.filter(col("vec_id") === 3)
      .select(col("v").as("pv"), col("scale").as("ps"),
        col("codes").as("pc"), col("l1q").as("pl1"))
    val idot = aggregate(zip_with(col("codes"), col("pc"), (x, y) => x * y),
      lit(0L), (acc, v) => acc + v)
    val dims = size(col("codes")).cast("double")
    val scored = base.crossJoin(broadcast(probe))
      .withColumn("qdot", (idot.cast("double") * col("scale")) * col("ps"))
      .withColumn("bound",
        (col("scale") / 2 * col("pl1") + col("ps") / 2 * col("l1q")
          + dims * col("scale") * col("ps") / 4) * 1.000001)
    val tau = scored
      .select((col("qdot") - col("bound")).as("lo"))
      .orderBy(col("lo").desc).limit(k)
      .agg(min(col("lo")).as("tau"))
    val shortlist = scored.crossJoin(broadcast(tau))
      .filter(col("qdot") + col("bound") >= col("tau"))
    (scored, shortlist)
  }

  /** Maximum-inner-product search (MIPS) — the retrieval-model scoring
    * problem (user·item, query·doc) that angular/euclidean ANN indexes
    * can't serve directly because inner product is not a metric. The
    * classic public reduction (Bachrach et al., RecSys 2014; the
    * "XBOX" transform): append sqrt(M² − ‖x‖²) to every data vector
    * (M = max norm) — all augmented vectors then share norm M, so
    * ANGULAR similarity search over the augmented space ranks exactly
    * by inner product, and the existing sign-LSH machinery (v03)
    * applies to MIPS unchanged. The probe conceptually appends 0.
    *
    * Portability: the augmented coordinate needs sqrt — fine, IEEE-754
    * sqrt is CORRECTLY ROUNDED (unlike log/exp's ulp-loose libm), so
    * both engines compute the identical double from the identical
    * (exactly-computed) M² − ‖x‖². Buckets on 65-dim planes, candidate
    * sets, and exact-dot scores therefore all hash-check, same as
    * v03/v04/v07.
    *
    * Scale shape: norm+bucket assignment is per-row math against
    * broadcast planes (table never shuffles), M² is a one-row scalar
    * broadcast, and the probe's bucket join prunes the scan — the v03
    * pattern with the MIPS reduction layered on top. */
  val v13MaxipLsh: Q = {
    // 65-dim planes for the augmented space (fresh seed; planes() is 64-d)
    val rnd = new scala.util.Random(43)
    val ps65 = Seq.fill(6)(Array.fill(65)(rnd.nextGaussian()))
    Q(
      "v13_maxip_lsh",
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |n AS (SELECT vec_id, v, list_dot_product(v, v) AS n2 FROM e),
         |m AS (SELECT MAX(n2) AS m2 FROM n),
         |b AS (SELECT vec_id, v,
         |        ${bucketSql(ps65, "list_append(v, sqrt(m2 - n2))")} AS bucket
         |      FROM n, m),
         |p AS (SELECT v AS pv, bucket AS pbucket FROM b WHERE vec_id = 0)
         |SELECT vec_id, bucket, list_dot_product(v, pv) AS ip
         |FROM b, p WHERE bucket = pbucket
         |ORDER BY ip DESC, vec_id LIMIT 10""".stripMargin) { (s, d) =>
      val n = emb(s, d)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
        .withColumn("n2", dot(col("v"), col("v")))
      val m = n.agg(max(col("n2")).as("m2"))
      val b = n.crossJoin(broadcast(m))
        .withColumn("bucket",
          bucketOf(concat(col("v"), array(sqrt(col("m2") - col("n2")))), ps65))
        .select("vec_id", "v", "bucket")
      val probe = b.filter(col("vec_id") === 0)
        .select(col("v").as("pv"), col("bucket").as("pbucket"))
      b.join(broadcast(probe), col("bucket") === col("pbucket"))
        .select(col("vec_id"), col("bucket"), dot(col("v"), col("pv")).as("ip"))
        .orderBy(col("ip").desc, col("vec_id"))
        .limit(10)
    }
  }

  /** Batched ANN serving — the deployment shape the single-probe entries
    * (v01/v03/v07) build toward: a TABLE of probes answered in ONE
    * declarative plan, not a per-probe driver loop. Every vector's
    * bucket computes once (per-row math against broadcast planes); the
    * probe set broadcasts and equi-joins on bucket (each data row meets
    * only the probes that share its bucket); per-probe exact-cosine
    * top-5 comes from the row_number()<=k idiom — which the engine's own
    * AutoLocalTopK rule turns into bounded-heap partition pruning below
    * the exchange (q48's behavior, firing here on a REAL workload).
    * At 100 TB: queries arrive in batches of thousands; this plan costs
    * one scan + one broadcast join + one k-bounded shuffle regardless of
    * batch size, where a per-probe loop costs a scan per query. */
  val v14BatchedAnn: Q = {
    val ps = planes(6)
    Q(
      "v14_batched_ann",
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |b AS (SELECT vec_id, v, ${bucketSql(ps, "v")} AS bucket FROM e),
         |p AS (SELECT vec_id AS probe_id, v AS pv, bucket AS pbucket
         |      FROM b WHERE vec_id < 8),
         |sc AS (SELECT probe_id, vec_id, list_cosine_similarity(v, pv) AS cos_sim
         |       FROM b JOIN p ON bucket = pbucket),
         |r AS (SELECT probe_id, vec_id, cos_sim, row_number() OVER (
         |        PARTITION BY probe_id ORDER BY cos_sim DESC, vec_id) AS rn
         |      FROM sc)
         |SELECT probe_id, vec_id, cos_sim, rn FROM r WHERE rn <= 5
         |ORDER BY probe_id, rn""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val b = emb(s, d)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
        .withColumn("bucket", bucketOf(col("v"), ps))
      val probes = b.filter(col("vec_id") < 8)
        .select(col("vec_id").as("probe_id"), col("v").as("pv"),
          col("bucket").as("pbucket"))
      val scored = b.join(broadcast(probes), col("bucket") === col("pbucket"))
        .select(col("probe_id"), col("vec_id"),
          cosine(col("v"), col("pv")).as("cos_sim"))
      val w = Window.partitionBy("probe_id")
        .orderBy(col("cos_sim").desc, col("vec_id"))
      scored.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 5)
        .select(col("probe_id"), col("vec_id"), col("cos_sim"),
          col("rn").cast("long").as("rn"))
        .orderBy("probe_id", "rn")
    }
  }

  /** PRODUCT-QUANTIZATION ANN, oracle-checked END TO END (VERDICT r8
    * #6) — the other production compression for 100 TB vector stores
    * next to v10's scalar int8 (Jégou, Douze, Schmid, "Product
    * Quantization for Nearest Neighbor Search", TPAMI 2011). The 64-dim
    * vector splits into M=8 sub-vectors; each subspace gets its own
    * K=16-centroid codebook; a vector's code is 8 x 4 bits = 4 bytes
    * (64x smaller than float64). Queries score by ASYMMETRIC DISTANCE
    * (ADC): dot(probe, centroid) precomputes into an M x K lookup
    * table, each row's approximate score is M lookups summed, the ADC
    * top-100 shortlist reranks with the exact dot, exact top-20 out.
    *
    * Every arithmetic step is pinned cross-engine (v09/v11's portable
    * discipline, extended with the subspace dimension):
    *  - codebooks train on a BOUNDED sample (vec_id % 20 = 0 AND
    *    < 65536 — fixed work at any corpus scale): deterministic init
    *    (the 16 smallest sample ids' sub-vectors, code = the id —
    *    constant-free, window-free), one Lloyd round with
    *    exact-decimal means (Det.davg), argmin by the IDENTICAL
    *    ((s·s − 2·s·c) + c·c) expression with code-ascending
    *    tie-break on both engines;
    *  - the ADC sum folds the M lut values in m ORDER
    *    (array_sort(collect_list(struct(m, lv)))) vs DuckDB's
    *    list(lv ORDER BY m) through list_dot_product with a ones
    *    vector — both sequential left folds, bit-identical);
    *  - so qdot itself is hash-checked (v10's approximate-score
    *    pattern), and the shortlist - ORDER BY qdot DESC, vec_id LIMIT
    *    100 — is the same row set on both engines, making the exact
    *    rerank hash-green INDEPENDENT of recall.
    * `PqAnnSpec` pins the statistical properties the hash can't: the
    * Cauchy-Schwarz certificate |dot − adc| <= ||residual||·||p||
    * holds row-by-row, the shortlist prunes, and recall@100 of the
    * true top-20 clears its floor.
    *
    * Scale shape: training touches only the bounded sample; encoding
    * is one pass over (rows x M) sub-vectors against 128 broadcast
    * centroids; ADC is a broadcast lut join + 8-value fold per row;
    * only the 100-row shortlist ever touches full vectors again.
    * Candidates are never all-pairs. (At 100 TB the lut join becomes a
    * literal array lookup — collect the 128 trained centroids driver-
    * side like st12's inlined centroids; the catalog keeps the
    * declarative join so BOTH engines state the same plan.) */
  val v15PqAdc: Q = Q(
    "v15_pq_adc",
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |sub AS (SELECT vec_id, m, v[m*8+1 : m*8+8] AS s
       |        FROM e, (SELECT unnest(range(0, 8)) AS m)),
       |samp AS (SELECT * FROM sub WHERE vec_id % 20 = 0 AND vec_id < 65536),
       |c0 AS (SELECT m, vec_id AS code, s AS c FROM samp WHERE vec_id < 320),
       |a1 AS (SELECT vec_id, m, code, s FROM (
       |        SELECT samp.vec_id, samp.m, c0.code, samp.s,
       |          row_number() OVER (PARTITION BY samp.vec_id, samp.m ORDER BY
       |            ((list_dot_product(samp.s, samp.s)
       |              - 2 * list_dot_product(samp.s, c0.c))
       |              + list_dot_product(c0.c, c0.c)), c0.code) AS rn
       |        FROM samp JOIN c0 ON samp.m = c0.m)
       |      WHERE rn = 1),
       |cd AS (SELECT m, code, pos, ${Det.sqlAvg("x")} AS cx
       |       FROM (SELECT m, code, unnest(s) AS x,
       |               generate_subscripts(s, 1) AS pos FROM a1)
       |       GROUP BY m, code, pos),
       |c1 AS (SELECT m, code, list(cx ORDER BY pos) AS c FROM cd GROUP BY m, code),
       |codes AS (SELECT vec_id, m, code FROM (
       |           SELECT sub.vec_id, sub.m, c1.code,
       |             row_number() OVER (PARTITION BY sub.vec_id, sub.m ORDER BY
       |               ((list_dot_product(sub.s, sub.s)
       |                 - 2 * list_dot_product(sub.s, c1.c))
       |                 + list_dot_product(c1.c, c1.c)), c1.code) AS rn
       |           FROM sub JOIN c1 ON sub.m = c1.m)
       |         WHERE rn = 1),
       |psub AS (SELECT m, s AS p_s FROM sub WHERE vec_id = 5),
       |lut AS (SELECT c1.m, c1.code, list_dot_product(c1.c, psub.p_s) AS lv
       |        FROM c1 JOIN psub ON c1.m = psub.m),
       |adc AS (SELECT codes.vec_id,
       |          list_dot_product(list(lut.lv ORDER BY lut.m),
       |            [1.0, 1.0, 1.0, 1.0, 1.0, 1.0, 1.0, 1.0]) AS qdot
       |        FROM codes JOIN lut ON codes.m = lut.m AND codes.code = lut.code
       |        GROUP BY codes.vec_id),
       |short AS (SELECT vec_id, qdot FROM adc ORDER BY qdot DESC, vec_id LIMIT 100),
       |p AS (SELECT v AS pv FROM e WHERE vec_id = 5)
       |SELECT short.vec_id, qdot, list_dot_product(e.v, p.pv) AS score
       |FROM short JOIN e ON short.vec_id = e.vec_id, p
       |ORDER BY score DESC, short.vec_id LIMIT 20""".stripMargin) { (s, d) =>
    val (_, _, out) = pqParts(s, d)
    out
  }

  /** v15's pipeline, exposed for `PqAnnSpec`: returns (encoded = every
    * row with qdot + residual err2 + v + pv, shortlist ids, final
    * output). See [[v15PqAdc]] for the cross-engine contract. */
  /** v15's sub-vector split + sampled codebook training, shared with
    * v20: returns (full vectors e, sub-vectors subs = (vec_id, m, s),
    * codebooks c1 = (m, code, c), the assign function). Every
    * arithmetic step is the cross-engine-exact form v15 documents. */
  private def pqCodebooks(s: SparkSession, d: String)
      : (DataFrame, DataFrame, DataFrame, (DataFrame, DataFrame) => DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    val M = 8; val subD = 8
    val e = emb(s, d)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val subs = e.select(col("vec_id"),
      posexplode(array((0 until M).map(m =>
        slice(col("v"), m * subD + 1, subD)): _*)).as(Seq("m", "s")))
    val samp = subs.filter(col("vec_id") % 20 === 0 && col("vec_id") < 65536)
    val c0 = samp.filter(col("vec_id") < 320)
      .select(col("m"), col("vec_id").as("code"), col("s").as("c"))
    // the assignment expression, char-for-char the oracle's: full d2
    // (not the code-invariant-dropped form) so near-tie FP agrees
    val d2 = (dot(col("s"), col("s")) - lit(2) * dot(col("s"), col("c"))) +
      dot(col("c"), col("c"))
    val w = Window.partitionBy("vec_id", "m").orderBy(d2.asc, col("code").asc)
    def assign(df: DataFrame, cents: DataFrame): DataFrame = df
      .join(broadcast(cents), Seq("m"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
    val a1 = assign(samp, c0).select("vec_id", "m", "code", "s")
    val c1 = a1
      .select(col("m"), col("code"), posexplode(col("s")).as(Seq("pos", "x")))
      .groupBy("m", "code", "pos")
      .agg(Det.davg(col("x")).as("cx"))
      .groupBy("m", "code")
      .agg(array_sort(collect_list(struct(col("pos"), col("cx")))).as("pc"))
      .select(col("m"), col("code"),
        transform(col("pc"), p => p.getField("cx")).as("c"))
    (e, subs, c1, assign _)
  }

  private[similarity] def pqParts(
      s: SparkSession, d: String): (DataFrame, DataFrame, DataFrame) = {
    val (e, subs, c1, assign) = pqCodebooks(s, d)
    // encode every row; keep the selected centroid for the residual
    val enc = assign(subs, c1)
      .select(col("vec_id"), col("m"), col("code"),
        aggregate(zip_with(col("s"), col("c"), (x, y) => (x - y) * (x - y)),
          lit(0.0), (a, x) => a + x).as("serr2"))
    val psub = subs.filter(col("vec_id") === 5).select(col("m"), col("s").as("p_s"))
    val lut = c1.join(broadcast(psub), Seq("m"))
      .select(col("m"), col("code"), dot(col("c"), col("p_s")).as("lv"))
    val adc = enc.join(broadcast(lut), Seq("m", "code"))
      .groupBy("vec_id")
      .agg(array_sort(collect_list(struct(col("m"), col("lv")))).as("ml"),
        sum(col("serr2")).as("err2"))
      .select(col("vec_id"),
        aggregate(transform(col("ml"), x => x.getField("lv")),
          lit(0.0), (a, x) => a + x).as("qdot"),
        col("err2"))
    val short = adc.orderBy(col("qdot").desc, col("vec_id")).limit(100)
      .select("vec_id", "qdot")
    val probe = e.filter(col("vec_id") === 5).select(col("v").as("pv"))
    val out = short.join(e, "vec_id")
      .crossJoin(broadcast(probe))
      .select(col("vec_id"), col("qdot"), dot(col("v"), col("pv")).as("score"))
      .orderBy(col("score").desc, col("vec_id"))
      .limit(20)
    val scored = adc.join(e, "vec_id").crossJoin(broadcast(probe))
    (scored, short, out)
  }

  /** Maximal-marginal-relevance rerank (Carbonell-Goldstein) — the
    * diversity-aware final stage a retrieval stack runs AFTER v01-v15
    * produce a shortlist: greedily pick 5 of the top-20 candidates,
    * each step maximizing relevance minus the max similarity to the
    * already-picked set (λ = 1/2, the two halves scaled out so the
    * objective is one subtraction of two dot-product folds —
    * bit-identical across engines; ties break on vec_id). The greedy
    * recursion is INHERENTLY sequential in k, so it runs as a bounded
    * HOF fold over the collected 20-candidate array (q75/p08's
    * ordered-fold discipline — never a driver loop, never k scans);
    * only the O(n) shortlist step is distributed, which is exactly
    * MMR's production shape: rerank cost is O(shortlist² · k), fixed
    * per query regardless of corpus size. The oracle states the same
    * greedy recursion as a recursive CTE carrying the picked set in
    * one accumulating row. */
  val v16MmrRerank: Q = Q(
    "v16_mmr_rerank",
    """WITH RECURSIVE
      |p AS (SELECT embedding::DOUBLE[] AS pv FROM embeddings WHERE vec_id = 0),
      |cand AS (
      |  SELECT vec_id, embedding::DOUBLE[] AS v,
      |         list_dot_product(embedding::DOUBLE[], pv) AS rel
      |  FROM embeddings, p WHERE vec_id != 0
      |  ORDER BY rel DESC, vec_id LIMIT 20),
      |sel AS (
      |  SELECT 0 AS step, CAST([] AS BIGINT[]) AS picked, CAST([] AS DOUBLE[][]) AS pvecs
      |  UNION ALL
      |  SELECT step + 1, list_append(picked, nxt.vec_id), list_append(pvecs, nxt.v)
      |  FROM sel, LATERAL (
      |    SELECT c.vec_id, c.v
      |    FROM cand c
      |    WHERE NOT list_contains(sel.picked, c.vec_id)
      |    ORDER BY c.rel - COALESCE(list_max(
      |        list_transform(sel.pvecs, sv -> list_dot_product(c.v, sv))),
      |        CAST(0 AS DOUBLE)) DESC, c.vec_id
      |    LIMIT 1) nxt
      |  WHERE step < 5),
      |final AS (SELECT picked FROM sel WHERE step = 5),
      |ranks AS (
      |  SELECT unnest(picked) AS vec_id,
      |         generate_subscripts(picked, 1) AS rank FROM final)
      |SELECT CAST(rank AS BIGINT) AS rank, vec_id, rel
      |FROM ranks JOIN cand USING (vec_id) ORDER BY rank""".stripMargin) { (s, d) =>
    val e = emb(s, d)
    val probe = e.filter(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>").as("pv"))
    val cand = Stage.materialize(s,
      e.filter(col("vec_id") =!= 0)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
        .crossJoin(broadcast(probe))
        .select(col("vec_id"), col("v"), dot(col("v"), col("pv")).as("rel"))
        .orderBy(col("rel").desc, col("vec_id"))
        .limit(20), "v16cand")
    // score(c | sel) = rel(c) − max_{s∈sel} ⟨c.v, s.v⟩ (0 for empty sel)
    val simToSel =
      """array_max(transform(sel, s2 ->
        |  aggregate(zip_with(c.v, s2.v, (x, y) -> x * y),
        |    cast(0.0 as double), (a2, x2) -> a2 + x2)))""".stripMargin
    val score = s"(c.rel - coalesce($simToSel, cast(0.0 as double)))"
    val greedy = expr(
      s"""aggregate(
         |  sequence(1, 5),
         |  cast(array() as array<struct<vec_id:bigint, v:array<double>>>),
         |  (sel, step) -> concat(sel, array(
         |    aggregate(
         |      filter(cands, c -> not exists(sel, s -> s.vec_id = c.vec_id)),
         |      cast(null as struct<score:double, vec_id:bigint, v:array<double>>),
         |      (b, c) -> IF(b IS NULL OR $score > b.score
         |          OR ($score = b.score AND c.vec_id < b.vec_id),
         |        named_struct('score', $score, 'vec_id', c.vec_id, 'v', c.v),
         |        b),
         |      bf -> named_struct('vec_id', bf.vec_id, 'v', bf.v)))))""".stripMargin)
    cand
      .agg(collect_list(struct(col("rel"), col("vec_id"), col("v"))).as("cands"))
      .select(posexplode(greedy).as(Seq("pos", "sl")))
      .select((col("pos") + 1).cast("long").as("rank"), col("sl.vec_id").as("vec_id"))
      .join(broadcast(cand.select(col("vec_id"), col("rel"))), "vec_id")
      .select(col("rank"), col("vec_id"), col("rel"))
      .orderBy("rank")
  }

  /** ANN quality evaluation AS A QUERY — recall@20 of the sign-LSH
    * bucket lookup (v03's construction) against the exact cosine
    * top-20 (v01's), computed in one declarative plan: both rankings,
    * their id intersection, and hits/k as a single correctly-rounded
    * division. This is the harness a production vector store runs
    * continuously (approx index vs exact scan on a probe sample) —
    * here it's an oracle-checked catalog citizen, so the measured
    * recall itself is verified, not just eyeballed. Deterministic end
    * to end: seeded planes inline as literals on both engines, ties
    * break on vec_id. Scale: the exact side is the TakeOrdered
    * brute-force pass an evaluation HAS to pay on its probe sample;
    * the approx side scans one bucket. The measured recall on THIS
    * corpus is low (1/20): its vectors are random (max pairwise
    * cosine ~0.5, v04's threshold note), exactly the regime where
    * single-probe sign-LSH is weakest — which is the point of having
    * the evaluation be a first-class query: it EXPOSES that, and
    * swapping in v07's multi-probe IVF raises it (the production
    * iteration loop this entry enables). */
  val v17AnnRecall: Q = Q(
    "v17_ann_recall",
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |b AS (SELECT vec_id, v, ${bucketSql(planes(6), "v")} AS bucket FROM e),
       |p AS (SELECT v AS pv, bucket AS pbucket FROM b WHERE vec_id = 0),
       |exact AS (SELECT vec_id FROM (
       |  SELECT b.vec_id, list_cosine_similarity(b.v, p.pv) AS cs FROM b, p
       |  ORDER BY cs DESC, vec_id LIMIT 20)),
       |approx AS (SELECT vec_id FROM (
       |  SELECT b.vec_id, list_cosine_similarity(b.v, p.pv) AS cs
       |  FROM b, p WHERE b.bucket = p.pbucket
       |  ORDER BY cs DESC, vec_id LIMIT 20)),
       |h AS (SELECT CAST(COUNT(*) AS BIGINT) AS hits
       |      FROM exact JOIN approx USING (vec_id)),
       |k AS (SELECT CAST(COUNT(*) AS BIGINT) AS k FROM exact)
       |SELECT k, hits, CAST(hits AS DOUBLE) / CAST(k AS DOUBLE) AS recall
       |FROM k, h""".stripMargin) { (s, d) =>
    val ps = planes(6)
    val e = Stage.materialize(s,
      emb(s, d)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
        .withColumn("bucket", bucketOf(col("v"), ps)), "v17base")
    val probe = e.filter(col("vec_id") === 0)
      .select(col("v").as("pv"), col("bucket").as("pbucket"))
    val exact = e.crossJoin(broadcast(probe))
      .select(col("vec_id"), cosine(col("v"), col("pv")).as("cs"))
      .orderBy(col("cs").desc, col("vec_id")).limit(20)
      .select("vec_id")
    val approx = e.join(broadcast(probe), col("bucket") === col("pbucket"))
      .select(col("vec_id"), cosine(col("v"), col("pv")).as("cs"))
      .orderBy(col("cs").desc, col("vec_id")).limit(20)
      .select("vec_id")
    exact.agg(count(lit(1)).cast("long").as("k"))
      .crossJoin(exact.join(approx, "vec_id")
        .agg(count(lit(1)).cast("long").as("hits")))
      .select(col("k"), col("hits"),
        (col("hits").cast("double") / col("k").cast("double")).as("recall"))
  }

  /** The other arm of v17's evaluation loop: recall@20 of the
    * multi-probe IVF search (v11's index, nprobe=2 of 8 cells) against
    * the same exact cosine top-20 — the swap-the-index iteration the
    * v17 scaladoc promises, run as another oracle-checked query. On
    * this corpus IVF probes a quarter of the space directed BY the
    * probe's own geometry (vs sign-LSH's fixed hyperplanes) and the
    * measured recall rises accordingly; compare the two entries'
    * outputs to see the index choice quantified. Same determinism
    * story: decimal-exact centroids, fixed-parenthesization distances,
    * vec_id tie-breaks. */
  val v18IvfRecall: Q = Q(
    "v18_ivf_recall",
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |c0 AS (SELECT vec_id AS cell, v AS c FROM e WHERE vec_id < 8),
      |a1 AS (
      |  SELECT vec_id, v, cell FROM (
      |    SELECT e.vec_id, e.v, c0.cell,
      |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
      |        ((list_dot_product(e.v, e.v) - 2 * list_dot_product(e.v, c0.c))
      |          + list_dot_product(c0.c, c0.c)), c0.cell) AS rn
      |    FROM e, c0)
      |  WHERE rn = 1),
      |cd AS (
      |  SELECT cell, pos,
      |    CAST(CAST(CAST(SUM(CAST(x AS DECIMAL(28,8))) AS VARCHAR) AS DOUBLE)
      |         / COUNT(*) AS DOUBLE) AS cx
      |  FROM (SELECT cell, unnest(v) AS x, generate_subscripts(v, 1) AS pos FROM a1)
      |  GROUP BY cell, pos),
      |c1 AS (SELECT cell, list(cx ORDER BY pos) AS c FROM cd GROUP BY cell),
      |a2 AS (
      |  SELECT vec_id, v, cell FROM (
      |    SELECT e.vec_id, e.v, c1.cell,
      |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
      |        ((list_dot_product(e.v, e.v) - 2 * list_dot_product(e.v, c1.c))
      |          + list_dot_product(c1.c, c1.c)), c1.cell) AS rn
      |    FROM e, c1)
      |  WHERE rn = 1),
      |p AS (SELECT v AS pv FROM e WHERE vec_id = 0),
      |pc AS (
      |  SELECT cell FROM (
      |    SELECT c1.cell,
      |      row_number() OVER (ORDER BY
      |        ((list_dot_product(p.pv, p.pv) - 2 * list_dot_product(p.pv, c1.c))
      |          + list_dot_product(c1.c, c1.c)), c1.cell) AS rn
      |    FROM c1, p)
      |  WHERE rn <= 2),
      |approx AS (SELECT vec_id FROM (
      |  SELECT a2.vec_id, list_cosine_similarity(a2.v, p.pv) AS cs
      |  FROM a2 JOIN pc USING (cell), p
      |  ORDER BY cs DESC, vec_id LIMIT 20)),
      |exact AS (SELECT vec_id FROM (
      |  SELECT e.vec_id, list_cosine_similarity(e.v, p.pv) AS cs FROM e, p
      |  ORDER BY cs DESC, vec_id LIMIT 20)),
      |h AS (SELECT CAST(COUNT(*) AS BIGINT) AS hits
      |      FROM exact JOIN approx USING (vec_id)),
      |k AS (SELECT CAST(COUNT(*) AS BIGINT) AS k FROM exact)
      |SELECT k, hits, CAST(hits AS DOUBLE) / CAST(k AS DOUBLE) AS recall
      |FROM k, h""".stripMargin) { (s, d) =>
    val (e0, c1, cells0) = ivfPortableIndex(s, d)
    val e = Stage.materialize(s, e0, "v18e")
    val cells = Stage.materialize(s, cells0, "v18cells")
    val probe = e.filter(col("vec_id") === 0).select(col("v").as("pv"))
    val probed = ivfProbeCells(c1, probe, 2)
    val approx = cells.join(broadcast(probed), "cell")
      .crossJoin(broadcast(probe))
      .select(col("vec_id"), cosine(col("v"), col("pv")).as("cs"))
      .orderBy(col("cs").desc, col("vec_id")).limit(20)
      .select("vec_id")
    val exact = e.crossJoin(broadcast(probe))
      .select(col("vec_id"), cosine(col("v"), col("pv")).as("cs"))
      .orderBy(col("cs").desc, col("vec_id")).limit(20)
      .select("vec_id")
    exact.agg(count(lit(1)).cast("long").as("k"))
      .crossJoin(exact.join(approx, "vec_id")
        .agg(count(lit(1)).cast("long").as("hits")))
      .select(col("k"), col("hits"),
        (col("hits").cast("double") / col("k").cast("double")).as("recall"))
  }

  /** BINARY (sign-bit) quantization — the third compression point on
    * the v10 (int8) / v15 (PQ) curve, and the cheapest: 64 dims → 64
    * BITS (32× smaller than float32), distance = Hamming via
    * xor + popcount, the SIMD-friendly primitive every binary-embedding
    * store ships. Signatures pack as TWO 32-bit words (bit 63 is not
    * representable by a portable `1 << 63` — DuckDB range-checks the
    * shift — and a real store packs ⌈d/64⌉ words anyway, so the
    * two-word form IS the general shape; the packing fold is exact
    * integer addition of distinct powers). Search is the v12 certified
    * pattern: Hamming shortlist of 64 (tie-broken by vec_id), exact
    * double cosine rerank of the survivors, top-10 reported. For sign
    * quantization E[hamming]/d estimates angle/π — the shortlist is a
    * real ANN candidate set, and the rerank makes the reported ranking
    * exact over it. Per-row scan cost is two longs per vector; at
    * 100 TB the signature table is the only thing scanned (32× less
    * IO), with the float vectors fetched for the 64 survivors only. */
  val v19BinarySig: Q = Q(
    "v19_binary_sig",
    """WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
      |s AS (SELECT vec_id, label, v,
      |  CAST(list_sum(list_transform(range(0,32), i ->
      |    CASE WHEN v[CAST(i+1 AS INT)] >= 0 THEN 1::BIGINT << i ELSE 0::BIGINT END)) AS BIGINT) AS lo,
      |  CAST(list_sum(list_transform(range(0,32), i ->
      |    CASE WHEN v[CAST(i+33 AS INT)] >= 0 THEN 1::BIGINT << i ELSE 0::BIGINT END)) AS BIGINT) AS hi
      |  FROM e),
      |p AS (SELECT lo AS plo, hi AS phi, v AS pv FROM s WHERE vec_id = 3),
      |short AS (
      |  SELECT vec_id, label, v, pv,
      |    CAST(bit_count(xor(lo, plo)) + bit_count(xor(hi, phi)) AS INT) AS ham
      |  FROM s, p ORDER BY ham, vec_id LIMIT 64)
      |SELECT vec_id, label, ham, list_cosine_similarity(v, pv) AS cos_sim
      |FROM short ORDER BY cos_sim DESC, vec_id LIMIT 10""".stripMargin) { (s, d) =>
    val pack = (off: Int) => expr(
      s"""aggregate(sequence(0, 31), 0L,
         |  (acc, i) -> acc + if(element_at(v, cast(i + $off as int)) >= 0D,
         |                       shiftleft(1L, cast(i as int)), 0L))""".stripMargin)
    val sigs = emb(s, d)
      .select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("v"))
      .select(col("vec_id"), col("label"), col("v"),
        pack(1).as("lo"), pack(33).as("hi"))
    val probe = sigs.filter(col("vec_id") === 3)
      .select(col("lo").as("plo"), col("hi").as("phi"), col("v").as("pv"))
    val short = sigs.crossJoin(broadcast(probe))
      .select(col("vec_id"), col("label"), col("v"), col("pv"),
        (bit_count(expr("lo ^ plo")) + bit_count(expr("hi ^ phi")))
          .cast("int").as("ham"))
      .orderBy(col("ham").asc, col("vec_id").asc)
      .limit(64)
    short
      .select(col("vec_id"), col("label"), col("ham"),
        cosine(col("v"), col("pv")).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
      .limit(10)
  }

  /** IVF-PQ — the two halves of a production vector store COMPOSED:
    * v11's coarse quantizer routes the probe to its nprobe=3 nearest
    * cells, v15's product-quantization ADC scores ONLY the vectors in
    * those cells, the top-50 ADC shortlist gets an exact-dot rerank,
    * top 20 returned. This is the layout a 100 TB store actually
    * deploys (FAISS IVF+PQ family): coarse cells bound the scan, PQ
    * bounds the bytes per scanned vector, exact rerank bounds the
    * approximation — here ~3/8 of the corpus is ADC-scored at 8 bytes
    * of codes per vector and only 50 rows ever touch full floats
    * again.
    *
    * One honest divergence from textbook IVF-PQ, chosen deliberately:
    * production encodes PER-CELL RESIDUALS (v − coarse centroid);
    * here the codebooks are corpus-global over raw sub-vectors (the
    * IVFFlat + PQ-rerank hybrid, also a real deployment), because
    * residual encoding couples the codebooks to the coarse assignment
    * and this composition keeps BOTH components in the exact
    * cross-engine-deterministic forms v11 and v15 already prove —
    * every distance, argmin, and fold is bit-identical in DuckDB, so
    * the composed shortlist and rerank are hash-green, not
    * recall-compared.
    *
    * Scale shape: centroids + codebooks + LUT broadcast; the only
    * joins against corpus-sized relations are co-partitioned on
    * vec_id; ADC work ∝ probed-cell volume, never the corpus. */
  val v20IvfPq: Q = Q(
    "v20_ivf_pq",
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |cc0 AS (SELECT vec_id AS cell, v AS c FROM e WHERE vec_id < 8),
       |ca1 AS (SELECT vec_id, v, cell FROM (
       |    SELECT e.vec_id, e.v, cc0.cell,
       |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
       |        ((list_dot_product(e.v, e.v) - 2 * list_dot_product(e.v, cc0.c))
       |          + list_dot_product(cc0.c, cc0.c)), cc0.cell) AS rn
       |    FROM e, cc0) WHERE rn = 1),
       |ccd AS (SELECT cell, pos, ${Det.sqlAvg("x")} AS cx
       |  FROM (SELECT cell, unnest(v) AS x, generate_subscripts(v, 1) AS pos FROM ca1)
       |  GROUP BY cell, pos),
       |cc1 AS (SELECT cell, list(cx ORDER BY pos) AS c FROM ccd GROUP BY cell),
       |ca2 AS (SELECT vec_id, cell FROM (
       |    SELECT e.vec_id, cc1.cell,
       |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
       |        ((list_dot_product(e.v, e.v) - 2 * list_dot_product(e.v, cc1.c))
       |          + list_dot_product(cc1.c, cc1.c)), cc1.cell) AS rn
       |    FROM e, cc1) WHERE rn = 1),
       |p AS (SELECT v AS pv FROM e WHERE vec_id = 5),
       |pc AS (SELECT cell FROM (
       |    SELECT cc1.cell, row_number() OVER (ORDER BY
       |      ((list_dot_product(p.pv, p.pv) - 2 * list_dot_product(p.pv, cc1.c))
       |        + list_dot_product(cc1.c, cc1.c)), cc1.cell) AS rn
       |    FROM cc1, p) WHERE rn <= 3),
       |incell AS (SELECT ca2.vec_id, ca2.cell FROM ca2 JOIN pc USING (cell)),
       |sub AS (SELECT vec_id, m, v[m*8+1 : m*8+8] AS s
       |        FROM e, (SELECT unnest(range(0, 8)) AS m)),
       |samp AS (SELECT * FROM sub WHERE vec_id % 20 = 0 AND vec_id < 65536),
       |qc0 AS (SELECT m, vec_id AS code, s AS c FROM samp WHERE vec_id < 320),
       |qa1 AS (SELECT vec_id, m, code, s FROM (
       |    SELECT samp.vec_id, samp.m, qc0.code, samp.s,
       |      row_number() OVER (PARTITION BY samp.vec_id, samp.m ORDER BY
       |        ((list_dot_product(samp.s, samp.s) - 2 * list_dot_product(samp.s, qc0.c))
       |          + list_dot_product(qc0.c, qc0.c)), qc0.code) AS rn
       |    FROM samp JOIN qc0 ON samp.m = qc0.m) WHERE rn = 1),
       |qcd AS (SELECT m, code, pos, ${Det.sqlAvg("x")} AS cx
       |  FROM (SELECT m, code, unnest(s) AS x, generate_subscripts(s, 1) AS pos FROM qa1)
       |  GROUP BY m, code, pos),
       |qc1 AS (SELECT m, code, list(cx ORDER BY pos) AS c FROM qcd GROUP BY m, code),
       |codes AS (SELECT vec_id, m, code FROM (
       |    SELECT sub.vec_id, sub.m, qc1.code,
       |      row_number() OVER (PARTITION BY sub.vec_id, sub.m ORDER BY
       |        ((list_dot_product(sub.s, sub.s) - 2 * list_dot_product(sub.s, qc1.c))
       |          + list_dot_product(qc1.c, qc1.c)), qc1.code) AS rn
       |    FROM sub JOIN qc1 ON sub.m = qc1.m
       |    WHERE sub.vec_id IN (SELECT vec_id FROM incell)) WHERE rn = 1),
       |psub AS (SELECT m, s AS p_s FROM sub WHERE vec_id = 5),
       |lut AS (SELECT qc1.m, qc1.code, list_dot_product(qc1.c, psub.p_s) AS lv
       |        FROM qc1 JOIN psub ON qc1.m = psub.m),
       |adc AS (SELECT codes.vec_id,
       |          list_dot_product(list(lut.lv ORDER BY lut.m),
       |            [1.0, 1.0, 1.0, 1.0, 1.0, 1.0, 1.0, 1.0]) AS qdot
       |        FROM codes JOIN lut ON codes.m = lut.m AND codes.code = lut.code
       |        GROUP BY codes.vec_id),
       |short AS (SELECT vec_id, qdot FROM adc ORDER BY qdot DESC, vec_id LIMIT 50)
       |SELECT vec_id, cell, qdot, list_dot_product(e.v, p.pv) AS score
       |FROM short JOIN e USING (vec_id) JOIN incell USING (vec_id), p
       |ORDER BY score DESC, vec_id LIMIT 20""".stripMargin) { (s, d) =>
    val (e, coarse, cells) = ivfPortableIndex(s, d)
    val probe = e.filter(col("vec_id") === 5).select(col("v").as("pv"))
    val probed = ivfProbeCells(coarse, probe, 3)
    val incell = cells.join(broadcast(probed), "cell")
      .select(col("vec_id"), col("cell"))
    val (_, subs, cb, assign) = pqCodebooks(s, d)
    val subsIn = subs.join(incell.select("vec_id"), "vec_id")
    val codes = assign(subsIn, cb).select("vec_id", "m", "code")
    val psub = subs.filter(col("vec_id") === 5)
      .select(col("m"), col("s").as("p_s"))
    val lut = cb.join(broadcast(psub), Seq("m"))
      .select(col("m"), col("code"), dot(col("c"), col("p_s")).as("lv"))
    val adc = codes.join(broadcast(lut), Seq("m", "code"))
      .groupBy("vec_id")
      .agg(array_sort(collect_list(struct(col("m"), col("lv")))).as("ml"))
      .select(col("vec_id"),
        aggregate(transform(col("ml"), x => x.getField("lv")),
          lit(0.0), (a, x) => a + x).as("qdot"))
    val short = adc.orderBy(col("qdot").desc, col("vec_id")).limit(50)
    short.join(e, "vec_id").join(incell, "vec_id")
      .crossJoin(broadcast(probe))
      .select(col("vec_id"), col("cell"), col("qdot"),
        dot(col("v"), col("pv")).as("score"))
      .orderBy(col("score").desc, col("vec_id"))
      .limit(20)
  }

  /** FILTERED vector search — top-k under a metadata predicate, the
    * production retrieval shape every vector store ships (Qdrant/
    * Vespa/pgvector "filtered ANN"): "nearest English docs of at least
    * 200 chars", where the predicate lives on the documents DIM table,
    * not the vector table. Strategy here is PRE-FILTER, the exact one:
    * resolve the predicate on the skinny metadata table, semi-join the
    * allowed ids into the vector scan — UNHINTED, deliberately. The
    * allow set is fact-proportional (~30% of docs), so the first cut's
    * pinned broadcast() grew into a forced ~120 MB broadcast at the
    * 1000× step; unhinted, the planner broadcasts at small scales and
    * flips to a shuffle semi join at sf100 (measured: 14.3 s vs 8.7 s
    * forced-broadcast on ONE 48 g box, where 120 MB still fits — but
    * the forced plan is the one that stops existing on a real
    * fleet-sized allow set, and when the flip costs more than it
    * should, that is Spark telling you the predicate belongs
    * CO-LOCATED with the vectors, the layout production stores use) —
    * then
    * exact cosine + TakeOrdered over survivors. Chosen over
    * POST-filter (ANN shortlist → apply predicate), which silently
    * under-fills k when the predicate is selective — the classic
    * filtered-ANN recall trap; with the filter pushed into the scan,
    * exactness costs one pass over the SURVIVORS only, and the v07/v11
    * cell-pruning composes on top when even that pass is too big. */
  val v21FilteredAnn: Q = Q(
    "v21_filtered_ann",
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |p AS (SELECT v AS pv FROM e WHERE vec_id = 0),
      |allowed AS (SELECT doc_id FROM documents WHERE lang = 'en' AND n_chars >= 200)
      |SELECT e.vec_id, list_cosine_similarity(e.v, p.pv) AS cos_sim
      |FROM e JOIN allowed a ON e.vec_id = a.doc_id, p
      |ORDER BY cos_sim DESC, vec_id LIMIT 10""".stripMargin) { (s, d) =>
    val e = emb(s, d)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val allowed = Tables.t(s, d, "documents")
      .filter(col("lang") === "en" && col("n_chars") >= 200)
      .select(col("doc_id"))
    val probe = e.filter(col("vec_id") === 0).select(col("v").as("pv"))
    e.join(allowed, col("vec_id") === col("doc_id"), "left_semi")
      .crossJoin(broadcast(probe))
      .select(col("vec_id"), cosine(col("v"), col("pv")).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
      .limit(10)
  }

  /** The POST-FILTER side of v21's tradeoff, measured as data — the
    * v17/v18 swap-the-index evaluation discipline applied to filtered
    * search: take the unfiltered top-20 shortlist (what an ANN index
    * returns when the engine cannot push the predicate), apply the
    * predicate AFTER, and score it against v21's exact pre-filtered
    * top-10. `filled` shows the under-fill (a selective predicate
    * leaves fewer than k survivors in any fixed shortlist) and
    * `recall` what fraction of the true answer survived — the number
    * a production team looks at before choosing shortlist
    * over-fetch vs predicate pushdown. All counts integer-exact; one
    * division at the end. */
  val v22FilteredRecall: Q = Q(
    "v22_filtered_recall",
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |p AS (SELECT v AS pv FROM e WHERE vec_id = 0),
      |allowed AS (SELECT doc_id FROM documents WHERE lang = 'en' AND n_chars >= 200),
      |exact AS (SELECT vec_id FROM (
      |  SELECT e.vec_id, list_cosine_similarity(e.v, p.pv) AS cs
      |  FROM e JOIN allowed a ON e.vec_id = a.doc_id, p
      |  ORDER BY cs DESC, vec_id LIMIT 10)),
      |short AS (SELECT vec_id FROM (
      |  SELECT e.vec_id, list_cosine_similarity(e.v, p.pv) AS cs FROM e, p
      |  ORDER BY cs DESC, vec_id LIMIT 20)),
      |post AS (SELECT s.vec_id FROM short s JOIN allowed a ON s.vec_id = a.doc_id),
      |kk AS (SELECT CAST(COUNT(*) AS BIGINT) AS k FROM exact),
      |ff AS (SELECT CAST(COUNT(*) AS BIGINT) AS filled FROM post),
      |hh AS (SELECT CAST(COUNT(*) AS BIGINT) AS hits
      |       FROM exact JOIN post USING (vec_id))
      |SELECT k, filled, hits,
      |  CAST(hits AS DOUBLE) / CAST(k AS DOUBLE) AS recall
      |FROM kk, ff, hh""".stripMargin) { (s, d) =>
    val e = emb(s, d)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val allowed = Tables.t(s, d, "documents")
      .filter(col("lang") === "en" && col("n_chars") >= 200)
      .select(col("doc_id"))
    val probe = e.filter(col("vec_id") === 0).select(col("v").as("pv"))
    val exact = e.join(allowed, col("vec_id") === col("doc_id"), "left_semi")
      .crossJoin(broadcast(probe))
      .select(col("vec_id"), cosine(col("v"), col("pv")).as("cs"))
      .orderBy(col("cs").desc, col("vec_id")).limit(10)
      .select("vec_id")
    val short = e.crossJoin(broadcast(probe))
      .select(col("vec_id"), cosine(col("v"), col("pv")).as("cs"))
      .orderBy(col("cs").desc, col("vec_id")).limit(20)
      .select("vec_id")
    val post = short.join(allowed, col("vec_id") === col("doc_id"), "left_semi")
    exact.agg(count(lit(1)).cast("long").as("k"))
      .crossJoin(post.agg(count(lit(1)).cast("long").as("filled")))
      .crossJoin(exact.join(post, "vec_id").agg(count(lit(1)).cast("long").as("hits")))
      .select(col("k"), col("filled"), col("hits"),
        (col("hits").cast("double") / col("k").cast("double")).as("recall"))
  }

  /** v21's semi join at fleet scale, with the SHUFFLE WIDTH fixed. When
    * the allow set outgrows a broadcast, v21's unhinted plan becomes a
    * shuffle semi join whose probe side carries (vec_id, v) — the
    * 8-byte-per-dim vectors themselves cross the wire (sf100: 9 s of
    * the 14.3 s ladder step is that exchange). The cosine does not
    * depend on the predicate, so score FIRST and semi-join the scores:
    * the exchanged rows shrink to (8 B id, 8 B score) — ~16 B/row
    * instead of ~520 B — and the extra cosines computed on disallowed
    * vectors are codegen'd flops against a column already in cache,
    * the cheap side of the trade at any scale where the shuffle is the
    * bottleneck.
    *
    * The catch, and why the repartition is load-bearing:
    * PushDownLeftSemiAntiJoin rewrites Join(Project(scan), dim) to
    * Project(Join(scan, dim)) — Catalyst would undo the score-first
    * ordering and put the vectors right back in the exchange. The rule
    * pushes through Project/Aggregate/Window/Union but NOT through a
    * user Repartition, so `repartition(vec_id)` pins the projection
    * below the join — and the exchange it introduces is not extra
    * work at scale: it IS the semi join's required left-side
    * hashpartitioning (AQE reuses it; `allowed` exchanges opposite).
    * Same rows as v21, same oracle; SimilaritySpec asserts no vector
    * column below this plan's exchange. */
  val v23FilteredAnnSlim: Q = Q(
    "v23_filtered_ann_slim",
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |p AS (SELECT v AS pv FROM e WHERE vec_id = 0),
      |allowed AS (SELECT doc_id FROM documents WHERE lang = 'en' AND n_chars >= 200)
      |SELECT e.vec_id, list_cosine_similarity(e.v, p.pv) AS cos_sim
      |FROM e JOIN allowed a ON e.vec_id = a.doc_id, p
      |ORDER BY cos_sim DESC, vec_id LIMIT 10""".stripMargin) { (s, d) =>
    val e = emb(s, d)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val allowed = Tables.t(s, d, "documents")
      .filter(col("lang") === "en" && col("n_chars") >= 200)
      .select(col("doc_id"))
    val probe = e.filter(col("vec_id") === 0).select(col("v").as("pv"))
    e.crossJoin(broadcast(probe))
      .select(col("vec_id"), cosine(col("v"), col("pv")).as("cos_sim"))
      .repartition(col("vec_id"))
      .join(allowed, col("vec_id") === col("doc_id"), "left_semi")
      .orderBy(col("cos_sim").desc, col("vec_id"))
      .limit(10)
  }

  val all: Seq[Q] = Seq(v01CosineTopK, v02DotTopK, v03AnnLshBucket,
    v04EmbeddingNearDup, v05CosineTopKNative, v06AnnIvf, v07AnnPartitionPruned,
    v08LabelCentroids, v09KmeansPortable, v10QuantizedDot, v11IvfPortable,
    v12CertifiedRerank, v13MaxipLsh, v14BatchedAnn, v15PqAdc, v16MmrRerank,
    v17AnnRecall, v18IvfRecall, v19BinarySig, v20IvfPq, v21FilteredAnn,
    v22FilteredRecall, v23FilteredAnnSlim)
}
