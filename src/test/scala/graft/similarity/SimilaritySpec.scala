package graft.similarity

import graft.{GraftSession, SparkTestBase}
import org.scalatest.funsuite.AnyFunSuite

class SimilaritySpec extends AnyFunSuite {
  private lazy val s = SparkTestBase.spark
  private val d = SparkTestBase.sfDir

  test("brute-force cosine top-k leads with the probe itself at exactly 1.0") {
    val top = SimilarityQueries.v01CosineTopK.fn(s, d).collect()
    assert(top.head.getLong(0) == 0L, "vec_id 0 is the probe")
    assert(top.head.getDouble(2) == 1.0, "self-similarity must clamp to exactly 1.0")
    val sims = top.map(_.getDouble(2)).toSeq
    assert(sims == sims.sorted.reverse, "descending by similarity")
    assert(sims.forall(v => v >= -1.0 && v <= 1.0))
  }

  test("MIPS norm augmentation equalizes norms and ranks bucket mates by exact dot") {
    import org.apache.spark.sql.functions._
    // the reduction's defining property: every augmented vector has
    // norm² = M² up to one sqrt + one square of rounding
    val e = graft.Tables.t(s, d, "embeddings")
      .select(col("embedding").cast("array<double>").as("v"))
      .withColumn("n2", expr("aggregate(zip_with(v, v, (x, y) -> x * y), 0.0d, (a, x) -> a + x)"))
    val m2 = e.agg(max(col("n2"))).head().getDouble(0)
    val worst = e.select(max(abs(
      (col("n2") + pow(sqrt(lit(m2) - col("n2")), 2)) - lit(m2)))).head().getDouble(0)
    assert(worst <= 1e-9 * m2, s"augmented norm drifted: $worst vs m2=$m2")
    // the entry's output is ordered by true inner product, probe first
    // (the probe's self-dot ‖p‖² is not necessarily the max IP, but the
    // bucket must contain the probe itself)
    val rows = SimilarityQueries.v13MaxipLsh.fn(s, d).collect()
    assert(rows.nonEmpty && rows.map(_.getLong(0)).contains(0L),
      "probe missing from its own bucket")
    val ips = rows.map(_.getDouble(2)).toSeq
    assert(ips == ips.sorted.reverse, "descending by inner product")
  }

  test("batched ANN serves every probe and gets the auto heap prune") {
    val df = SimilarityQueries.v14BatchedAnn.fn(s, d)
    val rows = df.collect() // finalize AQE before inspecting the plan
    // the row_number()<=5 idiom must hand per-partition pruning to the
    // engine's LocalTopK (q48's rule, firing on a real workload)
    assert(GraftSession.flattenPlan(df.queryExecution.executedPlan)
      .exists(_.isInstanceOf[graft.plans.LocalTopKPerGroupExec]),
      "AutoLocalTopK did not fire on the batched-ANN window filter")
    // every probe answers (its own bucket always contains itself), in
    // rank order, at most 5 deep
    val byProbe = rows.groupBy(_.getLong(0))
    assert(byProbe.keySet == (0L until 8L).toSet, s"probes missing: ${byProbe.keySet}")
    byProbe.foreach { case (p, rs) =>
      assert(rs.length <= 5 && rs.map(_.getLong(3)).toSeq == (1L to rs.length),
        s"probe $p ranks broken")
    }
  }

  test("LSH bucket lookup returns a subset of brute force, probe first") {
    val bucket = SimilarityQueries.v03AnnLshBucket.fn(s, d).collect()
    assert(bucket.nonEmpty && bucket.head.getLong(0) == 0L,
      "the probe's own bucket always contains the probe")
    assert(bucket.head.getDouble(2) == 1.0)
  }

  test("partitioned ANN lookup plans a partition-PRUNED scan") {
    val df = SimilarityQueries.v07AnnPartitionPruned.fn(s, d)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("bucket"),
      s"expected a bucket partition filter on the scan:\n$plan")
    val rows = df.collect()
    assert(rows.nonEmpty && rows.head.getLong(0) == 0L && rows.head.getDouble(2) == 1.0)
    assert(rows.map(r => r.get(1).toString).distinct.length == 1,
      "only the probe's cell is read")
  }

  test("near-dup pair mining reports only pairs above threshold, i < j") {
    val pairs = SimilarityQueries.v04EmbeddingNearDup.fn(s, d).collect()
    pairs.foreach { r =>
      assert(r.getLong(0) < r.getLong(1))
      assert(r.getDouble(2) >= 0.4 && r.getDouble(2) <= 1.0)
    }
  }

  test("int8-quantized top-20 recalls most of the exact dot top-20") {
    // The quantized SCORES are oracle-hash-checked by the v10 entry; this
    // bounds the statistical property the hash can't see: how much of
    // the true (float) ranking the 4x-compressed representation keeps.
    // 64 dims at int8 => worst-case per-dot error ~ dims * (scale/2)^2
    // territory; empirically recall is near-perfect on gaussian data.
    import org.apache.spark.sql.functions._
    val e = graft.Tables.t(s, d, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val probe = e.filter(col("vec_id") === 0).select(col("v").as("pv"))
    val dot = aggregate(zip_with(col("v"), col("pv"), (x, y) => x * y),
      lit(0.0), (acc, x) => acc + x)
    val exact = e.crossJoin(broadcast(probe))
      .select(col("vec_id"), dot.as("score"))
      .orderBy(col("score").desc, col("vec_id")).limit(20)
      .collect().map(_.getLong(0)).toSet
    val quant = SimilarityQueries.v10QuantizedDot.fn(s, d).collect()
      .map(_.getLong(0)).toSet
    val recall = (exact & quant).size
    assert(recall >= 15, s"quantized top-20 kept only $recall/20 of exact top-20")
  }

  test("v23 slim filtered ANN: same rows as v21, vectors never cross a shuffle") {
    val v21 = SimilarityQueries.v21FilteredAnn.fn(s, d).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    def check(): Unit = {
      val df = SimilarityQueries.v23FilteredAnnSlim.fn(s, d)
      val got = df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(got == v21, "v23 must return exactly v21's answer")
      val shuffled = GraftSession.flattenPlan(df.queryExecution.executedPlan)
        .collect {
          case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike =>
            e.child.output }
      assert(shuffled.nonEmpty, "the repartition barrier must survive planning")
      assert(shuffled.forall(_.forall(a =>
        !a.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType])),
        "an embedding column crossed a shuffle — the score-first projection " +
          s"was pushed back above the semi join:\n${df.queryExecution}")
    }
    check() // broadcast regime: allow set broadcasts, exchange carries scores
    // beyond-broadcast regime (the sf100 shape): the semi join must plan a
    // shuffle strategy and STILL move only (id, score) rows
    val thr = s.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val athr = s.conf.get("spark.sql.adaptive.autoBroadcastJoinThreshold", thr)
    try {
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      s.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      check()
    } finally {
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)
      s.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", athr)
    }
  }
}
