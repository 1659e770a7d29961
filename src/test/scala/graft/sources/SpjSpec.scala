package graft.sources

import graft.{GraftSession, SparkTestBase}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The storage-partitioned-join contract (i21 / KeyedSource): with both
  * scans reporting KeyGroupedPartitioning over the same bucket key and
  * v2 bucketing enabled, the equi join plans with ZERO exchanges; with
  * the conf off, the same query shuffles both sides — proving the
  * absence came from the reported partitioning, not from the data being
  * small. */
class SpjSpec extends AnyFunSuite {
  private lazy val s = SparkTestBase.spark
  private val d = SparkTestBase.sfDir

  private def writeInputs(): String = {
    val dir = graft.TempDirs.newTempDir("graft_spj_spec_")
    graft.Tables.t(s, d, "orders")
      .select(col("o_custkey"), col("o_totalprice"), lit("-"))
      .write.option("header", "false").csv(s"$dir/orders")
    graft.Tables.t(s, d, "customer")
      .select(col("c_custkey"), col("c_acctbal"), col("c_mktsegment"))
      .write.option("header", "false").csv(s"$dir/customer")
    dir
  }

  private def joined(dir: String): DataFrame = {
    def keyed(sub: String) = s.read
      .format("graft.sources.KeyedSourceProvider")
      .option("path", s"$dir/$sub").option("buckets", "8").load()
    keyed("orders").select(col("k"), col("num").as("o_num"), col("bucket"))
      .join(keyed("customer").select(col("k"), col("tag"), col("bucket")),
        Seq("bucket", "k"))
  }

  private def shuffles(df: DataFrame): Int = {
    df.collect() // finalize AQE
    GraftSession.flattenPlan(df.queryExecution.executedPlan)
      .count(_.isInstanceOf[ShuffleExchangeLike])
  }

  test("co-reported partitioning joins with zero exchanges; conf off shuffles") {
    val dir = writeInputs()
    val confs = Seq(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      // the join clusters on (bucket, k); the reported partition key is
      // only (bucket) — allow co-partitioning on the subset
      "spark.sql.requireAllClusterKeysForCoPartition" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val saved = confs.map { case (k, _) => k -> s.conf.get(k) }
    confs.foreach { case (k, v) => s.conf.set(k, v) }
    val (spjRows, spjShuffles) = try {
      val df = joined(dir)
      val n = shuffles(df)
      (df.collect().map(_.toSeq).toSet, n)
    } finally saved.foreach { case (k, v) => s.conf.set(k, v) }
    assert(spjShuffles == 0,
      s"storage-partitioned join still shuffled ($spjShuffles exchanges)")

    // conf off (broadcast still disabled): same rows, but exchanges return.
    // Restore the SAVED value (not unset) so a harness-pinned threshold
    // on the shared session survives this test.
    val savedThreshold = s.conf.get("spark.sql.autoBroadcastJoinThreshold")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val (offRows, offShuffles) = try {
      val df = joined(dir)
      (df.collect().map(_.toSeq).toSet, shuffles(df))
    } finally s.conf.set("spark.sql.autoBroadcastJoinThreshold", savedThreshold)
    assert(offShuffles > 0, "without v2 bucketing the join should shuffle")
    assert(spjRows == offRows, "SPJ changed the join result")
    assert(spjRows.nonEmpty, "empty join — assertions vacuous")
  }

  test("bucket-placed dirs outside the reader's bucket range fail loudly") {
    // A writer bucketed wider (bucket=8 exists) than the reader's
    // buckets=8 option: silent row loss before; now a planning error.
    val dir = graft.TempDirs.newTempDir("graft_spj_stray_")
    def put(sub: String, line: String): Unit = {
      val p = java.nio.file.Paths.get(dir, sub)
      java.nio.file.Files.createDirectories(p)
      java.nio.file.Files.write(p.resolve("part0.csv"),
        java.util.Arrays.asList(line))
    }
    put("t/bucket=0", "1,10.0,-")
    put("t/bucket=8", "9,90.0,-")
    val ex = intercept[Exception] {
      s.read.format("graft.sources.KeyedSourceProvider")
        .option("path", s"$dir/t").option("buckets", "8").load().collect()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(ex).exists(_.contains("outside [0, 8)")), s"got: $ex")
  }
}
