package graft.sources

import graft.{GraftSession, SparkTestBase}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SortExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.joins.SortMergeJoinExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The sorted-layout contract (i26 / KeyedScan with `ordered=true`,
  * Spark's SupportsReportOrdering): a sort-merge join over two scans
  * that report BOTH co-partitioning and per-partition (bucket, k)
  * ordering plans with zero exchanges AND zero sorts; reading the same
  * k-sorted files without the ordering report brings the SortExec pair
  * back — proving the elision came from the report, not the data. Row
  * equality between the two runs pins that the reader actually honors
  * the order it claims (a merge join over mis-sorted streams drops or
  * mismatches rows, it does not error). */
class SortedScanSpec extends AnyFunSuite {
  private lazy val s = SparkTestBase.spark
  private val d = SparkTestBase.sfDir

  private def writeSortedInputs(): String = {
    val dir = graft.TempDirs.newTempDir("graft_sorted_spec_")
    graft.Tables.t(s, d, "orders")
      .select(col("o_custkey"), col("o_totalprice"), lit("-"))
      .orderBy("o_custkey")
      .write.option("header", "false").csv(s"$dir/orders")
    graft.Tables.t(s, d, "customer")
      .select(col("c_custkey"), col("c_acctbal"), col("c_mktsegment"))
      .orderBy("c_custkey")
      .write.option("header", "false").csv(s"$dir/customer")
    dir
  }

  private def joined(dir: String, ordered: Boolean): DataFrame = {
    def keyed(sub: String) = s.read
      .format("graft.sources.KeyedSourceProvider")
      .option("path", s"$dir/$sub").option("buckets", "8")
      .option("ordered", ordered.toString).load()
    keyed("orders").select(col("k"), col("num").as("o_num"), col("bucket"))
      .join(keyed("customer").select(col("k"), col("tag"), col("bucket")),
        Seq("bucket", "k"))
  }

  private def planCounts(df: DataFrame): (Int, Int, Int) = {
    df.collect() // finalize AQE
    val nodes = GraftSession.flattenPlan(df.queryExecution.executedPlan)
    (nodes.count(_.isInstanceOf[ShuffleExchangeLike]),
      nodes.count(_.isInstanceOf[SortExec]),
      nodes.count(_.isInstanceOf[SortMergeJoinExec]))
  }

  test("reported ordering elides the merge-join sorts; without it they come back") {
    val dir = writeSortedInputs()
    val confs = Seq(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.requireAllClusterKeysForCoPartition" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.join.preferSortMergeJoin" -> "true")
    val saved = confs.map { case (k, _) => k -> s.conf.get(k) }
    confs.foreach { case (k, v) => s.conf.set(k, v) }
    try {
      val withReport = joined(dir, ordered = true)
      val (ex1, sort1, smj1) = planCounts(withReport)
      assert(smj1 == 1, "the join must take the sort-merge path")
      assert(ex1 == 0, s"SPJ: expected zero exchanges, got $ex1")
      assert(sort1 == 0,
        s"reported (bucket, k) ordering should satisfy the SMJ requirement, got $sort1 sorts")

      val withoutReport = joined(dir, ordered = false)
      val (ex2, sort2, smj2) = planCounts(withoutReport)
      assert(smj2 == 1 && ex2 == 0)
      assert(sort2 == 2,
        s"without the report EnsureRequirements must sort both sides, got $sort2")

      // same rows either way: the claimed order is real, the merge join
      // consumed it correctly
      val a = withReport.collect().map(_.toSeq).groupBy(identity).view.mapValues(_.length).toMap
      val b = withoutReport.collect().map(_.toSeq).groupBy(identity).view.mapValues(_.length).toMap
      assert(a == b)
      assert(a.nonEmpty)
    } finally saved.foreach { case (k, v) => s.conf.set(k, v) }
  }

  test("bucket-placed layout reads only its own directory and matches the residue layout") {
    val flat = writeSortedInputs()
    val dir = graft.TempDirs.newTempDir("graft_bucketed_spec_")
    def writeBucketed(df: org.apache.spark.sql.DataFrame, sub: String): Unit =
      df.withColumn("bucket", pmod(col("k"), lit(8)).cast("int"))
        .repartition(col("bucket"))
        .sortWithinPartitions("bucket", "k")
        .write.partitionBy("bucket").option("header", "false")
        .csv(s"$dir/$sub")
    writeBucketed(graft.Tables.t(s, d, "orders")
      .select(col("o_custkey").as("k"), col("o_totalprice").as("num"),
        lit("-").as("tag")), "orders")
    writeBucketed(graft.Tables.t(s, d, "customer")
      .select(col("c_custkey").as("k"), col("c_acctbal").as("num"),
        col("c_mktsegment").as("tag")), "customer")
    // the layout is detected: every partition carries only its own files
    val dirs = KeyedSource.bucketDirs(s"$dir/orders")
    assert(dirs.isDefined && dirs.get.nonEmpty)

    val confs = Seq(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.requireAllClusterKeysForCoPartition" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.join.preferSortMergeJoin" -> "true")
    val saved = confs.map { case (k, _) => k -> s.conf.get(k) }
    confs.foreach { case (k, v) => s.conf.set(k, v) }
    try {
      val bucketed = joined(dir, ordered = true)
      val (ex, sort, smj) = planCounts(bucketed)
      assert(smj == 1 && ex == 0 && sort == 0)
      val a = bucketed.collect().map(_.toSeq).groupBy(identity).view.mapValues(_.length).toMap
      val b = joined(flat, ordered = false).collect().map(_.toSeq)
        .groupBy(identity).view.mapValues(_.length).toMap
      assert(a == b)
      assert(a.nonEmpty)
    } finally saved.foreach { case (k, v) => s.conf.set(k, v) }
  }
}
