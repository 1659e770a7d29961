package graft.relational

import graft.{GraftSession, SparkTestBase}
import org.apache.spark.sql.execution.adaptive.AQEShuffleReadExec
import org.scalatest.funsuite.AnyFunSuite

/** AQE's runtime partition right-sizing — the mechanism that makes a
  * static `spark.sql.shuffle.partitions` survivable at any scale: the
  * map stage writes the configured width, then AQE reads the REAL
  * output sizes and coalesces the reduce side to match the data, not
  * the conf. This is the reason the engine can set one width for a
  * 100 TB fact shuffle and not drown a 3-row dim aggregate in 32
  * near-empty tasks (each a scheduler round-trip + state file at
  * streaming scale — see StreamingQueries' width cap for the one place
  * coalescing can't help because the width freezes into the
  * checkpoint). */
class AqeCoalesceSpec extends AnyFunSuite {
  private lazy val s = SparkTestBase.spark
  private val d = SparkTestBase.sfDir

  test("AQE coalesces a small aggregate's shuffle read below the configured width") {
    import org.apache.spark.sql.functions._
    val width = "spark.sql.shuffle.partitions"
    val saved = s.conf.get(width)
    s.conf.set(width, "32") // deliberately oversized for a 25-group agg
    try {
      val df = graft.Tables.t(s, d, "nation")
        .groupBy("n_regionkey").agg(count(lit(1)).as("n"))
      df.collect() // finalize AQE
      val reads = GraftSession.flattenPlan(df.queryExecution.executedPlan)
        .collect { case r: AQEShuffleReadExec => r }
      assert(reads.nonEmpty, "no AQEShuffleRead in the executed plan")
      val parts = reads.map(_.partitionSpecs.length).min
      assert(parts < 32, s"shuffle read not coalesced: $parts partitions of 32")
    } finally s.conf.set(width, saved)
  }
}
