package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

/** The one way to build a graft session: `local[cpus]` with the settings
  * the catalog is measured under, and the graft engine installed. Bench,
  * Verify, Smoke, Explain, PlanAudit, Probe and the test suite all come
  * through here, so a setting cannot drift between them. */
object GraftSession {
  /** `SPARK_GRAFT_CPUS`, else every core the JVM sees. */
  def defaultCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def apply(cpus: Int = defaultCpus): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      // Reduce-side width is ADAPTIVE, not fixed: shuffles START at 512
      // partitions and AQE coalesces down from runtime stats (to ~cores
      // at bench SF, so small-scale plans are unchanged). A fixed
      // `shuffle.partitions = cores` capped every reduce side at 32
      // regardless of volume; at the 1000x step that put ~19M fact rows
      // into each sort-merge task and the spill took q51 from ~50 s
      // expected to 279 s measured (87 s with this setting), q70 from
      // 275 to 163 s. Deliberately-sized scopes pin BOTH keys through
      // graft.Widths.withWidth.
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum", "512")
      // Cached/checkpointed blocks that spill to disk are serialized but
      // UNCOMPRESSED by default (spark.rdd.compress=false); the graph
      // kernels pin corpus-sized edge tables via localCheckpoint, and at
      // the 1000x step p05's ~1G-row edge pin + build shuffles exhausted
      // the box's 65 GB of scratch ("no space left on device", entry
      // dead). lz4-compressing cached blocks (2-4x on id tables) is the
      // standard knob for exactly this and costs only block-access CPU.
      .config("spark.rdd.compress", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      // The generated-class cache defaults to 100 entries; a 137-query
      // catalog compiles far more distinct codegen classes than that, so
      // the cache thrashes and queries pay Janino recompilation on every
      // pass (measured on the dedup subset: d05 3.5 -> 2.1 s, d04/d07
      // -25% with the cache sized to hold the whole catalog).
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      // ContextCleaner reclaims shuffle files / broadcast blocks only
      // when the driver GCs their references; the default periodic-GC
      // interval is 30 MINUTES, so a multi-query session accumulates
      // pending blocks and later queries lose execution memory to them
      // and spill. Measured at sf10 (10x bench data): a q66 pass run
      // after one prior catalog pass took 66.8 s vs 29.4 s cold; with
      // the cleaner actually running it is 10.9 s. This is also the
      // round-8 "streaming tier drift" root cause: as the catalog grew,
      // every entry ran behind more un-reclaimed garbage. A long-lived
      // production session at 100 TB needs the same pressure.
      .config("spark.cleaner.periodicGC.interval", "45s")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.plans.GraftEngine.install(spark)
    spark
  }

  /** Every node of an executed plan. AQE wrappers (AdaptiveSparkPlanExec /
    * QueryStageExec) are LEAF nodes hiding the real tree — unwrap them
    * wherever they appear, including the root. Includes subqueries. */
  def flattenPlan(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => flattenPlan(a.executedPlan)
    case q: QueryStageExec => flattenPlan(q.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(flattenPlan)
  }
}
