package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths, StandardCopyOption, StandardOpenOption}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ingest.ArticlePipeline

/** The benchmark's JVM side: one closed-loop client driving the engine's
  * public API for one workload, then one JSON record of what it measured.
  *
  * Usage: perfbench.Harness <workload> <seed> <seconds> <trace 0|1> <workDir>
  *          <spansFile> [sfDir entry ...]
  * `perfbench/run.py` builds the classes, makes the inputs, runs this,
  * checks the outputs and prints the metrics. Workloads:
  *  - ingest_incremental: one timer-triggered watermark run per operation;
  *  - ingest_backfill: one 15-page cursor window per operation;
  *  - catalog: one catalog entry per operation, cycling over `entry ...`.
  * `--plant-ge` as the last argument keeps the at-watermark article
  * (`>=` instead of `>`), a deliberately wrong pipeline for the self-test.
  */
object Harness {
  val Cores = 4

  final case class Op(index: Int, name: String, wallS: Double, warmup: Boolean,
      error: Option[String], info: Map[String, String])

  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, workDir, spansFile) = args.take(6)
    val rest = args.drop(6).toSeq
    val plantGe = rest.contains("--plant-ge")
    val seed = seedS.toLong
    val seconds = secondsS.toDouble
    val tracing = traceS == "1"
    val work = Paths.get(workDir).toAbsolutePath
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val tracer = new Tracer(tracing)

    val wl: Workload = workload match {
      case "ingest_incremental" => new Incremental(seed, work, tracer, plantGe)
      case "ingest_backfill" => new Backfill(seed, work, tracer)
      case "catalog" =>
        val args = rest.filterNot(_.startsWith("--"))
        new Catalog(args.head, args.tail, work, tracer)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    wl.prepare()

    val ops = mutable.ArrayBuffer.empty[Op]
    var spark: SparkSession = null
    // Set-up, three times: a fresh session with Bench's settings, the
    // engine install, and one operation. The first also pays JVM start;
    // setup_s is the median of the three.
    val jvmStartNs = System.nanoTime() - (System.currentTimeMillis() - jvmStartMs) * 1000000L
    val setups = (0 until 3).map { k =>
      val t0 = if (k == 0) jvmStartNs else System.nanoTime()
      if (spark != null) spark.stop()
      spark = Session.build(work)
      graft.plans.GraftEngine.install(spark)
      tracer.attach(spark)
      ops += wl.run(spark, ops.size, warmup = true, capture = false)
      (System.nanoTime() - t0) / 1e9
    }
    // Warm-up on the session that is measured, until the JIT settles.
    for (_ <- 0 until wl.warmupOps)
      ops += wl.run(spark, ops.size, warmup = true, capture = true)
    val firstTimedOpS = (System.nanoTime() - jvmStartNs) / 1e9

    // Measured closed loop: the next operation starts when the previous
    // one has committed, until the workload has measured `seconds`.
    tracer.reset()
    wl.startMeasure()
    val start = System.nanoTime()
    var measured = 0
    while (!wl.measured((System.nanoTime() - start) / 1e9, measured, seconds)) {
      ops += wl.run(spark, ops.size, warmup = false, capture = false)
      measured += 1
    }
    val measuredWall = (System.nanoTime() - start) / 1e9
    val layers = tracer.finish(Paths.get(spansFile), ops.filterNot(_.warmup).map(_.wallS).toSeq)
    spark.stop()

    val json = new StringBuilder
    json.append("{\"workload\":").append(Json.str(workload))
    json.append(",\"setup_s\":").append(setups.mkString("[", ",", "]"))
    json.append(",\"first_timed_op_s\":").append(firstTimedOpS)
    json.append(",\"peak_rss_mb\":").append(peakRssMb())
    json.append(",\"measured_wall_s\":").append(measuredWall)
    json.append(",\"ops\":[")
    json.append(ops.map { o =>
      s"""{"i":${o.index},"name":${Json.str(o.name)},"wall_s":${o.wallS},""" +
        s""""warmup":${o.warmup},"error":${o.error.map(Json.str).getOrElse("null")},""" +
        s""""info":${Json.obj(o.info)}}"""
    }.mkString(","))
    json.append("],\"layers\":").append(Json.num(layers)).append("}")
    Files.write(work.resolve("harness.json"), json.toString.getBytes(UTF_8))
  }

  /** Driver JVM resident-memory high-water mark (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  /** Writes `body` to `target` durably: temp file, fsync, atomic rename. */
  def commitFile(target: Path, body: String): Unit = {
    Files.createDirectories(target.getParent)
    val tmp = target.resolveSibling(target.getFileName.toString + ".tmp")
    val ch = java.nio.channels.FileChannel.open(tmp,
      StandardOpenOption.CREATE, StandardOpenOption.WRITE, StandardOpenOption.TRUNCATE_EXISTING)
    try { ch.write(java.nio.ByteBuffer.wrap(body.getBytes(UTF_8))); ch.force(true) }
    finally ch.close()
    Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  def timed(tracer: Tracer, index: Int, name: String, warmup: Boolean)(
      body: mutable.Map[String, String] => Unit): Op = {
    val info = mutable.LinkedHashMap.empty[String, String]
    tracer.beginOp(index)
    val t0 = System.nanoTime()
    val err = try { tracer.span("op") { body(info) }; None }
      catch { case NonFatal(e) => Some(s"${e.getClass.getName}: ${e.getMessage}") }
    val wall = (System.nanoTime() - t0) / 1e9
    tracer.endOp(info)
    Op(index, name, wall, warmup, err, info.toMap)
  }
}

/** Session with `graft.Bench`'s settings, plus directories kept inside the
  * benchmark's work directory. */
object Session {
  def build(work: Path): SparkSession = {
    val cpus = Harness.Cores.toString
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum", "512")
      .config("spark.rdd.compress", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.cleaner.periodicGC.interval", "45s")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}

trait Workload {
  def warmupOps: Int
  def prepare(): Unit
  def startMeasure(): Unit = ()
  /** True once enough has been measured: by default, `seconds` of wall. */
  def measured(elapsedS: Double, ops: Int, seconds: Double): Boolean = elapsedS >= seconds
  def run(spark: SparkSession, index: Int, warmup: Boolean, capture: Boolean): Harness.Op
}

/** One timer-triggered incremental invocation per operation, composed as
  * entries i03–i06 compose the pipeline: ArticleSource scan with the
  * watermark pushed as `published_at > '<wm>'`, keepParsed, newSince,
  * writeDatePartitioned, nextWatermark, then the checkpoint commit. */
final class Incremental(seed: Long, work: Path, tracer: Tracer, plantGe: Boolean) extends Workload {
  val warmupOps = 25
  private val feed = new FeedGen.Incremental(seed, work.resolve("feeds/inc"))
  private val ckpt = work.resolve("ckpt/inc/latest_timestamp.json")
  private val truth = new Truths(work.resolve("truth.jsonl"))

  def prepare(): Unit = {
    feed.writeTail()
    Harness.commitFile(ckpt, s"""{"latest_timestamp": "${feed.initialWatermark}"}""")
  }

  def run(spark: SparkSession, index: Int, warmup: Boolean, capture: Boolean): Harness.Op = {
    val t = feed.publish(index)
    truth.add(t)
    val sinkDir = work.resolve(f"sink/inc/op=$index%05d").toString
    Harness.timed(tracer, index, "invocation", warmup) { info =>
      val wm = tracer.span("ingest.checkpoint_read") {
        Json.field(new String(Files.readAllBytes(ckpt), UTF_8), "latest_timestamp")
      }
      val feed = spark.read.format("graft.sources.ArticleSourceProvider")
        .option("path", t.feedDir).load()
      val wmDf = spark.range(1).select(try_to_timestamp(lit(wm)).as("wm"))
      val kept = (if (plantGe)
          ArticlePipeline.keepParsed(feed.filter(col("published_at") >= lit(wm)))
            .crossJoin(broadcast(wmDf)).filter(col("ts") >= col("wm"))
        else ArticlePipeline.newSince(
          ArticlePipeline.keepParsed(feed.filter(col("published_at") > lit(wm))), wmDf)).drop("wm")
      tracer.span("ingest.sink_job") { ArticlePipeline.writeDatePartitioned(kept, sinkDir) }
      val row = tracer.span("ingest.watermark_job") { ArticlePipeline.nextWatermark(kept).collect()(0) }
      val newWm = if (row.isNullAt(0)) wm else row.getTimestamp(0).toInstant.toString
      tracer.span("ingest.checkpoint_commit") {
        Harness.commitFile(ckpt, s"""{"latest_timestamp": "$newWm"}""")
      }
      info("sink_dir") = sinkDir
      info("committed") = Json.field(new String(Files.readAllBytes(ckpt), UTF_8), "latest_timestamp")
      tracer.count("sources.pages_kept", t.ownPages.size.toDouble)
    }
  }
}

/** One backfill window per operation: cursor read with
  * loadBackfillCursorFrom, boundedPages over the ArticleSource (one
  * partition per page), keepParsed, writeDatePartitioned, cursor commit.
  * A drained feed is replaced by the next seeded feed. */
final class Backfill(seed: Long, work: Path, tracer: Tracer) extends Workload {
  val warmupOps = 12
  private val feed = new FeedGen.Backfill(seed, work.resolve("feeds/bf"))
  private val truth = new Truths(work.resolve("truth.jsonl"))
  private var drain = 0
  private var window = 0

  def prepare(): Unit = ()

  def run(spark: SparkSession, index: Int, warmup: Boolean, capture: Boolean): Harness.Op = {
    val windows = feed.publish(drain)
    val t = windows(window)
    truth.add(t.copy(op = index))
    val cursorPath = feed.drainDir(drain).resolve("backfill_page.json")
    val sinkDir = feed.drainDir(drain).resolve(f"sink/op=$index%05d").toString
    val op = Harness.timed(tracer, index, "window", warmup) { info =>
      val cursorDf = ArticlePipeline.loadBackfillCursorFrom(spark, cursorPath.toString)
      val cursor = tracer.span("ingest.checkpoint_read") { cursorDf.collect()(0).getLong(0) }
      val pages = spark.read.format("graft.sources.ArticleSourceProvider")
        .option("path", t.feedDir).load()
      val kept = ArticlePipeline.keepParsed(
        ArticlePipeline.boundedPages(pages, cursorDf, FeedGen.MaxPages)).drop("cursor")
      tracer.span("ingest.sink_job") { ArticlePipeline.writeDatePartitioned(kept, sinkDir) }
      tracer.span("ingest.checkpoint_commit") {
        Harness.commitFile(cursorPath, s"""{"page": ${cursor + FeedGen.MaxPages}}""")
      }
      info("sink_dir") = sinkDir
      info("cursor") = cursor.toString
      info("committed") = Json.field(new String(Files.readAllBytes(cursorPath), UTF_8), "page")
      tracer.count("sources.pages_kept", t.ownPages.size.toDouble)
    }
    window += 1
    if (window == feed.windowsPerDrain) { window = 0; drain += 1 }
    op
  }
}

/** One catalog entry per operation, as `graft.Bench` runs it: `Q.fn`, a
  * noop write, `Stage.release()`. The first warm-up pass writes each
  * result as parquet for the DuckDB oracle check instead. */
final class Catalog(sfDir: String, names: Seq[String], work: Path, tracer: Tracer) extends Workload {
  private val entries = {
    val byName = graft.SparkEntry.catalog.map(q => q.name -> q).toMap
    names.map(n => byName.getOrElse(n, throw new IllegalArgumentException(s"no catalog entry $n")))
  }
  // A capture pass and two more passes over the mix: the first pass after
  // the capture pass is still ~15% slower than later ones.
  val warmupOps: Int = 3 * entries.size
  private var next = 0
  private val captured = mutable.Set.empty[String]

  override def startMeasure(): Unit = next = 0
  /** Whole passes over the mix until `seconds` have passed, so every entry
    * is sampled equally often; at least three, so each entry's median
    * drops a pass that a burst of host contention slowed. */
  override def measured(elapsedS: Double, ops: Int, seconds: Double): Boolean =
    ops >= 3 * entries.size && ops % entries.size == 0 && elapsedS >= seconds

  def prepare(): Unit = {
    val oracles = entries.flatMap(q => q.oracle.map(q.name -> _)).toMap
    Files.createDirectories(work.resolve("catalog_out"))
    Files.write(work.resolve("catalog_out/oracle_sql.json"), Json.obj(oracles).getBytes(UTF_8))
  }

  def run(spark: SparkSession, index: Int, warmup: Boolean, capture: Boolean): Harness.Op = {
    val q = entries(next % entries.size)
    next += 1
    Harness.timed(tracer, index, q.name, warmup) { _ =>
      try {
        val df = tracer.span("entry.fn") { q.fn(spark, sfDir) }
        tracer.span("entry.action") {
          if (capture && captured.add(q.name)) df.coalesce(1).write.mode("overwrite")
            .parquet(work.resolve(s"catalog_out/${q.name}").toString)
          else df.write.format("noop").mode("overwrite").save()
        }
      } finally tracer.span("entry.release") { graft.Stage.release() }
    }
  }
}

/** Expected outcomes, one JSON line per operation, for the output check. */
final class Truths(path: Path) {
  Files.createDirectories(path.getParent)
  def add(t: FeedGen.Truth): Unit =
    Files.write(path, (t.toJson + "\n").getBytes(UTF_8),
      StandardOpenOption.CREATE, StandardOpenOption.APPEND)
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def obj(m: Map[String, String]): String =
    m.toSeq.sortBy(_._1).map { case (k, v) => s"${str(k)}:${str(v)}" }.mkString("{", ",", "}")
  def num(m: Map[String, Double]): String =
    m.toSeq.sortBy(_._1).map { case (k, v) =>
      s"${str(k)}:${if (v.isNaN || v.isInfinite) "null" else v.toString}"
    }.mkString("{", ",", "}")
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
  def field(json: String, name: String): String = mapper.readTree(json).get(name).asText()
}
