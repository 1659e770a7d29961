package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.rules.RuleExecutor
import org.apache.spark.sql.execution.{PerfbenchShim, QueryExecution}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** The traced run's recorder. Spans are taken in the benchmark around its
  * own calls into the engine; counts come from Spark's public counters
  * (QueryPlanningTracker phases, RuleExecutor metering, CodegenMetrics,
  * and listener events registered here). Spans stay in memory and are
  * written out at the end of the run. Disabled, every method is a
  * pass-through and nothing is registered. */
final class Tracer(val enabled: Boolean) {
  final case class Span(op: Int, id: Int, parent: Int, name: String, start: Long, end: Long)

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Int]
  private var nextSpan = 0
  private var op = -1
  private var spark: SparkSession = _

  // Listener-fed counts of the running operation, and totals of the run.
  private val cur = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private val tot = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private val taskTimes = mutable.Map.empty[(Int, Int), mutable.ArrayBuffer[Long]]
  private val streamStart = mutable.Map.empty[java.util.UUID, Long]
  private val streamRows = mutable.Map.empty[java.util.UUID, Double]
  private val skews = mutable.ArrayBuffer.empty[Double]
  private var ops = 0
  private var pagesBefore = 0L
  private var codegenBefore = (0L, 0L)

  private def add(k: String, v: Double): Unit = cur.synchronized { cur(k) += v }

  def attach(s: SparkSession): Unit = {
    spark = s
    if (!enabled) return
    s.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val m = e.taskMetrics
        if (m == null) return
        add("stage.task_count", 1)
        add("stage.task_run_s", m.executorRunTime / 1e3)
        add("stage.task_cpu_s", m.executorCpuTime / 1e9)
        add("stage.gc_s", m.jvmGCTime / 1e3)
        add("scan.bytes_read", m.inputMetrics.bytesRead.toDouble)
        add("scan.records_read", m.inputMetrics.recordsRead.toDouble)
        add("shuffle.write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        add("shuffle.read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
        add("shuffle.fetch_wait_s", m.shuffleReadMetrics.fetchWaitTime / 1e3)
        add("spill.bytes", m.memoryBytesSpilled.toDouble)
        add("spill.disk_bytes", m.diskBytesSpilled.toDouble)
        cur.synchronized {
          taskTimes.getOrElseUpdate((e.stageId, e.stageAttemptId), mutable.ArrayBuffer.empty) +=
            e.taskInfo.duration
        }
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = add("stage.count", 1)
    })
    s.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
        val ph = qe.tracker.phases
        def ms(p: String) = ph.get(p).map(_.durationMs / 1e3).getOrElse(0.0)
        add("plan.analysis_s", ms("analysis"))
        add("plan.optimization_s", ms("optimization"))
        add("plan.physical_s", ms("planning"))
        PerfbenchShim.writeMetrics(qe.executedPlan).foreach { w =>
          add("sink.files_written", w("numFiles").toDouble)
          add("sink.bytes_written", w("numOutputBytes").toDouble)
          add("sink.rows_written", w("numOutputRows").toDouble)
          add("sink.task_commit_s", w("taskCommitTime") / 1e3)
          add("sink.job_commit_s", w("jobCommitTime") / 1e3)
        }
      }
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    })
    s.streams.addListener(new StreamingQueryListener {
      import StreamingQueryListener._
      override def onQueryStarted(e: QueryStartedEvent): Unit = cur.synchronized {
        streamStart(e.id) = java.time.Instant.parse(e.timestamp).toEpochMilli
      }
      override def onQueryProgress(e: QueryProgressEvent): Unit = {
        val p = e.progress
        val d = p.durationMs.asScala
        def ms(k: String) = d.get(k).map(_.toDouble / 1e3).getOrElse(0.0)
        if (d.contains("addBatch")) add("streaming.batches", 1)
        add("streaming.latest_offset_s", ms("latestOffset"))
        add("streaming.query_planning_s", ms("queryPlanning"))
        add("streaming.add_batch_s", ms("addBatch"))
        add("streaming.wal_commit_s", ms("walCommit"))
        add("streaming.commit_offsets_s", ms("commitOffsets"))
        cur.synchronized {
          streamStart.remove(p.id).foreach { t0 =>
            val end = java.time.Instant.parse(p.timestamp).toEpochMilli + p.batchDuration
            cur("streaming.start_s") += (end - t0) / 1e3
            cur("streaming.queries") += 1
          }
          val ops = p.stateOperators
          if (ops.nonEmpty) {
            streamRows(p.id) = ops.map(_.numRowsTotal).sum.toDouble
            cur("state.rows_removed") += ops.map(_.numRowsRemoved).sum
            cur("state.commit_s") += ops.map(_.commitTimeMs).sum / 1e3
            cur("state.memory_bytes") = cur("state.memory_bytes").max(ops.map(_.memoryUsedBytes).sum)
          }
        }
      }
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    })
  }

  /** Drops everything recorded so far: the measured phase starts. */
  def reset(): Unit = {
    spans.clear(); tot.clear(); skews.clear(); ops = 0
  }

  private def codegen: (Long, Long) = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    (h.getCount, h.getSnapshot.getValues.sum)
  }

  def beginOp(index: Int): Unit = {
    op = index
    if (!enabled) return
    PerfbenchShim.drainListeners(spark.sparkContext)
    cur.synchronized { cur.clear(); taskTimes.clear(); streamRows.clear() }
    pagesBefore = graft.sources.ArticleSource.pagesParsed.get()
    codegenBefore = codegen
    RuleExecutor.resetMetrics()
  }

  def span[T](name: String)(body: => T): T = {
    if (!enabled) return body
    val id = nextSpan
    nextSpan += 1
    val parent = stack.headOption.getOrElse(-1)
    stack.push(id)
    val t0 = System.nanoTime()
    try body
    finally {
      stack.pop()
      spans += Span(op, id, parent, name, t0, System.nanoTime())
    }
  }

  def count(name: String, v: Double): Unit = if (enabled) add(name, v)

  /** Closes the operation: waits for its listener events, then reads the
    * counters that are sampled around it. */
  def endOp(info: mutable.Map[String, String]): Unit = {
    if (!enabled) return
    PerfbenchShim.drainListeners(spark.sparkContext)
    add("sources.pages_parsed",
      (graft.sources.ArticleSource.pagesParsed.get() - pagesBefore).toDouble)
    val (n1, s1) = codegen
    val (n0, s0) = codegenBefore
    add("codegen.classes", (n1 - n0).toDouble)
    // The histogram keeps every sample up to its reservoir size (1028);
    // past that its mean stands in for the samples it dropped.
    val h = CodegenMetrics.METRIC_COMPILATION_TIME.getSnapshot
    add("codegen.compile_s", (if (n1 <= 1028) s1 - s0 else ((n1 - n0) * h.getMean).toLong) / 1e3)
    val row = """^(\S+)\s+(\d+) / (\d+)\s+(\d+) / (\d+)\s*$""".r
    RuleExecutor.dumpTimeSpent().linesIterator.foreach {
      case row(rule, _, total, effRuns, _) =>
        if (rule.startsWith("graft.plans.")) {
          add("plans.graft_rules_s", total.toLong / 1e9)
          add("plans.graft_rules_effective_runs", effRuns.toDouble)
        } else add("plans.other_rules_s", total.toLong / 1e9)
      case _ => ()
    }
    cur.synchronized {
      cur("state.rows_total") += streamRows.values.sum
      val sk = taskTimes.values.filter(_.size >= 2).map { ts =>
        val s = ts.sorted
        s.last / math.max(1.0, s(s.size / 2).toDouble)
      }
      skews += (if (sk.isEmpty) 1.0 else sk.max)
      cur.foreach { case (k, v) => tot(k) += v }
    }
    ops += 1
  }

  /** Per-layer metrics of the measured operations (per-operation means
    * unless the name says otherwise), and the spans file. */
  def finish(spansFile: Path, walls: Seq[Double]): Map[String, Double] = {
    if (!enabled) return Map.empty
    val lines = spans.map(sp =>
      s"""{"op":${sp.op},"id":${sp.id},"parent":${sp.parent},"name":"${sp.name}",""" +
        s""""start_ns":${sp.start},"end_ns":${sp.end}}""")
    Files.write(spansFile, lines.mkString("", "\n", "\n").getBytes(UTF_8))
    val n = math.max(ops, 1).toDouble
    def spanSum(name: String) = spans.filter(_.name == name).map(sp => (sp.end - sp.start) / 1e9).sum
    val perOp = tot.toMap.map { case (k, v) => k -> v / n }
    val wall = walls.sum
    val names = Seq(
      "sources.pages_parsed", "ingest.sink_job_s", "ingest.watermark_job_s",
      "ingest.checkpoint_commit_s", "sink.files_written", "sink.bytes_written",
      "sink.rows_written", "sink.task_commit_s", "sink.job_commit_s",
      "plan.analysis_s", "plan.optimization_s", "plan.physical_s",
      "plans.graft_rules_s", "plans.graft_rules_effective_runs", "plans.other_rules_s",
      "codegen.compile_s", "codegen.classes", "entry.fn_s", "entry.action_s", "entry.release_s",
      "scan.bytes_read", "scan.records_read", "shuffle.write_bytes", "shuffle.read_bytes",
      "shuffle.fetch_wait_s", "spill.bytes", "spill.disk_bytes", "stage.count",
      "stage.task_count", "stage.task_run_s", "stage.task_cpu_s", "stage.gc_s",
      "streaming.batches", "streaming.latest_offset_s", "streaming.query_planning_s",
      "streaming.add_batch_s", "streaming.wal_commit_s", "streaming.commit_offsets_s",
      "state.rows_total", "state.rows_removed", "state.memory_bytes", "state.commit_s")
    val spanned = Set("ingest.sink_job_s", "ingest.watermark_job_s", "ingest.checkpoint_commit_s",
      "entry.fn_s", "entry.action_s", "entry.release_s")
    val base = names.map { k =>
      k -> (if (spanned(k)) spanSum(k.stripSuffix("_s")) / n else perOp.getOrElse(k, 0.0))
    }.toMap
    val kept = tot("sources.pages_kept")
    val queries = tot("streaming.queries")
    base ++ Map(
      "sources.pages_parsed_per_page_kept" ->
        (if (kept > 0) tot("sources.pages_parsed") / kept else 0.0),
      "stage.cpu_util" -> (if (wall > 0) tot("stage.task_cpu_s") / (wall * Harness.Cores) else 0.0),
      "stage.skew_max" -> (if (skews.isEmpty) 0.0 else skews.sum / skews.size),
      "streaming.start_s" -> (if (queries > 0) tot("streaming.start_s") / queries else 0.0),
      "state.memory_bytes" -> perOp.getOrElse("state.memory_bytes", 0.0),
      "trace.ops" -> ops.toDouble) ++ selfTimes(n)
  }

  /** Self time per span name: its duration minus what its children cover
    * (children run one after another, so their union is their sum). */
  private def selfTimes(n: Double): Map[String, Double] = {
    val child = spans.groupBy(_.parent).map { case (p, cs) => p -> cs.map(c => c.end - c.start).sum }
    spans.groupBy(_.name).map { case (name, ss) =>
      s"self.$name" -> ss.map(sp => (sp.end - sp.start - child.getOrElse(sp.id, 0L)) / 1e9).sum / n
    }
  }
}
