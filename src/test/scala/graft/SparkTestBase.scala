package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.SparkPlan

/** One shared local session for the whole forked test JVM (a per-suite
  * session would pay ~5 s of context startup each), built by the same
  * factory as Verify/Bench, at 4 cores. */
object SparkTestBase {
  lazy val spark: SparkSession = {
    val s = GraftSession(cpus = 4)
    s.sparkContext.setLogLevel("ERROR")
    // Hard-OFF the adaptive-execution logger. NOTE (r15): this is NOT
    // the q70 deadlock fix — the r14 verdict reproduced the hang WITH
    // this in place, because AdaptiveSparkPlanExec.onUpdatePlan computes
    // its explainString eagerly as a *listener-event argument*, which no
    // logger level touches. The real fix is in the entry itself: q70
    // scopes spark.sql.adaptive.enabled=false (its non-reuse DPP +
    // runtime-bloom subqueries are the only place the three-thread
    // explain/exchange/subquery cycle was ever reachable, and all four
    // asserted channels are AQE-independent). This logger-OFF stays as
    // cheap hygiene for the one explain path that IS logger-gated —
    // AQE's by-name plan-change log render on the other 270 entries.
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.adaptive",
      org.apache.logging.log4j.Level.OFF)
    s
  }

  /** Smoke-tier data — correctness semantics don't need volume. */
  val sfDir = "/root/testdata/sf0.001"

  /** Runs `body` with `rules` taken out of the shared session's optimizer
    * list (restored on exit): the stock-Spark side of a rule's A/B. */
  def withoutRules[T](rules: Rule[LogicalPlan]*)(body: => T): T = {
    val exp = spark.experimental
    val saved = exp.extraOptimizations
    exp.extraOptimizations = saved.filterNot(rules.contains)
    try body finally exp.extraOptimizations = saved
  }

  /** The listener bus delivers asynchronously; poll a counter until it
    * goes quiet (bounded, ~2 s worst case). */
  def drainListener(current: () => Long): Unit = {
    var prev = -1L; var cur = current(); var spins = 0
    while (prev != cur && spins < 40) {
      Thread.sleep(50); prev = cur; cur = current(); spins += 1
    }
  }

  /** Scoped session-conf override (restores prior values on exit). Test
    * suites share one session and run sequentially in the forked JVM, so
    * a scoped set/restore is race-free — same contract the existing
    * sys.props-mutating specs already rely on. */
  def withSQLConf[T](pairs: (String, String)*)(body: => T): T = {
    val olds = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally olds.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Every physical node of every query execution that completes while
    * `body` runs — INCLUDING actions buried inside an entry
    * (Stage.materialize's eager localCheckpoint goes through
    * Dataset.withAction, so the listener hands us the QueryExecution
    * that actually ran, post-AQE). This is how a spec inspects plan
    * shape past a checkpoint boundary, where the returned DataFrame
    * shows only a LogicalRDD scan. `expectMin` bounds the async wait:
    * we poll until at least that many executions arrived (10 s cap),
    * then drain until the bus goes quiet. */
  def executedPlans(expectMin: Int)(body: => Unit): Seq[SparkPlan] = {
    val captured = new java.util.concurrent.ConcurrentLinkedQueue[
      org.apache.spark.sql.execution.QueryExecution]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit = { captured.add(qe); () }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      body
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      while (captured.size < expectMin && System.nanoTime() < deadline)
        Thread.sleep(50)
      drainListener(() => captured.size.toLong)
    } finally spark.listenerManager.unregister(listener)
    import scala.jdk.CollectionConverters._
    captured.asScala.toSeq.flatMap(qe => GraftSession.flattenPlan(qe.executedPlan))
  }
}
