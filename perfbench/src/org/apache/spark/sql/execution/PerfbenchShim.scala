package org.apache.spark.sql.execution

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

/** The two engine internals the benchmark's traced run reads and Spark
  * keeps package-private: draining the listener bus (so events of an
  * operation are counted before the next one starts) and walking an
  * executed plan through its adaptive and command wrappers. */
object PerfbenchShim {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Every physical node of an executed plan, adaptive stages included. */
  def nodes(plan: SparkPlan): Seq[SparkPlan] = {
    val out = Seq.newBuilder[SparkPlan]
    def visit(p: SparkPlan): Unit = {
      out += p
      p match {
        case a: AdaptiveSparkPlanExec => visit(a.executedPlan)
        case c: CommandResultExec => visit(c.commandPhysicalPlan)
        case q: QueryStageExec => visit(q.plan)
        case _ => ()
      }
      p.children.foreach(visit)
      p.subqueries.foreach(visit)
    }
    visit(plan)
    out.result()
  }

  /** Sums of the file-write command's SQL metrics (numFiles, numOutputBytes,
    * numOutputRows, taskCommitTime, jobCommitTime), or None if `plan`
    * wrote no files. */
  def writeMetrics(plan: SparkPlan): Option[Map[String, Long]] = {
    val writes = nodes(plan).filter(_.metrics.contains("jobCommitTime"))
    if (writes.isEmpty) None
    else Some(Seq("numFiles", "numOutputBytes", "numOutputRows", "taskCommitTime", "jobCommitTime")
      .map(n => n -> writes.flatMap(_.metrics.get(n)).map(_.value).sum).toMap)
  }
}
