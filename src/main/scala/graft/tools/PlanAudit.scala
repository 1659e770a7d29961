package graft.tools

import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.joins.{BaseJoinExec, BroadcastHashJoinExec, BroadcastNestedLoopJoinExec, ShuffledHashJoinExec, SortMergeJoinExec}

/** Join-inventory audit for the r13 "d19 disease" sweep (VERDICT r12 item
  * 1): for each named catalog entry, run it once at the given SF and print
  * EVERY join the executed plans contain — physical strategy, join keys,
  * and the RUNTIME row counts of the join's output and each input side
  * (from the executed plan's own SQL metrics, so the numbers are what
  * actually flowed, not estimates).
  *
  * The disease signature is a SortMergeJoinExec whose larger input dwarfs
  * its output: the sort pays O(n log n) on a stream that a shuffled-hash
  * join would pass through linearly (d19's candidate join measured 434 s
  * SMJ vs 94 s SHJ at sf100 on exactly this shape). Joins behind a
  * Stage.materialize checkpoint are visible here because the listener
  * captures every action's QueryExecution, not the returned DataFrame.
  *
  * Usage: SPARK_GRAFT_SF_DIR=target/sf10 SPARK_GRAFT_CPUS=32 \
  *   tools/run.sh graft.tools.PlanAudit <entry> [entry...]
  * One JVM per invocation keeps entries isolated (scale_bench protocol).
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.GraftSession()
    spark.sparkContext.setLogLevel("ERROR")

    val captured = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    spark.listenerManager.register(new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = { captured.add(qe); () }
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    })

    def outRows(p: SparkPlan): Long =
      p.metrics.get("numOutputRows").map(_.value).getOrElse(-1L)
    // first descendant that reports row counts (skips sorts/exchanges/AQE
    // wrappers that don't, so "input rows" is the stream the sort sees)
    def inRows(p: SparkPlan): Long = {
      val withRows = graft.GraftSession.flattenPlan(p).find(n => outRows(n) >= 0)
      withRows.map(outRows).getOrElse(-1L)
    }
    def keysOf(j: BaseJoinExec): String = j match {
      case s: SortMergeJoinExec =>
        (s.leftKeys ++ s.rightKeys).flatMap(_.references).map(_.name).distinct.mkString(",")
      case s: ShuffledHashJoinExec =>
        (s.leftKeys ++ s.rightKeys).flatMap(_.references).map(_.name).distinct.mkString(",")
      case b: BroadcastHashJoinExec =>
        (b.leftKeys ++ b.rightKeys).flatMap(_.references).map(_.name).distinct.mkString(",")
      case _ => "-"
    }

    val entries = graft.SparkEntry.catalog.filter(q => args.contains(q.name))
    entries.foreach { q =>
      captured.clear()
      val t0 = System.nanoTime()
      try q.fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      catch { case scala.util.control.NonFatal(e) =>
        println(s"[audit] ${q.name} FAILED: ${e.getMessage}") }
      finally graft.Stage.release()
      val wall = (System.nanoTime() - t0) / 1e9
      // drain the async listener bus
      var prev = -1; var spins = 0
      while (prev != captured.size && spins < 100) { prev = captured.size; Thread.sleep(100); spins += 1 }
      import scala.jdk.CollectionConverters._
      val joins = captured.asScala.toSeq
        .flatMap(qe => graft.GraftSession.flattenPlan(qe.executedPlan))
        .collect { case j: BaseJoinExec => j }
      println(f"== ${q.name} wall=$wall%.1f s  joins=${joins.size}")
      joins.foreach { j =>
        val kind = j match {
          case _: SortMergeJoinExec => "SMJ"
          case _: ShuffledHashJoinExec => "SHJ"
          case _: BroadcastHashJoinExec => "BHJ"
          case _: BroadcastNestedLoopJoinExec => "BNLJ"
          case other => other.getClass.getSimpleName
        }
        val out = outRows(j)
        val l = inRows(j.children.head)
        val r = inRows(j.children.last)
        val flag = j match {
          case _: SortMergeJoinExec if math.max(l, r) > 1000000L &&
            (out < 0 || math.max(l, r) > 10 * math.max(out, 1L)) => "  <== FLAG sort-dwarfs-output"
          case _: SortMergeJoinExec if math.max(l, r) > 1000000L => "  (large SMJ, output-comparable)"
          case _ => ""
        }
        println(f"   $kind%-4s ${j.joinType}%-10s keys=[${keysOf(j)}] out=$out%,d left=$l%,d right=$r%,d$flag")
      }
    }
    spark.stop()
  }
}
