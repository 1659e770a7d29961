package graft

/** Dev aid: print the formatted physical plan of one catalog query and
  * (optionally) its timed noop-sink run. Usage:
  *   tools/run.sh graft.Explain <queryName> [sfDir] [--run]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse(sys.error("usage: Explain <queryName> [sfDir] [--run]"))
    val sfDir = args.drop(1).find(!_.startsWith("--")).getOrElse("/root/testdata/sf0.1")
    val run = args.contains("--run")
    val spark = GraftSession()
    // Bulk mode (r15 optimization round): `Explain --all <outDir> [sfDir]`
    // writes every catalog entry's formatted plan to <outDir>/<name>.txt in
    // ONE JVM — the per-entry single-plan mode below pays ~20 s of JVM+
    // session startup each, which at 272 entries is 90 minutes of nothing.
    // Plans only; no query executes (entries with eager stage
    // materialization still run their setup, same as fn() always does).
    if (name == "--all") {
      val outDir = args.lift(1).getOrElse(
        sys.error("usage: Explain --all <outDir> [sfDir]"))
      val dir = args.drop(2).find(!_.startsWith("--")).getOrElse("/root/testdata/sf0.1")
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
      SparkEntry.catalog.foreach { q =>
        try {
          val df = q.fn(spark, dir)
          val plan = df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          java.nio.file.Files.write(
            java.nio.file.Paths.get(outDir, q.name + ".txt"),
            plan.getBytes("UTF-8"))
        } catch {
          case scala.util.control.NonFatal(e) =>
            System.err.println(s"[explain] ${q.name} failed: ${e.getMessage}")
        } finally Stage.release()
      }
      spark.stop()
      return
    }
    val q = SparkEntry.catalog.find(_.name == name)
      .getOrElse(sys.error(s"no catalog entry named $name"))
    // Timer wraps fn too: queries with eager stage materialization do real
    // work before the sink write, same as Bench measures it. --warm runs a
    // full untimed pass first so JVM/codegen warmup doesn't pollute the
    // number (mirrors Bench's warmup pass).
    if (args.contains("--warm"))
      q.fn(spark, sfDir).write.format("noop").mode("overwrite").save()
    val t0 = System.nanoTime()
    val df = q.fn(spark, sfDir)
    df.explain("formatted")
    if (run) {
      df.write.format("noop").mode("overwrite").save()
      println(f"[explain] $name ran in ${(System.nanoTime() - t0) / 1e9}%.2f s (incl. fn-time + explain)")
    }
    spark.stop()
  }
}
