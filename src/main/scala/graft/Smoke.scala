package graft

/** Dev smoke runner mirroring the driver's check: SparkEntry.entry(spark)
  * must return rows > 0 on sf0.001. Prints the row count and first rows. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession()
    val df = SparkEntry.entry(spark)
    val n = df.count()
    df.show(5, truncate = false)
    println(s"[smoke] entry rows=$n " + (if (n > 0) "PASS" else "FAIL"))
    spark.stop()
    if (n <= 0) sys.exit(1)
  }
}
