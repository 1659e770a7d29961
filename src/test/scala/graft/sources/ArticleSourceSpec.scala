package graft.sources

import graft.{GraftSession, SparkTestBase}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The V2 source's contract: same rows as the built-in JSON path, parallel
  * contiguous page runs in backfill mode, and a REAL early stop — stale
  * pages must never be parsed, not parsed-then-filtered. */
class ArticleSourceSpec extends AnyFunSuite {
  private lazy val s = SparkTestBase.spark
  private val path = "/root/repo/fixtures/articles"

  private def v2 = s.read.format("graft.sources.ArticleSourceProvider")
    .option("path", path).load()

  /** The planned partitions' page runs, read off the executed scan. */
  private def plannedRuns(df: DataFrame): Seq[Seq[Int]] =
    GraftSession.flattenPlan(df.queryExecution.executedPlan)
      .collectFirst { case b: BatchScanExec => b.inputPartitions }.get
      .map(_.asInstanceOf[ArticlePartition].pages.map(_._1))

  test("backfill mode reads every page in one contiguous run per core") {
    ArticleSource.pagesParsed.set(0)
    val rows = v2.collect()
    assert(rows.length == 28, "7+7+5+5+4+0 records across the six pages")
    assert(ArticleSource.pagesParsed.get == 6)
    val runs = plannedRuns(v2)
    assert(runs.length == 4, "local[4]: min(6 files, max(4 cores, 1 by bytes))")
    assert(runs.forall(_.nonEmpty))
    assert(runs.flatten == (1 to 6), "each run is contiguous; runs ascend in page order")
    assert(v2.rdd.getNumPartitions == 4)
  }

  test("backfill partition count follows leaf parallelism and maxPartitionBytes") {
    def runs(conf: (String, String)*): Seq[Seq[Int]] = {
      val s2 = s.newSession()
      conf.foreach { case (k, v) => s2.conf.set(k, v) }
      plannedRuns(s2.read.format("graft.sources.ArticleSourceProvider")
        .option("path", path).load())
    }
    assert(runs("spark.sql.leafNodeDefaultParallelism" -> "2").length == 2)
    assert(runs("spark.sql.leafNodeDefaultParallelism" -> "100").length == 6,
      "never more than one partition per file")
    // 14,262 fixture bytes under a 3,000-byte cap need 5 runs, more than 2 cores
    val capped = runs("spark.sql.leafNodeDefaultParallelism" -> "2",
      "spark.sql.files.maxPartitionBytes" -> "3000")
    assert(capped.length == 5)
    assert(capped.flatten == (1 to 6))
  }

  // ---- packing: groupCount and packContiguous ----

  test("groupCount: one per core, raised by the byte cap, capped by the file count") {
    import ArticleSource.groupCount
    assert(groupCount(15, 15L << 20, 4, 128L << 20) == 4, "a 15-page window on 4 cores")
    assert(groupCount(15, 1000L << 20, 4, 128L << 20) == 8, "ceil(1000 MB / 128 MB)")
    assert(groupCount(15, 128L << 20, 4, 128L << 20) == 4, "exactly one cap's worth")
    assert(groupCount(15, 4000L << 20, 4, 128L << 20) == 15, "no more runs than files")
    assert(groupCount(3, 300, 4, 128L << 20) == 3)
    assert(groupCount(1, 5L << 30, 4, 128L << 20) == 1, "one file gives one partition")
    assert(groupCount(0, 0, 4, 128L << 20) == 0, "no files give no partitions")
  }

  test("packContiguous keeps order and cuts contiguous, byte-balanced runs") {
    import ArticleSource.packContiguous
    val rnd = new scala.util.Random(7)
    for (_ <- 1 to 500) {
      val n = 1 + rnd.nextInt(40)
      val sizes = Seq.fill(n)(if (rnd.nextInt(5) == 0) 1L + rnd.nextInt(100000)
        else 1L + rnd.nextInt(1000))
      val groups = 1 + rnd.nextInt(12)
      val runs = packContiguous(sizes, groups)
      assert(runs.length == math.min(groups, n))
      assert(runs.forall(_.nonEmpty))
      assert(runs.flatten == sizes.indices, "runs tile the files in order")
      val bytes = runs.map(_.map(sizes).sum)
      assert(bytes.max <= sizes.sum.toDouble / runs.length + sizes.max,
        s"a run exceeds the mean plus the largest file: $sizes into $groups")
    }
    assert(packContiguous(Seq.fill(15)(100L), 4).map(_.length).sorted == Seq(3, 4, 4, 4),
      "a 15-page window of equal pages on 4 cores")
    // the fixture pages' bytes: no contiguous 4-way cut has a smaller largest run
    assert(packContiguous(Seq(3535L, 3562, 2578, 2503, 2082, 2), 4) ==
      Seq(0 until 1, 1 until 2, 2 until 3, 3 until 6))
  }

  test("packContiguous: no files give no runs, one file gives one run") {
    import ArticleSource.packContiguous
    assert(packContiguous(Seq.empty, 4).isEmpty)
    assert(packContiguous(Seq(10L), 4) == Seq(0 until 1))
    assert(packContiguous(Seq(0L, 0L, 0L), 2).flatten == (0 until 3), "zero-byte files still tile")
  }

  test("watermark pushdown stops the scan mid-page; later pages never parsed") {
    ArticleSource.pagesParsed.set(0)
    val filtered = v2.filter(col("published_at") > lit("2025-06-01T12:00:00Z"))
    val ids = filtered.select("id").collect().map(_.getLong(0)).toSet
    assert(ArticleSource.pagesParsed.get == 4,
      "pages 1-4 parsed (stop lands on page 4's stale row); 5 and 6 skipped")
    assert(!ids.contains(403L), "the at-watermark row triggered the stop and is excluded")
    assert(!ids.contains(404L) && !ids.contains(501L))
    assert(ids.contains(401L) && ids.contains(402L), "pre-stop rows of the stop page survive")
    // malformed rows pass through the source; the engine's residual filter
    // decides — lexicographically 'not-a-timestamp' > the watermark string,
    // so it survives THIS filter (i10 adds the parse-null guard)
    assert(ids.contains(107L))
  }

  test("scan description advertises the pushed watermark") {
    val filtered = v2.filter(col("published_at") > lit("2025-06-01T12:00:00Z"))
    assert(filtered.queryExecution.executedPlan.toString.contains(
      "watermarkStop=2025-06-01T12:00:00Z"))
  }

  // ---- O11: page-range pushdown ----

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.select("id", "published_at", "title", "page").collect()
      .map(r => (r.get(0), r.get(1), r.get(2), r.getInt(3))).toSet

  test("page range prunes planning: only the range's pages are parsed, same rows") {
    val all = rows(v2).filter { case (_, _, _, p) => p >= 2 && p < 4 }
    val ranged = v2.filter(col("page") >= 2 && col("page") < 4)
    assert(ranged.rdd.getNumPartitions == 2, "one partition per page in [2,3]")
    ArticleSource.pagesParsed.set(0)
    assert(rows(ranged) == all, "pruning is exact: the unpruned scan filtered afterwards")
    assert(ArticleSource.pagesParsed.get == 2)
  }

  test("page range composes with the watermark stop") {
    val wm = col("published_at") > lit("2025-06-01T12:00:00Z")
    val all = rows(v2.filter(wm)).filter(_._4 >= 2)
    val ranged = v2.filter(wm && col("page") >= 2)
    assert(ranged.rdd.getNumPartitions == 1, "the watermark walk stays one partition")
    ArticleSource.pagesParsed.set(0)
    assert(rows(ranged) == all)
    assert(ArticleSource.pagesParsed.get == 3,
      "pages 2-4 parsed (stop on page 4); page 1 pruned, 5 and 6 skipped")
  }

  test("page bounds at the int limits are empty, not wrapped") {
    ArticleSource.pagesParsed.set(0)
    assert(v2.filter(col("page") > Int.MaxValue).collect().isEmpty)
    assert(v2.filter(col("page") < Int.MinValue).collect().isEmpty)
    assert(ArticleSource.pagesParsed.get == 0)
    assert(v2.filter(col("page") <= Int.MaxValue).count() == 28)
  }

  test("an OR over page is not pushed, and the result is still correct") {
    val all = rows(v2).filter(r => r._4 == 1 || r._4 == 5)
    val either = v2.filter(col("page") === 1 || col("page") === 5)
    assert(either.queryExecution.executedPlan.toString.contains("pages=all"))
    ArticleSource.pagesParsed.set(0)
    assert(rows(either) == all)
    assert(ArticleSource.pagesParsed.get == 6)
  }

  test("scan description advertises the pushed page range") {
    val ranged = v2.filter(col("page") >= 2 && col("page") < 4)
    assert(ranged.queryExecution.executedPlan.toString.contains("pages=[2,3]"))
  }

  // ---- O2/O3: retry, backoff, exhaustion, throttle, multi-chunk pages ----

  private def withFault[A](fault: (String, Int) => Unit)(body: => A): A =
    try { ArticleSource.readFault = fault; body }
    finally ArticleSource.readFault = (_, _) => ()

  private def fastRead = s.read.format("graft.sources.ArticleSourceProvider")
    .option("path", path).option("retryBaseMs", "1")

  test("O2: transient read failures retry with backoff and then succeed") {
    val attempts = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
    val n = withFault { (file, attempt) =>
      attempts.merge(file, 1, (a, b) => a + b)
      // every file fails twice, succeeds on the 3rd (== default maxRetries) attempt
      if (attempt < 3) throw new java.io.IOException(s"transient fault $attempt")
    } { fastRead.load().count() }
    assert(n == 28, "all rows arrive despite two transient failures per page")
    assert(attempts.values().toArray.forall(_ == Integer.valueOf(3)),
      "each page file took exactly 3 attempts")
  }

  test("O2: retry exhaustion degrades a backfill chunk to an empty page") {
    val rows = withFault { (file, _) =>
      if (file.contains("page=2")) throw new java.io.IOException("hard down")
    } { fastRead.load().select("page").collect().map(_.getInt(0)) }
    assert(!rows.contains(2), "the permanently-failing page yields no rows")
    assert(rows.length == 21, "the other pages' 28-7 rows still commit (partial progress)")
  }

  test("O2: retry exhaustion in incremental mode stops the scan like an empty page") {
    ArticleSource.pagesParsed.set(0)
    val pages = withFault { (file, _) =>
      if (file.contains("page=3")) throw new java.io.IOException("hard down")
    } {
      fastRead.load()
        .filter(col("published_at") > lit("2020-01-01T00:00:00Z"))
        .select("page").collect().map(_.getInt(0)).toSet
    }
    assert(pages == Set(1, 2), "rows before the dead page commit; nothing after it")
    assert(ArticleSource.pagesParsed.get == 3, "pages 4-6 never attempted after the abort")
  }

  test("O2: a JSON parse error aborts the page immediately without retry") {
    val dir = java.nio.file.Files.createTempDirectory("articles_bad").toFile
    val p1 = new java.io.File(dir, "page=1"); p1.mkdirs()
    java.nio.file.Files.writeString(p1.toPath.resolve("articles.json"), "{not json[")
    val attempts = new java.util.concurrent.atomic.AtomicInteger(0)
    val n = withFault { (_, _) => attempts.incrementAndGet(); () } {
      s.read.format("graft.sources.ArticleSourceProvider")
        .option("path", dir.getPath).option("retryBaseMs", "1").load().count()
    }
    assert(n == 0)
    assert(attempts.get == 1, "parse errors are not retried (reference breaks immediately)")
  }

  test("O3: throttleMs paces successive page reads in the incremental walk") {
    val t0 = System.nanoTime()
    fastRead.option("throttleMs", "40").load()
      .filter(col("published_at") > lit("2025-06-01T12:00:00Z")).count()
    val elapsedMs = (System.nanoTime() - t0) / 1000000
    // incremental walk parses pages 1-4 → 3 inter-page sleeps of 40 ms
    assert(elapsedMs >= 120, s"expected >=3 throttle sleeps, elapsed ${elapsedMs}ms")
  }

  test("multi-chunk page dirs: every appended blob is read, in name order") {
    val dir = java.nio.file.Files.createTempDirectory("articles_multi").toFile
    val p1 = new java.io.File(dir, "page=1"); p1.mkdirs()
    java.nio.file.Files.writeString(p1.toPath.resolve("page=1_20250601T000000Z.json"),
      """[{"id": 1, "published_at": "2025-06-01T00:00:00Z", "title": "a"}]""")
    java.nio.file.Files.writeString(p1.toPath.resolve("page=1_20250602T000000Z.json"),
      """[{"id": 2, "published_at": "2025-06-02T00:00:00Z", "title": "b"}]""")
    val df = s.read.format("graft.sources.ArticleSourceProvider")
      .option("path", dir.getPath).load()
    assert(df.select("id").collect().map(_.getLong(0)).toSet == Set(1L, 2L))
    assert(df.rdd.getNumPartitions == 2, "backfill plans one partition per chunk file")
  }

  test("pageFiles fails loudly on a missing source path") {
    intercept[IllegalArgumentException] {
      ArticleSource.pageFiles("/root/repo/fixtures/does_not_exist")
    }
  }

  test("pageFiles fails loudly, naming the dir, on a non-integer page dir") {
    val dir = java.nio.file.Files.createTempDirectory("articles_badpage").toFile
    new java.io.File(dir, "page=abc").mkdirs()
    val e = intercept[IllegalArgumentException](ArticleSource.pageFiles(dir.getPath))
    assert(e.getMessage.contains("page=abc"))
  }

  test("O13/O14 streaming: page-cursor offset commits atomically; restart reads nothing new") {
    val base = java.nio.file.Files.createTempDirectory("articles_ckpt")
    val (out, ckpt) = (base.resolve("out").toString, base.resolve("ckpt").toString)
    def runOnce(): Long = {
      val q = s.readStream.format("graft.sources.ArticleSourceProvider")
        .option("path", path).load()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s.read.parquet(out).count()
    }
    assert(runOnce() == 28, "first run drains every page into the sink")
    assert(runOnce() == 28,
      "second run with the same checkpoint resumes past the committed cursor: zero new rows")
  }

  test("V2 rows match the built-in multiLine JSON reader") {
    val builtin = s.read
      .schema(graft.ingest.ArticlePipeline.articleSchema)
      .option("multiLine", "true").json(path)
      .select(col("id"), col("published_at"), col("title"), col("page").cast("int"))
      .collect().map(r => (r.get(0), r.get(1), r.get(2), r.get(3))).toSet
    val custom = v2.select("id", "published_at", "title", "page")
      .collect().map(r => (r.get(0), r.get(1), r.get(2), r.get(3))).toSet
    assert(custom == builtin)
  }
}
