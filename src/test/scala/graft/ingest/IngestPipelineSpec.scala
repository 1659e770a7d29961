package graft.ingest

import graft.SparkTestBase
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The SURVEY §2.1 fine print, asserted one clause at a time against the
  * committed fixtures (tools/gen_fixtures.py plants each case). */
class IngestPipelineSpec extends AnyFunSuite {
  private lazy val s = SparkTestBase.spark

  private def kept = ArticlePipeline.newSince(
    ArticlePipeline.keepParsed(ArticlePipeline.readPages(s)),
    ArticlePipeline.loadWatermark(s))

  test("watermark filter is strictly > : the record AT the watermark is dropped") {
    val ids = kept.select("id").collect().map(_.getLong(0)).toSet
    assert(!ids.contains(403L), "id 403 is published exactly at the watermark")
    assert(ids.contains(402L), "id 402 (just above the watermark) must survive")
    assert(!ids.contains(404L) && !ids.contains(501L), "pre-watermark rows must be dropped")
  }

  test("malformed records are skipped row-wise, never failing the batch") {
    val parsed = ArticlePipeline.keepParsed(ArticlePipeline.readPages(s))
    val ids = parsed.select("id").collect().map(_.getLong(0)).toSet
    assert(!ids.contains(106L), "missing published_at")
    assert(!ids.contains(107L), "unparsable published_at")
    assert(!ids.contains(207L), "null published_at")
    // the rest of each affected page is intact (log-and-continue semantics)
    assert(ids.contains(101L) && ids.contains(201L))
  }

  test("Z-suffixed ISO timestamps parse to the UTC instant") {
    val ts = ArticlePipeline.keepParsed(ArticlePipeline.readPages(s))
      .filter(col("id") === 101).select("ts").collect().head.getTimestamp(0)
    assert(ts.toInstant == java.time.Instant.parse("2025-06-10T09:30:00Z"))
  }

  test("running-max watermark advances to the max kept timestamp") {
    val row = ArticlePipeline.nextWatermark(kept).collect().head
    assert(row.getTimestamp(0).toInstant == java.time.Instant.parse("2025-06-10T09:30:00Z"))
    assert(row.getLong(1) == 18L)
  }

  test("empty run short-circuits: no rows past a max-advanced watermark, watermark untouched") {
    val atMax = ArticlePipeline.nextWatermark(kept).select(col("new_watermark").as("wm"))
    val rerun = ArticlePipeline.newSince(
      ArticlePipeline.keepParsed(ArticlePipeline.readPages(s)), atMax)
    assert(rerun.count() == 0, "nothing is strictly newer than the advanced watermark")
    val next = ArticlePipeline.nextWatermark(rerun).collect().head
    assert(next.isNullAt(0) && next.getLong(1) == 0L,
      "an empty batch must not manufacture a watermark (caller keeps the old one)")
  }

  test("backfill cursor floors to 1 (committed checkpoint says page 0)") {
    val cursor = ArticlePipeline.loadBackfillCursor(s).collect().head.getLong(0)
    assert(cursor == 1L)
  }

  test("missing cursor checkpoint defaults to page 1 (first-ever run)") {
    val cursor = ArticlePipeline
      .loadBackfillCursorFrom(s, "/tmp/graft_no_such_checkpoint.json")
      .collect().head.getLong(0)
    assert(cursor == 1L)
  }

  test("null page in the checkpoint blob also floors to 1") {
    assert(cursorFrom("""{"page": null}""") == 1L)
  }

  private def cursorFile(body: String): String = {
    val p = java.nio.file.Files.createTempFile("graft_cursor_", ".json")
    java.nio.file.Files.writeString(p, body).toString
  }

  private def cursorFrom(body: String): Long =
    ArticlePipeline.loadBackfillCursorFrom(s, cursorFile(body)).collect().head.getLong(0)

  test("cursor blob: max(1, page) floor; a malformed body also gives 1") {
    assert(cursorFrom("""{"page": 0}""") == 1L)
    assert(cursorFrom("""{"page": -4}""") == 1L)
    assert(cursorFrom("""{"page": 7}""") == 7L)
    assert(cursorFrom("""{"page": "seven"}""") == 1L, "non-numeric page")
    assert(cursorFrom("""{"page": 7""") == 1L, "malformed body")
  }

  private def v2WindowDf(cursorBody: String, maxPages: Int) = {
    val pages = s.read.format("graft.sources.ArticleSourceProvider")
      .option("path", s"${ArticlePipeline.fixturesDir}/articles").load()
    ArticlePipeline.boundedPages(
      pages, ArticlePipeline.loadBackfillCursorFrom(s, cursorFile(cursorBody)), maxPages)
  }

  private def v2Window(cursorBody: String, maxPages: Int) = {
    val window = v2WindowDf(cursorBody, maxPages)
    graft.sources.ArticleSource.pagesParsed.set(0)
    val got = window.select("page").distinct().collect().map(_.getInt(0)).sorted.toSeq
    (got, graft.sources.ArticleSource.pagesParsed.get)
  }

  /** Writes the window to a fresh date-partitioned sink; returns the
    * (date dirs, data files) it left. */
  private def sinkWindow(window: org.apache.spark.sql.DataFrame): (Int, Int) = {
    val out = java.nio.file.Files.createTempDirectory("graft_window_sink_").toString
    ArticlePipeline.writeDatePartitioned(ArticlePipeline.keepParsed(window), out)
    val dates = new java.io.File(out).listFiles().filter(_.isDirectory)
    (dates.length, dates.flatMap(_.listFiles()).count(_.getName.startsWith("part-")))
  }

  test("bounded window over the V2 source parses exactly maxPages pages") {
    assert(v2Window("""{"page": 2}""", 3) == (Seq(2, 3, 4), 3L))
    // each scan task opens at most one sink file per date it holds
    val window = v2WindowDf("""{"page": 1}""", 6)
    val partitions = window.rdd.getNumPartitions
    assert(partitions == 4, "six page files packed into one run per core")
    val (dates, files) = sinkWindow(window)
    assert(dates > 0 && files <= partitions * dates, s"$files files for $partitions x $dates")
  }

  test("a cursor past the last page gives an empty window; no page is parsed") {
    assert(v2Window("""{"page": 100}""", 3) == (Seq.empty, 0L))
    val window = v2WindowDf("""{"page": 100}""", 3)
    assert(window.rdd.getNumPartitions == 0, "no page files plan no partitions")
    assert(sinkWindow(window) == (0, 0), "the empty window's sink write succeeds, writing nothing")
  }

  test("bounded micro-batch admits exactly maxPages pages from the cursor") {
    val pages = ArticlePipeline.boundedPages(
      ArticlePipeline.readPages(s), ArticlePipeline.loadBackfillCursor(s), 3)
      .select("page").distinct().collect().map(_.getInt(0)).sorted
    assert(pages.toSeq == Seq(1, 2, 3))
  }

  test("date-partitioned sink writes hive dirs and round-trips") {
    val out = java.nio.file.Files.createTempDirectory("graft_sink_spec_").toString
    ArticlePipeline.writeDatePartitioned(kept.drop("wm"), out)
    val dirs = new java.io.File(out).listFiles().filter(_.isDirectory).map(_.getName).sorted
    assert(dirs.forall(_.startsWith("ingest_date=")), s"hive layout expected, got ${dirs.toSeq}")
    assert(dirs.length == 9, "one partition per distinct event date (9 days survive the watermark)")
    val back = s.read
      .schema(ArticlePipeline.articleSchema.add("ts", org.apache.spark.sql.types.TimestampType))
      .json(out)
    assert(back.count() == 18)
  }
}
