package graft.ingest

import com.fasterxml.jackson.core.JsonProcessingException
import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The reference's ingestion pipeline (SURVEY.md §2.1 O4–O14), re-expressed
  * as composable Spark batch transforms over the committed Forem-article
  * fixtures (FIXTURES.md §A; tools/gen_fixtures.py).
  *
  * Mapping (reference file:line → here):
  *  - O4  JSON decode (fetch_articles.py:66)           → readPages/readJsonl
  *  - O5  timestamp parse + Z-normalize (:95-97)       → parsed (try_to_timestamp;
  *        Spark's ISO-8601 parser subsumes the Z→+00:00 rewrite)
  *  - O6  malformed-record skip (:98-100)              → parsed's isNotNull filter
  *        (field-level skip), PERMISSIVE null-fill for line-level corruption
  *  - O7  strict-> watermark filter (:102-104)         → newSince
  *  - O9  running MAX watermark (:105-108)             → nextWatermark
  *  - O10 page buffer/union (:106)                     → one multi-file read
  *        (per-page files union at the source, no driver loop)
  *  - O11 bounded micro-batch (backfill :88)           → boundedPages
  *  - O12 date-partitioned sink (:117-136)             → writeDatePartitioned.
  *        Deliberate deviation (documented): the reference names files by
  *        *run* date (current_date at write, :124-126); we partition by
  *        *event* date so re-runs are deterministic and oracle-checkable.
  *  - O13 watermark checkpoint read/commit (:33-55)    → loadWatermark (read
  *        side; the commit in Spark is the write of the new max — atomic
  *        rename semantics upgrade the reference's non-atomic blob pair)
  *  - O14 page-cursor checkpoint + max(1,·) floor
  *        (fetch_articles_backfill.py:36-44)           → loadBackfillCursor
  *
  * The watermark stays a 1-row DataFrame and reaches the data plan via a
  * broadcast join — no collect in that data path. The backfill cursor is
  * control state, resolved on the driver like the reference's blob read
  * (fetch_articles_backfill.py:36-44): it reaches the plan as int page
  * bounds that the article source prunes before planning (O11).
  */
object ArticlePipeline {

  /** Repo-committed fixtures (absolute — the driver may run from any cwd). */
  val fixturesDir = "/root/repo/fixtures"

  /** Explicit Forem article schema (FIXTURES.md §A.1). Ints are LongType:
    * JSON numbers are int64 on every engine that matters here. */
  val articleSchema: StructType = StructType(Seq(
    StructField("type_of", StringType),
    StructField("id", LongType),
    StructField("title", StringType),
    StructField("description", StringType),
    StructField("published", BooleanType),
    StructField("published_at", StringType),
    StructField("slug", StringType),
    StructField("url", StringType),
    StructField("comments_count", LongType),
    StructField("public_reactions_count", LongType),
    StructField("reading_time_minutes", LongType),
    StructField("tag_list", ArrayType(StringType)),
    StructField("user", StructType(Seq(
      StructField("name", StringType),
      StructField("username", StringType),
      StructField("user_id", LongType)))),
    StructField("organization", StructType(Seq(
      StructField("name", StringType),
      StructField("username", StringType))))))

  /** O4/O10: read every page blob (pretty-printed JSON arrays, one per
    * hive `page=N` dir) in a single multi-file scan; `page` arrives as a
    * partition column — the scan parallelizes over files, the "union of
    * page buffers" is the source itself. */
  def readPages(spark: SparkSession): DataFrame =
    spark.read
      .schema(articleSchema)
      .option("multiLine", "true")
      .json(s"$fixturesDir/articles")
      .withColumn("page", col("page").cast("int"))

  /** O4/O6 line-level: newline-delimited read in PERMISSIVE mode — a
    * corrupt line becomes an all-null row (the columnar analog of the
    * reference's abort-page-on-JSONDecodeError, weakened per record). */
  def readJsonl(spark: SparkSession): DataFrame =
    spark.read
      .schema(articleSchema)
      .option("mode", "PERMISSIVE")
      .json(s"$fixturesDir/articles_jsonl/articles.jsonl")

  /** O5/O6 field-level: ISO-8601 parse (Z handled natively); rows whose
    * published_at is missing, null, or unparsable get ts = NULL and are
    * dropped by keepParsed — log-and-continue, never fail the batch. */
  def withTs(df: DataFrame): DataFrame =
    df.withColumn("ts", try_to_timestamp(col("published_at")))

  def keepParsed(df: DataFrame): DataFrame =
    withTs(df).filter(col("ts").isNotNull)

  /** O13 read: the `{"latest_timestamp": ...}` checkpoint blob as a 1-row
    * DataFrame (parsed to TimestampType). */
  def loadWatermark(spark: SparkSession): DataFrame =
    spark.read
      .schema(StructType(Seq(StructField("latest_timestamp", StringType))))
      .json(s"$fixturesDir/checkpoints/latest_timestamp.json")
      .select(try_to_timestamp(col("latest_timestamp")).as("wm"))

  /** O7: strictly newer than the watermark — `>` not `>=`
    * (fetch_articles.py:102: `<=` stops the scan), joined in as a
    * broadcast so the article side never shuffles. */
  def newSince(articles: DataFrame, wm: DataFrame): DataFrame =
    articles.crossJoin(broadcast(wm)).filter(col("ts") > col("wm"))

  /** O9: the next watermark = running max of event time over the batch. */
  def nextWatermark(kept: DataFrame): DataFrame =
    kept.agg(max(col("ts")).as("new_watermark"), count(lit(1)).as("n_new"))

  /** O14: backfill cursor with the reference's `max(1, page)` floor, and
    * the missing-checkpoint default of page 1 — a first-ever run has no
    * blob and must start from the beginning
    * (fetch_articles_backfill.py:36-44: absent blob → default, `:42`:
    * floor). */
  def loadBackfillCursor(spark: SparkSession): DataFrame =
    loadBackfillCursorFrom(spark, s"$fixturesDir/checkpoints/backfill_page.json")

  /** The tiny blob is parsed on the driver into a local 1-row DataFrame,
    * so reading the cursor back launches no Spark job. A missing file, a
    * null or non-integer `page`, or a malformed body gives 1. */
  def loadBackfillCursorFrom(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    val file = new java.io.File(path)
    val page =
      if (!file.exists()) None
      else try Some(new ObjectMapper().readTree(file).path("page"))
        .filter(n => n.isIntegralNumber && n.canConvertToLong).map(_.asLong)
      catch { case _: JsonProcessingException => None }
    Seq(page.fold(1L)(_ max 1L)).toDF("cursor")
  }

  /** O11: admit only maxPages pages starting at the cursor — the bounded
    * micro-batch that kept the reference inside its 10-minute window. The
    * 1-row cursor is collected on the driver (free for the local relation
    * loadBackfillCursorFrom returns) and the window becomes int literals
    * on `page`, which ArticleSource prunes at planning and file sources
    * prune as a partition filter. A null or absent cursor, or a window
    * outside the int range, admits nothing. */
  def boundedPages(pages: DataFrame, cursor: DataFrame, maxPages: Int): DataFrame = {
    val from = cursor.select(col("cursor").cast(LongType)).collect()
      .headOption.filterNot(_.isNullAt(0)).map(_.getLong(0))
    val window = from.filter(c => maxPages > 0 && c <= Int.MaxValue)
      .map(c => (c max Int.MinValue, (c + maxPages - 1) min Int.MaxValue))
      .filter { case (lo, hi) => lo <= hi }
    pages.filter(window.fold(lit(false)) { case (lo, hi) =>
      col("page").between(lo.toInt, hi.toInt)
    })
  }

  /** O12: true hive date partitioning (the reference merely mimics it with
    * `/` in flat blob names, fetch_articles.py:124-126). */
  def writeDatePartitioned(kept: DataFrame, outDir: String): Unit =
    kept.withColumn("ingest_date", to_date(col("ts")))
      .write.mode("overwrite").partitionBy("ingest_date").json(outDir)
}
