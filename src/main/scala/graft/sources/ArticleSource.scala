package graft.sources

import java.util
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.core.JsonProcessingException
import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSource V2 implementation of the reference's paginated article
  * source (SURVEY §2.1 O1) with the sorted-scan early-stop pushdown (O8)
  * — the one reference behavior Spark's built-in readers cannot express:
  * the feed is newest-first, so once one row is at-or-below the watermark
  * the REST of that page and every later page can be skipped entirely
  * (/root/reference/fetch_articles.py:102-104 returns mid-page).
  *
  * Usage: spark.read.format("graft.sources.ArticleSourceProvider")
  *          .option("path", dir).load()
  * Reader options (SURVEY §2.1 O2/O3, fetch_articles.py:13-15,62-76,112):
  *  - maxRetries  (default 3): attempts per page read; transient I/O
  *    failures back off exponentially between attempts; exhaustion
  *    degrades to an empty page (the reference logs "Aborting fetch" and
  *    returns []), which in incremental mode stops the scan.
  *  - retryBaseMs (default 1000): backoff sleep is retryBaseMs·2^attempt,
  *    the reference's time.sleep(2**attempt) with a test-tunable unit.
  *  - throttleMs  (default 0): pause between successive page reads inside
  *    one partition — the reference's SLEEP_DELAY rate limit. It paces the
  *    sequential incremental walk (the API-facing mode) and, in backfill,
  *    the run of contiguous chunks each partition reads; partitions still
  *    read in parallel with one another.
  * A malformed page body (JSON parse error) is NOT retried — the
  * reference breaks out immediately on JSONDecodeError (fetch_articles
  * .py:73-76) — and likewise degrades to an empty page.
  *
  * Planning strategy mirrors the two reference modes:
  *  - no watermark filter pushed (backfill): the chunk files are cut, in
  *    (page, file-name) order, into contiguous runs of near-equal bytes —
  *    about one partition per core, more only past
  *    spark.sql.files.maxPartitionBytes, never more than one per file
  *    ([[ArticleSource.packPartitions]]). Runs scan in parallel like any
  *    file source's packed splits, but stay contiguous: pages are
  *    time-ordered, so each task spans few dates and opens few sink files;
  *  - watermark filter pushed (incremental): ONE partition walking pages
  *    in ascending page order, stopping the whole scan at the first stale
  *    parsed row. The feed order is the reference's contract; sequential
  *    consumption is inherent to early termination, and the row volume in
  *    this mode is the small "new since watermark" delta by construction.
  *  - in both modes, integer comparisons on `page` (`>`, `>=`, `<`, `<=`,
  *    `=`) narrow one inclusive page range, and planning drops every page
  *    file outside it: a backfill window (O11, boundedPages) plans and
  *    parses only its own pages, the reference's maxPages fetch.
  *
  * A page dir may hold several chunk files (the reference appends a new
  * `page=N_<timestamp>.json` blob per run, fetch_articles.py:127) — all
  * are read, in (page, file-name) order.
  *
  * The pushed watermark filter stays a residual (Spark re-applies it), so
  * the stop is purely an optimization — malformed rows pass through to the
  * engine, which drops them exactly like the PERMISSIVE path (O6). The page
  * range is exact (`page` is constant within a partition), so page filters
  * are not residual: per-window literals never reach generated code.
  */
class ArticleSourceProvider extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    ArticleSource.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new ArticleTable(properties.get("path"))
}

object ArticleSource {
  val schema: StructType = StructType(Seq(
    StructField("id", LongType),
    StructField("published_at", StringType),
    StructField("title", StringType),
    StructField("page", IntegerType)))

  /** Pages actually parsed — lets tests prove the early stop skipped
    * later pages rather than reading-then-filtering them. */
  val pagesParsed = new java.util.concurrent.atomic.AtomicLong(0)

  /** Test seam for O2: invoked with (filePath, attempt) before each
    * physical page read. Tests install a closure that throws IOException
    * for the first k attempts to simulate transient storage failures; the
    * retry/backoff machinery under test is the real reader code. No-op in
    * production; static, so local-mode (shared-JVM) tests only. */
  @volatile var readFault: (String, Int) => Unit = (_, _) => ()

  def parseIso(v: String): Option[java.time.Instant] =
    try Some(java.time.Instant.parse(v)) catch { case _: Exception => None }

  /** All page chunk files under the source path with page N in `pages`,
    * ordered by (page N ascending, file name ascending). Each `page=N` dir
    * may hold several chunk files — successive incremental batches in the
    * reference's layout — and all of them are data. A `page=` dir whose N
    * is not an int fails planning, naming the dir. */
  def pageFiles(path: String, pages: PageRange = PageRange.All): Seq[(Int, java.io.File)] = {
    val base = new java.io.File(path)
    val entries = Option(base.listFiles()).getOrElse(
      throw new IllegalArgumentException(
        s"article source path is not a readable directory: $path"))
    entries.toSeq
      .filter(f => f.isDirectory && f.getName.startsWith("page="))
      .map { dir =>
        val page = dir.getName.stripPrefix("page=").toIntOption.getOrElse(
          throw new IllegalArgumentException(s"article page dir is not page=<int>: $dir"))
        page -> dir
      }
      .filter { case (page, _) => pages.contains(page) }
      .flatMap { case (page, dir) =>
        Option(dir.listFiles()).getOrElse(Array.empty[java.io.File]).toSeq
          .filter(_.isFile).map(page -> _)
      }
      .sortBy { case (p, f) => (p, f.getName) }
  }

  /** Parallel planning rule for page files (backfill scan and each
    * streaming micro-batch): `files`, kept in order, cut by
    * [[packContiguous]] into [[groupCount]] partitions. Parallelism is
    * `spark.sql.leafNodeDefaultParallelism`, else the context's default
    * parallelism; the byte cap is `spark.sql.files.maxPartitionBytes`. */
  def packPartitions(files: Seq[(Int, java.io.File)]): Array[InputPartition] = {
    val sizes = files.map(_._2.length)
    val conf = SQLConf.get
    val parallelism = conf.getConf(SQLConf.LEAF_NODE_DEFAULT_PARALLELISM)
      .getOrElse(SparkSession.active.sparkContext.defaultParallelism)
    val groups = groupCount(files.length, sizes.sum, parallelism, conf.filesMaxPartitionBytes)
    packContiguous(sizes, groups).map { r =>
      ArticlePartition(files.slice(r.start, r.end).map { case (p, f) => (p, f.getPath) })
    }.toArray
  }

  /** `min(files, max(parallelism, ceil(totalBytes / maxPartitionBytes)))`:
    * about one partition per core, more only when that would exceed the
    * byte cap, never more than one per file (0 files give 0). */
  def groupCount(files: Int, totalBytes: Long, parallelism: Int, maxPartitionBytes: Long): Int = {
    val byBytes = (totalBytes + maxPartitionBytes - 1) / maxPartitionBytes
    math.min(files.toLong, math.max(parallelism.toLong, byBytes)).toInt
  }

  /** Cuts files of the given sizes, in order, into `groups` contiguous
    * non-empty index ranges of near-equal bytes (`groups` is capped at the
    * file count). Cut j falls on the prefix whose byte total is nearest
    * j/groups of the whole, kept strictly after cut j-1 and early enough
    * to leave one file per later group, so no group holds more than
    * the mean plus the largest file. Contiguity, not size-sorting as in
    * Spark's FilePartition: pages are time-ordered, so a contiguous group
    * spans few publication dates and its sink task opens few files. */
  def packContiguous(sizes: Seq[Long], groups: Int): Seq[Range] = {
    val n = sizes.length
    val k = math.min(groups, n)
    if (k <= 0) return Seq.empty
    val prefix = sizes.scanLeft(0L)(_ + _).toArray
    val cuts = (1 until k).scanLeft(0) { (prev, j) =>
      val target = prefix(n).toDouble * j / k
      (prev + 1 to n - (k - j)).minBy(c => math.abs(prefix(c) - target))
    } :+ n
    cuts.zip(cuts.tail).map { case (a, b) => a until b }
  }
}

/** Inclusive page bounds narrowed by pushed `page` comparisons. Long, so
  * `page > Int.MaxValue` and `page < Int.MinValue` are empty, not wrapped. */
case class PageRange(lo: Long, hi: Long) {
  def contains(page: Int): Boolean = lo <= page && page <= hi
  override def toString: String = if (this == PageRange.All) "all" else s"[$lo,$hi]"
}

object PageRange {
  val All: PageRange = PageRange(Int.MinValue, Int.MaxValue)

  /** The pushable filters: an int comparison on `page` and how it narrows a range. */
  val narrow: PartialFunction[Filter, PageRange => PageRange] = {
    case GreaterThan("page", v: Int) => r => r.copy(lo = r.lo max (v + 1L))
    case GreaterThanOrEqual("page", v: Int) => r => r.copy(lo = r.lo max v)
    case LessThan("page", v: Int) => r => r.copy(hi = r.hi min (v - 1L))
    case LessThanOrEqual("page", v: Int) => r => r.copy(hi = r.hi min v)
    case EqualTo("page", v: Int) => r => PageRange(r.lo max v, r.hi min v)
  }
}

/** Retry/throttle knobs threaded from reader options to each partition
  * reader (serialized to executors). */
case class ArticleReadConf(maxRetries: Int, retryBaseMs: Long, throttleMs: Long)

object ArticleReadConf {
  def from(options: CaseInsensitiveStringMap): ArticleReadConf = ArticleReadConf(
    maxRetries = options.getInt("maxRetries", 3),
    retryBaseMs = options.getLong("retryBaseMs", 1000L),
    throttleMs = options.getLong("throttleMs", 0L))
}

class ArticleTable(path: String) extends Table with SupportsRead {
  override def name(): String = s"articles($path)"
  override def schema(): StructType = ArticleSource.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ArticleScanBuilder(path, ArticleReadConf.from(options))
}

class ArticleScanBuilder(path: String, conf: ArticleReadConf)
    extends ScanBuilder with SupportsPushDownFilters {
  private var watermark: Option[String] = None
  private var pages = PageRange.All
  private var pushed: Array[Filter] = Array.empty

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    // Integer comparisons on `page` narrow the planned page range and are
    // exact, so they are consumed. Accept `published_at > <literal>` as the
    // scan-stop watermark; it and every other filter remain residual — the
    // source may emit rows below the watermark (the stale row that
    // triggered the stop, malformed rows) and the engine finishes the job.
    val (pageFilters, residual) = filters.partition(PageRange.narrow.isDefinedAt)
    pages = pageFilters.foldLeft(PageRange.All)((r, f) => PageRange.narrow(f)(r))
    pushed = pageFilters ++ residual.collect {
      case f @ GreaterThan("published_at", v: String) =>
        watermark = Some(v); f
    }
    residual
  }
  override def pushedFilters(): Array[Filter] = pushed
  override def build(): Scan = new ArticleScan(path, watermark, pages, conf)
}

class ArticleScan(path: String, watermark: Option[String], pages: PageRange,
    conf: ArticleReadConf) extends Scan with Batch {
  override def readSchema(): StructType = ArticleSource.schema
  override def toBatch: Batch = this
  override def toMicroBatchStream(checkpointLocation: String) =
    new ArticleMicroBatchStream(path, conf)
  override def description(): String =
    s"ArticleScan(watermarkStop=${watermark.getOrElse("none")}, pages=$pages)"

  override def planInputPartitions(): Array[InputPartition] = {
    val files = ArticleSource.pageFiles(path, pages)
    watermark match {
      case Some(_) => Array(ArticlePartition(files.map { case (p, f) => (p, f.getPath) }))
      case None => ArticleSource.packPartitions(files)
    }
  }
  override def createReaderFactory(): PartitionReaderFactory =
    new ArticleReaderFactory(watermark, conf)
}

/** The reference pipeline's TRUE Spark-native form (SURVEY §2.1 O1 "long
  * term" + O13/O14): a streaming V2 source whose Offset IS the page
  * cursor. Structured Streaming's checkpoint log commits the offset
  * atomically with the sink — the effectively-once upgrade over the
  * reference's save-blob-then-save-cursor pair (fetch_articles_backfill
  * .py:102-111, non-atomic). A restart with the same checkpoint resumes
  * AFTER the last committed page and an unchanged feed yields zero new
  * rows — the reference's incremental-run contract, proven in
  * ArticleSourceSpec.
  *
  * Each micro-batch covers the pages in (start, end], planned into
  * parallel partitions by the backfill scan's rule
  * ([[ArticleSource.packPartitions]]). */
class ArticleMicroBatchStream(path: String, conf: ArticleReadConf)
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream {
  import org.apache.spark.sql.connector.read.streaming.Offset

  private case class PageOffset(page: Int) extends Offset {
    override def json(): String = page.toString
  }

  private def maxPage: Int =
    (0 +: ArticleSource.pageFiles(path).map(_._1)).max

  override def initialOffset(): Offset = PageOffset(0)
  override def latestOffset(): Offset = PageOffset(maxPage)
  override def deserializeOffset(json: String): Offset = PageOffset(json.trim.toInt)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[PageOffset].page
    val e = end.asInstanceOf[PageOffset].page
    ArticleSource.packPartitions(ArticleSource.pageFiles(path, PageRange(s + 1L, e)))
  }
  override def createReaderFactory(): PartitionReaderFactory =
    new ArticleReaderFactory(None, conf)
}

case class ArticlePartition(pages: Seq[(Int, String)]) extends InputPartition

class ArticleReaderFactory(watermark: Option[String], conf: ArticleReadConf)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new ArticleReader(partition.asInstanceOf[ArticlePartition], watermark, conf)
}

class ArticleReader(partition: ArticlePartition, watermark: Option[String],
    conf: ArticleReadConf) extends PartitionReader[InternalRow] {

  private val wmInstant = watermark.flatMap(ArticleSource.parseIso)
  private val pageQueue = mutable.Queue(partition.pages: _*)
  private var rows: Iterator[InternalRow] = Iterator.empty
  private var stopped = false
  private var firstLoad = true
  private var current: InternalRow = _
  private val mapper = new ObjectMapper()

  /** O2: bounded-retry page read with exponential backoff. Transient I/O
    * errors retry up to maxRetries with retryBaseMs·2^attempt sleeps
    * (fetch_articles.py:62-72); a JSON parse error aborts immediately
    * without retry (:73-76). Exhaustion returns None — the reference's
    * `return []` — which the caller treats as an empty page (and so, in
    * incremental mode, a scan stop). */
  private def readPageWithRetry(file: String): Option[com.fasterxml.jackson.databind.JsonNode] = {
    var attempt = 1
    while (attempt <= conf.maxRetries) {
      try {
        ArticleSource.readFault(file, attempt)
        return Some(mapper.readTree(new java.io.File(file)))
      } catch {
        case e: JsonProcessingException =>
          System.err.println(s"[articles] failed to parse JSON body of $file: ${e.getMessage}")
          return None
        case e: java.io.IOException =>
          System.err.println(s"[articles] page read failed (attempt $attempt): ${e.getMessage}")
          if (attempt == conf.maxRetries) {
            System.err.println(s"[articles] max retries reached for $file; aborting fetch")
            return None
          }
          Thread.sleep(conf.retryBaseMs * (1L << attempt))
          attempt += 1
      }
    }
    None
  }

  private def loadNextPage(): Boolean = {
    if (stopped || pageQueue.isEmpty) return false
    // O3: rate limit between successive page reads in one partition —
    // the reference sleeps SLEEP_DELAY between page fetches (:112).
    if (!firstLoad && conf.throttleMs > 0) Thread.sleep(conf.throttleMs)
    firstLoad = false
    val (page, file) = pageQueue.dequeue()
    ArticleSource.pagesParsed.incrementAndGet()
    val arrOpt = readPageWithRetry(file)
    if (arrOpt.isEmpty) {
      // Reference semantics: a page that can't be fetched is an empty
      // page; the incremental collect loop breaks on it (:90-91). The
      // rows gathered so far still commit (partial-progress save).
      if (wmInstant.isDefined) stopped = true
      rows = Iterator.empty
      return true
    }
    val arr = arrOpt.get
    val buf = mutable.ArrayBuffer.empty[InternalRow]
    val it = arr.elements().asScala
    var pageStopped = false
    while (it.hasNext && !pageStopped) {
      val node = it.next()
      val ts = Option(node.get("published_at")).filter(!_.isNull).map(_.asText())
      // O8: first PARSED row at-or-below the watermark ends the entire
      // scan mid-page (strict >, so == stops too). Malformed rows are
      // emitted and left to the engine's residual filter — they must not
      // terminate the scan (O6 is log-and-continue).
      val stale = (for (w <- wmInstant; t <- ts.flatMap(ArticleSource.parseIso))
        yield !t.isAfter(w)).getOrElse(false)
      if (stale) {
        pageStopped = true
        stopped = true
      } else {
        buf += InternalRow(
          Option(node.get("id")).filter(!_.isNull).map(n => java.lang.Long.valueOf(n.asLong)).orNull,
          ts.map(UTF8String.fromString).orNull,
          Option(node.get("title")).filter(!_.isNull).map(n => UTF8String.fromString(n.asText)).orNull,
          page)
      }
    }
    // An empty page terminates the incremental scan too (fetch_articles.py:90-91)
    if (!arr.elements().hasNext && wmInstant.isDefined) stopped = true
    rows = buf.iterator
    true
  }

  override def next(): Boolean = {
    while (!rows.hasNext) if (!loadNextPage()) return false
    current = rows.next()
    true
  }
  override def get(): InternalRow = current
  override def close(): Unit = ()
}
