package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.time.Instant
import java.util.SplittableRandom

import scala.collection.mutable

/** Seeded Forem `/articles/latest` feed generator with ground truth.
  *
  * Pages are JSON arrays, newest article first, one compact article object
  * per line, under hive `page=N` directories (the layout
  * `graft.sources.ArticleSourceProvider` reads). Every byte is a function of
  * the seed and the operation index, so two runs with the same seed write
  * identical files.
  *
  * Planted cases, per incremental delta / backfill drain:
  *  - about 1.5% of articles with a missing, garbage or `null` `published_at`;
  *  - a mix of `Z`-suffixed and `+00:00` timestamps;
  *  - (incremental) one article exactly at the watermark, opening a stale
  *    run that starts mid-page, and an empty trailing page;
  *  - (backfill) an empty last page.
  *
  * For each operation the generator returns the expected outcome: kept
  * articles per `ingest_date`, the next watermark or cursor, and the feed
  * bytes of the kept articles.
  */
object FeedGen {
  /** Writes a sample of both feeds with their manifests (three incremental
    * deltas, one backfill drain): `perfbench.FeedGen <seed> <dir>`. */
  def main(args: Array[String]): Unit = {
    val root = java.nio.file.Paths.get(args(1))
    val inc = new Incremental(args(0).toLong, root.resolve("inc"))
    inc.writeTail()
    val truths = (0 until 3).map(inc.publish) ++ new Backfill(args(0).toLong, root.resolve("bf")).publish(0)
    Files.write(root.resolve("truth.jsonl"),
      truths.map(_.toJson).mkString("", "\n", "\n").getBytes(UTF_8))
  }

  val IncPerPage = 300
  val BackfillPerPage = 500
  val BackfillPages = 60 // 59 full pages + one empty trailing page
  val MaxPages = 15
  val TailPages = 50 // stale tail behind every incremental delta
  private val Tags = Array("python", "spark", "scala", "data", "webdev", "tutorial", "rust", "ai")
  private val Words = Array("fast", "etl", "ingest", "stream", "azure", "function",
    "timer", "blob", "watermark", "cursor", "page", "feed", "batch", "sink", "spark")

  /** Expected outcome of one operation. `kept` maps ingest_date to count. */
  final case class Truth(
      op: Int,
      feedDir: String,
      ownPages: Seq[Int],
      kept: Map[String, Long],
      keptBytes: Long,
      prevWatermark: String,
      nextWatermark: String,
      cursor: Long,
      nextCursor: Long) {
    def keptCount: Long = kept.values.sum
    def toJson: String = {
      val k = kept.toSeq.sorted.map { case (d, n) => s""""$d":$n""" }.mkString("{", ",", "}")
      s"""{"op":$op,"feed_dir":"$feedDir","own_pages":${ownPages.mkString("[", ",", "]")},""" +
        s""""kept":$k,"kept_count":$keptCount,"kept_bytes":$keptBytes,""" +
        s""""prev_watermark":"$prevWatermark","next_watermark":"$nextWatermark",""" +
        s""""cursor":$cursor,"next_cursor":$nextCursor}"""
    }
  }

  def iso(epochSec: Long): String = Instant.ofEpochSecond(epochSec).toString

  /** A stream of independent generators, one per (seed, stream, index). */
  def rng(seed: Long, stream: Long, index: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ (stream << 40) ^ index)

  private def quote(s: String): String = "\"" + s + "\""

  /** One article as a compact JSON object. `ts = None` plants a malformed
    * `published_at` (missing, garbage or null, chosen by `kind`). */
  def article(id: Long, ts: Option[Long], r: SplittableRandom, kind: Int): String = {
    val sb = new StringBuilder(512)
    val user = id % 97
    sb.append("{\"type_of\":\"article\",\"id\":").append(id)
    sb.append(",\"title\":").append(quote(
      s"${Words(r.nextInt(Words.length))} ${Words(r.nextInt(Words.length))} #$id"))
    sb.append(",\"description\":").append(quote(s"Notes on ${Words(r.nextInt(Words.length))} $id"))
    sb.append(",\"published\":true")
    ts match {
      case Some(t) =>
        val s = if (r.nextInt(10) < 7) iso(t) else iso(t).stripSuffix("Z") + "+00:00"
        sb.append(",\"published_at\":").append(quote(s))
      case None => kind % 3 match {
        case 0 => () // field absent
        case 1 => sb.append(",\"published_at\":\"not-a-date\"")
        case _ => sb.append(",\"published_at\":null")
      }
    }
    sb.append(",\"slug\":").append(quote(s"article-$id"))
    sb.append(",\"url\":").append(quote(s"https://dev.to/u$user/article-$id"))
    sb.append(",\"comments_count\":").append(r.nextInt(40))
    sb.append(",\"public_reactions_count\":").append(r.nextInt(300))
    sb.append(",\"reading_time_minutes\":").append(1 + r.nextInt(12))
    sb.append(",\"tag_list\":[").append(quote(Tags(r.nextInt(Tags.length))))
      .append(",").append(quote(Tags(r.nextInt(Tags.length)))).append("]")
    sb.append(",\"user\":{\"name\":").append(quote(s"User $user"))
      .append(",\"username\":").append(quote(s"u$user"))
      .append(",\"user_id\":").append(1000 + user).append("}")
    sb.append("}")
    sb.toString
  }

  /** Exactly the at-watermark article: same string as the checkpoint. */
  private def atWatermark(id: Long, wm: String): String =
    s"""{"type_of":"article","id":$id,"title":"boundary #$id","published":true,""" +
      s""""published_at":"$wm","slug":"article-$id","tag_list":[]}"""

  private def writePage(dir: Path, page: Int, articles: Seq[String]): Unit = {
    val p = dir.resolve(s"page=$page")
    Files.createDirectories(p)
    val body = if (articles.isEmpty) "[]\n" else articles.mkString("[\n", ",\n", "\n]\n")
    Files.write(p.resolve("articles.json"), body.getBytes(UTF_8))
  }

  private def bytes(s: String): Long = s.getBytes(UTF_8).length.toLong

  private def date(epochSec: Long): String = iso(epochSec).substring(0, 10)

  /** Incremental feed: a small delta of new articles on top of a shared
    * stale tail. `publish(i)` writes operation i's feed and returns its
    * truth; the watermark chain is the generator's own, never the
    * engine's. */
  final class Incremental(seed: Long, root: Path) {
    val start: Long = Instant.parse("2025-06-01T00:00:00Z").getEpochSecond
    private var wm: Long = start
    private var nextId: Long = 10000000L
    private val tail = root.resolve("tail")
    val initialWatermark: String = iso(start)

    /** The stale tail, written once; every operation links to it. */
    def writeTail(): Unit = {
      val r = rng(seed, 1, 0)
      var t = start - 3600
      var id = 1L
      for (p <- 1 to TailPages) {
        val arts = (1 to IncPerPage).map { _ =>
          t -= 1 + r.nextInt(120); id += 1
          article(id, Some(t), r, 0)
        }
        writePage(tail, p, arts)
      }
    }

    def publish(op: Int): Truth = {
      val r = rng(seed, 2, op)
      val dir = root.resolve(f"op=$op%05d")
      var d = 1000 + r.nextInt(400)
      if (d % IncPerPage == 0) d += 1 // the stale run must start mid-page
      val offsets = Array.fill(d)(1 + r.nextInt(6 * 3600)).sorted(Ordering.Int.reverse)
      val kept = mutable.TreeMap.empty[String, Long]
      var keptBytes = 0L
      var maxTs = wm
      val fresh = offsets.toSeq.map { off =>
        val t = wm + off
        nextId += 1
        if (r.nextInt(1000) < 15) article(nextId, None, r, r.nextInt(3))
        else {
          val a = article(nextId, Some(t), r, 0)
          kept(date(t)) = kept.getOrElse(date(t), 0L) + 1
          keptBytes += bytes(a)
          maxTs = math.max(maxTs, t)
          a
        }
      }
      val prev = iso(wm)
      nextId += 1
      val boundary = atWatermark(nextId, prev)
      val fill = (1 until IncPerPage - d % IncPerPage).map { k =>
        nextId += 1
        article(nextId, Some(wm - 37L * k), r, 0)
      }
      val all = fresh ++ (boundary +: fill)
      val ownPages = all.grouped(IncPerPage).zipWithIndex.map { case (arts, i) =>
        writePage(dir, i + 1, arts); i + 1
      }.toSeq
      for (j <- 1 to TailPages)
        Files.createSymbolicLink(dir.resolve(s"page=${ownPages.size + j}"),
          dir.relativize(tail.resolve(s"page=$j")))
      writePage(dir, ownPages.size + TailPages + 1, Nil)
      wm = maxTs
      Truth(op, dir.toString, ownPages, kept.toMap, keptBytes, prev, iso(maxTs), 0L, 0L)
    }
  }

  /** Backfill feed: `drain` d is a fresh 60-page feed of 500-article pages
    * drained in windows of MaxPages pages starting at cursor 1. */
  final class Backfill(seed: Long, root: Path) {
    val windowsPerDrain: Int = (BackfillPages + MaxPages - 1) / MaxPages
    private val truths = mutable.Map.empty[Int, IndexedSeq[Truth]]

    def drainDir(drain: Int): Path = root.resolve(f"drain=$drain%04d")

    /** Writes drain d's feed and returns the truth of each of its windows. */
    def publish(drain: Int): IndexedSeq[Truth] = truths.getOrElseUpdate(drain, {
      val r = rng(seed, 3, drain)
      val dir = drainDir(drain).resolve("feed")
      var t = Instant.parse("2025-05-01T00:00:00Z").getEpochSecond - drain * 86400L
      var id = 50000000L + drain * 1000000L
      val pageKept = mutable.Map.empty[Int, (Map[String, Long], Long)]
      for (p <- 1 until BackfillPages) {
        val kept = mutable.Map.empty[String, Long]
        var kb = 0L
        val arts = (1 to BackfillPerPage).map { _ =>
          t -= 1 + r.nextInt(170); id += 1
          if (r.nextInt(1000) < 15) article(id, None, r, r.nextInt(3))
          else {
            val a = article(id, Some(t), r, 0)
            kept(date(t)) = kept.getOrElse(date(t), 0L) + 1
            kb += bytes(a)
            a
          }
        }
        writePage(dir, p, arts)
        pageKept(p) = (kept.toMap, kb)
      }
      writePage(dir, BackfillPages, Nil)
      (0 until windowsPerDrain).map { w =>
        val c = 1L + w * MaxPages
        val pages = (c until c + MaxPages).map(_.toInt).filter(pageKept.contains)
        val kept = pages.flatMap(p => pageKept(p)._1.toSeq)
          .groupMapReduce(_._1)(_._2)(_ + _)
        Truth(w, dir.toString, pages, kept, pages.map(p => pageKept(p)._2).sum,
          "", "", c, c + MaxPages)
      }
    })
  }
}
