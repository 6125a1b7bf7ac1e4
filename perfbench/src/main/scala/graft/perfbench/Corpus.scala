package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import scala.collection.mutable
import graft.PageRow
import graft.Hashing.mix64
import graft.corpus.{PageGen, PdfGen}

/** Seeded inputs of the benchmark's workloads. Every row is a pure function
  * of (seed, index): the same seed gives byte-identical pages on any JVM and
  * at any parallelism, and the engine only ever sees the generated parquet.
  *
  *  - crawl: `PageGen`'s default mix, with each archetype's share exact (the
  *    first indexes of each archetype until its quota is met), so the work
  *    of a corpus does not swing with the seed's draw of archetypes;
  *  - pdf: only the `PageGen` indexes whose archetype is `pdf`/`pdf2`, with
  *    every 200th of them (from a seeded offset) replaced by a giant classic
  *    PDF of 60,000 words, about 50 times a regular one (the skew case);
  *  - delta: the crawl corpus after a re-crawl — 5% of its urls re-fetched as
  *    `PageGen.row(seed + 1, idx)` under the same url, plus 1% new urls.
  */
object Corpus {

  val GiantEvery = 200
  val GiantWords = 60000
  val RecrawlPercent = 5
  val NewPercent = 1

  /** PageGen's archetype mix in percent (FIXTURES.md §1). */
  val Mix: Seq[(String, Int)] = Seq("article" -> 55, "linkfarm" -> 10, "noisy" -> 10,
    "pdf" -> 15, "pdf2" -> 3, "dup" -> 3, "neardup" -> 2, "garbage" -> 2)

  private def draw(seed: Long, idx: Long, salt: Long): Long =
    mix64(mix64(seed ^ salt) + idx) >>> 1

  /** Smallest indexes filling each archetype's share of `n` pages. */
  def crawlIndexes(seed: Long, n: Int): Array[Long] = {
    val quota = mutable.Map(Mix.map { case (a, p) => a -> n * p / 100 }: _*)
    quota("article") += n - quota.values.sum
    val out = mutable.ArrayBuilder.make[Long]
    var idx = 0L
    var left = n
    while (left > 0) {
      val a = PageGen.archetype(seed, idx)
      if (quota(a) > 0) { quota(a) -= 1; left -= 1; out += idx }
      idx += 1
    }
    out.result()
  }

  def isPdf(seed: Long, idx: Long): Boolean = {
    val a = PageGen.archetype(seed, idx)
    a == "pdf" || a == "pdf2"
  }

  /** The first `n` PageGen indexes of a PDF archetype under this seed. */
  def pdfIndexes(seed: Long, n: Int): Array[Long] =
    Iterator.iterate(0L)(_ + 1).filter(isPdf(seed, _)).take(n).toArray

  /** The indexes of `pdfIndexes(seed, n)` that carry a giant PDF. */
  def giants(seed: Long, n: Int): Set[Long] = {
    val idx = pdfIndexes(seed, n)
    val offset = (draw(seed, 0, 0x6a09e667f3bcc909L) % GiantEvery).toInt
    idx.indices.filter(k => (k + offset) % GiantEvery == 0).map(idx).toSet
  }

  def giantText(seed: Long, idx: Long): String = PageGen.prose(seed, idx, GiantWords, salt = 7)

  def pdfRow(seed: Long, idx: Long, giant: Boolean): PageRow = {
    val r = PageGen.row(seed, idx)
    if (giant) r.copy(html = PdfGen.classic(giantText(seed, idx))) else r
  }

  /** Expected extracted text of a pdf-corpus row, where one is known. */
  def pdfExpectedText(seed: Long, idx: Long, giant: Boolean): Option[String] =
    if (giant) Some(PdfGen.wrap(giantText(seed, idx)).grouped(46).map(_.mkString("\n")).mkString("\n"))
    else PageGen.expectedText(seed, idx)

  def isRecrawled(seed: Long, idx: Long): Boolean =
    draw(seed, idx, 0xbb67ae8584caa73bL) % 100 < RecrawlPercent

  def newPages(n: Int): Int = n * NewPercent / 100

  /** The re-crawled corpus: the base indexes plus `newPages` indexes past them. */
  def deltaIndexes(base: Array[Long]): Array[Long] =
    base ++ (1 to newPages(base.length)).map(base.last + _)

  /** Row `idx` of the re-crawled corpus whose base ends at `lastBase`. */
  def deltaRow(seed: Long, lastBase: Long, idx: Long): PageRow =
    if (idx <= lastBase && isRecrawled(seed, idx)) PageGen.row(seed + 1, idx)
    else PageGen.row(seed, idx)

  /** Pages of the delta corpus that differ from the base corpus. */
  def changedPages(seed: Long, base: Array[Long]): Int =
    base.count(isRecrawled(seed, _)) + newPages(base.length)

  /** Order-sensitive SHA-256 over (url, warc_ts, html) of the rows. */
  def digest(rows: Iterator[PageRow]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val ts = java.nio.ByteBuffer.allocate(8)
    rows.foreach { r =>
      md.update(r.url.getBytes(UTF_8))
      ts.clear(); ts.putLong(r.warc_ts.getTime); md.update(ts.array())
      md.update(r.html)
    }
    md.digest().map(b => f"$b%02x").mkString
  }
}

/** The closed-loop search client's queries, a pure function of the seed:
  * even positions pair two common corpus words, odd positions pair two rare
  * terms that occur only in `PageGen.NewtonPassage`. */
object Queries {

  def rareTerms(seed: Long): IndexedSeq[String] = {
    val common = graft.dedup.MinHash.tokenize(PageGen.prose(seed, 0, 4000)).toSet
    graft.dedup.MinHash.tokenize(PageGen.NewtonPassage).distinct.filterNot(common).sorted.toIndexedSeq
  }

  def list(seed: Long, n: Int): IndexedSeq[String] = {
    val rare = rareTerms(seed)
    (0 until n).map { q =>
      if (q % 2 == 0) PageGen.prose(seed, 1000000L + q, 2, salt = 3)
      else {
        val h = mix64(seed * 31 + q) >>> 1
        s"${rare((h % rare.size).toInt)} ${rare(((h / rare.size) % rare.size).toInt)}"
      }
    }
  }
}
