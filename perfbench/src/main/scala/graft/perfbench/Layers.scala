package graft.perfbench

import graft.{Hashing, PageRow}
import graft.chunk.Chunker
import graft.dedup.MinHash
import graft.extract.{Extract, Sniffer}
import graft.extract.html.HtmlExtractor
import graft.extract.pdf.{PdfDoc, PdfText}

/** No-Spark, single-thread cost per document of each extraction-side layer,
  * over a sample of a workload's own pages. A layer with no document of its
  * kind in the sample reports 0. */
object Layers {

  /** Median ns per item over passes of `f` across `items`, after one warm-up
    * pass, until `minSeconds` of passes have run. */
  def nsPerItem[A](items: Seq[A], minSeconds: Double)(f: A => Any): Double =
    if (items.isEmpty) 0.0
    else {
      var sink = 0
      def pass(): Double = {
        val t0 = System.nanoTime()
        items.foreach(a => sink += f(a).hashCode)
        (System.nanoTime() - t0).toDouble / items.size
      }
      pass()
      val times = scala.collection.mutable.ArrayBuffer.empty[Double]
      val deadline = System.nanoTime() + (minSeconds * 1e9).toLong
      while (times.size < 3 || System.nanoTime() < deadline) times += pass()
      if (sink == 42) println("") // keeps the results observable
      times.sorted.apply(times.size / 2)
    }

  def measure(sample: Seq[PageRow], minSeconds: Double): Seq[(String, Double)] = {
    val bytes = sample.map(_.html)
    val html = bytes.filter(b => Sniffer.sniff(b) == "html")
    val pdf = bytes.filter(b => Sniffer.sniff(b) == "pdf")
    val texts = sample.map(p => Extract.extractOne(p.url, p.html))
      .filter(d => d.err.isEmpty && d.text.nonEmpty).map(d => (d.url, d.text))
    val hashed = texts.map { case (u, t) => (u, Hashing.sha256Hex(t), t) }
    Seq(
      "layer.sniff_ns" -> nsPerItem(bytes, minSeconds)(Sniffer.sniff),
      "layer.html_us" -> nsPerItem(html, minSeconds)(b => HtmlExtractor.extract(b).text) / 1e3,
      "layer.pdf_us" -> nsPerItem(pdf, minSeconds)(b => PdfText.extract(new PdfDoc(b))._1) / 1e3,
      "layer.chunk_us" -> nsPerItem(hashed, minSeconds) { case (u, h, t) =>
        Chunker.chunkDocument(u, h, t).length } / 1e3,
      "layer.sha256_us" -> nsPerItem(texts, minSeconds)(t => Hashing.sha256Hex(t._2)) / 1e3,
      "layer.minhash_us" -> nsPerItem(texts, minSeconds)(t => MinHash.signature(t._2)(0)) / 1e3,
      "layer.tokenize_us" -> nsPerItem(texts, minSeconds)(t => MinHash.tokenize(t._2).length) / 1e3)
  }
}
