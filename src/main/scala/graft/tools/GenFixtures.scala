package graft.tools

import java.nio.file.{Files, Paths}
import java.nio.charset.StandardCharsets.UTF_8
import org.apache.spark.sql.SparkSession
import graft.corpus.PageGen
import graft.extract.Extract
import graft.chunk.Chunker
import graft.index.Bm25
import graft.Hashing

/** One-shot generator of the golden fixtures (SURVEY.md §5.1): run the
  * frozen heuristics once over the seeded 1k corpus, pin
  * (url, kind, method, sha256(text), n_chars, n_blocks, n_spans, first_64)
  * per url plus chunk stats and the Newton-Raphson retrieval top-5. Every
  * `sbt -batch test` run recomputes and must match byte-identically.
  *
  * Rerunning this tool after ANY heuristic change will produce a diff —
  * that diff IS the signal that the byte-identity contract was broken.
  */
object GenFixtures {
  val N = 1000L
  val Seed = 42L

  private def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  def main(args: Array[String]): Unit = {
    val outDir = args.headOption.getOrElse("src/test/resources/golden")
    Files.createDirectories(Paths.get(outDir))
    val spark = graft.SparkSessions("graft-genfixtures", Some(8))
    import spark.implicits._
    implicit val s: SparkSession = spark

    val pages = spark.range(N).repartition(16).map(i => PageGen.row(Seed, i))
    val docs = Extract.runSalted(pages, 16).collect().sortBy(_.url)

    val extractLines = docs.map { d =>
      s"""{"url":"${esc(d.url)}","kind":"${d.kind}","method":"${d.method}",""" +
      s""""text_sha256":"${Hashing.sha256Hex(d.text)}","n_chars":${d.n_chars},""" +
      s""""n_blocks":${d.n_blocks},"n_spans":${d.spans.length},""" +
      s""""first_64":"${esc(d.text.take(64))}","err":"${esc(d.err)}"}"""
    }
    Files.write(Paths.get(outDir, "extract-1k.jsonl"),
      extractLines.mkString("", "\n", "\n").getBytes(UTF_8))

    val chunkLines = docs.filter(d => d.err.isEmpty && d.text.nonEmpty).map { d =>
      val rows = Chunker.chunkDocument(d.url, Hashing.sha256Hex(d.text), d.text)
      val idsHash = Hashing.sha1Hex(rows.map(_.id).mkString(","))
      s"""{"url":"${esc(d.url)}","n_chunks":${rows.length},""" +
      s""""n_dups":${rows.count(_.is_duplicate)},"ids_sha1":"$idsHash"}"""
    }
    Files.write(Paths.get(outDir, "chunks-1k.jsonl"),
      chunkLines.mkString("", "\n", "\n").getBytes(UTF_8))

    // retrieval fixture: BM25 top-5 for the pinned Newton-Raphson passage
    val docsDf = docs.filter(d => d.err.isEmpty && d.text.nonEmpty).toSeq
      .map(d => (d.url, d.text)).toDF("url", "text")
    val top = Bm25.search(docsDf, "url", "text", "newton raphson method", 5).collect()
    val retrLines = top.map { r =>
      s"""{"url":"${esc(r.getString(0))}","score":${r.getDouble(1)}}"""
    }
    Files.write(Paths.get(outDir, "retrieval-newton-top5.jsonl"),
      retrLines.mkString("", "\n", "\n").getBytes(UTF_8))

    println(s"wrote ${extractLines.length} extract, ${chunkLines.length} chunk, ${retrLines.length} retrieval fixtures to $outDir")
    spark.stop()
  }
}
