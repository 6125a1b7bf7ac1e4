package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.corpus.PageGen
import graft.jobs.ExtractJob

/** S3/S7 surfaces (SURVEY.md §2.1): JSONL read, CSV/JSON export — the
  * reference's chroma_store JSONL reader and inspect_chroma exports. */
class IoSpec extends SparkSuiteBase {
  import spark.implicits._

  test("chunk table roundtrips through JSONL (S3/S7)") {
    val root = Files.createTempDirectory("graft-io").toString
    val pages = spark.range(60).map(i => PageGen.row(42L, i))
    ExtractJob.run(spark, pages, root, nBuckets = 2)
    val chunks = ExtractJob.readChunks(spark, root)
      .select("id", "url", "chunk_index", "total_chunks", "chunk_hash", "is_duplicate")

    val jsonDir = s"$root/export-json"
    chunks.write.json(jsonDir)
    val back = spark.read.json(jsonDir)
    assert(back.count() == chunks.count())
    // value-level equality after normalizing column order + row order; exact
    // duplicate pages share chunk ids, so the row order needs (id, url,
    // chunk_index) to be total
    val a = chunks.orderBy("id", "url", "chunk_index")
      .collect().map(_.toSeq.map(String.valueOf).mkString("|")).toSeq
    val cols = chunks.columns
    val b = back.select(cols.map(col): _*).orderBy("id", "url", "chunk_index")
      .collect().map(_.toSeq.map(String.valueOf).mkString("|")).toSeq
    assert(a == b)

    // CSV projection export (fixed key set, inspect_chroma.py:233-252 analog)
    val csvDir = s"$root/export-csv"
    chunks.select("id", "url", "chunk_index").write.option("header", "true").csv(csvDir)
    val csv = spark.read.option("header", "true").csv(csvDir)
    assert(csv.count() == chunks.count())
    assert(csv.columns.toSeq == Seq("id", "url", "chunk_index"))
  }

  test("CDATA sections contribute character data") {
    val r = graft.extract.html.HtmlExtractor.extract(
      "<html><body><p>before <![CDATA[raw <not-a-tag> data]]> after padding words " +
        "to reach the effective fifty character minimum threshold</p></body></html>")
    assert(r.text.contains("raw <not-a-tag> data"))
  }
}
