package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.jobs.{ExtractJob, IndexJob}
import graft.corpus.PageGen
import graft.chunk.{Chunker, ChunkerSql}
import graft.functions.GraftFunctions
import graft.dedup.SimHash
import graft.extract.Extract
import graft.lake.LakeTable

class IndexExprSpec extends SparkSuiteBase {
  import spark.implicits._

  test("IndexJob: build from chunk table (dups filtered), search over materialized postings") {
    val root = Files.createTempDirectory("graft-idx-src").toString
    val idxRoot = Files.createTempDirectory("graft-idx").toString
    val pages = spark.range(150).map(i => PageGen.row(42L, i))
    ExtractJob.run(spark, pages, root, nBuckets = 4)
    val chunks = ExtractJob.readChunks(spark, root)
    val persisted = spark.sparkContext.getPersistentRDDs.keySet
    val v = IndexJob.build(spark, chunks, idxRoot)
    assert(v == 1)
    // the build's checkpoint of the deduped segment is released on return
    assert(spark.sparkContext.getPersistentRDDs.keySet -- persisted == Set.empty)
    val m = new LakeTable(idxRoot).readManifest(1)
    assert(m.metrics("n_docs") > 0 && m.metrics("avgdl") > 0)

    // search over the materialized index == fresh Bm25.search on same docs
    // (same content-id dedup the build applies)
    val docs = chunks.filter(!col("is_duplicate"))
      .select(col("id").as("doc"), col("text")).dropDuplicates("doc")
    val fresh = graft.index.Bm25.search(docs, "doc", "text", "convergence analysis", 5)
      .collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
    val mat = IndexJob.search(spark, idxRoot, "convergence analysis", 5)
      .collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
    assert(fresh == mat)
  }

  test("observe() metrics committed with the snapshot (tokens_est ~ chars/4)") {
    val root = Files.createTempDirectory("graft-obs").toString
    val pages = spark.range(80).map(i => PageGen.row(42L, i))
    ExtractJob.run(spark, pages, root, nBuckets = 2)
    val m = new LakeTable(root).readManifest(1)
    assert(m.metrics.contains("tokens_est"))
    assert(m.metrics("tokens_est") > 0)
    val chars = m.lineage.map(_("chars").toLong).sum
    assert(math.abs(m.metrics("tokens_est") - chars / 4.0) / math.max(chars / 4.0, 1) < 0.05)

    // per-document billing ledger: one row per extracted doc, tokens from
    // the chunk table, cost at the reference price
    val billing = ExtractJob.readBilling(spark, root).cache()
    val chunks = ExtractJob.readChunks(spark, root)
    assert(billing.select("url").distinct().count() == chunks.select("url").distinct().count())
    val row = billing.orderBy("url").head()
    val tokens = row.getAs[Long]("tokens")
    assert(tokens > 0)
    assert(math.abs(row.getAs[Double]("cost") - tokens / 1000000.0 * 0.012) < 1e-12)
    val tokSum = chunks.filter(col("url") === row.getAs[String]("url"))
      .agg(sum(greatest(lit(1L), (length(col("text")) / 4).cast("long")))).head().getLong(0)
    assert(tokens == tokSum)
    billing.unpersist()
  }

  test("native expressions: simhash64/hamming match the Scala implementation, usable from SQL") {
    GraftFunctions.register(spark)
    val df = Seq(("a", "the quick brown fox jumps"), ("b", "the quick brown fox jumped"))
      .toDF("id", "text")
    df.createOrReplaceTempView("t_expr")
    val viaSql = spark.sql(
      "SELECT id, simhash64(text) AS sh FROM t_expr ORDER BY id")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(viaSql("a") == SimHash.simhash("the quick brown fox jumps"))
    assert(viaSql("b") == SimHash.simhash("the quick brown fox jumped"))
    val d = spark.sql(
      "SELECT hamming(simhash64(a.text), simhash64(b.text)) FROM t_expr a, t_expr b WHERE a.id='a' AND b.id='b'")
      .head().getInt(0)
    assert(d == SimHash.hamming(viaSql("a"), viaSql("b")))
    // column API form
    val viaCol = df.select(GraftFunctions.simhash64(col("text"))).collect().map(_.getLong(0)).toSet
    assert(viaCol == viaSql.values.toSet)
  }

  test("extensions class applies cleanly (full static-conf wiring needs a fresh context)") {
    // spark.sql.extensions is a STATIC conf: with the suite's shared
    // SparkContext it cannot take effect, so end-to-end SQL coverage runs
    // through GraftFunctions.register (previous test). Here: the extensions
    // entry point itself must construct and inject without error.
    val e = new org.apache.spark.sql.SparkSessionExtensions
    new graft.functions.GraftExtensions().apply(e)
    // and the injected builders produce working expressions
    val expr = graft.functions.SimHash64(
      org.apache.spark.sql.catalyst.expressions.Literal(
        org.apache.spark.unsafe.types.UTF8String.fromString("abc def ghi")))
    assert(expr.eval(null) == SimHash.simhash("abc def ghi"))
  }

  test("ChunkerSql (window over span rows) == Chunker when no K2 merge fires") {
    // paragraphs all > (MaxChars-2)/2 so the greedy K2 merge never fires
    val paras = (0 until 5).map(i => PageGen.prose(23, i.toLong, 150, i)) // ~900 chars each
    paras.foreach(p => assert(p.length > (Chunker.MaxChars - 2) / 2))
    val text = paras.mkString("\n\n")
    val docHash = Hashing.sha256Hex(text)
    val scalaRows = Chunker.chunkDocument("u1", docHash, text)
    val sqlRows = ChunkerSql.chunkParagraphs(
        Seq(("u1", docHash, text)).toDF("url", "doc_hash", "text"),
        "url", "doc_hash", "text")
      .orderBy("chunk_index").collect()
    assert(sqlRows.length == scalaRows.length)
    sqlRows.zip(scalaRows).foreach { case (sq, sc) =>
      assert(sq.getAs[String]("text") == sc.text, s"chunk ${sc.chunk_index} text")
      assert(sq.getAs[String]("chunk_hash") == sc.chunk_hash)
      assert(sq.getAs[String]("id") == sc.id)
      assert(sq.getAs[Int]("total_chunks") == sc.total_chunks)
    }
  }

  test("oversize cap: huge doc becomes err=oversize row, never a task failure") {
    val big = new Array[Byte](Extract.MaxDocBytes + 1)
    big(0) = '%'; big(1) = 'P'; big(2) = 'D'; big(3) = 'F'; big(4) = '-'
    val d = Extract.extractOne("u", big)
    assert(d.err == "oversize")
    assert(d.kind == "pdf")
  }

  test("salting spreads documents near-uniformly across partitions") {
    implicit val s = spark
    val pages = spark.range(2000).map(i => PageGen.row(42L, i))
    val parts = 16
    val sizes = Extract.salted(pages, parts).rdd
      .mapPartitions(it => Iterator(it.size)).collect()
    assert(sizes.length == parts)
    val expected = 2000.0 / parts
    sizes.foreach(n => assert(math.abs(n - expected) / expected < 0.35, s"skewed: ${sizes.toSeq}"))
  }

  test("segmented index: two appended segments search-identical to one full rebuild") {
    val srcRoot = Files.createTempDirectory("graft-seg-src").toString
    val segRoot = Files.createTempDirectory("graft-seg").toString
    val fullRoot = Files.createTempDirectory("graft-full").toString
    val pages = spark.range(200).map(i => PageGen.row(42L, i))
    ExtractJob.run(spark, pages, srcRoot, nBuckets = 4)
    val chunks = ExtractJob.readChunks(spark, srcRoot).cache()

    // split the chunk table in half BY CONTENT ID (duplicate pages share
    // content-derived ids; an id must live in exactly one segment)
    val half1 = chunks.filter(pmod(xxhash64(col("id")), lit(2)) === 0)
    val half2 = chunks.filter(pmod(xxhash64(col("id")), lit(2)) === 1)
    assert(IndexJob.build(spark, half1, segRoot) == 1)
    assert(IndexJob.build(spark, half2, segRoot) == 2)
    // and once as a single full segment
    IndexJob.build(spark, chunks, fullRoot)

    val q = "convergence variance analysis"
    val seg = IndexJob.search(spark, segRoot, q, 10)
      .collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
    val full = IndexJob.search(spark, fullRoot, q, 10)
      .collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
    assert(seg == full, s"segmented != full:\n$seg\n$full")
    chunks.unpersist()
  }

  test("compaction: merged segment search-identical to segmented; later appends still work") {
    val srcRoot = Files.createTempDirectory("graft-cmp-src").toString
    val idxRoot = Files.createTempDirectory("graft-cmp").toString
    val pages = spark.range(200).map(i => PageGen.row(42L, i))
    ExtractJob.run(spark, pages, srcRoot, nBuckets = 4)
    val chunks = ExtractJob.readChunks(spark, srcRoot).cache()
    val third = (k: Int) => chunks.filter(pmod(xxhash64(col("id")), lit(3)) === k)
    IndexJob.build(spark, third(0), idxRoot)
    IndexJob.build(spark, third(1), idxRoot)

    val q = "convergence variance analysis"
    val before = IndexJob.search(spark, idxRoot, q, 10)
      .collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
    val cv = IndexJob.compact(spark, idxRoot)
    assert(cv == 3)
    val after = IndexJob.search(spark, idxRoot, q, 10)
      .collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
    assert(before == after, s"compaction changed search results:\n$before\n$after")

    // a segment appended after compaction participates in search
    IndexJob.build(spark, third(2), idxRoot)
    val withAll = IndexJob.search(spark, idxRoot, q, 10)
      .collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
    val fullRoot = Files.createTempDirectory("graft-cmp-full").toString
    IndexJob.build(spark, chunks, fullRoot)
    val full = IndexJob.search(spark, fullRoot, q, 10)
      .collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
    assert(withAll == full)
    chunks.unpersist()
  }

  test("tombstones: delete + same-id upsert honored by search, purged by compact") {
    def freshOver(rows: Seq[(String, String)], q: String): Seq[(String, Double)] = {
      val r = Files.createTempDirectory("graft-tomb-ref").toString
      IndexJob.build(spark, rows.toDF("id", "text").withColumn("is_duplicate", lit(false)), r)
      IndexJob.search(spark, r, q, 10).collect().map(x => (x.getString(0), x.getDouble(1))).toSeq
    }
    def hits(root: String, q: String): Seq[(String, Double)] =
      IndexJob.search(spark, root, q, 10).collect().map(x => (x.getString(0), x.getDouble(1))).toSeq

    val idxRoot = Files.createTempDirectory("graft-tomb").toString
    IndexJob.build(spark, Seq(
      ("c1", "alpha beta gamma"), ("c2", "alpha alpha delta"), ("c3", "beta epsilon zeta"))
      .toDF("id", "text").withColumn("is_duplicate", lit(false)), idxRoot)

    // DELETE: tombstone c2 — scores (incl. df/N/avgdl) match a fresh build
    // over the surviving corpus, not merely a filtered result list
    IndexJob.tombstone(spark, idxRoot, Seq("c2").toDF("doc"))
    assert(hits(idxRoot, "alpha beta") ==
      freshOver(Seq(("c1", "alpha beta gamma"), ("c3", "beta epsilon zeta")), "alpha beta"))

    // UPSERT: tombstone c1 then re-append the SAME id with new text — the
    // newer segment's rows survive the older markers (tv > sv comparison)
    IndexJob.tombstone(spark, idxRoot, Seq("c1").toDF("doc"))
    IndexJob.build(spark, Seq(("c1", "omega beta psi"))
      .toDF("id", "text").withColumn("is_duplicate", lit(false)), idxRoot)
    val want = Seq(("c1", "omega beta psi"), ("c3", "beta epsilon zeta"))
    for (q <- Seq("omega", "beta", "alpha gamma", "epsilon beta omega"))
      assert(hits(idxRoot, q) == freshOver(want, q), s"query '$q' diverged")
    // the index's committed content identity reflects the upsert
    assert(IndexJob.liveDocs(spark, idxRoot).select("doc").as[String].collect().toSet
      == Set("c1", "c3"))

    // COMPACT: purges dead rows, retires markers, search unchanged
    IndexJob.compact(spark, idxRoot)
    for (q <- Seq("omega", "beta", "alpha gamma"))
      assert(hits(idxRoot, q) == freshOver(want, q), s"post-compact query '$q' diverged")
    assert(hits(idxRoot, "delta").isEmpty) // c2 really purged
  }

  test("mixed segments: facet-less segment discovered via manifest, filtered search sound") {
    val idxRoot = Files.createTempDirectory("graft-mixf").toString
    IndexJob.build(spark, Seq(("f1", "alpha beta", "en"), ("f2", "alpha gamma", "de"))
      .toDF("id", "text", "lang").withColumn("is_duplicate", lit(false)),
      idxRoot, facetCols = Seq("lang"))
    // second segment commits NO facet table — discovery must come from the
    // manifest record, not a directory probe
    IndexJob.build(spark, Seq(("f3", "alpha delta"))
      .toDF("id", "text").withColumn("is_duplicate", lit(false)), idxRoot)
    // unfiltered search sees all three docs
    assert(IndexJob.search(spark, idxRoot, "alpha", 10).collect().length == 3)
    // facet-filtered search: only docs present in the committed facet tables
    // can match the predicate
    val en = IndexJob.search(spark, idxRoot, "alpha", 10, facetWhere = Some("lang = 'en'"))
      .collect().map(_.getString(0)).toSeq
    assert(en == Seq("f1"))
  }

  test("overlapping segments: doc indexed twice does not double-count tf/df/N") {
    val idxRoot = Files.createTempDirectory("graft-ovl").toString
    val refRoot = Files.createTempDirectory("graft-ovl-ref").toString
    val docs = Seq(
      ("c1", "alpha beta gamma"), ("c2", "alpha alpha delta"), ("c3", "beta epsilon zeta"))
      .toDF("id", "text")
      .withColumn("is_duplicate", lit(false))
    // same chunk table indexed into two segments (the violation the
    // build-time comment delegates upstream) vs indexed once
    IndexJob.build(spark, docs, idxRoot)
    IndexJob.build(spark, docs, idxRoot)
    IndexJob.build(spark, docs, refRoot)
    val got = IndexJob.search(spark, idxRoot, "alpha beta", 3)
      .collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
    val want = IndexJob.search(spark, refRoot, "alpha beta", 3)
      .collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
    assert(got == want, s"overlap distorted scores:\n$got\n$want")
  }

  test("sliding sentence windows: window-over-span-rows segmentation") {
    val text = "One is first. Two follows! Three here? Four now. Five mid. Six nears. Seven ends."
    val df = Seq(("u1", text)).toDF("url", "text")
    val segs = ChunkerSql.slidingSentences(df, "url", "text", windowSize = 3, stride = 2)
      .orderBy("segment_index").collect()
    val texts = segs.map(_.getAs[String]("text")).toSeq
    assert(texts == Seq(
      "One is first. Two follows! Three here?",
      "Three here? Four now. Five mid.",
      "Five mid. Six nears. Seven ends.",
      "Seven ends."))
    assert(segs.map(_.getAs[Int]("n_sentences")).toSeq == Seq(3, 3, 3, 1))
    // overlap property: consecutive windows share windowSize - stride sentences
    assert(texts(0).endsWith("Three here?") && texts(1).startsWith("Three here?"))
  }
}
