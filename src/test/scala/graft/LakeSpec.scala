package graft

import java.nio.file.Files
import graft.lake.LakeTable
import graft.jobs.ExtractJob
import graft.corpus.PageGen
import org.apache.spark.sql.functions._

class LakeSpec extends SparkSuiteBase {
  import spark.implicits._

  private def tmpDir(): String =
    Files.createTempDirectory("graft-lake").toString

  test("commit is atomic: reader sees nothing before hint, everything after") {
    val root = tmpDir()
    val lake = new LakeTable(root)
    assert(lake.currentVersion == 0)
    assert(lake.dataFiles.isEmpty)
    // write data files but don't commit — invisible
    val dir = s"$root/data/v1"
    Seq(("a", 1), ("b", 2)).toDF("k", "v").write.parquet(dir)
    assert(new LakeTable(root).dataFiles.isEmpty)
    // commit → visible, with lineage + metrics in the same manifest
    lake.commit(lake.listParquet(dir), Seq("0", "1"),
      Seq(Map("bucket" -> "0", "n_docs" -> "2")), Map("docs" -> 2.0))
    val again = new LakeTable(root)
    assert(again.currentVersion == 1)
    assert(again.read(spark).count() == 2)
    val m = again.readManifest(1)
    assert(m.keys == Seq("0", "1"))
    assert(m.lineage.head("n_docs") == "2")
    assert(m.metrics("docs") == 2.0)
  }

  test("multi-snapshot append + committedKeys accumulate") {
    val root = tmpDir()
    val lake = new LakeTable(root)
    Seq(("a", 1)).toDF("k", "v").write.parquet(s"$root/data/v1")
    lake.commit(lake.listParquet(s"$root/data/v1"), Seq("0"), Nil, Map.empty)
    Seq(("b", 2)).toDF("k", "v").write.parquet(s"$root/data/v2")
    lake.commit(lake.listParquet(s"$root/data/v2"), Seq("1"), Nil, Map.empty)
    assert(new LakeTable(root).committedKeys == Set("0", "1"))
    assert(new LakeTable(root).read(spark).count() == 2)
  }

  test("ExtractJob end-to-end: run, resume processes only the complement, final table identical to clean run") {
    val n = 120
    val pages = spark.range(n).map(i => PageGen.row(42L, i))

    // retryErrs=false isolates the bucket-complement resume semantics (the
    // seeded corpus plants a few unsniffable pages that would otherwise be
    // legitimately re-attempted every run, per the reference's retry rule)
    val cleanRoot = tmpDir()
    val clean = ExtractJob.run(spark, pages, cleanRoot, nBuckets = 8, retryErrs = false)
    assert(clean.docs == n)
    assert(clean.buckets.sorted == (0 until 8))

    // crashed run: only 3 buckets committed, then "crash"
    val root = tmpDir()
    val first = ExtractJob.run(spark, pages, root, nBuckets = 8, maxBucketsPerRun = 3, retryErrs = false)
    assert(first.buckets == Seq(0, 1, 2))
    val mid = new LakeTable(root)
    assert(ExtractJob.committedFps(mid).keySet == Set(0, 1, 2))

    // resume: processes exactly the complement
    val second = ExtractJob.run(spark, pages, root, nBuckets = 8, retryErrs = false)
    assert(second.buckets == Seq(3, 4, 5, 6, 7))
    assert(first.docs + second.docs == n)

    // third run: nothing left to do
    val third = ExtractJob.run(spark, pages, root, nBuckets = 8, retryErrs = false)
    assert(third.docs == 0 && third.buckets.isEmpty)

    // final chunk table byte-identical to the clean run (T1 semantics)
    val a = ExtractJob.readChunks(spark, cleanRoot)
      .select("id", "url", "chunk_index", "text", "chunk_hash", "is_duplicate", "duplicate_of_index")
      .orderBy("url", "chunk_index").collect().toSeq
    val b = ExtractJob.readChunks(spark, root)
      .select("id", "url", "chunk_index", "text", "chunk_hash", "is_duplicate", "duplicate_of_index")
      .orderBy("url", "chunk_index").collect().toSeq
    assert(a == b)
    assert(a.nonEmpty)
  }

  test("changed page re-extracts exactly its bucket; reader sees the new content") {
    val n = 120
    val pages = spark.range(n).map(i => PageGen.row(42L, i))
    val root = tmpDir()
    ExtractJob.run(spark, pages, root, nBuckets = 8, retryErrs = false)

    // one page re-crawled: new warc_ts (the mtime analog) + new content
    val tUrl = PageGen.row(42L, 5L).url
    val newHtml = graft.corpus.HtmlGen.article("Changed",
      Seq("totally new body content with more than ten words so the strict tier keeps it for sure"),
      1, Nil).getBytes("UTF-8")
    val pages2 = pages.map { p =>
      if (p.url == tUrl)
        p.copy(warc_ts = new java.sql.Timestamp(p.warc_ts.getTime + 60000), html = newHtml)
      else p
    }
    val r2 = ExtractJob.run(spark, pages2, root, nBuckets = 8, retryErrs = false)
    assert(r2.buckets.size == 1, s"expected exactly the changed bucket, got ${r2.buckets}")

    // the reader sees the re-extracted content, once, and the whole table is
    // row-identical to a clean run over the mutated corpus
    val got = ExtractJob.readChunks(spark, root)
    val tChunks = got.filter(col("url") === tUrl).select("text").as[String].collect()
    assert(tChunks.length == 1 && tChunks.head.contains("totally new body content"))
    val cleanRoot = tmpDir()
    ExtractJob.run(spark, pages2, cleanRoot, nBuckets = 8, retryErrs = false)
    val a = ExtractJob.readChunks(spark, cleanRoot)
      .select("id", "url", "chunk_index", "text").orderBy("url", "chunk_index").collect().toSeq
    val b = got.select("id", "url", "chunk_index", "text").orderBy("url", "chunk_index").collect().toSeq
    assert(a == b && a.nonEmpty)

    // unchanged input ⇒ nothing to do
    val r3 = ExtractJob.run(spark, pages2, root, nBuckets = 8, retryErrs = false)
    assert(r3.buckets.isEmpty && r3.docs == 0)
  }

  private def page(u: String, body: Array[Byte]) =
    PageRow(u, new java.sql.Timestamp(1000L), body, "", "en")
  private def goodHtml(i: Int) = graft.corpus.HtmlGen.article(s"T$i",
    Seq(s"a sufficiently long paragraph body number $i with plenty of words to pass the strict tier filter easily"),
    1, Nil).getBytes("UTF-8")
  private val poison = Array[Byte](0, -1, 7, 9, 12, 0, 3) // NUL prefix: unsniffable

  test("failed row is retried next run; recovery shows up without re-extracting its bucket") {
    val root = tmpDir()

    val run1Pages = spark.createDataset(
      (0 until 10).map(i => page(s"https://t.example/p$i", goodHtml(i))) :+
        page("https://t.example/poison", poison))
    val r1 = ExtractJob.run(spark, run1Pages, root, nBuckets = 4)
    assert(r1.errs == 1)
    assert(ExtractJob.pendingErrs(spark, root).count() == 1)

    // run 2, identical input: the bucket complement is empty but the err'd
    // url is re-attempted (and errs again) without blocking the commit
    val r2 = ExtractJob.run(spark, run1Pages, root, nBuckets = 4)
    assert(r2.buckets.isEmpty && r2.retried == 1 && r2.errs == 1)
    assert(r2.version > r1.version)
    assert(ExtractJob.pendingErrs(spark, root).count() == 1)

    // run 3: content fixed in place (same url, same warc_ts ⇒ fingerprint
    // unchanged ⇒ no bucket work) — the retry recovers it
    val run3Pages = spark.createDataset(
      (0 until 10).map(i => page(s"https://t.example/p$i", goodHtml(i))) :+
        page("https://t.example/poison", goodHtml(99)))
    val r3 = ExtractJob.run(spark, run3Pages, root, nBuckets = 4)
    assert(r3.buckets.isEmpty && r3.retried == 1 && r3.errs == 0)
    assert(ExtractJob.pendingErrs(spark, root).count() == 0)
    val rec = ExtractJob.readChunks(spark, root)
      .filter(col("url") === "https://t.example/poison").count()
    assert(rec == 1)

    // run 4: fully quiesced
    val r4 = ExtractJob.run(spark, run3Pages, root, nBuckets = 4)
    assert(r4.buckets.isEmpty && r4.retried == 0 && r4.version == r3.version)
  }

  test("err ledger: a clean run writes no errs files; a failure and its recovery still resolve") {
    val poisonUrl = "https://t.example/poison"
    val good = (0 until 10).map(i => page(s"https://t.example/p$i", goodHtml(i)))
    val root = tmpDir()
    def errFiles(v: Int) = new LakeTable(root).readManifest(v).files.filter(_.contains("/errs/"))
    def ledger() = ExtractJob.errLedger(spark, root)
      .select("url", "err", "v").as[(String, String, Int)].collect().toSet
    def pending() = ExtractJob.pendingErrs(spark, root)
      .select("url", "err").as[(String, String)].collect().toSet

    // clean run: nothing failed, nothing retried — no errs files, empty ledger
    val r1 = ExtractJob.run(spark, spark.createDataset(good), root, nBuckets = 4)
    assert(r1.errs == 0 && r1.retried == 0)
    assert(errFiles(1).isEmpty)
    assert(ledger().isEmpty && pending().isEmpty)

    // a new, failing page: its bucket re-extracts and records the failure
    val r2 = ExtractJob.run(spark,
      spark.createDataset(good :+ page(poisonUrl, poison)),
      root, nBuckets = 4)
    assert(r2.errs == 1 && r2.buckets.size == 1)
    assert(errFiles(2).nonEmpty)
    assert(pending() == Set((poisonUrl, "unsniffable")))
    assert(ledger() == Set((poisonUrl, "unsniffable", 2)))

    // content fixed in place (same url and warc_ts): the retry recovers it
    val fixed = spark.createDataset(good :+ page(poisonUrl, goodHtml(99)))
    val r3 = ExtractJob.run(spark, fixed, root, nBuckets = 4)
    assert(r3.buckets.isEmpty && r3.retried == 1 && r3.errs == 0)
    assert(errFiles(3).nonEmpty)
    assert(pending().isEmpty)
    assert(ledger() == Set((poisonUrl, "unsniffable", 2), (poisonUrl, "", 3)))
    assert(ExtractJob.readChunks(spark, root).filter(col("url") === poisonUrl).count() == 1)

    // quiesced: no work, no new version
    assert(ExtractJob.run(spark, fixed, root, nBuckets = 4).version == r3.version)
  }

  test("lineage rows cover all processed buckets with doc counts") {
    val root = tmpDir()
    val pages = spark.range(60).map(i => PageGen.row(42L, i))
    ExtractJob.run(spark, pages, root, nBuckets = 4)
    val m = new LakeTable(root).readManifest(1)
    assert(m.lineage.map(_("n_docs").toLong).sum == 60)
    assert(m.metrics("docs") == 60.0)
    assert(m.metrics("errs") >= 0.0)
  }

  test("time travel: readAt(v) sees exactly the files of snapshots 1..v") {
    val root = tmpDir()
    val lake = new LakeTable(root)
    (1 to 3).foreach { i =>
      Seq((s"k$i", i)).toDF("k", "v").write.parquet(s"$root/data/v$i")
      lake.commit(lake.listParquet(s"$root/data/v$i"), Seq(i.toString), Nil, Map.empty)
    }
    val t = new LakeTable(root)
    assert(t.readAt(spark, 0).isEmpty)
    assert(t.readAt(spark, 1).as[(String, Int)].collect().toSet == Set(("k1", 1)))
    assert(t.readAt(spark, 2).as[(String, Int)].collect().toSet == Set(("k1", 1), ("k2", 2)))
    // as-of-current == read(); beyond-current clamps to current
    assert(t.readAt(spark, 3).count() == t.read(spark).count())
    assert(t.readAt(spark, 99).count() == 3)
  }

  test("time travel before the newest checkpoint resolves from an older checkpoint") {
    val root = tmpDir()
    val lake = new LakeTable(root, checkpointInterval = 10)
    (1 to 25).foreach { i =>
      lake.commit(Seq(s"$root/data/v$i/f.parquet"), Seq(s"k$i"), Nil, Map.empty)
    }
    val t = new LakeTable(root, 10)
    assert(t.checkpointVersion == 20)
    // v15 < newest checkpoint: must resolve from ckpt-v10 + manifests 11..15
    assert(t.stateAt(15).fileVersions.map(_._1).toSet ==
      (1 to 15).map(i => s"$root/data/v$i/f.parquet").toSet)
    // and still correct if the pre-checkpoint manifests were pruned
    (1 to 10).foreach(v =>
      Files.deleteIfExists(java.nio.file.Paths.get(root, "metadata", s"v$v.json")))
    assert(new LakeTable(root, 10).stateAt(15).fileVersions.size == 15)
  }

  test("checkpoint: a 50-commit table plans from the checkpoint alone (old manifests untouched)") {
    val root = tmpDir()
    val lake = new LakeTable(root, checkpointInterval = 10)
    (1 to 50).foreach { i =>
      lake.commit(Seq(s"$root/data/v$i/f.parquet"),
        Seq(s"k$i", s"b=${i % 4}:fp=${i * 11}"), Nil, Map.empty)
    }
    val before = new LakeTable(root, 10)
    assert(before.checkpointVersion == 50)
    val keys0 = before.committedKeys
    val files0 = before.dataFiles
    val fps0 = ExtractJob.committedFps(before)
    assert(keys0.size == 100 && files0.size == 50)
    // latest fp per bucket comes from the latest commit of that bucket
    assert(fps0 == Map(0 -> 48 * 11L, 1 -> 49 * 11L, 2 -> 50 * 11L, 3 -> 47 * 11L))

    // delete EVERY per-version manifest at or below the checkpoint: planning
    // must resolve the consolidated state without touching them
    (1 to 50).foreach(v =>
      Files.deleteIfExists(java.nio.file.Paths.get(root, "metadata", s"v$v.json")))
    val after = new LakeTable(root, 10)
    assert(after.committedKeys == keys0)
    assert(after.dataFiles == files0)
    assert(ExtractJob.committedFps(after) == fps0)

    // commits keep working past the checkpoint; state = checkpoint + tail
    after.commit(Seq(s"$root/data/v51/f.parquet"), Seq("b=0:fp=999"), Nil, Map.empty)
    val tail = new LakeTable(root, 10)
    assert(tail.committedKeys == keys0 + "b=0:fp=999")
    assert(ExtractJob.committedFps(tail) == fps0 + (0 -> 999L))
  }

  test("ledger reads across 100 commits plan ONE parquet scan (v is a data column)") {
    val root = tmpDir()
    val lake = new LakeTable(root, checkpointInterval = 25)
    (1 to 100).foreach { v =>
      Seq((v % 4, s"https://e.example/u$v", "html", "boom", v))
        .toDF("bucket", "url", "kind", "err", "v")
        .write.parquet(s"$root/data/v$v/errs")
      lake.commit(lake.listParquet(s"$root/data/v$v"), Seq(s"b=${v % 4}:fp=$v"), Nil, Map.empty)
    }
    val ledger = ExtractJob.errLedger(spark, root)
    // latest-full-commit-wins per bucket: vfull = {0->100, 1->97, 2->98, 3->99}
    assert(ledger.select("v").as[Int].collect().sorted.toSeq == Seq(97, 98, 99, 100))
    // the version column in the OUTPUT comes from file provenance, not the
    // data column — files written WITHOUT a v column (pre-round-4 ledgers)
    // resolve identically (mixed old/new tables included)
    val legacyRoot = tmpDir()
    val legacyLake = new LakeTable(legacyRoot)
    (1 to 3).foreach { v =>
      val base = Seq((v % 2, s"https://e.example/u$v", "html", "boom"))
        .toDF("bucket", "url", "kind", "err")
      val df = if (v == 3) base.withColumn("v", lit(v)) else base // mixed formats
      df.write.parquet(s"$legacyRoot/data/v$v/errs")
      legacyLake.commit(legacyLake.listParquet(s"$legacyRoot/data/v$v"),
        Seq(s"b=${v % 2}:fp=$v"), Nil, Map.empty)
    }
    val legacy = ExtractJob.errLedger(spark, legacyRoot)
    // vfull = {0 -> 2, 1 -> 3}: live rows are v2 (bucket 0) and v3 (bucket 1)
    assert(legacy.select("v").as[Int].collect().sorted.toSeq == Seq(2, 3))
    // plan-size check (VERDICT r3 #2): the per-version unionByName built one
    // scan node per commit — O(versions) planning cost. With v as a data
    // column, ALL live files read as one relation: exactly one parquet scan.
    val scans = ledger.queryExecution.optimizedPlan.collect {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation => l
    }
    assert(scans.size == 1, s"expected one parquet scan node, got ${scans.size}")
  }
}
