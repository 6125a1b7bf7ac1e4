package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.corpus.{HtmlGen, PageGen, PdfGen}
import graft.extract.{Extract, Sniffer}
import graft.chunk.Chunker
import graft.dedup.{ExactDedup, MinHash, SimHash}
import graft.index.Bm25
import graft.sim.Knn
import graft.text.TextAnalysis._

/** Driver contract — one `queries` entry per implemented operator from
  * SURVEY.md §2. EVERY query carries DuckDB-runnable oracle SQL: the
  * near-dup/ANN operators hash with md5-top-64 or seed-fixed plane literals
  * precisely so the oracles can replicate their full deterministic pipelines
  * in SQL (minhashOracleSql / simhashOracleSql / annOracleSql) — an
  * approximate-by-design operator is still an exactly-reproducible one. */
object SparkEntry {

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** (harness, sf dir) → the scratch dir a memoized harness built for
    * that sf dir. The index/ANN/bucketed/incremental-dedup gates build
    * their harness once per sf dir per JVM (build once, query many — the
    * production retrieval shape) and each query re-reads what it
    * committed; every harness is a pure function of the sf dir.
    * q_dedup_incr's lake state mutates on every run, so its harness must
    * run only once. */
  private val harnesses = scala.collection.mutable.HashMap.empty[(String, String), String]

  /** The harness `name` for sf `dir`: on first use, `build` writes it
    * into a fresh scratch dir (prefix `graft-<name>-`), returned from then
    * on. */
  private def memo(name: String, dir: String)(build: String => Unit): String =
    harnesses.synchronized(harnesses.getOrElseUpdate((name, dir), {
      val r = scratchDir(s"graft-$name-")
      build(r)
      r
    }))

  /** The q_index_search / q_index_maxscore / q_index_bmw shared index
    * (ONE builder so the gates cannot drift): segment 1 = even ids plus
    * ids < 10 (the overlap), segment 2 = odd ids, then compact. Built with
    * the compressed blocks channel, so compaction's blocks rebuild is on
    * the gated path too. */
  private def sharedIndexRoot(s: SparkSession, dir: String): String =
    memo("index", dir) { r =>
      val docs = t(s, dir, "documents")
        .select(col("doc_id").cast("string").as("id"), col("text"),
          lit(false).as("is_duplicate"))
      graft.jobs.IndexJob.build(s,
        docs.filter(col("id").cast("long") % 2 === 0 || col("id").cast("long") < 10), r,
        blocks = true)
      graft.jobs.IndexJob.build(s, docs.filter(col("id").cast("long") % 2 === 1), r,
        blocks = true)
      graft.jobs.IndexJob.compact(s, r)
    }

  /** JVM-scoped scratch dir, removed on exit so repeated Verify/Bench
    * invocations don't accumulate trees under /tmp. Root overridable via
    * the `graft.scratch` system property / `SPARK_GRAFT_SCRATCH` env —
    * Bench points it at /dev/shm so measured passes never write through
    * the ext4 page cache (the round-2 pollution lesson). */
  private def scratchDir(prefix: String): String = {
    val base = sys.props.get("graft.scratch").orElse(sys.env.get("SPARK_GRAFT_SCRATCH"))
    val r = base match {
      case Some(b) =>
        val bp = java.nio.file.Paths.get(b)
        java.nio.file.Files.createDirectories(bp)
        java.nio.file.Files.createTempDirectory(bp, prefix).toString
      case None => java.nio.file.Files.createTempDirectory(prefix).toString
    }
    Runtime.getRuntime.addShutdownHook(new Thread(() => deleteRecursively(r)))
    r
  }

  private def deleteRecursively(r: String): Unit =
    try {
      if (java.nio.file.Files.exists(java.nio.file.Paths.get(r))) {
        val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(r))
        try walk.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
          .forEach(p => { java.nio.file.Files.deleteIfExists(p); () })
        finally walk.close()
      }
    } catch { case _: Throwable => () }

  /** Run `body` (a streaming drain: start + awaitTermination) with
    * `spark.sql.shuffle.partitions` set to the STREAM STATE width,
    * restoring the session value after. Stateful-operator parallelism is
    * fixed at query start from this conf and sizes the number of state
    * stores; state-store fixed cost per partition per micro-batch is the
    * dominant wall for small state (measured: the stream-stream band join
    * spent 199 task-seconds at 32 state partitions vs 10 at 8 — same
    * output, 20× less machinery). The right width scales with STATE
    * volume (sketch grids are ≤4096 cells; watermark-bounded joins hold
    * one horizon of events), NOT with input-scan width — input-side map
    * work runs at source parallelism before the state exchange either
    * way. Parameterized (graft.stream.state.partitions /
    * SPARK_GRAFT_STREAM_STATE_PARTS) so a deployment with heavy state
    * sizes it up; emitted rows are partition-layout-invariant for every
    * stream in this file (keyed folds / watermark-final emissions). */
  private def withStreamStateParts[A](s: SparkSession)(body: => A): A = {
    val key = "spark.sql.shuffle.partitions"
    val old = s.conf.get(key)
    val n = sys.props.get("graft.stream.state.partitions")
      .orElse(sys.env.get("SPARK_GRAFT_STREAM_STATE_PARTS")).getOrElse("8")
    s.conf.set(key, n)
    try body finally s.conf.set(key, old)
  }

  /** Materialize `df` off its scratch files (localCheckpoint truncates the
    * lineage to executor blocks), then delete the scratch root NOW instead
    * of at JVM exit: the bench sweep's fresh-root queries (pipeline,
    * streaming) must not accumulate corpus-sized lakes in /dev/shm across
    * measured passes. The shutdown hook stays as a tolerant backstop. */
  private def detachAndClean(df: DataFrame, root: String): DataFrame = {
    val out = df.localCheckpoint()
    deleteRecursively(root)
    out
  }

  /** Flagship: the north-rule extraction pipeline over a generated
    * Common-Crawl-style corpus — sniff → dispatch → extract → per-method
    * counts. Driver smoke-checks rows > 0 on sf0.001. */
  def entry(spark: SparkSession): DataFrame = {
    import spark.implicits._
    implicit val s: SparkSession = spark
    val pages = spark.range(300).repartition(8).map(i => PageGen.row(42L, i))
    Extract.runSalted(pages, 8)
      .groupBy("kind", "method").count().orderBy("kind", "method")
  }

  // ---------------------------------------------------------------- helpers

  /** documents rows rendered to single-block HTML article pages (roundtrip
    * harness: extraction must recover `text` byte-identically). */
  private def docsAsHtmlPages(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    t(spark, dir, "documents").select($"doc_id", $"text").as[(Long, String)]
      .mapPartitions(_.map { case (id, text) =>
        val html = HtmlGen.article(s"Doc $id", Seq(text), (id % 97).toInt,
          Seq("alpha beta related", "gamma delta entry"))
        val d = Extract.extractOne(s"doc://$id", html.getBytes("UTF-8"))
        (id, d.method, d.text)
      }).toDF("doc_id", "method", "extracted")
  }

  private def docsAsPdfPages(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    t(spark, dir, "documents").select($"doc_id", $"text").as[(Long, String)]
      .mapPartitions(_.map { case (id, text) =>
        val d = Extract.extractOne(s"doc://$id", PdfGen.classic(text))
        (id, d.method, d.text.replace('\n', ' '))
      }).toDF("doc_id", "method", "extracted")
  }

  /** Pipeline harness (q_pipeline_e2e): gate-passing documents rendered as
    * HTML article pages, plus a planted EXACT copy (doc_id + 500000) and a
    * planted NEAR-DUP mutant (doc_id + 1000000, marker words appended) per
    * doc. The input is restricted to docs where every downstream stage has
    * a closed oracle form: extraction roundtrips byte-identically (the
    * q_extract_html gate) and chunking is single-chunk (the
    * q_chunk_fallback no-blank-line restriction). */
  private def pipelinePages(spark: SparkSession, dir: String): org.apache.spark.sql.Dataset[PageRow] = {
    import spark.implicits._
    t(spark, dir, "documents")
      .filter(length(regexp_replace(col("text"), "\\s", "")) >= 50 &&
        wsTokenCountCol(col("text")) >= 3 &&
        !col("text").rlike("\\n\\s*\\n") && col("text").rlike("\\S"))
      .select($"doc_id", $"text").as[(Long, String)]
      // spread the HTML rendering: the documents table is one parquet file
      // (one scan partition), so without this every consumer's render of
      // ~3×|docs| article pages runs on a single task (measured 4.4 s
      // serial stages inside q_pipeline_e2e). Row-wise generation —
      // partitioning cannot change the produced pages.
      .repartition(spark.sparkContext.defaultParallelism, $"doc_id")
      .flatMap { case (id, text) =>
        Seq((id, text), (id + 500000L, text),
            (id + 1000000L, text + " appended trailing marker"))
          .map { case (pid, ptext) =>
            PageRow(s"doc://$pid", new java.sql.Timestamp(1000L),
              HtmlGen.article(s"Doc $pid", Seq(ptext), (pid % 97).toInt,
                Seq("alpha beta related", "gamma delta entry")).getBytes("UTF-8"),
              "", "en")
          }
      }
  }

  /** Near-dup harness: documents plus a mutated copy of each (doc_id +
    * 1000000, two words appended) — a deterministic planted-pair corpus. */
  private def docsWithNearDups(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents").select(col("doc_id"), col("text"))
    docs.unionByName(docs.select((col("doc_id") + 1000000L).as("doc_id"),
      concat(col("text"), lit(" appended trailing marker")).as("text")))
  }

  /** The q_cori / q_cori_search harness: documents with a deterministic
    * per-source topical marker token appended (the synthetic corpus shares
    * one vocabulary across sources, so shard-skewed terms must be
    * constructed — `zz<source>` appears in exactly one shard). */
  private def coriDocs(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents").select(col("doc_id"), col("source"),
      concat(col("text"), lit(" zz"), col("source")).as("text"))

  /** The DIRECTED quadratic pseudo-graph shared by the graph-family
    * gates: (src, dst, j) with dst = (src² + j) mod n (j ∈ 1..3),
    * self-loops shifted to the next id. */
  private def quadEdges(docs: DataFrame, n: Long): DataFrame =
    docs.select(col("doc_id").as("src"),
        explode(array(lit(1L), lit(2L), lit(3L))).as("j"))
      .withColumn("d0", (col("src") * col("src") + col("j")) % n)
      .select(col("src"),
        when(col("d0") === col("src"), (col("d0") + 1) % n)
          .otherwise(col("d0")).as("dst"), col("j"))

  /** Graph harness shared by q_kcore / q_hyperball: the DIRECTED quadratic
    * pseudo-graph (outdeg 3, self-loops shifted to the next id) PLUS a
    * planted 50-node hub ring (doc_id < 50 → (doc_id+d) mod 50, d ∈ 1..3).
    * SQL twin: [[quadRingCtesSql]]. */
  private def quadRingEdges(docs: DataFrame, n: Long): DataFrame = {
    val quad = quadEdges(docs, n).select("src", "dst")
    val ring = docs.where(col("doc_id") < 50)
      .select(col("doc_id").as("src"),
        explode(array(lit(1L), lit(2L), lit(3L))).as("d"))
      .select(col("src"), ((col("src") + col("d")) % 50).as("dst"))
    quad.union(ring)
  }

  /** The q_sitemap / q_sitemap_frontier shared harness: build one
    * deterministic urlset per host from the documents table (locs carry
    * &amp; entities; every 3rd url omits lastmod, every 4th priority)
    * and round-trip it through the real [[graft.web.Sitemap]] parser.
    * ONE builder so the two gates cannot drift. */
  private def sitemapEntriesHarness(s: SparkSession, dir: String): DataFrame = {
    val rows = t(s, dir, "documents").select(col("doc_id"),
      (col("doc_id") % 97).cast("string").as("h"))
    val entry = concat(
      lit("<url><loc>https://host"), col("h"), lit(".example/doc/"),
      col("doc_id").cast("string"), lit("?a=1&amp;b="),
      (col("doc_id") % 7).cast("string"), lit("</loc>"),
      when(col("doc_id") % 3 =!= 0, concat(lit("<lastmod>2026-01-"),
        lpad((col("doc_id") % 28 + 1).cast("string"), 2, "0"),
        lit("</lastmod>"))).otherwise(lit("")),
      when(col("doc_id") % 4 =!= 0, concat(lit("<priority>0."),
        (col("doc_id") % 10).cast("string"), lit("</priority>")))
        .otherwise(lit("")),
      lit("</url>"))
    val xml = rows.withColumn("e", entry)
      .groupBy("h").agg(
        concat(lit("<?xml version=\"1.0\"?>\n<urlset>\n"),
          array_join(expr("sort_array(collect_list(struct(doc_id, e))).e"), "\n"),
          lit("\n</urlset>")).as("xml"))
    graft.web.Sitemap.entries(
      xml.select(concat(lit("host"), col("h"), lit(".example")).as("host"),
        col("xml")), "host", "xml")
  }

  // ---------------------------------------------------------------- queries

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- relational core (scan/filter/agg/join/window; SURVEY.md §2.2/2.7)
    "q1_agg" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(round(sum("l_quantity"), 2).as("sum_qty"),
          round(sum("l_extendedprice"), 2).as("sum_base"),
          round(avg("l_discount"), 4).as("avg_disc"),
          count(lit(1)).as("cnt"))
    }),
    "q_rev_nation" -> ((s, dir) => {
      val o = t(s, dir, "orders"); val c = t(s, dir, "customer"); val n = t(s, dir, "nation")
      o.join(c, o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .groupBy("n_name")
        .agg(round(sum("o_totalprice"), 2).as("revenue"), count(lit(1)).as("n_orders"))
    }),
    "q_top_customers" -> ((s, dir) => {
      val o = t(s, dir, "orders"); val c = t(s, dir, "customer")
      val spend = o.join(c, o("o_custkey") === c("c_custkey"))
        .groupBy(col("c_mktsegment").as("seg"), col("c_custkey").as("cust"))
        .agg(round(sum("o_totalprice"), 2).as("spend"))
      val w = Window.partitionBy("seg").orderBy(desc("spend"), asc("cust"))
      spend.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= 3)
    }),
    "q_events_hourly" -> ((s, dir) => {
      t(s, dir, "events")
        .groupBy(col("event_type"), hour(col("ts")).cast("long").as("hr"))
        .agg(count(lit(1)).as("cnt"), round(sum("value"), 2).as("total"))
    }),
    // --- bucketed co-located join (layout/Bucketed): both sides written
    // hash-partitioned into the SAME bucket count on their join key, so the
    // recurring fact↔fact join consumes the on-disk partitioning and plans
    // with ZERO Exchange (BucketedSpec pins that). The write is the one-time
    // layout cost, memoized per sf dir; the query times the shuffle-free
    // join — the shape a 100-TB pipeline runs every day.
    "q_bucketed" -> ((s, dir) => {
      val suf = java.lang.Long.toHexString(
        scala.util.hashing.MurmurHash3.stringHash(dir).toLong & 0xffffffffL)
      memo("bucket", dir) { r =>
        s.sql(s"DROP TABLE IF EXISTS graft_bo_$suf")
        s.sql(s"DROP TABLE IF EXISTS graft_bl_$suf")
        graft.layout.Bucketed.write(t(s, dir, "orders"), s"graft_bo_$suf",
          "o_orderkey", 16, s"$r/orders")
        graft.layout.Bucketed.write(t(s, dir, "lineitem"), s"graft_bl_$suf",
          "l_orderkey", 16, s"$r/lineitem")
      }
      graft.layout.Bucketed.join(s, s"graft_bo_$suf", s"graft_bl_$suf",
          "o_orderkey", "l_orderkey")
        .groupBy(col("o_orderpriority").as("priority"),
          col("l_returnflag").as("flag"))
        .agg(round(sum("l_extendedprice"), 2).as("gross"),
          round(sum("l_quantity"), 2).as("qty"), count(lit(1)).as("n_items"))
    }),
    // --- data-quality contracts (audit/Contracts — Deequ-style one-pass
    // suite): documents + PLANTED violations (dup ids every 50th, empty
    // texts, an n_chars/text mismatch, an alien lang) so both verdict
    // branches fire. Metrics are round(int/int, 6) — one correctly-rounded
    // division, bit-exact cross-engine (quantize-once).
    "q_contracts" -> ((s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("text"), col("lang"), col("source"), col("n_chars"))
      val base = docs
        .unionByName(docs.filter(col("doc_id") % 50 === 0))
        .unionByName(Seq(
          (9000001L, "", "en", "srcx", 0L),
          (9000002L, "", "fr", "srcx", 0L),
          (9000003L, "abc", "en", "src1", 999L),
          (9000004L, "hello graft world", "xx", "src1", 17L))
          .toDF("doc_id", "text", "lang", "source", "n_chars"))
      graft.audit.Contracts.run(base, Seq(
        graft.audit.Contracts.completeness("complete_text", col("text"), 0.95),
        graft.audit.Contracts.uniqueness("unique_doc_id", col("doc_id"), 1.0),
        graft.audit.Contracts.bounds("bounds_n_chars", col("n_chars"), 1L, 100000L, 0.999),
        graft.audit.Contracts.satisfies("consistent_n_chars",
          col("n_chars") === length(col("text")), 1.0),
        graft.audit.Contracts.inDomain("lang_domain", col("lang"),
          Seq("en", "fr", "de", "es", "zh"), 0.95)))
    }),
    // --- stratified contracts (Contracts.runBy): the per-domain quality
    // report over the SAME planted base — group keyed on lang, one pass.
    "q_contracts_domain" -> ((s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("text"), col("lang"), col("source"), col("n_chars"))
      val base = docs
        .unionByName(docs.filter(col("doc_id") % 50 === 0))
        .unionByName(Seq(
          (9000001L, "", "en", "srcx", 0L),
          (9000002L, "", "fr", "srcx", 0L),
          (9000003L, "abc", "en", "src1", 999L),
          (9000004L, "hello graft world", "xx", "src1", 17L))
          .toDF("doc_id", "text", "lang", "source", "n_chars"))
      graft.audit.Contracts.runBy(base, Seq("lang"), Seq(
        graft.audit.Contracts.completeness("complete_text", col("text"), 0.95),
        graft.audit.Contracts.satisfies("consistent_n_chars",
          col("n_chars") === length(col("text")), 1.0),
        graft.audit.Contracts.bounds("bounds_n_chars", col("n_chars"), 1L, 100000L, 0.999)))
    }),
    // --- rolling window aggregates (events/Rolling): per-user trailing-5
    // and trailing-6h statistics; one user exchange serves both frames.
    "q_rolling" -> ((s, dir) => {
      graft.events.Rolling.stats(t(s, dir, "events"),
        "user_id", "ts", "event_id", "value", k = 5, intervalUs = 21600L * 1000000)
    }),
    // --- per-domain percentile calibration (text/Calibrate): within-lang
    // top-half cut on n_chars — pr is one exact-int division, bit-exact.
    "q_calibrate" -> ((s, dir) => {
      graft.text.Calibrate.percentile(
        t(s, dir, "documents").select(col("doc_id"), col("lang"), col("n_chars")),
        "lang", "n_chars", "doc_id", q = 0.5)
    }),
    // --- robust outlier trimming (text/Outliers): per-lang median/MAD
    // band on n_chars; planted monsters (10^6 chars, 0 chars) must be the
    // ONLY drops — exact interpolated medians, no rounding contract.
    "q_outliers" -> ((s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents")
        .select(col("lang"), col("doc_id"), col("n_chars"))
      val monsters = Seq(
        ("en", 9100001L, 1000000L), ("fr", 9100002L, 1000000L),
        ("de", 9100003L, 0L))
        .toDF("lang", "doc_id", "n_chars")
      graft.text.Outliers.madGate(docs.unionByName(monsters), "lang", "n_chars", 3.0)
    }),
    // --- collocation mining (text/Collocations): top-100 bigrams by
    // exact lift (PMI sans log — same ranking, zero float contract),
    // support >= 5; bigrams built within-doc by a narrow zip-explode.
    "q_colloc" -> ((s, dir) => {
      graft.text.Collocations.topLift(t(s, dir, "documents"), "text",
        minCount = 5L, k = 100)
    }),
    // --- retrieval eval (index/Eval — TREC run-vs-qrels form): the run
    // ranks term-bearing docs by length (the retrieval signal), relevance
    // is high term frequency (occ >= 4) — deliberately different signals,
    // so hits/first_rank vary. All metrics exact ints + one division.
    "q_eval" -> ((s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("n_chars"), lower(col("text")).as("lt"))
      val occ = docs
        .crossJoin(broadcast(Seq("join", "vector", "customer").toDF("qid")))
        .withColumn("occ", expr("size(filter(split(lt, '\\\\s+'), x -> x = qid))"))
        .select("qid", "doc_id", "n_chars", "occ")
      val w = Window.partitionBy("qid").orderBy(desc("n_chars"), asc("doc_id"))
      val run = occ.filter(col("occ") >= 1)
        .withColumn("rnk", row_number().over(w).cast("long"))
        .filter(col("rnk") <= 50)
        .select(col("qid"), col("doc_id").as("doc"), col("rnk"))
      val qrels = occ.filter(col("occ") >= 4)
        .select(col("qid"), col("doc_id").as("doc"))
      graft.index.Eval.metrics(run, qrels, k = 10)
    }),
    // --- NDCG@10 with graded relevance (Järvelin/Kekäläinen TOIS'02,
    // exponential gains) over the q_eval harness: grades = min(occ, 3)
    // for occ >= 1, run = the same n_chars-DESC top-50. Gains 2^g−1 are
    // exact small integers; log2 = ln/ln2 in both engines; 6-dp output.
    "q_ndcg" -> ((s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("n_chars"), lower(col("text")).as("lt"))
      val occ = docs
        .crossJoin(broadcast(Seq("join", "vector", "customer").toDF("qid")))
        .withColumn("occ", expr("size(filter(split(lt, '\\\\s+'), x -> x = qid))"))
        .select("qid", "doc_id", "n_chars", "occ")
      val w = Window.partitionBy("qid").orderBy(desc("n_chars"), asc("doc_id"))
      val run = occ.filter(col("occ") >= 1)
        .withColumn("rnk", row_number().over(w).cast("long"))
        .filter(col("rnk") <= 50)
        .select(col("qid"), col("doc_id").as("doc"), col("rnk"))
      val qrels = occ.filter(col("occ") >= 1)
        .select(col("qid"), col("doc_id").as("doc"),
          least(col("occ"), lit(3)).cast("long").as("grade"))
      graft.index.Eval.ndcg(run, qrels, k = 10)
    }),
    // --- expected reciprocal rank @10 (Chapelle CIKM'09 cascade metric)
    // over the graded q_ndcg harness; survival products via exp(Σ ln) —
    // the SAME op chain in the oracle, 6-dp output
    "q_err" -> ((s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("n_chars"), lower(col("text")).as("lt"))
      val occ = docs
        .crossJoin(broadcast(Seq("join", "vector", "customer").toDF("qid")))
        .withColumn("occ", expr("size(filter(split(lt, '\\\\s+'), x -> x = qid))"))
        .select("qid", "doc_id", "n_chars", "occ")
      val w = Window.partitionBy("qid").orderBy(desc("n_chars"), asc("doc_id"))
      val run = occ.filter(col("occ") >= 1)
        .withColumn("rnk", row_number().over(w).cast("long"))
        .filter(col("rnk") <= 50)
        .select(col("qid"), col("doc_id").as("doc"), col("rnk"))
      val qrels = occ.filter(col("occ") >= 1)
        .select(col("qid"), col("doc_id").as("doc"),
          least(col("occ"), lit(3)).cast("long").as("grade"))
      graft.index.Eval.err(run, qrels, k = 10)
    }),
    // --- average precision @10 (trec_eval map_cut: denominator = TOTAL
    // relevant, so never-retrieved relevants penalize) over the q_eval
    // harness — completes the TREC quartet (recall/RR/NDCG/AP). Integer
    // prefix counts, one rational sum, 6-dp output.
    "q_map" -> ((s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("n_chars"), lower(col("text")).as("lt"))
      val occ = docs
        .crossJoin(broadcast(Seq("join", "vector", "customer").toDF("qid")))
        .withColumn("occ", expr("size(filter(split(lt, '\\\\s+'), x -> x = qid))"))
        .select("qid", "doc_id", "n_chars", "occ")
      val w = Window.partitionBy("qid").orderBy(desc("n_chars"), asc("doc_id"))
      val run = occ.filter(col("occ") >= 1)
        .withColumn("rnk", row_number().over(w).cast("long"))
        .filter(col("rnk") <= 50)
        .select(col("qid"), col("doc_id").as("doc"), col("rnk"))
      val qrels = occ.filter(col("occ") >= 4)
        .select(col("qid"), col("doc_id").as("doc"))
      graft.index.Eval.avgPrecision(run, qrels, k = 10)
    }),
    // --- snapshot CDC (lake/Cdc): crawl-N vs crawl-N+1 diff. The new
    // snapshot drops every 13th doc, revises the text of every 7th
    // survivor, and appends fresh ids for every 5th — the diff must
    // classify each id exactly once (delete beats update on overlap by
    // construction: a dropped doc never reaches the revision branch).
    "q_cdc" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"), col("lang"))
      val neu = docs.filter(col("doc_id") % 13 =!= 0)
        .withColumn("text", when(col("doc_id") % 7 === 0,
          concat(col("text"), lit(" [revised]"))).otherwise(col("text")))
        .unionByName(docs.filter(col("doc_id") % 5 === 0)
          .select((col("doc_id") + 1000000L).as("doc_id"), col("text"), col("lang")))
      graft.lake.Cdc.diff(docs, neu, Seq("doc_id"), Seq("text", "lang"))
    }),
    // --- gap-based sessionization (6h gap on exact epoch micros — the
    // clickstream operator; one user exchange serves both windows and
    // the session aggregate, spec'd equal to native session_window)
    "q_sessions" -> ((s, dir) => {
      graft.events.Sessions.summarize(t(s, dir, "events"),
          "user_id", "ts", "event_id", 21600L * 1000000)
        .select(col("user").as("user_id"), col("session_idx"),
          col("n_events"), col("start_us"), col("span_us"))
    }),
    // --- ordered funnel (view → click → purchase): each user's EARLIEST
    // completion chain in exact epoch micros, long format (one row per
    // step reached; out-of-order events invisible, strict >)
    "q_funnel" -> ((s, dir) => {
      graft.events.Funnel.earliest(t(s, dir, "events"),
          "user_id", "event_type", "ts", Seq("view", "click", "purchase"))
        .select(col("user").as("user_id"), col("step_idx"), col("step_ts_us"))
    }),
    // --- backward as-of join: each purchase attributed to the user's
    // most recent view at-or-before it (union-tag window, ONE exchange
    // on user — never a per-key range join); left-outer, exact micros
    "q_asof" -> ((s, dir) => {
      val e = t(s, dir, "events")
      graft.events.AsOf.prior(
          e.where(col("event_type") === "purchase"),
          e.where(col("event_type") === "view"),
          "user_id", "ts", "event_id")
        .select(col("key").as("user_id"), col("lid").as("purchase_id"),
          col("ts_us").as("purchase_us"), col("r_id").as("view_id"),
          col("r_ts_us").as("view_us"), col("gap_us"))
    }),
    // --- bucketed band join: all (purchase, view) pairs of a user within
    // ±6 h — ×3 bucket explode + equi-join on (user, bucket) + exact |Δ|
    // filter; each pair survives exactly once, no NestedLoop anywhere
    "q_range_join" -> ((s, dir) => {
      val e = t(s, dir, "events")
      graft.events.RangeJoin.withinRadius(
          e.where(col("event_type") === "purchase"),
          e.where(col("event_type") === "view"),
          "user_id", "ts", "event_id", 21600L * 1000000)
        .select(col("key").as("user_id"), col("lid").as("purchase_id"),
          col("rid").as("view_id"), col("delta_us"))
    }),
    // --- F2 resume anti-join semantics (planning-time complement)
    "q_anti_join" -> ((s, dir) => {
      val o = t(s, dir, "orders"); val li = t(s, dir, "lineitem")
      o.join(li, o("o_orderkey") === li("l_orderkey"), "left_anti")
        .select(col("o_orderkey"))
    }),
    // --- text analysis (token counts, lang-id, quality, fingerprint)
    "q_doc_tokens" -> ((s, dir) => {
      t(s, dir, "documents").select(col("doc_id"),
        wsTokenCountCol(col("text")).as("ws_tokens"),
        bpeishTokenCountCol(col("text")).as("bpe_tokens"),
        approxTokenCountCol(col("text")).as("approx_tokens"))
    }),
    "q_langid" -> ((s, dir) => {
      t(s, dir, "documents").select(col("doc_id"),
        englishIdCol(col("text")).as("en_id"),
        langIdCol(col("text")).as("lang_guess"))
    }),
    "q_quality" -> ((s, dir) => {
      t(s, dir, "documents").select(col("doc_id"),
        qualityScoreCol(col("text")).as("quality"),
        readabilityCol(col("text")).as("readability"))
    }),
    // --- character-bigram Shannon entropy (gibberish / machine-text
    // quality feature): SHUFFLE-FREE per-row higher-order-function
    // pipeline (bigrams → sort → run-length counts → H) vs the oracle's
    // plain unnest+groupBy formulation — same math, one 4-dp rounding at
    // the output only. The harness also scores a provably-low-entropy
    // variant (first char repeated) so the feature's range is exercised.
    "q_entropy" -> ((s, dir) => {
      t(s, dir, "documents").select(col("doc_id"),
        (length(col("text")) - 1).cast("long").as("n_bigrams"),
        charBigramEntropyCol(col("text")).as("bigram_entropy"),
        charBigramEntropyCol(repeat(substring(col("text"), 1, 1),
          least(length(col("text")), lit(40)))).as("degenerate_entropy"))
    }),
    // --- Gopher/MassiveText repetition ratios (quality-filter family):
    // the harness doubles each doc (text\ntext) so duplicate-line and
    // duplicate-5-gram mass provably exists for the arithmetic to act on
    "q_rep_ratios" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "documents")
        .select($"doc_id", concat(col("text"), lit("\n"), col("text")).as("t"))
        .as[(Long, String)]
        .map { case (id, txt) =>
          val (dl, d5, tw) = repetitionRatios(txt)
          (id, dl, d5, tw)
        }.toDF("doc_id", "dl", "d5", "tw")
        .select(col("doc_id"),
          round(col("dl"), 6).as("dup_line_frac"),
          round(col("d5"), 6).as("dup_5gram_frac"),
          round(col("tw"), 6).as("top_word_frac"))
    }),
    // --- quality filter gate (Gopher/Dolma/FineWeb rule composition):
    // keep/drop with per-rule reasons — the harness doubles every 10th doc
    // so the repetition rules provably fire alongside the length rule
    "q_quality_filter" -> ((s, dir) => {
      val harness = t(s, dir, "documents").select(col("doc_id"),
        when(col("doc_id") % 10 === 0, concat(col("text"), lit("\n"), col("text")))
          .otherwise(col("text")).as("text"))
      // operator keeps ids as strings (url-keyed corpora); the numeric
      // driver gate casts back in the QUERY, per the operator's contract
      graft.text.QualityFilter.annotate(s, harness, "doc_id", "text")
        .select(col("doc_id").cast("long").as("doc_id"), col("keep"), col("reasons"))
    }),
    "q_fingerprint" -> ((s, dir) => {
      t(s, dir, "documents").select(col("doc_id"),
        fingerprintCol(col("text")).as("fp"))
    }),
    // --- Unicode canonicalization (pre-dedup cleanup). The harness appends
    // TextNorm.Inject so every branch of the frozen contract fires on every
    // row (controls, quote/dash/NBSP folds, ellipsis, CRLF, run collapses,
    // edge trim) — never an identity pass over plain corpus text.
    "q_normalize" -> ((s, dir) => {
      val norm = graft.text.TextNorm.normalizeCol(
        concat(col("text"), lit(graft.text.TextNorm.Inject)))
      t(s, dir, "documents").select(col("doc_id"),
        length(norm).cast("long").as("norm_len"), md5(norm).as("norm_md5"))
    }),
    // --- Banned-phrase blocklist gate: ONE Aho–Corasick pass per doc over
    // the whole frozen GateList (word-boundary via space padding, overlaps
    // counted) — vs the reference's per-pattern regex scans.
    "q_blocklist" -> ((s, dir) => {
      graft.text.PhraseBlock.annotate(s, t(s, dir, "documents"), "doc_id", "text")
    }),
    // --- D2/F3 exact dedup window (keep-first, losers annotated)
    "q_dedup_exact" -> ((s, dir) => {
      ExactDedup.annotate(
        t(s, dir, "documents").select(col("doc_id"), fingerprintCol(col("text")).as("fp")),
        col("fp"), col("doc_id"))
        .select(col("doc_id"), col("is_duplicate"), col("duplicate_of"))
    }),
    // --- K1/K2 chunker. Restricted to docs with no blank-line paragraph
    // separators, where single-chunk output is a closed form the oracle can
    // state exactly (any future corpus with multi-paragraph docs stays
    // sound: both sides apply the same filter).
    "q_chunk_fallback" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "documents")
        .filter(!col("text").rlike("\\n\\s*\\n"))
        .select($"doc_id", $"text").as[(Long, String)]
        .flatMap { case (id, text) =>
          val rows = Chunker.chunkDocument(s"doc://$id", "h", text)
          rows.map(r => (id, r.total_chunks, r.text))
        }.toDF("doc_id", "n_chunks", "chunk0")
    }),
    // --- word-budget chunker (reference rag_py.py:182-200): the planted
    // two-paragraph doc (text twice) exercises the 300-word budget overflow,
    // the 50-word overlap carry, and the >=20-word filter in a closed form
    "q_chunk_words" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "documents")
        .filter(!col("text").rlike("\\n\\s*\\n"))
        .select($"doc_id", $"text").as[(Long, String)]
        .flatMap { case (id, text) =>
          val cs = graft.chunk.WordChunker.chunk(text + "\n\n" + text)
          cs.zipWithIndex.map { case (c, i) => (id, i, cs.length, c) }
        }.toDF("doc_id", "chunk_index", "n_chunks", "chunk")
    }),
    // --- page-joining char-budget chunker (reference main.py:160-187): two
    // planted pages exercise the marker collapse + 1000-char greedy budget
    "q_chunk_pages" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "documents")
        .filter(!col("text").rlike("\\n\\s*\\n") && col("text").rlike("\\S"))
        .select($"doc_id", $"text").as[(Long, String)]
        .flatMap { case (id, text) =>
          val cs = graft.chunk.WordChunker.chunkPages(Seq(text, text))
          cs.zipWithIndex.map { case (c, i) => (id, i, cs.length, c) }
        }.toDF("doc_id", "chunk_index", "n_chunks", "chunk")
    }),
    // --- C1 sniffer dispatch
    "q_sniff" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "documents").select($"doc_id", $"text").as[(Long, String)]
        .mapPartitions(_.map { case (id, text) =>
          val bytes: Array[Byte] = (id % 3) match {
            case 0 => PdfGen.classic(text)
            case 1 => HtmlGen.article(s"Doc $id", Seq(text), 1, Nil).getBytes("UTF-8")
            case _ => Array[Byte](0, -1, 13, 55) ++ text.getBytes("UTF-8").take(16)
          }
          (id, Sniffer.sniff(bytes))
        }).toDF("doc_id", "kind")
    }),
    // --- X1/X2 extraction roundtrips (the north-rule correctness contract)
    "q_extract_html" -> ((s, dir) => {
      docsAsHtmlPages(s, dir)
        .filter(col("method").isin("strict", "lenient"))
        .select(col("doc_id"), col("extracted"))
    }),
    "q_extract_pdf" -> ((s, dir) => {
      docsAsPdfPages(s, dir)
        .filter(col("method") === "text_layer")
        .select(col("doc_id"), col("extracted"))
    }),
    // --- hyperlink extraction (the web-graph feed): the REAL single-pass
    // href/anchor scanner over the rendered article pages; the template's
    // link set has a closed form (10 links/doc, host-parameterized), so
    // the oracle is exact — the q_spans pattern applied to the link layer
    "q_links" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "documents").select($"doc_id", $"text").as[(Long, String)]
        .mapPartitions(_.flatMap { case (id, text) =>
          val html = HtmlGen.article(s"Doc $id", Seq(text), (id % 97).toInt,
            Seq("alpha beta related", "gamma delta entry"))
          graft.extract.html.LinkExtractor.links(html)
            .map(l => (id, l.pos.toLong, l.href, l.anchor))
        }).toDF("doc_id", "pos", "href", "anchor")
    }),
    // --- X5 char-span offsets, driver-gated: gate-passing docs render to a
    // single-block HTML article and a single-page PDF, so the span relation
    // has a closed form — exactly one span covering [0, len(text)) per
    // document per kind (the byte-identity contract extended to offsets).
    "q_spans" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "documents")
        .filter(length(regexp_replace(col("text"), "\\s", "")) >= 50 &&
          wsTokenCountCol(col("text")) >= 3)
        .select($"doc_id", $"text").as[(Long, String)]
        .mapPartitions(_.flatMap { case (id, text) =>
          val h = Extract.extractOne(s"doc://$id",
            HtmlGen.article(s"Doc $id", Seq(text), (id % 97).toInt,
              Seq("alpha beta related", "gamma delta entry")).getBytes("UTF-8"))
          val p = Extract.extractOne(s"doc://$id", PdfGen.classic(text))
          Seq(
            (id, "html", h.spans.length,
              h.spans.headOption.map(_.start).getOrElse(-1),
              h.spans.headOption.map(_.end).getOrElse(-1)),
            (id, "pdf", p.spans.length,
              p.spans.headOption.map(_.start).getOrElse(-1),
              p.spans.headOption.map(_.end).getOrElse(-1)))
        }).toDF("doc_id", "kind", "n_spans", "span_start", "span_end")
    }),
    // --- R2/R4 BM25 scoring (all-docs scores; rounded for oracle parity)
    "q_bm25" -> ((s, dir) => {
      Bm25.scores(t(s, dir, "documents"), "doc_id", "text", "spark filter join table")
    }),
    // --- composed metadata-filter + ranked retrieval (the reference's
    // filtered get -> ranked flow, question_rag.py:130-194): stats (N,
    // avgdl, df) are computed over the FILTERED corpus, not globally
    "q_facet_bm25" -> ((s, dir) => {
      Bm25.scores(t(s, dir, "documents").filter(col("lang") === "en"),
        "doc_id", "text", "spark filter join table")
    }),
    // --- A1 per-document billing ledger (reference billing.py:53-72):
    // tokens = Σ_chunks max(1, len/4), cost at 0.012 per 1M tokens
    "q_billing" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "documents")
        .filter(!col("text").rlike("\\n\\s*\\n") && col("text").rlike("\\S"))
        .select($"doc_id", $"text").as[(Long, String)]
        .map { case (id, text) =>
          val chunks = Chunker.chunkTexts(text)
          val tokens = chunks.map(c => math.max(1, c.length / 4).toLong).sum
          (id, chunks.length, tokens, tokens / 1000000.0 * 0.012)
        }.toDF("doc_id", "n_chunks", "tokens", "cost")
    }),
    // --- TF-IDF scoring variant (same corpus/query family as q_bm25)
    "q_tfidf" -> ((s, dir) => {
      Bm25.tfidfScores(t(s, dir, "documents"), "doc_id", "text", "spark filter join table")
    }),
    // --- hybrid retrieval: reciprocal-rank fusion of the BM25 lexical leg
    // and the cosine vector leg (SIGIR'09 RRF, k0=60) — the hybrid search
    // the reference runs as Chroma top-k beside keyword filtering. Ranks
    // are integers (doc-asc ties); the fused double is computed from the
    // pivoted ranks in fixed leg order, so the oracle reproduces it
    // bit-for-bit (see Hybrid scaladoc)
    "q_rrf" -> ((s, dir) => {
      val lex = Bm25.scoredAll(t(s, dir, "documents"), "doc_id", "text",
        "spark filter join table")
      val emb = t(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") === 0)
        .select(col("embedding").cast("array<double>").as("qv"))
      val vec = emb.crossJoin(broadcast(q))
        .select(col("vec_id"),
          Knn.cosineCol(col("embedding").cast("array<double>"), col("qv")).as("cosine"))
      graft.index.Hybrid.rrf(Seq(
        graft.index.Hybrid.Leg("lex", lex, "doc", "score"),
        graft.index.Hybrid.Leg("vec", vec, "vec_id", "cosine")), n = 50)
    }),
    // --- MMR diversified re-rank (Carbonell & Goldstein, SIGIR'98) over
    // the top-20 cosine candidates of the vec_id=0 query: greedy k=8,
    // λ=0.7 — sequential in k by nature, so distributed top-m first, then
    // the driver greedy over the bounded survivors (see Mmr scaladoc).
    // Oracle = the same greedy unrolled as 8 materialized-CTE rounds
    "q_mmr" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") === 0)
        .select(col("embedding").cast("array<double>").as("qv"))
      val cands = emb.filter(col("vec_id") =!= 0).crossJoin(broadcast(q))
        .select(col("vec_id").as("id"),
          Knn.cosineCol(col("embedding").cast("array<double>"), col("qv")).as("rel"),
          col("embedding").cast("array<double>").as("vec"))
      graft.sim.Mmr.rerank(s, cands, "id", "rel", "vec",
        k = 8, lambda = 0.7, maxCandidates = 20)
    }),
    // --- similarity search: brute-force cosine vs the vec_id=0 query vector
    "q_knn" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") === 0).select(col("embedding").cast("array<double>").as("qv"))
      emb.crossJoin(broadcast(q))
        .select(col("vec_id"),
          round(Knn.cosineCol(col("embedding").cast("array<double>"), col("qv")), 6).as("cosine"))
    }),
    // --- n-gram Jaccard similarity (the exact member of the dedup family):
    // word-5-gram Jaccard between each doc and its planted mutant, no LSH
    "q_ngram_jaccard" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "documents").select($"doc_id", $"text").as[(Long, String)]
        .map { case (id, text) =>
          val j = MinHash.jaccard(MinHash.shingles(text),
            MinHash.shingles(text + " appended trailing marker"))
          (id, j)
        }.toDF("doc_id", "j")
        .select(col("doc_id"), round(col("j"), 6).as("jaccard"))
    }),
    // --- Broder shingle CONTAINMENT (the asymmetric dedup member): planted
    // containers c<id> = text(id) || ' ' || text((id+1) mod n) for
    // doc_id % 7 == 2 — each container must surface BOTH constituent docs
    // at containment 1.0 even though their Jaccard vs the container is ~0.5
    // (the pair class the resemblance family cannot see). Integer
    // intersection/set sizes, one correctly-rounded division, 6-dp output.
    "q_containment" -> ((s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val n = docs.count() // bounded driver scalar (the IVF-centroid pattern)
      val base = docs.select(concat(lit("d"), col("doc_id")).as("id"), col("text"))
      val containers = docs.as("a").where($"a.doc_id" % 7 === 2)
        .join(docs.as("b"), ($"a.doc_id" + 1) % n === $"b.doc_id")
        .select(concat(lit("c"), $"a.doc_id").as("id"),
          concat($"a.text", lit(" "), $"b.text").as("text"))
      graft.dedup.Containment.pairs(s, base.unionByName(containers),
        "id", "text", tau = 0.9, maxDf = 64)
    }),
    // --- D3 MinHash-LSH near-dup pairs (planted pairs; rows-only oracle)
    "q_minhash_neardup" -> ((s, dir) => {
      MinHash.nearDupPairs(docsWithNearDups(s, dir), "doc_id", "text", threshold = 0.6)
        .select(col("id_a"), col("id_b"))
    }),
    // --- EXACT Jaccard similarity self-join via prefix filtering (the
    // SSJoin/PPJoin family, Chaudhuri ICDE'06 / Xiao WWW'08) over the
    // SAME planted corpus and the SAME word-5-gram shingle sets the
    // MinHash path estimates on — the approximate family's exact
    // cross-check. Rational threshold 3/5, all-integer verify
    // (5·common ≥ 3·(n_a+n_b−common)), no float contract. The oracle
    // brute-forces ALL pairs by shingle-hash equality, so the prefix
    // filter's COMPLETENESS is what's gated.
    "q_ppjoin" -> ((s, dir) =>
      graft.dedup.SimJoin.shingleJoin(docsWithNearDups(s, dir),
        "doc_id", "text", tn = 3, td = 5)),
    // --- proximity co-occurrence windows (the Büttcher/Clarke positional
    // feature class between bag-of-words and exact phrase): per doc, the
    // count of width-6 anchors whose window holds ALL of the query's
    // terms. Interval slot-fill — only query-term occurrences explode,
    // one (doc, anchor) exchange, all integer.
    "q_proximity" -> ((s, dir) =>
      graft.index.Bm25.proximityWindows(t(s, dir, "documents"),
        "doc_id", "text", "spark filter join", w = 6)),
    // --- the same windows resolved ENTIRELY from the committed
    // POSITIONAL postings (memoized single-segment positions=true root):
    // oracle identical to q_proximity's corpus replay (string doc ids),
    // so the positions channel's content is gated along with the
    // arithmetic.
    "q_index_proximity" -> ((s, dir) => {
      val root = memo("proxidx", dir) { r =>
        graft.jobs.IndexJob.build(s,
          t(s, dir, "documents").select(col("doc_id").cast("string").as("id"),
            col("text"), lit(false).as("is_duplicate")),
          r, positions = true)
      }
      graft.jobs.IndexJob.proximitySearch(s, root, "spark filter join", w = 6)
    }),
    // --- CORI resource selection (Callan/Lu/Croft SIGIR'95): rank the 20
    // source shards by per-shard collection stats ONLY — the selective-
    // search step that bounds a 100-TB query to m shards. The synthetic
    // corpus shares one vocabulary across sources, so the gate derives
    // deterministic topical markers (text || ' zz'||source — the
    // constructed-harness pattern of q_sitemap) and queries two of them
    // plus two house terms: marker beliefs spread ~0.016 (audited ≥3
    // orders above drift at 6 dp; tail gaps tie-break on shard).
    "q_cori" -> ((s, dir) =>
      graft.index.Cori.rankShards(coriDocs(s, dir), "doc_id", "text",
        "source", "spark filter zzsrc7 zzsrc3")),
    // --- selective search end-to-end: top-2 CORI shards (selection margin
    // ~0.015 — structural, not boundary luck) then BM25 top-10 WITHIN the
    // selected subset (its own collection stats, the selective-search
    // contract). Gates the bounded shard-key collect + isin pruning path.
    "q_cori_search" -> ((s, dir) =>
      graft.index.Cori.search(coriDocs(s, dir), "doc_id", "text",
        "source", "spark filter zzsrc7 zzsrc3", m = 2, k = 10)
        .select(col("doc").cast("long").as("doc_id"), col("score"))),
    // --- federated CORI merge: each selected shard scored as its OWN
    // collection (per-shard N/avgdl/df — the federated contract), doc
    // scores normalized by shard belief D' = D·(1 + 0.4·(R−R̄)/R̄) so
    // cross-shard ranks compare. Beliefs enter at their 6-dp quantization
    // (identical doubles both engines; ·/÷ are IEEE-exact), merged score
    // quantized once at 4 dp, rank-10 cut on rounded.
    "q_cori_merge" -> ((s, dir) =>
      graft.index.Cori.mergedSearch(coriDocs(s, dir), "doc_id", "text",
        "source", "spark filter zzsrc7 zzsrc3", m = 2, k = 10)
        .select(col("doc").cast("long").as("doc_id"), col("shard"), col("score"))),
    // --- Dirichlet query-likelihood (Ponte/Croft '98, Zhai/Lafferty '01 —
    // the third classic scorer beside BM25/TF-IDF) in the DAAT
    // decomposition: only matching postings flow, smoothing enters as two
    // broadcast scalars + a per-doc dl term. All candidates, no top-k
    // (the oracle-comparable form), one tokenize, 4-dp quantized.
    "q_ql" -> ((s, dir) =>
      graft.index.QueryLikelihood.scores(t(s, dir, "documents"),
        "doc_id", "text", "spark filter join table")
        .select(col("doc").cast("long").as("doc_id"), col("score"))),
    // --- freshness-driven recrawl scheduling (Cho & Garcia-Molina
    // TOIT'03 bias-corrected change-rate MLE) over the events stream as
    // visit history (page=user_id, fingerprint=event_type): integer
    // n/x/Δ inputs (epoch MICROS cross-engine-exact), one ln, 6-dp
    // quantized. Complements q_frontier (politeness orders WITHIN a
    // host; λ̂ orders WHAT is due).
    "q_recrawl" -> ((s, dir) =>
      graft.web.Recrawl.changeRates(t(s, dir, "events"),
        "user_id", "ts", "event_type")
        .select(col("page").cast("long").as("user_id"), col("n"), col("x"),
          col("lambda"))),
    // --- learning-to-rank feature matrix (the LETOR/MSLR training-file
    // shape): one row per candidate doc carrying all three scoring
    // families (each with its own proven rounding), proximity windows,
    // doc length, and matched-term count — pure composition, no new
    // float surface; the oracle joins the component replays.
    "q_ltr" -> ((s, dir) =>
      graft.index.Ltr.features(t(s, dir, "documents"),
        "doc_id", "text", "spark filter join table", w = 6)
        .select(col("doc").cast("long").as("doc_id"), col("f_bm25"),
          col("f_tfidf"), col("f_ql"), col("f_prox"), col("f_dl"),
          col("f_matched"))),
    // --- connected components over the verified near-dup pairs (the D3
    // clustering step: pointer-jumping min-label propagation; oracle is a
    // recursive CTE computing min-reachable-id over the same pair set)
    "q_components" -> ((s, dir) => {
      val pairs = MinHash.nearDupPairs(docsWithNearDups(s, dir), "doc_id", "text", threshold = 0.6)
      graft.dedup.Components.of(pairs).select(col("id"), col("comp"))
    }),
    // --- winnowing fingerprints (Schleimer et al., SIGMOD'03): per-doc
    // k-gram hashes, min per sliding window, distinct. Inherently
    // procedural (rolling window over character grams), so a narrow typed
    // flatMap — per-doc work, no shuffle, scale shape identical to extract
    "q_winnow" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "documents").select(col("doc_id").cast("long"), col("text"))
        .as[(Long, String)]
        .flatMap { case (id, txt) => graft.text.TextAnalysis.winnow(txt).map(fp => (id, fp)) }
        .toDF("doc_id", "fp")
    }),
    // --- the full corpus-cleaning job end-to-end (exact keep-first →
    // MinHash over survivors → connected components → keep-root): output
    // is the dropped-lineage relation a production run would persist
    "q_dedup_job" -> ((s, dir) => {
      val docs = docsWithNearDups(s, dir)
        .select(col("doc_id").cast("string").as("url"), col("text"))
      graft.jobs.DedupJob.run(s, docs, jaccardThreshold = 0.6)
        .dropped.select(col("url"), col("reason"), col("duplicate_of"))
    }),
    // --- embedding-cosine near-dup removal (fifth dedup-family member):
    // corpus plus an exact copy of every vector under id+1000000 — each
    // planted pair shares every LSH bucket, so the copy is guaranteed a
    // candidate and each >=0.995 pair's id_b side (the VARCHAR-larger id;
    // note "1000005" < "5" lexicographically) is dropped. Output =
    // surviving ids.
    "q_emb_neardup" -> ((s, dir) => {
      val base = t(s, dir, "embeddings").select(col("vec_id").cast("long").as("vec_id"), col("embedding"))
      val planted = base.unionByName(
        base.select((col("vec_id") + 1000000L).as("vec_id"), col("embedding")))
      Knn.dropEmbeddingNearDups(planted, "vec_id", "embedding", simThreshold = 0.995)
        .select(col("vec_id").cast("string").as("id"))
    }),
    // --- SemDeDup (Abbas et al. 2023): cluster-scoped semantic dedup —
    // same planted-copy harness as q_emb_neardup, but candidates come
    // from the IVF cell assignment (nearest deterministic centroid)
    // instead of LSH banding: exact copies share a cell by construction,
    // and the larger-VARCHAR-id side of any within-cell pair with
    // rounded cosine >= 0.98 is dropped. Output = surviving ids.
    "q_semdedup" -> ((s, dir) => {
      val base = t(s, dir, "embeddings").select(col("vec_id").cast("long").as("vec_id"), col("embedding"))
      val planted = base.unionByName(
        base.select((col("vec_id") + 1000000L).as("vec_id"), col("embedding")))
      Knn.semDedup(planted, "vec_id", "embedding", simThreshold = 0.98,
        nCells = 16, dim = 64, maxCell = 512)
        .select(col("vec_id").cast("string").as("id"))
    }),
    // --- CCNet-style cross-corpus paragraph dedup (boilerplate removal):
    // harness plants a shared boilerplate paragraph in every doc and each
    // doc's own text as a paragraph of its successor — so the cleaner must
    // keep the boilerplate exactly once (in the string-min doc) and strip
    // each repeated body from the later of its two carriers.
    "q_para_dedup" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val next = d.select(col("doc_id").as("nid"), col("text").as("ntext"))
      val harness = d.join(next, d("doc_id") + 1 === next("nid"), "left")
        .select(col("doc_id").cast("string").as("id"),
          concat_ws("\n\n", col("text"),
            lit("subscribe to our newsletter for weekly updates and offers"),
            coalesce(col("ntext"), lit("final trailing document body"))).as("text"))
      graft.dedup.ParagraphDedup.clean(harness, "id", "text")
    }),
    // --- benchmark n-gram decontamination (GPT-3 appendix C / Dolma /
    // FineWeb test-set-leakage scrub): docs with doc_id % 37 == 5 play the
    // eval set; any shared word 8-gram marks a doc contaminated. The bench
    // gram set broadcasts (one BroadcastHashJoin); the corpus side is one
    // narrow flatMap + one doc-id aggregation exchange.
    "q_decontam" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val bench = docs.filter(col("doc_id") % 37 === 5).select(col("text"))
      graft.text.Decontam.flag(docs, "doc_id", "text", bench, "text", n = 8)
        .select(col("id").cast("long").as("doc_id"),
          col("n_grams"), col("hits"), col("contaminated"))
    }),
    // --- PII detect + redact (Dolma/FineWeb anonymization): deterministic
    // harness plants an email / phone / IPv4 by doc_id residue (the base
    // corpus is digit-free word salad, so counts are exact); counts are
    // taken on the original text, clean_text is the 3-pass redaction in
    // the contractual email → phone → ip order.
    "q_pii" -> ((s, dir) => {
      val id = col("doc_id")
      val harness = t(s, dir, "documents").select(id,
        concat(col("text"),
          when(id % 3 === 1, concat(lit(" contact user"), id.cast("string"),
            lit("@mail.example.org asap"))).otherwise(lit("")),
          when(id % 4 === 2, concat(lit(" call 555-"),
            lpad((id % 1000).cast("string"), 3, "0"), lit("-0142"))).otherwise(lit("")),
          when(id % 5 === 3, concat(lit(" gateway 10."),
            (id % 200).cast("string"), lit(".0.77 logged"))).otherwise(lit(""))
        ).as("text"))
      graft.text.Pii.annotate(harness, "text")
        .select(col("doc_id"), col("n_emails"), col("n_phones"), col("n_ips"),
          col("clean_text"))
    }),
    // --- lake-backed INCREMENTAL exact dedup (the batch-arrival pattern):
    // batch 0 = the base corpus; batch 1 = planted copies (doc_id % 7 == 2
    // texts under +10000 ids → dropped against PRIOR state) plus an
    // in-batch dup pair (doc_id % 13 == 4 texts || ' v2' under +40000 and
    // +50000 → keep-first WITHIN the batch). Output = both runs' dropped
    // lineage; the oracle is one global keep-first window over the
    // batch-ordered union — the incremental history must agree with a
    // full-corpus re-dedup row-for-row.
    "q_dedup_incr" -> ((s, dir) => {
      val out = memo("incr", dir) { r =>
        val base = t(s, dir, "documents").select(col("doc_id"), col("text"))
        val b0 = base.select(col("doc_id").cast("string").as("url"), col("text"))
        val b1 = base.filter(col("doc_id") % 7 === 2)
          .select((col("doc_id") + 10000).cast("string").as("url"), col("text"))
          .unionByName(base.filter(col("doc_id") % 13 === 4)
            .select((col("doc_id") + 40000).cast("string").as("url"),
              concat(col("text"), lit(" v2")).as("text")))
          .unionByName(base.filter(col("doc_id") % 13 === 4)
            .select((col("doc_id") + 50000).cast("string").as("url"),
              concat(col("text"), lit(" v2")).as("text")))
        val r0 = graft.jobs.DedupJob.incremental(s, b0, s"$r/state")
        val r1 = graft.jobs.DedupJob.incremental(s, b1, s"$r/state")
        r0.dropped.withColumn("batch", lit(0L))
          .unionByName(r1.dropped.withColumn("batch", lit(1L)))
          .write.mode("overwrite").parquet(s"$r/out")
      }
      s.read.parquet(s"$out/out")
    }),
    // --- exact duplicated-substring removal (Lee et al. 2021 ExactSubstr,
    // distributed fixed-width-window approximation): harness appends a
    // shared 11-token boilerplate run (doc_id % 7 == 2) and a
    // twice-repeated 10-token phrase (doc_id % 11 == 3). The cleaner must
    // keep exactly ONE corpus-wide copy of every duplicated >= 8-token run
    // (string-min (id, pos) occurrence wins) and cut all others, merging
    // overlapping duplicate windows into whole covered runs.
    "q_substr_dedup" -> ((s, dir) => {
      val id = col("doc_id")
      val harness = t(s, dir, "documents").select(id,
        concat(col("text"),
          when(id % 7 === 2,
            lit(" all rights reserved unauthorized reproduction of this listing is strictly prohibited"))
            .otherwise(lit("")),
          when(id % 11 === 3,
            lit(" repeat block alpha beta gamma delta epsilon zeta eta theta" +
              " repeat block alpha beta gamma delta epsilon zeta eta theta"))
            .otherwise(lit(""))).as("text"))
      graft.dedup.SubstrDedup.clean(harness, "doc_id", "text", w = 8)
        .select(col("id").cast("long").as("doc_id"),
          col("n_tokens").cast("long").as("n_tokens"),
          col("removed_tokens").cast("long").as("removed_tokens"),
          col("clean_text"))
    }),
    // --- exact phrase retrieval (positional postings — the query class
    // bag-of-words BM25 cannot express): harness plants one occurrence in
    // doc_id % 9 == 4 docs and two more in doc_id % 27 == 13 docs (which
    // are also % 9 == 4, so those carry three). The quoted query exercises
    // the lowercase/punctuation tokenizer; matching is slot-fill anchor
    // arithmetic on token positions (see Bm25.phraseMatches).
    "q_phrase" -> ((s, dir) => {
      val id = col("doc_id")
      val harness = t(s, dir, "documents").select(id,
        concat(col("text"),
          when(id % 9 === 4, lit(" machine learning pipeline scales well"))
            .otherwise(lit("")),
          when(id % 27 === 13,
            lit(" machine learning pipeline again machine learning pipeline"))
            .otherwise(lit(""))).as("text"))
      graft.index.Bm25.phraseMatches(harness, "doc_id", "text", "Machine, LEARNING pipeline!")
        .select(col("doc").cast("long").as("doc_id"), col("n_matches"))
    }),
    // --- SimHash near-dup pairs (rows-only)
    "q_simhash_neardup" -> ((s, dir) => {
      SimHash.nearDupPairs(docsWithNearDups(s, dir), "doc_id", "text", maxDist = 3)
        .select(col("id_a"), col("id_b"), col("hamming"))
    }),
    // --- ANN (LSH-bucketed cosine — approximate w.r.t. true neighbors but
    // deterministic, so fully oracled via annOracleSql)
    "q_ann" -> ((s, dir) => {
      Knn.annTopK(t(s, dir, "embeddings"), "vec_id", "embedding", k = 5)
    }),
    // --- IVF-flat ANN (the coarse-quantizer scale path; deterministic
    // sampled centroids, so fully oracled like q_ann): 10 query vectors
    // probe their 2 nearest of 16 cells, exact cosine within probed cells
    "q_ivf" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Knn.ivfTopK(emb, emb.filter(col("vec_id") < 10), "vec_id", "embedding",
        k = 5, nCells = 16, nProbe = 2)
    }),
    // --- MATERIALIZED ANN index (the reference's persistent Chroma
    // collection, chroma_store.py:33-61): IVF cell lists committed as lake
    // tables across two appended segments (stable centroids from the first
    // build — segment 1 carries the globally smallest ids, so training
    // matches the oracle's ORDER BY id LIMIT nCells), then COMPACTED to one
    // merged segment (the gate thus covers the compaction path: merged
    // cells must answer identically to the segment union), searched from
    // the committed files with storage-level probed-cell pruning. Same
    // determinism as q_ivf → same oracle.
    "q_ann_index" -> ((s, dir) => {
      val root = memo("annidx", dir) { r =>
        val emb = t(s, dir, "embeddings")
        graft.jobs.AnnIndexJob.build(s, emb.filter(col("vec_id") < 500), "vec_id", "embedding", r)
        graft.jobs.AnnIndexJob.build(s, emb.filter(col("vec_id") >= 500), "vec_id", "embedding", r)
        graft.jobs.AnnIndexJob.compact(s, r)
      }
      graft.jobs.AnnIndexJob.search(s, root,
        t(s, dir, "embeddings").filter(col("vec_id") < 10),
        "vec_id", "embedding", k = 5, nProbe = 2)
    }),
    // --- TRAINED coarse quantizer: fixed-point Lloyd's k-means over the
    // embedding corpus (the clustering the reference's vector store hides
    // behind its collection API, chroma_store.py:33-61). Quantize-once
    // onto a 2^15 grid makes all 4 iterations integer-exact, so the
    // DuckDB oracle unrolls the SAME 4 assignment/update rounds (the
    // PageRank pattern) and the gate hash-checks the full trajectory —
    // no float contract anywhere.
    "q_kmeans" -> ((s, dir) => {
      graft.sim.Kmeans.lloyd(t(s, dir, "embeddings"), "vec_id", "embedding",
          k = 8, iters = 4, dim = 64)
        .select(col("id").as("vec_id"), col("cluster"), col("dist"))
    }),
    // --- product quantization (Jégou et al., TPAMI 2011): m per-subspace
    // fixed-point Lloyd codebooks → m-byte codes → ADC table-lookup
    // search. Every train/encode/score step is integer-exact on the 2^15
    // grid, so the DuckDB oracle unrolls the SAME m Lloyd runs and
    // hash-checks codes AND approximate distances end-to-end.
    "q_pq" -> ((s, dir) => {
      graft.sim.Pq.topK(t(s, dir, "embeddings"), "vec_id", "embedding",
        k = 10, m = 4, ks = 8, iters = 2, dim = 64, nQueries = 8)
    }),
    // --- sparse sign random projection (Achlioptas JL, JCSS'03): dim-64
    // embeddings onto 16 hash-derived {+1,0,-1} rows on the fixed-point
    // grid — integer-exact, matrix never materializes, one narrow codegen
    // pass, zero shuffles. Long-format (id, j, y) output.
    "q_rproj" -> ((s, dir) => {
      graft.sim.Projection.project(t(s, dir, "embeddings"), "vec_id",
        "embedding", k = 16, dim = 64)
    }),
    // --- JL-shortlisted exact KNN: the projection's downstream payoff —
    // integer shortlist in the 16-dim projected space (WindowGroupLimit
    // pre-cap), exact dim-64 re-rank on shortlist×queries rows only.
    // Both stages integer on the fixed-point grid → hash-exact.
    "q_rproj_knn" -> ((s, dir) => {
      graft.sim.Projection.shortlistTopK(t(s, dir, "embeddings"), "vec_id",
        "embedding", k = 5, kProj = 16, dim = 64, shortlist = 32,
        nQueries = 8)
    }),
    // --- IVF-PQ (Jégou et al. §V "IVFADC" — the composed inverted-file +
    // product-quantization index a billion-vector deployment runs): coarse
    // fixed-point Lloyd cells, PQ codebooks trained on RESIDUALS, ADC
    // search over the nProbe probed cells with a per-(query, cell) table.
    // Integer-exact end-to-end on the 2^15 grid → the DuckDB oracle
    // unrolls the same coarse + m residual Lloyd runs and hash-checks.
    "q_ivfpq" -> ((s, dir) => {
      graft.sim.IvfPq.topK(t(s, dir, "embeddings"), "vec_id", "embedding",
        k = 10, nCells = 8, citers = 2, nProbe = 2,
        m = 4, ks = 8, iters = 2, dim = 64, nQueries = 8)
    }),
    // --- per-id VECTOR upsert over the materialized ANN index (the
    // reference's chroma upsert, chroma_store.py:33-61): full corpus as
    // segment 1; every vec_id % 20 == 17 is then tombstoned and re-appended
    // with its NEGATED vector (exact in floating point, so the DuckDB
    // oracle replicates it with list_transform). Mutated ids are all ≥ 17 —
    // outside the 16 smallest training ids — so centroids match the
    // oracle's ORDER BY id LIMIT nCells over the updated source. Search
    // must rank against the POST-upsert vectors: stale cell rows die by
    // tv > sv, the re-appended rows (possibly in different cells) survive.
    "q_ann_upsert" -> ((s, dir) => {
      val root = memo("annups", dir) { r =>
        val emb = t(s, dir, "embeddings")
        graft.jobs.AnnIndexJob.build(s, emb, "vec_id", "embedding", r)
        val changed = emb.filter(col("vec_id") % 20 === 17)
        graft.jobs.AnnIndexJob.tombstone(s, r,
          changed.select(col("vec_id").cast("string").as("id")))
        graft.jobs.AnnIndexJob.build(s,
          changed.withColumn("embedding", transform(col("embedding"), x => -x)),
          "vec_id", "embedding", r)
      }
      graft.jobs.AnnIndexJob.search(s, root,
        t(s, dir, "embeddings").filter(col("vec_id") < 10),
        "vec_id", "embedding", k = 5, nProbe = 2)
    }),
    // --- metadata-FILTERED vector search over the materialized ANN index
    // (the reference's where=-filtered chroma query, question_rag.py:
    // filtered get → vector rank): label facets committed beside the cell
    // lists across two segments, merged at compaction, and the search
    // semi-joins the facet keep-set onto the probed-cell rows before
    // scoring. Centroids still train on the FULL (unfiltered) corpus —
    // same determinism as q_ann_index — so the oracle is the same IVF
    // replica with the member set label-filtered.
    "q_ann_facet" -> ((s, dir) => {
      val root = memo("annfac", dir) { r =>
        val emb = t(s, dir, "embeddings")
        graft.jobs.AnnIndexJob.build(s, emb.filter(col("vec_id") < 300),
          "vec_id", "embedding", r, facetCols = Seq("label"))
        graft.jobs.AnnIndexJob.build(s, emb.filter(col("vec_id") >= 300),
          "vec_id", "embedding", r, facetCols = Seq("label"))
        graft.jobs.AnnIndexJob.compact(s, r)
      }
      graft.jobs.AnnIndexJob.search(s, root,
        t(s, dir, "embeddings").filter(col("vec_id") < 10),
        "vec_id", "embedding", k = 5, nProbe = 2,
        facetWhere = Some("label IN (1, 3, 7)"))
    }),
    // --- A5 facet summary via grouping sets (cube)
    "q_facet_cube" -> ((s, dir) => {
      t(s, dir, "documents")
        .cube(col("lang"), col("source"))
        .agg(count(lit(1)).as("cnt"), round(avg("n_chars"), 2).as("avg_chars"))
    }),
    // --- C4 document-type classifier (regex when-chain)
    "q_doctype" -> ((s, dir) => {
      t(s, dir, "documents").select(col("doc_id"),
        when(col("text").rlike("(^|[^a-z0-9])stream([^a-z0-9]|$)"), lit("streaming"))
          .when(col("text").rlike("(^|[^a-z0-9])window([^a-z0-9]|$)"), lit("windowed"))
          .when(col("text").rlike("(^|[^a-z0-9])join([^a-z0-9]|$)"), lit("relational"))
          .otherwise(lit("other")).as("doc_type"))
    }),
    // --- A4 duplicate-group stats on a planted-dup corpus
    "q_dup_groups" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val both = docs.unionByName(docs.select((col("doc_id") + 500000L).as("doc_id"), col("text")))
      both.select(col("doc_id"), fingerprintCol(col("text")).as("fp"))
        .groupBy("fp")
        .agg(count(lit(1)).as("cnt"), min("doc_id").as("first_doc"))
        .filter(col("cnt") > 1)
    }),
    // --- R1 metadata-filtered lookup with deterministic limit
    "q_facet_lookup" -> ((s, dir) => {
      t(s, dir, "documents")
        .filter(col("lang") === "en" && col("source") === "src3")
        .orderBy("doc_id")
        .limit(20)
        .select(col("doc_id"), col("n_chars"))
    }),
    // --- F7 min-chunk-size filter (>= 20 words)
    "q_min_words" -> ((s, dir) => {
      t(s, dir, "documents")
        .filter(wsTokenCountCol(col("text")) >= 20)
        .select(col("doc_id"))
    }),
    // --- sequence packing (concat-and-split, seqLen 512) over the billing
    // token estimate: the distributed two-pass prefix sum must equal the
    // oracle's global window prefix exactly
    "q_packing" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"),
        greatest(lit(1L), (length(col("text")) / 4).cast("long")).as("tokens"))
      graft.text.Packing.packSequences(docs, "doc_id", "tokens", seqLen = 512L)
    }),
    // --- deterministic stratified sampling (training-mix rates per lang):
    // hash-based, not Bernoulli — a re-run keeps the identical subset
    "q_sample" -> ((s, dir) => {
      graft.text.Sampling.stratified(
        t(s, dir, "documents"), col("doc_id"), col("lang"),
        rates = Map("en" -> 50), defaultRate = 20)
        .select(col("doc_id"), col("lang"))
    }),
    // --- EXACT-k per-stratum deterministic sample (the eval-set
    // construction primitive): the 7 smallest-hash docs per source —
    // WindowGroupLimit rank, replayed with QUALIFY over the same
    // md5-top-64 order
    "q_sample_k" -> ((s, dir) => {
      graft.text.Sampling.sampleK(
          t(s, dir, "documents"), col("doc_id"), col("source"), k = 7)
        .select(col("doc_id"), col("source"))
    }),
    // --- temperature-based domain rebalance (α = 0.5): flatten the lang
    // skew toward p_d ∝ √n_d; keep decision = md5 uniform vs sqrt(n_min/
    // n_d) — IEEE-exact in both engines, corpus never shuffles
    "q_mix" -> ((s, dir) => {
      graft.text.Mix.rebalance(t(s, dir, "documents"),
          col("doc_id"), col("lang"), 0.5)
        .select(col("doc_id"), col("lang"))
    }),
    // --- Z-order (Morton) clustering value: 31-bit (n_chars, md5(doc_id))
    // interleaved by the 5-step magic-mask spread — the layout key behind
    // min/max file skipping; pure bitwise chain, codegen, no UDF
    "q_zorder" -> ((s, dir) => {
      graft.functions.GraftFunctions.register(s)
      val y = graft.functions.GraftFunctions
        .md5Top64(col("doc_id").cast("string")).bitwiseAND(lit(0x7FFFFFFFL))
      t(s, dir, "documents")
        .select(col("doc_id"),
          graft.layout.ZOrder.value(col("n_chars"), y).as("zval"))
    }),
    // --- deterministic train/val/test split (80/10/10 by hash bucket):
    // growth-stable — a doc's split depends only on its own key, so
    // re-running after corpus growth never migrates a doc across splits
    "q_split" -> ((s, dir) => {
      graft.text.Sampling.split(t(s, dir, "documents"), col("doc_id"),
          trainPct = 80, valPct = 10)
        .select(col("doc_id"), col("lang"), col("split"))
    }),
    // --- per-host diversification cap (FineWeb-style domain balancing)
    // over the synthetic url harness: keep the first 3 docs per host
    "q_host_cap" -> ((s, dir) => {
      val withHost = t(s, dir, "documents").select(col("doc_id"),
        concat(lit("host"), (col("doc_id") % 97).cast("string"), lit(".example")).as("host"))
      graft.text.Sampling.capPerHost(withHost, col("host"), col("doc_id"), maxPerHost = 3)
        .select(col("doc_id"), col("host"))
    }),
    // --- the reference's OWN path_meta facet parser (path_meta.py:18-58),
    // behavioral-parity-exact over a deterministic course-archive path
    // harness that exercises every branch: level cleanup + number
    // inference, semester table, folder-vs-filename course regex fallback,
    // PQ/GENERAL categories, group-key composition
    "q_path_meta" -> ((s, dir) => {
      import s.implicits._
      val parts = t(s, dir, "documents").select(
        col("doc_id"),
        col("source").as("dept"),
        when(col("doc_id") % 4 === 0, "Level 100")
          .when(col("doc_id") % 4 === 1, "200 Level")
          .when(col("doc_id") % 4 === 2, "lvl")
          .otherwise("LEVEL300").as("level_raw"),
        when(col("doc_id") % 5 === 0, "SEM1")
          .when(col("doc_id") % 5 === 1, "Second")
          .when(col("doc_id") % 5 === 2, "1")
          .when(col("doc_id") % 5 === 3, "Semester 2")
          .otherwise("fall").as("sem_raw"),
        when(col("doc_id") % 3 === 0, "CS 101")
          .when(col("doc_id") % 3 === 1, "PQS")
          .otherwise("GENERAL").as("folder"),
        when(col("doc_id") % 3 === 1,
            lit("MTH-305 past questions.pdf"))
          .when(col("doc_id") % 7 === 0, lit(".hidden"))    // pathlib: stem keeps the dot
          .when(col("doc_id") % 7 === 1, lit("file."))       // pathlib: trailing dot kept
          .otherwise(concat(lit("notes"), col("doc_id"), lit(".pdf"))).as("fname"))
      parts.select(col("doc_id"),
          concat_ws("/", col("dept"), col("level_raw"), col("sem_raw"),
            col("folder"), col("fname")).as("path"))
        .as[(Long, String)]
        .map { case (id, p) =>
          val m = graft.text.PathMeta.parse(p)
          (id, m.department, m.level, m.semester, m.category,
            m.course_code, m.course_number, m.stem, m.group_key)
        }.toDF("doc_id", "department", "level", "semester", "category",
          "course_code", "course_number", "stem", "group_key")
    }),
    // --- url-facet extraction (reference path_meta facets, web domain)
    "q_url_facets" -> ((s, dir) => {
      import s.implicits._
      // deterministic synthetic urls derived from doc rows
      t(s, dir, "documents").select($"doc_id",
          concat(lit("https://host"), ($"doc_id" % 97).cast("string"),
            lit(".example/"), $"source", lit("/item"), $"doc_id").as("url"))
        .select($"doc_id",
          urlHostCol($"url").as("host"),
          urlTopDirCol($"url").as("top_dir"),
          urlLeafCol($"url").as("leaf"),
          urlDepthCol($"url").as("depth"))
    }),
    // --- politeness-scheduled crawl frontier (Mercator per-host queues)
    // over the q_url_facets synthetic urls: priority (doc_id·7 mod 100)
    // DESC then url within each of ~97 hosts, 500 ms spacing, horizon 4 —
    // the cap visibly binds (hosts hold ~5 urls at sf0.01). All integer.
    "q_frontier" -> ((s, dir) => {
      import s.implicits._
      val urls = t(s, dir, "documents").select(
        concat(lit("https://host"), ($"doc_id" % 97).cast("string"),
          lit(".example/"), $"source", lit("/item"), $"doc_id").as("url"),
        concat(lit("host"), ($"doc_id" % 97).cast("string"),
          lit(".example")).as("host"),
        (($"doc_id" * 7) % 100).as("priority"))
      graft.web.Frontier.schedule(urls, "url", "host", "priority",
        delayMs = 500, maxPerHost = 4)
    }),
    // --- RefinedWeb-style URL pre-filter (the cheapest 100-TB gate: no
    // text touched): q_url_facets' synthetic urls + a deterministic
    // blocklist of every 11th host domain; penalty words planted in the
    // path by doc_id residues (%13 → 1 word, %17 → 2 — crosses the <2
    // keep threshold)
    "q_url_filter" -> ((s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents").select(col("doc_id"),
        concat(lit("https://www.host"), (col("doc_id") % 97).cast("string"),
          lit(".example/"), col("source"), lit("/item"), col("doc_id"),
          when(col("doc_id") % 13 === 0, lit("/casino")).otherwise(lit("")),
          when(col("doc_id") % 17 === 0, lit("/torrent-winner")).otherwise(lit(""))).as("url"))
      val blocklist = (0 until 97).filter(_ % 11 == 0)
        .map(h => s"host$h.example").toDF("domain")
      graft.text.UrlFilter.annotate(docs, "url", blocklist)
        .select(col("doc_id"), col("reg_domain"), col("blocked"),
          col("url_penalty"), col("url_keep"))
    }),
    // --- URL canonicalization (crawl-frontier normalization, the key
    // URL-level dedup hashes on): harness urls mix authority casing, a
    // default :443 port, utm_*/gclid tracking params and #fragments; every
    // mod-50 path class collapses to 2 canonical keys (with / without the
    // surviving ?page=2), group sizes varying 3/4/6/7 by class. The whole
    // chain is RE2-safe columnar regex, replicated verbatim in the oracle.
    "q_url_canon" -> ((s, dir) => {
      import s.implicits._
      val raw = t(s, dir, "documents").select($"doc_id",
        concat(
          when($"doc_id" % 2 === 0, lit("HTTPS://")).otherwise(lit("https://")),
          when($"doc_id" % 4 < 2, lit("Example.COM")).otherwise(lit("example.com")),
          when($"doc_id" % 8 === 1, lit(":443")).otherwise(lit("")),
          lit("/Item/"), ($"doc_id" % 50).cast("string"),
          when($"doc_id" % 3 === 1, lit("?utm_source=feed&page=2"))
            .when($"doc_id" % 3 === 2, lit("?page=2&utm_campaign=x&gclid=abc"))
            .otherwise(lit("")),
          when($"doc_id" % 7 === 1, lit("#Section-2")).otherwise(lit(""))).as("url"))
      raw.withColumn("canon", graft.text.UrlCanon.canonicalCol($"url"))
        .withColumn("n_same", count(lit(1))
          .over(org.apache.spark.sql.expressions.Window.partitionBy("canon")))
        .select($"doc_id", $"url", $"canon", $"n_same")
    }),
    // --- R5's offline half: ranked retrieval → token-budget context
    // assembly (prefix-truncating greedy packing; the LLM call itself stays
    // out of scope, SURVEY §2.8). tokens = max(1, len/4) — the billing
    // convention — and at budget 400 the BM25 top-10 truncates mid-list.
    // --- champion-list retrieval (IIR §7.1.3 index pruning): per query
    // term only the top-25 docs by (tf DESC, doc) enter the candidate
    // set — the cut visibly binds (hundreds of docs match each term) —
    // then EXACT full-stats BM25 on the candidates. Integer selection +
    // the established rounded-score discipline; no top-k boundary.
    "q_champions" -> ((s, dir) =>
      graft.index.Bm25.championSearch(t(s, dir, "documents"), "doc_id", "text",
        "spark filter join table", r = 25)),
    // --- MaxScore-pruned EXACT top-k (Turtle–Flood 1995): θ seeded from
    // exact champion scores, df-only saturation bound Σ idf·(k1+1) prunes
    // docs that provably cannot reach the k-th rounded score (θ − 1e-4
    // slack covers the 4-dp quantum), survivors exact-rescored. The oracle
    // replays ONLY full scoring + the rounded top-10 cut — any pruning
    // loss would hash-mismatch. Boundary audited: ranks 10/11 hold
    // distinct 4-dp scores at sf0.001 (1.6024/1.6001) AND sf0.01
    // (1.5221/1.5207), raw values ≥ 2.5e-5 from rounding half-boundaries.
    "q_maxscore" -> ((s, dir) =>
      graft.index.Bm25.maxScoreSearch(t(s, dir, "documents"), "doc_id", "text",
        "spark filter join table", k = 10, seedR = 25)),
    // --- Block-Max WAND EXACT top-k (Ding & Suel SIGIR'11): q_maxscore's
    // three phases with the pruning bound sharpened to per-BLOCK granularity
    // — 128-doc blocks in PostingsCodec's layout, each bounded by
    // idf·(k1+1)·bm/(bm + k1(1−b)) from its block-max tf. Same lossless
    // contract: the oracle replays only full scoring + the rounded top-20
    // cut. Boundary audited: ranks 20/21 hold distinct 4-dp scores at
    // sf0.001 (1.5773/1.5748) AND sf0.01 (1.4751/1.4698); raw top-21
    // values ≥ 1.4e-6 from rounding half-boundaries (~7 orders above ulp
    // drift).
    "q_bmw" -> ((s, dir) =>
      graft.index.Bm25.blockMaxSearch(t(s, dir, "documents"), "doc_id", "text",
        "spark filter join table", k = 20, seedR = 25, blockSize = 128)),
    // --- blocked delta+varint postings compression (Managing Gigabytes
    // §3 / the Lucene 128-doc block layout) with block-max metadata: the
    // REAL encoder's emitted bytes are summarized as (n_bytes, byte_sum)
    // and gated against the oracle's closed-form LEB128 arithmetic —
    // byte lengths by 7-bit range cases, byte sums as Σ 7-bit fields +
    // 128 per continuation. All integer; one shuffle on term; blocks
    // bound every aggregate at 128 members.
    "q_varint" -> ((s, dir) =>
      graft.index.PostingsCodec.blockedPostings(t(s, dir, "documents"),
        "doc_id", "text", blockSize = 128)
        .select("term", "block", "n_docs", "max_tf", "n_bytes", "byte_sum")),
    // --- trainable multinomial Naive Bayes (the CCNet/RefinedWeb-style
    // classifier stage, from scratch): train on EVEN doc_ids with lang as
    // the label, score ODD docs — per-(doc, class) log-posteriors, all
    // five classes per doc (no argmax boundary). Raw doubles end-to-end,
    // quantized ONCE at 2dp (log-sums ~10^3 magnitude; margins audited).
    "q_nb" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val (grid, priors) = graft.text.NaiveBayes.train(
        docs.filter(col("doc_id") % 2 === 0), "doc_id", "text", "lang")
      graft.text.NaiveBayes.score(
          docs.filter(col("doc_id") % 2 === 1), "doc_id", "text", grid, priors)
        .select(col("doc").cast("long").as("doc_id"), col("class"), col("score"))
    }),
    // --- trainable bigram LM with add-one smoothing (the word-ORDER-aware
    // CCNet/KenLM-style perplexity stage; q_lm_score's unigram LM cannot
    // see transitions): counts trained on EVEN doc_ids, ODD docs scored by
    // conditional log-likelihood Σ ln((c2+1)/(c1+V)) over pairs whose
    // context is in-vocab. Raw doubles, quantized ONCE at 2dp (the q_nb
    // large-magnitude-sum discipline; |ll| ≤ ~340, margins ≥ 3.3e-5 at
    // both SFs — audited in COVERAGE.md).
    "q_bigram_lm" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val (c2, c1) = graft.text.BigramLm.train(
        docs.filter(col("doc_id") % 2 === 0), "doc_id", "text")
      graft.text.BigramLm.score(
          docs.filter(col("doc_id") % 2 === 1), "doc_id", "text", c2, c1)
        .select(col("doc").cast("long").as("doc_id"), col("n_scored"), col("score"))
    }),
    // --- SymSpell spelling suggestion over the corpus vocabulary (the
    // "did you mean" retrieval stage): candidates via the symmetric-
    // delete key join (vocab-bounded, never a vocab × query cross
    // product), exact levenshtein ≤ 1 verify, (cnt DESC, term) rank cut
    // at 3 per query term. All integer/string — the oracle replays the
    // BRUTE-FORCE distance filter over the whole vocab, so the deletion-
    // key candidate generation's completeness is itself what's gated.
    "q_spell" -> ((s, dir) =>
      graft.text.Spell.suggest(t(s, dir, "documents"), "text",
        "sparc filtr joln scam colum fash", k = 3)),
    // --- front-coded term dictionary (Managing Gigabytes §4 / the Lucene
    // term-block layout — the index storage bill's OTHER half beside
    // q_varint's postings): sorted vocab in 8-term blocks, block heads
    // whole, later terms as varint(lcp)+varint(|suffix|)+suffix against
    // the GLOBAL predecessor (two-pass distributed rank — never a global
    // window; partition-count-invariant by spec). The real encoder's
    // n_bytes/byte_sum are gated against the oracle's closed-form lcp
    // counting + LEB128 arithmetic + ascii sums. All integer/string.
    "q_frontcode" -> ((s, dir) =>
      graft.index.TermDict.frontCoded(t(s, dir, "documents"), "text",
        blockSize = 8)),
    // --- sitemap-protocol parsing (web/Sitemap — the crawl-discovery
    // channel beside q_robots/q_frontier): the harness BUILDS one
    // deterministic urlset per host from the documents table (locs carry
    // &amp; entities; every 3rd url omits lastmod, every 4th priority),
    // round-trips it through the real from-scratch parser, and the
    // oracle replays the construction arithmetic directly — any parser
    // loss (entity decode, optional fields, entry boundaries) mismatches.
    "q_sitemap" -> ((s, dir) => sitemapEntriesHarness(s, dir)),
    // --- discovery → scheduling composition: the SAME parsed sitemap
    // entries (one shared harness with q_sitemap — no drift) feed the
    // politeness frontier, sitemap priorities (digit of "0.d", absent →
    // 0) becoming the crawl priorities. One DuckDB statement spans
    // XML construction arithmetic + the per-host rank × delay replay.
    "q_sitemap_frontier" -> ((s, dir) => {
      val urls = sitemapEntriesHarness(s, dir).select(
        col("loc").as("url"), col("host"),
        coalesce(substring(col("priority"), 3, 1).cast("long"), lit(0L)).as("priority"))
      graft.web.Frontier.schedule(urls, "url", "host", "priority",
        delayMs = 250, maxPerHost = 3)
    }),
    // --- TextRank extractive summarization (Mihalcea–Tarau 2004): top-2
    // sentences per doc by integer PageRank over the shared-token
    // sentence graph — similarity counts ARE multi-edges, so the proven
    // integer PageRank is the weighted walk; zero float contract, the
    // oracle replays 6 rounds CTE-for-CTE on packed doc·4096+idx ids.
    // The corpus text is punctuation-free bag-of-words, so the harness
    // plants sentence bounds ('.' after every 8th word) — replayed in
    // the oracle via a word-ordinality string_agg rebuild.
    "q_textrank" -> ((s, dir) => {
      val harness = t(s, dir, "documents").select(col("doc_id"),
        expr("array_join(transform(split(text, ' '), " +
          "(w, i) -> IF((i % 8) = 7, concat(w, '.'), w)), ' ')").as("text"))
      graft.text.TextRank.summarize(harness, "doc_id", "text",
          iters = 6, topK = 2)
        .select(col("doc").as("doc_id"), col("sent_idx"), col("rank"))
    }),
    // --- BM25F fielded ranking (Robertson–Zaragoza 2004): body text +
    // aggregated in-link ANCHOR text (single-token anchors anch<k> over
    // the quadratic pseudo-graph, sort-joined per target) as weighted
    // fields — normalized field tfs sum into one pseudo-frequency before
    // ONE saturation, the published web-search scoring shape. Query mixes
    // body terms with an anchor class so both fields bind.
    "q_bm25f" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val n = docs.count() // bounded driver scalar (the IVF-centroid pattern)
      val body = docs.select(col("doc_id").cast("string").as("doc"),
        lit("body").as("field"), col("text"))
      val anchors = quadEdges(docs.select(col("doc_id")), n)
        .select(col("dst"),
          concat(lit("anch"), ((col("src") + col("j")) % 13).cast("string")).as("a"))
        .groupBy("dst")
        .agg(array_join(sort_array(collect_list(col("a"))), " ").as("text"))
        .select(col("dst").cast("string").as("doc"),
          lit("anchor").as("field"), col("text"))
      graft.index.Bm25F.scores(body.unionByName(anchors), "doc", "field", "text",
          "spark filter join anch5",
          Map("body" -> (1.0, 0.75), "anchor" -> (2.0, 0.5)))
        .select(col("doc").cast("long").as("doc_id"), col("score"))
    }),
    // --- pseudo-relevance feedback (Rocchio): top-10 feedback docs mine
    // 5 all-integer-ranked expansion terms (q_prf_terms), then the corpus
    // re-scores under original ∪ mined (q_prf — every matching doc, 4-dp
    // rounded, no final top-k boundary).
    "q_prf_terms" -> ((s, dir) =>
      graft.index.Prf.expansionTerms(t(s, dir, "documents"), "doc_id", "text",
        "spark filter join table", k = 10, m = 5)),
    "q_prf" -> ((s, dir) =>
      graft.index.Prf.search(t(s, dir, "documents"), "doc_id", "text",
        "spark filter join table", k = 10, m = 5)),
    // --- balanced serpentine output sharding (the training-corpus write
    // layout): 7 shards dealt boustrophedon by (char weight DESC, id) via
    // the distributed two-pass rank — every assignment a pure integer
    // function of global rank, no global window. Oracle replays the rank
    // and the fold arithmetic (tie order on the STRING id, the operator's
    // contract).
    "q_shards" -> ((s, dir) => {
      graft.text.Sharding.assign(
          t(s, dir, "documents").select(col("doc_id"), length(col("text")).as("w")),
          "doc_id", "w", nShards = 7)
        .select(col("id").cast("long").as("doc_id"), col("w"), col("shard"))
    }),
    // --- KWIC snippets over the BM25 top-10 (the passage-highlight step
    // between ranked ids and human eyes): densest width-12 query-term
    // window, tie to earliest — integer scoring, the snippet is the
    // space-joined normalized window, replayed in SQL with a running-sum
    // window + rank-1 cut.
    "q_snippet" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      // rank on the ROUNDED scores (Bm25.scores, the Context.assemble
      // discipline) — the oracle's ranked CTE orders by round(score, 4),
      // and an unrounded orderBy could flip rank-10 boundary membership on
      // a near-tie one corpus away
      val top = graft.index.Bm25.scores(docs, "doc_id", "text",
          "spark filter join table")
        .orderBy(desc("score"), asc("doc")).limit(10)
      val topDocs = docs.join(top.select(col("doc")), col("doc_id") === col("doc"))
        .select(col("doc_id"), col("text"))
      graft.index.Snippets.of(topDocs, "doc_id", "text",
          "spark filter join table", width = 12)
        .select(col("doc").cast("long").as("doc_id"), col("win_start"),
          col("hits"), col("snippet"))
    }),
    "q_context" -> ((s, dir) => {
      graft.index.Context.assemble(t(s, dir, "documents"), "doc_id", "text",
          "spark filter join table", k = 10, tokenBudget = 400)
        .select(col("rank"), col("doc").as("doc_id"), col("tokens"),
          col("cum_tokens"), col("score"))
    }),
    // --- HyperLogLog distinct-vocabulary sketch per source: 256
    // md5-hashed registers, integer-exact summary (s_scaled BIGINT
    // harmonic denominator, est_milli via DECIMAL(38,0) div) — the DuckDB
    // oracle replays every register and the exact distinct rides along so
    // the sketch's accuracy is visible in the gate output itself.
    "q_hll" -> ((s, dir) => {
      // value domain: word-trigram shingles (~1.2–1.5k distinct per source
      // at sf0.01 — real estimator territory, n/m ≈ 5)
      val toks = t(s, dir, "documents")
        .select(col("source").as("key"),
          graft.index.Bm25.tokensCol(col("text")).as("w"))
        .filter(size(col("w")) >= 3)
        .select(col("key"), explode(expr(
          "transform(sequence(0, size(w) - 3), " +
            "j -> concat_ws(' ', w[j], w[j+1], w[j+2]))")).as("term"))
      val sk = graft.sketch.Hll.estimate(toks, "key", "term")
      val exact = toks.groupBy("key").agg(countDistinct("term").as("exact_distinct"))
      sk.join(exact, "key")
        .select(col("key").as("source"), col("present"), col("s_scaled"),
          col("est_milli"), col("exact_distinct"))
    }),
    // --- Count-Min frequency sketch: d=4 × w=1024 BIGINT counters over
    // the corpus bigram stream (~916 distinct over 1024 buckets — light
    // collision load, so the gate shows BOTH regimes: est == exact where
    // min-over-rows kills the collisions, visible bounded overcount where
    // it can't), probed at the exact top-20 bigrams. CMS never undercounts
    // (overcount = est − exact ≥ 0 is IN the gate), and the whole sketch
    // replays hash-exactly in DuckDB.
    "q_cms" -> ((s, dir) => {
      val toks = t(s, dir, "documents")
        .select(graft.index.Bm25.tokensCol(col("text")).as("w"))
        .filter(size(col("w")) >= 2)
        .select(explode(expr(
          "transform(sequence(0, size(w) - 2), " +
            "j -> concat_ws(' ', w[j], w[j+1]))")).as("term"))
      val exact = toks.groupBy("term").agg(count(lit(1)).as("exact_cnt"))
        .orderBy(desc("exact_cnt"), asc("term")).limit(20)
      val sk = graft.sketch.CountMin.build(toks, "term")
      graft.sketch.CountMin.estimate(sk, exact.select(col("term").as("v")), "v")
        .join(exact, col("v") === col("term"))
        .select(col("term"), col("exact_cnt"), col("est"),
          (col("est") - col("exact_cnt")).as("overcount"))
    }),
    // --- Misra–Gries heavy hitters + exact recheck: bigrams whose exact
    // count exceeds n/(K+1), found WITHOUT shuffling the full vocabulary —
    // pass 1 keeps ≤ K counters per partition (superset by theorem), pass 2
    // recounts candidates only (broadcast semi-join). Output exact.
    "q_heavy" -> ((s, dir) => {
      val big = t(s, dir, "documents")
        .select(graft.index.Bm25.tokensCol(col("text")).as("w"))
        .filter(size(col("w")) >= 2)
        .select(explode(expr(
          "transform(sequence(0, size(w) - 2), " +
            "j -> concat_ws(' ', w[j], w[j+1]))")).as("item"))
      graft.sketch.HeavyHitters.exact(big, "item")
    }),
    // --- STREAMING HyperLogLog: the same register table built via
    // cross-batch keyed state (8 micro-batches, one Int per (key,
    // register) — state bounded by the SKETCH, not the stream), emitting
    // only register-raise deltas; the max-merged delta sink equals the
    // batch registers exactly, so the oracle IS q_hll's oracle — streamed
    // state replayed register-for-register in SQL.
    "q_stream_hll" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      import s.implicits._
      val root = scratchDir("graft-shll-")
      val toks = t(s, dir, "documents")
        .select(col("source").as("key"),
          graft.index.Bm25.tokensCol(col("text")).as("w"))
        .filter(size(col("w")) >= 3)
        .select(col("key"), explode(expr(
          "transform(sequence(0, size(w) - 3), " +
            "j -> concat_ws(' ', w[j], w[j+1], w[j+2]))")).as("term"))
      toks.repartition(8).write.parquet(s"$root/terms")
      // 2-batch drain (4 files/trigger over the 8 written files): the
      // delta sink is max-idempotent — groupBy(key, j).max(m) over the
      // emitted rows equals the batch registers under ANY batching — so
      // trigger sizing is free to amortize the fixed per-micro-batch cost
      // (offset/commit log, state-store commit, sink file commit) the
      // standard production way, while the drain still crosses batch
      // boundaries (cross-batch keyed state exercised, ≥2 data batches —
      // the minimum that still exercises it; each extra batch re-paid the
      // full fixed micro-batch cost for zero output difference)
      val src = s.readStream.schema(toks.schema)
        .option("maxFilesPerTrigger", 4).parquet(s"$root/terms")
        .as[(String, String)]
      withStreamStateParts(s) {
        graft.streaming.StreamExtract.availableNowWriter(
          graft.streaming.StreamExtract.hllDeltas(src).toDF("key", "j", "m"),
          s"$root/deltas", s"$root/ckpt").start().awaitTermination()
      }
      val regs = s.read.parquet(s"$root/deltas")
        .groupBy("key", "j").agg(max("m").as("m"))
      val sk = graft.sketch.Hll.summarize(regs)
      // exact side reads the terms BACK from the parquet written above —
      // the identical rows, without re-running tokenize+shingle over the
      // corpus a second time (one corpus tokenize per query)
      val exact = s.read.parquet(s"$root/terms")
        .groupBy("key").agg(countDistinct("term").as("exact_distinct"))
      sk.join(exact, "key")
        .select(col("key").as("source"), col("present"), col("s_scaled"),
          col("est_milli"), col("exact_distinct"))
    }),
    // --- STREAMING Count-Min: the same 4×1024 counter grid folded in
    // keyed state (one Long per counter — state bounded at 4096 by the
    // GRID, independent of stream length or vocabulary), emitting monotone
    // running totals; the max-merged sink equals the batch sketch exactly,
    // so the gate shares q_cms's oracle verbatim.
    "q_stream_cms" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      import s.implicits._
      val root = scratchDir("graft-scms-")
      val toks = t(s, dir, "documents")
        .select(graft.index.Bm25.tokensCol(col("text")).as("w"))
        .filter(size(col("w")) >= 2)
        .select(explode(expr(
          "transform(sequence(0, size(w) - 2), " +
            "j -> concat_ws(' ', w[j], w[j+1]))")).as("term"))
      toks.repartition(8).write.parquet(s"$root/terms")
      // 2-batch drain + parquet-backed exact side: same reasoning as
      // q_stream_hll (monotone totals, max-idempotent sink — batch-count
      // invariant; one corpus tokenize per query)
      val src = s.readStream.schema(toks.schema)
        .option("maxFilesPerTrigger", 4).parquet(s"$root/terms")
        .as[String]
      withStreamStateParts(s) {
        graft.streaming.StreamExtract.availableNowWriter(
          graft.streaming.StreamExtract.cmsTotals(src).toDF("r", "b", "c"),
          s"$root/totals", s"$root/ckpt").start().awaitTermination()
      }
      val sk = s.read.parquet(s"$root/totals")
        .groupBy("r", "b").agg(max("c").as("c"))
      val exact = s.read.parquet(s"$root/terms")
        .groupBy("term").agg(count(lit(1)).as("exact_cnt"))
        .orderBy(desc("exact_cnt"), asc("term")).limit(20)
      graft.sketch.CountMin.estimate(sk, exact.select(col("term").as("v")), "v")
        .join(exact, col("v") === col("term"))
        .select(col("term"), col("exact_cnt"), col("est"),
          (col("est") - col("exact_cnt")).as("overcount"))
    }),
    // --- streaming decade-histogram: per-source token counts drained in 8
    // micro-batches through keyed (key, bucket) counter state; the
    // max-idempotent fold of emitted monotone totals == the batch
    // histogram, so percentiles over it hit the SAME oracle as q_quantile
    "q_stream_quantile" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      import s.implicits._
      val root = scratchDir("graft-squant-")
      val vals = t(s, dir, "documents").select(col("source"),
        wsTokenCountCol(col("text")).cast("long").as("n_tokens"))
      vals.repartition(8).write.parquet(s"$root/vals")
      // 2-batch drain: monotone totals, max-idempotent sink (the
      // q_stream_hll/q_stream_cms reasoning) — batch-count invariant
      val src = s.readStream.schema(vals.schema)
        .option("maxFilesPerTrigger", 4).parquet(s"$root/vals")
        .as[(String, Long)]
      withStreamStateParts(s) {
        graft.streaming.StreamExtract.availableNowWriter(
          graft.streaming.StreamExtract.histogramTotals(src).toDF("key", "lo", "cnt"),
          s"$root/totals", s"$root/ckpt").start().awaitTermination()
      }
      val hist = s.read.parquet(s"$root/totals")
        .groupBy("key", "lo").agg(max("cnt").as("cnt"))
      graft.sketch.Quantile.percentiles(hist, Seq(100, 250, 500, 750, 900, 990))
        .select(col("key").as("source"), col("q_milli"), col("lo"))
    }),
    // --- HLL set algebra: union = register-wise max (EXACT sketch of the
    // union — the property that makes shard-merge lossless), intersection
    // estimated by inclusion–exclusion over the three integer estimates.
    // Sets A = {src0,src1}, B = {src1,src2} trigram vocabularies (~50%
    // true overlap — well above the ±6.5%·√3 sketch noise, so the gate
    // row shows the estimator WORKING, not noise). Everything BIGINT.
    "q_hll_setops" -> ((s, dir) => {
      val toks = t(s, dir, "documents")
        .select(col("source").as("key"),
          graft.index.Bm25.tokensCol(col("text")).as("w"))
        .filter(size(col("w")) >= 3)
        .select(col("key"), explode(expr(
          "transform(sequence(0, size(w) - 3), " +
            "j -> concat_ws(' ', w[j], w[j+1], w[j+2]))")).as("term"))
        .filter(col("key").isin("src0", "src1", "src2"))
      val a = toks.filter(col("key").isin("src0", "src1"))
        .select(lit("a").as("key"), col("term"))
      val b = toks.filter(col("key").isin("src1", "src2"))
        .select(lit("b").as("key"), col("term"))
      val u = a.union(b).select(lit("u").as("key"), col("term"))
      val est = graft.sketch.Hll
        .estimate(a.union(b).union(u), "key", "term")
        .select(col("key"), col("est_milli"))
      val pivot = est.groupBy().pivot("key", Seq("a", "b", "u"))
        .agg(first("est_milli"))
        .select(col("a").as("est_a_milli"), col("b").as("est_b_milli"),
          col("u").as("est_union_milli"))
      val exact = toks.groupBy("term")
        .agg(max(col("key").isin("src0", "src1")).as("ina"),
          max(col("key").isin("src1", "src2")).as("inb"))
        .agg(count(lit(1)).as("exact_union"),
          sum(when(col("ina") && col("inb"), 1L).otherwise(0L)).as("exact_inter"))
      pivot.crossJoin(exact)
        .select(col("est_a_milli"), col("est_b_milli"), col("est_union_milli"),
          (col("est_a_milli") + col("est_b_milli") - col("est_union_milli"))
            .as("est_inter_milli"),
          col("exact_union"), col("exact_inter"))
    }),
    // --- KMV bottom-k set-similarity: Jaccard of the {src0,src1} vs
    // {src1,src2} trigram vocabularies from three 256-hash signatures
    // (Ĵ = |B_k(U) ∩ B_k(A) ∩ B_k(B)| / k; denominator k_used guards
    // unions smaller than k). Exact Jaccard rides in the row; everything
    // BIGINT (milli-units via integer div).
    "q_kmv" -> ((s, dir) => {
      val toks = t(s, dir, "documents")
        .select(col("source").as("key"),
          graft.index.Bm25.tokensCol(col("text")).as("w"))
        .filter(size(col("w")) >= 3)
        .select(col("key"), explode(expr(
          "transform(sequence(0, size(w) - 3), " +
            "j -> concat_ws(' ', w[j], w[j+1], w[j+2]))")).as("term"))
        .filter(col("key").isin("src0", "src1", "src2"))
      val a = toks.filter(col("key").isin("src0", "src1"))
        .select(lit("a").as("key"), col("term"))
      val b = toks.filter(col("key").isin("src1", "src2"))
        .select(lit("b").as("key"), col("term"))
      val u = a.union(b).select(lit("u").as("key"), col("term"))
      val sig = graft.sketch.Kmv.signature(a.union(b).union(u), "key", "term")
      val matches = sig.filter(col("key") === "u").select("h")
        .join(sig.filter(col("key") === "a").select("h"), Seq("h"))
        .join(sig.filter(col("key") === "b").select("h"), Seq("h"))
        .agg(count(lit(1)).as("matches"))
      val kUsed = sig.filter(col("key") === "u")
        .agg(count(lit(1)).as("k_used"))
      val exact = toks.groupBy("term")
        .agg(max(col("key").isin("src0", "src1")).as("ina"),
          max(col("key").isin("src1", "src2")).as("inb"))
        .agg(count(lit(1)).as("exact_union"),
          sum(when(col("ina") && col("inb"), 1L).otherwise(0L)).as("exact_inter"))
      kUsed.crossJoin(matches).crossJoin(exact)
        .select(col("k_used"), col("matches"),
          expr("matches * 1000 div k_used").as("est_j_milli"),
          col("exact_union"), col("exact_inter"),
          expr("exact_inter * 1000 div exact_union").as("exact_j_milli"))
    }),
    // --- mergeable decade-histogram quantiles (the distribution member of
    // the sketch family): per-source ws-token-count percentile bounds read
    // off the O(keys × ≤172-bucket) sketch — merge-losslessness is spec'd
    // (QuantileSketchSpec); the oracle replays bucket rule + cumulative
    // rank in pure BIGINT/string arithmetic
    "q_quantile" -> ((s, dir) => {
      val v = t(s, dir, "documents").select(col("source"),
        wsTokenCountCol(col("text")).as("n_tokens"))
      val hist = graft.sketch.Quantile.histogram(v, "source", "n_tokens")
      graft.sketch.Quantile.percentiles(hist, Seq(100, 250, 500, 750, 900, 990))
        .select(col("key").as("source"), col("q_milli"), col("lo"))
    }),
    // --- tokenizer-prep vocabulary induction: corpus top-200 terms by
    // frequency, ties to the lexicographically smaller term
    "q_vocab" -> ((s, dir) => {
      graft.text.Vocab.top(t(s, dir, "documents"), "text", 200)
        .select(col("rank"), col("term"), col("cnt"))
    }),
    // --- prefix query completion (the autocomplete surface): top-5
    // vocab terms per 2-char prefix by (corpus freq DESC, term) — all
    // integer, the per-prefix cut is the WindowGroupLimit shape
    "q_complete" -> ((s, dir) =>
      graft.text.Vocab.complete(t(s, dir, "documents"), "text",
        Seq("sp", "fi", "jo", "ta"), k = 5)),
    // --- per-doc top-5 keyword extraction: all-integer rank key
    // (tf DESC, df ASC, term) after the stopword/length mask — the
    // exact-ordering sibling of the float-scored TF-IDF family
    "q_keywords" -> ((s, dir) => {
      graft.index.Keywords.topK(t(s, dir, "documents"), "doc_id", "text", k = 5)
        .select(col("doc").as("doc_id"), col("rank"), col("term"),
          col("tf"), col("df"))
    }),
    // --- CCNet-analog unigram-LM quality score: per-doc avg -ln p(term)
    // under the corpus's own unigram model (the perplexity-filter shape)
    "q_lm_score" -> ((s, dir) => {
      graft.text.Vocab.lmScore(t(s, dir, "documents"), "doc_id", "text")
        .select(col("doc").as("doc_id"), col("n_tokens"), col("nll"))
    }),
    // --- C4-style line-level page cleaning (Raffel et al. 2020 §2.2).
    // The corpus is single-line word soup, so the harness synthesizes a
    // branch-covering page per doc IDENTICALLY in both engines: kept
    // lines (terminal punct, ≥5 words), a short line, a no-terminal
    // line, a "javascript" line, plus page-level "lorem ipsum" (doc_id
    // %17) and "{" (doc_id%19) poison suffixes.
    "q_c4_clean" -> ((s, dir) => {
      val base = t(s, dir, "documents")
        .select(col("doc_id"), split(col("text"), " ").as("tk"))
      val page = concat_ws("\n",
        concat(concat_ws(" ", slice(col("tk"), 1, 12)), lit(".")),
        lit("too short."),
        concat_ws(" ", slice(col("tk"), 13, 8)),
        lit("you must enable javascript to continue."),
        concat(concat_ws(" ", slice(col("tk"), 21, 12)), lit("?")),
        concat(concat_ws(" ", slice(col("tk"), 33, 12)), lit("!")))
      val decorated = concat(page,
        when(col("doc_id") % 17 === 0, lit("\nlorem ipsum dolor sit amet."))
          .otherwise(lit("")),
        when(col("doc_id") % 19 === 0, lit("\nfunction() { return 0; }"))
          .otherwise(lit("")))
      graft.text.C4Clean.clean(s,
          base.select(col("doc_id"), decorated.as("text")), "doc_id", "text")
        .select(col("doc_id").cast("long").as("doc_id"), col("page_keep"),
          col("n_kept"), col("n_dropped"), col("cleaned"))
    }),
    // --- DSIR importance resampling (Xie et al. 2023): target = every
    // 7th doc, raw = whole corpus, 4096 hashed uni+bigram buckets; fit →
    // score → deterministic Gumbel top-100. The oracle replays the entire
    // pipeline (hashing, smoothing, rounding contract, Gumbel band) in
    // DuckDB HUGEINT + double arithmetic.
    "q_dsir" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val target = docs.filter(col("doc_id") % 7 === 0)
      val model = graft.text.Dsir.fit(target, docs, "text", buckets = 4096)
      val scored = graft.text.Dsir.score(docs, "doc_id", "text", model,
        buckets = 4096)
      graft.text.Dsir.resample(scored, k = 100)
        .select(col("doc").cast("long").as("doc_id"), col("n_grams"),
          col("logweight"), col("key"))
    }),
    // --- record-linkage fuzzy dedup: blocking + Levenshtein over a
    // synthesized title column (7 prefix blocks × mod-60 numbering ×
    // suffix typo classes — edit distances 0/1/2/3 all occur). Integer
    // metric: no float contract.
    "q_fuzzy_dedup" -> ((s, dir) => {
      val titled = t(s, dir, "documents").select(col("doc_id"),
        concat(lit("report-"), (col("doc_id") % 7).cast("string"),
          lit(" part "), lpad((col("doc_id") % 60).cast("string"), 2, "0"),
          when(col("doc_id") % 5 === 1, lit("!"))
            .when(col("doc_id") % 5 === 2, lit("?!"))
            .otherwise(lit(""))).as("title"))
      graft.dedup.FuzzyDedup.annotate(titled, "doc_id", "title")
        .select(col("id").as("doc_id"), col("s").as("title"),
          col("is_fuzzy_dup"), col("dup_of"))
    }),
    // --- crawl-graph centrality: integer PageRank over a deterministic
    // quadratic pseudo-graph (outdeg 3, varied indeg via quadratic
    // residues). 8 iterations; every rank unit is BIGINT-exact, so the
    // gate needs no float rounding contract at all.
    "q_pagerank" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"))
      val n = docs.count() // bounded driver scalar (the IVF-centroid pattern)
      val edges = quadEdges(docs, n).select("src", "dst")
      graft.graph.PageRank.run(edges, docs.select(col("doc_id").as("id")),
          iters = 8)
        .select(col("id").as("doc_id"), col("rank"))
    }),
    // --- TrustRank (seed-teleport PageRank, the published link-spam
    // damper) over the quad+ring graph: trusted seeds doc_id % 17 == 3,
    // 4 iterations — the ring mostly holds no seed, so its members score
    // only what quad in-links carry in (reachability-from-trust visible
    // in the gate rows). Integer end-to-end like q_pagerank.
    "q_trustrank" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"))
      val n = docs.count() // bounded driver scalar (the IVF-centroid pattern)
      graft.graph.TrustRank.run(quadRingEdges(docs, n),
          docs.select(col("doc_id").as("id")),
          docs.where(col("doc_id") % 17 === 3).select(col("doc_id").as("id")),
          iters = 4)
        .select(col("id").as("doc_id"), col("rank"))
    }),
    // --- HITS hubs/authorities over the same quadratic pseudo-graph:
    // UNNORMALIZED integer power rounds (normalization is a per-round
    // global scalar — rankings identical without it), bit-exact on any
    // engine/partitioning; 2 keyed aggregate shuffles per round
    "q_hits" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"))
      val n = docs.count() // bounded driver scalar (the IVF-centroid pattern)
      val edges = quadEdges(docs, n).select("src", "dst")
      graft.graph.Hits.run(edges, docs.select(col("doc_id").as("id")),
          iters = 3)
        .select(col("id").as("doc_id"), col("auth"), col("hub"))
    }),
    // --- degree-oriented triangle counting over the same quadratic
    // pseudo-graph as q_pagerank (undirected-ized): per-vertex triangle
    // participation — every join an integer-key equi-shuffle, each
    // triangle counted once via the (degree, id) DAG orientation
    "q_triangles" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"))
      val n = docs.count() // bounded driver scalar (the IVF-centroid pattern)
      val edges = quadEdges(docs, n).select("src", "dst")
      graft.graph.Triangles.perVertex(edges, "src", "dst")
        .select(col("v").as("doc_id"), col("n_triangles"))
    }),
    // --- k-core decomposition (Seidman 1983) over the quadratic
    // pseudo-graph PLUS a planted 50-node hub ring (each doc_id < 50 links
    // to (doc_id+d) mod 50, d ∈ 1..3): at k=5 the quasi-random bulk
    // cascades away over ~20 synchronized peel rounds while the ring core
    // survives — both the long cascade and the nontrivial fixpoint are
    // exercised. Integer end-to-end; the oracle unrolls 40 synchronized
    // rounds (fixpoint + slack — k-core is confluent, extra rounds no-op).
    "q_kcore" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"))
      val n = docs.count() // bounded driver scalar (the IVF-centroid pattern)
      graft.graph.KCore.run(quadRingEdges(docs, n), k = 5)
        .select(col("id").as("doc_id"), col("core_deg"))
    }),
    // --- HyperBall neighborhood function (Boldi–Vigna) over the same
    // quad+ring pseudo-graph: per-vertex radius-2 out-ball HLL summary,
    // with the EXACT ball size riding in the row (the q_hll accuracy
    // convention — quad balls vary quasi-randomly, ring balls are the
    // analytic 7). Registers are integers and max-merge is order-free, so
    // the whole trajectory replays hash-exact in SQL with no float clause.
    "q_hyperball" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"))
      val n = docs.count() // bounded driver scalar (the IVF-centroid pattern)
      val edges = quadRingEdges(docs, n)
      val summ = graft.graph.HyperBall.run(edges, 2)
        .select(col("v").cast("long").as("v"), col("present"),
          col("s_scaled"), col("est_milli"))
      val verts = edges.select(col("src").as("v"))
        .union(edges.select(col("dst").as("v"))).distinct()
      val b1 = verts.select(col("v").as("root"), col("v").as("u"))
        .union(edges.select(col("src").as("root"), col("dst").as("u")))
        .distinct()
      val eA = edges.select(col("src").as("es"), col("dst").as("ed"))
      val b2 = b1
        .union(b1.join(eA, col("u") === col("es"))
          .select(col("root"), col("ed").as("u")))
        .distinct()
      val exact = b2.groupBy("root").agg(count(lit(1)).as("exact_ball"))
      summ.join(exact, col("v") === col("root"))
        .select(col("v"), col("present"), col("s_scaled"), col("est_milli"),
          col("exact_ball"))
    }),
    // --- anchor-text aggregation over the same quadratic pseudo-graph as
    // q_pagerank, anchors varying per edge ((src+j) % 13): per target, the
    // top-3 anchors by in-link count with EXACT pre-cap totals — string +
    // integer output only.
    "q_anchors" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"))
      val n = docs.count() // bounded driver scalar (the IVF-centroid pattern)
      val edges = quadEdges(docs, n)
        .select(col("src"), col("dst"),
          concat(lit("anchor-"),
            ((col("src") + col("j")) % 13).cast("string")).as("anchor"))
      graft.graph.AnchorText.aggregate(edges, cap = 3)
        .select(col("dst").as("doc_id"), col("n_links"), col("n_anchors"),
          col("kept"))
    }),
    // --- label-propagation communities (Raghavan et al. 2007, synchronous
    // deterministic form) over the same quadratic pseudo-graph as
    // q_pagerank: 4 majority rounds, integer end-to-end — the oracle
    // replays every vote count, argmax and tie-break CTE-for-CTE.
    "q_labelprop" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"))
      val n = docs.count() // bounded driver scalar (the IVF-centroid pattern)
      val edges = quadEdges(docs, n).select("src", "dst")
      graft.graph.LabelProp.run(edges, docs.select(col("doc_id").as("id")),
          iters = 4)
        .select(col("id").as("doc_id"), col("label"))
    }),
    // --- distributed BPE tokenizer training (Sennrich et al. 2016): 4
    // merge rounds over the corpus word-frequency table. The DuckDB oracle
    // unrolls the same 4 rounds, each a recursive-CTE fixpoint of the
    // greedy pair replace — so every pair count, every argmax tie-break
    // and every merge application is hash-checked. q_bpe = the final
    // symbolized vocabulary; q_bpe_merges = the learned merge ledger.
    "q_bpe" -> ((s, dir) => {
      graft.text.Bpe.learn(s,
        graft.text.Bpe.wordFreqs(t(s, dir, "documents"), "text"), nMerges = 4)._2
    }),
    "q_bpe_merges" -> ((s, dir) => {
      graft.text.Bpe.learn(s,
        graft.text.Bpe.wordFreqs(t(s, dir, "documents"), "text"), nMerges = 4)._1
    }),
    // --- BPE ENCODE (the tokenizer's inference half): learn 4 merges,
    // then tokenize the corpus under them — per-doc BPE token counts, the
    // accounting a pretraining pipeline actually bills by. The merge loop
    // runs once per DISTINCT word; the oracle joins its own s4 vocabulary
    // (identical merges, hash-checked by q_bpe) back onto the per-doc
    // word stream.
    "q_bpe_encode" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val merges = graft.text.Bpe.learn(s,
        graft.text.Bpe.wordFreqs(docs, "text"), nMerges = 4)._1
        .collect().sortBy(_.getInt(0))
        .map { r => val Array(a, b) = r.getString(1).split(" ", 2); (a, b) }.toSeq
      graft.text.Bpe.encode(s, docs, "doc_id", "text", merges)
        .select(col("doc").as("doc_id"), col("n_tokens"), col("n_words"))
    }),
    // --- A6 embedding-dim inference
    "q_emb_dim" -> ((s, dir) => {
      t(s, dir, "embeddings")
        .agg(max(size(col("embedding"))).cast("long").as("dim"),
          count(lit(1)).as("n_vecs"))
    }),
    // --- R4/R2 the PRODUCTION retrieval path: build two overlapping index
    // segments from the corpus, compact them, then score via IndexJob.search
    // over the committed segment files — exercising segment union, the
    // (term,doc) max-tf overlap dedup, df/N/avgdl recompute, and top-k. The
    // k cutoff is set past every matching doc, so the result is the full
    // score relation (boundary-insensitive) and the DuckDB oracle is plain
    // BM25 over the corpus. Reference query side: rag_py.py:266-291.
    "q_index_search" -> ((s, dir) => {
      // build-once-then-search (memoized per sf dir): production queries
      // hit a MATERIALIZED index — rebuilding segments per query would
      // time index construction, not retrieval. Builder shared with
      // q_index_maxscore (sharedIndexRoot).
      graft.jobs.IndexJob.search(s, sharedIndexRoot(s, dir),
        "spark filter join table", k = 1 << 20)
    }),
    // --- MaxScore pruning over the MATERIALIZED index (same memoized
    // two-segment compacted root as q_index_search): θ seed + df-only
    // bound + survivor rescore read nothing but committed posting rows;
    // the oracle is corpus-side full BM25 + the rounded top-10 cut
    // (VARCHAR doc order), so both the index content AND the pruning's
    // losslessness are gated in one statement.
    "q_index_maxscore" -> ((s, dir) =>
      graft.jobs.IndexJob.topkSearch(s, sharedIndexRoot(s, dir),
        "spark filter join table", k = 10)),
    // --- Block-Max WAND over the MATERIALIZED COMPRESSED index (same
    // memoized root): θ from the highest-max_tf blocks, metadata-only
    // per-block bounds, tf bytes decoded ONLY for seed/survivor blocks —
    // the q_varint storage layout and the q_bmw pruning meeting in the
    // committed index. Oracle = corpus-side full BM25 + the rounded
    // top-15 cut (VARCHAR doc order), so index content, codec round-trip
    // AND pruning losslessness are gated in one statement. Boundary
    // audited: ranks 15/16 distinct 4-dp at sf0.001 (1.5898/1.5848) and
    // sf0.01 (1.4910/1.4887).
    "q_index_bmw" -> ((s, dir) =>
      graft.jobs.IndexJob.blockMaxTopk(s, sharedIndexRoot(s, dir),
        "spark filter join table", k = 15)),
    // --- doc-level TOMBSTONE upsert over the materialized index (the
    // reference's per-id upsert, chroma_store.py:33-61): segment 1 holds
    // the whole corpus; every 10th doc is then tombstoned and RE-APPENDED
    // under the SAME id with rewritten text that adds a query term ('spark'
    // — so any stale posting row provably shifts tf/df/scores). Search must
    // equal BM25 over the post-upsert corpus: the tv>sv version comparison
    // kills exactly the superseded rows while the re-appended ones survive.
    "q_index_upsert" -> ((s, dir) => {
      val root = memo("upsidx", dir) { r =>
        val docs = t(s, dir, "documents")
          .select(col("doc_id").cast("string").as("id"), col("text"),
            lit(false).as("is_duplicate"))
        graft.jobs.IndexJob.build(s, docs, r)
        val changed = docs.filter(col("id").cast("long") % 10 === 0)
        graft.jobs.IndexJob.tombstone(s, r, changed.select(col("id").as("doc")))
        graft.jobs.IndexJob.build(s,
          changed.withColumn("text", concat(col("text"), lit(" spark upsert gain"))), r)
      }
      graft.jobs.IndexJob.search(s, root, "spark filter join table", k = 1 << 20)
    }),
    // --- exact-phrase retrieval over the MATERIALIZED POSITIONAL index:
    // q_phrase's planted-occurrence harness PLUS an upsert wave (every
    // 10th doc tombstoned and re-appended with one extra occurrence),
    // spread over 2 positional segments — phraseSearch must resolve the
    // slot-fill entirely from committed (term, doc, pos) rows, honoring
    // tombstones, and equal the corpus-scan arithmetic over the
    // post-upsert corpus (the oracle). All integer.
    "q_index_phrase" -> ((s, dir) => {
      val root = memo("pidx", dir) { r =>
        val id = col("doc_id")
        val harness = t(s, dir, "documents").select(id.cast("string").as("id"),
          concat(col("text"),
            when(id % 9 === 4, lit(" machine learning pipeline scales well"))
              .otherwise(lit("")),
            when(id % 27 === 13,
              lit(" machine learning pipeline again machine learning pipeline"))
              .otherwise(lit(""))).as("text"),
          lit(false).as("is_duplicate"))
        graft.jobs.IndexJob.build(s,
          harness.filter(col("id").cast("long") % 2 === 0), r, positions = true)
        graft.jobs.IndexJob.build(s,
          harness.filter(col("id").cast("long") % 2 === 1), r, positions = true)
        val changed = harness.filter(col("id").cast("long") % 10 === 0)
          .withColumn("text",
            concat(col("text"), lit(" machine learning pipeline upsert")))
        graft.jobs.IndexJob.tombstone(s, r, changed.select(col("id").as("doc")))
        graft.jobs.IndexJob.build(s, changed, r, positions = true)
      }
      graft.jobs.IndexJob.phraseSearch(s, root, "Machine, LEARNING pipeline!")
        .select(col("doc").cast("long").as("doc_id"), col("n_matches"))
    }),
    // --- R1×R2 facet-filtered retrieval over the MATERIALIZED index (the
    // reference's where=-filtered collection query, question_rag.py:130-194):
    // facets committed beside doclen at build time; search semi-joins the
    // facet table before scoring, stats over the filtered set — identical to
    // BM25 over the filtered corpus (the oracle), but touching only index
    // tables. Two segments + compact exercise the facet-table merge.
    "q_facet_index" -> ((s, dir) => {
      val root = memo("fidx", dir) { r =>
        val docs = t(s, dir, "documents")
          .select(col("doc_id").cast("string").as("id"), col("text"),
            lit(false).as("is_duplicate"), col("lang"), col("source"))
        graft.jobs.IndexJob.build(s, docs.filter(col("id").cast("long") % 2 === 0), r,
          facetCols = Seq("lang", "source"))
        graft.jobs.IndexJob.build(s, docs.filter(col("id").cast("long") % 2 === 1), r,
          facetCols = Seq("lang", "source"))
        graft.jobs.IndexJob.compact(s, r)
      }
      graft.jobs.IndexJob.search(s, root, "spark filter join table", k = 1 << 20,
        facetWhere = Some("lang = 'en'"))
    }),
    // --- §3.1 the COMPOSED pipeline, end-to-end with a real oracle:
    // render gate-passing docs (plus a planted exact copy and a planted
    // near-dup mutant per doc) as HTML pages → ExtractJob (extract + chunk
    // into a lake) → DedupJob (exact keep-first, MinHash + components
    // keep-root) → IndexJob (one-segment build) → BM25 search over the
    // committed segments. Fresh pipeline root per invocation — this query
    // times the PIPELINE, not a memoized read. The oracle composes the
    // already-proven CTEs: extract roundtrip gate → single-chunk closed
    // form → exact/near dedup → BM25.
    "q_pipeline_e2e" -> ((s, dir) => {
      val root = scratchDir("graft-pipe-")
      // materialize the rendered pages ONCE per invocation: ExtractJob
      // scans its input twice (metadata fingerprint pass + the salted
      // extraction pass) and this harness's input is a flatMap that
      // re-renders ~3·|docs| HTML articles per scan — opaque to column
      // pruning, so even the metadata pass paid the full render. In
      // production pages is a STORED table (the scan-twice cost is one
      // pruned parquet read); the checkpoint restores that shape here.
      val r = graft.jobs.PipelineJob.run(s, pipelinePages(s, dir).localCheckpoint(),
        root, nBuckets = 8, jaccardThreshold = 0.6)
      detachAndClean(
        graft.jobs.IndexJob.search(s, r.indexRoot, "spark filter join table", k = 1 << 20),
        root)
    }),
    // --- multimodal gate: planted deterministic binary PPM (P6) bytes per
    // doc — header comment included on odd ids to exercise the parser —
    // decoded by the REAL from-scratch Netpbm decoder (dispatch + comments
    // + BT.601 integer luma), summed. The pixel formula is plain modular
    // arithmetic, so the DuckDB oracle recomputes the luma sum exactly —
    // no fixture pinning.
    "q_mm_luma" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "documents").select(col("doc_id")).as[Long]
        .mapPartitions(_.map { id =>
          val w = 4 + (id % 13).toInt; val h = 3 + (id % 7).toInt
          val rgb = new Array[Byte](w * h * 3)
          var p = 0
          while (p < w * h) {
            rgb(p * 3) = ((id * 31 + p * 7) % 256).toByte
            rgb(p * 3 + 1) = ((id * 17 + p * 11) % 256).toByte
            rgb(p * 3 + 2) = ((id * 13 + p * 5) % 256).toByte
            p += 1
          }
          val bytes =
            if (id % 2 == 1)
              s"P6\n# planted comment\n$w $h\n255\n".getBytes("US-ASCII") ++ rgb
            else graft.mm.Multimodal.ppm(w, h, rgb)
          graft.mm.Multimodal.decodeImage(bytes) match {
            case Right((dw, dh, px)) => (id, dw, dh, px.foldLeft(0L)(_ + _))
            case Left(err) => (id, -1, -1, -1L)
          }
        }).toDF("doc_id", "w", "h", "luma_sum")
    }),
    // --- perceptual image near-dup gate: planted grayscale PPM images —
    // doc families of 4: member 0 the base image (md5-derived independent
    // 8×8 cell polarity at luma 200/40 ± modular noise — the established
    // oracle-replicable hash, so cross-family Hamming ~ Binomial(64, ½)
    // and only planted pairs land within 3), member 1 a NEAR-DUP (cell 0
    // forced across the mean → exactly one aHash bit flips), members 2–3
    // their own patterns (pf = 1000000 + id). Real Netpbm decode →
    // integer aHash (cross-multiplied mean compare) → the SimHash
    // pigeonhole tables (exact for dist ≤ 3). The oracle replays the
    // pixel → cell-bit arithmetic and takes ALL pairs with Hamming ≤ 3 —
    // banding is provably complete at dist ≤ 3 and md5-diverse buckets
    // stay far below the cap, so band-vs-exhaustive cannot differ.
    "q_phash" -> ((s, dir) => {
      import s.implicits._
      val media = t(s, dir, "documents").select(col("doc_id")).as[Long]
        .mapPartitions(_.map { id =>
          val fam = id / 4; val m = id % 4
          val pf = if (m <= 1) fam else 1000000L + id
          val w = 8 + (fam % 9).toInt; val h = 8 + (fam % 5).toInt
          def high(c: Int): Boolean = (graft.Hashing.md5Long(s"$pf:$c") & 1L) == 1L
          val rgb = new Array[Byte](w * h * 3)
          var p = 0
          while (p < w * h) {
            val c = ((p / w) * 8 / h) * 8 + ((p % w) * 8 / w)
            val base =
              if (m == 1 && c == 0) { if (high(0)) 60 else 180 }
              else if (high(c)) 200 else 40
            val v = (base + ((pf * 7 + p) % 21).toInt - 10).toByte
            rgb(p * 3) = v; rgb(p * 3 + 1) = v; rgb(p * 3 + 2) = v
            p += 1
          }
          graft.mm.Multimodal.MediaRow(id, "image",
            graft.mm.Multimodal.ppm(w, h, rgb), w, h, "ppm")
        })
      graft.mm.ImageHash.imageNearDup(media, maxDist = 3)(s)
    }),
    // --- multimodal AUDIO gate: planted deterministic PCM-16 WAV bytes per
    // doc (odd ids carry a junk LIST chunk to exercise the RIFF chunk
    // walk), decoded by the REAL from-scratch RIFF/WAV parser. Sample
    // values are modular arithmetic over (doc_id, index), so the DuckDB
    // oracle recomputes mean absolute amplitude exactly — no fixtures.
    "q_mm_audio" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "documents").select(col("doc_id")).as[Long]
        .mapPartitions(_.map { id =>
          val ch = 1 + (id % 2).toInt
          val frames = 100 + (id % 50).toInt
          val rate = 8000 * (1 + (id % 3).toInt)
          val n = frames * ch
          val samples = new Array[Short](n)
          var i = 0
          while (i < n) { samples(i) = (((id * 31 + i * 17) % 65536) - 32768).toShort; i += 1 }
          val bytes = graft.mm.Multimodal.wav(rate, ch, samples, junkChunk = id % 2 == 1)
          graft.mm.Multimodal.decodeWav(bytes) match {
            case Right((r, c, smp)) =>
              var sum = 0L; var j = 0
              while (j < smp.length) { sum += math.abs(smp(j)); j += 1 }
              (id, r.toLong, c.toLong, smp.length.toLong / c, sum.toDouble / smp.length)
            case Left(_) => (id, -1L, -1L, -1L, -1.0)
          }
        }).toDF("doc_id", "sample_rate", "channels", "n_frames", "mean_abs")
        .withColumn("mean_abs", round(col("mean_abs"), 4))
    }),
    // --- multimodal VIDEO gate: planted deterministic AVI containers per
    // doc (RIFF 'AVI ', hdrl/avih header, movi list of 8-bit grayscale
    // frames), decoded by the REAL from-scratch AVI parser, every 2nd
    // frame sampled. Pixels are modular arithmetic over (doc_id, frame,
    // pixel), so the DuckDB oracle recomputes each sampled frame's mean
    // luma and timestamp exactly — no fixtures, no stub.
    "q_mm_frames" -> ((s, dir) => {
      import s.implicits._
      val media = t(s, dir, "documents").select(col("doc_id")).as[Long]
        .mapPartitions(_.map { id =>
          val w = 2 + (id % 5).toInt; val h = 2 + (id % 3).toInt
          val nf = 3 + (id % 4).toInt
          val frames = (0 until nf).map { f =>
            Array.tabulate[Byte](w * h)(p => ((id * 7 + f * 13 + p * 3) % 256).toByte)
          }
          graft.mm.Multimodal.MediaRow(id, "video",
            graft.mm.Multimodal.avi(w, h, 40000L, frames), w, h, "avi")
        })
      graft.mm.Multimodal.sampleFrames(media, strideFrames = 2)(s)
        .select(col("media_id").as("doc_id"),
          col("frame_idx").cast("long").as("frame_idx"),
          col("ts_ms"), round(col("mean_luma"), 4).as("mean_luma"))
    }),
    // --- WARC source gate: documents are packed into 8 deterministic
    // WARC/1.0 containers (odd buckets member-gzipped — the Common-Crawl
    // layout), then parsed back by the REAL from-scratch WARC reader
    // (graft.warc.Warc). WarcGen's record layout is fixed, so every record
    // offset is a closed form (cumsum of FixedOverhead + len(url) +
    // len(digits(n)) + n) the DuckDB oracle replays arithmetically — the
    // container ingest analog of the byte-identity contract.
    "q_warc" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "documents").select(col("doc_id"), col("text")).as[(Long, String)]
        .groupByKey { case (id, _) => id % 8 }
        .flatMapGroups { (b, it) =>
          val recs = it.toArray.sortBy(_._1)
          val bytes = recs.map { case (id, tx) =>
            graft.corpus.WarcGen.record(s"doc://$id", tx.getBytes("UTF-8")) }
          val name = s"w$b.warc" + (if (b % 2 == 1) ".gz" else "")
          val file =
            if (b % 2 == 1) graft.corpus.WarcGen.gzFile(bytes.toSeq)
            else graft.corpus.WarcGen.file(bytes.toSeq)
          // the STREAMING parser (tiny chunks force window refills) — the
          // gate pins the O(record)-memory path; parseFile parity is spec'd
          graft.warc.Warc.parseStream(name,
              new java.io.ByteArrayInputStream(file), chunkSize = 512)
            .map(r =>
              (r.warc_file, r.rec_idx, r.offset, r.url, r.content_length,
                new String(r.payload, "UTF-8")))
        }
        .toDF("warc_file", "rec_idx", "offset", "url", "content_length", "body")
    }),
    // --- robots.txt compliance gate: deterministic per-domain robots.txt
    // TEXT (23 url domains, robots present for the first 20 — the last 3
    // exercise the no-robots ⇒ allowed path) parsed by the REAL RFC 9309
    // parser, longest-match + allow-wins-ties verdicts per url. The DuckDB
    // oracle replays the precedence MECHANICALLY: a VALUES rule relation,
    // prefix-match join, and a (length DESC, allow DESC) rank-1 window —
    // not a hand-derived truth table. Path classes cover: longer-allow
    // override (/private/ok beats /private), plain disallow (/tmp),
    // equal-length tie (/dup, allow wins, only on domains %5=0), and the
    // catch-all Allow: /.
    "q_robots" -> ((s, dir) => {
      import s.implicits._
      val id = col("doc_id")
      val urls = t(s, dir, "documents").select(id, col("source")).select(id,
        concat(lit("https://host"), (id % 23).cast("string"), lit(".example"),
          when(id % 14 === 0, concat(lit("/private/ok"), id.cast("string")))
            .when(id % 7 === 0, concat(lit("/private/item"), id.cast("string")))
            .when((id % 13 === 0).and((id % 23) % 5 === 0),
              concat(lit("/dup/x"), id.cast("string")))
            .when(id % 11 === 0, concat(lit("/tmp/item"), id.cast("string")))
            .otherwise(concat(lit("/"), col("source"), lit("/item"), id.cast("string"))))
          .as("url"))
      val robots = s.range(20).map { d =>
        val base =
          s"""# robots for host$d
             |User-agent: otherbot
             |Disallow: /
             |
             |Sitemap: https://host$d.example/sitemap.xml
             |
             |User-agent: GraftBot
             |User-agent: crawler
             |Disallow: /private
             |Allow: /private/ok
             |Disallow: /tmp
             |Allow: /
             |""".stripMargin
        val dup = if (d % 5 == 0) "Disallow: /dup\nAllow: /dup\n" else ""
        val emptyDisallow = if (d % 3 == 0) "Disallow:\n" else ""
        (s"host$d.example", base + dup + emptyDisallow)
      }.toDF("domain", "robots_txt")
      graft.web.Robots.verdicts(urls, "doc_id", "url", robots, "graftbot")
        .select(col("id").cast("long").as("doc_id"), col("domain"),
          col("path"), col("allowed"), col("rule"))
    }),
    // --- streaming parity gate (driver-visible): the SAME seed-42 corpus as
    // q_pipeline, extracted+chunked through the Structured Streaming path
    // (parquet file source → extractStream → AvailableNow parquet sink with
    // a checkpoint), then compared chunk-id-for-chunk-id against the batch
    // path, and drained a SECOND time against the same checkpoint to prove
    // resume reprocesses nothing. The emitted relation is the parity
    // verdict itself, so the oracle is a priori.
    "q_stream_parity" -> ((s, dir) => {
      import s.implicits._
      implicit val sp: SparkSession = s
      val root = scratchDir("graft-stream-")
      // rendered once: the pages dataset is scanned by the write AND the
      // batch-parity branch below — regeneration is row-pure but not free
      val pages = s.range(400).repartition(8).map(i => PageGen.row(42L, i))
        .localCheckpoint()
      pages.write.parquet(s"$root/pages")
      def drain(): Unit = {
        val src = s.readStream.schema(pages.schema).parquet(s"$root/pages").as[PageRow]
        graft.streaming.StreamExtract.availableNowWriter(
          graft.streaming.StreamExtract.extractStream(src),
          s"$root/out", s"$root/ckpt").start().awaitTermination()
      }
      drain()
      val afterFirst = s.read.parquet(s"$root/out").count()
      drain() // same checkpoint: source offsets say nothing is new
      val sIds = s.read.parquet(s"$root/out").select(col("id"))
      // batch-side extraction materialized ONCE: three separate actions
      // below (bN, bD, the parity join) each re-ran the full extract+chunk
      // pipeline over the pages without it
      val bIds = pages
        .mapPartitions(_.map(p => Extract.extractOne(p.url, p.html)))
        .flatMap(d =>
          if (d.err.isEmpty && d.text.nonEmpty)
            Chunker.chunkDocument(d.url, Hashing.sha256Hex(d.text), d.text)
          else Nil)
        .toDF().select(col("id"))
        .localCheckpoint()
      val (sN, bN) = (sIds.count(), bIds.count())
      val (sD, bD) = (sIds.distinct().count(), bIds.distinct().count())
      val m = sIds.distinct().join(bIds.distinct(), Seq("id"), "inner").count()
      val verdict = Seq(
        ("stream_equals_batch", sN == bN && sD == bD && m == sD && sN > 0),
        ("resume_reprocessed_nothing", afterFirst == sN)
      ).toDF("check", "ok")
      // all counts above are already driver scalars: the scratch root can
      // go now (bench passes must not accumulate stream lakes in /dev/shm)
      deleteRecursively(root)
      verdict
    }),
    // --- streaming NEAR-dup (cross-batch keyed LSH-bucket state): the
    // planted-pair corpus streamed through nearDupVerdicts via a parquet
    // file source (single AvailableNow batch — <=32 files, far below the
    // source's per-batch file cap, so arrival order is the deterministic
    // url sort inside one batch). Oracle: candidates from the same band
    // buckets, signature-estimated jaccard (count of equal signature
    // slots / 128 — the documented streaming verification tradeoff)
    // >= 0.8, verdict = (later url, earlier url). Exact because at 0.8 the
    // est-similarity graph on this corpus is a perfect matching
    // {orig, mutant}: greedy first-arrival membership then reduces to
    // pair order, which IS the oracle's greatest/least.
    "q_stream_neardup" -> ((s, dir) => {
      import org.apache.spark.sql.streaming.Trigger
      val root = scratchDir("graft-sndup-")
      val docs = docsWithNearDups(s, dir)
        .select(col("doc_id").cast("string").as("url"), col("text"))
      docs.write.parquet(s"$root/docs")
      val src = {
        import s.implicits._
        s.readStream.schema(docs.schema).parquet(s"$root/docs").as[(String, String)]
      }
      implicit val sp: SparkSession = s
      withStreamStateParts(s) {
        graft.streaming.StreamExtract.nearDupVerdicts(src, threshold = 0.8)
          .toDF("url", "duplicate_of")
          .writeStream.format("parquet").option("path", s"$root/out")
          .option("checkpointLocation", s"$root/ckpt")
          .outputMode("append").trigger(Trigger.AvailableNow())
          .start().awaitTermination()
      }
      // one verdict per matching band per batch (at-least-once, documented):
      // consumers dedup by (url, keeper)
      detachAndClean(s.read.parquet(s"$root/out").distinct(), root)
    }),
    // --- streaming watermarked windowed aggregation, driver-gated: the
    // events table drained through eventCounts (5-min tumbling windows,
    // 10-min watermark, APPEND mode). Append emits a window only once the
    // watermark (max event time − 10 min, advanced by the trailing no-data
    // micro-batch) passes its END — so the oracle's HAVING clause IS the
    // watermark semantics: windows ending within the last 10 minutes of
    // event time are correctly withheld.
    "q_stream_events" -> ((s, dir) => {
      import org.apache.spark.sql.streaming.Trigger
      val root = scratchDir("graft-sevt-")
      // watermarks require TIMESTAMP (ltz); the table stores NTZ — under
      // the engine's pinned UTC session the cast is epoch-identity
      val ev = t(s, dir, "events")
        .select(col("ts").cast("timestamp").as("ts"), col("event_type"), col("value"))
      ev.write.parquet(s"$root/in")
      val src = s.readStream.schema(ev.schema).parquet(s"$root/in")
      withStreamStateParts(s) {
        graft.streaming.StreamExtract.eventCounts(src)
          .select(col("win_start").cast("long").as("win_start"),
            col("event_type"), col("cnt"), round(col("total"), 2).as("total"))
          .writeStream.format("parquet").option("path", s"$root/out")
          .option("checkpointLocation", s"$root/ckpt")
          .outputMode("append").trigger(Trigger.AvailableNow())
          .start().awaitTermination()
      }
      detachAndClean(s.read.parquet(s"$root/out"), root)
    }),
    // --- streaming gap sessionization: keyed fragment state sealed by the
    // event-time watermark (EventTimeTimeout); emitted sessions == batch
    // sessions with end + gap <= final watermark (the HAVING discipline)
    "q_stream_sessions" -> ((s, dir) => {
      import org.apache.spark.sql.streaming.Trigger
      import s.implicits._
      implicit val sp: SparkSession = s
      val root = scratchDir("graft-ssess-")
      val ev = t(s, dir, "events")
        .select(col("user_id"), col("ts").cast("timestamp").as("ts"), col("event_id"))
      ev.write.parquet(s"$root/in")
      val src = s.readStream.schema(ev.schema).parquet(s"$root/in")
        .as[(Long, java.sql.Timestamp, Long)]
      withStreamStateParts(s) {
        graft.streaming.StreamExtract
          .sessionsStream(src, 21600L * 1000000, "10 minutes")
          .toDF("user_id", "session_idx", "n_events", "start_us", "span_us")
          .writeStream.format("parquet").option("path", s"$root/out")
          .option("checkpointLocation", s"$root/ckpt")
          .outputMode("append").trigger(Trigger.AvailableNow())
          .start().awaitTermination()
      }
      detachAndClean(s.read.parquet(s"$root/out"), root)
    }),
    // --- stream-stream watermarked band join: purchases attributed to the
    // same user's views within a FORWARD 6 h band. Symmetric hash join,
    // state bounded by watermark + band on both sides. One AvailableNow
    // batch over the parquet sources (no late arrivals) => the emitted
    // pairs are exactly the batch forward band join, which is the oracle.
    "q_stream_join" -> ((s, dir) => {
      import org.apache.spark.sql.streaming.Trigger
      val root = scratchDir("graft-sjoin-")
      val ev = t(s, dir, "events")
        .select(col("user_id"), col("ts").cast("timestamp").as("ts"),
          col("event_id"), col("event_type"))
      ev.where(col("event_type") === "view").drop("event_type")
        .write.parquet(s"$root/in_v")
      ev.where(col("event_type") === "purchase").drop("event_type")
        .write.parquet(s"$root/in_p")
      val sch = ev.drop("event_type").schema
      val vs = s.readStream.schema(sch).parquet(s"$root/in_v")
      val ps = s.readStream.schema(sch).parquet(s"$root/in_p")
      withStreamStateParts(s) {
        graft.streaming.StreamExtract.bandJoinStream(vs, ps, 21600L)
          .writeStream.format("parquet").option("path", s"$root/out")
          .option("checkpointLocation", s"$root/ckpt")
          .outputMode("append").trigger(Trigger.AvailableNow())
          .start().awaitTermination()
      }
      detachAndClean(s.read.parquet(s"$root/out"), root)
    }),
    // --- full pipeline shape on generated pages (rows-only)
    "q_pipeline" -> ((s, dir) => {
      import s.implicits._
      implicit val sp: SparkSession = s
      val n = 400
      val pages = s.range(n).repartition(8).map(i => PageGen.row(42L, i))
      Extract.runSalted(pages, 8)
        .groupBy("kind", "method").count().orderBy("kind", "method")
    })
  )

  // -------------------------------------------------------------- oracleSql

  /** BM25 all-docs scores over an optionally filtered corpus. Stats (N,
    * avgdl, df) come from the filtered relation, mirroring Bm25.scores.
    * `idExpr` lets the same oracle serve the long-id corpus queries and the
    * string-id materialized-index query. */
  /** DuckDB replica of [[graft.text.Bpe.learn]]: k unrolled merge rounds.
    * Each round: adjacent-pair counts from the space-split symbol lists
    * (lateral unnest over positions), argmax with the same (cnt DESC, pair
    * ASC) tie-break, then a RECURSIVE-CTE FIXPOINT of the greedy pair
    * replace — `(^| )A B( |$)` global-replaced until unchanged equals the
    * canonical left-to-right non-overlapping merge scan (each regex pass
    * merges the leftmost disjoint occurrences; iteration reaches the same
    * fixpoint as the single greedy scan, and symbols are [a-z0-9]+ so the
    * pair string embeds into the pattern verbatim). `emit` selects either
    * the merge ledger or the final symbolized vocabulary. */
  private def bpeOracleSql(k: Int, emit: String): String = {
    val sb = new StringBuilder
    sb.append(
      """WITH RECURSIVE toks AS (SELECT
        |    unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
        |      x -> len(x) > 0)) AS word FROM documents),
        | w AS (SELECT word, count(*)::BIGINT AS freq FROM toks GROUP BY 1),
        | s0 AS (SELECT word, trim(regexp_replace(word, '(.)', '\1 ', 'g')) AS s, freq FROM w)""".stripMargin)
    for (i <- 1 to k) {
      val prev = s"s${i - 1}"
      sb.append(s""",
        | p$i AS (SELECT list_element(l, j) || ' ' || list_element(l, j + 1) AS pair, sum(freq)::BIGINT AS cnt
        |   FROM (SELECT string_split(s, ' ') AS l, freq FROM $prev) t,
        |        unnest(range(1, len(t.l))) AS u(j)
        |   GROUP BY 1),
        | b$i AS (SELECT pair, cnt FROM p$i ORDER BY cnt DESC, pair LIMIT 1),
        | f$i AS (
        |   SELECT word, s, freq FROM $prev
        |   UNION ALL
        |   SELECT word, ns AS s, freq FROM (
        |     SELECT word, regexp_replace(s, '(^| )' || (SELECT pair FROM b$i) || '( |${"$"})',
        |       '\\1' || replace((SELECT pair FROM b$i), ' ', '') || '\\2', 'g') AS ns, s, freq
        |     FROM f$i) WHERE ns <> s),
        | s$i AS (SELECT word, s, freq FROM f$i
        |   WHERE regexp_replace(s, '(^| )' || (SELECT pair FROM b$i) || '( |${"$"})',
        |     '\\1' || replace((SELECT pair FROM b$i), ' ', '') || '\\2', 'g') = s)""".stripMargin)
    }
    sb.append("\n").append(emit)
    sb.toString
  }

  /** Unrolled integer-PageRank oracle over the deterministic quadratic
    * pseudo-graph (src → (src² + j) mod n, j ∈ 1..3, self-loops bumped to
    * the next node). Everything is BIGINT — no float contract at all:
    * integer sums are order-independent, so the gate is hash-exact by
    * construction. `//` is DuckDB's integer division (floors; all
    * operands positive, so it equals Spark's `div`). */
  /** DuckDB replica of [[graft.text.TextRank.summarize]]: frozen sentence
    * split (slot indices preserved through empty segments), distinct
    * sentence tokens, one multi-edge per shared term per ordered pair,
    * then the pageRank unroll on packed doc·4096+idx ids — all BIGINT,
    * hash-exact; the top-k window orders (rank DESC, id) == (rank DESC,
    * idx) within a doc. */
  private def textRankOracleSql(iters: Int, topK: Int): String = {
    val sb = new StringBuilder
    sb.append(
      """WITH sp0 AS (SELECT doc_id AS doc, regexp_split_to_array(text, ' ') AS a0 FROM documents),
        | words AS (SELECT doc, u.j - 1 AS q, a0[u.j] AS w
        |   FROM sp0, lateral unnest(range(1, len(a0) + 1)) AS u(j)),
        | harness AS (SELECT doc, string_agg(CASE WHEN q % 8 = 7 THEN w || '.' ELSE w END,
        |     ' ' ORDER BY q) AS text FROM words GROUP BY doc),
        | sp AS (SELECT doc, regexp_split_to_array(text, '[.!?]+') AS a FROM harness),
        | sents AS (SELECT doc, u.j - 1 AS idx, a[u.j] AS sent
        |   FROM sp, lateral unnest(range(1, len(a) + 1)) AS u(j)
        |   WHERE u.j - 1 < 256),
        | tok0 AS (SELECT doc, idx,
        |    unnest(list_filter(regexp_split_to_array(lower(sent), '[^a-z0-9]+'), x -> len(x) > 0)) AS term
        |   FROM sents),
        | toks AS (SELECT DISTINCT doc, idx, term FROM tok0),
        | nodes AS (SELECT DISTINCT doc * 4096 + idx AS id FROM toks),
        | edges AS (SELECT a.doc * 4096 + a.idx AS src, b.doc * 4096 + b.idx AS dst
        |   FROM toks a JOIN toks b
        |     ON a.doc = b.doc AND a.term = b.term AND a.idx != b.idx),
        | deg AS (SELECT src, count(*)::BIGINT AS outdeg FROM edges GROUP BY 1),
        | ed AS (SELECT e.src, e.dst, d.outdeg FROM edges e JOIN deg d ON e.src = d.src),
        | r0 AS (SELECT id, 1000000000000::BIGINT AS rank FROM nodes)""".stripMargin)
    for (i <- 1 to iters) {
      sb.append(s""",
        | c$i AS (SELECT ed.dst AS id, sum((r.rank * 17) // (20 * ed.outdeg)) AS inflow
        |   FROM ed JOIN r${i - 1} r ON ed.src = r.id GROUP BY 1),
        | r$i AS (SELECT n.id, 150000000000 + coalesce(c.inflow, 0) AS rank
        |   FROM nodes n LEFT JOIN c$i c ON c.id = n.id)""".stripMargin)
    }
    sb.append(s"""
      |SELECT id // 4096 AS doc_id, id % 4096 AS sent_idx, rank FROM (
      |  SELECT id, rank,
      |    row_number() OVER (PARTITION BY id // 4096 ORDER BY rank DESC, id) AS rn
      |  FROM r$iters)
      |WHERE rn <= $topK""".stripMargin)
    sb.toString
  }

  private def pageRankOracleSql(iters: Int): String = {
    val sb = new StringBuilder
    sb.append(
      """WITH n1 AS (SELECT count(*)::BIGINT AS cnt FROM documents),
        | nodes AS (SELECT doc_id AS id FROM documents),
        | e0 AS (SELECT doc_id AS src, ((doc_id * doc_id + j) % cnt) AS d0, cnt
        |   FROM documents, n1, unnest([1, 2, 3]) AS t(j)),
        | edges AS (SELECT src,
        |   CASE WHEN d0 = src THEN (d0 + 1) % cnt ELSE d0 END AS dst FROM e0),
        | deg AS (SELECT src, count(*)::BIGINT AS outdeg FROM edges GROUP BY 1),
        | ed AS (SELECT e.src, e.dst, d.outdeg FROM edges e JOIN deg d ON e.src = d.src),
        | r0 AS (SELECT id, 1000000000000::BIGINT AS rank FROM nodes)""".stripMargin)
    for (i <- 1 to iters) {
      sb.append(s""",
        | c$i AS (SELECT ed.dst AS id, sum((r.rank * 17) // (20 * ed.outdeg)) AS inflow
        |   FROM ed JOIN r${i - 1} r ON ed.src = r.id GROUP BY 1),
        | r$i AS (SELECT n.id, 150000000000 + coalesce(c.inflow, 0) AS rank
        |   FROM nodes n LEFT JOIN c$i c ON c.id = n.id)""".stripMargin)
    }
    sb.append(s"\nSELECT id AS doc_id, rank FROM r$iters")
    sb.toString
  }

  /** DuckDB replica of [[graft.graph.TrustRank.run]] over the quad+ring
    * harness: the pageRank unroll with the teleport top-up gated by the
    * seed flag (doc_id % 17 == 3) — all BIGINT, hash-exact. */
  private def trustRankOracleSql(iters: Int): String = {
    val sb = new StringBuilder
    sb.append(
      s"""WITH $quadRingCtesSql,
        | nodes AS (SELECT doc_id AS id,
        |   CASE WHEN doc_id % 17 = 3 THEN 1 ELSE 0 END AS s FROM documents),
        | deg AS (SELECT src, count(*)::BIGINT AS outdeg FROM dedges GROUP BY 1),
        | ed AS (SELECT e.src, e.dst, d.outdeg FROM dedges e JOIN deg d ON e.src = d.src),
        | r0 AS (SELECT id, (s * 1000000000000)::BIGINT AS rank FROM nodes)""".stripMargin)
    for (i <- 1 to iters) {
      sb.append(s""",
        | c$i AS (SELECT ed.dst AS id, sum((r.rank * 17) // (20 * ed.outdeg)) AS inflow
        |   FROM ed JOIN r${i - 1} r ON ed.src = r.id GROUP BY 1),
        | r$i AS (SELECT n.id, (n.s * 150000000000 + coalesce(c.inflow, 0))::BIGINT AS rank
        |   FROM nodes n LEFT JOIN c$i c ON c.id = n.id)""".stripMargin)
    }
    sb.append(s"\nSELECT id AS doc_id, rank FROM r$iters")
    sb.toString
  }

  /** DuckDB replica of [[graft.graph.Hits.run]]: the unnormalized integer
    * power rounds unrolled — a_i from h_{i-1} keyed on dst, h_i from a_i
    * keyed on src; all integer sums, hash-exact. */
  private def hitsOracleSql(iters: Int): String = {
    val sb = new StringBuilder
    sb.append(
      """WITH n1 AS (SELECT count(*)::BIGINT AS cnt FROM documents),
        | nodes AS (SELECT doc_id AS id FROM documents),
        | e0 AS (SELECT doc_id AS src, ((doc_id * doc_id + j) % cnt) AS d0, cnt
        |   FROM documents, n1, unnest([1, 2, 3]) AS t(j)),
        | edges AS (SELECT src,
        |   CASE WHEN d0 = src THEN (d0 + 1) % cnt ELSE d0 END AS dst FROM e0),
        | h0 AS (SELECT DISTINCT src AS id, 1::BIGINT AS s FROM edges)""".stripMargin)
    for (i <- 1 to iters) {
      sb.append(s""",
        | a$i AS (SELECT e.dst AS id, sum(h.s)::BIGINT AS s
        |   FROM edges e JOIN h${i - 1} h ON e.src = h.id GROUP BY 1),
        | h$i AS (SELECT e.src AS id, sum(a.s)::BIGINT AS s
        |   FROM edges e JOIN a$i a ON e.dst = a.id GROUP BY 1)""".stripMargin)
    }
    sb.append(s"""
      |SELECT n.id AS doc_id, coalesce(a.s, 0)::BIGINT AS auth,
      |  coalesce(h.s, 0)::BIGINT AS hub
      |FROM nodes n LEFT JOIN a$iters a ON a.id = n.id
      |LEFT JOIN h$iters h ON h.id = n.id""".stripMargin)
    sb.toString
  }

  /** DuckDB replica of [[graft.graph.LabelProp.run]]: the synchronous
    * majority rounds unrolled. Per round — vote counts over the
    * symmetrized edges keyed on the PREVIOUS round's labels, the per-node
    * max count, then min(label) among the max-count votes (exactly the
    * engine's `max(struct(c, -label))` argmax), isolated nodes kept by the
    * left-join coalesce. Integer end-to-end: hash-exact by construction,
    * no float contract. */
  private def labelPropOracleSql(iters: Int): String = {
    val sb = new StringBuilder
    sb.append(
      """WITH n1 AS (SELECT count(*)::BIGINT AS cnt FROM documents),
        | nodes AS (SELECT doc_id AS id FROM documents),
        | e0 AS (SELECT doc_id AS src, ((doc_id * doc_id + j) % cnt) AS d0, cnt
        |   FROM documents, n1, unnest([1, 2, 3]) AS t(j)),
        | ed AS (SELECT src,
        |   CASE WHEN d0 = src THEN (d0 + 1) % cnt ELSE d0 END AS dst FROM e0),
        | edges AS (SELECT src, dst FROM ed UNION ALL SELECT dst AS src, src AS dst FROM ed),
        | l0 AS (SELECT id, id AS label FROM nodes)""".stripMargin)
    for (i <- 1 to iters) {
      sb.append(s""",
        | v$i AS (SELECT e.dst AS id, l.label, count(*)::BIGINT AS c
        |   FROM edges e JOIN l${i - 1} l ON e.src = l.id GROUP BY 1, 2),
        | m$i AS (SELECT id, max(c) AS mc FROM v$i GROUP BY 1),
        | u$i AS (SELECT v.id, min(v.label) AS label
        |   FROM v$i v JOIN m$i m ON v.id = m.id AND v.c = m.mc GROUP BY 1),
        | l$i AS (SELECT p.id, coalesce(u.label, p.label) AS label
        |   FROM l${i - 1} p LEFT JOIN u$i u ON u.id = p.id)""".stripMargin)
    }
    sb.append(s"\nSELECT id AS doc_id, label FROM l$iters")
    sb.toString
  }

  /** SQL twin of [[quadRingEdges]] — the directed quad+ring CTE prefix
    * shared by the q_kcore and q_hyperball oracles (`nn` corpus count,
    * `dedges` directed edge union). */
  private val quadRingCtesSql =
    """nn AS (SELECT count(*)::BIGINT AS cnt FROM documents),
      | e0 AS (SELECT doc_id AS src, ((doc_id * doc_id + j) % cnt) AS d0, cnt
      |   FROM documents, nn, unnest([1, 2, 3]) AS t(j)),
      | eq AS (SELECT src,
      |   CASE WHEN d0 = src THEN (d0 + 1) % cnt ELSE d0 END AS dst FROM e0),
      | er AS (SELECT doc_id AS src, (doc_id + d) % 50 AS dst
      |   FROM documents, unnest([1, 2, 3]) AS t(d) WHERE doc_id < 50),
      | dedges AS (SELECT src, dst FROM eq UNION ALL SELECT src, dst FROM er)""".stripMargin

  /** DuckDB replica of [[graft.graph.KCore.run]] over the quad+ring
    * harness: simple-graph normalization, then `rounds` synchronized peel
    * rounds unrolled (degree among the previous survivor set, keep ≥ k).
    * k-core is confluent and `rounds` exceeds the measured fixpoint (~20
    * at this corpus; the 2× slack exists because cascade length is
    * data-dependent and a too-small unroll would diverge from the
    * converged operator SILENTLY — the CLAUDE.md one-dataset-away class;
    * post-fixpoint rounds are cheap no-ops over the surviving core), so
    * both engines land on the identical unique core. Integer end-to-end,
    * hash-exact. */
  private def kCoreOracleSql(k: Int, rounds: Int): String = {
    val sb = new StringBuilder
    sb.append(
      s"""WITH $quadRingCtesSql,
        | und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
        |   FROM dedges WHERE src <> dst),
        | edges AS MATERIALIZED (SELECT a AS src, b AS dst FROM und
        |   UNION ALL SELECT b AS src, a AS dst FROM und),
        | d0r AS (SELECT src AS v, count(*)::BIGINT AS c FROM edges GROUP BY 1),
        | a0 AS MATERIALIZED (SELECT v FROM d0r WHERE c >= $k)""".stripMargin)
    for (i <- 1 to rounds) {
      // MATERIALIZED is load-bearing: each round references the previous
      // survivor CTE twice, so default inlining recurses 2^rounds deep
      // (observed as a "Too many open files" parquet-handle explosion)
      sb.append(s""",
        | d$i AS (SELECT e.src AS v, count(*)::BIGINT AS c FROM edges e
        |   JOIN a${i - 1} s ON e.src = s.v JOIN a${i - 1} u ON e.dst = u.v
        |   GROUP BY 1),
        | a$i AS MATERIALIZED (SELECT v FROM d$i WHERE c >= $k)""".stripMargin)
    }
    sb.append(s"\nSELECT v AS doc_id, c AS core_deg FROM d$rounds WHERE c >= $k")
    sb.toString
  }

  /** Shared PRF mining CTEs (q_prf_terms / q_prf): ROUNDED-score BM25
    * ranking → top-10 feedback set → masked feedback vocabulary →
    * integer-ranked top-5 `mined` terms. */
  private def prfMinedCtes: String = {
    val stop = graft.index.Keywords.StopWords.map(w => s"'$w'").mkString(", ")
    s"""scored AS (${bm25OracleSql("")}),
       | ranked AS (SELECT doc, row_number() OVER (ORDER BY score DESC, doc) AS rank FROM scored),
       | fb AS (SELECT doc FROM ranked WHERE rank <= 10),
       | ftoks AS (SELECT f.doc, t AS term
       |   FROM fb f JOIN documents d ON d.doc_id = f.doc,
       |     unnest(list_filter(regexp_split_to_array(lower(d.text), '[^a-z0-9]+'), x -> len(x) > 0)) AS u(t)
       |   WHERE len(t) >= 4 AND t NOT IN ($stop)
       |     AND t NOT IN ('spark', 'filter', 'join', 'table')),
       | ftf AS (SELECT doc, term, count(*)::BIGINT AS tf FROM ftoks GROUP BY 1, 2),
       | mined AS (SELECT term, sum(tf)::BIGINT AS tf_sum, count(*)::BIGINT AS df_fb,
       |    row_number() OVER (ORDER BY sum(tf) DESC, count(*) DESC, term) AS rank
       |   FROM ftf GROUP BY term QUALIFY rank <= 5)""".stripMargin
  }

  private def bm25OracleSql(where: String, idExpr: String = "doc_id",
                            src: String = "documents",
                            query: Seq[String] = Seq("spark", "filter", "join", "table")): String =
    s"""WITH toks AS (
       |  SELECT $idExpr AS doc,
       |    unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> len(x) > 0)) AS term
       |  FROM $src $where),
       | tf AS (SELECT doc, term, count(*)::DOUBLE AS tf FROM toks GROUP BY 1,2),
       | dl AS (SELECT doc, count(*)::DOUBLE AS dl FROM toks GROUP BY 1),
       | stats AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
       | q(term) AS (SELECT unnest([${query.map(t => s"'$t'").mkString(",")}])),
       | df AS (SELECT term, count(DISTINCT doc)::DOUBLE AS df FROM tf JOIN q USING(term) GROUP BY 1)
       |SELECT doc, round(sum(
       |  ln(1.0 + (n - df + 0.5) / (df + 0.5))
       |  * (tf * (1.2 + 1.0)) / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))), 4) AS score
       |FROM tf JOIN q USING(term) JOIN df USING(term) JOIN dl USING(doc) CROSS JOIN stats
       |GROUP BY doc""".stripMargin

  /** DuckDB twin of the [[coriDocs]] harness + [[graft.index.Cori]]
    * statistics: the marker-derived corpus (d2), per-shard token counts
    * (ccw), shard count / mean (cstats), per-(shard, query-term) document
    * frequencies (cdf), and shard frequencies (ccf). All-integer inputs;
    * shared by q_cori and q_cori_search. */
  private val coriCtesSql: String =
    s"""d2 AS MATERIALIZED (SELECT doc_id, source, text || ' zz' || source AS text FROM documents),
       | ctoks AS (SELECT source AS shard, doc_id AS doc,
       |    unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> len(x) > 0)) AS term
       |   FROM d2),
       | ccw AS (SELECT shard, count(*)::BIGINT AS cw FROM ctoks GROUP BY 1),
       | cstats AS (SELECT count(*)::DOUBLE AS s, avg(cw::DOUBLE) AS avgcw FROM ccw),
       | cq(term) AS (SELECT unnest(['spark','filter','zzsrc7','zzsrc3'])),
       | cdf AS (SELECT shard, term, count(DISTINCT doc)::BIGINT AS df
       |   FROM ctoks JOIN cq USING(term) GROUP BY 1, 2),
       | ccf AS (SELECT term, count(*)::DOUBLE AS cf FROM cdf GROUP BY 1),
       | cgrid AS (SELECT c.shard, c.cw, cq.term FROM ccw c CROSS JOIN cq),
       | cp AS (SELECT g.shard, g.cw,
       |    0.4 + 0.6
       |      * (coalesce(d.df, 0)::DOUBLE / (coalesce(d.df, 0)::DOUBLE + 50.0 + 150.0 * g.cw::DOUBLE / s.avgcw))
       |      * (ln((s.s + 0.5) / greatest(coalesce(f.cf, 1.0), 1.0)) / ln(s.s + 1.0)) AS p
       |  FROM cgrid g LEFT JOIN cdf d ON d.shard = g.shard AND d.term = g.term
       |  LEFT JOIN ccf f ON f.term = g.term CROSS JOIN cstats s)""".stripMargin

  /** The CORI shard-score projection over [[coriCtesSql]] — the T·I mean
    * belief, quantized once at 6 dp (margin audited at both SFs). */
  private val coriSelectSql: String =
    """SELECT shard, any_value(cw) AS cw, round(sum(p) / 4.0, 6) AS score
      |FROM cp GROUP BY shard""".stripMargin

  /** DuckDB replica of [[graft.sim.Mmr.rerank]] — the greedy MMR loop
    * unrolled into k materialized-CTE rounds (MATERIALIZED is load-bearing:
    * DuckDB inlines plain CTEs, and the selN chain re-evaluates
    * exponentially without it). λ and 1−λ are embedded from the SAME
    * doubles the operator uses (Double.toString round-trips exactly;
    * 1−0.7 is 0.30000000000000004, not 0.3). */
  private def mmrOracleSql(k: Int, m: Int, lambda: Double): String = {
    val lam = lambda.toString
    val mu = (1.0 - lambda).toString
    val head =
      s"""WITH qv AS MATERIALIZED (SELECT embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id = 0),
         |rel AS (SELECT vec_id AS id, embedding::DOUBLE[] AS vec,
         |    list_dot_product(embedding::DOUBLE[], v)
         |    / greatest(sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) * sqrt(list_dot_product(v, v)), 1e-12) AS rel
         |  FROM embeddings, qv WHERE vec_id <> 0),
         |cand AS MATERIALIZED (SELECT id, vec, rel FROM rel ORDER BY rel DESC, id LIMIT $m),
         |sims AS MATERIALIZED (SELECT a.id AS ia, b.id AS ib,
         |    list_dot_product(a.vec, b.vec)
         |    / greatest(sqrt(list_dot_product(a.vec, a.vec)) * sqrt(list_dot_product(b.vec, b.vec)), 1e-12) AS s
         |  FROM cand a, cand b WHERE a.id <> b.id),
         |sel1 AS MATERIALIZED (SELECT id, 1 AS rnk FROM cand ORDER BY rel DESC, id LIMIT 1)""".stripMargin
    val rounds = (2 to k).map { i =>
      s"""pick$i AS (SELECT c.id, $i AS rnk FROM cand c
         |  WHERE c.id NOT IN (SELECT id FROM sel${i - 1})
         |  ORDER BY $lam * c.rel - $mu * (SELECT max(s.s) FROM sims s, sel${i - 1} t WHERE s.ib = t.id AND s.ia = c.id) DESC, c.id LIMIT 1),
         |sel$i AS MATERIALIZED (SELECT * FROM sel${i - 1} UNION ALL SELECT * FROM pick$i)""".stripMargin
    }
    (head +: rounds).mkString(",\n") + s"\nSELECT rnk, id FROM sel$k ORDER BY rnk"
  }

  /** DuckDB replica of [[Knn.annTopK]] — the seeded sign-projection planes
    * embedded as DOUBLE[] literals (Double.toString round-trips exactly), the
    * same MSB-first bucket bits, sorted-and-capped buckets, exact cosine on
    * surviving pairs, rank window. Identical by construction: the ANN
    * operator is approximate w.r.t. true neighbors but fully deterministic. */
  private def annOracleSql(k: Int, bits: Int, tables: Int, dim: Int, maxBucket: Int): String = {
    val ps = Knn.planes(tables, bits, dim)
    val planeRows = (for (t <- 0 until tables; b <- 0 until bits) yield {
      val lst = ps(t)(b).map(_.toString).mkString("[", ",", "]")
      s"($t,$b,$lst::DOUBLE[])"
    }).mkString(",")
    s"""WITH planes(t, b, p) AS (VALUES $planeRows),
       | v AS (SELECT vec_id::VARCHAR AS id, embedding::DOUBLE[] AS vec FROM embeddings),
       | buckets AS (SELECT id, t,
       |     sum(CASE WHEN list_dot_product(vec, p) > 0 THEN (1::BIGINT << (${bits - 1} - b)) ELSE 0 END) AS bucket
       |   FROM v CROSS JOIN planes GROUP BY id, t),
       | mem AS (SELECT id, t, bucket,
       |     row_number() OVER (PARTITION BY t, bucket ORDER BY id) AS rn,
       |     count(*) OVER (PARTITION BY t, bucket) AS cnt FROM buckets),
       | und AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
       |   FROM (SELECT * FROM mem WHERE rn <= $maxBucket AND cnt > 1) a
       |   JOIN (SELECT * FROM mem WHERE rn <= $maxBucket AND cnt > 1) b
       |     ON a.t = b.t AND a.bucket = b.bucket AND a.id < b.id),
       | pairs AS (SELECT id_a, id_b FROM und UNION ALL SELECT id_b, id_a FROM und),
       | scored AS (SELECT p.id_a, p.id_b,
       |     round(list_dot_product(va.vec, vb.vec)
       |       / greatest(sqrt(list_dot_product(va.vec, va.vec)) * sqrt(list_dot_product(vb.vec, vb.vec)), 1e-12), 6) AS cosine
       |   FROM pairs p JOIN v va ON va.id = p.id_a JOIN v vb ON vb.id = p.id_b)
       |SELECT id_a, id_b, cosine, rank FROM (
       |  SELECT id_a, id_b, cosine,
       |    row_number() OVER (PARTITION BY id_a ORDER BY cosine DESC, id_b) AS rank
       |  FROM scored) WHERE rank <= $k""".stripMargin
  }

  /** DuckDB replica of [[graft.sim.Kmeans.lloyd]] — the `iters`
    * assignment/update rounds unrolled into generated CTE blocks (the
    * pageRankOracleSql pattern). Identical by construction: quantization
    * is floor(x·2^15)+2^15 (exact in double for float32 inputs × a power
    * of two), distances are BIGINT sums, assignment ties break to the
    * smallest centroid index (row_number ORDER BY dist, j), updates are
    * integer divisions of non-negative sums (`//` == Spark `div` == Scala
    * `/` on non-negative longs), empty clusters keep their centroid
    * (LEFT JOIN + coalesce). */
  private def kmeansOracleSql(k: Int, iters: Int, dim: Int): String = {
    val scale = graft.sim.Kmeans.Scale
    val dd = dim + 1
    val sb = new StringBuilder
    sb.append(
      s"""WITH pts AS (SELECT vec_id AS id,
         |    list_transform(embedding::DOUBLE[], x -> floor(x * $scale)::BIGINT + $scale) AS p
         |  FROM embeddings WHERE embedding IS NOT NULL AND len(embedding) = $dim),
         | c0 AS (SELECT row_number() OVER (ORDER BY id) - 1 AS j, p AS q
         |   FROM (SELECT id, p FROM pts ORDER BY id LIMIT $k))""".stripMargin)
    for (i <- 1 to iters) {
      sb.append(
        s""",
           | a$i AS (SELECT id, j FROM (
           |    SELECT pts.id, c.j,
           |      row_number() OVER (PARTITION BY pts.id ORDER BY
           |        list_sum(list_transform(range(1, $dd), i -> (p[i]-q[i])*(p[i]-q[i]))), c.j) AS rn
           |    FROM pts CROSS JOIN c${i - 1} c) WHERE rn = 1),
           | s$i AS (SELECT a.j, u.i, sum(p[u.i])::BIGINT AS s, count(*)::BIGINT AS cnt
           |    FROM a$i a JOIN pts USING(id), unnest(range(1, $dd)) AS u(i)
           |    GROUP BY a.j, u.i),
           | n$i AS (SELECT j, list(s // cnt ORDER BY i) AS q FROM s$i GROUP BY j),
           | c$i AS (SELECT c.j, coalesce(n.q, c.q) AS q FROM c${i - 1} c LEFT JOIN n$i n USING(j))""".stripMargin)
    }
    sb.append(
      s"""
         |SELECT id AS vec_id, j::INT AS cluster, dist FROM (
         |  SELECT pts.id, c.j,
         |    list_sum(list_transform(range(1, $dd), i -> (p[i]-q[i])*(p[i]-q[i])))::BIGINT AS dist,
         |    row_number() OVER (PARTITION BY pts.id ORDER BY
         |      list_sum(list_transform(range(1, $dd), i -> (p[i]-q[i])*(p[i]-q[i]))), c.j) AS rn
         |  FROM pts CROSS JOIN c$iters c) WHERE rn = 1""".stripMargin)
    sb.toString
  }

  /** DuckDB replica of [[graft.sim.Pq.topK]] — identical by construction:
    * the SAME quantize-once grid, m unrolled per-subspace Lloyd runs
    * (each the [[kmeansOracleSql]] block over a list slice), argmin code
    * assignment (tie → smallest code), and ADC scoring as a sum of m
    * per-(subspace, code) exact integer distance-table lookups. All
    * arithmetic is BIGINT — the gate hash-checks with no float contract. */
  private def pqOracleSql(k: Int, m: Int, ks: Int, iters: Int, dim: Int,
                          nQueries: Int): String = {
    val scale = graft.sim.Kmeans.Scale
    val sub = dim / m
    val sd = sub + 1
    val dist = s"list_sum(list_transform(range(1, $sd), i -> (p[i]-q[i])*(p[i]-q[i])))"
    val sb = new StringBuilder
    sb.append(
      s"""WITH pts AS (SELECT vec_id AS id,
         |    list_transform(embedding::DOUBLE[], x -> floor(x * $scale)::BIGINT + $scale) AS p
         |  FROM embeddings WHERE embedding IS NOT NULL AND len(embedding) = $dim)""".stripMargin)
    for (j <- 0 until m) {
      sb.append(
        s""",
           | sub$j AS (SELECT id, p[${j * sub + 1}:${(j + 1) * sub}] AS p FROM pts),
           | c0_$j AS (SELECT row_number() OVER (ORDER BY id) - 1 AS j, p AS q
           |   FROM (SELECT id, p FROM sub$j ORDER BY id LIMIT $ks))""".stripMargin)
      for (i <- 1 to iters) {
        sb.append(
          s""",
             | a${i}_$j AS (SELECT id, j FROM (
             |    SELECT t.id, c.j,
             |      row_number() OVER (PARTITION BY t.id ORDER BY $dist, c.j) AS rn
             |    FROM sub$j t CROSS JOIN c${i - 1}_$j c) WHERE rn = 1),
             | s${i}_$j AS (SELECT a.j, u.i, sum(p[u.i])::BIGINT AS s, count(*)::BIGINT AS cnt
             |    FROM a${i}_$j a JOIN sub$j USING(id), unnest(range(1, $sd)) AS u(i)
             |    GROUP BY a.j, u.i),
             | n${i}_$j AS (SELECT j, list(s // cnt ORDER BY i) AS q FROM s${i}_$j GROUP BY j),
             | c${i}_$j AS (SELECT c.j, coalesce(n.q, c.q) AS q FROM c${i - 1}_$j c LEFT JOIN n${i}_$j n USING(j))""".stripMargin)
      }
    }
    val codesUnion = (0 until m).map { j =>
      s"""SELECT id, $j AS sub, j AS code FROM (
         |    SELECT t.id, c.j,
         |      row_number() OVER (PARTITION BY t.id ORDER BY $dist, c.j) AS rn
         |    FROM sub$j t CROSS JOIN c${iters}_$j c) WHERE rn = 1""".stripMargin
    }.mkString("\n   UNION ALL ")
    val booksUnion = (0 until m)
      .map(j => s"SELECT $j AS sub, j AS code, q FROM c${iters}_$j")
      .mkString("\n   UNION ALL ")
    val qsubUnion = (0 until m)
      .map(j => s"SELECT id AS qid, $j AS sub, p FROM sub$j WHERE id < $nQueries")
      .mkString("\n   UNION ALL ")
    sb.append(
      s""",
         | codes AS (
         |   $codesUnion),
         | books AS (
         |   $booksUnion),
         | qsub AS (
         |   $qsubUnion),
         | dt AS (SELECT t.qid, b.sub, b.code,
         |     list_sum(list_transform(range(1, $sd), i -> (t.p[i]-b.q[i])*(t.p[i]-b.q[i])))::BIGINT AS d
         |   FROM qsub t JOIN books b ON b.sub = t.sub),
         | scored AS (SELECT dd.qid, c.id, sum(dd.d)::BIGINT AS adist
         |   FROM codes c JOIN dt dd ON dd.sub = c.sub AND dd.code = c.code
         |   WHERE c.id <> dd.qid GROUP BY dd.qid, c.id)
         |SELECT qid, id, adist, rank::INT AS rank FROM (
         |  SELECT qid, id, adist,
         |    row_number() OVER (PARTITION BY qid ORDER BY adist, id) AS rank
         |  FROM scored) WHERE rank <= $k""".stripMargin)
    sb.toString
  }

  /** DuckDB replica of [[graft.sim.IvfPq.topK]] — identical by
    * construction: the SAME quantize-once grid, the coarse Lloyd unroll
    * (the [[kmeansOracleSql]] block, `g*` CTEs), residuals re-offset by
    * `2·Scale` against the assigned cell's centroid, m unrolled residual
    * Lloyd runs (the [[pqOracleSql]] blocks over residual slices), argmin
    * codes, per-(query, probed-cell) ADC tables, and scoring restricted to
    * the probed cells' members. All arithmetic is BIGINT — the gate
    * hash-checks with no float contract. */
  private def ivfPqOracleSql(k: Int, nCells: Int, citers: Int, nProbe: Int,
                             m: Int, ks: Int, iters: Int, dim: Int,
                             nQueries: Int): String = {
    val scale = graft.sim.Kmeans.Scale
    val off = graft.sim.IvfPq.ResOff
    val dd = dim + 1
    val sub = dim / m
    val sd = sub + 1
    val cdist = s"list_sum(list_transform(range(1, $dd), i -> (p[i]-q[i])*(p[i]-q[i])))"
    val sdist = s"list_sum(list_transform(range(1, $sd), i -> (p[i]-q[i])*(p[i]-q[i])))"
    val sb = new StringBuilder
    sb.append(
      s"""WITH pts AS (SELECT vec_id AS id,
         |    list_transform(embedding::DOUBLE[], x -> floor(x * $scale)::BIGINT + $scale) AS p
         |  FROM embeddings WHERE embedding IS NOT NULL AND len(embedding) = $dim),
         | g0 AS (SELECT row_number() OVER (ORDER BY id) - 1 AS j, p AS q
         |   FROM (SELECT id, p FROM pts ORDER BY id LIMIT $nCells))""".stripMargin)
    for (i <- 1 to citers) {
      sb.append(
        s""",
           | ga$i AS (SELECT id, j FROM (
           |    SELECT pts.id, c.j,
           |      row_number() OVER (PARTITION BY pts.id ORDER BY $cdist, c.j) AS rn
           |    FROM pts CROSS JOIN g${i - 1} c) WHERE rn = 1),
           | gs$i AS (SELECT a.j, u.i, sum(p[u.i])::BIGINT AS s, count(*)::BIGINT AS cnt
           |    FROM ga$i a JOIN pts USING(id), unnest(range(1, $dd)) AS u(i)
           |    GROUP BY a.j, u.i),
           | gn$i AS (SELECT j, list(s // cnt ORDER BY i) AS q FROM gs$i GROUP BY j),
           | g$i AS (SELECT c.j, coalesce(n.q, c.q) AS q FROM g${i - 1} c LEFT JOIN gn$i n USING(j))""".stripMargin)
    }
    sb.append(
      s""",
         | cells AS (SELECT id, j AS cell FROM (
         |    SELECT pts.id, c.j,
         |      row_number() OVER (PARTITION BY pts.id ORDER BY $cdist, c.j) AS rn
         |    FROM pts CROSS JOIN g$citers c) WHERE rn = 1),
         | res AS (SELECT pts.id, cells.cell,
         |     list_transform(range(1, $dd), i -> p[i] - c.q[i] + $off) AS r
         |   FROM pts JOIN cells USING(id) JOIN g$citers c ON c.j = cells.cell)""".stripMargin)
    for (j <- 0 until m) {
      sb.append(
        s""",
           | sub$j AS (SELECT id, r[${j * sub + 1}:${(j + 1) * sub}] AS p FROM res),
           | c0_$j AS (SELECT row_number() OVER (ORDER BY id) - 1 AS j, p AS q
           |   FROM (SELECT id, p FROM sub$j ORDER BY id LIMIT $ks))""".stripMargin)
      for (i <- 1 to iters) {
        sb.append(
          s""",
             | a${i}_$j AS (SELECT id, j FROM (
             |    SELECT t.id, c.j,
             |      row_number() OVER (PARTITION BY t.id ORDER BY $sdist, c.j) AS rn
             |    FROM sub$j t CROSS JOIN c${i - 1}_$j c) WHERE rn = 1),
             | s${i}_$j AS (SELECT a.j, u.i, sum(p[u.i])::BIGINT AS s, count(*)::BIGINT AS cnt
             |    FROM a${i}_$j a JOIN sub$j USING(id), unnest(range(1, $sd)) AS u(i)
             |    GROUP BY a.j, u.i),
             | n${i}_$j AS (SELECT j, list(s // cnt ORDER BY i) AS q FROM s${i}_$j GROUP BY j),
             | c${i}_$j AS (SELECT c.j, coalesce(n.q, c.q) AS q FROM c${i - 1}_$j c LEFT JOIN n${i}_$j n USING(j))""".stripMargin)
      }
    }
    val codesUnion = (0 until m).map { j =>
      s"""SELECT id, $j AS sub, j AS code FROM (
         |    SELECT t.id, c.j,
         |      row_number() OVER (PARTITION BY t.id ORDER BY $sdist, c.j) AS rn
         |    FROM sub$j t CROSS JOIN c${iters}_$j c) WHERE rn = 1""".stripMargin
    }.mkString("\n   UNION ALL ")
    val booksUnion = (0 until m)
      .map(j => s"SELECT $j AS sub, j AS code, q FROM c${iters}_$j")
      .mkString("\n   UNION ALL ")
    val qsubUnion = (0 until m)
      .map(j => s"SELECT qid, cell, $j AS sub, r[${j * sub + 1}:${(j + 1) * sub}] AS p FROM qres")
      .mkString("\n   UNION ALL ")
    sb.append(
      s""",
         | codes AS (
         |   $codesUnion),
         | books AS (
         |   $booksUnion),
         | qprobe AS (SELECT id AS qid, j AS cell FROM (
         |    SELECT pts.id, c.j,
         |      row_number() OVER (PARTITION BY pts.id ORDER BY $cdist, c.j) AS rn
         |    FROM pts CROSS JOIN g$citers c WHERE pts.id < $nQueries) WHERE rn <= $nProbe),
         | qres AS (SELECT qp.qid, qp.cell,
         |     list_transform(range(1, $dd), i -> p[i] - c.q[i] + $off) AS r
         |   FROM qprobe qp JOIN pts ON pts.id = qp.qid JOIN g$citers c ON c.j = qp.cell),
         | qsub AS (
         |   $qsubUnion),
         | dt AS (SELECT t.qid, t.cell, b.sub, b.code,
         |     list_sum(list_transform(range(1, $sd), i -> (t.p[i]-b.q[i])*(t.p[i]-b.q[i])))::BIGINT AS d
         |   FROM qsub t JOIN books b ON b.sub = t.sub),
         | scored AS (SELECT dd.qid, cd.id, sum(dd.d)::BIGINT AS adist
         |   FROM codes cd JOIN cells cl ON cl.id = cd.id
         |   JOIN dt dd ON dd.cell = cl.cell AND dd.sub = cd.sub AND dd.code = cd.code
         |   WHERE cd.id <> dd.qid GROUP BY dd.qid, cd.id)
         |SELECT qid, id, adist, rank::INT AS rank FROM (
         |  SELECT qid, id, adist,
         |    row_number() OVER (PARTITION BY qid ORDER BY adist, id) AS rank
         |  FROM scored) WHERE rank <= $k""".stripMargin)
    sb.toString
  }

  /** DuckDB replica of [[Knn.ivfTopK]] — identical by construction:
    * centroids are the nCells smallest-id vectors, cell assignment is
    * max-cosine (tie → smallest centroid index) computed with the same
    * normalized formula, queries probe their nProbe nearest cells, exact
    * cosine over probed members, rank window. */
  private def ivfOracleSql(k: Int, nCells: Int, nProbe: Int, nQueries: Int,
                           dim: Int = 64, src: String = "embeddings",
                           memberFilter: String = ""): String = {
    val labelCol = if (memberFilter.nonEmpty) ", label" else ""
    val memberJoin =
      if (memberFilter.nonEmpty) s"JOIN v mv ON mv.id = m.id AND $memberFilter " else ""
    s"""WITH v AS (SELECT vec_id::VARCHAR AS id, vec_id AS nid, embedding::DOUBLE[] AS vec$labelCol FROM $src),
       | cent AS (SELECT row_number() OVER (ORDER BY nid) - 1 AS cidx, vec AS cvec
       |   FROM (SELECT nid, vec FROM v WHERE len(vec) = $dim ORDER BY nid LIMIT $nCells)),
       | vc AS (SELECT v.id, v.nid, c.cidx,
       |     list_dot_product(v.vec, c.cvec)
       |       / greatest(sqrt(list_dot_product(v.vec, v.vec)) * sqrt(list_dot_product(c.cvec, c.cvec)), 1e-12) AS cos
       |   FROM v CROSS JOIN cent c),
       | cells AS (SELECT id, cidx AS cell FROM (
       |     SELECT id, cidx, row_number() OVER (PARTITION BY id ORDER BY cos DESC, cidx) AS rn FROM vc) WHERE rn = 1),
       | qp AS (SELECT id AS qid, cidx AS cell FROM (
       |     SELECT id, cidx, row_number() OVER (PARTITION BY id ORDER BY cos DESC, cidx) AS rn
       |     FROM vc WHERE nid < $nQueries) WHERE rn <= $nProbe),
       | cand AS (SELECT qp.qid, m.id FROM qp JOIN cells m ON m.cell = qp.cell ${memberJoin}WHERE m.id <> qp.qid),
       | scored AS (SELECT cand.qid, cand.id,
       |     round(list_dot_product(a.vec, b.vec)
       |       / greatest(sqrt(list_dot_product(a.vec, a.vec)) * sqrt(list_dot_product(b.vec, b.vec)), 1e-12), 6) AS cosine
       |   FROM cand JOIN v a ON a.id = cand.qid JOIN v b ON b.id = cand.id)
       |SELECT qid, id, cosine, rank FROM (
       |  SELECT qid, id, cosine,
       |    row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, id) AS rank
       |  FROM scored) WHERE rank <= $k""".stripMargin
  }

  /** DuckDB replica of [[graft.dedup.Components.of]] over the MinHash
    * near-dup pairs: a recursive CTE materializes every (node, reachable
    * node) fact, then comp = min reachable id — definitionally what the
    * pointer-jumping min-label fixpoint converges to. Tractable because the
    * verified pair set at gate scale is tiny. */
  private def componentsOracleSql(threshold: Double, maxBucket: Int): String =
    s"""WITH RECURSIVE pairs AS (
       |${minhashOracleSql(threshold, maxBucket)}
       |),
       | edges AS (SELECT id_a AS src, id_b AS dst FROM pairs UNION SELECT id_b, id_a FROM pairs),
       | reach(id, r) AS (
       |   SELECT src, src FROM edges
       |   UNION
       |   SELECT e.src, reach.r FROM edges e JOIN reach ON reach.id = e.dst)
       |SELECT id, min(r) AS comp FROM reach GROUP BY id""".stripMargin

  /** DuckDB replica of [[graft.jobs.DedupJob.run]]'s dropped relation —
    * the full corpus-cleaning flow end-to-end: exact keep-first on content
    * (grouping by text ≡ grouping by sha-256), MinHash pairs over the
    * exact-stage SURVIVORS only, recursive-CTE connected components, and
    * each component's min-id root as duplicate_of. */
  private def dedupJobOracleSql(threshold: Double, maxBucket: Int): String =
    s"""WITH RECURSIVE $DocsWithNearDupsSql,
       | exact AS (SELECT id, text, min(id) OVER (PARTITION BY text) AS keeper FROM docs),
       | survivors AS (SELECT id, text FROM exact WHERE id = keeper),
       |${minhashCtes("survivors", maxBucket)},
       | pairs AS (${minhashPairSelect(threshold)}),
       | edges AS (SELECT id_a AS src, id_b AS dst FROM pairs UNION SELECT id_b, id_a FROM pairs),
       | reach(id, r) AS (
       |   SELECT src, src FROM edges
       |   UNION
       |   SELECT e.src, reach.r FROM edges e JOIN reach ON reach.id = e.dst),
       | comp AS (SELECT id, min(r) AS comp FROM reach GROUP BY id)
       |SELECT id AS url, 'exact_duplicate' AS reason, keeper AS duplicate_of
       |FROM exact WHERE id <> keeper
       |UNION ALL
       |SELECT id AS url, 'near_duplicate' AS reason, comp AS duplicate_of
       |FROM comp WHERE id <> comp""".stripMargin

  /** DuckDB replica of the COMPOSED pipeline (q_pipeline_e2e —
    * [[graft.jobs.PipelineJob.run]] then [[graft.jobs.IndexJob.search]]):
    * the same corpus restriction as the engine harness (extract-roundtrip
    * gate + single-chunk shape), the planted exact copy and near-dup mutant,
    * exact keep-first on content, MinHash pairs over survivors, recursive-CTE
    * connected components with min-id roots, and BM25 over the cleaned
    * corpus — one SQL statement spanning all three jobs. */
  private def pipelineE2eOracleSql(threshold: Double, maxBucket: Int): String = {
    val javaTrim = "' ' || chr(9) || chr(10) || chr(13) || chr(12) || chr(11)"
    s"""WITH RECURSIVE gated AS (
       |  SELECT doc_id, trim(text, $javaTrim) AS text FROM documents
       |  WHERE length(regexp_replace(text, '\\s', '', 'g')) >= 50
       |    AND len(list_filter(regexp_split_to_array(text, '\\s+'), x -> len(x) > 0)) >= 3
       |    AND NOT regexp_matches(text, '\\n\\s*\\n') AND regexp_matches(text, '\\S')),
       | docs0 AS (
       |  SELECT 'doc://' || doc_id::VARCHAR || '#0' AS id, text FROM gated
       |  UNION ALL SELECT 'doc://' || (doc_id + 500000)::VARCHAR || '#0', text FROM gated
       |  UNION ALL SELECT 'doc://' || (doc_id + 1000000)::VARCHAR || '#0', text || ' appended trailing marker' FROM gated),
       | exact AS (SELECT id, text, min(id) OVER (PARTITION BY text) AS keeper FROM docs0),
       | survivors AS (SELECT id, text FROM exact WHERE id = keeper),
       |${minhashCtes("survivors", maxBucket)},
       | pairs AS (${minhashPairSelect(threshold)}),
       | edges AS (SELECT id_a AS src, id_b AS dst FROM pairs UNION SELECT id_b, id_a FROM pairs),
       | reach(id, r) AS (
       |   SELECT src, src FROM edges
       |   UNION
       |   SELECT e.src, reach.r FROM edges e JOIN reach ON reach.id = e.dst),
       | comp AS (SELECT id, min(r) AS comp FROM reach GROUP BY id),
       | clean AS (SELECT s.id, s.text FROM survivors s
       |   LEFT JOIN (SELECT id FROM comp WHERE id <> comp) l ON l.id = s.id
       |   WHERE l.id IS NULL),
       | btoks AS (SELECT id AS doc,
       |    unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> len(x) > 0)) AS term
       |  FROM clean),
       | btf AS (SELECT doc, term, count(*)::DOUBLE AS tf FROM btoks GROUP BY 1,2),
       | bdl AS (SELECT doc, count(*)::DOUBLE AS dl FROM btoks GROUP BY 1),
       | bstats AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM bdl),
       | bq(term) AS (SELECT unnest(['spark','filter','join','table'])),
       | bdf AS (SELECT term, count(DISTINCT doc)::DOUBLE AS df FROM btf JOIN bq USING(term) GROUP BY 1)
       |SELECT doc, round(sum(
       |  ln(1.0 + (n - df + 0.5) / (df + 0.5))
       |  * (tf * (1.2 + 1.0)) / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))), 4) AS score
       |FROM btf JOIN bq USING(term) JOIN bdf USING(term) JOIN bdl USING(doc) CROSS JOIN bstats
       |GROUP BY doc""".stripMargin
  }

  /** DuckDB replica of [[Knn.dropEmbeddingNearDups]] on the planted-copy
    * corpus (each vector duplicated under id+1000000): same plane literals,
    * bucketing, caps and pair ordering as [[annOracleSql]]; losers are the
    * id_b side of every candidate pair whose 6-dp-rounded cosine clears the
    * threshold; output is the surviving ids. */
  private def embNearDupOracleSql(simThreshold: Double, bits: Int, tables: Int,
                                  dim: Int, maxBucket: Int): String = {
    val ps = Knn.planes(tables, bits, dim)
    val planeRows = (for (t <- 0 until tables; b <- 0 until bits) yield {
      val lst = ps(t)(b).map(_.toString).mkString("[", ",", "]")
      s"($t,$b,$lst::DOUBLE[])"
    }).mkString(",")
    s"""WITH planes(t, b, p) AS (VALUES $planeRows),
       | v AS (SELECT vec_id::VARCHAR AS id, embedding::DOUBLE[] AS vec FROM embeddings
       |   UNION ALL
       |   SELECT (vec_id + 1000000)::VARCHAR, embedding::DOUBLE[] FROM embeddings),
       | buckets AS (SELECT id, t,
       |     sum(CASE WHEN list_dot_product(vec, p) > 0 THEN (1::BIGINT << (${bits - 1} - b)) ELSE 0 END) AS bucket
       |   FROM v CROSS JOIN planes GROUP BY id, t),
       | mem AS (SELECT id, t, bucket,
       |     row_number() OVER (PARTITION BY t, bucket ORDER BY id) AS rn,
       |     count(*) OVER (PARTITION BY t, bucket) AS cnt FROM buckets),
       | und AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
       |   FROM (SELECT * FROM mem WHERE rn <= $maxBucket AND cnt > 1) a
       |   JOIN (SELECT * FROM mem WHERE rn <= $maxBucket AND cnt > 1) b
       |     ON a.t = b.t AND a.bucket = b.bucket AND a.id < b.id),
       | losers AS (SELECT DISTINCT u.id_b AS id
       |   FROM und u JOIN v va ON va.id = u.id_a JOIN v vb ON vb.id = u.id_b
       |   WHERE round(list_dot_product(va.vec, vb.vec)
       |     / greatest(sqrt(list_dot_product(va.vec, va.vec)) * sqrt(list_dot_product(vb.vec, vb.vec)), 1e-12), 6) >= $simThreshold)
       |SELECT id FROM v WHERE id NOT IN (SELECT id FROM losers)""".stripMargin
  }

  /** DuckDB replica of [[Knn.semDedup]] over the planted-copy harness —
    * identical by construction: centroids are the nCells numerically
    * smallest base ids (the planted copies start at 1000000 so the base
    * rows win), cell assignment is max-cosine (tie → smallest centroid
    * index), the per-cell cap ranks by VARCHAR id, and a row is dropped
    * iff it is the VARCHAR-larger side of a within-cell pair with 6-dp
    * rounded cosine ≥ the threshold. */
  private def semDedupOracleSql(simThreshold: Double, nCells: Int,
                                dim: Int, maxCell: Int): String =
    s"""WITH v AS (SELECT vec_id::VARCHAR AS id, vec_id::BIGINT AS nid, embedding::DOUBLE[] AS vec FROM embeddings
       |   UNION ALL
       |   SELECT (vec_id + 1000000)::VARCHAR, (vec_id + 1000000)::BIGINT, embedding::DOUBLE[] FROM embeddings),
       | cent AS (SELECT row_number() OVER (ORDER BY nid) - 1 AS cidx, vec AS cvec
       |   FROM (SELECT nid, vec FROM v WHERE len(vec) = $dim ORDER BY nid LIMIT $nCells)),
       | vc AS (SELECT v.id, c.cidx,
       |     list_dot_product(v.vec, c.cvec)
       |       / greatest(sqrt(list_dot_product(v.vec, v.vec)) * sqrt(list_dot_product(c.cvec, c.cvec)), 1e-12) AS cos
       |   FROM v CROSS JOIN cent c),
       | cells AS (SELECT id, cidx AS cell FROM (
       |     SELECT id, cidx, row_number() OVER (PARTITION BY id ORDER BY cos DESC, cidx) AS rn FROM vc) WHERE rn = 1),
       | live AS (SELECT id, cell FROM (
       |     SELECT id, cell, row_number() OVER (PARTITION BY cell ORDER BY id) AS rn FROM cells) WHERE rn <= $maxCell),
       | pairs AS (SELECT a.id AS id_a, b.id AS id_b
       |   FROM live a JOIN live b ON a.cell = b.cell AND a.id < b.id),
       | losers AS (SELECT DISTINCT p.id_b AS id
       |   FROM pairs p JOIN v va ON va.id = p.id_a JOIN v vb ON vb.id = p.id_b
       |   WHERE round(list_dot_product(va.vec, vb.vec)
       |     / greatest(sqrt(list_dot_product(va.vec, va.vec)) * sqrt(list_dot_product(vb.vec, vb.vec)), 1e-12), 6) >= $simThreshold)
       |SELECT id FROM v WHERE id NOT IN (SELECT id FROM losers)""".stripMargin

  /** The planted-near-dup corpus (docsWithNearDups) in DuckDB form. */
  /** Proximity-window oracle: brute interval cover over token positions
    * (w = 6, query spark/filter/join), shared by the corpus and
    * index-resident gates (id type is the only difference). */
  private def proximityOracleSql(idExpr: String,
                                 terms: Seq[String] = Seq("spark", "filter", "join")): String =
    s"""WITH toks AS (
       |  SELECT $idExpr AS doc,
       |    list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> len(x) > 0) AS ts
       |  FROM documents),
       | pos AS (SELECT doc, t.ts[i] AS term, i - 1 AS p
       |   FROM toks t, unnest(range(1, len(t.ts) + 1)) AS r(i)),
       | q(term) AS (SELECT unnest([${terms.map(t => s"'$t'").mkString(",")}])),
       | cover AS (SELECT DISTINCT doc, term, a FROM (
       |    SELECT doc, term, unnest(range(greatest(p - 5, 0), p + 1)) AS a
       |    FROM pos JOIN q USING(term))),
       | filled AS (SELECT doc, a FROM cover GROUP BY doc, a HAVING count(*) = ${terms.length})
       |SELECT doc, count(*)::BIGINT AS n_windows FROM filled GROUP BY doc""".stripMargin

  /** DuckDB replica of [[graft.index.QueryLikelihood.scores]] — the same
    * DAAT decomposition term-for-term (μ = 2000, OOV terms drop from both
    * query-side sums). Shared by q_ql and the q_ltr feature join. */
  private def qlOracleSql(idExpr: String): String =
    s"""WITH toks AS (SELECT $idExpr AS doc,
       |    unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> len(x) > 0)) AS term
       |   FROM documents),
       | tf AS (SELECT doc, term, count(*)::BIGINT AS tf FROM toks GROUP BY 1, 2),
       | dl AS (SELECT doc, sum(tf)::BIGINT AS dl FROM tf GROUP BY 1),
       | stats AS (SELECT sum(dl)::DOUBLE AS ctot FROM dl),
       | q(term) AS (SELECT unnest(['spark','filter','join','table'])),
       | qtf AS (SELECT tf.doc, tf.term, tf.tf FROM tf JOIN q USING(term)),
       | cfk AS (SELECT term, sum(tf)::DOUBLE AS cf FROM qtf GROUP BY 1),
       | krow AS (SELECT sum(ln(2000.0 * cf / s.ctot)) AS kconst, count(*)::DOUBLE AS nq
       |   FROM cfk CROSS JOIN stats s),
       | wsum AS (SELECT t.doc, sum(ln(1.0 + t.tf::DOUBLE / (2000.0 * c.cf / s.ctot))) AS wsum
       |   FROM qtf t JOIN cfk c USING(term) CROSS JOIN stats s GROUP BY 1)
       |SELECT w.doc AS doc_id,
       |  round(w.wsum + k.kconst - k.nq * ln(l.dl::DOUBLE + 2000.0), 4) AS score
       |FROM wsum w JOIN dl l ON l.doc = w.doc CROSS JOIN krow k""".stripMargin

  /** DuckDB replica of [[Bm25.tfidfScores]] (shared by q_tfidf / q_ltr). */
  private val tfidfOracleSql: String =
    """WITH toks AS (
      |  SELECT doc_id AS doc,
      |    unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> len(x) > 0)) AS term
      |  FROM documents),
      | tf AS (SELECT doc, term, count(*)::DOUBLE AS tf FROM toks GROUP BY 1,2),
      | n AS (SELECT count(DISTINCT doc_id)::DOUBLE AS n FROM documents),
      | q(term) AS (SELECT unnest(['spark','filter','join','table'])),
      | df AS (SELECT term, count(*)::DOUBLE AS df FROM tf JOIN q USING(term) GROUP BY 1)
      |SELECT doc, round(sum(tf * ln((n + 1.0) / (df + 1.0))), 4) AS score
      |FROM tf JOIN q USING(term) JOIN df USING(term) CROSS JOIN n
      |GROUP BY doc""".stripMargin

  private val DocsWithNearDupsSql =
    """docs AS (
      |  SELECT doc_id::VARCHAR AS id, text FROM documents
      |  UNION ALL
      |  SELECT (doc_id + 1000000)::VARCHAR AS id, text || ' appended trailing marker' FROM documents)""".stripMargin

  /** One FNV-1a step over 64-bit values in DuckDB HUGEINT arithmetic:
    * h' = ((h xor v) * prime) mod 2^64. */
  private def fnvStep(h: String, v: String): String =
    s"((xor(($h)::UBIGINT, ($v)::UBIGINT)::HUGEINT * 1099511628211) % 18446744073709551616)"

  /** DuckDB replica of [[MinHash.nearDupPairs]] — identical by construction:
    * md5-top-64 shingle hashes, the same 128 affine (a,b) constants masked to
    * 63 bits, the same FNV band hashes, the same sorted-and-capped buckets,
    * and the same exact-Jaccard verification. Any divergence between this SQL
    * and the Scala operator is a real bug in one of them. */
  private def minhashOracleSql(threshold: Double, maxBucket: Int): String =
    s"""WITH $DocsWithNearDupsSql,
       |${minhashCtes("docs", maxBucket)}
       |${minhashPairSelect(threshold)}""".stripMargin

  /** The MinHash pipeline's CTE chain (tokenize → shingle → signatures →
    * band buckets → capped candidate pairs → intersection counts) over an
    * arbitrary (id, text) relation `srcRel`, for embedding in larger
    * oracles (q_minhash_neardup, q_components, q_dedup_job). */
  private def minhashCtes(srcRel: String, maxBucket: Int): String = {
    val coefRows = MinHash.coeffs.zipWithIndex
      .map { case ((a, b), j) => s"($j,$a,$b)" }.mkString(",")
    val bandChain = {
      var h = "14695981039346656037"
      for (r <- 0 until MinHash.RowsPerBand) h = fnvStep(h, s"v$r")
      h
    }
    val vCols = (0 until MinHash.RowsPerBand)
      .map(r => s"max(CASE WHEN r = $r THEN v END) AS v$r").mkString(", ")
    s""" toks AS (SELECT id, list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> len(x) > 0) AS toks FROM $srcRel),
       | shing AS (SELECT id, unnest(CASE WHEN len(toks) = 0 THEN []::VARCHAR[]
       |     WHEN len(toks) < ${MinHash.ShingleWords} THEN [array_to_string(toks, ' ')]
       |     ELSE list_transform(range(1, len(toks) - ${MinHash.ShingleWords - 2}), i -> array_to_string(toks[i:i+${MinHash.ShingleWords - 1}], ' ')) END) AS sh
       |   FROM toks),
       | shd AS (SELECT DISTINCT id, ('0x' || substr(md5(sh), 1, 16))::UBIGINT AS h FROM shing),
       | coef(j, a, b) AS (VALUES $coefRows),
       | sigs AS (SELECT d.id, c.j,
       |     coalesce(min((c.a::HUGEINT * s.h::HUGEINT + c.b) % 9223372036854775808), 9223372036854775807) AS v
       |   FROM (SELECT DISTINCT id FROM $srcRel) d CROSS JOIN coef c
       |   LEFT JOIN shd s ON s.id = d.id GROUP BY 1, 2),
       | b4 AS (SELECT id, j // ${MinHash.RowsPerBand} AS band, j % ${MinHash.RowsPerBand} AS r, v FROM sigs),
       | bh AS (SELECT id, band, $bandChain AS bhash
       |   FROM (SELECT id, band, $vCols FROM b4 GROUP BY 1, 2)),
       | mem AS (SELECT id, band, bhash, row_number() OVER (PARTITION BY band, bhash ORDER BY id) AS rn FROM bh),
       | cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
       |   FROM (SELECT * FROM mem WHERE rn <= $maxBucket) a
       |   JOIN (SELECT * FROM mem WHERE rn <= $maxBucket) b
       |     ON a.band = b.band AND a.bhash = b.bhash AND a.id < b.id),
       | ssz AS (SELECT id, count(*) AS n FROM shd GROUP BY id),
       | inter AS (SELECT c.id_a, c.id_b, count(y.h) AS i
       |   FROM cand c
       |   LEFT JOIN shd x ON x.id = c.id_a
       |   LEFT JOIN shd y ON y.id = c.id_b AND y.h = x.h
       |   GROUP BY 1, 2)""".stripMargin
  }

  /** Final exact-Jaccard-verified pair SELECT over [[minhashCtes]]'s
    * `inter`/`ssz` relations. */
  private def minhashPairSelect(threshold: Double): String =
    s"""SELECT i.id_a, i.id_b
       |FROM inter i
       |LEFT JOIN ssz na ON na.id = i.id_a
       |LEFT JOIN ssz nb ON nb.id = i.id_b
       |WHERE (CASE WHEN coalesce(na.n, 0) + coalesce(nb.n, 0) - i.i <= 0 THEN 1.0
       |       ELSE i.i::DOUBLE / (coalesce(na.n, 0) + coalesce(nb.n, 0) - i.i) END) >= $threshold""".stripMargin

  /** DuckDB replica of [[SimHash.nearDupPairs]]: identical md5-top-64 feature
    * hashes, tf weights, the same 10 block-pair table keys (5 disjoint
    * 13/13/13/13/12-bit blocks, keys bi*8192+bj — generated from the SAME
    * BlockPairs/BlockOffsets/BlockWidths constants as the operator),
    * sorted-and-capped buckets, and bit_count(xor) Hamming filter. */
  private def simhashOracleSql(maxDist: Int, maxBucket: Int): String = {
    val tblRows = SimHash.BlockPairs.zipWithIndex.map { case ((i, j), k) =>
      s"($k,${SimHash.BlockOffsets(i)},${(1L << SimHash.BlockWidths(i)) - 1}," +
        s"${SimHash.BlockOffsets(j)},${(1L << SimHash.BlockWidths(j)) - 1})"
    }.mkString(",")
    s"""WITH $DocsWithNearDupsSql,
       | toks AS (SELECT id, unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> len(x) > 0)) AS term FROM docs),
       | tf AS (SELECT id, ('0x' || substr(md5(term), 1, 16))::UBIGINT AS h, count(*)::BIGINT AS w FROM toks GROUP BY 1, 2),
       | bits AS (SELECT id, b, sum(CASE WHEN (h >> b) & 1 = 1 THEN w ELSE -w END) AS acc
       |   FROM tf CROSS JOIN (SELECT unnest(range(64)) AS b) GROUP BY 1, 2),
       | sh0 AS (SELECT id, sum(CASE WHEN acc > 0 THEN (1::HUGEINT << b) ELSE 0 END) AS sim FROM bits GROUP BY 1),
       | sh AS (SELECT d.id, coalesce(s.sim, 0)::UBIGINT AS sim
       |   FROM (SELECT DISTINCT id FROM docs) d LEFT JOIN sh0 s ON s.id = d.id),
       | tbls(k, oi, mi, oj, mj) AS (VALUES $tblRows),
       | banded AS (SELECT id, sim, k,
       |     ((sim >> oi) & mi::UBIGINT) * 8192 + ((sim >> oj) & mj::UBIGINT) AS key
       |   FROM sh CROSS JOIN tbls),
       | mem AS (SELECT id, sim, k, key, row_number() OVER (PARTITION BY k, key ORDER BY id) AS rn FROM banded),
       | cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b, a.sim AS sim_a, b.sim AS sim_b
       |   FROM (SELECT * FROM mem WHERE rn <= $maxBucket) a
       |   JOIN (SELECT * FROM mem WHERE rn <= $maxBucket) b
       |     ON a.k = b.k AND a.key = b.key AND a.id < b.id)
       |SELECT id_a, id_b, bit_count(xor(sim_a, sim_b))::INT AS hamming
       |FROM cand WHERE bit_count(xor(sim_a, sim_b)) <= $maxDist""".stripMargin
  }

  /** DuckDB SQL equivalents over the same parquet tables. Column names and
    * types must match the Spark results exactly (the driver sorts columns
    * by name before hashing). */
  /** Shared by q_hll and q_stream_hll: the streamed register deltas
    * max-merge to the batch registers exactly, so both gates replay the
    * SAME register-for-register SQL. */
  /** DuckDB replica of [[graft.sketch.Quantile]]: the string-surgery
    * decade-bucket rule (leading digit || zero padding — no float log/pow
    * on either engine) + cumulative-count percentile rank, all BIGINT.
    * Shared by q_quantile (batch) and q_stream_quantile (the max-folded
    * streaming totals equal the batch histogram by monotonicity). */
  private val quantileOracleSql =
    """WITH v AS (SELECT source AS key,
      |    len(list_filter(regexp_split_to_array(text, '\s+'), x -> len(x) > 0))::BIGINT AS v
      |  FROM documents),
      | h AS (SELECT key,
      |    CASE WHEN v <= 0 THEN 0
      |         ELSE (substr(v::VARCHAR, 1, 1) || repeat('0', length(v::VARCHAR) - 1))::BIGINT
      |    END AS lo,
      |    count(*)::BIGINT AS cnt FROM v GROUP BY 1, 2),
      | c AS (SELECT key, lo,
      |    sum(cnt) OVER (PARTITION BY key ORDER BY lo)::BIGINT AS cum,
      |    sum(cnt) OVER (PARTITION BY key)::BIGINT AS n FROM h),
      | q AS (SELECT unnest([100, 250, 500, 750, 900, 990])::BIGINT AS q_milli)
      |SELECT c.key AS source, q.q_milli, min(c.lo)::BIGINT AS lo
      |FROM c CROSS JOIN q WHERE c.cum * 1000 >= q.q_milli * c.n
      |GROUP BY 1, 2""".stripMargin

  private val hllOracleSql =
    """WITH w AS (SELECT source AS key,
      |    list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
      |      x -> len(x) > 0) AS w FROM documents),
      | toks AS (SELECT key, w[j] || ' ' || w[j+1] || ' ' || w[j+2] AS term
      |   FROM w, unnest(range(1, len(w) - 1)) AS u(j)),
      | h AS (SELECT key, ((('0x' || substr(md5(term), 1, 16))::UBIGINT
      |                     & 9223372036854775807)::BIGINT) AS h63 FROM toks),
      | jw AS (SELECT key, (h63 >> 55)::INT AS j,
      |                    h63 & ((1::BIGINT << 55) - 1) AS w FROM h),
      | regs AS (SELECT key, j,
      |    max(CASE WHEN w = 0 THEN 56 ELSE 56 - length(bin(w)) END)::INT AS m
      |  FROM jw GROUP BY 1, 2),
      | summ AS (SELECT key, count(*)::BIGINT AS present,
      |    (sum(CASE WHEN m <= 50 THEN (1::BIGINT << (50 - m)) ELSE 0 END)
      |     + (256 - count(*)) * (1::BIGINT << 50))::BIGINT AS s_scaled
      |  FROM regs GROUP BY 1),
      | ex AS (SELECT key, count(DISTINCT term)::BIGINT AS exact_distinct
      |  FROM toks GROUP BY 1)
      |SELECT key AS source, present, s_scaled,
      |  ((718213::HUGEINT * 65536 * 1125899906842624)
      |   // (greatest(s_scaled, 1)::HUGEINT * 1000))::BIGINT AS est_milli,
      |  exact_distinct
      |FROM summ JOIN ex USING (key)""".stripMargin

  /** Shared by q_cms and q_stream_cms: the streamed monotone running
    * totals max-merge to the batch counters exactly, so both gates replay
    * the SAME counter-for-counter SQL. */
  private val cmsOracleSql =
    """WITH w AS (SELECT
      |    list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
      |      x -> len(x) > 0) AS w FROM documents),
      | toks AS (SELECT w[j] || ' ' || w[j+1] AS term
      |   FROM w, unnest(range(1, len(w))) AS u(j)),
      | sk AS (SELECT r, ((('0x' || substr(md5(r::VARCHAR || ':' || term), 1, 16))::UBIGINT
      |          & 9223372036854775807) % 1024)::INT AS b, count(*)::BIGINT AS c
      |   FROM toks, unnest([0, 1, 2, 3]) AS t(r) GROUP BY 1, 2),
      | exact AS (SELECT term, count(*)::BIGINT AS exact_cnt FROM toks
      |   GROUP BY 1 ORDER BY exact_cnt DESC, term LIMIT 20),
      | probes AS (SELECT term,
      |    r, ((('0x' || substr(md5(r::VARCHAR || ':' || term), 1, 16))::UBIGINT
      |          & 9223372036854775807) % 1024)::INT AS b
      |   FROM exact, unnest([0, 1, 2, 3]) AS t(r)),
      | est AS (SELECT p.term, min(coalesce(s.c, 0))::BIGINT AS est
      |   FROM probes p LEFT JOIN sk s USING (r, b) GROUP BY 1)
      |SELECT e.term, e.exact_cnt, est,
      |  (est - e.exact_cnt)::BIGINT AS overcount
      |FROM exact e JOIN est USING (term)""".stripMargin

  def oracleSql: Map[String, String] = {
    val effGate = "length(regexp_replace(text, '\\s', '', 'g')) >= 50"
    val enHits = Markers("en").map(w =>
      s"(regexp_matches(text, '(?i)(^|[^a-z0-9])$w($$|[^a-z0-9])'))::INT").mkString(" + ")
    def hits(lang: String) = Markers(lang).map(w =>
      s"(regexp_matches(text, '(?i)(^|[^a-z0-9])$w($$|[^a-z0-9])'))::INT").mkString(" + ")
    val fp = "md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))"

    Map(
      "q1_agg" ->
        """SELECT l_returnflag, l_linestatus, round(sum(l_quantity),2) AS sum_qty,
          | round(sum(l_extendedprice),2) AS sum_base, round(avg(l_discount),4) AS avg_disc,
          | count(*) AS cnt FROM lineitem GROUP BY 1,2""".stripMargin,
      "q_rev_nation" ->
        """SELECT n_name, round(sum(o_totalprice),2) AS revenue, count(*) AS n_orders
          | FROM orders JOIN customer ON o_custkey = c_custkey
          | JOIN nation ON c_nationkey = n_nationkey GROUP BY 1""".stripMargin,
      "q_top_customers" ->
        """WITH s AS (SELECT c_mktsegment AS seg, c_custkey AS cust,
          |   round(sum(o_totalprice),2) AS spend
          | FROM orders JOIN customer ON o_custkey = c_custkey GROUP BY 1,2)
          |SELECT seg, cust, spend, rnk FROM (
          |  SELECT *, row_number() OVER (PARTITION BY seg ORDER BY spend DESC, cust) AS rnk
          |  FROM s) WHERE rnk <= 3""".stripMargin,
      "q_events_hourly" ->
        """SELECT event_type, extract(hour FROM ts)::BIGINT AS hr, count(*) AS cnt,
          | round(sum(value),2) AS total FROM events GROUP BY 1,2""".stripMargin,
      // bucketed layout changes the PLAN, never the rows: plain join oracle
      "q_bucketed" ->
        """SELECT o_orderpriority AS priority, l_returnflag AS flag,
          | round(sum(l_extendedprice),2) AS gross, round(sum(l_quantity),2) AS qty,
          | count(*) AS n_items
          | FROM orders JOIN lineitem ON o_orderkey = l_orderkey GROUP BY 1,2""".stripMargin,
      // contracts: identical planted violations, one aggregate, thresholds
      // cast ::DOUBLE (DuckDB numeric literals are DECIMAL — str() diverges)
      "q_contracts" ->
        """WITH base AS (
          |  SELECT doc_id, text, lang, source, n_chars FROM documents
          |  UNION ALL SELECT doc_id, text, lang, source, n_chars FROM documents
          |    WHERE doc_id % 50 = 0
          |  UNION ALL SELECT * FROM (VALUES
          |    (9000001, '', 'en', 'srcx', 0),
          |    (9000002, '', 'fr', 'srcx', 0),
          |    (9000003, 'abc', 'en', 'src1', 999),
          |    (9000004, 'hello graft world', 'xx', 'src1', 17))
          |    v(doc_id, text, lang, source, n_chars)),
          | a AS (SELECT count(*)::DOUBLE AS n,
          |   sum(CASE WHEN text IS NOT NULL AND text <> '' THEN 1 ELSE 0 END)::DOUBLE AS c_txt,
          |   count(DISTINCT doc_id)::DOUBLE AS c_uni,
          |   sum(CASE WHEN n_chars BETWEEN 1 AND 100000 THEN 1 ELSE 0 END)::DOUBLE AS c_bnd,
          |   sum(CASE WHEN n_chars = length(text) THEN 1 ELSE 0 END)::DOUBLE AS c_con,
          |   sum(CASE WHEN lang IN ('en','fr','de','es','zh') THEN 1 ELSE 0 END)::DOUBLE AS c_dom
          |  FROM base)
          |SELECT chk, metric, threshold, metric >= threshold AS pass FROM (
          |  SELECT 'complete_text' AS chk, round(c_txt/n, 6) AS metric,
          |     0.95::DOUBLE AS threshold FROM a
          |  UNION ALL SELECT 'unique_doc_id', round(c_uni/n, 6), 1.0::DOUBLE FROM a
          |  UNION ALL SELECT 'bounds_n_chars', round(c_bnd/n, 6), 0.999::DOUBLE FROM a
          |  UNION ALL SELECT 'consistent_n_chars', round(c_con/n, 6), 1.0::DOUBLE FROM a
          |  UNION ALL SELECT 'lang_domain', round(c_dom/n, 6), 0.95::DOUBLE FROM a)""".stripMargin,
      // stratified contracts: same planted base, grouped by lang
      "q_contracts_domain" ->
        """WITH base AS (
          |  SELECT doc_id, text, lang, source, n_chars FROM documents
          |  UNION ALL SELECT doc_id, text, lang, source, n_chars FROM documents
          |    WHERE doc_id % 50 = 0
          |  UNION ALL SELECT * FROM (VALUES
          |    (9000001, '', 'en', 'srcx', 0),
          |    (9000002, '', 'fr', 'srcx', 0),
          |    (9000003, 'abc', 'en', 'src1', 999),
          |    (9000004, 'hello graft world', 'xx', 'src1', 17))
          |    v(doc_id, text, lang, source, n_chars)),
          | a AS (SELECT lang, count(*)::DOUBLE AS n,
          |   sum(CASE WHEN text IS NOT NULL AND text <> '' THEN 1 ELSE 0 END)::DOUBLE AS c_txt,
          |   sum(CASE WHEN n_chars = length(text) THEN 1 ELSE 0 END)::DOUBLE AS c_con,
          |   sum(CASE WHEN n_chars BETWEEN 1 AND 100000 THEN 1 ELSE 0 END)::DOUBLE AS c_bnd
          |  FROM base GROUP BY lang)
          |SELECT lang, chk, metric, threshold, metric >= threshold AS pass FROM (
          |  SELECT lang, 'complete_text' AS chk, round(c_txt/n, 6) AS metric,
          |     0.95::DOUBLE AS threshold FROM a
          |  UNION ALL SELECT lang, 'consistent_n_chars', round(c_con/n, 6),
          |     1.0::DOUBLE FROM a
          |  UNION ALL SELECT lang, 'bounds_n_chars', round(c_bnd/n, 6),
          |     0.999::DOUBLE FROM a)""".stripMargin,
      // rolling: both frames replayed via a WINDOW clause on epoch micros
      "q_rolling" ->
        """WITH e AS (SELECT user_id, epoch_us(ts)::BIGINT AS ts_us, event_id, value
          |  FROM events)
          |SELECT user_id, ts_us, event_id,
          |  count(*) OVER w_rows AS cnt_k,
          |  round(sum(value) OVER w_rows, 4) AS sum_k,
          |  count(*) OVER w_range AS cnt_win
          |FROM e
          |WINDOW w_rows AS (PARTITION BY user_id ORDER BY ts_us, event_id
          |    ROWS BETWEEN 4 PRECEDING AND CURRENT ROW),
          |  w_range AS (PARTITION BY user_id ORDER BY ts_us
          |    RANGE BETWEEN 21600000000 PRECEDING AND CURRENT ROW)""".stripMargin,
      // calibrate: percent_rank over (n_chars DESC, doc_id) within lang
      "q_calibrate" ->
        """SELECT doc_id, lang, n_chars,
          |  percent_rank() OVER w AS pr,
          |  (percent_rank() OVER w) <= 0.5 AS keep
          |FROM documents
          |WINDOW w AS (PARTITION BY lang ORDER BY n_chars DESC, doc_id)""".stripMargin,
      // outliers: quantile_cont == Spark percentile (same interpolation)
      "q_outliers" ->
        """WITH base AS (SELECT lang, doc_id, n_chars FROM documents
          |   UNION ALL SELECT * FROM (VALUES
          |     ('en', 9100001, 1000000), ('fr', 9100002, 1000000),
          |     ('de', 9100003, 0)) v(lang, doc_id, n_chars)),
          | med AS (SELECT lang, quantile_cont(n_chars, 0.5) AS med
          |   FROM base GROUP BY 1),
          | dev AS (SELECT b.lang, b.doc_id, b.n_chars, m.med
          |   FROM base b JOIN med m USING (lang)),
          | mad AS (SELECT lang, quantile_cont(abs(n_chars - med), 0.5) AS mad
          |   FROM dev GROUP BY 1)
          |SELECT dev.lang, doc_id, n_chars, dev.med, mad.mad,
          |  abs(n_chars - dev.med) <= 3.0 * mad.mad AS keep
          |FROM dev JOIN mad USING (lang)""".stripMargin,
      // collocations: 1-based list slices replay the within-doc zip
      "q_colloc" ->
        """WITH toks AS (SELECT string_split_regex(lower(text), '\s+') AS ts
          |   FROM documents
          |   WHERE len(string_split_regex(lower(text), '\s+')) >= 2),
          | big AS (SELECT t.ts[j] AS a, t.ts[j+1] AS b FROM toks t,
          |         unnest(range(1, len(t.ts))) AS u(j)),
          | uni AS (SELECT unnest(ts) AS w FROM toks),
          | cb AS (SELECT a, b, count(*) AS cnt_ab FROM big GROUP BY 1,2
          |        HAVING count(*) >= 5),
          | cu AS (SELECT w, count(*) AS cnt FROM uni GROUP BY 1),
          | nb AS (SELECT count(*) AS n FROM big)
          |SELECT a, b, cnt_ab,
          |  round(cnt_ab::DOUBLE * n / (ca.cnt::DOUBLE * c2.cnt), 6) AS lift
          |FROM cb JOIN cu ca ON cb.a = ca.w JOIN cu c2 ON cb.b = c2.w
          |CROSS JOIN nb
          |ORDER BY lift DESC, a, b LIMIT 100""".stripMargin,
      // retrieval eval: run/qrels replay; rnk alias (rank is a keyword)
      "q_eval" ->
        """WITH t(qid) AS (VALUES ('join'), ('vector'), ('customer')),
          | occ AS (SELECT qid, doc_id, n_chars,
          |    len(list_filter(string_split_regex(lower(text), '\s+'), x -> x = qid)) AS occ
          |  FROM documents CROSS JOIN t),
          | run AS (SELECT qid, doc_id AS doc, row_number() OVER
          |     (PARTITION BY qid ORDER BY n_chars DESC, doc_id) AS rnk
          |   FROM occ WHERE occ >= 1 QUALIFY rnk <= 50),
          | qrels AS (SELECT qid, doc_id AS doc FROM occ WHERE occ >= 4),
          | perq AS (SELECT r.qid,
          |    sum(CASE WHEN q.doc IS NOT NULL AND r.rnk <= 10 THEN 1 ELSE 0 END) AS hits_k,
          |    min(CASE WHEN q.doc IS NOT NULL THEN r.rnk END) AS first_rank0
          |  FROM run r LEFT JOIN qrels q ON r.qid = q.qid AND r.doc = q.doc GROUP BY 1),
          | nr AS (SELECT qid, count(*) AS n_rel FROM qrels GROUP BY 1)
          |SELECT coalesce(p.qid, nr.qid) AS qid, coalesce(n_rel, 0) AS n_rel,
          |  coalesce(hits_k, 0) AS hits_k,
          |  CASE WHEN n_rel IS NULL THEN 0.0::DOUBLE
          |       ELSE round(coalesce(hits_k, 0) / n_rel, 6) END AS recall_k,
          |  coalesce(first_rank0, 0) AS first_rank,
          |  CASE WHEN first_rank0 IS NULL THEN 0.0::DOUBLE
          |       ELSE round(1.0::DOUBLE / first_rank0, 6) END AS rr
          |FROM perq p FULL OUTER JOIN nr ON p.qid = nr.qid""".stripMargin,
      // ndcg: the q_eval run harness with graded qrels (min(occ,3)); the
      // same exponential-gain / ln-ratio chain as the operator
      "q_ndcg" ->
        """WITH t(qid) AS (VALUES ('join'), ('vector'), ('customer')),
          | occ AS (SELECT qid, doc_id, n_chars,
          |    len(list_filter(string_split_regex(lower(text), '\s+'), x -> x = qid)) AS occ
          |  FROM documents CROSS JOIN t),
          | run AS (SELECT qid, doc_id AS doc, row_number() OVER
          |     (PARTITION BY qid ORDER BY n_chars DESC, doc_id) AS rnk
          |   FROM occ WHERE occ >= 1 QUALIFY rnk <= 50),
          | qrels AS (SELECT qid, doc_id AS doc, least(occ, 3)::BIGINT AS grade
          |   FROM occ WHERE occ >= 1),
          | dcg AS (SELECT r.qid,
          |    sum((pow(2.0, coalesce(q.grade, 0)) - 1.0) / (ln(r.rnk + 1.0) / ln(2.0))) AS dcg
          |  FROM run r LEFT JOIN qrels q ON q.qid = r.qid AND q.doc = r.doc
          |  WHERE r.rnk <= 10 GROUP BY 1),
          | ideal AS (SELECT qid, grade, row_number() OVER
          |     (PARTITION BY qid ORDER BY grade DESC, doc) AS irnk
          |   FROM qrels QUALIFY irnk <= 10),
          | idcg AS (SELECT qid,
          |    sum((pow(2.0, grade) - 1.0) / (ln(irnk + 1.0) / ln(2.0))) AS idcg
          |  FROM ideal GROUP BY 1)
          |SELECT coalesce(d.qid, i.qid) AS qid,
          |  CASE WHEN i.idcg IS NULL OR i.idcg <= 0.0 THEN 0.0::DOUBLE
          |       ELSE round(coalesce(d.dcg, 0.0) / i.idcg, 6) END AS ndcg
          |FROM dcg d FULL OUTER JOIN idcg i ON d.qid = i.qid""".stripMargin,
      // err@10: the graded harness; survival = exp(sum(ln(1−R)) OVER the
      // preceding-rows window) — op-for-op the operator's chain
      "q_err" ->
        """WITH t(qid) AS (VALUES ('join'), ('vector'), ('customer')),
          | occ AS (SELECT qid, doc_id, n_chars,
          |    len(list_filter(string_split_regex(lower(text), '\s+'), x -> x = qid)) AS occ
          |  FROM documents CROSS JOIN t),
          | run AS (SELECT qid, doc_id AS doc, row_number() OVER
          |     (PARTITION BY qid ORDER BY n_chars DESC, doc_id) AS rnk
          |   FROM occ WHERE occ >= 1 QUALIFY rnk <= 50),
          | qrels AS (SELECT qid, doc_id AS doc, least(occ, 3)::BIGINT AS grade
          |   FROM occ WHERE occ >= 1),
          | rr AS (SELECT r.qid, r.rnk,
          |    (pow(2.0, coalesce(q.grade, 0)) - 1.0) / 8.0 AS rp
          |  FROM run r LEFT JOIN qrels q ON q.qid = r.qid AND q.doc = r.doc
          |  WHERE r.rnk <= 10),
          | sv AS (SELECT qid, rnk, rp,
          |    coalesce(exp(sum(ln(1.0 - rp)) OVER
          |      (PARTITION BY qid ORDER BY rnk
          |       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)), 1.0) AS survive
          |  FROM rr),
          | scored AS (SELECT qid, round(sum(rp / rnk::DOUBLE * survive), 6) AS err
          |   FROM sv GROUP BY 1)
          |SELECT q.qid, coalesce(s.err, 0.0) AS err
          |FROM (SELECT DISTINCT qid FROM run) q
          |LEFT JOIN scored s ON s.qid = q.qid""".stripMargin,
      // map_cut@10: prefix hit counts over the rank-ordered run window,
      // divided by TOTAL n_rel; run∪qrels qids all emit a row
      "q_map" ->
        """WITH t(qid) AS (VALUES ('join'), ('vector'), ('customer')),
          | occ AS (SELECT qid, doc_id, n_chars,
          |    len(list_filter(string_split_regex(lower(text), '\s+'), x -> x = qid)) AS occ
          |  FROM documents CROSS JOIN t),
          | run AS (SELECT qid, doc_id AS doc, row_number() OVER
          |     (PARTITION BY qid ORDER BY n_chars DESC, doc_id) AS rnk
          |   FROM occ WHERE occ >= 1 QUALIFY rnk <= 50),
          | qrels AS (SELECT qid, doc_id AS doc FROM occ WHERE occ >= 4),
          | hits AS (SELECT r.qid, r.rnk,
          |    CASE WHEN q.doc IS NOT NULL THEN 1 ELSE 0 END AS hit,
          |    sum(CASE WHEN q.doc IS NOT NULL THEN 1 ELSE 0 END) OVER
          |      (PARTITION BY r.qid ORDER BY r.rnk
          |       ROWS UNBOUNDED PRECEDING) AS hits_upto
          |  FROM run r LEFT JOIN qrels q ON q.qid = r.qid AND q.doc = r.doc
          |  WHERE r.rnk <= 10),
          | apsums AS (SELECT qid, sum(hits_upto::DOUBLE / rnk::DOUBLE) AS apsum
          |   FROM hits WHERE hit = 1 GROUP BY 1),
          | nr AS (SELECT qid, count(*)::BIGINT AS n_rel FROM qrels GROUP BY 1),
          | qids AS (SELECT DISTINCT qid FROM run UNION SELECT DISTINCT qid FROM qrels)
          |SELECT q.qid,
          |  CASE WHEN nr.n_rel IS NULL OR nr.n_rel = 0 THEN 0.0::DOUBLE
          |       ELSE round(coalesce(a.apsum, 0.0) / nr.n_rel, 6) END AS ap
          |FROM qids q LEFT JOIN nr ON nr.qid = q.qid
          |LEFT JOIN apsums a ON a.qid = q.qid""".stripMargin,
      // cdc: the same snapshot mutation, diffed by a FULL OUTER JOIN
      "q_cdc" ->
        """WITH prev AS (SELECT doc_id, text, lang FROM documents),
          | curr AS (
          |   SELECT doc_id,
          |     CASE WHEN doc_id % 7 = 0 THEN text || ' [revised]' ELSE text END AS text,
          |     lang
          |   FROM documents WHERE doc_id % 13 <> 0
          |   UNION ALL
          |   SELECT doc_id + 1000000, text, lang FROM documents WHERE doc_id % 5 = 0)
          |SELECT doc_id, op FROM (
          |  SELECT coalesce(p.doc_id, c.doc_id) AS doc_id,
          |    CASE WHEN p.doc_id IS NULL THEN 'insert'
          |         WHEN c.doc_id IS NULL THEN 'delete'
          |         WHEN NOT (p.text IS NOT DISTINCT FROM c.text
          |                   AND p.lang IS NOT DISTINCT FROM c.lang) THEN 'update'
          |    END AS op
          |  FROM prev p FULL OUTER JOIN curr c ON p.doc_id = c.doc_id)
          |WHERE op IS NOT NULL""".stripMargin,
      // funnel: the min-then-strictly-after chain unrolled as one CTE
      // per step on epoch_us BIGINT micros
      "q_funnel" ->
        """WITH e AS (SELECT user_id, event_type, epoch_us(ts)::BIGINT AS ts_us FROM events),
          | s1 AS (SELECT user_id, min(ts_us) AS ts_us FROM e
          |   WHERE event_type = 'view' GROUP BY 1),
          | s2 AS (SELECT e.user_id, min(e.ts_us) AS ts_us FROM e JOIN s1 USING (user_id)
          |   WHERE e.event_type = 'click' AND e.ts_us > s1.ts_us GROUP BY 1),
          | s3 AS (SELECT e.user_id, min(e.ts_us) AS ts_us FROM e JOIN s2 USING (user_id)
          |   WHERE e.event_type = 'purchase' AND e.ts_us > s2.ts_us GROUP BY 1)
          |SELECT user_id, 1::BIGINT AS step_idx, ts_us AS step_ts_us FROM s1
          |UNION ALL SELECT user_id, 2, ts_us FROM s2
          |UNION ALL SELECT user_id, 3, ts_us FROM s3""".stripMargin,
      // sessionization: lag/cumsum replay on epoch_us (BIGINT micros —
      // exactly Spark's unix_micros; no float or truncation anywhere)
      "q_sessions" ->
        """WITH e AS (SELECT user_id, epoch_us(ts)::BIGINT AS ts_us, event_id FROM events),
          | l AS (SELECT user_id, ts_us, event_id,
          |    lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS prev_us FROM e),
          | f AS (SELECT user_id, ts_us, event_id,
          |    CASE WHEN prev_us IS NULL OR ts_us - prev_us >= 21600000000 THEN 1 ELSE 0 END AS is_new FROM l),
          | s AS (SELECT user_id, ts_us,
          |    sum(is_new) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS session_idx FROM f)
          |SELECT user_id, session_idx, count(*)::BIGINT AS n_events,
          |  min(ts_us)::BIGINT AS start_us,
          |  (max(ts_us) - min(ts_us))::BIGINT AS span_us
          |FROM s GROUP BY 1, 2""".stripMargin,
      // backward as-of: DuckDB's NATIVE ASOF LEFT JOIN (l.ts >= r.ts,
      // ties included) — right side pre-collapsed to one row per
      // (user, instant) keeping max id, so both engines are deterministic
      "q_asof" ->
        """WITH p AS (SELECT user_id, epoch_us(ts)::BIGINT AS ts_us, event_id
          |   FROM events WHERE event_type = 'purchase'),
          | v AS (SELECT user_id, epoch_us(ts)::BIGINT AS ts_us,
          |   max(event_id) AS view_id
          |   FROM events WHERE event_type = 'view' GROUP BY 1, 2)
          |SELECT p.user_id, p.event_id AS purchase_id, p.ts_us AS purchase_us,
          |  v.view_id, v.ts_us AS view_us, (p.ts_us - v.ts_us) AS gap_us
          |FROM p ASOF LEFT JOIN v
          |  ON p.user_id = v.user_id AND p.ts_us >= v.ts_us""".stripMargin,
      // band join: the oracle is the PLAIN inequality join (DuckDB plans
      // it as IEJoin; fine at sf) — the engine's bucketed plan must be
      // pair-for-pair identical
      "q_range_join" ->
        """WITH p AS (SELECT user_id, epoch_us(ts)::BIGINT AS ts_us, event_id
          |   FROM events WHERE event_type = 'purchase'),
          | v AS (SELECT user_id, epoch_us(ts)::BIGINT AS ts_us, event_id
          |   FROM events WHERE event_type = 'view')
          |SELECT p.user_id, p.event_id AS purchase_id, v.event_id AS view_id,
          |  (p.ts_us - v.ts_us) AS delta_us
          |FROM p JOIN v ON p.user_id = v.user_id
          |  AND abs(p.ts_us - v.ts_us) <= 21600000000""".stripMargin,
      "q_anti_join" ->
        """SELECT o_orderkey FROM orders
          | WHERE NOT EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey)""".stripMargin,
      "q_doc_tokens" ->
        """SELECT doc_id,
          | len(list_filter(regexp_split_to_array(text, '\s+'), x -> len(x) > 0))::BIGINT AS ws_tokens,
          | len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\s]'))::BIGINT AS bpe_tokens,
          | greatest(1, (length(text) // 4))::BIGINT AS approx_tokens
          | FROM documents""".stripMargin,
      "q_normalize" -> {
        // same harness suffix rendered once in Scala, reaching DuckDB as
        // printable-literal||chr(n) concat (TextNorm.sqlLit) — no escaping
        // trapdoors through oracle_sql.json
        val e = graft.text.TextNorm.oracleExpr(
          "text || " + graft.text.TextNorm.sqlLit(graft.text.TextNorm.Inject))
        s"SELECT doc_id, length(n)::BIGINT AS norm_len, md5(n) AS norm_md5 " +
          s"FROM (SELECT doc_id, $e AS n FROM documents)"
      },
      "q_blocklist" -> {
        // exact positional scan of every padded phrase over the padded
        // text — counts overlapping occurrences, same as the automaton's
        // output links; phrase list rendered from the ONE frozen GateList
        val vals = graft.text.PhraseBlock.GateList
          .map(p => s"(' $p ')").mkString(", ")
        s"""WITH d AS (SELECT doc_id, ' '||text||' ' AS t FROM documents),
           | p(phrase) AS (VALUES $vals),
           | h AS (SELECT d.doc_id, p.phrase,
           |   (SELECT count(*) FROM unnest(range(1, len(d.t)-len(p.phrase)+2)) AS u(j)
           |     WHERE substr(d.t, j::INT, len(p.phrase)::INT) = p.phrase) AS c
           |   FROM d, p)
           |SELECT doc_id::VARCHAR AS doc_id, sum(c)::BIGINT AS hits_total,
           |  (count(*) FILTER (c > 0))::BIGINT AS phrases_matched,
           |  (sum(c) > 0) AS blocked,
           |  coalesce(min(trim(phrase)) FILTER (c > 0), '') AS top_phrase
           |FROM h GROUP BY doc_id""".stripMargin
      },
      "q_langid" -> {
        val langRows = Markers.keys.toSeq.sorted.map(l =>
          s"SELECT doc_id, '$l' AS lang, ${hits(l)} AS h FROM documents").mkString(" UNION ALL ")
        s"""WITH scored AS ($langRows),
           | best AS (SELECT doc_id, lang, h,
           |   row_number() OVER (PARTITION BY doc_id ORDER BY h DESC, lang DESC) AS rn
           |   FROM scored)
           |SELECT d.doc_id,
           |  CASE WHEN ($enHits) >= 3 THEN 'english' ELSE 'unknown' END AS en_id,
           |  CASE WHEN b.h >= 2 THEN b.lang ELSE 'und' END AS lang_guess
           |FROM documents d JOIN best b ON d.doc_id = b.doc_id AND b.rn = 1""".stripMargin
      },
      "q_quality" -> {
        val wsTok = "len(list_filter(regexp_split_to_array(text, '\\s+'), x -> len(x) > 0))::DOUBLE"
        s"""SELECT doc_id,
           | round(least(100.0,
           |   least(40.0, length(text)::DOUBLE / 50.0)
           |   + least(30.0, ($enHits)::DOUBLE * 5.0)
           |   + 30.0 * greatest(0.0, 1.0 - abs(len(regexp_extract_all(text, '[.,;:!?]'))::DOUBLE
           |       / greatest($wsTok, 1.0) - 0.1) * 5.0)), 2) AS quality,
           | round(greatest(0.0, least(100.0, 100.0 -
           |   (($wsTok / greatest(len(list_filter(regexp_split_to_array(text, '[.!?]+'), s -> len(trim(s)) > 0))::DOUBLE, 1.0)) * 0.5
           |    + (length(regexp_replace(text, '\\s+', '', 'g'))::DOUBLE / greatest($wsTok, 1.0)) * 2.0))), 2) AS readability
           |FROM documents""".stripMargin
      },
      "q_fingerprint" -> s"SELECT doc_id, $fp AS fp FROM documents",
      // char-bigram Shannon entropy: plain unnest+groupBy formulation of
      // the engine's shuffle-free HOF pipeline — identical math, raw
      // doubles mid-pipeline, ONE 4-dp rounding at the output.
      // range(1, len) yields 1..len-1 — exactly the bigram starts.
      "q_entropy" ->
        """WITH v AS (SELECT doc_id, text AS t FROM documents
          |  UNION ALL
          |  SELECT doc_id, repeat(substr(text, 1, 1),
          |      least(len(text), 40)) AS t
          |  FROM documents),
          | b AS (SELECT doc_id, t, substr(t, i::INT, 2) AS g
          |   FROM v, unnest(range(1, len(t))) AS u(i)),
          | c AS (SELECT doc_id, t, g, count(*)::DOUBLE AS c FROM b GROUP BY 1, 2, 3),
          | s AS (SELECT doc_id, t, sum(c * ln(c)) AS sc, sum(c) AS n
          |   FROM c GROUP BY 1, 2),
          | h AS (SELECT doc_id, t, coalesce(abs(round(ln(n) - sc / n, 4)), 0.0) AS e
          |   FROM s),
          | base AS (SELECT d.doc_id, (len(d.text) - 1)::BIGINT AS n_bigrams,
          |    coalesce(h.e, 0.0) AS bigram_entropy
          |   FROM documents d LEFT JOIN h ON h.doc_id = d.doc_id AND h.t = d.text),
          | degen AS (SELECT d.doc_id, coalesce(h.e, 0.0) AS degenerate_entropy
          |   FROM documents d LEFT JOIN h
          |     ON h.doc_id = d.doc_id
          |     AND h.t = repeat(substr(d.text, 1, 1), least(len(d.text), 40)))
          |SELECT b.doc_id, b.n_bigrams, b.bigram_entropy, g.degenerate_entropy
          |FROM base b JOIN degen g ON g.doc_id = b.doc_id""".stripMargin,
      // quality rule gate over the every-10th-doc-doubled harness; reasons
      // assembled in the operator's fixed rule order
      "q_quality_filter" ->
        """WITH h AS (SELECT doc_id,
          |    CASE WHEN doc_id % 10 = 0 THEN text || chr(10) || text ELSE text END AS t
          |  FROM documents),
          | lines AS (SELECT doc_id, trim(l, ' ' || chr(9) || chr(10) || chr(13) || chr(12) || chr(11)) AS l FROM (
          |    SELECT doc_id, unnest(regexp_split_to_array(t, '\n')) AS l FROM h)
          |  WHERE len(trim(l, ' ' || chr(9) || chr(10) || chr(13) || chr(12) || chr(11))) > 0),
          | ls AS (SELECT doc_id, count(*) AS n, count(DISTINCT l) AS d FROM lines GROUP BY 1),
          | tk AS (SELECT doc_id, list_filter(regexp_split_to_array(lower(t), '[^a-z0-9]+'), x -> len(x) > 0) AS toks FROM h),
          | g AS (SELECT doc_id, unnest(list_transform(range(1, len(toks) - 3), i -> array_to_string(toks[i:i+4], ' '))) AS gr
          |   FROM tk WHERE len(toks) >= 5),
          | gs AS (SELECT doc_id, count(*) AS n, count(DISTINCT gr) AS d FROM g GROUP BY 1),
          | wc AS (SELECT doc_id, w, count(*) AS c FROM (SELECT doc_id, unnest(toks) AS w FROM tk) GROUP BY 1, 2),
          | wst AS (SELECT doc_id, max(c) AS mx, sum(c) AS tot FROM wc GROUP BY 1),
          | wsn AS (SELECT doc_id, len(list_filter(regexp_split_to_array(t, '\s+'), x -> len(x) > 0)) AS ws FROM h),
          | m AS (SELECT d.doc_id, wsn.ws,
          |    coalesce(1.0 - ls.d::DOUBLE / ls.n, 0.0) AS dl,
          |    coalesce(1.0 - gs.d::DOUBLE / gs.n, 0.0) AS d5,
          |    coalesce(wst.mx::DOUBLE / wst.tot, 0.0) AS tw
          |  FROM documents d
          |  JOIN wsn ON wsn.doc_id = d.doc_id
          |  LEFT JOIN ls ON ls.doc_id = d.doc_id
          |  LEFT JOIN gs ON gs.doc_id = d.doc_id
          |  LEFT JOIN wst ON wst.doc_id = d.doc_id),
          | r AS (SELECT doc_id, coalesce(array_to_string(list_filter([
          |    CASE WHEN ws < 20 THEN 'too_few_words' END,
          |    CASE WHEN ws > 100000 THEN 'too_many_words' END,
          |    CASE WHEN dl > 0.05 THEN 'too_repetitive_lines' END,
          |    CASE WHEN d5 > 0.15 THEN 'too_repetitive_5grams' END,
          |    CASE WHEN tw > 0.2 THEN 'dominant_word' END
          |  ], x -> x IS NOT NULL), ','), '') AS reasons FROM m)
          |SELECT doc_id, reasons = '' AS keep, reasons FROM r""".stripMargin,
      // repetition ratios over the doubled harness; tokenizer == MinHash's
      "q_rep_ratios" ->
        """WITH h AS (SELECT doc_id, text || chr(10) || text AS t FROM documents),
          | lines AS (SELECT doc_id, trim(l, ' ' || chr(9) || chr(10) || chr(13) || chr(12) || chr(11)) AS l FROM (
          |    SELECT doc_id, unnest(regexp_split_to_array(t, '\n')) AS l FROM h)
          |  WHERE len(trim(l, ' ' || chr(9) || chr(10) || chr(13) || chr(12) || chr(11))) > 0),
          | ls AS (SELECT doc_id, count(*) AS n, count(DISTINCT l) AS d FROM lines GROUP BY 1),
          | tk AS (SELECT doc_id, list_filter(regexp_split_to_array(lower(t), '[^a-z0-9]+'), x -> len(x) > 0) AS toks FROM h),
          | g AS (SELECT doc_id, unnest(list_transform(range(1, len(toks) - 3), i -> array_to_string(toks[i:i+4], ' '))) AS gr
          |   FROM tk WHERE len(toks) >= 5),
          | gs AS (SELECT doc_id, count(*) AS n, count(DISTINCT gr) AS d FROM g GROUP BY 1),
          | wc AS (SELECT doc_id, w, count(*) AS c FROM (SELECT doc_id, unnest(toks) AS w FROM tk) GROUP BY 1, 2),
          | ws AS (SELECT doc_id, max(c) AS mx, sum(c) AS tot FROM wc GROUP BY 1)
          |SELECT d.doc_id,
          |  round(coalesce(1.0 - ls.d::DOUBLE / ls.n, 0.0), 6) AS dup_line_frac,
          |  round(coalesce(1.0 - gs.d::DOUBLE / gs.n, 0.0), 6) AS dup_5gram_frac,
          |  round(coalesce(ws.mx::DOUBLE / ws.tot, 0.0), 6) AS top_word_frac
          |FROM documents d
          |LEFT JOIN ls ON ls.doc_id = d.doc_id
          |LEFT JOIN gs ON gs.doc_id = d.doc_id
          |LEFT JOIN ws ON ws.doc_id = d.doc_id""".stripMargin,
      "q_dedup_exact" ->
        s"""WITH f AS (SELECT doc_id, $fp AS fp FROM documents)
           |SELECT doc_id,
           |  row_number() OVER (PARTITION BY fp ORDER BY doc_id) > 1 AS is_duplicate,
           |  first_value(doc_id) OVER (PARTITION BY fp ORDER BY doc_id) AS duplicate_of
           |FROM f""".stripMargin,
      "q_chunk_fallback" ->
        """SELECT doc_id, 1::INT AS n_chunks, trim(text, ' ' || chr(9) || chr(10) || chr(13) || chr(12) || chr(11)) AS chunk0 FROM documents
          | WHERE regexp_matches(text, '\S') AND NOT regexp_matches(text, '\n\s*\n')""".stripMargin,
      // CORPUS-CLEANLINESS PRECONDITION (q_chunk_words / q_chunk_pages /
      // q_billing): these closed-form oracles assume documents.text has no
      // leading/trailing whitespace and no control chars — true of the
      // driver's generated corpus. They approximate Java semantics in DuckDB
      // (trim(' \t\n\r\f\v') vs String.trim's <= 0x20 set; RE2 '\s' vs Java
      // \s differ on U+000B), so a future corpus with edge whitespace or
      // control chars would need the same whitespace-shape filter mirrored
      // on BOTH sides before trusting the hash gate.
      //
      // planted two-paragraph doc (p = whitespace-trimmed text, twice; the
      // trim set mirrors Java String.trim for realistic whitespace): budget 300,
      // overlap 50, min 20 — closed form per the reference loop:
      //   2w <= 300          -> 1 chunk  "p\n\np"        (kept iff 2w >= 20)
      //   2w  > 300          -> 2 chunks "p", last50(p)+"\n\n"+p
      "q_chunk_words" ->
        """WITH d AS (SELECT doc_id, trim(text, ' ' || chr(9) || chr(10) || chr(13) || chr(12) || chr(11)) AS p,
          |    list_filter(regexp_split_to_array(text, '\s+'), x -> len(x) > 0) AS ws
          |  FROM documents
          |  WHERE regexp_matches(text, '\S') AND NOT regexp_matches(text, '\n\s*\n')),
          | w AS (SELECT doc_id, p, ws, len(ws)::INT AS w FROM d)
          |SELECT doc_id, 0::INT AS chunk_index, 1::INT AS n_chunks,
          |  p || chr(10) || chr(10) || p AS chunk
          |FROM w WHERE 2*w <= 300 AND 2*w >= 20
          |UNION ALL
          |SELECT doc_id, 0::INT, 2::INT, p FROM w WHERE 2*w > 300
          |UNION ALL
          |SELECT doc_id, 1::INT, 2::INT,
          |  array_to_string(ws[greatest(1, w - 49):w], ' ') || chr(10) || chr(10) || p
          |FROM w WHERE 2*w > 300""".stripMargin,
      // two planted pages p,p: first joins (0 + w < 1000 for w < 1000, else
      // emits nothing and restarts); buffer keeps its trailing joiner, so the
      // second para merges iff (w+2) + w < 1000
      "q_chunk_pages" ->
        """WITH d AS (SELECT doc_id, trim(text, ' ' || chr(9) || chr(10) || chr(13) || chr(12) || chr(11)) AS p, length(trim(text, ' ' || chr(9) || chr(10) || chr(13) || chr(12) || chr(11)))::INT AS w
          |  FROM documents
          |  WHERE regexp_matches(text, '\S') AND NOT regexp_matches(text, '\n\s*\n'))
          |SELECT doc_id, 0::INT AS chunk_index, 1::INT AS n_chunks,
          |  p || chr(10) || chr(10) || p AS chunk
          |FROM d WHERE 2*w + 2 < 1000
          |UNION ALL
          |SELECT doc_id, i::INT, 2::INT, p FROM d
          |CROSS JOIN (SELECT unnest([0, 1]) AS i) WHERE 2*w + 2 >= 1000""".stripMargin,
      "q_sniff" ->
        """SELECT doc_id, CASE doc_id % 3 WHEN 0 THEN 'pdf' WHEN 1 THEN 'html'
          | ELSE 'unknown' END AS kind FROM documents""".stripMargin,
      "q_extract_html" ->
        s"""SELECT doc_id, text AS extracted FROM documents
           | WHERE $effGate
           | AND len(list_filter(regexp_split_to_array(text, '\\s+'), x -> len(x) > 0)) >= 3""".stripMargin,
      "q_extract_pdf" ->
        s"SELECT doc_id, text AS extracted FROM documents WHERE $effGate",
      // hyperlink extraction: the article template's closed-form link
      // table (host-parameterized chrome + the two fixed related links)
      "q_links" ->
        """WITH d AS (SELECT doc_id, (doc_id % 97)::VARCHAR AS h FROM documents),
          | l AS (
          |      SELECT doc_id, 1::BIGINT AS pos, '/' AS href, 'host' || h || '.example' AS anchor FROM d
          |  UNION ALL SELECT doc_id, 2, '/', 'Home' FROM d
          |  UNION ALL SELECT doc_id, 3, '/about', 'About h' || h FROM d
          |  UNION ALL SELECT doc_id, 4, '/archive', 'Archive' FROM d
          |  UNION ALL SELECT doc_id, 5, '/contact', 'Contact' FROM d
          |  UNION ALL SELECT doc_id, 6, '/r/alpha-beta-related', 'alpha beta related' FROM d
          |  UNION ALL SELECT doc_id, 7, '/r/gamma-delta-entry', 'gamma delta entry' FROM d
          |  UNION ALL SELECT doc_id, 8, '/terms', 'Terms' FROM d
          |  UNION ALL SELECT doc_id, 9, '/privacy', 'Privacy' FROM d
          |  UNION ALL SELECT doc_id, 10, '/rss', 'RSS' FROM d)
          |SELECT doc_id, pos, href, anchor FROM l""".stripMargin,
      // one span covering the whole extracted text, per kind — the offset
      // form of the byte-identity contract
      "q_spans" ->
        s"""SELECT doc_id, k AS kind, 1 AS n_spans, 0 AS span_start,
           |  length(text)::INT AS span_end
           |FROM documents CROSS JOIN (SELECT unnest(['html', 'pdf']) AS k)
           |WHERE $effGate
           |  AND len(list_filter(regexp_split_to_array(text, '\\s+'), x -> len(x) > 0)) >= 3""".stripMargin,
      "q_facet_cube" ->
        """SELECT lang, source, count(*) AS cnt, round(avg(n_chars),2) AS avg_chars
          | FROM documents GROUP BY CUBE (lang, source)""".stripMargin,
      "q_doctype" ->
        """SELECT doc_id, CASE
          | WHEN regexp_matches(text, '(^|[^a-z0-9])stream([^a-z0-9]|$)') THEN 'streaming'
          | WHEN regexp_matches(text, '(^|[^a-z0-9])window([^a-z0-9]|$)') THEN 'windowed'
          | WHEN regexp_matches(text, '(^|[^a-z0-9])join([^a-z0-9]|$)') THEN 'relational'
          | ELSE 'other' END AS doc_type FROM documents""".stripMargin,
      "q_dup_groups" ->
        s"""WITH both_t AS (
           |  SELECT doc_id, text FROM documents
           |  UNION ALL SELECT doc_id + 500000, text FROM documents),
           | f AS (SELECT doc_id, $fp AS fp FROM both_t)
           |SELECT fp, count(*) AS cnt, min(doc_id) AS first_doc
           |FROM f GROUP BY fp HAVING count(*) > 1""".stripMargin,
      "q_facet_lookup" ->
        """SELECT doc_id, n_chars FROM documents
          | WHERE lang = 'en' AND source = 'src3' ORDER BY doc_id LIMIT 20""".stripMargin,
      "q_min_words" ->
        """SELECT doc_id FROM documents
          | WHERE len(list_filter(regexp_split_to_array(text, '\s+'), x -> len(x) > 0)) >= 20""".stripMargin,
      // path_meta rules replicated field by field over the same harness
      // parts (the engine joins them with '/' and re-splits — equivalent,
      // since no part contains a slash)
      "q_path_meta" ->
        """WITH h AS (SELECT doc_id, source AS dept,
          |   CASE doc_id % 4 WHEN 0 THEN 'Level 100' WHEN 1 THEN '200 Level'
          |     WHEN 2 THEN 'lvl' ELSE 'LEVEL300' END AS level_raw,
          |   CASE doc_id % 5 WHEN 0 THEN 'SEM1' WHEN 1 THEN 'Second'
          |     WHEN 2 THEN '1' WHEN 3 THEN 'Semester 2' ELSE 'fall' END AS sem_raw,
          |   CASE doc_id % 3 WHEN 0 THEN 'CS 101' WHEN 1 THEN 'PQS' ELSE 'GENERAL' END AS folder,
          |   CASE WHEN doc_id % 3 = 1 THEN 'MTH-305 past questions.pdf'
          |     WHEN doc_id % 7 = 0 THEN '.hidden'
          |     WHEN doc_id % 7 = 1 THEN 'file.'
          |     ELSE 'notes' || doc_id::VARCHAR || '.pdf' END AS fname
          |  FROM documents),
          | f AS (SELECT doc_id, dept, folder, fname,
          |   regexp_extract(regexp_replace(level_raw, '(?i)level', '', 'g'),
          |     '(100|200|300|400|500)', 1) AS level0,
          |   CASE upper(replace(trim(sem_raw), ' ', ''))
          |     WHEN '1' THEN '1' WHEN '2' THEN '2' WHEN 'FIRST' THEN '1'
          |     WHEN 'SECOND' THEN '2' WHEN 'SEM1' THEN '1' WHEN 'SEM2' THEN '2'
          |     WHEN 'SEMESTER1' THEN '1' WHEN 'SEMESTER2' THEN '2' ELSE '' END AS semester,
          |   regexp_replace(fname, '(.)\.[^.]+$', '\1') AS stem
          |  FROM h),
          | c AS (SELECT *,
          |   regexp_extract(folder, '([A-Za-z]{2,})\s*[-_ ]*\s*([0-9]{2,3})', 1) AS cf,
          |   regexp_extract(folder, '([A-Za-z]{2,})\s*[-_ ]*\s*([0-9]{2,3})', 2) AS nf,
          |   regexp_extract(stem, '([A-Za-z]{2,})\s*[-_ ]*\s*([0-9]{2,3})', 1) AS cs,
          |   regexp_extract(stem, '([A-Za-z]{2,})\s*[-_ ]*\s*([0-9]{2,3})', 2) AS ns
          |  FROM f),
          | m AS (SELECT doc_id, dept, folder, fname, level0, semester, stem,
          |   upper(CASE WHEN cf <> '' AND nf <> '' THEN cf ELSE cs END) AS code,
          |   CASE WHEN cf <> '' AND nf <> '' THEN nf ELSE ns END AS num
          |  FROM c)
          |SELECT doc_id, dept AS department,
          |  CASE WHEN level0 = '' AND len(num) >= 3
          |         AND substr(num, 1, 1) IN ('1','2','3','4','5')
          |       THEN substr(num, 1, 1) || '00' ELSE level0 END AS level,
          |  semester,
          |  CASE WHEN upper(folder) IN ('PQ','PQS','PASTQUESTIONS')
          |         OR contains(upper(fname), 'PQ')
          |         OR contains(upper(fname), 'PAST QUESTION') THEN 'PQ'
          |       WHEN upper(folder) = 'GENERAL' THEN 'GENERAL' ELSE '' END AS category,
          |  code AS course_code, num AS course_number, stem,
          |  CASE WHEN dept <> '' AND code <> '' AND num <> '' THEN dept || '-' || code || '-' || num
          |       WHEN code <> '' AND num <> '' THEN code || '-' || num
          |       WHEN dept <> '' THEN dept
          |       WHEN code <> '' THEN code ELSE 'MISC' END AS group_key
          |FROM m""".stripMargin,
      "q_url_facets" ->
        """WITH u AS (SELECT doc_id,
          |  'https://host' || (doc_id % 97)::VARCHAR || '.example/' || source || '/item' || doc_id::VARCHAR AS url
          |  FROM documents)
          |SELECT doc_id,
          |  regexp_extract(url, '^[a-z]+://([^/]+)', 1) AS host,
          |  regexp_extract(url, '^[a-z]+://[^/]+/([^/]+)', 1) AS top_dir,
          |  regexp_extract(url, '/([^/]+)$', 1) AS leaf,
          |  len(list_filter(regexp_split_to_array(regexp_replace(url, '^[a-z]+://[^/]*', ''), '/'), s -> len(s) > 0))::BIGINT AS depth
          |FROM u""".stripMargin,
      // the Spark side's RE2-safe regex chain, replicated operator-for-
      // operator (DuckDB regexp_replace needs the explicit 'g' flag where
      // Spark is always-global; anchored patterns match at most once so the
      // default single-replace is identical there)
      "q_url_canon" ->
        """WITH raw AS (SELECT doc_id,
          |    (CASE WHEN doc_id % 2 = 0 THEN 'HTTPS://' ELSE 'https://' END) ||
          |    (CASE WHEN doc_id % 4 < 2 THEN 'Example.COM' ELSE 'example.com' END) ||
          |    (CASE WHEN doc_id % 8 = 1 THEN ':443' ELSE '' END) ||
          |    '/Item/' || (doc_id % 50)::VARCHAR ||
          |    (CASE WHEN doc_id % 3 = 1 THEN '?utm_source=feed&page=2'
          |          WHEN doc_id % 3 = 2 THEN '?page=2&utm_campaign=x&gclid=abc'
          |          ELSE '' END) ||
          |    (CASE WHEN doc_id % 7 = 1 THEN '#Section-2' ELSE '' END) AS url
          |  FROM documents),
          | c0 AS (SELECT doc_id, url, regexp_replace(url, '#.*$', '') AS u FROM raw),
          | c1 AS (SELECT doc_id, url,
          |   lower(regexp_extract(u, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*')) ||
          |   regexp_replace(u, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*', '') AS u FROM c0),
          | c2 AS (SELECT doc_id, url,
          |   regexp_replace(regexp_replace(u, '^(https://[^/:?#]*):443([/?]|$)', '\1\2'),
          |                  '^(http://[^/:?#]*):80([/?]|$)', '\1\2') AS u FROM c1),
          | c3 AS (SELECT doc_id, url,
          |   regexp_replace(u, '&(utm_[^=&#]*|fbclid|gclid)=[^&#]*', '', 'g') AS u FROM c2),
          | c4 AS (SELECT doc_id, url,
          |   regexp_replace(u, '\?(utm_[^=&#]*|fbclid|gclid)=[^&#]*&', '?') AS u FROM c3),
          | c5 AS (SELECT doc_id, url,
          |   regexp_replace(u, '\?(utm_[^=&#]*|fbclid|gclid)=[^&#]*$', '') AS u FROM c4),
          | c6 AS (SELECT doc_id, url, regexp_replace(u, '\?$', '') AS canon FROM c5)
          |SELECT doc_id, url, canon,
          |  count(*) OVER (PARTITION BY canon) AS n_same FROM c6""".stripMargin,
      // rank over the ROUNDED bm25 scores (ties -> smaller doc), prefix-
      // truncating token-budget selection: cum tokens monotone, so
      // cum <= budget IS "stop at the first overflow"
      // champion lists: integer top-25-by-tf per query term (rank window),
      // candidate union, exact bm25 body semi-joined to it
      "q_champions" ->
        """WITH toks AS (
          |  SELECT doc_id AS doc,
          |    unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> len(x) > 0)) AS term
          |  FROM documents),
          | tf AS (SELECT doc, term, count(*)::DOUBLE AS tf FROM toks GROUP BY 1,2),
          | dl AS (SELECT doc, count(*)::DOUBLE AS dl FROM toks GROUP BY 1),
          | stats AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
          | q(term) AS (SELECT unnest(['spark','filter','join','table'])),
          | df AS (SELECT term, count(DISTINCT doc)::DOUBLE AS df FROM tf JOIN q USING(term) GROUP BY 1),
          | champ AS (SELECT DISTINCT doc FROM (
          |    SELECT tf.doc, row_number() OVER (PARTITION BY tf.term ORDER BY tf.tf DESC, tf.doc) AS rn
          |    FROM tf JOIN q USING(term)) WHERE rn <= 25)
          |SELECT doc, round(sum(
          |  ln(1.0 + (n - df + 0.5) / (df + 0.5))
          |  * (tf * (1.2 + 1.0)) / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))), 4) AS score
          |FROM tf JOIN q USING(term) JOIN df USING(term) JOIN dl USING(doc) CROSS JOIN stats
          |JOIN champ USING(doc)
          |GROUP BY doc""".stripMargin,
      // MaxScore: pruning is provably lossless, so the oracle replays only
      // the FULL scoring + the rounded top-10 cut (score DESC, doc) —
      // row_number over a strict total order == Spark's orderBy+limit
      "q_maxscore" ->
        """WITH toks AS (
          |  SELECT doc_id AS doc,
          |    unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> len(x) > 0)) AS term
          |  FROM documents),
          | tf AS (SELECT doc, term, count(*)::DOUBLE AS tf FROM toks GROUP BY 1,2),
          | dl AS (SELECT doc, count(*)::DOUBLE AS dl FROM toks GROUP BY 1),
          | stats AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
          | q(term) AS (SELECT unnest(['spark','filter','join','table'])),
          | df AS (SELECT term, count(DISTINCT doc)::DOUBLE AS df FROM tf JOIN q USING(term) GROUP BY 1),
          | sc AS (SELECT doc, round(sum(
          |   ln(1.0 + (n - df + 0.5) / (df + 0.5))
          |   * (tf * (1.2 + 1.0)) / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))), 4) AS score
          |  FROM tf JOIN q USING(term) JOIN df USING(term) JOIN dl USING(doc) CROSS JOIN stats
          |  GROUP BY doc)
          |SELECT doc, score FROM (
          |  SELECT doc, score, row_number() OVER (ORDER BY score DESC, doc) AS rn FROM sc)
          |WHERE rn <= 10""".stripMargin,
      // Block-Max WAND: the per-block bound is equally lossless, so the
      // oracle is the SAME full scoring with the rounded top-20 cut —
      // any doc a block bound wrongly pruned would hash-mismatch here
      "q_bmw" ->
        """WITH toks AS (
          |  SELECT doc_id AS doc,
          |    unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> len(x) > 0)) AS term
          |  FROM documents),
          | tf AS (SELECT doc, term, count(*)::DOUBLE AS tf FROM toks GROUP BY 1,2),
          | dl AS (SELECT doc, count(*)::DOUBLE AS dl FROM toks GROUP BY 1),
          | stats AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
          | q(term) AS (SELECT unnest(['spark','filter','join','table'])),
          | df AS (SELECT term, count(DISTINCT doc)::DOUBLE AS df FROM tf JOIN q USING(term) GROUP BY 1),
          | sc AS (SELECT doc, round(sum(
          |   ln(1.0 + (n - df + 0.5) / (df + 0.5))
          |   * (tf * (1.2 + 1.0)) / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))), 4) AS score
          |  FROM tf JOIN q USING(term) JOIN df USING(term) JOIN dl USING(doc) CROSS JOIN stats
          |  GROUP BY doc)
          |SELECT doc, score FROM (
          |  SELECT doc, score, row_number() OVER (ORDER BY score DESC, doc) AS rn FROM sc)
          |WHERE rn <= 20""".stripMargin,
      // blocked delta+varint postings: LEB128 byte lengths by 7-bit range
      // cases (FULL closed form to 9 bytes — ids are BIGINT, so the CASE
      // must cover 2^63, not just this corpus's id range); byte sums as
      // Σ (d >> 7i & 127) + 128·(len−1) — shifts past the top byte
      // contribute 0, so the payload sum needs no CASE
      "q_varint" ->
        """WITH toks AS (
          |  SELECT doc_id AS doc,
          |    unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> len(x) > 0)) AS term
          |  FROM documents),
          | tf AS (SELECT doc, term, count(*)::BIGINT AS tf FROM toks GROUP BY 1, 2),
          | r AS (SELECT term, doc, tf,
          |    row_number() OVER (PARTITION BY term ORDER BY doc) - 1 AS rn FROM tf),
          | del AS (SELECT term, rn // 128 AS block, tf,
          |    CASE WHEN rn % 128 = 0 THEN doc
          |         ELSE doc - lag(doc) OVER (PARTITION BY term ORDER BY doc) END AS d
          |   FROM r),
          | vb AS (SELECT term, block, tf, d,
          |    CASE WHEN d < 128 THEN 1 WHEN d < 16384 THEN 2 WHEN d < 2097152 THEN 3
          |         WHEN d < 268435456 THEN 4 WHEN d < 34359738368 THEN 5
          |         WHEN d < 4398046511104 THEN 6 WHEN d < 562949953421312 THEN 7
          |         WHEN d < 72057594037927936 THEN 8 ELSE 9 END AS len,
          |    (d & 127) + ((d >> 7) & 127) + ((d >> 14) & 127)
          |      + ((d >> 21) & 127) + ((d >> 28) & 127) + ((d >> 35) & 127)
          |      + ((d >> 42) & 127) + ((d >> 49) & 127) + ((d >> 56) & 127) AS payload
          |   FROM del)
          |SELECT term, block, count(*)::BIGINT AS n_docs, max(tf) AS max_tf,
          |  sum(len)::BIGINT AS n_bytes,
          |  sum(payload + 128 * (len - 1))::BIGINT AS byte_sum
          |FROM vb GROUP BY 1, 2""".stripMargin,
      // Naive Bayes: counts replayed exactly; docs_c/N derive from the
      // TOKEN relation on both sides (token-empty docs carry no class
      // evidence); test terms inner-join the vocab grid (OOV ignored)
      "q_nb" ->
        """WITH trt AS (
          |  SELECT doc_id AS doc, lang AS class,
          |    unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> len(x) > 0)) AS term
          |  FROM documents WHERE doc_id % 2 = 0),
          | tf AS (SELECT doc, class, term, count(*)::BIGINT AS tf FROM trt GROUP BY 1, 2, 3),
          | ct AS (SELECT class, term, sum(tf)::BIGINT AS cnt FROM tf GROUP BY 1, 2),
          | tot AS (SELECT class, sum(cnt)::BIGINT AS tokens_c FROM ct GROUP BY 1),
          | dpc AS (SELECT class, count(DISTINCT doc)::DOUBLE AS docs_c FROM tf GROUP BY 1),
          | ns AS (SELECT sum(docs_c) AS n, count(*)::DOUBLE AS c FROM dpc),
          | vocab AS (SELECT DISTINCT term FROM ct),
          | vs AS (SELECT count(*)::DOUBLE AS v FROM vocab),
          | grid AS (SELECT vocab.term, tot.class,
          |    ln(coalesce(cnt, 0) + 1.0) - ln(tokens_c + v) AS ln_theta
          |   FROM vocab CROSS JOIN tot
          |   LEFT JOIN ct ON ct.term = vocab.term AND ct.class = tot.class
          |   CROSS JOIN vs),
          | pri AS (SELECT class, ln(docs_c + 1.0) - ln(n + c) AS ln_prior
          |   FROM dpc CROSS JOIN ns),
          | te AS (SELECT doc_id AS doc,
          |    unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> len(x) > 0)) AS term
          |  FROM documents WHERE doc_id % 2 = 1),
          | ttf AS (SELECT doc, term, count(*)::DOUBLE AS tf FROM te GROUP BY 1, 2),
          | sc AS (SELECT doc, grid.class AS class, sum(tf * ln_theta) AS ll
          |   FROM ttf JOIN grid USING (term) GROUP BY 1, 2)
          |SELECT doc AS doc_id, sc.class AS class, round(ll + ln_prior, 2) AS score
          |FROM sc JOIN pri ON pri.class = sc.class""".stripMargin,
      // bigram LM: counts replayed exactly (in-doc adjacent pairs via
      // 1-based list indexing over range — pairs never cross docs); the
      // vocab-context inner join skips OOV contexts on both engines; the
      // add-one arithmetic is raw doubles rounded once at 2dp
      "q_bigram_lm" ->
        """WITH tr AS (
          |  SELECT list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> len(x) > 0) AS ts
          |  FROM documents WHERE doc_id % 2 = 0),
          | big AS (SELECT t.ts[j] AS u, t.ts[j+1] AS w FROM tr t, unnest(range(1, len(t.ts))) AS r(j)),
          | c2 AS (SELECT u, w, count(*)::BIGINT AS cnt_uw FROM big GROUP BY 1, 2),
          | c1 AS (SELECT unnest(ts) AS u FROM tr),
          | cu AS (SELECT u, count(*)::BIGINT AS cnt_u FROM c1 GROUP BY 1),
          | vs AS (SELECT count(*)::DOUBLE AS v FROM cu),
          | te AS (SELECT doc_id AS doc, list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> len(x) > 0) AS ts
          |  FROM documents WHERE doc_id % 2 = 1),
          | tb AS (SELECT doc, t.ts[j] AS u, t.ts[j+1] AS w FROM te t, unnest(range(1, len(t.ts))) AS r(j)),
          | sc AS (SELECT doc, count(*)::BIGINT AS n_scored,
          |     sum(ln(coalesce(cnt_uw, 0) + 1.0) - ln(cnt_u + v)) AS ll
          |   FROM tb JOIN cu USING(u) LEFT JOIN c2 ON c2.u = tb.u AND c2.w = tb.w CROSS JOIN vs
          |   GROUP BY doc)
          |SELECT doc AS doc_id, n_scored, round(ll, 2) AS score FROM sc""".stripMargin,
      // SymSpell: the oracle brute-forces levenshtein <= 1 over the full
      // vocab cross query terms — any candidate the deletion-key join
      // missed (or invented) hash-mismatches
      "q_spell" ->
        """WITH toks AS (
          |  SELECT unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> len(x) > 0)) AS term
          |  FROM documents),
          | cu AS (SELECT term, count(*)::BIGINT AS cnt FROM toks GROUP BY 1),
          | q(qterm) AS (SELECT unnest(['sparc','filtr','joln','scam','colum','fash'])),
          | cand AS (SELECT qterm, term, cnt FROM cu CROSS JOIN q
          |   WHERE levenshtein(term, qterm) <= 1),
          | r AS (SELECT qterm, term, cnt,
          |    row_number() OVER (PARTITION BY qterm ORDER BY cnt DESC, term) AS rank
          |   FROM cand)
          |SELECT qterm, term, cnt, rank FROM r WHERE rank <= 3""".stripMargin,
      // front-coded dictionary: lcp by monotone prefix counting (count of
      // equal-prefix lengths == lcp), varint lengths/sums by the q_varint
      // 7-bit arithmetic — 2-byte CASE suffices because the encoder
      // rejects terms ≥ 2^14 chars; suffix byte sums are ascii codepoint
      // sums (the tokenizer emits [a-z0-9] only)
      "q_frontcode" ->
        """WITH toks AS (
          |  SELECT unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> len(x) > 0)) AS term
          |  FROM documents),
          | v AS (SELECT DISTINCT term FROM toks),
          | r AS (SELECT term, row_number() OVER (ORDER BY term) - 1 AS rank0,
          |        lag(term) OVER (ORDER BY term) AS prev FROM v),
          | f AS (SELECT term, rank0 // 8 AS block, rank0 % 8 AS pos,
          |        CASE WHEN rank0 % 8 = 0 THEN 0
          |             ELSE len(list_filter(range(1, least(len(term), len(prev)) + 1),
          |                      i -> substr(term, 1, i) = substr(prev, 1, i))) END AS lcp
          |       FROM r),
          | e AS (SELECT term, block, pos, lcp, substr(term, lcp + 1) AS suffix FROM f)
          |SELECT term, block, pos, lcp::BIGINT AS lcp, suffix,
          |  ((CASE WHEN lcp < 128 THEN 1 ELSE 2 END)
          |   + (CASE WHEN len(suffix) < 128 THEN 1 ELSE 2 END) + len(suffix))::BIGINT AS n_bytes,
          |  (((lcp & 127) + ((lcp >> 7) & 127) + 128 * (CASE WHEN lcp < 128 THEN 0 ELSE 1 END))
          |   + ((len(suffix) & 127) + ((len(suffix) >> 7) & 127) + 128 * (CASE WHEN len(suffix) < 128 THEN 0 ELSE 1 END))
          |   + coalesce(list_aggregate(list_transform(string_split(suffix, ''), x -> unicode(x)), 'sum'), 0))::BIGINT AS byte_sum
          |FROM e""".stripMargin,
      // sitemap round-trip: the oracle replays the harness's construction
      // arithmetic (raw '&' — the parser must decode the &amp; the
      // builder wrote); NULLs where the optional fields were omitted
      "q_sitemap" ->
        """SELECT 'host' || (doc_id % 97)::VARCHAR || '.example' AS host,
          |  'url' AS kind,
          |  'https://host' || (doc_id % 97)::VARCHAR || '.example/doc/' || doc_id::VARCHAR
          |    || '?a=1&b=' || (doc_id % 7)::VARCHAR AS loc,
          |  CASE WHEN doc_id % 3 <> 0
          |       THEN '2026-01-' || lpad(((doc_id % 28) + 1)::VARCHAR, 2, '0') END AS lastmod,
          |  CASE WHEN doc_id % 4 <> 0 THEN '0.' || (doc_id % 10)::VARCHAR END AS priority
          |FROM documents""".stripMargin,
      // sitemap → frontier composition: construction arithmetic feeds the
      // per-host (priority DESC, url) rank × delay replay in one statement
      "q_sitemap_frontier" ->
        """WITH u AS (SELECT
          |   'https://host' || (doc_id % 97)::VARCHAR || '.example/doc/' || doc_id::VARCHAR
          |     || '?a=1&b=' || (doc_id % 7)::VARCHAR AS url,
          |   'host' || (doc_id % 97)::VARCHAR || '.example' AS host,
          |   (CASE WHEN doc_id % 4 <> 0 THEN doc_id % 10 ELSE 0 END)::BIGINT AS priority
          |  FROM documents),
          | r AS (SELECT url, host, priority,
          |    row_number() OVER (PARTITION BY host ORDER BY priority DESC, url) AS rn FROM u)
          |SELECT url, host, priority, (rn - 1)::BIGINT AS slot,
          |  ((rn - 1) * 250)::BIGINT AS fetch_at_ms
          |FROM r WHERE rn <= 3""".stripMargin,
      "q_textrank" -> textRankOracleSql(iters = 6, topK = 2),
      // BM25F: the fielded arithmetic replayed — weighted normalized field
      // tfs summed per (doc, term) before the single saturation; df/N on
      // whole-doc presence; field params embedded as exact decimals
      "q_bm25f" ->
        """WITH nn AS (SELECT count(*)::BIGINT AS cnt FROM documents),
          | e0 AS (SELECT doc_id AS src, ((doc_id * doc_id + j) % cnt) AS d0, cnt, j
          |   FROM documents, nn, unnest([1, 2, 3]) AS t(j)),
          | eq AS (SELECT src, CASE WHEN d0 = src THEN (d0 + 1) % cnt ELSE d0 END AS dst,
          |   'anch' || ((src + j) % 13)::VARCHAR AS a FROM e0),
          | anch AS (SELECT dst::VARCHAR AS doc, 'anchor' AS field,
          |   array_to_string(list_sort(list(a)), ' ') AS text FROM eq GROUP BY dst),
          | fields AS (SELECT doc_id::VARCHAR AS doc, 'body' AS field, text FROM documents
          |   UNION ALL SELECT doc, field, text FROM anch),
          | toks AS (SELECT doc, field,
          |   unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> len(x) > 0)) AS term
          |  FROM fields),
          | tf AS (SELECT doc, field, term, count(*)::BIGINT AS tf FROM toks GROUP BY 1, 2, 3),
          | flen AS (SELECT doc, field, count(*)::DOUBLE AS flen FROM toks GROUP BY 1, 2),
          | avglen AS (SELECT field, avg(flen) AS avgflen FROM flen GROUP BY 1),
          | nstat AS (SELECT count(DISTINCT doc)::DOUBLE AS n FROM flen),
          | q(term) AS (SELECT unnest(['spark', 'filter', 'join', 'anch5'])),
          | qtf AS (SELECT tf.doc, tf.field, tf.term, tf.tf FROM tf JOIN q USING(term)),
          | dfq AS (SELECT term, count(DISTINCT doc)::DOUBLE AS df FROM qtf GROUP BY 1),
          | p(field, w, b) AS (VALUES ('body', 1.0, 0.75), ('anchor', 2.0, 0.5)),
          | tfn AS (SELECT qtf.doc, qtf.term,
          |    sum(p.w * qtf.tf / (1.0 - p.b + p.b * f.flen / g.avgflen)) AS tfn
          |   FROM qtf JOIN flen f ON f.doc = qtf.doc AND f.field = qtf.field
          |   JOIN avglen g ON g.field = qtf.field
          |   JOIN p ON p.field = qtf.field
          |   GROUP BY 1, 2)
          |SELECT doc::BIGINT AS doc_id, round(sum(
          |  ln(1.0 + (n - df + 0.5) / (df + 0.5)) * tfn / (1.2 + tfn)), 4) AS score
          |FROM tfn JOIN dfq USING(term) CROSS JOIN nstat
          |GROUP BY 1""".stripMargin,
      // PRF: feedback ranking on the ROUNDED bm25 CTE, mining replayed
      // with the Keywords mask + query-term exclusion, integer rank; the
      // re-score is the bm25 body with q = original UNION mined (disjoint
      // by construction — no double-counted term).
      "q_prf_terms" ->
        s"""WITH $prfMinedCtes
           |SELECT rank, term, tf_sum, df_fb FROM mined""".stripMargin,
      "q_prf" ->
        s"""WITH $prfMinedCtes,
           | q AS (SELECT term FROM mined
           |   UNION ALL SELECT t AS term FROM unnest(['spark', 'filter', 'join', 'table']) AS u(t)),
           | toks2 AS (SELECT doc_id AS doc,
           |    unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> len(x) > 0)) AS term
           |   FROM documents),
           | tf2 AS (SELECT doc, term, count(*)::DOUBLE AS tf FROM toks2 GROUP BY 1, 2),
           | dl2 AS (SELECT doc, count(*)::DOUBLE AS dl FROM toks2 GROUP BY 1),
           | stats2 AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl2),
           | df2 AS (SELECT term, count(DISTINCT doc)::DOUBLE AS df FROM tf2 JOIN q USING(term) GROUP BY 1)
           |SELECT doc, round(sum(
           |  ln(1.0 + (n - df + 0.5) / (df + 0.5))
           |  * (tf * (1.2 + 1.0)) / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))), 4) AS score
           |FROM tf2 JOIN q USING(term) JOIN df2 USING(term) JOIN dl2 USING(doc) CROSS JOIN stats2
           |GROUP BY doc""".stripMargin,
      // Serpentine sharding: global rank by (w DESC, id-as-STRING) then
      // the integer fold — r0 div 7 even -> forward position, odd ->
      // reversed. The one window is over ranks only (the operator computes
      // the same rank distributively).
      "q_shards" ->
        """WITH w AS (SELECT doc_id, len(text)::BIGINT AS w FROM documents),
          | r AS (SELECT doc_id, w,
          |    row_number() OVER (ORDER BY w DESC, doc_id::VARCHAR) - 1 AS r0 FROM w)
          |SELECT doc_id, w,
          |  CASE WHEN (r0 // 7) % 2 = 0 THEN r0 % 7 ELSE 6 - (r0 % 7) END AS shard
          |FROM r""".stripMargin,
      // KWIC snippets: the q_context BM25 composition (same scored/ranked
      // CTEs, same rank <= 10 cut) feeding a per-doc window replay —
      // running hit sums over token positions (ROWS CURRENT..11 FOLLOWING
      // naturally shortens on sub-width docs, matching the operator's
      // clamped prefix sums), rank-1 on (hits DESC, start).
      "q_snippet" ->
        s"""WITH scored AS (${bm25OracleSql("")}),
           | ranked AS (SELECT doc, score,
           |    row_number() OVER (ORDER BY score DESC, doc) AS rank FROM scored),
           | top AS (SELECT d.doc_id, d.text FROM ranked r
           |   JOIN documents d ON d.doc_id = r.doc WHERE r.rank <= 10),
           | tk AS (SELECT doc_id,
           |    list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> len(x) > 0) AS toks
           |   FROM top),
           | pos AS (SELECT doc_id, toks, len(toks) AS n,
           |    unnest(range(1, len(toks) + 1)) AS p FROM tk WHERE len(toks) > 0),
           | m AS (SELECT doc_id, toks, n, p,
           |    CASE WHEN toks[p] IN ('spark', 'filter', 'join', 'table') THEN 1 ELSE 0 END AS hit
           |   FROM pos),
           | win AS (SELECT doc_id, toks, n, p AS s, sum(hit) OVER (PARTITION BY doc_id ORDER BY p
           |      ROWS BETWEEN CURRENT ROW AND 11 FOLLOWING) AS hits
           |   FROM m QUALIFY s <= greatest(1, n - 11)),
           | best AS (SELECT doc_id, s, hits, toks, n,
           |    row_number() OVER (PARTITION BY doc_id ORDER BY hits DESC, s) AS rn FROM win)
           |SELECT doc_id, s::BIGINT AS win_start, hits::BIGINT AS hits,
           |  array_to_string(toks[s:least(s + 11, n)], ' ') AS snippet
           |FROM best WHERE rn = 1 AND hits > 0""".stripMargin,
      "q_context" ->
        s"""WITH scored AS (${bm25OracleSql("")}),
           | ranked AS (SELECT doc, score,
           |    row_number() OVER (ORDER BY score DESC, doc) AS rank FROM scored),
           | tok AS (SELECT r.rank, r.doc, r.score,
           |    greatest(1, len(d.text) // 4)::BIGINT AS tokens
           |  FROM ranked r JOIN documents d ON d.doc_id = r.doc WHERE r.rank <= 10),
           | sel AS (SELECT *, sum(tokens) OVER (ORDER BY rank
           |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS cum_tokens
           |  FROM tok)
           |SELECT rank::BIGINT AS rank, doc AS doc_id, tokens, cum_tokens, score
           |FROM sel WHERE cum_tokens <= 400""".stripMargin,
      // HLL sketch: replay every register (63-bit md5 hash, top-8 index,
      // 56-bitlength rank), then the integer-exact summary. HUGEINT //
      // (floor div) == Spark's `div` here (all operands positive).
      // Count-Min: rebuild all 4 hash rows, probe at the exact top-20;
      // the streamed running totals max-merge to the same counters
      "q_cms" -> cmsOracleSql,
      "q_heavy" -> {
        // MG completeness + exact recheck == plain HAVING over the same
        // bigram relation; integer threshold, no float contract
        val k1 = graft.sketch.HeavyHitters.K + 1
        s"""WITH w AS (SELECT
           |    list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
           |      x -> len(x) > 0) AS w FROM documents),
           | toks AS (SELECT w[j] || ' ' || w[j+1] AS item
           |   FROM w, unnest(range(1, len(w))) AS u(j)),
           | n AS (SELECT count(*) AS n FROM toks)
           |SELECT item, count(*)::BIGINT AS cnt FROM toks, n
           |GROUP BY item, n.n HAVING count(*) * $k1 > n.n""".stripMargin
      },
      "q_stream_cms" -> cmsOracleSql,
      // anchor aggregation: same quadratic graph as q_pagerank; string_agg
      // (skips the CASE's NULLs) ordered (cnt DESC, anchor) == Spark's
      // sort_array(struct(rn, s)) order
      "q_anchors" ->
        """WITH d AS (SELECT count(*)::BIGINT AS n FROM documents),
          | e0 AS (SELECT doc_id AS src, j, d.n AS n
          |   FROM documents, unnest([1, 2, 3]) AS u(j) CROSS JOIN d),
          | e1 AS (SELECT src, (src * src + j) % n AS d0, n,
          |    'anchor-' || ((src + j) % 13)::VARCHAR AS anchor FROM e0),
          | e AS (SELECT src, CASE WHEN d0 = src THEN (d0 + 1) % n ELSE d0 END AS dst,
          |    anchor FROM e1),
          | c AS (SELECT dst, anchor, count(*)::BIGINT AS cnt FROM e GROUP BY 1, 2),
          | r AS (SELECT dst, anchor, cnt,
          |    row_number() OVER (PARTITION BY dst ORDER BY cnt DESC, anchor) AS rn FROM c)
          |SELECT dst AS doc_id, sum(cnt)::BIGINT AS n_links, count(*)::BIGINT AS n_anchors,
          |  string_agg(CASE WHEN rn <= 3 THEN anchor || ':' || cnt::VARCHAR END,
          |    ' | ' ORDER BY cnt DESC, anchor) AS kept
          |FROM r GROUP BY 1""".stripMargin,
      "q_hll" -> hllOracleSql,
      // KMV bottom-k Jaccard: distinct-hash signatures re-derived per set
      // label, truncated via QUALIFY row_number <= 256
      "q_kmv" ->
        """WITH w AS (SELECT source AS key,
          |    list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
          |      x -> len(x) > 0) AS w FROM documents WHERE source IN ('src0', 'src1', 'src2')),
          | toks AS (SELECT key, w[j] || ' ' || w[j+1] || ' ' || w[j+2] AS term
          |   FROM w, unnest(range(1, len(w) - 1)) AS u(j)),
          | lab AS (SELECT 'a' AS key, term FROM toks WHERE key IN ('src0', 'src1')
          |   UNION ALL SELECT 'b', term FROM toks WHERE key IN ('src1', 'src2')
          |   UNION ALL SELECT 'u', term FROM toks WHERE key IN ('src0', 'src1')
          |   UNION ALL SELECT 'u', term FROM toks WHERE key IN ('src1', 'src2')),
          | hd AS (SELECT DISTINCT key, ((('0x' || substr(md5(term), 1, 16))::UBIGINT
          |          & 9223372036854775807)::BIGINT) AS h FROM lab),
          | sig AS (SELECT key, h FROM hd
          |   QUALIFY row_number() OVER (PARTITION BY key ORDER BY h) <= 256),
          | m AS (SELECT count(*)::BIGINT AS matches FROM sig su
          |   JOIN sig sa ON sa.key = 'a' AND sa.h = su.h
          |   JOIN sig sb ON sb.key = 'b' AND sb.h = su.h
          |   WHERE su.key = 'u'),
          | ku AS (SELECT count(*)::BIGINT AS k_used FROM sig WHERE key = 'u'),
          | fl AS (SELECT term, max(key IN ('src0', 'src1')) AS ina,
          |               max(key IN ('src1', 'src2')) AS inb FROM toks GROUP BY 1),
          | ex AS (SELECT count(*)::BIGINT AS exact_union,
          |    sum(CASE WHEN ina AND inb THEN 1 ELSE 0 END)::BIGINT AS exact_inter FROM fl)
          |SELECT k_used, matches, (matches * 1000 // k_used)::BIGINT AS est_j_milli,
          |  exact_union, exact_inter,
          |  (exact_inter * 1000 // exact_union)::BIGINT AS exact_j_milli
          |FROM ku CROSS JOIN m CROSS JOIN ex""".stripMargin,
      // decade-histogram quantiles: batch and streaming hit the SAME
      // replica (monotone totals max-fold to the batch histogram)
      "q_quantile" -> quantileOracleSql,
      "q_stream_quantile" -> quantileOracleSql,
      // RefinedWeb URL pre-filter: domain extraction chain replicated
      // operator-for-operator (anchored regexes — first-match == global);
      // blocklist re-derived from the same residue rule
      // frontier schedule: per-host rank under (priority DESC, url),
      // horizon 4, 500 ms spacing — integer replay via QUALIFY
      "q_frontier" ->
        """WITH u AS (SELECT
          |   'https://host' || (doc_id % 97)::VARCHAR || '.example/' || source
          |     || '/item' || doc_id::VARCHAR AS url,
          |   'host' || (doc_id % 97)::VARCHAR || '.example' AS host,
          |   ((doc_id * 7) % 100)::BIGINT AS priority FROM documents),
          | r AS (SELECT url, host, priority,
          |    row_number() OVER (PARTITION BY host ORDER BY priority DESC, url) AS rn FROM u)
          |SELECT url, host, priority, (rn - 1)::BIGINT AS slot,
          |  ((rn - 1) * 500)::BIGINT AS fetch_at_ms
          |FROM r WHERE rn <= 4""".stripMargin,
      "q_url_filter" ->
        """WITH u AS (SELECT doc_id,
          |    'https://www.host' || (doc_id % 97)::VARCHAR || '.example/' || source || '/item' || doc_id::VARCHAR
          |    || CASE WHEN doc_id % 13 = 0 THEN '/casino' ELSE '' END
          |    || CASE WHEN doc_id % 17 = 0 THEN '/torrent-winner' ELSE '' END AS url
          |  FROM documents),
          | d AS (SELECT doc_id, url,
          |    regexp_extract(regexp_replace(regexp_extract(url, '^[a-z]+://([^/]+)', 1), '^www\.', ''), '([^.]+\.[^.]+)$', 1) AS reg_domain,
          |    ((CASE WHEN contains(lower(url), 'casino') THEN 1 ELSE 0 END)
          |     + (CASE WHEN contains(lower(url), 'torrent') THEN 1 ELSE 0 END)
          |     + (CASE WHEN contains(lower(url), 'spam') THEN 1 ELSE 0 END)
          |     + (CASE WHEN contains(lower(url), 'winner') THEN 1 ELSE 0 END)
          |     + (CASE WHEN contains(lower(url), 'pills') THEN 1 ELSE 0 END))::BIGINT AS url_penalty
          |  FROM u),
          | bl AS (SELECT 'host' || h::VARCHAR || '.example' AS domain
          |   FROM (SELECT unnest(range(0, 97)) AS h) WHERE h % 11 = 0)
          |SELECT d.doc_id, d.reg_domain, (bl.domain IS NOT NULL) AS blocked,
          |  d.url_penalty,
          |  (bl.domain IS NULL AND d.url_penalty < 2) AS url_keep
          |FROM d LEFT JOIN bl ON d.reg_domain = bl.domain""".stripMargin,
      // per-doc keyword top-5: all-integer rank key (tf DESC, df ASC,
      // term) — no float anywhere, rank replicates exactly; df counted
      // over the distinct (doc, term) relation like the Spark plan
      "q_keywords" -> {
        val stop = graft.index.Keywords.StopWords.map(w => s"'$w'").mkString(", ")
        s"""WITH toks AS (SELECT doc_id::VARCHAR AS doc, t AS term
           |   FROM documents,
           |     unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> len(x) > 0)) AS u(t)
           |   WHERE len(t) >= 4 AND t NOT IN ($stop)),
           | tf AS (SELECT doc, term, count(*)::BIGINT AS tf FROM toks GROUP BY 1, 2),
           | df AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY 1)
           |SELECT doc AS doc_id, rank, term, tf, df FROM (
           |  SELECT tf.doc, tf.term, tf.tf, df.df,
           |    row_number() OVER (PARTITION BY tf.doc
           |      ORDER BY tf.tf DESC, df.df ASC, tf.term) AS rank
           |  FROM tf JOIN df USING (term)) WHERE rank <= 5""".stripMargin
      },
      // HLL set algebra: the same register pipeline over relabeled set
      // streams; union sketch == max-merge; intersection by
      // inclusion–exclusion in BIGINT
      "q_hll_setops" ->
        """WITH w AS (SELECT source AS key,
          |    list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
          |      x -> len(x) > 0) AS w FROM documents WHERE source IN ('src0', 'src1', 'src2')),
          | toks AS (SELECT key, w[j] || ' ' || w[j+1] || ' ' || w[j+2] AS term
          |   FROM w, unnest(range(1, len(w) - 1)) AS u(j)),
          | lab AS (SELECT 'a' AS key, term FROM toks WHERE key IN ('src0', 'src1')
          |   UNION ALL SELECT 'b', term FROM toks WHERE key IN ('src1', 'src2')
          |   UNION ALL SELECT 'u', term FROM toks WHERE key IN ('src0', 'src1')
          |   UNION ALL SELECT 'u', term FROM toks WHERE key IN ('src1', 'src2')),
          | h AS (SELECT key, ((('0x' || substr(md5(term), 1, 16))::UBIGINT
          |                     & 9223372036854775807)::BIGINT) AS h63 FROM lab),
          | jw AS (SELECT key, (h63 >> 55)::INT AS j,
          |                    h63 & ((1::BIGINT << 55) - 1) AS w FROM h),
          | regs AS (SELECT key, j,
          |    max(CASE WHEN w = 0 THEN 56 ELSE 56 - length(bin(w)) END)::INT AS m
          |  FROM jw GROUP BY 1, 2),
          | summ AS (SELECT key, count(*)::BIGINT AS present,
          |    (sum(CASE WHEN m <= 50 THEN (1::BIGINT << (50 - m)) ELSE 0 END)
          |     + (256 - count(*)) * (1::BIGINT << 50))::BIGINT AS s_scaled
          |  FROM regs GROUP BY 1),
          | est AS (SELECT key,
          |    ((718213::HUGEINT * 65536 * 1125899906842624)
          |     // (greatest(s_scaled, 1)::HUGEINT * 1000))::BIGINT AS est_milli FROM summ),
          | piv AS (SELECT
          |    max(CASE WHEN key = 'a' THEN est_milli END) AS est_a_milli,
          |    max(CASE WHEN key = 'b' THEN est_milli END) AS est_b_milli,
          |    max(CASE WHEN key = 'u' THEN est_milli END) AS est_union_milli FROM est),
          | fl AS (SELECT term, max(key IN ('src0', 'src1')) AS ina,
          |               max(key IN ('src1', 'src2')) AS inb FROM toks GROUP BY 1),
          | ex AS (SELECT count(*)::BIGINT AS exact_union,
          |    sum(CASE WHEN ina AND inb THEN 1 ELSE 0 END)::BIGINT AS exact_inter FROM fl)
          |SELECT est_a_milli, est_b_milli, est_union_milli,
          |  (est_a_milli + est_b_milli - est_union_milli)::BIGINT AS est_inter_milli,
          |  exact_union, exact_inter
          |FROM piv CROSS JOIN ex""".stripMargin,
      // the streamed register table max-merges to the batch registers
      // exactly (delta emission is monotone per register), so the stream
      // gate shares the batch oracle verbatim
      "q_stream_hll" -> hllOracleSql,
      // prefix completion: same term aggregate, LIKE-prefix join, QUALIFY cut
      "q_complete" ->
        """WITH toks AS (SELECT
          |    unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
          |      x -> len(x) > 0)) AS term FROM documents),
          | cnt AS (SELECT term, count(*)::BIGINT AS cnt FROM toks GROUP BY 1),
          | p(prefix) AS (SELECT unnest(['sp','fi','jo','ta']))
          |SELECT prefix, rank, term, cnt FROM (
          |  SELECT p.prefix, c.term, c.cnt, row_number() OVER
          |     (PARTITION BY p.prefix ORDER BY c.cnt DESC, c.term) AS rank
          |  FROM cnt c JOIN p ON c.term LIKE p.prefix || '%')
          |WHERE rank <= 5""".stripMargin,
      "q_vocab" ->
        """WITH toks AS (SELECT
          |    unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
          |      x -> len(x) > 0)) AS term FROM documents),
          | cnt AS (SELECT term, count(*)::BIGINT AS cnt FROM toks GROUP BY 1),
          | ranked AS (SELECT term, cnt,
          |    row_number() OVER (ORDER BY cnt DESC, term) AS rank FROM cnt)
          |SELECT rank::BIGINT AS rank, term, cnt FROM ranked WHERE rank <= 200""".stripMargin,
      "q_lm_score" ->
        """WITH toks AS (SELECT doc_id AS doc,
          |    unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
          |      x -> len(x) > 0)) AS term FROM documents),
          | tf AS (SELECT doc, term, count(*)::DOUBLE AS tf FROM toks GROUP BY 1, 2),
          | cnt AS (SELECT term, sum(tf) AS cnt FROM tf GROUP BY 1),
          | tot AS (SELECT sum(tf)::DOUBLE AS total FROM tf)
          |SELECT doc AS doc_id, sum(tf)::BIGINT AS n_tokens,
          |  round(sum(tf * -ln(cnt / total)) / sum(tf), 4) AS nll
          |FROM tf JOIN cnt USING(term) CROSS JOIN tot GROUP BY doc""".stripMargin,
      // C4 line cleaning over the synthesized branch-covering page;
      // list_filter preserves line order so `cleaned` reassembles exactly
      "q_c4_clean" ->
        """WITH w AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
          | h AS (SELECT doc_id,
          |    -- DuckDB slices NULL out (not empty) past the list end: coalesce
          |    coalesce(array_to_string(tk[1:12], ' '), '') || '.' || chr(10) ||
          |    'too short.' || chr(10) ||
          |    coalesce(array_to_string(tk[13:20], ' '), '') || chr(10) ||
          |    'you must enable javascript to continue.' || chr(10) ||
          |    coalesce(array_to_string(tk[21:32], ' '), '') || '?' || chr(10) ||
          |    coalesce(array_to_string(tk[33:44], ' '), '') || '!' ||
          |    CASE WHEN doc_id % 17 = 0 THEN chr(10) || 'lorem ipsum dolor sit amet.' ELSE '' END ||
          |    CASE WHEN doc_id % 19 = 0 THEN chr(10) || 'function() { return 0; }' ELSE '' END AS t
          |  FROM w),
          | ln AS (SELECT doc_id, t,
          |    list_filter(list_transform(string_split(t, chr(10)),
          |      l -> trim(l, ' ' || chr(9) || chr(10) || chr(13) || chr(12) || chr(11))),
          |      l -> len(l) > 0) AS lines FROM h),
          | k AS (SELECT doc_id, t, len(lines) AS n_lines,
          |    list_filter(lines, l ->
          |      regexp_matches(l, '[.!?"]$')
          |      AND len(list_filter(regexp_split_to_array(l, '\s+'), x -> len(x) > 0)) >= 5
          |      AND NOT contains(lower(l), 'javascript')) AS kept FROM ln)
          |SELECT doc_id,
          |  (len(kept) >= 3 AND NOT contains(lower(t), 'lorem ipsum')
          |     AND NOT contains(t, '{')) AS page_keep,
          |  len(kept)::INT AS n_kept,
          |  (n_lines - len(kept))::INT AS n_dropped,
          |  array_to_string(kept, chr(10)) AS cleaned
          |FROM k""".stripMargin,
      // DSIR end-to-end: hashed uni+bigram buckets (md5-top-64 % 4096),
      // add-0.5 smoothed log-ratio model (rounded 6dp — part of the
      // contract), per-doc score (rounded 4dp), md5-uniform Gumbel on the
      // well-conditioned (0.25,0.75) band, top-100 with STRING-ordered
      // doc tiebreak (the operator's ids are strings)
      "q_dsir" ->
        """WITH toks AS (SELECT doc_id,
          |    list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
          |      x -> len(x) > 0) AS tk FROM documents),
          | grams AS (
          |   SELECT doc_id, unnest(tk) AS g FROM toks
          |   UNION ALL
          |   SELECT doc_id, unnest(list_transform(range(1, len(tk)),
          |     i -> tk[i] || ' ' || tk[i + 1])) AS g FROM toks),
          | hb AS (SELECT doc_id,
          |    ((('0x' || substr(md5(g), 1, 16))::UBIGINT::HUGEINT
          |      % 9223372036854775808) % 4096)::BIGINT AS b FROM grams),
          | tc AS (SELECT b, count(*)::DOUBLE AS nt FROM hb WHERE doc_id % 7 = 0 GROUP BY 1),
          | rc AS (SELECT b, count(*)::DOUBLE AS nr FROM hb GROUP BY 1),
          | tt AS (SELECT sum(nt) AS t_total FROM tc),
          | rt AS (SELECT sum(nr) AS r_total FROM rc),
          | lr AS (SELECT rc.b,
          |    ln((coalesce(tc.nt, 0) + 0.5) / (tt.t_total + 0.5 * 4096))
          |        - ln((rc.nr + 0.5) / (rt.r_total + 0.5 * 4096)) AS lr
          |  FROM rc LEFT JOIN tc ON rc.b = tc.b CROSS JOIN tt CROSS JOIN rt),
          | dc AS (SELECT doc_id, b, count(*)::DOUBLE AS cnt FROM hb GROUP BY 1, 2),
          | sc AS (SELECT doc_id, sum(cnt)::BIGINT AS n_grams,
          |    round(sum(cnt * lr.lr), 4) AS logweight
          |  FROM dc JOIN lr ON dc.b = lr.b GROUP BY 1),
          | ky AS (SELECT doc_id, n_grams, logweight,
          |    round(-ln(-ln(((((('0x' || substr(md5(doc_id::VARCHAR), 1, 16))::UBIGINT::HUGEINT
          |        % 9223372036854775808) % 1000000)::DOUBLE + 0.5) / 2000000 + 0.25))), 6) AS gumbel
          |  FROM sc)
          |SELECT doc_id, n_grams, logweight,
          |  round(logweight + gumbel, 4) AS key
          |FROM ky ORDER BY key DESC, doc_id::VARCHAR LIMIT 100""".stripMargin,
      // blocking (prefix-8 + length-band-4 with ±1 probe replication) +
      // levenshtein ≤ 2; greedy independent keep-first verdict
      "q_fuzzy_dedup" ->
        """WITH t AS (SELECT doc_id,
          |    'report-' || (doc_id % 7)::VARCHAR || ' part ' ||
          |    lpad((doc_id % 60)::VARCHAR, 2, '0') ||
          |    CASE WHEN doc_id % 5 = 1 THEN '!'
          |         WHEN doc_id % 5 = 2 THEN '?!' ELSE '' END AS title
          |  FROM documents),
          | k AS (SELECT doc_id, title, substr(title, 1, 8) AS pfx,
          |    (length(title) // 4) AS band FROM t),
          | pr AS (SELECT doc_id, title, pfx, band + d AS band
          |   FROM k, unnest([-1, 0, 1]) AS u(d)),
          | p AS (SELECT b.doc_id AS id_b, min(a.doc_id) AS dup_of
          |   FROM k a JOIN pr b ON a.pfx = b.pfx AND a.band = b.band
          |     AND a.doc_id < b.doc_id
          |   WHERE levenshtein(a.title, b.title) <= 2
          |   GROUP BY 1)
          |SELECT k.doc_id, k.title, p.id_b IS NOT NULL AS is_fuzzy_dup, p.dup_of
          |FROM k LEFT JOIN p ON p.id_b = k.doc_id""".stripMargin,
      "q_pagerank" -> pageRankOracleSql(8),
      "q_trustrank" -> trustRankOracleSql(4),
      "q_hits" -> hitsOracleSql(3),
      "q_labelprop" -> labelPropOracleSql(4),
      "q_kcore" -> kCoreOracleSql(k = 5, rounds = 40),
      // HyperBall replica: same directed quad+ring edges, HLL register
      // init per vertex (md5 of the id string — the Hll layout), two
      // unrolled max-merge rounds, the q_hll integer summary arithmetic,
      // and the exact radius-2 ball via two set-union expansions.
      "q_hyperball" ->
        s"""WITH $quadRingCtesSql,
           | edges AS MATERIALIZED (SELECT src, dst FROM dedges),
           | verts AS (SELECT DISTINCT v FROM (SELECT src AS v FROM edges UNION ALL SELECT dst AS v FROM edges)),
           | h AS (SELECT v, ((('0x' || substr(md5(v::VARCHAR), 1, 16))::UBIGINT
           |                   & 9223372036854775807)::BIGINT) AS h63 FROM verts),
           | r0 AS MATERIALIZED (SELECT v, (h63 >> 55)::INT AS j,
           |   (CASE WHEN (h63 & ((1::BIGINT << 55) - 1)) = 0 THEN 56
           |         ELSE 56 - length(bin(h63 & ((1::BIGINT << 55) - 1))) END)::INT AS m FROM h),
           | r1 AS MATERIALIZED (SELECT v, j, max(m)::INT AS m FROM (
           |     SELECT v, j, m FROM r0
           |     UNION ALL SELECT e.src AS v, r.j, r.m FROM edges e JOIN r0 r ON r.v = e.dst) GROUP BY 1, 2),
           | r2 AS (SELECT v, j, max(m)::INT AS m FROM (
           |     SELECT v, j, m FROM r1
           |     UNION ALL SELECT e.src AS v, r.j, r.m FROM edges e JOIN r1 r ON r.v = e.dst) GROUP BY 1, 2),
           | summ AS (SELECT v, count(*)::BIGINT AS present,
           |    (sum(CASE WHEN m <= 50 THEN (1::BIGINT << (50 - m)) ELSE 0 END)
           |     + (256 - count(*)) * (1::BIGINT << 50))::BIGINT AS s_scaled
           |   FROM r2 GROUP BY 1),
           | b1 AS (SELECT v AS root, v AS u FROM verts UNION SELECT src, dst FROM edges),
           | b2 AS (SELECT root, u FROM b1
           |   UNION SELECT b1.root, e.dst FROM b1 JOIN edges e ON e.src = b1.u),
           | exact AS (SELECT root AS v, count(*)::BIGINT AS exact_ball FROM b2 GROUP BY 1)
           |SELECT s.v, s.present, s.s_scaled,
           |  ((718213::HUGEINT * 65536 * 1125899906842624)
           |   // (greatest(s.s_scaled, 1)::HUGEINT * 1000))::BIGINT AS est_milli,
           |  x.exact_ball
           |FROM summ s JOIN exact x ON x.v = s.v""".stripMargin,
      // degree-oriented triangle counting: the whole pipeline is integer
      // (packed (deg, id) keys, equi-joins) — replicated join-for-join
      "q_triangles" ->
        """WITH d AS (SELECT count(*)::BIGINT AS n FROM documents),
          | e0 AS (SELECT doc_id AS src, j, d.n AS n
          |   FROM documents, unnest([1, 2, 3]) AS u(j) CROSS JOIN d),
          | e1 AS (SELECT src, (src * src + j) % n AS d0, n FROM e0),
          | e AS (SELECT src, CASE WHEN d0 = src THEN (d0 + 1) % n ELSE d0 END AS dst FROM e1),
          | und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
          |   FROM e WHERE src <> dst),
          | deg AS (SELECT v, count(*)::BIGINT AS dg
          |   FROM (SELECT a AS v FROM und UNION ALL SELECT b FROM und) GROUP BY 1),
          | ork AS (SELECT und.a, und.b,
          |    da.dg * 4294967296 + und.a AS ka, db.dg * 4294967296 + und.b AS kb
          |   FROM und JOIN deg da ON da.v = und.a JOIN deg db ON db.v = und.b),
          | ore AS (SELECT CASE WHEN ka < kb THEN ka ELSE kb END AS ku,
          |                CASE WHEN ka < kb THEN kb ELSE ka END AS kv,
          |                CASE WHEN ka < kb THEN a ELSE b END AS u,
          |                CASE WHEN ka < kb THEN b ELSE a END AS v FROM ork),
          | tri AS (SELECT w1.u AS x, w1.v AS y, w2.v AS z
          |   FROM ore w1 JOIN ore w2 ON w1.ku = w2.ku AND w1.kv < w2.kv
          |   JOIN ore e2 ON e2.ku = w1.kv AND e2.kv = w2.kv),
          | px AS (SELECT x AS v FROM tri UNION ALL SELECT y FROM tri
          |   UNION ALL SELECT z FROM tri)
          |SELECT v AS doc_id, count(*)::BIGINT AS n_triangles FROM px GROUP BY 1""".stripMargin,
      "q_bpe" -> bpeOracleSql(4, "SELECT word, s AS syms FROM s4"),
      "q_bpe_merges" -> bpeOracleSql(4,
        (1 to 4).map(i => s"SELECT $i AS step, pair, cnt FROM b$i").mkString(" UNION ALL ")),
      // encode = the s4 symbolization (already hash-checked by q_bpe)
      // joined back onto the per-doc word stream
      "q_bpe_encode" -> bpeOracleSql(4,
        """SELECT d.doc_id, sum(d.tf * len(string_split(s4.s, ' ')))::BIGINT AS n_tokens,
          |  sum(d.tf)::BIGINT AS n_words
          |FROM (SELECT doc_id, word, count(*)::BIGINT AS tf FROM
          |    (SELECT doc_id, unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
          |       x -> len(x) > 0)) AS word FROM documents) GROUP BY 1, 2) d
          |JOIN s4 USING (word) GROUP BY 1""".stripMargin),
      "q_emb_dim" ->
        "SELECT max(len(embedding))::BIGINT AS dim, count(*) AS n_vecs FROM embeddings",
      // concat-and-split packing == global prefix-sum window
      "q_packing" ->
        """WITH c AS (SELECT doc_id::VARCHAR AS id,
          |    greatest(1, length(text) // 4)::BIGINT AS tokens FROM documents),
          | p AS (SELECT id, tokens,
          |    coalesce(sum(tokens) OVER (ORDER BY id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prefix
          |  FROM c)
          |SELECT id, tokens, (prefix // 512)::BIGINT AS seq_id,
          |  (prefix % 512)::BIGINT AS seq_offset FROM p""".stripMargin,
      // deterministic sampling: md5-top-64 masked to 63 bits, mod 100,
      // vs the per-stratum percentage
      "q_sample" ->
        """SELECT doc_id, lang FROM documents
          |WHERE ((('0x' || substr(md5(doc_id::VARCHAR), 1, 16))::UBIGINT::HUGEINT
          |        % 9223372036854775808) % 100)
          |      < CASE WHEN lang = 'en' THEN 50 ELSE 20 END""".stripMargin,
      // exact-k per-stratum: rank by the same masked md5 hash, key-string
      // tiebreak, QUALIFY <= k
      "q_sample_k" ->
        """SELECT doc_id, source FROM (
          |  SELECT doc_id, source, row_number() OVER (PARTITION BY source
          |    ORDER BY (('0x' || substr(md5(doc_id::VARCHAR), 1, 16))::UBIGINT
          |              & 9223372036854775807), doc_id::VARCHAR) AS rk
          |  FROM documents) WHERE rk <= 7""".stripMargin,
      // temperature rebalance: keep_p = sqrt(n_min/n_d) — sqrt and the
      // division are IEEE-correctly-rounded in both engines, and the
      // uniform's /2^63 scale is a pure exponent shift, so the comparison
      // is bit-exact cross-engine with NO rounding contract
      "q_mix" ->
        """WITH c AS (SELECT lang, count(*)::BIGINT AS n_d FROM documents GROUP BY 1),
          | m AS (SELECT min(n_d) AS n_min FROM c),
          | q AS (SELECT lang, sqrt(n_min::DOUBLE / n_d::DOUBLE) AS keep_p FROM c, m)
          |SELECT d.doc_id, d.lang FROM documents d JOIN q USING (lang)
          |WHERE ((('0x' || substr(md5(d.doc_id::VARCHAR), 1, 16))::UBIGINT::HUGEINT
          |        % 9223372036854775808)::DOUBLE / 9.223372036854775808e18)
          |      < q.keep_p""".stripMargin,
      // Morton interleave: the identical 5-step magic-mask spread replayed
      // on BIGINT (masks in decimal; all intermediates non-negative)
      "q_zorder" -> {
        val steps = Seq((16, 281470681808895L), (8, 71777214294589695L),
          (4, 1085102592571150095L), (2, 3689348814741910323L),
          (1, 6148914691236517205L))
        val ctes = steps.zipWithIndex.map { case ((sh, mask), i) =>
          val src = if (i == 0) "b" else s"s$i"
          s""" s${i + 1} AS (SELECT doc_id,
             |  ((x | (x << $sh)) & $mask) AS x,
             |  ((y | (y << $sh)) & $mask) AS y FROM $src)""".stripMargin
        }.mkString(",\n")
        s"""WITH b AS (SELECT doc_id,
           |  (n_chars & 2147483647) AS x,
           |  ((('0x' || substr(md5(doc_id::VARCHAR), 1, 16))::UBIGINT::HUGEINT
           |    % 9223372036854775808)::BIGINT & 2147483647) AS y
           |  FROM documents),
           |$ctes
           |SELECT doc_id, (x | (y << 1)) AS zval FROM s5""".stripMargin
      },
      // same md5-top-64 bucket as q_sample, mapped to cumulative ranges
      "q_split" ->
        """SELECT doc_id, lang,
          |  CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val'
          |       ELSE 'test' END AS split
          |FROM (SELECT doc_id, lang,
          |  ((('0x' || substr(md5(doc_id::VARCHAR), 1, 16))::UBIGINT::HUGEINT
          |    % 9223372036854775808) % 100) AS b FROM documents)""".stripMargin,
      "q_host_cap" ->
        """SELECT doc_id, host FROM (
          |  SELECT doc_id, 'host' || (doc_id % 97)::VARCHAR || '.example' AS host,
          |    row_number() OVER (PARTITION BY doc_id % 97 ORDER BY doc_id) AS rn
          |  FROM documents) WHERE rn <= 3""".stripMargin,
      "q_bm25" -> bm25OracleSql(""),
      "q_facet_bm25" -> bm25OracleSql("WHERE lang = 'en'"),
      // segment overlap dedups to the plain corpus relation, so the oracle
      // is corpus BM25 with string doc ids (the index keys docs by chunk id)
      "q_index_search" -> bm25OracleSql("", idExpr = "doc_id::VARCHAR"),
      // index-resident MaxScore: pruning lossless + index content-
      // preserving ⇒ oracle = corpus-side BM25, rounded top-10 on
      // (score DESC, doc VARCHAR); boundary audited (ranks 10/11
      // distinct at both SFs: 1.6024/1.6001, 1.5221/1.5207)
      "q_index_maxscore" ->
        s"""WITH base AS (
           |${bm25OracleSql("", idExpr = "doc_id::VARCHAR")})
           |SELECT doc, score FROM (
           |  SELECT doc, score, row_number() OVER (ORDER BY score DESC, doc) AS rn FROM base)
           |WHERE rn <= 10""".stripMargin,
      // index-resident block-max WAND: codec round-trip + pruning both
      // lossless ⇒ the same corpus-side oracle, top-15 cut
      "q_index_bmw" ->
        s"""WITH base AS (
           |${bm25OracleSql("", idExpr = "doc_id::VARCHAR")})
           |SELECT doc, score FROM (
           |  SELECT doc, score, row_number() OVER (ORDER BY score DESC, doc) AS rn FROM base)
           |WHERE rn <= 15""".stripMargin,
      // tombstone upsert == BM25 over the POST-upsert corpus: every 10th
      // doc's text rewritten (same id), stale rows dead by tv>sv
      "q_index_upsert" -> bm25OracleSql("", idExpr = "doc_id::VARCHAR",
        src = """(SELECT doc_id,
                 |   CASE WHEN doc_id % 10 = 0 THEN text || ' spark upsert gain'
                 |        ELSE text END AS text
                 | FROM documents)""".stripMargin),
      // facet-filtered search over committed segments == BM25 over the
      // facet-filtered corpus (stats from the filtered set)
      "q_facet_index" -> bm25OracleSql("WHERE lang = 'en'", idExpr = "doc_id::VARCHAR"),
      "q_pipeline_e2e" -> pipelineE2eOracleSql(threshold = 0.6, maxBucket = 64),
      "q_billing" ->
        """SELECT doc_id, 1::INT AS n_chunks,
          | greatest(1, length(trim(text, ' ' || chr(9) || chr(10) || chr(13) || chr(12) || chr(11))) // 4)::BIGINT AS tokens,
          | greatest(1, length(trim(text, ' ' || chr(9) || chr(10) || chr(13) || chr(12) || chr(11))) // 4)::BIGINT / 1000000.0 * 0.012 AS cost
          |FROM documents
          |WHERE regexp_matches(text, '\S') AND NOT regexp_matches(text, '\n\s*\n')""".stripMargin,
      "q_tfidf" -> tfidfOracleSql,
      // q_pipeline generates its own 400 pages from PageGen(seed=42)
      // regardless of the sf dir, so its per-(kind,method) counts are
      // seed-pinned constants of the frozen generator + extractor — the
      // oracle is the pinned table itself (recompute via
      // `Verify` if a frozen heuristic legitimately changes).
      // the planted-WAV sample formula is modular arithmetic over (doc_id,
      // sample index) — the decoder must hand back exactly these int16
      // values through the RIFF chunk walk
      "q_mm_audio" ->
        """WITH d AS (SELECT doc_id, (1 + doc_id % 2)::BIGINT AS ch,
          |    (100 + doc_id % 50)::BIGINT AS frames,
          |    (8000 * (1 + doc_id % 3))::BIGINT AS rate FROM documents),
          | s AS (SELECT doc_id, ch, frames, rate, unnest(range(0, frames * ch)) AS i FROM d),
          | v AS (SELECT doc_id, ch, frames, rate,
          |    ((doc_id * 31 + i * 17) % 65536) - 32768 AS smp FROM s)
          |SELECT doc_id, rate AS sample_rate, ch AS channels, frames AS n_frames,
          |  round(avg(abs(smp)), 4) AS mean_abs
          |FROM v GROUP BY 1, 2, 3, 4""".stripMargin,
      // the planted-AVI frame pixels are modular arithmetic over (doc_id,
      // frame, pixel) — the container walk must hand back exactly these
      // frames; stride-2 sampling and ts = idx * 40000 / 1000
      "q_mm_frames" ->
        """WITH d AS (SELECT doc_id, (2 + doc_id % 5)::BIGINT AS w,
          |    (2 + doc_id % 3)::BIGINT AS h, (3 + doc_id % 4)::BIGINT AS nf FROM documents),
          | f AS (SELECT doc_id, w, h, unnest(range(0, nf)) AS fi FROM d),
          | px AS (SELECT doc_id, w, h, fi, unnest(range(0, w * h)) AS p
          |   FROM f WHERE fi % 2 = 0),
          | v AS (SELECT doc_id, fi, (doc_id * 7 + fi * 13 + p * 3) % 256 AS luma FROM px)
          |SELECT doc_id, fi AS frame_idx, (fi * 40)::BIGINT AS ts_ms,
          |  round(avg(luma), 4) AS mean_luma
          |FROM v GROUP BY 1, 2""".stripMargin,
      // the planted-PPM pixel formula is modular arithmetic over (doc_id,
      // pixel index), so the luma sum replicates exactly: same BT.601
      // integer weights, same // 1000 floor division
      "q_mm_luma" ->
        """WITH d AS (SELECT doc_id, (4 + doc_id % 13)::INT AS w, (3 + doc_id % 7)::INT AS h FROM documents),
          | px AS (SELECT doc_id, w, h, unnest(range(0, w::BIGINT * h)) AS p FROM d),
          | luma AS (SELECT doc_id, w, h,
          |    (((doc_id*31 + p*7) % 256) * 299
          |     + ((doc_id*17 + p*11) % 256) * 587
          |     + ((doc_id*13 + p*5) % 256) * 114) // 1000 AS l
          |  FROM px)
          |SELECT doc_id, w, h, sum(l)::BIGINT AS luma_sum
          |FROM luma GROUP BY 1, 2, 3""".stripMargin,
      // aHash near-dup: pixel luma → 8×8 cell sums → bit per cell by
      // cross-multiplied mean compare (all integer) → bits packed to one
      // UBIGINT per image (the simhashOracleSql HUGEINT-shift pattern) →
      // ALL pairs with bit_count(xor) ≤ 3. The Spark side bands through
      // the SimHash pigeonhole tables, which are provably complete at
      // dist ≤ 3 and cap-free on the planted buckets, so exhaustive ==
      // banded. Ids compare as VARCHAR on both sides.
      "q_phash" ->
        """WITH d AS (SELECT doc_id AS id, doc_id // 4 AS fam, doc_id % 4 AS m FROM documents),
          | par AS (SELECT id, m,
          |    CASE WHEN m <= 1 THEN fam ELSE 1000000 + id END AS pf,
          |    (8 + fam % 9)::INT AS w, (8 + fam % 5)::INT AS h FROM d),
          | px0 AS (SELECT id, m, pf, w, h, unnest(range(0, w::BIGINT * h)) AS p FROM par),
          | px AS (SELECT id, m, pf, p,
          |    ((p // w) * 8 // h) * 8 + ((p % w) * 8 // w) AS c FROM px0),
          | hi AS (SELECT pf, cc.c,
          |    (('0x' || substr(md5(pf || ':' || cc.c), 1, 16))::UBIGINT & 1) = 1 AS high
          |  FROM (SELECT DISTINCT pf FROM par) pp
          |  CROSS JOIN (SELECT unnest(range(0, 64)) AS c) cc),
          | lum AS (SELECT id, px.c,
          |    (CASE WHEN m = 1 AND px.c = 0
          |          THEN CASE WHEN h0.high THEN 60 ELSE 180 END
          |          ELSE CASE WHEN hc.high THEN 200 ELSE 40 END END)
          |      + (px.pf * 7 + p) % 21 - 10 AS v
          |  FROM px
          |  JOIN hi hc ON hc.pf = px.pf AND hc.c = px.c
          |  JOIN hi h0 ON h0.pf = px.pf AND h0.c = 0),
          | cells AS (SELECT id, c, sum(v)::BIGINT AS cs, count(*)::BIGINT AS cc
          |  FROM lum GROUP BY 1, 2),
          | tot AS (SELECT id, sum(cs)::BIGINT AS ts, sum(cc)::BIGINT AS tc
          |  FROM cells GROUP BY 1),
          | bits AS (SELECT id, c, CASE WHEN cs * tc > ts * cc THEN 1 ELSE 0 END AS bit
          |  FROM cells JOIN tot USING (id)),
          | packed AS (SELECT id,
          |    sum(CASE WHEN bit = 1 THEN (1::HUGEINT << c) ELSE 0 END)::UBIGINT AS sim
          |  FROM bits GROUP BY 1),
          | ham AS (SELECT a.id::VARCHAR AS id_a, b.id::VARCHAR AS id_b,
          |    bit_count(xor(a.sim, b.sim))::INT AS hamming
          |  FROM packed a JOIN packed b ON a.id::VARCHAR < b.id::VARCHAR)
          |SELECT id_a, id_b, hamming FROM ham WHERE hamming <= 3""".stripMargin,
      // WarcGen's record layout is frozen (header template + CRLFs = 107
      // bytes beyond url and payload), so each record's offset in its
      // container is a per-bucket running sum — the oracle rebuilds the
      // byte layout without ever constructing the bytes. Text is ASCII in
      // this corpus but octet_length(encode(...)) keeps the contract
      // byte-exact (UTF-8 bytes, not characters).
      "q_warc" ->
        """WITH d AS (SELECT doc_id, text, doc_id % 8 AS b,
          |    107 + length('doc://' || doc_id)
          |        + length(CAST(octet_length(encode(text)) AS VARCHAR))
          |        + octet_length(encode(text)) AS rlen
          |  FROM documents),
          | o AS (SELECT doc_id, text, b,
          |    row_number() OVER (PARTITION BY b ORDER BY doc_id) - 1 AS rec_idx,
          |    coalesce(sum(rlen) OVER (PARTITION BY b ORDER BY doc_id
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
          |  FROM d)
          |SELECT 'w' || b || CASE WHEN b % 2 = 1 THEN '.warc.gz' ELSE '.warc' END AS warc_file,
          |  rec_idx::BIGINT AS rec_idx, off::BIGINT AS offset,
          |  'doc://' || doc_id AS url,
          |  octet_length(encode(text))::BIGINT AS content_length,
          |  text AS body
          |FROM o""".stripMargin,
      // RFC 9309 precedence replayed mechanically: rule relation via
      // VALUES, prefix-match join, rank-1 on (length DESC, allow DESC) —
      // longest match wins, allow wins ties. Domains 20-22 have no robots
      // row (left join ⇒ allowed, NULL rule).
      "q_robots" ->
        """WITH d AS (SELECT doc_id, source, doc_id % 23 AS dom FROM documents),
          | p AS (SELECT doc_id, dom,
          |    CASE WHEN doc_id % 14 = 0 THEN '/private/ok' || doc_id
          |         WHEN doc_id % 7 = 0 THEN '/private/item' || doc_id
          |         WHEN doc_id % 13 = 0 AND (doc_id % 23) % 5 = 0 THEN '/dup/x' || doc_id
          |         WHEN doc_id % 11 = 0 THEN '/tmp/item' || doc_id
          |         ELSE '/' || source || '/item' || doc_id END AS path
          |  FROM d),
          | r AS (SELECT * FROM (VALUES
          |    (false, '/private', 0), (true, '/private/ok', 0),
          |    (false, '/tmp', 0), (true, '/', 0),
          |    (false, '/dup', 1), (true, '/dup', 1)) AS t(allow, pat, grp)),
          | m AS (SELECT p.doc_id, r.allow, r.pat,
          |    row_number() OVER (PARTITION BY p.doc_id
          |      ORDER BY length(r.pat) DESC, r.allow DESC) AS rn
          |  FROM p JOIN r ON p.dom < 20 AND (r.grp = 0 OR p.dom % 5 = 0)
          |    AND starts_with(p.path, r.pat)),
          | b AS (SELECT doc_id, allow, pat FROM m WHERE rn = 1)
          |SELECT p.doc_id, 'host' || p.dom || '.example' AS domain, p.path AS path,
          |  coalesce(b.allow, true) AS allowed,
          |  CASE WHEN b.pat IS NULL THEN NULL
          |       WHEN b.allow THEN 'allow:' || b.pat
          |       ELSE 'disallow:' || b.pat END AS rule
          |FROM p LEFT JOIN b USING (doc_id)""".stripMargin,
      // 5-min tumbling windows; HAVING = append-mode watermark finalization
      "q_stream_events" ->
        """WITH e AS (SELECT floor(epoch(ts))::BIGINT AS tse, event_type, value FROM events),
          | mx AS (SELECT max(tse) AS mts FROM e)
          |SELECT (tse // 300) * 300 AS win_start, event_type,
          |  count(*) AS cnt, round(sum(value), 2) AS total
          |FROM e CROSS JOIN mx
          |GROUP BY 1, 2, mts
          |HAVING (tse // 300) * 300 + 300 <= mts - 600""".stripMargin,
      // streaming sessionization: the batch lag/cumsum replay, sealed by
      // the final watermark — wm = (floor(max_ts_us/1000) − 10 min) ms,
      // exactly Spark's ms-floored event-time watermark
      "q_stream_sessions" ->
        """WITH e AS (SELECT user_id, epoch_us(ts)::BIGINT AS ts_us, event_id FROM events),
          | l AS (SELECT user_id, ts_us, event_id,
          |    lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS prev_us FROM e),
          | f AS (SELECT user_id, ts_us, event_id,
          |    CASE WHEN prev_us IS NULL OR ts_us - prev_us >= 21600000000 THEN 1 ELSE 0 END AS is_new FROM l),
          | s AS (SELECT user_id, ts_us,
          |    sum(is_new) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS session_idx FROM f),
          | g AS (SELECT user_id, session_idx, count(*)::BIGINT AS n_events,
          |    min(ts_us)::BIGINT AS start_us, max(ts_us)::BIGINT AS end_us
          |  FROM s GROUP BY 1, 2),
          | w AS (SELECT ((max(ts_us) // 1000) - 600000) * 1000 AS wm_us FROM e)
          |SELECT user_id, session_idx, n_events, start_us,
          |  (end_us - start_us)::BIGINT AS span_us
          |FROM g CROSS JOIN w WHERE end_us + 21600000000 <= wm_us""".stripMargin,
      // stream-stream band join: single-batch AvailableNow drain emits every
      // in-band (view, purchase) pair — the plain forward band join
      "q_stream_join" ->
        """WITH p AS (SELECT user_id, epoch_us(ts)::BIGINT AS us, event_id
          |   FROM events WHERE event_type = 'purchase'),
          | v AS (SELECT user_id, epoch_us(ts)::BIGINT AS us, event_id
          |   FROM events WHERE event_type = 'view')
          |SELECT v.user_id, v.event_id AS view_id, p.event_id AS purchase_id,
          |  (p.us - v.us) AS delta_us
          |FROM p JOIN v ON p.user_id = v.user_id
          |  AND p.us >= v.us AND p.us - v.us <= 21600000000""".stripMargin,
      // the streaming query emits its own verdict relation; the oracle is
      // what parity demands a priori
      "q_stream_parity" ->
        """SELECT 'stream_equals_batch' AS check, true AS ok
          |UNION ALL SELECT 'resume_reprocessed_nothing', true""".stripMargin,
      "q_pipeline" ->
        """SELECT kind, method, cnt::BIGINT AS count FROM (VALUES
          | ('html', 'body', 41), ('html', 'lenient', 1), ('html', 'strict', 270),
          | ('pdf', 'text_layer', 72), ('unknown', 'err', 16)) t(kind, method, cnt)""".stripMargin,
      "q_ngram_jaccard" ->
        s"""WITH docs2 AS (
           |  SELECT doc_id, text, 0 AS m FROM documents
           |  UNION ALL SELECT doc_id, text || ' appended trailing marker', 1 FROM documents),
           | toks AS (SELECT doc_id, m, list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> len(x) > 0) AS toks FROM docs2),
           | shing AS (SELECT doc_id, m, unnest(CASE WHEN len(toks) = 0 THEN []::VARCHAR[]
           |     WHEN len(toks) < 5 THEN [array_to_string(toks, ' ')]
           |     ELSE list_transform(range(1, len(toks) - 3), i -> array_to_string(toks[i:i+4], ' ')) END) AS sh
           |   FROM toks),
           | shd AS (SELECT DISTINCT doc_id, m, ('0x' || substr(md5(sh), 1, 16))::UBIGINT AS h FROM shing),
           | n AS (SELECT doc_id, m, count(*) AS n FROM shd GROUP BY 1, 2),
           | i AS (SELECT a.doc_id, count(*) AS i FROM shd a
           |   JOIN shd b ON a.doc_id = b.doc_id AND a.m = 0 AND b.m = 1 AND a.h = b.h GROUP BY 1)
           |SELECT d.doc_id,
           |  round(CASE WHEN coalesce(na.n, 0) + coalesce(nb.n, 0) - coalesce(i.i, 0) <= 0 THEN 1.0
           |    ELSE coalesce(i.i, 0)::DOUBLE / (coalesce(na.n, 0) + coalesce(nb.n, 0) - coalesce(i.i, 0)) END, 6) AS jaccard
           |FROM documents d
           |LEFT JOIN n na ON na.doc_id = d.doc_id AND na.m = 0
           |LEFT JOIN n nb ON nb.doc_id = d.doc_id AND nb.m = 1
           |LEFT JOIN i ON i.doc_id = d.doc_id""".stripMargin,
      // Broder containment replica: same corpus synthesis (planted
      // containers), same distinct word-5-gram md5-top-64 shingle sets,
      // df <= 64 common-shingle cut, inverted-index pair counting,
      // smaller-set direction (tie -> larger id), C >= 0.9 on the raw
      // correctly-rounded division, quantized once at 6 dp.
      "q_containment" ->
        s"""WITH nn AS (SELECT count(*)::BIGINT AS cnt FROM documents),
           | base AS (SELECT 'd' || doc_id::VARCHAR AS id, text FROM documents),
           | cont AS (SELECT 'c' || a.doc_id::VARCHAR AS id, a.text || ' ' || b.text AS text
           |   FROM documents a, nn, documents b
           |   WHERE a.doc_id % 7 = 2 AND b.doc_id = (a.doc_id + 1) % cnt),
           | corpus AS (SELECT id, text FROM base UNION ALL SELECT id, text FROM cont),
           | toks AS (SELECT id, list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> len(x) > 0) AS toks FROM corpus),
           | shing AS (SELECT id, unnest(CASE WHEN len(toks) = 0 THEN []::VARCHAR[]
           |     WHEN len(toks) < 5 THEN [array_to_string(toks, ' ')]
           |     ELSE list_transform(range(1, len(toks) - 3), i -> array_to_string(toks[i:i+4], ' ')) END) AS sh
           |   FROM toks),
           | shd AS MATERIALIZED (SELECT DISTINCT id, ('0x' || substr(md5(sh), 1, 16))::UBIGINT AS h FROM shing),
           | sizes AS (SELECT id, count(*) AS n FROM shd GROUP BY 1),
           | dfok AS (SELECT h FROM shd GROUP BY h HAVING count(*) <= 64),
           | kept AS MATERIALIZED (SELECT s.id, s.h FROM shd s JOIN dfok f ON s.h = f.h),
           | pairs AS (SELECT a.id AS id_a, b.id AS id_b, count(*) AS i
           |   FROM kept a JOIN kept b ON a.h = b.h AND a.id < b.id GROUP BY 1, 2),
           | sized AS (SELECT p.id_a, p.id_b, p.i, na.n AS n_a, nb.n AS n_b
           |   FROM pairs p JOIN sizes na ON na.id = p.id_a JOIN sizes nb ON nb.id = p.id_b)
           |SELECT CASE WHEN n_a < n_b THEN id_a ELSE id_b END AS contained_id,
           |  CASE WHEN n_a < n_b THEN id_b ELSE id_a END AS container_id,
           |  round(i::DOUBLE / least(n_a, n_b), 6) AS containment
           |FROM sized WHERE i::DOUBLE / least(n_a, n_b) >= 0.9""".stripMargin,
      "q_minhash_neardup" -> minhashOracleSql(threshold = 0.6, maxBucket = 64),
      // PPJoin: brute force by shingle-hash equality over ALL pairs — any
      // pair the prefix filter misses (or invents) mismatches; ids are the
      // harness's numeric (doc_id, doc_id+1000000) pairs
      "q_ppjoin" ->
        s"""WITH docs AS (
           |  SELECT doc_id AS id, text FROM documents
           |  UNION ALL
           |  SELECT doc_id + 1000000 AS id, text || ' appended trailing marker' FROM documents),
           | toks AS (SELECT id, list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> len(x) > 0) AS toks FROM docs),
           | shing AS (SELECT id, unnest(CASE WHEN len(toks) = 0 THEN []::VARCHAR[]
           |     WHEN len(toks) < ${graft.dedup.MinHash.ShingleWords} THEN [array_to_string(toks, ' ')]
           |     ELSE list_transform(range(1, len(toks) - ${graft.dedup.MinHash.ShingleWords - 2}), i -> array_to_string(toks[i:i+${graft.dedup.MinHash.ShingleWords - 1}], ' ')) END) AS sh
           |   FROM toks),
           | shd AS (SELECT DISTINCT id, ('0x' || substr(md5(sh), 1, 16))::UBIGINT AS h FROM shing),
           | ssz AS (SELECT id, count(*)::BIGINT AS n FROM shd GROUP BY id),
           | inter AS (SELECT a.id AS id_a, b.id AS id_b, count(*)::BIGINT AS common
           |   FROM shd a JOIN shd b ON a.h = b.h AND a.id < b.id GROUP BY 1, 2)
           |SELECT id_a, id_b, common, sa.n AS n_a, sb.n AS n_b
           |FROM inter JOIN ssz sa ON sa.id = inter.id_a JOIN ssz sb ON sb.id = inter.id_b
           |WHERE 5 * common >= 3 * (sa.n + sb.n - common)""".stripMargin,
      // proximity windows: 1-based list indexing rebuilds 0-based token
      // positions; each occurrence covers anchors [p-5, p] (clamped at 0);
      // an anchor covered by all 3 terms is a window
      "q_proximity" -> proximityOracleSql(idExpr = "doc_id"),
      "q_index_proximity" -> proximityOracleSql(idExpr = "doc_id::VARCHAR"),
      // CORI shard ranking: integer df/cw/cf stats over the marker-derived
      // corpus, T·I belief with the published 50/150/0.4 constants, mean
      // over the 4 query terms, quantized ONCE at 6 dp
      "q_cori" -> s"WITH ${coriCtesSql}\n${coriSelectSql}",
      // selective search: the same CORI CTEs pick the top-2 shards on the
      // ROUNDED score (ties to shard), then the house BM25 oracle runs over
      // the subset AS ITS OWN COLLECTION (subset N/avgdl/df), rank <= 10 on
      // (rounded score DESC, doc)
      "q_cori_search" ->
        s"""WITH ${coriCtesSql},
           | cori AS ($coriSelectSql),
           | sel AS (SELECT shard FROM cori ORDER BY score DESC, shard LIMIT 2),
           | docs3 AS MATERIALIZED (SELECT d2.doc_id, d2.text FROM d2 JOIN sel ON d2.source = sel.shard),
           | scored AS (${bm25OracleSql("", src = "docs3",
                          query = Seq("spark", "filter", "zzsrc7", "zzsrc3"))}),
           | ranked AS (SELECT doc, score,
           |    row_number() OVER (ORDER BY score DESC, doc) AS rk FROM scored)
           |SELECT doc AS doc_id, score FROM ranked WHERE rk <= 10""".stripMargin,
      // Dirichlet QL, replaying the operator's DAAT decomposition exactly:
      // Σ_match ln(1 + tf/(μ·cf/|C|)) + Σ_t ln(μ·cf/|C|) − |q|·ln(dl+μ),
      // candidates = docs with ≥1 query term, μ = 2000, integers
      // everywhere but the ln chain
      "q_ql" -> qlOracleSql("doc_id"),
      // recrawl MLE: the same lag window over epoch-micros integers; the
      // only floats are the final ln + divisions (6-dp margins audited)
      "q_recrawl" ->
        """WITH v AS (SELECT user_id AS page, epoch_us(ts) AS us, event_type AS fp,
          |    lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts)) AS prev_us,
          |    lag(event_type) OVER (PARTITION BY user_id ORDER BY epoch_us(ts)) AS prev_fp
          |  FROM events),
          | agg AS (SELECT page, count(*)::BIGINT AS n,
          |    sum(CASE WHEN fp <> prev_fp THEN 1 ELSE 0 END)::BIGINT AS x,
          |    sum(us - prev_us)::BIGINT AS dt_us
          |  FROM v WHERE prev_us IS NOT NULL GROUP BY 1)
          |SELECT page AS user_id, n, x,
          |  round(-ln((n::DOUBLE - x::DOUBLE + 0.5) / (n::DOUBLE + 0.5))
          |    / ((dt_us::DOUBLE / 1000000.0) / n::DOUBLE), 6) AS lambda
          |FROM agg""".stripMargin,
      // LTR matrix: the component oracles join on doc — candidates are the
      // shared >=1-matching-term set (bm/tfidf/ql identical by definition),
      // proximity left-joins with 0, dl is a narrow token count, matched
      // counts distinct query terms
      "q_ltr" ->
        s"""WITH bm AS (${bm25OracleSql("")}),
           | tfx AS ($tfidfOracleSql),
           | qlx AS (${qlOracleSql("doc_id")}),
           | prox AS (${proximityOracleSql("doc_id",
                         Seq("spark", "filter", "join", "table"))}),
           | ltoks AS (SELECT doc_id AS doc,
           |    list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> len(x) > 0) AS ts
           |   FROM documents),
           | dlen AS (SELECT doc, len(ts)::BIGINT AS f_dl FROM ltoks),
           | lq(term) AS (SELECT unnest(['spark','filter','join','table'])),
           | lmatch AS (SELECT l.doc, count(*)::BIGINT AS f_matched FROM (
           |     SELECT DISTINCT doc, unnest(ts) AS term FROM ltoks) l
           |   JOIN lq USING(term) GROUP BY 1)
           |SELECT bm.doc AS doc_id, bm.score AS f_bm25, tfx.score AS f_tfidf,
           |  qlx.score AS f_ql, coalesce(prox.n_windows, 0)::BIGINT AS f_prox,
           |  dlen.f_dl, lmatch.f_matched
           |FROM bm JOIN tfx ON tfx.doc = bm.doc
           |JOIN qlx ON qlx.doc_id = bm.doc
           |LEFT JOIN prox ON prox.doc = bm.doc
           |JOIN dlen ON dlen.doc = bm.doc
           |JOIN lmatch ON lmatch.doc = bm.doc""".stripMargin,
      // federated merge: per-SHARD BM25 stats (each selected shard its own
      // collection), then the Callan merge weight from the 6-dp beliefs;
      // the BM25 expression text matches bm25OracleSql verbatim
      "q_cori_merge" ->
        s"""WITH ${coriCtesSql},
           | cori AS ($coriSelectSql),
           | sel AS (SELECT shard, score AS r FROM cori ORDER BY score DESC, shard LIMIT 2),
           | selstats AS (SELECT avg(r) AS rbar FROM sel),
           | docs3 AS MATERIALIZED (SELECT d2.doc_id, d2.source AS shard, d2.text
           |   FROM d2 JOIN sel ON d2.source = sel.shard),
           | mtoks AS (SELECT shard, doc_id AS doc,
           |    unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> len(x) > 0)) AS term
           |   FROM docs3),
           | mtf AS (SELECT shard, doc, term, count(*)::DOUBLE AS tf FROM mtoks GROUP BY 1, 2, 3),
           | mdl AS (SELECT shard, doc, count(*)::DOUBLE AS dl FROM mtoks GROUP BY 1, 2),
           | mstats AS (SELECT shard, count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM mdl GROUP BY 1),
           | mq(term) AS (SELECT unnest(['spark','filter','zzsrc7','zzsrc3'])),
           | mdf AS (SELECT shard, term, count(DISTINCT doc)::DOUBLE AS df
           |   FROM mtf JOIN mq USING(term) GROUP BY 1, 2),
           | raw AS (SELECT t.shard, t.doc, sum(
           |    ln(1.0 + (st.n - d.df + 0.5) / (d.df + 0.5))
           |    * (t.tf * (1.2 + 1.0)) / (t.tf + 1.2 * (1.0 - 0.75 + 0.75 * l.dl / st.avgdl))) AS dsc
           |   FROM mtf t JOIN mq USING(term) JOIN mdf d ON d.shard = t.shard AND d.term = t.term
           |   JOIN mdl l ON l.shard = t.shard AND l.doc = t.doc
           |   JOIN mstats st ON st.shard = t.shard
           |   GROUP BY 1, 2),
           | merged AS (SELECT raw.doc, raw.shard,
           |    round(raw.dsc * (1.0 + 0.4 * (s.r - ss.rbar) / ss.rbar), 4) AS score
           |   FROM raw JOIN sel s ON s.shard = raw.shard CROSS JOIN selstats ss),
           | mr AS (SELECT doc, shard, score,
           |    row_number() OVER (ORDER BY score DESC, doc) AS rk FROM merged)
           |SELECT doc AS doc_id, shard, score FROM mr WHERE rk <= 10""".stripMargin,
      // streaming near-dup: same band buckets, SIGNATURE-estimated jaccard
      // (the streaming state can't hold texts). The operator's closed form:
      // (u, v) with v earlier (= smaller url in the single batch), v within
      // the bucket cap (one-sided — an over-cap arrival still COMPARES
      // against members, it just doesn't join), shared bucket, est >= 0.8.
      "q_stream_neardup" ->
        s"""WITH $DocsWithNearDupsSql,
           |${minhashCtes("docs", 64)},
           | sc AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
           |   FROM (SELECT * FROM mem WHERE rn <= 64) a
           |   JOIN mem b ON a.band = b.band AND a.bhash = b.bhash AND a.id < b.id),
           | est AS (SELECT sc.id_a, sc.id_b, sum(CASE WHEN sa.v = sb.v THEN 1 ELSE 0 END) AS eq
           |   FROM sc
           |   JOIN sigs sa ON sa.id = sc.id_a
           |   JOIN sigs sb ON sb.id = sc.id_b AND sb.j = sa.j
           |   GROUP BY 1, 2)
           |SELECT id_b AS url, id_a AS duplicate_of
           |FROM est WHERE eq >= 128 * 0.8""".stripMargin,
      "q_components" -> componentsOracleSql(threshold = 0.6, maxBucket = 64),
      "q_dedup_job" -> dedupJobOracleSql(threshold = 0.6, maxBucket = 64),
      // Winnowing replica: same normalize (lower, \s+ collapse, trim), same
      // md5-top-64 63-bit-masked k-gram hashes (k=8), min per window of 4,
      // distinct; docs shorter than k hash whole, empty docs emit nothing.
      // Corpus-cleanliness precondition as for q_chunk_*: ASCII text, no
      // control chars (Java \s / trim vs RE2 / DuckDB trim divergence).
      "q_winnow" ->
        """WITH s AS (SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS s FROM documents),
          | g0 AS (SELECT doc_id, s, len(s) - 7 AS ng, unnest(range(1, len(s) - 6)) AS i FROM s WHERE len(s) >= 8),
          | grams AS (SELECT doc_id, i, ng,
          |     ('0x' || substr(md5(substr(s, i::INT, 8)), 1, 16))::UBIGINT % 9223372036854775808 AS h FROM g0),
          | wins AS (SELECT doc_id, i, ng,
          |     min(h) OVER (PARTITION BY doc_id ORDER BY i ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS m
          |   FROM grams),
          | sel AS (SELECT DISTINCT doc_id, m AS fp FROM wins WHERE i <= ng - 3),
          | shorts AS (SELECT doc_id, ('0x' || substr(md5(s), 1, 16))::UBIGINT % 9223372036854775808 AS fp
          |   FROM s WHERE len(s) > 0 AND len(s) < 8)
          |SELECT doc_id, fp::BIGINT AS fp FROM sel
          |UNION ALL SELECT doc_id, fp::BIGINT AS fp FROM shorts""".stripMargin,
      "q_emb_neardup" -> embNearDupOracleSql(simThreshold = 0.995, bits = 10,
        tables = 3, dim = 64, maxBucket = 256),
      "q_semdedup" -> semDedupOracleSql(simThreshold = 0.98, nCells = 16,
        dim = 64, maxCell = 512),
      "q_simhash_neardup" -> simhashOracleSql(maxDist = 3, maxBucket = 64),
      // CCNet paragraph dedup over the planted-boilerplate harness: same
      // split/trim/keep-first-by-(id,idx)/reassemble, pure SQL windows
      "q_para_dedup" ->
        """WITH harness AS (
          |  SELECT a.doc_id::VARCHAR AS id,
          |    a.text || chr(10) || chr(10) ||
          |    'subscribe to our newsletter for weekly updates and offers' ||
          |    chr(10) || chr(10) || coalesce(b.text, 'final trailing document body') AS text
          |  FROM documents a LEFT JOIN documents b ON b.doc_id = a.doc_id + 1),
          | paras AS (
          |  SELECT id, idx - 1 AS idx, para FROM (
          |    SELECT id, unnest(list_transform(regexp_split_to_array(text, '\n\s*\n'), p -> trim(p))) AS para,
          |           generate_subscripts(regexp_split_to_array(text, '\n\s*\n'), 1) AS idx
          |    FROM harness)
          |  WHERE len(para) > 0),
          | kept AS (
          |  SELECT id, idx, para,
          |    row_number() OVER (PARTITION BY para ORDER BY id, idx) AS rn
          |  FROM paras)
          |SELECT h.id,
          |  coalesce(string_agg(k.para, chr(10) || chr(10) ORDER BY k.idx), '') AS clean_text
          |FROM harness h
          |LEFT JOIN (SELECT * FROM kept WHERE rn = 1) k ON k.id = h.id
          |GROUP BY h.id""".stripMargin,
      // Decontamination replica: same tokenize (lower, [^a-z0-9]+), word
      // 8-grams (short docs hash their whole token string — the MinHash
      // shingle rule), md5-top-64 gram hashes; bench set = distinct grams
      // of the doc_id % 37 = 5 docs; hits counted over per-doc DISTINCT
      // grams; gram-less docs report zeros.
      "q_decontam" ->
        """WITH toks AS (SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> len(x) > 0) AS toks FROM documents),
          | grams AS (SELECT doc_id, unnest(CASE WHEN len(toks) = 0 THEN []::VARCHAR[]
          |     WHEN len(toks) < 8 THEN [array_to_string(toks, ' ')]
          |     ELSE list_transform(range(1, len(toks) - 6), i -> array_to_string(toks[i:i+7], ' ')) END) AS g
          |   FROM toks),
          | dg AS (SELECT DISTINCT doc_id, ('0x' || substr(md5(g), 1, 16))::UBIGINT AS h FROM grams),
          | bset AS (SELECT DISTINCT h FROM dg WHERE doc_id % 37 = 5),
          | agg AS (SELECT d.doc_id, count(*) AS n_grams, count(b.h) AS hits
          |   FROM dg d LEFT JOIN bset b ON b.h = d.h GROUP BY 1)
          |SELECT t.doc_id, coalesce(a.n_grams, 0) AS n_grams,
          |  coalesce(a.hits, 0) AS hits, coalesce(a.hits, 0) >= 1 AS contaminated
          |FROM documents t LEFT JOIN agg a ON a.doc_id = t.doc_id""".stripMargin,
      // PII replica: identical harness construction, identical Java/RE2
      // common-subset patterns, counts on the pre-redaction text, then the
      // same email -> phone -> ip replace chain ('g' = Java replaceAll).
      "q_pii" ->
        """WITH h AS (SELECT doc_id, text ||
          |  CASE WHEN doc_id % 3 = 1 THEN ' contact user' || doc_id || '@mail.example.org asap' ELSE '' END ||
          |  CASE WHEN doc_id % 4 = 2 THEN ' call 555-' || lpad((doc_id % 1000)::VARCHAR, 3, '0') || '-0142' ELSE '' END ||
          |  CASE WHEN doc_id % 5 = 3 THEN ' gateway 10.' || (doc_id % 200)::VARCHAR || '.0.77 logged' ELSE '' END AS text
          | FROM documents)
          |SELECT doc_id,
          |  len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_emails,
          |  len(regexp_extract_all(text, '[0-9]{3}-[0-9]{3}-[0-9]{4}')) AS n_phones,
          |  len(regexp_extract_all(text, '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}')) AS n_ips,
          |  regexp_replace(regexp_replace(regexp_replace(text,
          |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '|||EMAIL_ADDRESS|||', 'g'),
          |    '[0-9]{3}-[0-9]{3}-[0-9]{4}', '|||PHONE_NUMBER|||', 'g'),
          |    '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}', '|||IP_ADDRESS|||', 'g') AS clean_text
          |FROM h""".stripMargin,
      // Incremental-dedup oracle: the two-batch harness replayed as ONE
      // global keep-first window over (batch, url) — prior-batch survivors
      // beat later batches, min-url wins within a batch; reason says which
      // case applied. Incremental state must agree with this full-corpus
      // re-dedup exactly.
      "q_dedup_incr" ->
        """WITH base AS (SELECT doc_id, text FROM documents),
          | d AS (
          |  SELECT doc_id::VARCHAR AS url, 0::BIGINT AS b, text FROM base
          |  UNION ALL SELECT (doc_id + 10000)::VARCHAR, 1, text FROM base WHERE doc_id % 7 = 2
          |  UNION ALL SELECT (doc_id + 40000)::VARCHAR, 1, text || ' v2' FROM base WHERE doc_id % 13 = 4
          |  UNION ALL SELECT (doc_id + 50000)::VARCHAR, 1, text || ' v2' FROM base WHERE doc_id % 13 = 4),
          | k AS (SELECT url, b,
          |    row_number() OVER (PARTITION BY text ORDER BY b, url) AS rn,
          |    first_value(url) OVER (PARTITION BY text ORDER BY b, url) AS first_url,
          |    first_value(b) OVER (PARTITION BY text ORDER BY b, url) AS first_b
          |  FROM d)
          |SELECT url,
          |  CASE WHEN first_b < b THEN 'exact_prior_duplicate' ELSE 'exact_duplicate' END AS reason,
          |  first_url AS duplicate_of, b AS batch
          |FROM k WHERE rn > 1""".stripMargin,
      // ExactSubstr replica: identical harness, whitespace tokenize,
      // md5-top-64 hashes of 8-token windows, keep-first rank by
      // (VARCHAR id, pos), covered = union of [pos, pos+8) over rn > 1
      // occurrences, reassembly joins surviving tokens with single spaces.
      "q_substr_dedup" ->
        """WITH h AS (SELECT doc_id::VARCHAR AS id, text ||
          |   CASE WHEN doc_id % 7 = 2 THEN ' all rights reserved unauthorized reproduction of this listing is strictly prohibited' ELSE '' END ||
          |   CASE WHEN doc_id % 11 = 3 THEN ' repeat block alpha beta gamma delta epsilon zeta eta theta repeat block alpha beta gamma delta epsilon zeta eta theta' ELSE '' END AS text
          |  FROM documents),
          | toks AS (SELECT id, list_filter(regexp_split_to_array(text, '\s+'), x -> len(x) > 0) AS toks FROM h),
          | winpos AS (SELECT id, toks, unnest(range(0, greatest(len(toks) - 7, 0))) AS pos FROM toks),
          | win AS (SELECT id, pos, ('0x' || substr(md5(array_to_string(toks[pos+1:pos+8], ' ')), 1, 16))::UBIGINT AS whash FROM winpos),
          | rk AS (SELECT id, pos, row_number() OVER (PARTITION BY whash ORDER BY id, pos) AS rn FROM win),
          | cov AS (SELECT DISTINCT r.id, r.pos + o.o AS cpos
          |   FROM (SELECT id, pos FROM rk WHERE rn > 1) r
          |   CROSS JOIN (SELECT unnest(range(0, 8)) AS o) o),
          | tp0 AS (SELECT id, toks, unnest(range(0, len(toks))) AS pos FROM toks),
          | tokpos AS (SELECT id, pos, toks[pos+1] AS tk FROM tp0),
          | keptagg AS (SELECT t.id, string_agg(t.tk, ' ' ORDER BY t.pos) AS clean_text
          |   FROM tokpos t LEFT JOIN cov c ON c.id = t.id AND c.cpos = t.pos
          |   WHERE c.id IS NULL GROUP BY t.id),
          | remagg AS (SELECT id, count(*) AS removed FROM cov GROUP BY id)
          |SELECT t.id::BIGINT AS doc_id, len(t.toks)::BIGINT AS n_tokens,
          |  coalesce(r.removed, 0)::BIGINT AS removed_tokens,
          |  coalesce(k.clean_text, '') AS clean_text
          |FROM toks t
          |LEFT JOIN remagg r ON r.id = t.id
          |LEFT JOIN keptagg k ON k.id = t.id""".stripMargin,
      // Phrase replica: identical harness, identical lowercase tokenizer,
      // same slot-fill anchor arithmetic (HAVING count(*) = k is exact:
      // (anchor, slot) claims are position-bijective).
      "q_phrase" ->
        """WITH h AS (SELECT doc_id, text ||
          |   CASE WHEN doc_id % 9 = 4 THEN ' machine learning pipeline scales well' ELSE '' END ||
          |   CASE WHEN doc_id % 27 = 13 THEN ' machine learning pipeline again machine learning pipeline' ELSE '' END AS text
          |  FROM documents),
          | toks AS (SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> len(x) > 0) AS toks FROM h),
          | tp0 AS (SELECT doc_id, toks, unnest(range(0, len(toks))) AS pos FROM toks),
          | tokpos AS (SELECT doc_id, pos, toks[pos+1] AS term FROM tp0),
          | slots(term, slot) AS (VALUES ('machine', 0), ('learning', 1), ('pipeline', 2)),
          | occ AS (SELECT t.doc_id, t.pos - s.slot AS anchor
          |   FROM tokpos t JOIN slots s ON s.term = t.term
          |   WHERE t.pos - s.slot >= 0
          |   GROUP BY 1, 2 HAVING count(*) = 3)
          |SELECT doc_id, count(*)::BIGINT AS n_matches FROM occ GROUP BY doc_id""".stripMargin,
      // positional-index phrase gate: the q_phrase arithmetic over the
      // POST-UPSERT corpus (extra CASE for the every-10th re-append)
      "q_index_phrase" ->
        """WITH h AS (SELECT doc_id, text ||
          |   CASE WHEN doc_id % 9 = 4 THEN ' machine learning pipeline scales well' ELSE '' END ||
          |   CASE WHEN doc_id % 27 = 13 THEN ' machine learning pipeline again machine learning pipeline' ELSE '' END ||
          |   CASE WHEN doc_id % 10 = 0 THEN ' machine learning pipeline upsert' ELSE '' END AS text
          |  FROM documents),
          | toks AS (SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> len(x) > 0) AS toks FROM h),
          | tp0 AS (SELECT doc_id, toks, unnest(range(0, len(toks))) AS pos FROM toks),
          | tokpos AS (SELECT doc_id, pos, toks[pos+1] AS term FROM tp0),
          | slots(term, slot) AS (VALUES ('machine', 0), ('learning', 1), ('pipeline', 2)),
          | occ AS (SELECT t.doc_id, t.pos - s.slot AS anchor
          |   FROM tokpos t JOIN slots s ON s.term = t.term
          |   WHERE t.pos - s.slot >= 0
          |   GROUP BY 1, 2 HAVING count(*) = 3)
          |SELECT doc_id, count(*)::BIGINT AS n_matches FROM occ GROUP BY doc_id""".stripMargin,
      "q_ann" -> annOracleSql(k = 5, bits = 10, tables = 3, dim = 64, maxBucket = 256),
      "q_kmeans" -> kmeansOracleSql(k = 8, iters = 4, dim = 64),
      "q_pq" -> pqOracleSql(k = 10, m = 4, ks = 8, iters = 2, dim = 64, nQueries = 8),
      // sparse sign projection: the md5-derived {+1,0,-1} matrix and the
      // 2^15 fixed-point grid replayed in SQL — integer sums, hash-exact
      "q_rproj" ->
        """WITH e AS (SELECT vec_id AS id, embedding FROM embeddings
          |   WHERE embedding IS NOT NULL AND len(embedding) = 64),
          | q AS (SELECT id, u.i AS i,
          |     floor(embedding[u.i + 1]::DOUBLE * 32768)::BIGINT AS qi
          |   FROM e, unnest(range(64)) AS u(i)),
          | s AS (SELECT r1.j, r2.i,
          |     CASE ((('0x' || substr(md5('rp:' || r1.j || ':' || r2.i), 1, 16))::UBIGINT
          |            & 9223372036854775807) % 6)
          |       WHEN 0 THEN 1 WHEN 1 THEN -1 ELSE 0 END AS sgn
          |   FROM range(16) r1(j), range(64) r2(i))
          |SELECT q.id, s.j::INT AS j, sum(s.sgn * q.qi)::BIGINT AS y
          |FROM q JOIN s ON q.i = s.i
          |GROUP BY 1, 2""".stripMargin,
      // JL shortlist + exact re-rank, both stages replayed: the q_rproj
      // sign grid, projected integer distances with a 32-deep per-query
      // window cut, then exact grid distances on the survivors
      "q_rproj_knn" ->
        """WITH e AS (SELECT vec_id AS id, embedding FROM embeddings
          |   WHERE embedding IS NOT NULL AND len(embedding) = 64),
          | q AS (SELECT id, u.i AS i,
          |     floor(embedding[u.i + 1]::DOUBLE * 32768)::BIGINT AS qi
          |   FROM e, unnest(range(64)) AS u(i)),
          | s AS (SELECT r1.j, r2.i,
          |     CASE ((('0x' || substr(md5('rp:' || r1.j || ':' || r2.i), 1, 16))::UBIGINT
          |            & 9223372036854775807) % 6)
          |       WHEN 0 THEN 1 WHEN 1 THEN -1 ELSE 0 END AS sgn
          |   FROM range(16) r1(j), range(64) r2(i)),
          | proj AS (SELECT q.id, s.j, sum(s.sgn * q.qi)::BIGINT AS y
          |   FROM q JOIN s ON q.i = s.i GROUP BY 1, 2),
          | pd AS (SELECT qp.id AS qid, cp.id AS id,
          |     sum((cp.y - qp.y) * (cp.y - qp.y))::BIGINT AS pdist
          |   FROM proj qp JOIN proj cp ON qp.j = cp.j
          |   WHERE qp.id < 8 AND cp.id <> qp.id GROUP BY 1, 2),
          | short AS (SELECT qid, id FROM (
          |     SELECT qid, id,
          |       row_number() OVER (PARTITION BY qid ORDER BY pdist, id) AS rn
          |     FROM pd) WHERE rn <= 32),
          | ed AS (SELECT sh.qid, sh.id,
          |     sum((cq.qi - qq.qi) * (cq.qi - qq.qi))::BIGINT AS edist
          |   FROM short sh
          |   JOIN q cq ON cq.id = sh.id
          |   JOIN q qq ON qq.id = sh.qid AND qq.i = cq.i
          |   GROUP BY 1, 2)
          |SELECT qid, id, edist, rank FROM (
          |   SELECT qid, id, edist,
          |     row_number() OVER (PARTITION BY qid ORDER BY edist, id)::INT AS rank
          |   FROM ed) WHERE rank <= 5""".stripMargin,
      "q_ivfpq" -> ivfPqOracleSql(k = 10, nCells = 8, citers = 2, nProbe = 2,
        m = 4, ks = 8, iters = 2, dim = 64, nQueries = 8),
      "q_ivf" -> ivfOracleSql(k = 5, nCells = 16, nProbe = 2, nQueries = 10),
      // the materialized path is determinism-identical to q_ivf
      "q_ann_index" -> ivfOracleSql(k = 5, nCells = 16, nProbe = 2, nQueries = 10),
      "q_ann_facet" -> ivfOracleSql(k = 5, nCells = 16, nProbe = 2, nQueries = 10,
        memberFilter = "mv.label IN (1, 3, 7)"),
      // per-id vector upsert == IVF over the POST-upsert vector source
      // (negation is exact in floating point; mutated ids are outside the
      // centroid training prefix, so cells/centroids replicate)
      "q_ann_upsert" -> ivfOracleSql(k = 5, nCells = 16, nProbe = 2, nQueries = 10,
        src = """(SELECT vec_id,
                 |   CASE WHEN vec_id % 20 = 17 THEN list_transform(embedding, x -> -x)
                 |        ELSE embedding END AS embedding
                 | FROM embeddings)""".stripMargin),
      // RRF: both legs ranked UNROUNDED (quantize once, at the output);
      // the fused double is rebuilt from the integer ranks in the same
      // fixed leg order as Hybrid.rrf, so round(.,6) sees an identical
      // double on both engines
      "q_rrf" ->
        """WITH toks AS (
          |  SELECT doc_id AS doc,
          |    unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> len(x) > 0)) AS term
          |  FROM documents),
          |tf AS (SELECT doc, term, count(*)::DOUBLE AS tf FROM toks GROUP BY 1,2),
          |dl AS (SELECT doc, count(*)::DOUBLE AS dl FROM toks GROUP BY 1),
          |stats AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
          |q(term) AS (SELECT unnest(['spark','filter','join','table'])),
          |dft AS (SELECT term, count(DISTINCT doc)::DOUBLE AS df FROM tf JOIN q USING(term) GROUP BY 1),
          |bm AS (SELECT doc, sum(
          |    ln(1.0 + (n - df + 0.5) / (df + 0.5))
          |    * (tf * (1.2 + 1.0)) / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))) AS score
          |  FROM tf JOIN q USING(term) JOIN dft USING(term) JOIN dl USING(doc) CROSS JOIN stats
          |  GROUP BY doc),
          |lex AS (SELECT doc, row_number() OVER (ORDER BY score DESC, doc) AS r FROM bm QUALIFY r <= 50),
          |qv AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
          |cs AS (SELECT vec_id AS doc,
          |    list_dot_product(embedding::DOUBLE[], qv)
          |    / greatest(sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
          |               * sqrt(list_dot_product(qv, qv)), 1e-12) AS c
          |  FROM embeddings, qv),
          |vec AS (SELECT doc, row_number() OVER (ORDER BY c DESC, doc) AS r FROM cs QUALIFY r <= 50)
          |SELECT coalesce(l.doc, v.doc) AS doc, l.r::INT AS r_lex, v.r::INT AS r_vec,
          |  round(coalesce(1.0/(60 + l.r), 0) + coalesce(1.0/(60 + v.r), 0), 6) AS rrf
          |FROM lex l FULL JOIN vec v ON l.doc = v.doc""".stripMargin,
      "q_mmr" -> mmrOracleSql(k = 8, m = 20, lambda = 0.7),
      "q_knn" ->
        """WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0)
          |SELECT vec_id, round(
          |  list_dot_product(embedding::DOUBLE[], qv)
          |  / greatest(sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
          |             * sqrt(list_dot_product(qv, qv)), 1e-12), 6) AS cosine
          |FROM embeddings, q""".stripMargin
    )
  }
}
