package graft.jobs

import graft.{ExtractedDoc, PageRow}
import graft.extract.Extract
import graft.chunk.Chunker
import graft.lake.LakeTable
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** The end-to-end extraction job: the Spark shape of the reference's
  * `convert_to_embeddings` driver (SURVEY.md §3.1), with checkpoint resume,
  * change detection, failed-row retry, salted skew handling, per-bucket
  * lineage, and atomic snapshot commit.
  *
  * One run = one snapshot over the url-hash buckets that need work:
  *
  *   read pages → bucket by xxhash64(url) % nBuckets
  *             → fingerprint buckets (xxhash64(url, warc_ts) xor-combined)
  *             → todo = buckets whose fingerprint is not the committed one
  *               (covers both never-extracted and CHANGED buckets — the
  *               reference re-processes a file whose size/mtime changed,
  *               progress_store.py:54-61; warc_ts is the crawl's mtime)
  *             → plus the retry set: urls whose latest attempt err'd
  *               (the reference retries failed files every run,
  *               convert_to_embeddings.py:552-558)
  *             → repartitionById on a bucket-aligned id  (salting, P5)
  *             → mapPartitions extract                   (X1/X2)
  *             → flatMap chunk                           (K1-K5, D1)
  *             → write chunks partitioned by bucket
  *             → lineage/metrics aggregate, then err ledger rows (if any)
  *             → commit manifest with lineage + metrics
  *
  * Read semantics (latest-wins per bucket): a bucket's live chunk files are
  * those written at version >= the bucket's newest full commit — so a
  * re-extracted bucket atomically supersedes its old files, while later
  * retry successes (which write only the recovered urls' chunks) remain
  * visible. Liveness is resolved purely from manifests (no directory
  * listing), the object-store-friendly way.
  */
object ExtractJob {

  final case class Result(version: Int, docs: Long, chunks: Long, errs: Long,
                          buckets: Seq[Int], retried: Long)

  private val BucketKey = "b=(\\d+):fp=(-?\\d+)".r

  /** Latest committed fingerprint per bucket (later snapshots win).
    * Resolved from the lake's checkpointed state — O(checkpoint interval)
    * manifest reads, not O(versions). */
  def committedFps(lake: LakeTable): Map[Int, Long] =
    lake.state.keyVersions
      .collect { case (BucketKey(b, fp), v) => (b.toInt, v, fp.toLong) }
      .groupBy(_._1)
      .map { case (b, xs) => b -> xs.maxBy(_._2)._3 }

  /** Version of the latest FULL commit per bucket (retry commits excluded).
    * Checkpoint-backed, like [[committedFps]]. */
  private def vFullMap(lake: LakeTable): Map[Int, Int] =
    lake.state.keyVersions
      .collect { case (BucketKey(b, _), v) => (b.toInt, v) }
      .groupBy(_._1)
      .map { case (b, xs) => b -> xs.map(_._2).max }

  /** Order-independent content fingerprint per bucket over (url, warc_ts) —
    * the metadata-only analog of the reference's size/mtime check; the html
    * payload is never read for planning. */
  def bucketFingerprints(pages: Dataset[PageRow], nBuckets: Int): Map[Int, Long] =
    pages.select(
        pmod(xxhash64(col("url")), lit(nBuckets)).cast("int").as("bucket"),
        xxhash64(col("url"), col("warc_ts")).as("h"))
      .groupBy("bucket").agg(expr("bit_xor(h)").as("fp"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap

  /** Live error-ledger rows (bucket, url, kind, err, v): attempts at or
    * after each bucket's newest full commit. err = "" rows are resolution
    * markers written by successful retries. */
  def errLedger(spark: SparkSession, tableRoot: String): DataFrame = {
    import spark.implicits._
    val lake = new LakeTable(tableRoot)
    val vf = vFullMap(lake)
    val files = lake.state.fileVersions.filter(_._1.contains("/errs/"))
    if (files.isEmpty)
      return Seq.empty[(Int, String, String, String, Int)]
        .toDF("bucket", "url", "kind", "err", "v")
    val vfDf = vf.toSeq.toDF("bucket", "vfull")
    oneScanWithVersion(spark, files)
      .join(broadcast(vfDf), "bucket")
      .filter(col("v") >= col("vfull"))
      .drop("vfull")
  }

  /** ALL live files as ONE parquet relation (plan size O(1) in the number
    * of commits), with each row's commit version derived from its FILE's
    * manifest entry via input_file_name() + a broadcast path→version map.
    * Provenance (not a data column) is the source of truth: it is correct
    * for files written by any engine version — including pre-round-4
    * ledgers that carry no `v` column — and for mixed old/new tables. */
  private def oneScanWithVersion(spark: SparkSession,
                                 files: Seq[(String, Int)]): DataFrame = {
    import spark.implicits._
    // Join key is the part-file BASENAME, not the full path: Spark part
    // files embed a per-write-job UUID (part-NNNNN-<uuid>…parquet), so the
    // tail is unique across the table and — unlike full-path equality —
    // immune to relative-vs-absolute roots, file:/ scheme variants, and
    // input_file_name()'s URI escaping (spaces → %20). Basenames are
    // Spark-generated [A-Za-z0-9.-], never escaped.
    // distinct: a dynamic-partition write reuses one basename across its
    // partition dirs (bucket=1/part-00000-<uuid>…, bucket=2/part-00000-…);
    // those are the same job → same commit → same v, so collapsing keeps
    // the basename→v map single-valued (no join multiplicity)
    val pathV = files.map { case (f, v) => (f.substring(f.lastIndexOf('/') + 1), v) }
      .distinct.toDF("__graft_file", "v")
    val matched = spark.read.parquet(files.map(_._1): _*)
      .drop("v") // ignore the self-describing data column if present
      .withColumn("__graft_file", element_at(split(input_file_name(), "/"), -1))
      .join(broadcast(pathV), Seq("__graft_file"), "left")
    // loud-failure guard: a provenance row that matches no manifest entry
    // means the join premise broke — fail the query rather than silently
    // returning an empty/partial ledger (which would stop error retries)
    matched
      .withColumn("v", when(col("v").isNotNull, col("v"))
        .otherwise(raise_error(concat(
          lit("graft manifest/provenance mismatch for file: "), col("__graft_file")))))
      .drop("__graft_file")
  }

  /** Urls whose LATEST attempt failed — the retry set for the next run. */
  def pendingErrs(spark: SparkSession, tableRoot: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("url").orderBy(col("v").desc)
    errLedger(spark, tableRoot)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1 && col("err") =!= "")
      .select("bucket", "url", "err")
  }

  def run(spark: SparkSession, pages: Dataset[PageRow], tableRoot: String,
          nBuckets: Int = 64, maxBucketsPerRun: Int = Int.MaxValue,
          retryErrs: Boolean = true): Result = {
    import spark.implicits._
    val lake = new LakeTable(tableRoot)
    val committed = committedFps(lake)
    val fps = bucketFingerprints(pages, nBuckets)
    val todo: Seq[Int] = (0 until nBuckets)
      .filter(b => !committed.get(b).contains(fps.getOrElse(b, 0L)))
      .take(maxBucketsPerRun)

    // failed-row retry: urls whose latest attempt err'd, in buckets NOT
    // being fully re-extracted this run (those re-attempt everything anyway).
    // Stays a DataFrame end-to-end — the retry set is bounded only by how
    // many urls err'd, and a poisoned corpus (systematic parse bug at 100 TB)
    // must not OOM the driver through a collect(). Only its COUNT crosses to
    // the driver (a scalar), used for planning and the broadcast-size check;
    // a cold table (or retryErrs = false) has no retry set and skips that job.
    lazy val retrySet: DataFrame = pendingErrs(spark, tableRoot)
      .filter(!col("bucket").isin(todo: _*))
      .select("url").distinct()
    val nRetry: Long =
      if (retryErrs && lake.currentVersion > 0) retrySet.count() else 0L

    if (todo.isEmpty && nRetry == 0)
      return Result(lake.currentVersion, 0, 0, 0, Nil, 0)

    // prune to (url, html, bucket) BEFORE the salting shuffle — the scan's
    // ReadSchema and the exchange both drop warc_ts/text/lang
    val bucketed = pages
      .select(col("url"), col("html"),
        pmod(xxhash64(col("url")), lit(nBuckets)).cast("int").as("bucket"))
    val todoPages = bucketed
      .filter(col("bucket").isin(todo: _*))
      .withColumn("retry", lit(false))
    val work =
      if (nRetry == 0) todoPages
      else {
        // small retry sets broadcast (the common case: a handful of flaky
        // rows); big ones fall back to a shuffle semi-join on url
        val probe = if (nRetry <= 100000) broadcast(retrySet) else retrySet
        todoPages.unionByName(
          bucketed
            .join(probe, Seq("url"), "left_semi")
            .filter(!col("bucket").isin(todo: _*))
            .select(col("url"), col("html"), col("bucket"))
            .withColumn("retry", lit(true)))
      }

    // salted, bucket-aligned repartition: decouple extraction parallelism
    // from input layout while keeping each bucket on as few tasks as
    // possible, so the partitionBy("bucket") write below creates at most
    // nBuckets + P - 1 chunk files instead of about nBuckets × P. The id is
    // (bucket·P + s) div nBuckets with s = pmod(murmur3(url), P), an url
    // salt independent of the xxhash64 bucket: for P <= nBuckets each task
    // owns whole buckets (exactly nBuckets / P of them when P divides
    // nBuckets); for P > nBuckets each bucket is salted over about
    // ⌈P / nBuckets⌉ tasks. repartitionById uses the id as is; repartition(n,
    // id) would re-hash it and leave ~1/e of the partitions empty.
    val parts = spark.sparkContext.defaultParallelism
    val pid = expr(
      s"(cast(bucket as bigint) * $parts + pmod(hash(url), $parts)) div $nBuckets").cast("int")
    val salted = work
      .repartitionById(parts, pid)
      .as[(String, Array[Byte], Int, Boolean)]

    // Extraction feeds two consumers (chunk write + lineage/metrics agg);
    // persist so the expensive parse runs once. At production scale the
    // equivalent is materializing the extracted-docs table itself as a
    // snapshot and deriving chunks/lineage from that scan. Released on every
    // exit, so a failed write or commit does not leave it in the caller's
    // block manager.
    val extracted: Dataset[(ExtractedDoc, Int, Boolean)] = salted.mapPartitions { it =>
      it.map { case (url, html, bucket, retry) => (Extract.extractOne(url, html), bucket, retry) }
    }.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val v = lake.currentVersion + 1
      val outBase = s"$tableRoot/data/v$v"

      // chunk rows, partitioned by bucket so per-bucket supersession is a
      // pure file-path property; chunk count observed on the same write pass
      // (no re-read of the just-written table)
      val chunkObs = new org.apache.spark.sql.Observation(s"chunks_v$v")
      val chunks = extracted.flatMap { case (d, bucket, _) =>
        if (d.err.isEmpty && d.text.nonEmpty)
          Chunker.chunkDocument(d.url, graft.Hashing.sha256Hex(d.text), d.text)
            .map(c => (c.id, c.url, c.chunk_index, c.total_chunks, c.text, c.chunk_hash,
              c.is_duplicate, c.duplicate_of_index,
              math.max(1, c.text.length / 4).toLong, bucket))
        else Nil
      }.toDF("id", "url", "chunk_index", "total_chunks", "text", "chunk_hash",
        "is_duplicate", "duplicate_of_index", "tokens", "bucket")
        .observe(chunkObs, count(lit(1)).as("n"))
      chunks.write.partitionBy("bucket").mode("overwrite").parquet(s"$outBase/chunks")
      val nChunks: Long = chunkObs.get("n") match {
        case l: java.lang.Long => l.longValue()
        case other => other.toString.toLong
      }

      // per-document billing breakdown (the reference's per-file tokens/cost
      // ledger, billing.py:53-72): tokens = Σ_chunks max(1, len/4), cost at
      // the reference's default price. Derived from the persisted extraction
      // (chunking re-runs on the cached docs — billing is not the hot path).
      // `v` is written as a DATA column (not derived from the manifest at read
      // time): ledger readers then open every live file in ONE parquet
      // relation instead of building one scan node per version — at 10^4
      // commits the per-version union made every planning read carry
      // thousands of scan nodes.
      val billing = chunks
        .groupBy("bucket", "url")
        .agg(sum("tokens").as("tokens"), count(lit(1)).as("n_chunks"))
        .withColumn("cost", col("tokens").cast("double") / 1000000.0 * Billing.PricePerMTokens)
        .withColumn("v", lit(v))
      billing.write.mode("overwrite").parquet(s"$outBase/billing")

      // per-bucket lineage (the reference's per-file ledger rows,
      // progress_store.py:33-61) + an observe() metric on the same pass —
      // the Catalyst-native billing accumulator (SURVEY.md §2.7 A1,
      // reference: billing.py:53-72): collected by the listener during the
      // lineage aggregation, no extra job
      val observation = new org.apache.spark.sql.Observation(s"extract_v$v")
      val docStats = extracted
        .map { case (d, b, _) => (b, d.url, if (d.err.nonEmpty) 1 else 0, d.n_chars.toLong) }
        .toDF("bucket", "url", "is_err", "n_chars")
        .observe(observation,
          count(lit(1)).as("obs_docs"),
          sum("is_err").as("obs_errs"),
          sum(ceil(col("n_chars") / 4)).as("obs_tokens_est"))
      val lineageRows = docStats.groupBy("bucket")
        .agg(count(lit(1)).as("n_docs"), sum("is_err").as("n_err"),
          min("url").as("url_lo"), max("url").as("url_hi"), sum("n_chars").as("chars"))
        .collect()
        .map { r =>
          Map(
            "bucket" -> r.getAs[Int]("bucket").toString,
            "n_docs" -> r.getAs[Long]("n_docs").toString,
            "n_err" -> r.getAs[Long]("n_err").toString,
            "url_lo" -> r.getAs[String]("url_lo"),
            "url_hi" -> r.getAs[String]("url_hi"),
            "chars" -> r.getAs[Long]("chars").toString)
        }.toSeq

      val nDocs = lineageRows.map(_("n_docs").toLong).sum
      val nErrs = lineageRows.map(_("n_err").toLong).sum

      // error ledger: failures always; retry attempts always (err = "" marks a
      // retry that succeeded, retiring the url from the pending set). A run
      // with neither writes no errs files: the ledger readers open only
      // manifest-listed files, so an absent directory adds no rows.
      if (nErrs > 0 || nRetry > 0)
        extracted
          .filter(t => t._1.err.nonEmpty || t._3)
          .map { case (d, b, _) => (b, d.url, d.kind, d.err) }
          .toDF("bucket", "url", "kind", "err")
          .withColumn("v", lit(v))
          .write.mode("overwrite").parquet(s"$outBase/errs")

      val files = lake.listParquet(outBase)
      // token estimate from observe(): the reference's billing tokens
      // (max(1, len//4), convert_to_embeddings.py:106-118), free-riding on the
      // lineage aggregation job
      val obs = observation.get
      val tokensEst: Double = obs.get("obs_tokens_est") match {
        case Some(l: java.lang.Long) => l.toDouble
        case Some(d: java.lang.Double) => d.toDouble
        case _ => 0.0
      }
      // commit ALL planned buckets under their new fingerprint (some may be
      // empty of rows — still done); retry-only work is marked with its own key
      val keys = todo.map(b => s"b=$b:fp=${fps.getOrElse(b, 0L)}") ++
        (if (nRetry > 0) Seq(s"retry-v$v") else Nil)
      lake.commit(files, keys, lineageRows,
        Map("docs" -> nDocs.toDouble, "chunks" -> nChunks.toDouble,
            "errs" -> nErrs.toDouble, "tokens_est" -> tokensEst))
      Result(v, nDocs, nChunks, nErrs, todo, nRetry)
    } finally extracted.unpersist()
  }

  /** Live chunk files per the latest-wins-per-bucket rule, resolved from
    * the checkpointed manifest state alone (no directory listing). */
  private def liveChunkFiles(lake: LakeTable): Seq[String] = {
    val vf = vFullMap(lake)
    val BucketDir = ".*/chunks/bucket=(\\d+)/.*".r
    lake.state.fileVersions.collect {
      case (f @ BucketDir(b), v) if v >= vf.getOrElse(b.toInt, Int.MaxValue) => f
    }
  }

  def readChunks(spark: SparkSession, tableRoot: String): DataFrame = {
    val files = liveChunkFiles(new LakeTable(tableRoot))
    if (files.isEmpty) spark.emptyDataFrame
    else spark.read.parquet(files: _*)
  }

  /** Live per-document billing rows (latest-wins per bucket, like errs). */
  def readBilling(spark: SparkSession, tableRoot: String): DataFrame = {
    import spark.implicits._
    val lake = new LakeTable(tableRoot)
    val vf = vFullMap(lake)
    // one-relation read over all live files; see errLedger
    val files = lake.state.fileVersions.filter(_._1.contains("/billing/"))
    if (files.isEmpty)
      return Seq.empty[(Int, String, Long, Long, Double, Int)]
        .toDF("bucket", "url", "tokens", "n_chunks", "cost", "v")
    val vfDf = vf.toSeq.toDF("bucket", "vfull")
    oneScanWithVersion(spark, files)
      .join(broadcast(vfDf), "bucket")
      .filter(col("v") >= col("vfull"))
      .drop("vfull")
  }
}

/** Billing constants (reference: src/services/RAG/billing.py:18-24 —
  * default price 0.012 per 1M tokens; tokens = max(1, len/4),
  * convert_to_embeddings.py:106-118). */
object Billing {
  val PricePerMTokens: Double = 0.012
}
