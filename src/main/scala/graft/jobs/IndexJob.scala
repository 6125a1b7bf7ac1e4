package graft.jobs

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.index.Bm25
import graft.lake.LakeTable

/** Index build + retrieval over materialized tables — the reference's
  * Chroma upsert + query side rebuilt as BM25 tables
  * (SURVEY.md §2.8 R4 / §2.6 F6; reference: chroma_store.py:33-61,
  * rag_py.py:266-291).
  *
  * Build: chunk table → drop duplicate rows (F6: `filter(!is_duplicate)`,
  * reference chroma_store.py:42-43) → postings/doclen parquet + atomic
  * snapshot commit. Builds are **append-only segments** (the standard
  * inverted-index growth strategy): each commit adds a segment; retrieval
  * unions segment postings and recomputes global df / avgdl from the
  * union, so incremental corpus growth never rewrites existing segments —
  * the 100-TB maintenance property. Query: broadcast the query terms,
  * score, top-k; no corpus re-tokenization at query time.
  *
  * **Doc-level tombstones** (the reference's per-id upsert semantics,
  * chroma_store.py:33-61, without rewriting segments): [[tombstone]]
  * commits a (doc, tv) marker table as its own snapshot; a doc row from a
  * segment committed at version `sv` is dead iff a live tombstone has
  * `tv > sv`. The version comparison is what makes REPLACE work: tombstone
  * the old id, then append a new segment carrying the id again — the new
  * rows (sv > tv) survive the same markers that kill the old ones. Search
  * and compaction both honor tombstones; compaction purges dead rows and
  * retires the markers (they fall out of the live-version range). Every
  * segment row therefore carries its commit version as a constant data
  * column `sv` (RLE-compressed to nothing in parquet).
  *
  * Segment discovery is **manifest-resolved** (`lake.state.fileVersions`),
  * never a filesystem probe — the same object-store-friendly liveness
  * discipline as ExtractJob's ledger reads.
  */
object IndexJob {

  /** Append one segment built from a chunk table. Returns the committed
    * snapshot version (= segment id).
    *
    * `facetCols` names metadata columns on `chunks` to commit beside doclen
    * as the segment's facet table (doc, facets...) — the queryable metadata
    * the reference stores per collection entry (question_rag.py:130-194,
    * where= filters at :168-175). [[search]] filters against it without
    * touching the corpus. */
  def build(spark: SparkSession, chunks: DataFrame, indexRoot: String,
            facetCols: Seq[String] = Nil, positions: Boolean = false,
            blocks: Boolean = false): Int = {
    // chunk ids are content-derived (sha1(dochash:idx:chunkhash)), so
    // byte-identical documents under different urls yield identical ids —
    // indexing the same content id twice double-counts tf/dl. Dedup by id
    // within the segment with a DETERMINISTIC winner (rank ordered by the
    // payload columns — dropDuplicates picks an arbitrary row, and the
    // facets write below is a separate job that re-runs the dedup, so an
    // arbitrary pick could give search a different facet row than the
    // postings saw). CROSS-segment content dedup is the upstream DedupJob's
    // responsibility (run it before chunking).
    val projected = chunks.filter(!col("is_duplicate"))
      .select((col("id").as("doc") +: (col("text") +: facetCols.map(col))): _*)
    val w = org.apache.spark.sql.expressions.Window.partitionBy("doc")
      .orderBy(("text" +: facetCols).map(col): _*)
    // EXPLICIT-width doc repartition feeding the dedup window: the window
    // reuses the partitioning (hash(doc) satisfies partitionBy(doc) at any
    // width), and — because everything from here to the tf partial
    // aggregate is narrow — the tokenize stage inherits this width too.
    // Without it, AQE coalesces the window's byte-tiny exchange and the
    // fused window+tokenize+tf stage runs on ONE task (measured 7.7 s on a
    // 4.7k-doc segment): byte-based advisory sizing is ~100× too coarse
    // for tokenize-class per-row cost. Width is cluster-derived
    // (defaultParallelism), keyed on the high-cardinality doc id.
    val parts = math.max(spark.sparkContext.defaultParallelism, 1)
    // materialized ONCE (localCheckpoint): the deduped segment relation
    // feeds 2-4 SEPARATE write actions (postings, doclen+dochash, facets,
    // positions) and each re-ran the upstream scan + repartition + dedup
    // window without it — separate actions share no AQE stage cache
    // (guide §5; the 100-TB analog is staging the deduped segment once
    // before fanning out its channel writes).
    val docs = projected
      .repartition(parts, col("doc"))
      .withColumn("__graft_rn", row_number().over(w))
      .filter(col("__graft_rn") === 1)
      .drop("__graft_rn")
      .localCheckpoint()
    // every reader of the checkpoint is a write in commitSegment; release
    // its blocks once the segment is committed (or the build failed)
    try commitSegment(spark, docs, indexRoot, facetCols, positions, blocks)
    finally graft.Lineage.dropCheckpoint(docs)
  }

  /** Write the deduped segment relation `docs` (doc, text, facets...) as
    * the next segment's channels and commit it; returns its version. */
  private def commitSegment(spark: SparkSession, docs: DataFrame, indexRoot: String,
                            facetCols: Seq[String], positions: Boolean,
                            blocks: Boolean): Int = {
    val idx = Bm25.build(docs, "doc", "text")
    val lake = new LakeTable(indexRoot)
    val v = lake.currentVersion + 1
    // term-range layout: repartition by term and sort within partitions so
    // retrieval's term semi-join prunes via parquet min/max stats instead of
    // scanning every posting file (the 100-TB layout lever)
    idx.postings.withColumn("sv", lit(v))
      .repartition(col("term")).sortWithinPartitions("term")
      .write.mode("overwrite").parquet(s"$indexRoot/data/v$v/postings")
    // doclen carries a CONTENT hash per doc (md5-top-64 of the text): the
    // identity diff incremental callers (PipelineJob) need to sync index ↔
    // corpus — (doc, dochash) equality means "already indexed, unchanged".
    graft.functions.GraftFunctions.register(spark)
    val docHash = docs.select(col("doc"),
      graft.functions.GraftFunctions.md5Top64(col("text")).as("dochash"))
    // segment stats ride the doclen write via observe() — no separate stats
    // job over dl. Safe from AQE metrics culling: the CollectMetrics node is
    // the write's own root, nothing downstream can go empty and drop it.
    val obs = org.apache.spark.sql.Observation()
    idx.docLens.join(docHash, "doc").withColumn("sv", lit(v))
      .observe(obs, count(lit(1)).as("n"),
        coalesce(avg(col("dl").cast("double")), lit(0.0)).as("avgdl"))
      .write.mode("overwrite").parquet(s"$indexRoot/data/v$v/doclen")
    if (facetCols.nonEmpty)
      docs.drop("text").withColumn("sv", lit(v))
        .write.mode("overwrite").parquet(s"$indexRoot/data/v$v/facets")
    // positional postings (opt-in: ~dl rows per doc vs ~distinct terms for
    // tf postings): the flat (term, doc, pos) relation phrase queries
    // resolve against without ever re-tokenizing the corpus. Same
    // term-range layout as postings so the phrase slot-join prunes files.
    if (positions)
      docs.select(col("doc"),
          posexplode(Bm25.tokensCol(col("text"))).as(Seq("pos", "term")))
        .withColumn("sv", lit(v))
        .repartition(col("term")).sortWithinPartitions("term", "doc", "pos")
        .write.mode("overwrite").parquet(s"$indexRoot/data/v$v/positions")
    // compressed two-channel posting blocks (opt-in): the storage form
    // block-max retrieval ([[blockMaxTopk]]) prunes at block granularity —
    // gap+varint ids, varint tfs, per-block max_tf metadata
    // (PostingsCodec.blocksOf). The codec needs numeric gaps, so ids must
    // be CANONICAL non-negative decimal longs (cast-to-long then back must
    // be identity — enforced per row, loudly; sha1-keyed corpora keep the
    // array postings path).
    if (blocks)
      graft.index.PostingsCodec.blocksOf(
        idx.postings.select(col("term"), explode(col("postings")).as("p"))
          .select(col("term"), checkedBlockDoc(col("p.doc")).as("doc"),
            col("p.tf").as("tf")))
        .withColumn("sv", lit(v))
        .repartition(col("term")).sortWithinPartitions("term", "block")
        .write.mode("overwrite").parquet(s"$indexRoot/data/v$v/blocks")
    val files = lake.listParquet(s"$indexRoot/data/v$v")
    lake.commit(files, Seq(s"segment-v$v"), Nil,
      Map("n_docs" -> obs.get("n").asInstanceOf[Long].toDouble,
        "avgdl" -> obs.get("avgdl").asInstanceOf[Double]))
    v
  }

  /** Commit doc-level delete markers: every id in `docIds` (column `doc`)
    * is dead in all segments committed BEFORE this call; segments appended
    * after carry the id live again (upsert = tombstone + build). Markers
    * are their own snapshot (key `tombstone-vN`) — no segment is rewritten.
    * Returns the committed version. */
  def tombstone(spark: SparkSession, indexRoot: String, docIds: DataFrame): Int = {
    val lake = new LakeTable(indexRoot)
    require(lake.currentVersion > 0, s"no committed index at $indexRoot")
    val v = lake.currentVersion + 1
    docIds.select(col("doc").cast("string").as("doc")).dropDuplicates("doc")
      .withColumn("tv", lit(v))
      .write.mode("overwrite").parquet(s"$indexRoot/data/v$v/tombstones")
    lake.commit(lake.listParquet(s"$indexRoot/data/v$v"),
      Seq(s"tombstone-v$v"), Nil, Map.empty)
    v
  }

  /** Live segment versions: everything after (and including) the newest
    * compaction — compacted-away segment dirs stay on disk for time travel
    * but are no longer unioned at query time. */
  private def liveVersions(lake: LakeTable): Seq[Int] = {
    val v = lake.currentVersion
    require(v > 0, s"no committed index at ${lake.root}")
    val compactedAt = lake.committedKeys.collect {
      case CompactKey(n) => n.toInt
    }.foldLeft(0)(math.max)
    // a compaction at version c retires versions < c; versions after it are
    // ordinary segments again
    math.max(1, compactedAt) to v
  }

  private val CompactKey = "compact-v(\\d+)".r
  private val KindDir = ".*/data/v(\\d+)/(postings|doclen|facets|tombstones|positions|blocks)/.*\\.parquet".r

  /** The per-row id guard of the blocks channel: ids must round-trip
    * string→long→string (canonical non-negative decimal) or the build
    * fails loudly instead of silently corrupting gaps. */
  private def checkedBlockDoc(d: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    when(d.cast("long").isNull || d.cast("long") < 0 ||
        d.cast("long").cast("string") =!= d.cast("string"),
      raise_error(concat(lit("blocks=true requires canonical non-negative " +
        "decimal doc ids; got "), d.cast("string"))))
      .otherwise(d.cast("long"))

  private final case class Segments(postings: DataFrame, doclen: DataFrame,
                                    facets: Option[DataFrame], tombs: Option[DataFrame],
                                    positions: Option[DataFrame],
                                    blocks: Option[DataFrame],
                                    kindVersions: Map[String, Set[Int]])

  /** Resolve the live relations purely from manifest state — which versions
    * have facet/tombstone tables is a fact of the COMMIT RECORD, not of
    * directory existence (`Files.exists` breaks on object stores and on any
    * manifest/filesystem divergence). */
  private def segments(spark: SparkSession, indexRoot: String): Segments = {
    val lake = new LakeTable(indexRoot)
    val liveSet = liveVersions(lake).toSet
    val byKind: Map[String, Seq[String]] = lake.state.fileVersions
      .map(_._1)
      .collect { case f @ KindDir(v, kind) if liveSet(v.toInt) => kind -> f }
      .groupBy(_._1).map { case (k, xs) => k -> xs.map(_._2) }
    def read(kind: String): Option[DataFrame] =
      byKind.get(kind).filter(_.nonEmpty).map(fs => spark.read.parquet(fs: _*))
    // postings/doclen have a fixed schema across segments: one parquet
    // relation (a single scan node, not one per segment — the errLedger
    // plan-size lesson applied here).
    val postings = read("postings").getOrElse(
      sys.error(s"no live postings segments in $indexRoot"))
    val doclen = read("doclen").getOrElse(
      sys.error(s"no live doclen segments in $indexRoot"))
    // facet schemas may differ across builds → union by name per version dir
    val facets = byKind.get("facets").filter(_.nonEmpty).map { fs =>
      fs.groupBy { case KindDir(v, _) => v.toInt }
        .values.map(g => spark.read.parquet(g: _*)).toSeq
        .reduce(_.unionByName(_, allowMissingColumns = true))
    }
    val kindVersions = lake.state.fileVersions
      .map(_._1)
      .collect { case KindDir(v, kind) if liveSet(v.toInt) => kind -> v.toInt }
      .groupBy(_._1).map { case (k, xs) => k -> xs.map(_._2).toSet }
    Segments(postings, doclen, facets, read("tombstones"), read("positions"),
      read("blocks"), kindVersions)
  }

  /** Drop rows whose doc has a live tombstone NEWER than the row's segment
    * (`tv > sv`) — the version comparison that lets a re-appended id
    * coexist with the markers that killed its older incarnation. */
  private def dropTombstoned(rows: DataFrame, tombs: Option[DataFrame]): DataFrame =
    tombs.fold(rows) { tb =>
      rows.join(tb, rows("doc") === tb("doc") && tb("tv") > rows("sv"), "left_anti")
    }

  /** Live (doc, dochash) across segments — the index's committed content
    * identity, for callers diffing index-vs-corpus (PipelineJob's
    * incremental sync). Empty-schema-safe only for v ≥ 1 tables. */
  def liveDocs(spark: SparkSession, indexRoot: String): DataFrame = {
    val seg = segments(spark, indexRoot)
    dropTombstoned(seg.doclen, seg.tombs)
      .select("doc", "dochash").dropDuplicates("doc")
  }

  /** Merge all live segments into one and commit it as the new single live
    * segment (key `compact-vN`): tombstoned rows are PURGED here, and the
    * markers retire with the pre-compaction versions. Search equality
    * before/after is asserted in IndexExprSpec. Per-query cost returns to a
    * single segment; old dirs remain on disk for snapshot time travel. */
  def compact(spark: SparkSession, indexRoot: String): Int = {
    val seg = segments(spark, indexRoot)
    val lake = new LakeTable(indexRoot)
    val v = lake.currentVersion + 1
    // same defensive overlap semantics as search(): dedup (term,doc) keep
    // max tf, recompute df; dedup doclen by doc. Rows re-stamp sv = the
    // compacted segment's own version, so future tombstones apply to them.
    val flat = dropTombstoned(
      seg.postings
        .select(col("term"), col("sv"), explode(col("postings")).as("p"))
        .select(col("term"), col("p.doc").as("doc"), col("p.tf").as("tf"), col("sv")),
      seg.tombs)
      .groupBy("term", "doc").agg(max("tf").as("tf"))
    val postings = flat.groupBy("term")
      .agg(count(lit(1)).as("df"),
        sort_array(collect_list(struct(col("doc"), col("tf")))).as("postings"))
    val doclen = dropTombstoned(seg.doclen, seg.tombs).dropDuplicates("doc")

    postings.withColumn("sv", lit(v))
      .repartition(col("term")).sortWithinPartitions("term")
      .write.mode("overwrite").parquet(s"$indexRoot/data/v$v/postings")
    doclen.drop("sv").withColumn("sv", lit(v))
      .write.mode("overwrite").parquet(s"$indexRoot/data/v$v/doclen")
    seg.facets.foreach { f0 =>
      val f = dropTombstoned(f0, seg.tombs)
      // deterministic winner per doc (see build): order by the facet payload
      val payload = f.columns.filterNot(c => c == "doc" || c == "sv")
      val fw = org.apache.spark.sql.expressions.Window.partitionBy("doc")
        .orderBy(payload.map(col): _*)
      f.withColumn("__graft_rn", row_number().over(fw))
        .filter(col("__graft_rn") === 1).drop("__graft_rn")
        .drop("sv").withColumn("sv", lit(v))
        .write.mode("overwrite").parquet(s"$indexRoot/data/v$v/facets")
    }
    seg.positions.foreach { p =>
      dropTombstoned(p, seg.tombs)
        .dropDuplicates("term", "doc", "pos")
        .drop("sv").withColumn("sv", lit(v))
        .repartition(col("term")).sortWithinPartitions("term", "doc", "pos")
        .write.mode("overwrite").parquet(s"$indexRoot/data/v$v/positions")
    }
    // rebuild the compressed blocks channel from the SAME deduped,
    // tombstone-purged flat relation the compacted postings came from —
    // only when every live postings segment carried blocks (a partial
    // channel would make blockMaxTopk silently lossy; dropping it keeps
    // that path's coverage require() loud instead)
    if (seg.blocks.isDefined &&
        (seg.kindVersions.getOrElse("postings", Set.empty) --
          seg.kindVersions.getOrElse("blocks", Set.empty)).isEmpty)
      graft.index.PostingsCodec.blocksOf(
        flat.select(col("term"), checkedBlockDoc(col("doc")).as("doc"), col("tf")))
        .withColumn("sv", lit(v))
        .repartition(col("term")).sortWithinPartitions("term", "block")
        .write.mode("overwrite").parquet(s"$indexRoot/data/v$v/blocks")
    val files = lake.listParquet(s"$indexRoot/data/v$v")
    lake.commit(files, Seq(s"compact-v$v"), Nil, Map.empty)
    v
  }

  /** Retrieval join over all live segments (R2): query terms ⨝ postings on
    * term → explode → drop tombstoned → dedup (term,doc) by max tf
    * (defensive: a chunk id indexed into two overlapping segments must not
    * double-count tf or inflate df/N) → recompute global df per term →
    * per-doc BM25 sum → top-k. Global stats (N, avgdl) come from the
    * doc-deduped, tombstone-filtered doclen union, so scores are identical
    * to a fresh single-segment build over the live corpus (asserted in
    * spec). The dedup shuffle only touches postings that matched the
    * broadcast query terms — bounded by query selectivity, not corpus
    * size; the tombstone anti-join on the postings side is equally
    * query-bounded. */
  def search(spark: SparkSession, indexRoot: String, query: String, k: Int,
             facetWhere: Option[String] = None): DataFrame = {
    import spark.implicits._
    val seg = segments(spark, indexRoot)
    // facet predicate (R1 x R2 — the reference's filtered-get-then-rank
    // flow, question_rag.py:130-194): keep = docs matching the metadata
    // predicate, applied to BOTH the posting rows (before the df window, so
    // df counts only filtered docs) and doclen (so N/avgdl are stats of the
    // FILTERED collection) — exactly the semantics of running BM25 over the
    // filtered corpus, without touching corpus text.
    val keep = facetWhere.map { w =>
      val f = seg.facets.getOrElse(sys.error(
        s"facet filter '$w' but no facets table committed in $indexRoot"))
      dropTombstoned(f, seg.tombs).filter(expr(w)).select("doc").dropDuplicates("doc")
    }
    val doclenAllDocs = liveDoclen(seg)
    val doclen = keep.fold(doclenAllDocs)(kd => doclenAllDocs.join(kd, Seq("doc"), "left_semi"))
    val flat = queryFlat(spark, seg, query)
    val withDf = keep.fold(flat)(kd => flat.join(kd, Seq("doc"), "left_semi"))
      .withColumn("df", count(lit(1)).over(org.apache.spark.sql.expressions.Window.partitionBy("term")))
    bm25Scores(withDf, doclen)
      .orderBy(desc("score"), asc("doc"))
      .limit(k)
      .select(col("doc"), round(col("score"), 4).as("score"))
  }

  /** Tombstone-filtered, segment-deduped live doclen. */
  private def liveDoclen(seg: Segments): DataFrame =
    dropTombstoned(seg.doclen, seg.tombs).dropDuplicates("doc")

  /** Query-term-pruned live (term, doc, tf) posting rows across segments
    * (max-tf dedup of overlapping segments, tombstones honored). */
  private def queryFlat(spark: SparkSession, seg: Segments, query: String): DataFrame = {
    import spark.implicits._
    val qTerms = graft.dedup.MinHash.tokenize(query).distinct.toSeq.toDF("term")
    dropTombstoned(
      seg.postings
        .join(broadcast(qTerms), "term")
        .select(col("term"), col("sv"), explode(col("postings")).as("p"))
        .select(col("term"), col("p.doc").as("doc"), col("p.tf").as("tf"), col("sv")),
      seg.tombs)
      .groupBy("term", "doc").agg(max("tf").as("tf"))
  }

  /** Raw per-doc BM25 sums of a (term, doc, tf, df) relation against a
    * doclen relation — the SINGLE scoring arithmetic [[search]] and
    * [[topkSearch]] share (one definition, so the pruned path can never
    * drift from the full path). Stats ride as a broadcast 1-row relation
    * (no eager head() — the whole search is one job; at 100 TB doclen is
    * a real table and an extra driver action was a full pass per query). */
  private def bm25Scores(flatWithDf: DataFrame, doclen: DataFrame): DataFrame = {
    val stats = doclen.agg(count(lit(1)).cast("double").as("n"),
      avg(col("dl").cast("double")).as("avgdl"))
    flatWithDf
      .join(doclen.select("doc", "dl"), "doc")
      .crossJoin(broadcast(stats))
      .withColumn("idf", log(lit(1.0) + (col("n") - col("df").cast("double") + lit(0.5)) / (col("df").cast("double") + lit(0.5))))
      .withColumn("score",
        col("idf") * (col("tf").cast("double") * (lit(Bm25.K1) + 1.0)) /
          (col("tf").cast("double") + lit(Bm25.K1) * (lit(1.0) - lit(Bm25.B) + lit(Bm25.B) * col("dl").cast("double") / col("avgdl"))))
      .groupBy("doc").agg(sum("score").as("score"))
  }

  /** MaxScore-pruned EXACT top-k resolved ENTIRELY from committed
    * segments — [[Bm25.maxScoreSearch]]'s three phases over the
    * materialized index instead of the corpus: this is where the pruning
    * earns its keep in a real engine, because the θ seed and the df-only
    * saturation bound read NOTHING but the query terms' posting rows
    * (file-pruned, tombstone-filtered), and the doclen join + float
    * scoring run only over seed ∪ survivor docs. Result is bit-identical
    * to [[search]]'s scoring under the rounded-(score, doc) order — the
    * cut is provably lossless (θ from a k-subset underestimates the
    * corpus k-th best; ub ≥ score; the θ − 1e-4 slack covers the 4-dp
    * output quantum). */
  def topkSearch(spark: SparkSession, indexRoot: String, query: String, k: Int,
                 seedR: Int = 25): DataFrame = {
    import spark.implicits._
    require(k >= 1, s"k $k")
    require(seedR >= 1, s"seedR $seedR")
    val seg = segments(spark, indexRoot)
    val doclen = liveDoclen(seg)
    val stats = doclen.agg(count(lit(1)).cast("double").as("n"),
      avg(col("dl").cast("double")).as("avgdl"))
    val wTerm = org.apache.spark.sql.expressions.Window.partitionBy("term")
    val flat = queryFlat(spark, seg, query)
      .withColumn("df", count(lit(1)).over(wTerm))
    // exact scored relation, raw doubles — ONE shared arithmetic with
    // search() (bm25Scores), so the pruned path cannot drift from it
    val scored = bm25Scores(flat, doclen)
    // θ seed: champions by integer (tf DESC, doc) — WindowGroupLimit
    val wChamp = org.apache.spark.sql.expressions.Window
      .partitionBy("term").orderBy(desc("tf"), asc("doc"))
    val ranked = flat.withColumn("__graft_ms_rn", row_number().over(wChamp))
    val seeds = ranked.filter(col("__graft_ms_rn") <= seedR)
      .select("doc").distinct()
    val theta = scored.join(seeds, Seq("doc"), "left_semi")
      .orderBy(desc("score"), asc("doc")).limit(k)
      .agg(count(lit(1)).as("c"), min("score").as("m"))
      .select(when(col("c") < k, lit(Double.MinValue))
        .otherwise(col("m")).as("theta"))
    // df-only saturation bound; 0·x no-ops pin pruned columns so the
    // posting subtree stage-caches across legs (the Bm25.maxScoreParts
    // plan-audit lesson)
    val survivors = ranked.crossJoin(broadcast(stats))
      .withColumn("idf", log(lit(1.0) +
        (col("n") - col("df").cast("double") + lit(0.5)) / (col("df").cast("double") + lit(0.5)))
        + lit(0.0) * col("avgdl"))
      .groupBy("doc").agg(sum(col("idf") * lit(Bm25.K1 + 1.0)
        + lit(0.0) * col("__graft_ms_rn")).as("ub"))
      .crossJoin(broadcast(theta))
      .filter(col("ub") >= col("theta") - lit(1e-4))
      .select("doc")
    scored.join(survivors, Seq("doc"), "left_semi")
      .select(col("doc"), round(col("score"), 4).as("score"))
      .orderBy(desc("score"), asc("doc"))
      .limit(k)
  }

  /** Block-Max WAND EXACT top-k resolved ENTIRELY from the committed
    * COMPRESSED posting blocks (Ding & Suel SIGIR'11; segments built with
    * `blocks = true`) — where the [[Bm25.blockMaxSearch]] pruning and the
    * PostingsCodec storage layout earn their keep together in a real
    * engine. Four bounded phases, all query-term-pruned (the term-range
    * block layout file-prunes the scan):
    *
    *  0. decode the ID CHANNEL ONLY of the query terms' blocks — one
    *     integer pass; tombstones drop by (doc, sv); the per-(term, doc)
    *     MAX block-max (`bm`, overlapping segments collapse here) and
    *     the exact per-term df then ride ONE (term, doc) aggregate
    *     exchange that every later phase consumes — AQE's stage cache
    *     materializes the decode once (without the exchange each leg
    *     re-scanned and re-decoded the blocks: plan-audited 3.3× wall);
    *  1. θ seed: docs ranked by their summed per-term `bm` (an integer
    *     metadata signal — members of high-max_tf blocks first), top
    *     seedR·|terms| EXACT-scored (tf channel decoded only for blocks
    *     holding a seed, dl join bounded to seeds), θ = the k-th best
    *     raw score (−∞ when fewer than k);
    *  2. prune on METADATA: per (term, doc) the block bound
    *     idf·(k1+1)·bm/(bm + k1(1−b)) — no tf decode, no dl join; docs
    *     whose summed bound < θ − 1e-4 provably cannot reach the k-th
    *     rounded score;
    *  3. decode the tf channel of blocks containing a survivor,
    *     max-tf-dedup overlapping segments, exact-rescore through the
    *     SAME bm25Scores arithmetic [[search]] uses, cut top-k on the
    *     rounded-(score DESC, doc) total order.
    *
    * Result is bit-identical to [[search]] over the same live corpus —
    * the cut is lossless; only the decoded bytes and the float work
    * shrink. At 100 TB the tf channel of a stop-word's corpus-sized
    * posting list is exactly what this never reads. */
  def blockMaxTopk(spark: SparkSession, indexRoot: String, query: String,
                   k: Int, seedR: Int = 25): DataFrame = {
    import spark.implicits._
    require(k >= 1, s"k $k")
    require(seedR >= 1, s"seedR $seedR")
    val seg = segments(spark, indexRoot)
    val blocks = seg.blocks.getOrElse(sys.error(
      s"no compressed posting blocks in $indexRoot (build with blocks = true)"))
    val missing = seg.kindVersions.getOrElse("postings", Set.empty) --
      seg.kindVersions.getOrElse("blocks", Set.empty)
    require(missing.isEmpty,
      s"segments ${missing.toSeq.sorted.mkString(", ")} in $indexRoot lack " +
        "blocks tables (built without blocks = true) — block-max retrieval " +
        "would silently omit their docs")
    val qTerms = graft.dedup.MinHash.tokenize(query).distinct.toSeq.toDF("term")
    val blocksQ = blocks.join(broadcast(qTerms), "term")
    // phase 0 — id channel only: (term, sv, block, max_tf, doc)
    val flat0 = blocksQ
      .select(col("term"), col("sv").cast("int").as("sv"),
        col("block"), col("max_tf"), col("ids"))
      .as[(String, Int, Long, Long, Array[Byte])]
      .flatMap { case (term, sv, block, bm, ids) =>
        graft.index.PostingsCodec.decodeBlock(ids)
          .iterator.map(d => (term, sv, block, bm, d.toString)) }
      .toDF("term", "sv", "block", "max_tf", "doc")
    // pin the decode behind ONE term-keyed exchange: every leg (bound,
    // seeds, both tf-decode hit joins) consumes this shuffle's output, so
    // AQE's stage cache materializes the scan+decode exactly once —
    // without it each leg re-decoded the blocks (no stage boundary under
    // a broadcast join; plan-audited 3.3× wall)
    val live0 = dropTombstoned(flat0.repartition(col("term")), seg.tombs)
    val grouped = live0.groupBy("term", "doc").agg(max("max_tf").as("bm"))
      .withColumn("df", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("term")))
    val dfRel = grouped.select("term", "df").distinct() // |query terms| rows
    val doclen = liveDoclen(seg)
    val stats = doclen.agg(count(lit(1)).cast("double").as("n"),
      avg(col("dl").cast("double")).as("avgdl"))
    // exact raw scores of a candidate doc set: decode the tf channel ONLY
    // for blocks holding a candidate, dedup overlap by max tf, score with
    // the one shared arithmetic
    def scoreDocs(cands: DataFrame): DataFrame = {
      val hit = live0.join(cands, Seq("doc"), "left_semi")
        .select("term", "sv", "block").distinct()
      val rows = blocksQ.join(hit, Seq("term", "sv", "block"), "left_semi")
        .select(col("term"), col("sv").cast("int").as("sv"),
          col("ids"), col("tfs"))
        .as[(String, Int, Array[Byte], Array[Byte])]
        .flatMap { case (term, sv, ids, tfs) =>
          val d = graft.index.PostingsCodec.decodeBlock(ids)
          val t = graft.index.PostingsCodec.decodeValues(tfs)
          d.indices.iterator.map(i => (term, sv, d(i).toString, t(i))) }
        .toDF("term", "sv", "doc", "tf")
      val flat = dropTombstoned(rows, seg.tombs)
        .join(cands, Seq("doc"), "left_semi")
        .groupBy("term", "doc").agg(max("tf").as("tf"))
        .join(broadcast(dfRel), "term")
      bm25Scores(flat, doclen)
    }
    // phase 1 — seeds ranked by summed per-term block max (an integer
    // metadata signal: members of high-max_tf blocks first, cut to
    // seedR·|terms|; any subset yields a valid θ, this one a strong one),
    // then exactly scored
    val seeds = grouped
      .groupBy("doc").agg(sum("bm").as("__graft_bmw_w"))
      .orderBy(desc("__graft_bmw_w"), asc("doc"))
      .limit(seedR * math.max(1, graft.dedup.MinHash.tokenize(query).distinct.size))
      .select("doc")
    val theta = scoreDocs(seeds)
      .orderBy(desc("score"), asc("doc")).limit(k)
      .agg(count(lit(1)).as("c"), min("score").as("m"))
      .select(when(col("c") < k, lit(Double.MinValue))
        .otherwise(col("m")).as("theta"))
    // phase 2 — metadata-only block bound, no tf decode, no dl join
    val survivors = grouped
      .crossJoin(broadcast(stats))
      .withColumn("idf", log(lit(1.0) +
        (col("n") - col("df").cast("double") + lit(0.5)) / (col("df").cast("double") + lit(0.5)))
        + lit(0.0) * col("avgdl"))
      .groupBy("doc").agg(sum(
        col("idf") * lit(Bm25.K1 + 1.0) * col("bm").cast("double") /
          (col("bm").cast("double") + lit(Bm25.K1 * (1.0 - Bm25.B)))).as("ub"))
      .crossJoin(broadcast(theta))
      .filter(col("ub") >= col("theta") - lit(1e-4))
      .select("doc")
    // phase 3 — decode + exact-rescore survivors only
    scoreDocs(survivors)
      .select(col("doc"), round(col("score"), 4).as("score"))
      .orderBy(desc("score"), asc("doc"))
      .limit(k)
  }

  /** Proximity co-occurrence window counts per live doc —
    * [[Bm25.proximityWindows]]' interval slot-fill resolved ENTIRELY
    * from the committed positional postings (same channel
    * [[phraseSearch]] reads, same coverage guard): the positions
    * relation is pruned to the query's terms by the broadcast join,
    * tombstones honored, overlapping segments deduped on the
    * (term, doc, pos) occurrence identity. All integer. */
  def proximitySearch(spark: SparkSession, indexRoot: String, query: String,
                      w: Int): DataFrame = {
    val seg = segments(spark, indexRoot)
    val pos = seg.positions.getOrElse(sys.error(
      s"no positional segments in $indexRoot (build with positions = true)"))
    val missing = seg.kindVersions.getOrElse("postings", Set.empty) --
      seg.kindVersions.getOrElse("positions", Set.empty)
    require(missing.isEmpty,
      s"segments ${missing.toSeq.sorted.mkString(", ")} in $indexRoot lack " +
        "positions tables (built without positions = true) — proximity counts " +
        "would silently omit their docs")
    Bm25.proximityOf(
      dropTombstoned(pos, seg.tombs).dropDuplicates("term", "doc", "pos")
        .select("doc", "pos", "term"),
      query, w)
  }

  /** Exact-phrase occurrence counts per live doc — [[Bm25.phraseMatches]]'
    * slot-fill arithmetic resolved ENTIRELY from the committed positional
    * postings (segments built with `positions = true`), so phrase queries
    * never re-tokenize the corpus: the positions relation is pruned to the
    * phrase's terms by the broadcast slot join (query-bounded, file-pruned
    * by the term-range layout), tombstones honored, overlapping segments
    * deduped on the (doc, pos, slot) claim identity — repeated phrase
    * terms (two slots per term) keep their two claims. All integer. */
  def phraseSearch(spark: SparkSession, indexRoot: String, phrase: String): DataFrame = {
    import spark.implicits._
    val terms = graft.dedup.MinHash.tokenize(phrase).toSeq
    require(terms.nonEmpty, "phrase must contain at least one token")
    val k = terms.length
    val seg = segments(spark, indexRoot)
    val pos = seg.positions.getOrElse(sys.error(
      s"no positional segments in $indexRoot (build with positions = true)"))
    // refuse PARTIAL coverage loudly: a live postings segment without a
    // positions table would silently vanish from every phrase count
    val missing = seg.kindVersions.getOrElse("postings", Set.empty) --
      seg.kindVersions.getOrElse("positions", Set.empty)
    require(missing.isEmpty,
      s"segments ${missing.toSeq.sorted.mkString(", ")} in $indexRoot lack " +
        "positions tables (built without positions = true) — phrase counts " +
        "would silently omit their docs")
    val slots = terms.zipWithIndex.toDF("term", "slot")
    dropTombstoned(pos.join(broadcast(slots), "term"), seg.tombs)
      .dropDuplicates("doc", "pos", "slot")
      .select(col("doc"), (col("pos") - col("slot")).as("anchor"))
      .filter(col("anchor") >= 0)
      .groupBy("doc", "anchor").agg(count(lit(1)).as("filled"))
      .filter(col("filled") === k)
      .groupBy("doc").agg(count(lit(1)).as("n_matches"))
  }
}
