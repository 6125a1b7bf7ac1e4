package graft.tools

import java.nio.file.{Files, Paths}
import java.nio.charset.StandardCharsets.UTF_8
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.ExplainMode

/** Regenerates PLANS.md: physical-plan evidence for the core operators,
  * captured from the real SparkEntry queries against an sf dir.
  * Usage: `sbt "runMain graft.tools.Plans [sfDir] [outFile]"`. */
object Plans {

  /** Execute the query FIRST, then explain: under AQE (default on) the
    * static plan shows duplicated subtrees that the runtime stage cache
    * actually deduplicates — only the post-execution explain (isFinalPlan
    * = true, ReusedQueryStage/ReusedExchange nodes) is honest evidence of
    * how many times a scan/tokenize really ran. */
  private def fmt(df: DataFrame, maxLine: Int = 220): String = {
    // collect() (not count()) — count() wraps the df in a NEW QueryExecution
    // and leaves this one's adaptive plan unexecuted (isFinalPlan=false)
    try df.collect() catch { case _: Throwable => }
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))
      .linesIterator
      .map(l => if (l.length > maxLine) l.take(maxLine) + " …" else l)
      .mkString("\n")
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val out = args.lift(1).getOrElse("PLANS.md")
    val spark = graft.SparkSessions("graft-plans", Some(4))
    import spark.implicits._
    implicit val s: SparkSession = spark

    val sections = Seq(
      ("Extraction pipeline (salted, fused extract+chunk — the bench job)",
       """Check: `ReadSchema: struct<url:string,html:binary>` (pruned before the
         |shuffle), ONE Exchange (the salting repartition), then a single narrow
         |MapPartitions — extract and chunk fused, only a count crosses out.""".stripMargin, {
        val pages = spark.range(200).map(i => graft.corpus.PageGen.row(42L, i))
        val dir = "/tmp/graft-plans-pages"
        pages.write.mode("overwrite").parquet(dir)
        spark.read.parquet(dir)
          .select($"url", $"html").as[(String, Array[Byte])]
          .repartition(8, org.apache.spark.sql.functions.col("url"))
          .mapPartitions { it =>
            var n = 0L
            it.foreach { case (u, h) =>
              val d = graft.extract.Extract.extractOne(u, h)
              if (d.err.isEmpty && d.text.nonEmpty)
                n += graft.chunk.Chunker.chunkDocument(d.url, graft.Hashing.sha256Hex(d.text), d.text).length
            }
            Iterator.single(n)
          }.toDF("n")
      }),
      ("BM25 scoring (q_bm25)",
       """Check: query terms broadcast (BroadcastHashJoin), ONE scan of documents
         |feeding both tf and dl subtrees, window df over the filtered tf relation,
         |hash aggregates with partial (map-side) combine.""".stripMargin,
       graft.SparkEntry.queries("q_bm25")(spark, sfDir)),
      ("MinHash LSH near-dup (q_minhash_neardup)",
       """Check: signature+bands computed in a narrow MapPartitions (no shingle
         |shuffle); the bucket cap is a WindowGroupLimit with a PARTIAL map-side
         |phase (hot buckets truncated to ~cap rows BEFORE the exchange), the
         |collect_list aggregate only ever sees capped survivors; pair explode,
         |shuffle (not broadcast) verify joins on id.""".stripMargin,
       graft.SparkEntry.queries("q_minhash_neardup")(spark, sfDir)),
      ("SimHash near-dup (q_simhash_neardup)",
       """Check: NO ScalaUDF anywhere — Hamming is the codegen'd native
         |`hamming` expression; band keys emitted by the same narrow map as the
         |fingerprint; WindowGroupLimit pre-cap like MinHash.""".stripMargin,
       graft.SparkEntry.queries("q_simhash_neardup")(spark, sfDir)),
      ("ANN via capped LSH buckets (q_ann)",
       """Check: the bucket rank's input carries only (id, tbl, bucket) —
         |the vector column is pruned before the exchange; WindowGroupLimit
         |pre-cap; vectors re-join by id only for surviving pairs;
         |top-k is a rank-1 window, no global sort.""".stripMargin,
       graft.SparkEntry.queries("q_ann")(spark, sfDir)),
      ("Facet-filtered index search (q_facet_index)",
       """Check: query terms broadcast; the facet keep-set SEMI-joins both the
         |exploded postings (before the df window — df counts filtered docs
         |only) and doclen (stats of the filtered collection); no corpus scan
         |anywhere — only committed postings/doclen/facets segment files.""".stripMargin,
       graft.SparkEntry.queries("q_facet_index")(spark, sfDir)),
      ("Materialized ANN search (q_ann_index)",
       """Check: centroid table read once (driver, nCells rows); probes are a
         |narrow map; the cells scan carries `cell IN (...probed...)` as a
         |PushedFilters entry over the sorted-by-cell layout (row-group
         |pruning); exact cosine only on probed members; rank-window top-k.""".stripMargin,
       graft.SparkEntry.queries("q_ann_index")(spark, sfDir)),
      ("Cross-corpus paragraph dedup (q_para_dedup)",
       """Check: split/trim/posexplode narrow; ONE rank window keyed on the
         |paragraph text (WindowGroupLimit-able keep-first, no aggregation
         |buffer); one reassembly aggregate per doc.""".stripMargin,
       graft.SparkEntry.queries("q_para_dedup")(spark, sfDir)),
      ("Exact dedup window (q_dedup_exact)",
       """Check: one Exchange on the high-cardinality fingerprint, one Window,
         |no join.""".stripMargin,
       graft.SparkEntry.queries("q_dedup_exact")(spark, sfDir)),
      ("Brute-force cosine top-k (q_knn)",
       """Check: corpus side stays narrow (no shuffle of embeddings); the single
         |query vector is broadcast; WholeStageCodegen covers the arithmetic.""".stripMargin,
       graft.SparkEntry.queries("q_knn")(spark, sfDir)),
      ("ExactSubstr duplicated-run removal (q_substr_dedup)",
       """Check: tokenize + window-hash emission is ONE narrow generator stage
         |(posexplode over slide — no per-window string shuffle, only the
         |64-bit hash + (id, pos) cross the wire); keep-first rank is a window
         |over the hash key; only rn>1 starts ship back to docs; the coverage
         |cut is one narrow map after a per-doc aggregate.""".stripMargin,
       graft.SparkEntry.queries("q_substr_dedup")(spark, sfDir)),
      ("Exact phrase retrieval (q_phrase)",
       """Check: the k-row slot table BROADCASTs into the exploded token
         |relation (BroadcastHashJoin) so only phrase-term occurrences reach
         |the single (doc, anchor) Exchange; both aggregates carry partial_
         |map-side phases; no Expand node (count(*) == count(distinct slot)
         |by position-bijectivity).""".stripMargin,
       graft.SparkEntry.queries("q_phrase")(spark, sfDir)),
      ("Facet-filtered ANN search (q_ann_facet)",
       """Check: the probed-cell IN-filter reaches the cells scan
         |(PushedFilters — storage-level pruning happens BEFORE the facet
         |semi-join), the facet keep-set joins LeftSemi onto the pruned
         |rows before any cosine arithmetic, and the tombstone anti-join
         |stays bounded by probe selectivity.""".stripMargin,
       graft.SparkEntry.queries("q_ann_facet")(spark, sfDir)),
      ("Context assembly (q_context)",
       """Check: top-k is TakeOrderedAndProject (no global sort of the scored
         |relation); the k-row result broadcasts into the token join; the
         |rank/cumsum windows sit above the limit — they only ever see k
         |rows.""".stripMargin,
       graft.SparkEntry.queries("q_context")(spark, sfDir)),
      ("Unigram-LM scoring (q_lm_score)",
       """Check: ONE tokenize of the corpus — the (doc,term,tf) aggregate
         |exchange is REUSED between the term-count window subtree and the
         |broadcast total (ReusedExchange/ReusedQueryStage in the final
         |adaptive plan); corpus term counts ride a window, not a self-join;
         |the scalar total enters via BroadcastNestedLoopJoin of a 1-row
         |relation.""".stripMargin,
       graft.SparkEntry.queries("q_lm_score")(spark, sfDir)),
      ("SemDeDup cluster-scoped semantic dedup (q_semdedup)",
       """Check: cell assignment is a narrow MapPartitions over broadcast
         |centroids (no vector shuffle); the per-cell cap is a
         |WindowGroupLimit with a PARTIAL map-side phase over (id, cell)
         |only — vectors re-join by id strictly for within-cell pair
         |verification; the final keep is a left-anti join on the loser
         |set.""".stripMargin,
       graft.SparkEntry.queries("q_semdedup")(spark, sfDir)),
      ("BPE encode (q_bpe_encode)",
       """Check: ONE corpus tokenize (termFreq partial aggregate); the merge
         |loop runs over DISTINCT terms only (vocabulary-sized narrow map
         |after a distinct exchange); the per-word symbol counts join back
         |BROADCAST (AQE: the vocab side is small); one per-doc hash
         |aggregate with map-side combine.""".stripMargin,
       graft.SparkEntry.queries("q_bpe_encode")(spark, sfDir)),
      ("C4 line cleaning (q_c4_clean)",
       """Check: ONE narrow SerializeFromObject/MapElements chain per doc —
         |zero exchanges anywhere in the plan (split → line filter →
         |reassemble all inside a single whole-stage-adjacent object map);
         |ReadSchema pruned to (doc_id, text).""".stripMargin,
       graft.SparkEntry.queries("q_c4_clean")(spark, sfDir)),
      ("DSIR importance resampling (q_dsir)",
       """Check: the fitted log-ratio model (≤4096 rows) enters score via a
         |BROADCAST hash join; doc scoring is explode → (doc,bucket)
         |partial+final aggregate → per-doc aggregate (both exchanges keyed
         |on the high-cardinality doc id); the Gumbel top-100 is a
         |TakeOrderedAndProject, not a global sort.""".stripMargin,
       graft.SparkEntry.queries("q_dsir")(spark, sfDir)),
      ("Integer PageRank (q_pagerank)",
       """Check: the visible plan is the LAST iteration only — its leaves
         |are `Scan ExistingRDD` (the localCheckpoint truncation; without
         |it 8 self-referencing rounds analyze a 2^8 tree); one Exchange
         |keyed on the edge dst for the contribution aggregate, the rank
         |join keyed on src; every rank expression is bigint (`div`, not
         |`/`) — no doubles anywhere.""".stripMargin,
       graft.SparkEntry.queries("q_pagerank")(spark, sfDir)),
      ("HyperLogLog sketch (q_hll)",
       """Check: register build is explode → ONE partial+final hash
         |aggregate on (key, j) (map-side max partials — duplicates die on
         |the mapper), then the per-key summary aggregate; est_milli is a
         |single integral_divide over DECIMAL(38,0) literals — no window,
         |no distinct Expand, no doubles in the gated columns. The exact
         |side (countDistinct) exists ONLY for the gate's accuracy row.""".stripMargin,
       graft.SparkEntry.queries("q_hll")(spark, sfDir)),
      ("Count-Min sketch (q_cms)",
       """Check: sketch build is a 4× explode (Generate) → ONE partial+final
         |hash aggregate to ≤4096 (r,b) rows; the probe side joins that
         |sketch via BroadcastHashJoin (build side ≤4096 rows by
         |construction) and min-aggregates per probed value; the exact
         |top-20 is TakeOrderedAndProject, not a global sort.""".stripMargin,
       graft.SparkEntry.queries("q_cms")(spark, sfDir)),
      ("KMV bottom-k signatures (q_kmv)",
       """Check: distinct-hash build is ONE partial+final hash aggregate on
         |(key, h); the bottom-k `row_number ≤ 256` filter rewrites to
         |WindowGroupLimit (map-side truncation BEFORE the key exchange —
         |nothing downstream needs dropped rows); the three-way signature
         |intersection joins ≤256-row sides (broadcast).""".stripMargin,
       graft.SparkEntry.queries("q_kmv")(spark, sfDir)),
      ("Anchor-text aggregation (q_anchors)",
       """Check: the (dst, anchor) count aggregate shows partial_count
         |before its exchange (boilerplate-anchor repetition dies
         |map-side); the rank window and the final per-dst aggregate REUSE
         |that exchange's partitioning (no extra Exchange between Window
         |and the last HashAggregate); NO WindowGroupLimit — the exact
         |pre-cap totals need every distinct-anchor row, so its absence is
         |load-bearing here (inverse of the LSH pre-cap shape).""".stripMargin,
       graft.SparkEntry.queries("q_anchors")(spark, sfDir)),
      ("Decade-histogram quantiles (q_quantile)",
       """Check: the histogram is ONE partial_sum hash aggregate over a
         |narrow (key, lo, 1) projection (shuffle carries ≤172 rows/key
         |per partition); the percentile windows + the broadcast quantile
         |cross run over the bounded sketch only — no second pass over
         |the corpus; no UDF, no float log/pow anywhere.""".stripMargin,
       graft.SparkEntry.queries("q_quantile")(spark, sfDir)),
      ("URL pre-filter (q_url_filter)",
       """Check: ONE BroadcastHashJoin against the tiny blocklist (the
         |corpus side has no Exchange); domain/penalty columns are
         |codegen'd string expressions in the same projection — the whole
         |gate is a single narrow stage over the scan.""".stripMargin,
       graft.SparkEntry.queries("q_url_filter")(spark, sfDir)),
      ("Per-doc keyword top-k (q_keywords)",
       """Check: tf aggregate with partial_count; df aggregated OVER the
         |distinct doc-term relation (no Expand); the `rank ≤ 5` filter
         |rewrites to WindowGroupLimit (map-side truncation before the
         |doc exchange); all-integer sort keys.""".stripMargin,
       graft.SparkEntry.queries("q_keywords")(spark, sfDir)),
      ("Gap-based sessionization (q_sessions)",
       """Check: ONE Exchange on the user key serves everything — the lag
         |window and the cumulative-sum window share one Sort (same
         |partition+order), and the final (user, session_idx) aggregate
         |reuses the partitioning (user ⊆ group keys → no second
         |shuffle); timestamps are exact BIGINT micros, no UDF.""".stripMargin,
       graft.SparkEntry.queries("q_sessions")(spark, sfDir)),
      ("Degree-oriented triangle counting (q_triangles)",
       """Check: every join is an EQUI-join on packed (degree, id) LONG
         |keys — hash joins (AQE broadcasts the tiny sides at this sf;
         |shuffle joins at scale), never a nested-loop cartesian: the
         |wedge inequality kv1 < kv2 rides as a residual condition on the
         |ku equi-key; degree aggregate shows partial_count before its
         |exchange.""".stripMargin,
       graft.SparkEntry.queries("q_triangles")(spark, sfDir)),
      ("Backward as-of join (q_asof)",
       """Check: ONE Exchange on the user key — the union of tagged left/
         |right rows sorts once per key by (ts, tag, ord) and the running
         |`last(_, ignoreNulls)` window carries the match; no join node at
         |all, no second shuffle for same-instant collapse, no UDF; all
         |timestamps exact BIGINT micros.""".stripMargin,
       graft.SparkEntry.queries("q_asof")(spark, sfDir)),
      ("Bucketed band join (q_range_join)",
       """Check: a Generate (explode to 3 candidate buckets) feeding an
         |EQUI-join on (key, bucket) with the exact |delta| <= radius
         |band as a residual condition — no BroadcastNestedLoopJoin /
         |CartesianProduct anywhere; bucket ids via integer div.""".stripMargin,
       graft.SparkEntry.queries("q_range_join")(spark, sfDir)),
      ("Misra-Gries heavy hitters + exact recheck (q_heavy)",
       """Check: pass 1 is a narrow MapPartitions (<= K counters leave each
         |partition — the open vocabulary NEVER shuffles); the candidate set
         |re-enters as the BROADCAST side of the recheck semi-join; one hash
         |aggregate with partial combine over candidate rows only.""".stripMargin,
       graft.SparkEntry.queries("q_heavy")(spark, sfDir)),
      ("Aho-Corasick blocklist gate (q_blocklist)",
       """Check: ONE narrow MapPartitions over documents (the automaton is
         |per-partition driver-array state, not a join side) — zero Exchange,
         |no ScalaUDF, list size invisible to the plan.""".stripMargin,
       graft.SparkEntry.queries("q_blocklist")(spark, sfDir)),
      ("Z-order layout (q_zorder)",
       """Check: the Morton interleave is a pure bitwise Project inside
         |WholeStageCodegen (no UDF); exactly ONE Exchange and it is a
         |rangepartitioning on the z-value (sampled boundaries -> even file
         |sizes under skew).""".stripMargin,
       graft.SparkEntry.queries("q_zorder")(spark, sfDir)),
      ("Bucketed co-located join (q_bucketed)",
       """Check: `Bucketed: true` on both scans and NO shuffle on either
         |join input. At this sf the orders side is tiny so AQE picks a
         |broadcast join (strictly cheaper — still exchange-free on the
         |probe side); with broadcast off, both sides being co-bucketed
         |plan as a ZERO-Exchange SortMergeJoin (pinned by BucketedSpec).
         |The only Exchange below is the group-by's.""".stripMargin,
       graft.SparkEntry.queries("q_bucketed")(spark, sfDir)),
      ("Temperature domain mixing (q_mix)",
       """Check: the domain-count aggregate is the BROADCAST side joined back
         |to the corpus (corpus never shuffles); the keep decision is a
         |codegen'd filter (md5/pow chain), no ScalaUDF.""".stripMargin,
       graft.SparkEntry.queries("q_mix")(spark, sfDir)),
      ("Data-quality contracts (q_contracts)",
       """Check: the whole suite is ONE aggregate subtree over one pass of
         |the input (count_distinct's Expand included) — no join, no second
         |scan, no ScalaUDF; the per-check rows come from a Generate
         |(stack), not extra jobs.""".stripMargin,
       graft.SparkEntry.queries("q_contracts")(spark, sfDir)),
      ("Snapshot CDC diff (q_cdc)",
       """Check: ONE SortMergeJoin FullOuter on the id (both sides shuffle
         |once, skew-free unique keys); the op classification is a Project
         |over the joined row — no hash columns, no second pass.""".stripMargin,
       graft.SparkEntry.queries("q_cdc")(spark, sfDir)),
      ("Rolling window stats (q_rolling)",
       """Check: exactly ONE Exchange (the user key) feeding two Window
         |nodes (rows frame + range frame) — running evaluation, no
         |self-join, no UDF.""".stripMargin,
       graft.SparkEntry.queries("q_rolling")(spark, sfDir)),
      ("Collocation mining (q_colloc)",
       """Check: bigram build is a narrow Generate (explode of the within-doc
         |zip) — no self-join; the support HAVING filter sits on the bigram
         |aggregate BEFORE the unigram joins; final top-k is
         |TakeOrderedAndProject, not Sort+Exchange.""".stripMargin,
       graft.SparkEntry.queries("q_colloc")(spark, sfDir)),
      ("Retrieval eval (q_eval)",
       """Check: one (qid, doc) join between run and qrels + qid-keyed hash
         |aggregates with partial combine; the n_rel side is a tiny
         |aggregate joined at |queries| size — eval cost scales with the
         |run, never the corpus.""".stripMargin,
       graft.SparkEntry.queries("q_eval")(spark, sfDir)),
      ("Median/MAD outlier gate (q_outliers)",
       """Check: two tiny domain aggregates (exact percentile) re-enter as
         |BROADCAST joins — the corpus side never shuffles; the keep verdict
         |is a codegen'd comparison, no UDF.""".stripMargin,
       graft.SparkEntry.queries("q_outliers")(spark, sfDir)),
      ("WARC container source (Warc.read)",
       """Check: the real ingest path is ZERO-Exchange — binaryFile scan
         |(one task per WARC file) straight into a narrow flat-map
         |(SerializeFromObject/MapPartitions); parallelism = file count,
         |the natural crawl-archive unit. (q_warc's gate plan is the
         |GENERATOR harness and has one groupByKey exchange by design.)""".stripMargin, {
        val dir = Files.createTempDirectory("plans-warc")
        val recs = (0 until 50).map(i =>
          graft.corpus.WarcGen.record(s"doc://$i", s"body $i".getBytes("UTF-8")))
        (0 until 4).foreach { b =>
          Files.write(dir.resolve(s"w$b.warc"),
            graft.corpus.WarcGen.file(recs.drop(b * 12).take(12)))
        }
        graft.warc.Warc.read(spark, dir.toString)
      }),
      ("robots.txt verdicts (q_robots)",
       """Check: the robots side is parsed ONCE (narrow map over the tiny
         |per-domain relation) and re-enters as a BROADCAST join — the url
         |corpus never shuffles; the RFC 9309 longest-match verdict is a
         |narrow typed map after the join.""".stripMargin,
       graft.SparkEntry.queries("q_robots")(spark, sfDir)),
      ("Shingle containment pair counting (q_containment)",
       """Check: per-doc distinct shingles come out of ONE narrow flat-map
         |(no distinct Exchange); the df aggregate and the pair self-join
         |share the shingle-hash key; the (a,b) intersection aggregate has
         |partial_ combine; verdict is a codegen'd projection, no UDF.""".stripMargin,
       graft.SparkEntry.queries("q_containment")(spark, sfDir)),
      ("k-core peel, final round shape (q_kcore)",
       """Check: the iterative loop is INVISIBLE here by design — each round
         |localCheckpoints, so the final plan reads one materialized edge
         |leaf (Scan ExistingRDD) into a single partial-combined degree
         |aggregate; no 4^k lineage tree survives to the analyzer.""".stripMargin,
       graft.SparkEntry.queries("q_kcore")(spark, sfDir)),
      ("BM25F fielded scoring (q_bm25f)",
       """Check: the broadcast query-term join prunes the (doc, field, term)
         |relation BEFORE flen/avglen/params joins (all BroadcastHashJoin on
         |tiny sides); df is a Window over the (doc, term) aggregate, NOT a
         |separate subtree; the field-length relation enters as a
         |materialized Scan ExistingRDD — the scoring plan holds exactly
         |TWO parquet scans (body + the harness's anchor aggregate), not
         |one copy per stats consumer.""".stripMargin,
       graft.SparkEntry.queries("q_bm25f")(spark, sfDir)),
      ("Crawl frontier schedule (q_frontier)",
       """Check: ONE Exchange keyed on the raw host; the maxPerHost filter
         |sits directly above its Window -> WindowGroupLimit (map-side
         |truncation before the rank exchange).""".stripMargin,
       graft.SparkEntry.queries("q_frontier")(spark, sfDir)),
      ("Serpentine sharding (q_shards)",
       """Check: NO global-order Window anywhere — the rank comes from the
         |two-pass scan (range exchange + in-partition sort, a scalar counts
         |collect, then a narrow MapPartitions); assignment is a projection.""".stripMargin,
       graft.SparkEntry.queries("q_shards")(spark, sfDir)),
      ("TrustRank, final round shape (q_trustrank)",
       """Check: like q_kcore the loop is invisible — the final plan reads
         |the last checkpoint leaf (Scan ExistingRDD); the seed top-up is a
         |codegen'd multiply on the node relation, not a join.""".stripMargin,
       graft.SparkEntry.queries("q_trustrank")(spark, sfDir)),
      ("MaxScore-pruned exact top-k (q_maxscore)",
       """Check: the θ seed leg's `row_number ≤ seedR` rewrites to
         |WindowGroupLimit (map-side champion truncation); the ub leg is a
         |(doc) aggregate over the query-pruned tf WITHOUT the dl join —
         |its subtree has no doclen aggregate; θ and stats arrive as
         |1-row broadcasts; the final cut is TakeOrderedAndProject, not a
         |global sort; the corpus tokenize materializes ONCE
         |(ReusedExchange under AQE) across seed/ub/rescore legs.""".stripMargin,
       graft.SparkEntry.queries("q_maxscore")(spark, sfDir)),
      ("Perceptual image near-dup (q_phash)",
       """Check: decode+aHash+banding is one narrow SerializeFromObject
         |chain (pixels never shuffle — only (id, sim, tbl, key) rows);
         |the bucket pre-cap `rn ≤ 64` rewrites to WindowGroupLimit; the
         |Hamming verify is the codegen'd native expression after the
         |pair distinct.""".stripMargin,
       graft.SparkEntry.queries("q_phash")(spark, sfDir)),
      ("Blocked varint postings (q_varint)",
       """Check: ONE Exchange on term (the row_number window); the
         |(term, block) aggregate's collect_list is bounded by the block
         |size — WindowGroupLimit is correctly ABSENT (every posting row
         |must survive into its block); encode is a narrow typed map after
         |the aggregate.""".stripMargin,
       graft.SparkEntry.queries("q_varint")(spark, sfDir)),
      ("Naive Bayes train+score (q_nb)",
       """Check: ONE parquet scan (the test tokenize) — the training tf
         |relation is a localCheckpoint leaf (4× `Scan ExistingRDD`; its
         |five consumers prune columns differently, so without the leaf
         |the training tokenize forks into four scans); the vocab×class
         |grid and priors enter scoring as BROADCAST joins; no UDF
         |anywhere.""".stripMargin,
       graft.SparkEntry.queries("q_nb")(spark, sfDir)),
      ("Index-resident MaxScore (q_index_maxscore)",
       """Check: every leaf is a COMMITTED segment read (postings/doclen
         |parquet under the index root — never corpus text); the posting
         |scan carries the broadcast query-term join; the θ seed window
         |rewrites to WindowGroupLimit; tombstone anti-joins are
         |query-bounded; the final cut is TakeOrderedAndProject.""".stripMargin,
       graft.SparkEntry.queries("q_index_maxscore")(spark, sfDir)),
      ("Block-Max WAND (q_bmw)",
       """Check: same tallies as the accepted q_maxscore plan (the block
         |assignment and block max ride the EXISTING term exchange — the
         |(term, block) window is clustering-satisfied by the term hash
         |partitioning, NO second shuffle); the θ seed leg keeps its
         |WindowGroupLimit; the survivor bound subtree has no doclen
         |aggregate; final cut TakeOrderedAndProject.""".stripMargin,
       graft.SparkEntry.queries("q_bmw")(spark, sfDir)),
      ("Index-resident Block-Max WAND (q_index_bmw)",
       """Check: every leaf is a committed segment read; the blocks scan
         |carries the broadcast query-term join (term-range file pruning);
         |the id-channel decode is one narrow SerializeFromObject chain;
         |the bound phase consumes ONLY (term, sv, block, max_tf, doc) —
         |no tf decode, no doclen join in that subtree; tf-channel decodes
         |appear solely under the seed/survivor semi-joins.""".stripMargin,
       graft.SparkEntry.queries("q_index_bmw")(spark, sfDir)),
      ("Bigram LM train+score (q_bigram_lm)",
       """Check: in-doc pairs come from the array-zip transform (narrow
         |explode — NO lag window, no doc-keyed shuffle); training is two
         |count aggregates with map-side partials; scoring joins stay
         |shuffle/broadcast per AQE sizing (a web-scale bigram table is
         |unbounded by design).""".stripMargin,
       graft.SparkEntry.queries("q_bigram_lm")(spark, sfDir)),
      ("Front-coded term dictionary (q_frontcode)",
       """Check: ONE range-partition exchange on term (the two-pass global
         |rank — no one-task global window); encode is a narrow
         |mapPartitions over the sorted partitions; the driver sees only
         |numPartitions (count, boundary-term) rows.""".stripMargin,
       graft.SparkEntry.queries("q_frontcode")(spark, sfDir)),
      ("SymSpell suggestion (q_spell)",
       """Check: the deletion-key explode is VOCAB-bounded above the one
         |term aggregate; the query side enters as a BROADCAST join (never
         |a vocab × query cross product); the rank cut rewrites to
         |WindowGroupLimit; levenshtein is a codegen'd built-in.""".stripMargin,
       graft.SparkEntry.queries("q_spell")(spark, sfDir)),
      ("Sitemap round-trip (q_sitemap)",
       """Check: ONE exchange (the per-host groupBy building the XML);
         |the parse itself is a narrow SerializeFromObject chain after the
         |aggregate — parsing never shuffles.""".stripMargin,
       graft.SparkEntry.queries("q_sitemap")(spark, sfDir)),
      ("PPJoin exact Jaccard self-join (q_ppjoin)",
       """Check: the candidate join runs on PREFIX keys only (the slice
         |explode above it — never a full-set cross product); key
         |frequencies come from one aggregate; the verify join is
         |candidate-semi-bounded; the threshold predicate is integer
         |arithmetic (no rounds anywhere).""".stripMargin,
       graft.SparkEntry.queries("q_ppjoin")(spark, sfDir)),
      ("Sitemap → frontier composition (q_sitemap_frontier)",
       """Check: XML build (one per-host groupBy) → narrow parse →
         |per-host (priority DESC, url) rank cut as WindowGroupLimit —
         |discovery and politeness scheduling in one plan with two
         |exchanges total.""".stripMargin,
       graft.SparkEntry.queries("q_sitemap_frontier")(spark, sfDir)),
      ("CORI shard ranking (q_cori)",
       """Check: the final tree reads ONLY the localCheckpointed
         |shards×(|q|+1) stats leaf (the one corpus scan rides the
         |checkpoint job); everything downstream is broadcast-sized —
         |the shard×term grid, cf, and the 1-row stats cross-join.""".stripMargin,
       graft.SparkEntry.queries("q_cori")(spark, sfDir)),
      ("Federated CORI merge (q_cori_merge)",
       """Check: exactly m=2 scans — one per selected-shard branch, each
         |behind a pushed shard-equality filter (partition-prunable);
         |per-branch BM25 keeps the one-tokenize shape; the merge weight
         |is a literal; final cut TakeOrderedAndProject.""".stripMargin,
       graft.SparkEntry.queries("q_cori_merge")(spark, sfDir)),
      ("Dirichlet query likelihood (q_ql)",
       """Check: ONE corpus scan in the final tree with the tokenize+term
         |exchange reused across the scoring leg and the K/nq scalar leg
         |(ReusedExchange ×5); only matching postings flow (broadcast
         |query-term join above the scan); smoothing scalars are 1-row
         |broadcast relations.""".stripMargin,
       graft.SparkEntry.queries("q_ql")(spark, sfDir)),
      ("LTR feature matrix (q_ltr)",
       """Check: 3 scans in the final tree — the tf-family (BM25, TF-IDF,
         |QL, dl, matched) shares ONE tokenize subtree via ReusedExchange;
         |the positional explode (proximity) is the one genuinely
         |different read; assembly is equi-joins on doc.""".stripMargin,
       graft.SparkEntry.queries("q_ltr")(spark, sfDir)),
      ("Relational aggregate (q1_agg)",
       """Check: partial_ aggregates before the Exchange (map-side combine),
         |ReadSchema pruned to the 4 referenced columns.""".stripMargin,
       graft.SparkEntry.queries("q1_agg")(spark, sfDir)))

    val md = new StringBuilder
    md.append("# PLANS — physical-plan evidence for the core operators\n\n")
    md.append("Captured with `.explain(\"formatted\")` (long expression lines truncated).\n")
    md.append(s"Regenerate: `sbt \"runMain graft.tools.Plans $sfDir PLANS.md\"`.\n")
    sections.foreach { case (title, check, df) =>
      md.append(s"\n## $title\n\n$check\n\n```\n${fmt(df)}\n```\n")
    }
    Files.write(Paths.get(out), md.toString.getBytes(UTF_8))
    println(s"wrote ${sections.length} plans to $out")
    spark.stop()
  }
}
