package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exact deduplication as pure window/aggregate plans (no UDFs, fully
  * codegen'd, one shuffle each).
  *
  * D2/F3 (SURVEY.md §2.6): corpus-wide whole-document dedup, the reference's
  * `seen_files.json` sha256-registry keep-first semantics
  * (src/services/RAG/convert_to_embeddings.py:559-570). Losers are kept as
  * rows with `duplicate_of` so lineage survives, mirroring the reference's
  * metadata-only dup rows.
  *
  * Scale note: partitionBy(hash) shuffles on a high-cardinality key —
  * uniform by construction, no salting needed; AQE coalesces the tail.
  */
object ExactDedup {

  /** Annotate each row with keep/duplicate_of by hash of `col` (keep-first
    * by `order`). */
  def annotate(df: DataFrame, hashCol: Column, order: Column): DataFrame = {
    val w = Window.partitionBy(hashCol).orderBy(order)
    df.withColumn("dup_rank", row_number().over(w))
      .withColumn("duplicate_of", first(order).over(w))
      .withColumn("is_duplicate", col("dup_rank") > 1)
      .drop("dup_rank")
  }

  /** Keep-first distinct over a content hash. */
  def keepFirst(df: DataFrame, hashCol: Column, order: Column): DataFrame = {
    val w = Window.partitionBy(hashCol).orderBy(order)
    df.withColumn("dup_rank", row_number().over(w))
      .filter(col("dup_rank") === 1)
      .drop("dup_rank")
  }
}

/** MinHash signatures + LSH banding for near-duplicate detection at corpus
  * scale (SURVEY.md §2.6 D3 — absent in the reference, required by the
  * north star).
  *
  * Design for 10^12 docs: the signature is computed per-row in one pass
  * (no shingle explosion through a shuffle); only the b band hashes per doc
  * are exploded (b rows/doc), grouped by (band, hash) to get candidate
  * buckets, pairs verified by exact Jaccard, and keep-first resolved by
  * min-url-per-cluster. Total: one narrow map + two shuffles.
  */
object MinHash {

  val NumHashes = 128
  val Bands = 32
  val RowsPerBand = 4 // Bands * RowsPerBand == NumHashes
  val ShingleWords = 5

  /** (a,b) parameters of the 128 affine hash family. Deliberately
    * oracle-replicable: a is a 32-bit odd constant and values are masked to
    * 63 bits, so DuckDB can reproduce `(a*h+b) mod 2^63` in HUGEINT
    * arithmetic without 128-bit overflow (a*h < 2^96). Derived from
    * splitmix64 of the index — pure, seed-free, reproducible anywhere. */
  lazy val coeffs: Array[(Long, Long)] = Array.tabulate(NumHashes) { j =>
    val a = (graft.Hashing.mix64(0x5eed0001L + j) & 0xffffffffL) | 1L
    val b = graft.Hashing.mix64(0x5eed0002L + j) & Long.MaxValue
    (a, b)
  }

  /** Word 5-gram shingle hashes: md5-top-64 of the space-joined shingle
    * (DuckDB: ('0x'||substr(md5(s),1,16))::UBIGINT). Texts shorter than one
    * shingle hash the whole token string; empty → no shingles. */
  def shingles(text: String): Array[Long] = {
    val toks = tokenize(text)
    if (toks.length < ShingleWords) {
      if (toks.isEmpty) Array.empty
      else Array(graft.Hashing.md5Long(toks.mkString(" ")))
    } else {
      val out = new Array[Long](toks.length - ShingleWords + 1)
      var i = 0
      while (i <= toks.length - ShingleWords) {
        val sb = new StringBuilder
        var k = 0
        while (k < ShingleWords) { if (k > 0) sb.append(' '); sb.append(toks(i + k)); k += 1 }
        out(i) = graft.Hashing.md5Long(sb.toString)
        i += 1
      }
      out
    }
  }

  def tokenize(text: String): Array[String] =
    text.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty)

  /** 128-long MinHash signature of a text; empty text → all Long.MaxValue.
    * Each slot is min_j over shingles of (a_j*h + b_j) mod 2^63 — the 63-bit
    * mask keeps signed Long comparison == unsigned comparison and the empty
    * identity Long.MaxValue == the domain maximum. */
  def signature(text: String): Array[Long] = {
    val sh = shingles(text)
    val sig = Array.fill(NumHashes)(Long.MaxValue)
    var i = 0
    while (i < sh.length) {
      val h = sh(i)
      var j = 0
      while (j < NumHashes) {
        val (a, b) = coeffs(j)
        val v = (a * h + b) & Long.MaxValue
        if (v < sig(j)) sig(j) = v
        j += 1
      }
      i += 1
    }
    sig
  }

  /** Band hashes (Bands entries) of a signature. */
  def bandHashes(sig: Array[Long]): Array[Long] = {
    val out = new Array[Long](Bands)
    var b = 0
    while (b < Bands) {
      var h = 0xcbf29ce484222325L
      var r = 0
      while (r < RowsPerBand) {
        h ^= sig(b * RowsPerBand + r)
        h *= 0x100000001b3L
        r += 1
      }
      out(b) = h
      b += 1
    }
    out
  }

  def jaccard(a: Array[Long], b: Array[Long]): Double = {
    if (a.isEmpty && b.isEmpty) return 1.0
    val sa = a.toSet; val sb = b.toSet
    val inter = sa.intersect(sb).size
    val union = sa.size + sb.size - inter
    if (union == 0) 1.0 else inter.toDouble / union
  }

  /** Distinct values of `xs`, ascending — the array form of toSet for
    * [[jaccardSorted]]. Leaves `xs` untouched. */
  def distinctSorted(xs: Array[Long]): Array[Long] = distinctSortedInPlace(xs.clone())

  /** [[distinctSorted]] that sorts `xs` in place: for arrays the caller
    * owns, such as a fresh [[shingles]] result. */
  private def distinctSortedInPlace(xs: Array[Long]): Array[Long] = {
    if (xs.length <= 1) return xs
    java.util.Arrays.sort(xs)
    var n = 1
    var i = 1
    while (i < xs.length) {
      if (xs(i) != xs(n - 1)) { xs(n) = xs(i); n += 1 }
      i += 1
    }
    if (n == xs.length) xs else java.util.Arrays.copyOf(xs, n)
  }

  /** [[jaccard]] over PRE-DISTINCTED sorted hash arrays: |a ∩ b| by sorted
    * merge, |a ∪ b| = |a| + |b| − |a ∩ b| — the identical integer counts
    * (and therefore the identical Double quotient, bit-for-bit) as the
    * toSet form, without rebuilding the sets per pair. DedupSpec pins
    * equality against [[jaccard]]. */
  def jaccardSorted(a: Array[Long], b: Array[Long]): Double = {
    if (a.isEmpty && b.isEmpty) return 1.0
    var i = 0; var j = 0; var inter = 0
    while (i < a.length && j < b.length) {
      if (a(i) == b(j)) { inter += 1; i += 1; j += 1 }
      else if (a(i) < b(j)) i += 1
      else j += 1
    }
    val union = a.length + b.length - inter
    if (union == 0) 1.0 else inter.toDouble / union
  }

  /** Signature-estimated Jaccard. */
  def estJaccard(sigA: Array[Long], sigB: Array[Long]): Double = {
    var eq = 0; var i = 0
    while (i < NumHashes) { if (sigA(i) == sigB(i)) eq += 1; i += 1 }
    eq.toDouble / NumHashes
  }

  /** Full LSH near-dup pipeline over (id: String, text: String) columns.
    * Returns candidate pairs verified by exact shingle Jaccard >= threshold,
    * as (id_a, id_b, jaccard) with id_a < id_b.
    *
    * Plan shape: map (sig+bands) → explode bands (b rows/doc) →
    * groupBy(band, hash) self-pairing within small buckets → shuffle-join
    * texts back for verification. Bucket size is capped to keep the
    * pair-blowup bounded under adversarial skew (all-identical corpora).
    *
    * The cap NEVER drops work silently when `drops` is supplied: members
    * past `maxBucket` are counted into the observation
    * (`dropped_members` / `overflow_buckets`), readable after any action on
    * the result — the reference's every-skip-gets-a-ledger-reason
    * discipline (convert_to_embeddings.py:357-365) applied to LSH caps.
    *
    * Reading convention: an ABSENT metric means zero. When zero candidates
    * emerge, AQE's empty-relation propagation can cull the CollectMetrics
    * node from the final plan — but drops > 0 forces an overflowed bucket,
    * whose >= 2 kept members survive the size>1 filter, so the metric is
    * always delivered whenever anything was actually dropped (as long as
    * the returned pairs feed the action directly; if you embed the pairs in
    * a larger plan whose joins may go empty, trigger the ledger with its
    * own small action first).
    */
  def nearDupPairs(df: DataFrame, idCol: String, textCol: String,
                   threshold: Double = 0.8, maxBucket: Int = 64,
                   drops: Option[org.apache.spark.sql.Observation] = None): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._

    val withBands = df
      .select(col(idCol).cast("string").as("id"), col(textCol).cast("string").as("text"))
      .as[(String, String)]
      .mapPartitions { it =>
        it.flatMap { case (id, text) =>
          val bands = bandHashes(signature(text))
          bands.iterator.zipWithIndex.map { case (h, b) => (id, b, h) }
        }
      }
      .toDF("id", "band", "bhash")

    // candidate pairs: ids sharing a (band, bhash) bucket. Membership is
    // capped BEFORE any aggregation: row_number over a window ranks ids per
    // bucket through WindowExec's SPILLABLE buffer, so a degenerate hot
    // bucket (millions of boilerplate-identical docs) never materializes
    // as one multi-GB collect_list aggregation buffer — the agg below only
    // ever sees <= maxBucket survivors per bucket. Better still, Catalyst
    // rewrites the rn<=cap filter into WindowGroupLimit with a PARTIAL
    // map-side phase (see PLANS.md q_minhash): a hot bucket is truncated to
    // ~cap rows per input partition before the exchange even runs, so the
    // shuffle itself stays bounded. Same form as the DuckDB oracle
    // (row_number() OVER (PARTITION BY band, bhash ORDER BY id)).
    // NOTE: the drops observation suppresses that rewrite (the counters
    // must see every row), trading the map-side truncation for exact
    // ledger counts — callers who don't ask for drops get the fast plan.
    val ranked = withBands
      .withColumn("rn", row_number().over(
        Window.partitionBy($"band", $"bhash").orderBy($"id")))
    val observed = drops.fold(ranked)(o => ranked.observe(o,
        sum(when($"rn" > maxBucket, 1L).otherwise(0L)).as("dropped_members"),
        sum(when($"rn" === maxBucket + 1, 1L).otherwise(0L)).as("overflow_buckets")))
    val buckets = observed
      .filter($"rn" <= maxBucket)
      .groupBy($"band", $"bhash")
      .agg(sort_array(collect_list($"id")).as("ids"))
      .filter(size($"ids") > 1)

    val pairs = buckets
      .select(explode(expr(
        "filter(flatten(transform(ids, (a, i) -> transform(slice(ids, i + 2, size(ids)), b -> struct(a, b)))), p -> p.a < p.b)"
      )).as("p"))
      .select($"p.a".as("id_a"), $"p.b".as("id_b"))
      .distinct()

    // verify with exact shingle Jaccard. The attach joins carry each doc's
    // DISTINCT SORTED shingle-hash array instead of its raw text: a doc in
    // p pairs previously re-tokenized and re-md5-hashed its full text p
    // times (once per pair side) inside the pair map — the dominant CPU of
    // verification, since every md5 is ~an order costlier than the merge
    // compare that replaces it. Hashing now runs once per doc in a narrow
    // map; per-pair work is an integer sorted merge with the identical
    // counts (jaccardSorted ≡ jaccard over sets — DedupSpec pins it).
    // Shuffle bytes are comparable (8 B/shingle hash vs the text's bytes);
    // joins stay plain shuffle joins on id (broadcast-unsafe at scale).
    val shs = df.select(col(idCol).cast("string").as("id"), col(textCol).cast("string").as("text"))
      .as[(String, String)]
      .mapPartitions(_.map { case (id, t) => (id, distinctSortedInPlace(shingles(t))) })
      .toDF("id", "sh")
    val verified = pairs
      .join(shs.select($"id".as("id_a"), $"sh".as("sh_a")), "id_a")
      .join(shs.select($"id".as("id_b"), $"sh".as("sh_b")), "id_b")
      .select($"id_a", $"id_b", $"sh_a", $"sh_b")
      .as[(String, String, Array[Long], Array[Long])]
      .map { case (idA, idB, shA, shB) =>
        (idA, idB, jaccardSorted(shA, shB))
      }
      .toDF("id_a", "id_b", "jaccard")
      .filter($"jaccard" >= threshold)
    verified.select($"id_a", $"id_b", round($"jaccard", 6).as("jaccard"))
  }

  /** Near-dup keep-first over TRUE connected components: cluster the
    * verified pairs (so chains A~B~C with A≁C collapse to ONE survivor, the
    * min id), drop everything but each component's root. */
  def dropNearDups(df: DataFrame, idCol: String, textCol: String,
                   threshold: Double = 0.8): DataFrame = {
    val comps = Components.of(nearDupPairs(df, idCol, textCol, threshold))
    val losers = comps.filter(col("id") =!= col("comp")).select(col("id").as("loser"))
    df.join(losers, df(idCol).cast("string") === col("loser"), "left_anti")
  }
}

/** Connected components by bounded iterate-to-fixpoint min-label
  * propagation WITH pointer jumping — the clustering step between verified
  * near-dup PAIRS and keep-first dedup. Replaces the round-2 single-link
  * keep-first approximation, which over/under-dropped on chain-shaped
  * clusters (A~B~C with A≁C).
  *
  * Scale: the input is the VERIFIED edge set — tiny relative to the corpus
  * (bounded by bucket caps upstream). Each iteration is one edge-join
  * (label propagation) plus one label-self-join (pointer jumping:
  * comp ← comp's comp), so the reach DOUBLES per iteration and
  * convergence takes O(log diameter) iterations — maxIter 20 covers any
  * component a real corpus can produce (diameter up to ~2^20), not just
  * 20-hop chains. */
object Components {

  /** (id, comp) for every id appearing in `pairs`; comp = min id reachable
    * (exact while diameter <= ~2^maxIter).
    *
    * Size-gated execution: a verified edge set at or under
    * `driverEdgeLimit` DIRECTED rows (after distinct; 2× the undirected
    * pairs) is solved EXACTLY on the driver by union-find in a single
    * collect — the common case, since verified pairs are a vanishing
    * fraction of the corpus, and it replaces ~6 Spark jobs of fixed
    * scheduling overhead with microseconds. The default (2^18 rows ≈
    * 131k pairs, tens of MB of id strings + maps) keeps the collect far
    * from driver-heap pressure even with long urls; larger sets run the
    * distributed pointer-jump loop. Both paths produce the identical
    * (id, min-reachable-id) relation. */
  def of(pairs: DataFrame, idA: String = "id_a", idB: String = "id_b",
         maxIter: Int = 20, driverEdgeLimit: Long = 1L << 18): DataFrame = {
    // localCheckpoint (NOT persist): the self-join makes every iteration's
    // logical plan reference the previous iteration's plan 4× — persist
    // caches DATA but keeps the full lineage, so analyzer/optimizer work
    // grows 4^k and the driver wall-clocks around iteration ~6 even on a
    // 50-row edge set. Checkpointing truncates the plan to a materialized
    // leaf each round, keeping per-iteration planning O(1). Executor-local
    // storage is fine here: the verified edge set is tiny relative to the
    // corpus (bounded by bucket caps upstream) and the loop re-runs cheaply
    // on the rare executor loss. Eager by default — also prevents the
    // expensive candidate/verify lineage from re-running per occurrence.
    val edges = pairs.select(col(idA).cast("string").as("src"), col(idB).cast("string").as("dst"))
      .unionByName(pairs.select(col(idB).cast("string").as("src"), col(idA).cast("string").as("dst")))
      .distinct()
      .localCheckpoint()
    if (edges.count() <= driverEdgeLimit) return driverUnionFind(edges)
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("comp", col("id"))
      .localCheckpoint()
    var iter = 0
    var changed = 1L
    while (changed > 0 && iter < maxIter) {
      // propagate: pick up neighbors' labels
      val prop = edges.join(labels.withColumnRenamed("id", "dst"), "dst")
        .select(col("src").as("id"), col("comp"))
      val merged = labels.unionByName(prop)
        .groupBy("id").agg(min("comp").as("comp"))
      // pointer-jump: comp ← label(comp); comp always appears as an id
      // (labels start as id == comp and only shrink to existing ids).
      // merged appears twice in this plan, but its inputs are checkpointed
      // leaves so the duplicated subtree is shallow and the identical agg
      // exchange is deduped by ReuseExchange.
      val jumped = merged
        .join(merged.select(col("id").as("comp"), col("comp").as("comp2")), Seq("comp"))
        .select(col("id"), least(col("comp"), col("comp2")).as("comp"))
      // convergence detection rides the SAME materialization as the
      // checkpoint (observe() fires during the eager checkpoint job) —
      // one pass over the labels per iteration instead of a separate
      // count join. Safe from the AQE metrics-culling pitfall: the
      // CollectMetrics node is the checkpoint's own root, nothing
      // downstream can go empty and drop it.
      val obs = org.apache.spark.sql.Observation()
      val next = jumped
        .join(labels.select(col("id"), col("comp").as("prev")), "id")
        .observe(obs, coalesce(sum(when(col("comp") =!= col("prev"), 1L)
          .otherwise(0L)), lit(0L)).as("changed"))
        .select("id", "comp")
        .localCheckpoint()
      changed = obs.get("changed").asInstanceOf[Long]
      // release the superseded iteration's checkpoint blocks NOW —
      // Dataset.unpersist is a no-op for checkpoints (they never enter the
      // CacheManager) and waiting for the ContextCleaner needs a GC that a
      // large fixed heap may not run for a long time
      val prev = labels
      labels = next
      iter += 1
      graft.Lineage.dropCheckpoint(prev)
    }
    graft.Lineage.dropCheckpoint(edges)
    labels
  }


  /** Exact small-set path: union-find with path compression over the
    * collected edges, then comp = min id per component. */
  private def driverUnionFind(edges: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val parent = scala.collection.mutable.HashMap.empty[String, String]
    def find(x: String): String = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
      var c = x
      while (parent.getOrElse(c, c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    val rows = edges.as[(String, String)].collect()
    rows.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(ra) = rb
    }
    val minOfRoot = scala.collection.mutable.HashMap.empty[String, String]
    parent.keys.foreach { id =>
      val r = find(id)
      minOfRoot.updateWith(r)(m => Some(m.fold(id)(cur => if (id < cur) id else cur)))
    }
    parent.keys.toSeq.map(id => (id, minOfRoot(find(id)))).toDF("id", "comp")
  }
}

/** SimHash (Charikar) 64-bit fingerprints: near-dups have small Hamming
  * distance; candidate generation splits the fingerprint into 5 disjoint
  * blocks (13,13,13,13,12 bits) and keys candidates on the C(5,2) = 10
  * BLOCK PAIRS (~26-bit keys).
  *
  * Pigeonhole (maxDist ≤ 3): ≤3 differing bits dirty ≤3 blocks, leaving
  * ≥2 clean blocks — and every 2-subset of blocks is one of the 10 tables,
  * so any pair within distance 3 shares at least one table key. Versus the
  * naive 4×16-bit split (same guarantee), keys are ~2^10 wider: expected
  * bucket occupancy on an n-doc corpus falls from n/2^16 to n/2^26 — at
  * 10^9 docs, ~15,000 → ~15 per bucket — so the maxBucket cap stops being
  * a silent recall ceiling at corpus scale, at the bounded cost of 10
  * rows/doc instead of 4 through the bucket shuffle. */
object SimHash {

  /** Bit offsets / widths of the 5 disjoint fingerprint blocks. */
  val BlockOffsets: Array[Int] = Array(0, 13, 26, 39, 52)
  val BlockWidths: Array[Int] = Array(13, 13, 13, 13, 12)

  /** The 10 block-pair tables, in fixed (i < j) order. */
  val BlockPairs: Array[(Int, Int)] =
    (for (i <- 0 until 5; j <- i + 1 until 5) yield (i, j)).toArray

  def NumTables: Int = BlockPairs.length

  /** Table key of fingerprint `sim` in table `tbl`: the two block values
    * packed arithmetically (bj < 2^13, so bi*2^13 + bj is injective). */
  def blockKey(sim: Long, tbl: Int): Long = {
    val (i, j) = BlockPairs(tbl)
    val bi = (sim >>> BlockOffsets(i)) & ((1L << BlockWidths(i)) - 1)
    val bj = (sim >>> BlockOffsets(j)) & ((1L << BlockWidths(j)) - 1)
    bi * 8192L + bj
  }

  /** Charikar fingerprint with term-frequency weights. The feature hash is
    * md5-top-64 (graft.Hashing.md5Long), so the DuckDB oracle can recompute
    * the identical fingerprint in SQL. */
  def simhash(text: String): Long = {
    val toks = MinHash.tokenize(text)
    if (toks.isEmpty) return 0L
    val acc = new Array[Int](64)
    // term-frequency weighting
    val tf = scala.collection.mutable.HashMap.empty[String, Int]
    toks.foreach(t => tf.update(t, tf.getOrElse(t, 0) + 1))
    tf.foreach { case (t, w) =>
      val h = graft.Hashing.md5Long(t)
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) acc(b) += w else acc(b) -= w
        b += 1
      }
    }
    var out = 0L
    var b = 0
    while (b < 64) { if (acc(b) > 0) out |= (1L << b); b += 1 }
    out
  }

  def hamming(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)

  /** Near-dup pairs with Hamming distance <= maxDist over (id, text).
    *
    * Scale shape mirrors [[MinHash.nearDupPairs]]: table keys emitted in the
    * same narrow map that computes the fingerprint (10 rows/doc, no vector
    * payload), buckets capped at `maxBucket` members so a degenerate
    * all-identical corpus generates O(n * cap) pairs instead of O(n^2), and
    * the Hamming filter is the codegen'd native expression computed once.
    * The block-pair pigeonhole guarantee (object doc) covers maxDist <= 3;
    * larger distances are best-effort. Cap drops are observable via `drops`
    * (dropped_members / overflow_buckets), as in MinHash. */
  def nearDupPairs(df: DataFrame, idCol: String, textCol: String, maxDist: Int = 3,
                   maxBucket: Int = 64,
                   drops: Option[org.apache.spark.sql.Observation] = None): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val banded = df
      .select(col(idCol).cast("string").as("id"), col(textCol).cast("string").as("text"))
      .as[(String, String)]
      .mapPartitions(_.flatMap { case (id, t) =>
        val s = simhash(t)
        (0 until NumTables).iterator.map(k => (id, s, k, blockKey(s, k)))
      })
      .toDF("id", "sim", "tbl", "key")
    pairsFromBanded(banded, maxDist, maxBucket, drops)
  }

  /** [[nearDupPairs]] over PRECOMPUTED 64-bit fingerprints (id, sim) —
    * the pigeonhole block-pair machinery is content-agnostic, so any
    * 64-bit locality-sensitive fingerprint family rides the same tables
    * (the image aHash path, [[graft.mm.ImageHash.imageNearDup]], is the
    * first non-text client). Identical banding, caps, drop ledger and
    * Hamming verification as the text form. */
  def nearDupPairsFromFingerprints(fp: DataFrame, maxDist: Int = 3,
                                   maxBucket: Int = 64,
                                   drops: Option[org.apache.spark.sql.Observation] = None): DataFrame = {
    val spark = fp.sparkSession
    import spark.implicits._
    val banded = fp
      .select(col("id").cast("string").as("id"), col("sim").cast("long").as("sim"))
      .as[(String, Long)]
      .mapPartitions(_.flatMap { case (id, s) =>
        (0 until NumTables).iterator.map(k => (id, s, k, blockKey(s, k)))
      })
      .toDF("id", "sim", "tbl", "key")
    pairsFromBanded(banded, maxDist, maxBucket, drops)
  }

  private def pairsFromBanded(banded: DataFrame, maxDist: Int, maxBucket: Int,
                              drops: Option[org.apache.spark.sql.Observation]): DataFrame = {
    val spark = banded.sparkSession
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    // pre-cap per bucket via spillable window rank (see MinHash.nearDupPairs)
    val ranked = banded
      .withColumn("rn", row_number().over(
        Window.partitionBy($"tbl", $"key").orderBy($"id")))
    val observed = drops.fold(ranked)(o => ranked.observe(o,
        sum(when($"rn" > maxBucket, 1L).otherwise(0L)).as("dropped_members"),
        sum(when($"rn" === maxBucket + 1, 1L).otherwise(0L)).as("overflow_buckets")))
    val buckets = observed
      .filter($"rn" <= maxBucket)
      .groupBy($"tbl", $"key")
      .agg(array_sort(collect_list(struct($"id", $"sim"))).as("members"))
      .filter(size($"members") > 1)
    buckets
      .select(explode(expr(
        "filter(flatten(transform(members, (m, i) -> transform(slice(members, i + 2, size(members)), " +
        "n -> struct(m.id as id_a, n.id as id_b, m.sim as sim_a, n.sim as sim_b)))), p -> p.id_a < p.id_b)"
      )).as("p"))
      .select($"p.id_a".as("id_a"), $"p.id_b".as("id_b"), $"p.sim_a".as("sim_a"), $"p.sim_b".as("sim_b"))
      .distinct()
      .withColumn("hamming", graft.functions.GraftFunctions.hamming(col("sim_a"), col("sim_b")))
      .filter(col("hamming") <= maxDist)
      .select(col("id_a"), col("id_b"), col("hamming"))
  }
}
