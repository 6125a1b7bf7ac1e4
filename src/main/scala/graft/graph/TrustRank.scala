package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** TrustRank (Gyöngyi, Garcia-Molina & Pedersen, VLDB 2004) — the
  * published web-spam countermeasure: PageRank whose TELEPORT is
  * restricted to a hand-vetted seed set of trusted pages, so trust flows
  * out along links and a page's score measures its link-distance-weighted
  * reachability FROM trust. Spam farms that boost ordinary PageRank by
  * dense self-linking get nothing unless a trusted page links in —
  * exactly the ranking crawl pipelines use to damp link spam before
  * quality weighting.
  *
  * Same determinism contract as [[PageRank]] (it is the biased-teleport
  * member of that family): 64-bit integer mass units, floor-div edge
  * shares, teleport (here: seed-only top-up) in exact integers — ranks
  * are bit-reproducible on any engine and partitioning with NO float
  * contract; dangling/floor mass dissipates (the documented scale trade).
  * The published d/|S| seed normalization is a global scalar — dropping
  * it (every seed gets the full teleport quantum) leaves all ratios and
  * rankings untouched and keeps the arithmetic integral.
  *
  * Plan shape per iteration: identical to PageRank — one dst-keyed
  * contribution aggregate + the src rank join, `localCheckpoint` lineage
  * truncation; the seed flag rides the node relation as an integer
  * column (0/1), so the top-up is a multiply, not a join. */
object TrustRank {

  /** (id, rank) after `iters` iterations; non-seed, unreached nodes hold
    * rank 0. `seeds` is an (id) relation (duplicates tolerated). */
  def run(edges: DataFrame, nodes: DataFrame, seeds: DataFrame, iters: Int,
          base: Long = 1000000000000L,
          dampNum: Long = 17L, dampDen: Long = 20L,
          driverEdgeLimit: Long = 1L << 18): DataFrame = {
    require(iters >= 0 && dampNum >= 0 && dampDen > dampNum,
      s"bad damping $dampNum/$dampDen or iters $iters")
    val teleport = base / dampDen * (dampDen - dampNum)
    val ed = edges
      .join(edges.groupBy("src").agg(count(lit(1)).as("outdeg")), Seq("src"))
      .select(col("src"), col("dst"), col("outdeg"))
      .localCheckpoint()
    val tagged = nodes.select(col("id"))
      .join(seeds.select(col("id")).distinct()
        .withColumn("is_seed", lit(1L)), Seq("id"), "left")
      .select(col("id"), coalesce(col("is_seed"), lit(0L)).as("s"))
      .localCheckpoint()
    // size-gated driver loop (the PageRank.driverLoop precedent): the
    // identical integer recurrence in driver arrays — integer sums are
    // order-free, so the fold equals the distributed aggregate bit-for-bit
    // (TrustRankSpec pins path parity). Big graphs run the loop below.
    val longIds = ed.schema.take(2).forall(_.dataType ==
        org.apache.spark.sql.types.LongType) &&
      tagged.schema.head.dataType == org.apache.spark.sql.types.LongType
    if (longIds && ed.count() <= driverEdgeLimit && tagged.count() <= driverEdgeLimit)
      return driverLoop(ed, tagged, iters, base, teleport, dampNum, dampDen)
    var r = tagged.select(col("id"), (col("s") * base).as("rank"))
    for (_ <- 1 to iters) {
      val contrib = ed.join(r, ed("src") === r("id"))
        .select(col("dst").as("id"),
          expr(s"(rank * ${dampNum}L) div (${dampDen}L * outdeg)").as("c"))
        .groupBy("id").agg(sum("c").as("inflow"))
      val prev = r
      r = tagged
        .join(contrib, Seq("id"), "left")
        .select(col("id"),
          (col("s") * teleport + coalesce(col("inflow"), lit(0L))).as("rank"))
        .localCheckpoint()
      graft.Lineage.dropCheckpoint(prev)
    }
    // the loop's working relations are done; the returned ranks are their
    // own materialized checkpoint (the Components precedent), unless no
    // round ran and they are still a projection of `tagged`
    graft.Lineage.dropCheckpoint(ed)
    if (iters > 0) graft.Lineage.dropCheckpoint(tagged)
    r
  }

  /** Driver replica of the distributed recurrence: r₀ = s·base; per round
    * inflow(dst) += floor((r(src)·dampNum)/(dampDen·outdeg)) per edge row,
    * r = s·teleport + inflow over the node domain. Ranks are ≥ 0 and
    * non-seed ranks can be 0 (floor of 0 is 0 on both paths); edges whose
    * src is outside the node set contribute nothing, dst outside the
    * domain is dropped — matching the joins. */
  private def driverLoop(ed: DataFrame, tagged: DataFrame, iters: Int,
                         base: Long, teleport: Long,
                         dampNum: Long, dampDen: Long): DataFrame = {
    val spark = ed.sparkSession
    import spark.implicits._
    val es = ed.select(col("src"), col("dst"), col("outdeg"))
      .as[(Long, Long, Long)].collect()
    val ids = tagged.select(col("id"), col("s")).as[(Long, Long)].collect()
    var rank = scala.collection.mutable.LongMap.empty[Long]
    ids.foreach { case (id, s) => rank.update(id, s * base) }
    for (_ <- 1 to iters) {
      val inflow = scala.collection.mutable.LongMap.empty[Long]
      var i = 0
      while (i < es.length) {
        val (src, dst, outdeg) = es(i)
        rank.get(src) match {
          case Some(r) =>
            val c = (r * dampNum) / (dampDen * outdeg)
            inflow.update(dst, inflow.getOrElse(dst, 0L) + c)
          case None =>
        }
        i += 1
      }
      val next = scala.collection.mutable.LongMap.empty[Long]
      ids.foreach { case (id, s) =>
        next.update(id, s * teleport + inflow.getOrElse(id, 0L)) }
      rank = next
    }
    ids.toSeq.map { case (id, _) => (id, rank(id)) }.toDF("id", "rank")
  }
}
