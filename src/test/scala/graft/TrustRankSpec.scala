package graft

import graft.graph.TrustRank

/** TrustRank: hand-computed integer trajectories, the spam-farm-gets-
  * nothing property, seed duplicates, partition invariance. */
class TrustRankSpec extends SparkSuiteBase {
  import spark.implicits._

  private def run(edges: Seq[(Long, Long)], nodes: Seq[Long], seeds: Seq[Long],
                  iters: Int, parts: Int = 4) =
    TrustRank.run(edges.toDF("src", "dst").repartition(parts),
        nodes.toDF("id"), seeds.toDF("id"), iters)
      .as[(Long, Long)].collect().toMap

  private val B = 1000000000000L
  private val T = 150000000000L // base/20 * 3

  test("zero iterations: seeds hold base mass, everyone else zero") {
    assert(run(Seq(1L -> 2L), Seq(1L, 2L, 3L), Seq(1L), 0) ==
      Map(1L -> B, 2L -> 0L, 3L -> 0L))
    assert(TrustRank.run(Seq(1L -> 2L).toDF("src", "dst"), Seq(1L, 2L, 3L).toDF("id"),
        Seq(1L).toDF("id"), 0, driverEdgeLimit = 0L)
      .as[(Long, Long)].collect().toMap == Map(1L -> B, 2L -> 0L, 3L -> 0L))
  }

  test("hand-computed chain: trust decays by 0.85 per hop") {
    val edges = Seq(1L -> 2L, 2L -> 3L)
    val nodes = Seq(1L, 2L, 3L)
    assert(run(edges, nodes, Seq(1L), 1) ==
      Map(1L -> T, 2L -> 850000000000L, 3L -> 0L))
    assert(run(edges, nodes, Seq(1L), 2) ==
      Map(1L -> T, 2L -> 127500000000L, 3L -> 722500000000L))
  }

  test("spam farm with no in-link from trust scores exactly zero") {
    val edges = Seq(1L -> 2L, // trusted region
      10L -> 11L, 11L -> 10L, 10L -> 10L, 11L -> 11L) // dense self-linking farm
    val got = run(edges, Seq(1L, 2L, 10L, 11L), Seq(1L), 4)
    assert(got(10L) == 0L && got(11L) == 0L)
    assert(got(1L) > 0L && got(2L) > 0L)
    // ...and one trusted in-link changes everything
    val linked = run(edges :+ (2L -> 10L), Seq(1L, 2L, 10L, 11L), Seq(1L), 4)
    assert(linked(10L) > 0L && linked(11L) > 0L)
  }

  test("duplicate seed rows are tolerated") {
    val edges = Seq(1L -> 2L)
    assert(run(edges, Seq(1L, 2L), Seq(1L, 1L, 1L), 1) ==
      run(edges, Seq(1L, 2L), Seq(1L), 1))
  }

  test("pure function of (edges, nodes, seeds, iters): partitioning-free") {
    val rnd = new scala.util.Random(3)
    val edges = Seq.fill(60)((rnd.nextInt(20).toLong, rnd.nextInt(20).toLong))
    val nodes = (0L until 20L).toSeq
    assert(run(edges, nodes, Seq(0L, 7L), 3, parts = 1) ==
      run(edges, nodes, Seq(0L, 7L), 3, parts = 9))
  }

  test("driver fast-path equals the forced distributed loop") {
    val edges = Seq(1L -> 2L, 2L -> 3L, 3L -> 1L, 4L -> 2L, 1L -> 2L)
    val nodes = Seq(1L, 2L, 3L, 4L, 5L)
    val driver = run(edges, nodes, Seq(1L, 4L), 4)
    val dist = TrustRank.run(edges.toDF("src", "dst"), nodes.toDF("id"),
        Seq(1L, 4L).toDF("id"), 4, driverEdgeLimit = 0L)
      .as[(Long, Long)].collect().toMap
    assert(driver == dist)
  }
}
