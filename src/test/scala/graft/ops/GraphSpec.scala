package graft.ops

import graft.SparkSpec
import graft.spark.LocalCheckpoint

class GraphSpec extends SparkSpec {
  import spark.implicits._

  test("pageRank: one hand-computed iteration on a 3-node chain") {
    // 1 -> 2 -> 3 : after one round (scale 1M, teleport 150k, damping 85):
    //   r(1) = 150000                            (no in-edges)
    //   r(2) = 150000 + 85*1000000/100 = 1000000 (one full contribution)
    //   r(3) = 1000000                           (same)
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val r = Graph.pageRank(edges, "src", "dst", iters = 1)
      .as[(Long, Long)].collect().toMap
    assert(r == Map(1L -> 150000L, 2L -> 1000000L, 3L -> 1000000L))
  }

  test("pageRank: fan-out splits rank by integer division; fan-in sums") {
    // 1 -> {2, 3}, {2, 3} -> 4. Round 1: r(2)=r(3)=150000+85*500000/100
    // = 575000; r(4) = 150000 + 85*(1000000+1000000)/100 = 1850000.
    // Round 2: r(4) = 150000 + 85*(575000+575000)/100 = 1127500.
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L))
      .toDF("src", "dst")
    val r1 = Graph.pageRank(edges, "src", "dst", iters = 1)
      .as[(Long, Long)].collect().toMap
    assert(r1 == Map(1L -> 150000L, 2L -> 575000L, 3L -> 575000L,
      4L -> 1850000L))
    val r2 = Graph.pageRank(edges, "src", "dst", iters = 2)
      .as[(Long, Long)].collect().toMap
    assert(r2(4L) == 1127500L)
    assert(r2(2L) == 150000L + 85L * (150000L / 2) / 100)
  }

  test("triangleCounts: hand-built graph — one triangle + a pendant edge") {
    // triangle {1,2,3}, pendant 3-4: nodes 1,2,3 in 1 triangle each
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L)).toDF("src", "dst")
    val got = Graph.triangleCounts(edges, "src", "dst")
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("triangleCounts: K4 has 3 triangles per node; duplicate/reversed/" +
      "self edges don't inflate") {
    val k4 = for {
      a <- 1L to 4L; b <- 1L to 4L; if a != b
    } yield (a, b) // both orientations of every K4 edge
    val edges = (k4 ++ Seq((1L, 1L), (1L, 2L), (2L, 1L))).toDF("src", "dst")
    val got = Graph.triangleCounts(edges, "src", "dst")
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
  }

  test("bfsHops: min hop distance, multi-seed, maxHops cutoff, no revisit") {
    // chain 1→2→3→4→5 plus shortcut 1→4; seeds {1}: d(4) = 2 via shortcut?
    // no — shortcut IS 1→4 so d(4)=1, d(5)=2; 2 and 3 at 1 and 2.
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (1L, 4L))
      .toDF("src", "dst")
    val seeds = Seq(1L).toDF("id")
    val got = Graph.bfsHops(edges, seeds, "src", "dst", "id", maxHops = 2)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 0L, 2L -> 1L, 4L -> 1L, 3L -> 2L, 5L -> 2L))
    // two seeds: distances take the min over sources
    val got2 = Graph.bfsHops(edges, Seq(1L, 3L).toDF("id"), "src", "dst",
      "id", maxHops = 3).as[(Long, Long)].collect().toMap
    assert(got2 == Map(1L -> 0L, 3L -> 0L, 2L -> 1L, 4L -> 1L, 5L -> 2L))
  }

  test("bfsHops: early-exit on an exhausted frontier (cycle) terminates") {
    val edges = Seq((1L, 2L), (2L, 1L)).toDF("src", "dst")
    val got = Graph.bfsHops(edges, Seq(1L).toDF("id"), "src", "dst", "id",
      maxHops = 100).as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 0L, 2L -> 1L))
  }

  test("shortestPaths: weighted relaxation beats hop-count path, bounded " +
      "by rounds, min over multiple seeds") {
    // 1→2→3 costs 1+1=2; direct 1→3 costs 5: two rounds prefer the long-hop
    // cheap path; one round can only see the direct edge.
    val edges = Seq((1L, 2L, 1L), (2L, 3L, 1L), (1L, 3L, 5L))
      .toDF("src", "dst", "w")
    val r1 = Graph.shortestPaths(edges, Seq(1L).toDF("id"), "src", "dst",
      "w", "id", rounds = 1).as[(Long, Long)].collect().toMap
    assert(r1 == Map(1L -> 0L, 2L -> 1L, 3L -> 5L))
    val r2 = Graph.shortestPaths(edges, Seq(1L).toDF("id"), "src", "dst",
      "w", "id", rounds = 2).as[(Long, Long)].collect().toMap
    assert(r2 == Map(1L -> 0L, 2L -> 1L, 3L -> 2L))
    // second seed at 3: its zero wins over any path cost
    val r3 = Graph.shortestPaths(edges, Seq(1L, 3L).toDF("id"), "src", "dst",
      "w", "id", rounds = 2).as[(Long, Long)].collect().toMap
    assert(r3 == Map(1L -> 0L, 2L -> 1L, 3L -> 0L))
  }

  test("kCore: cascading peel — removing one low-degree node unravels the " +
      "chain; the clique survives") {
    // K4 on {1,2,3,4} + chain 4-5-6: for k=2 the chain peels away in two
    // cascading rounds (6 first, then 5), leaving the clique
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
    val edges = (k4 ++ Seq((4L, 5L), (5L, 6L))).toDF("src", "dst")
    val got = Graph.kCore(edges, "src", "dst", k = 2)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
    // k=4: nothing has degree 4 → empty
    assert(Graph.kCore(edges, "src", "dst", k = 4).isEmpty)
  }

  test("kCore and bfsHops each leave one localCheckpoint, the result's, " +
      "on a 200-edge graph") {
    // K20 minus one edge (189 edges) plus an 11-edge chain 110→…→100→0:
    // kCore peels the chain one node a round, bfsHops walks it one hop a
    // round, so both run a dozen checkpointed rounds
    val clique = (for (i <- 0L until 20L; j <- i + 1 until 20L) yield (i, j)).take(189)
    val chain = (100L until 110L).map(i => (i + 1, i)) :+ ((100L, 0L))
    val edges = (clique ++ chain).toDF("src", "dst")
    assert(edges.count() == 200)
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val core = Graph.kCore(edges, "src", "dst", k = 2)
    assert(core.count() == 20)
    val afterCore = sc.getPersistentRDDs.keySet
    assert((afterCore -- before).size <= 1,
      s"kCore holds ${(afterCore -- before).size} persisted RDDs")
    val reached = Graph.bfsHops(edges, Seq(110L).toDF("id"), "src", "dst",
      "id", maxHops = 15)
    assert(reached.count() == 31)
    val afterBfs = sc.getPersistentRDDs.keySet
    assert((afterBfs -- afterCore).size <= 1,
      s"bfsHops holds ${(afterBfs -- afterCore).size} persisted RDDs")
    // what is left is the caller's to release
    LocalCheckpoint.release(core)
    LocalCheckpoint.release(reached)
    assert((sc.getPersistentRDDs.keySet -- before).isEmpty)
  }

  test("rootDepths: pointer doubling resolves a deep chain in log rounds; " +
      "forest roots and depths exact") {
    // chain 1←2←3←…←9 (root 1) + separate tree root 10 with children 11,12
    val chain = (2L to 9L).map(i => (i, i - 1))
    val parents = (chain ++ Seq((1L, 1L), (10L, 10L), (11L, 10L), (12L, 10L)))
      .toDF("child", "parent")
    val got = Graph.rootDepths(parents, "child", "parent")
      .as[(Long, Long, Long)].collect().toSet
    val wantChain = (1L to 9L).map(i => (i, 1L, i - 1)).toSet
    assert(got == wantChain ++ Set((10L, 10L, 0L), (11L, 10L, 1L),
      (12L, 10L, 1L)))
    // depth 8 must resolve within ⌈log₂ 8⌉ + 1 = 4 rounds: maxRounds=4
    // yields the identical answer (doubling, not stepping)
    val fast = Graph.rootDepths(parents, "child", "parent", maxRounds = 4)
      .as[(Long, Long, Long)].collect().toSet
    assert(fast == got)
  }

  test("personalizedPageRank: teleport mass flows only from seeds; " +
      "non-seed sources rank zero-ish downstream of nothing") {
    // 1 → 2 → 3 and 4 → 3; seed = {1}: node 4 gets NO teleport and no
    // inflow → rank 0; 3 receives only via the seed path plus 4's zero.
    val edges = Seq((1L, 2L), (2L, 3L), (4L, 3L)).toDF("src", "dst")
    val r = Graph.personalizedPageRank(edges, Seq(1L).toDF("id"),
      "src", "dst", "id", iters = 1).as[(Long, Long)].collect().toMap
    // round 1: r(1) = 150000 (seed teleport), r(2) = 85% of full seed rank
    // = 850000, r(3) = 85% of (0 + 0) = 0 wait — r0(2) = 0 so 3 gets 0
    assert(r == Map(1L -> 150000L, 2L -> 850000L, 3L -> 0L, 4L -> 0L))
    val r2 = Graph.personalizedPageRank(edges, Seq(1L).toDF("id"),
      "src", "dst", "id", iters = 2).as[(Long, Long)].collect().toMap
    // round 2: r(2) = 85%·150000 = 127500, r(3) = 85%·850000 = 722500
    assert(r2 == Map(1L -> 150000L, 2L -> 127500L, 3L -> 722500L, 4L -> 0L))
  }

  test("hits: hand-computed hub/authority rounds on a fan-in graph") {
    // 1→3, 2→3, 3→4: 3 is the authority (two hubs point at it), 1 and 2
    // are the hubs (they point at the authority)
    val edges = Seq((1L, 3L), (2L, 3L), (3L, 4L)).toDF("src", "dst")
    def run(iters: Int): Map[Long, (Long, Long)] =
      Graph.hits(edges, "src", "dst", iters).as[(Long, Long, Long)]
        .collect().map(t => t._1 -> ((t._2, t._3))).toMap
    // round 1: auth = incoming hub-sum of ones → a(3)=2, a(4)=1;
    // hub = outgoing NEW auth-sum → h(1)=h(2)=2, h(3)=1
    assert(run(1) == Map(1L -> ((2L, 0L)), 2L -> ((2L, 0L)),
      3L -> ((1L, 2L)), 4L -> ((0L, 1L))))
    // round 2: a(3)=h(1)+h(2)=4, a(4)=h(3)=1; h(1)=h(2)=4, h(3)=1
    assert(run(2) == Map(1L -> ((4L, 0L)), 2L -> ((4L, 0L)),
      3L -> ((1L, 4L)), 4L -> ((0L, 1L))))
  }

  test("pageRank is deterministic across runs and repartitionings") {
    val edges = (1L to 200L).map(i => (i % 17, i % 13)).toDF("src", "dst")
      .distinct()
    val a = Graph.pageRank(edges, "src", "dst", iters = 3)
      .as[(Long, Long)].collect().toMap
    val b = Graph.pageRank(edges.repartition(7), "src", "dst", iters = 3)
      .as[(Long, Long)].collect().toMap
    assert(a == b)
  }

  test("labelPropagation: two cliques joined by a bridge keep separate labels") {
    // clique {1,2,3} and clique {10,11,12}, one bridge 3-10: after enough
    // rounds every clique member carries its clique's min label; the
    // bridge endpoints see a majority of in-clique neighbors so the
    // communities don't merge.
    def clique(ns: Seq[Long]) =
      for { a <- ns; b <- ns if a < b } yield (a, b)
    val edges = (clique(Seq(1L, 2L, 3L)) ++ clique(Seq(10L, 11L, 12L)) ++
      Seq((3L, 10L))).toDF("src", "dst")
    val labels = Graph.labelPropagation(edges, "src", "dst", rounds = 4)
      .as[(Long, Long)].collect().toMap
    assert(Seq(1L, 2L, 3L).map(labels).distinct.size == 1)
    assert(Seq(10L, 11L, 12L).map(labels).distinct.size == 1)
    assert(labels(1L) != labels(10L))
  }

  test("labelPropagation: synchronous min-tie-break is partitioning-invariant") {
    val rnd = new scala.util.Random(5)
    val edges = (1 to 300).map(_ =>
      (rnd.nextInt(60).toLong, rnd.nextInt(60).toLong)).toDF("src", "dst")
    val a = Graph.labelPropagation(edges, "src", "dst", rounds = 3)
      .as[(Long, Long)].collect().toMap
    val b = Graph.labelPropagation(edges.repartition(11), "src", "dst",
      rounds = 3).as[(Long, Long)].collect().toMap
    assert(a == b && a.nonEmpty)
  }

  test("labelPropagation: star adopts the hub's label in one round") {
    // hub 5 with leaves 6,7,8: each leaf's only neighbor is 5 -> label 5;
    // the hub's neighbors all carry distinct labels -> tie -> min = 6.
    val edges = Seq((5L, 6L), (5L, 7L), (5L, 8L)).toDF("src", "dst")
    val labels = Graph.labelPropagation(edges, "src", "dst", rounds = 1)
      .as[(Long, Long)].collect().toMap
    assert(labels == Map(5L -> 6L, 6L -> 5L, 7L -> 5L, 8L -> 5L))
  }
}
