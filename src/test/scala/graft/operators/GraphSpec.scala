package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class GraphSpec extends SparkSpec {
  import spark.implicits._

  // a small 2-community graph: groups 0-9 mix members 0-5, groups 10-19 mix
  // members 6-11, one bridge group joins 5 and 6
  private def rel = (
    (for (g <- 0 until 10; m <- 0 until 6 if (g + m) % 2 == 0) yield (g, m)) ++
    (for (g <- 10 until 20; m <- 6 until 12 if (g + m) % 2 == 1) yield (g, m)) ++
    Seq((20, 5), (20, 6))
  ).toDF("g", "m")

  test("coOccurrenceEdges bounds out-degree and is deterministic") {
    val e = Graph.coOccurrenceEdges(rel, "g", "m", k = 3)
    val deg = e.groupBy("src").agg(count(lit(1)).as("d"))
    assert(deg.filter(col("d") > 3).isEmpty, "degree bound violated")
    val again = Graph.coOccurrenceEdges(rel.repartition(7), "g", "m", k = 3)
    assert(e.exceptAll(again).isEmpty && again.exceptAll(e).isEmpty,
      "edge set depends on partitioning")
  }

  test("pageRank conserves mass up to floor dust, deterministic, discriminating") {
    val edges = Graph.coOccurrenceEdges(rel, "g", "m", k = 3)
    val nodes = rel.select(col("m").as("node")).distinct()
    val scale = 1000000000000L
    val r = Graph.pageRankFixedPoint(edges, nodes, iters = 5, scale = scale)
    val rows = r.collect().map(x => (x.getInt(0), x.getLong(1))).toSeq
    assert(rows.length == 12)
    val mass = rows.map(_._2).sum
    // every floor division drops < 1 unit; with 12 nodes x 5 iters x
    // (per-edge + damping + teleport) divisions the dust is far below 0.1%
    assert(mass <= scale && mass > (scale * 999) / 1000,
      s"mass $mass vs scale $scale")
    assert(rows.map(_._2).distinct.length > 1, "rank is uniform on a non-regular graph")
    val again = Graph.pageRankFixedPoint(
      edges.repartition(5), nodes.repartition(3), iters = 5, scale = scale)
      .collect().map(x => (x.getInt(0), x.getLong(1))).toSeq
    assert(rows.sorted == again.sorted, "pageRank depends on partitioning")
  }

  test("personalized PageRank: unreachable nodes score exactly 0, seeds carry the mass") {
    // two disjoint components: a 3-cycle {1,2,3} and a 2-cycle {8,9};
    // seeding {1} must leave the other component at EXACTLY zero (global
    // pageRank gives every node a teleport floor — the behavioral split)
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (8L, 9L), (9L, 8L))
      .toDF("src", "dst")
    val nodes = Seq(1L, 2L, 3L, 8L, 9L).toDF("node")
    val seeds = Seq(1L).toDF("node")
    val r = Graph.personalizedPageRank(edges, nodes, seeds, iters = 5)
      .collect().map(x => (x.getLong(0), x.getLong(1))).toMap
    assert(r(8L) == 0L && r(9L) == 0L, s"unreachable component scored: $r")
    assert(r(1L) > 0L && r(2L) > 0L && r(3L) > 0L)
    assert(r(1L) > r(2L), "the seed must outrank its downstream neighbors")
    val global = Graph.pageRankFixedPoint(edges, nodes, iters = 5)
      .collect().map(x => (x.getLong(0), x.getLong(1))).toMap
    assert(global(8L) > 0L, "global pageRank keeps a teleport floor everywhere")
    // determinism under repartition
    val again = Graph.personalizedPageRank(
      edges.repartition(5), nodes.repartition(3), seeds, iters = 5)
      .collect().map(x => (x.getLong(0), x.getLong(1))).toMap
    assert(r == again, "ppr depends on partitioning")
  }

  test("weighted PageRank favors the strong edge where uniform ties") {
    // S endorses A with weight 9 and B with weight 1; A and B return the
    // mass so it doesn't all drain. Uniform PR sees identical structure
    // for A and B; the weighted form must rank A above B.
    val edges = Seq((10L, 1L, 9L), (10L, 2L, 1L), (1L, 10L, 1L),
      (2L, 10L, 1L)).toDF("src", "dst", "w")
    val nodes = Seq(10L, 1L, 2L).toDF("node")
    val wr = Graph.pageRankWeightedFixedPoint(edges, nodes, iters = 5)
      .collect().map(x => (x.getLong(0), x.getLong(1))).toMap
    assert(wr(1L) > wr(2L), s"weight-9 edge did not outrank weight-1: $wr")
    val ur = Graph.pageRankFixedPoint(edges.select(col("src"), col("dst")),
      nodes, iters = 5).collect().map(x => (x.getLong(0), x.getLong(1))).toMap
    assert(ur(1L) == ur(2L), s"uniform PR should tie A and B: $ur")
    // determinism under repartition
    val again = Graph.pageRankWeightedFixedPoint(
      edges.repartition(5), nodes.repartition(2), iters = 5)
      .collect().map(x => (x.getLong(0), x.getLong(1))).toMap
    assert(wr == again, "weighted PR depends on partitioning")
  }

  test("labeled BFS equals one bfsDistances run per seed") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (8L, 9L), (2L, 1L),
      (3L, 2L), (4L, 3L), (9L, 8L)).toDF("src", "dst")
    val seeds = Seq(1L, 8L).toDF("node")
    val labeled = Graph.bfsDistancesLabeled(edges, seeds, rounds = 4)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getInt(2))).toMap
    for (s <- Seq(1L, 8L)) {
      val single = Graph.bfsDistances(edges, Seq(s).toDF("node"), rounds = 4)
        .collect().map(r => (r.getLong(0), r.getInt(1))).toMap
      val slice = labeled.collect { case ((`s`, n), d) => n -> d }.toMap
      assert(slice == single, s"seed $s: $slice vs $single")
    }
    // the components never cross: seed 1 cannot see {8,9} and vice versa
    assert(!labeled.contains((1L, 8L)) && !labeled.contains((8L, 1L)))
  }

  test("a node with no in-edges holds exactly the teleport floor") {
    // star: everyone points at node 0; node 9 receives nothing
    val edges = (1 to 9).map(i => (i, 0)).toDF("src", "dst")
    val nodes = (0 to 9).toDF("node")
    val scale = 1000000000000L
    val r = Graph.pageRankFixedPoint(edges, nodes, iters = 3, scale = scale)
      .collect().map(x => (x.getInt(0), x.getLong(1))).toMap
    val base = (15L * scale / 100) / 10
    assert(r(9) == base, s"leaf rank ${r(9)} != teleport floor $base")
    assert(r(0) > r(9) * 5, "hub not dominant")
  }

  test("triangleCounts: hand graph, duplicate/reversed edges, per-node counts") {
    // two triangles sharing node 3: (1,2,3) and (3,4,5); pendant edge (5,6);
    // edge (2,1) reversed and (1,2) duplicated — symmetrization must dedup
    val edges = Seq((1, 2), (2, 1), (1, 2), (1, 3), (2, 3),
      (3, 4), (4, 5), (5, 3), (5, 6), (6, 6)).toDF("src", "dst")
    val t = Graph.triangleCounts(edges)
      .collect().map(x => (x.getInt(0), x.getLong(1))).toMap
    assert(t == Map(1 -> 1L, 2 -> 1L, 3 -> 2L, 4 -> 1L, 5 -> 1L),
      s"got $t")
  }

  test("triangleCounts: K4 gives every node 3 triangles; partition invariant") {
    val k4 = (for (a <- 1 to 4; b <- 1 to 4 if a < b) yield (a, b)).toDF("src", "dst")
    val t = Graph.triangleCounts(k4)
    assert(t.collect().map(x => (x.getInt(0), x.getLong(1))).toMap ==
      (1 to 4).map(_ -> 3L).toMap)
    val again = Graph.triangleCounts(k4.repartition(7))
    assert(t.exceptAll(again).isEmpty && again.exceptAll(t).isEmpty,
      "triangle counts depend on partitioning")
  }

  test("triangleCounts: triangle-free graph (star + path) returns no rows") {
    val star = ((1 to 5).map(i => (0, i)) ++ Seq((5, 7), (7, 8))).toDF("src", "dst")
    assert(Graph.triangleCounts(star).isEmpty)
  }

  // K4 on nodes 10-13 plus a chain 1-2-3-4-5 hanging off node 10
  private def coreGraph = (
    (for (a <- 10 to 13; b <- 10 to 13 if a < b) yield (a, b)) ++
    Seq((10, 1), (1, 2), (2, 3), (3, 4), (4, 5))
  ).toDF("src", "dst")

  test("kCore peels the chain over multiple rounds, keeps K4 at degree 3") {
    val core = Graph.kCore(coreGraph, kk = 2, rounds = 8)
      .collect().map(x => (x.getInt(0), x.getLong(1))).toMap
    assert(core == (10 to 13).map(_ -> 3L).toMap, s"got $core")
    // the chain needs several rounds: round 1 peels only the degree-1 tip
    // (node 5); 1-4 all still have two live neighbors — fixed small round
    // counts are not automatically the converged core
    val r1 = Graph.kCore(coreGraph, kk = 2, rounds = 1)
      .select("node").as[Int].collect().toSet
    assert(Set(1, 2, 3, 4).subsetOf(r1), s"round 1 peeled too much: $r1")
    assert(!r1.contains(5), "the degree-1 tip survived round 1")
  }

  test("kCore is partition-count invariant") {
    val a = Graph.kCore(coreGraph, kk = 2, rounds = 4)
    val b = Graph.kCore(coreGraph.repartition(7), kk = 2, rounds = 4)
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
  }

  // two K4 cliques bridged by one edge (4, 11)
  private def cliques = (
    (for (a <- 1 to 4; b <- 1 to 4 if a < b) yield (a, b)) ++
    (for (a <- 11 to 14; b <- 11 to 14 if a < b) yield (a, b)) ++
    Seq((4, 11))
  ).toDF("src", "dst")

  test("labelPropagation: bridged cliques settle into two communities") {
    val l = Graph.labelPropagation(cliques, rounds = 4)
      .collect().map(x => (x.getInt(0), x.getInt(1))).toMap
    assert(Set(l(1), l(2), l(3)).size == 1, s"clique A split: $l")
    assert(Set(l(12), l(13), l(14)).size == 1, s"clique B split: $l")
    assert(l(1) != l(12), s"cliques merged across the bridge: $l")
  }

  test("commonNeighbors: diagonals of a square rank first; edges never suggested") {
    // cycle 1-2-3-4 plus pendant (4,5): diagonals (1,3),(2,4) share two
    // neighbors; pendant pairs share one
    val sq = Seq((1, 2), (2, 3), (3, 4), (4, 1), (4, 5)).toDF("src", "dst")
    val top = Graph.commonNeighbors(sq, k = 10)
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2)))
    assert(top.take(2).map(t => (t._1, t._2)).toSet == Set((1, 3), (2, 4)), s"got ${top.toList}")
    assert(top.take(2).forall(_._3 == 2L))
    val suggested = top.map(t => (t._1, t._2)).toSet
    for (e <- Seq((1, 2), (2, 3), (3, 4), (1, 4), (4, 5)))
      assert(!suggested.contains(e), s"existing edge $e suggested")
  }

  test("labelPropagation is partition-count invariant") {
    val a = Graph.labelPropagation(cliques, rounds = 4)
    val b = Graph.labelPropagation(cliques.repartition(7), rounds = 4)
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
  }

  test("randomWalks: full-length walks, every hop a real edge, deterministic") {
    val walks = Graph.randomWalks(cliques, walksPerNode = 2, steps = 3)
    val nNodes = 8
    assert(walks.count() == nNodes * 2 * 4, "every walk must run full length")
    // every consecutive (node, next) pair must be an edge of the support
    val hops = walks.selectExpr("walk_id", "step", "node")
      .as[(String, Int, Int)].collect()
      .groupBy(_._1).values
      .flatMap(w => w.sortBy(_._2).sliding(2).map(p => (p(0)._3, p(1)._3)))
      .toSet
    val es = cliques.as[(Int, Int)].collect()
      .flatMap(e => Seq(e, e.swap)).toSet
    assert(hops.subsetOf(es), s"non-edges walked: ${hops -- es}")
    val again = Graph.randomWalks(cliques.repartition(7), walksPerNode = 2, steps = 3)
    assert(walks.exceptAll(again).isEmpty && again.exceptAll(walks).isEmpty,
      "walk corpus depends on partitioning")
  }

  test("bfsDistances: hand-computed hops, bounded rounds, unreached absent") {
    // directed path 1->2->3->4->5->6 with a shortcut 1->4 and an island 9
    val edges = Seq((1, 2), (2, 3), (3, 4), (4, 5), (5, 6), (1, 4), (7, 9))
      .toDF("src", "dst")
    val seeds = Seq(1).toDF("node")
    val d = Graph.bfsDistances(edges, seeds, rounds = 4)
      .as[(Int, Int)].collect().toMap
    // shortcut wins: 4 is at distance 1, so 6 lands inside 4 rounds
    assert(d == Map(1 -> 0, 2 -> 1, 4 -> 1, 3 -> 2, 5 -> 2, 6 -> 3),
      s"got $d")
    // rounds bound: with 1 round only direct successors appear
    val d1 = Graph.bfsDistances(edges, seeds, rounds = 1)
      .as[(Int, Int)].collect().toMap
    assert(d1 == Map(1 -> 0, 2 -> 1, 4 -> 1), s"got $d1")
    // partition invariance
    val again = Graph.bfsDistances(edges.repartition(5), seeds, rounds = 4)
      .as[(Int, Int)].collect().toMap
    assert(again == d, "distances depend on partitioning")
  }

  test("hitsFixedPoint: directed star concentrates authority at the center") {
    // all edges point leaf -> center: the center is the sole authority,
    // leaves are the (equal) hubs; the center originates nothing -> hub 0
    val star = Seq((1L, 9L), (2L, 9L), (3L, 9L), (4L, 9L)).toDF("src", "dst")
    val r = Graph.hitsFixedPoint(star, iters = 3, scale = 1000000L)
      .as[(Long, Long, Long)].collect().map(t => t._1 -> (t._2, t._3)).toMap
    assert(r(9L)._2 == 1000000L, s"center must hold ALL authority: $r")
    assert(r(9L)._1 == 0L, s"center originates nothing -> hub 0: $r")
    val leafHubs = Seq(1L, 2L, 3L, 4L).map(r(_)._1)
    assert(leafHubs.distinct.size == 1 && leafHubs.head == 250000L,
      s"leaves split hub mass equally: $r")
    assert(Seq(1L, 2L, 3L, 4L).forall(r(_)._2 == 0L),
      s"leaves have no in-edges -> authority 0: $r")
    // partition invariance
    val again = Graph.hitsFixedPoint(star.repartition(5), iters = 3)
      .as[(Long, Long, Long)].collect().map(t => t._1 -> (t._2, t._3)).toMap
    assert(again == r, "HITS depends on partitioning")
  }

  test("hitsFixedPoint eager-cut cadence (r16): below eagerCutMaxEdges the " +
      "per-round cuts bound the plan, above it (and at 0) rounds stay lazy " +
      "— identical answers on every path") {
    val star = Seq((1L, 9L), (2L, 9L), (3L, 9L), (4L, 9L)).toDF("src", "dst")
    val k = "spark.graft.hits.eagerCutMaxEdges"
    def run(maxEdges: String): Map[Long, (Long, Long)] =
      graft.GraftSession.withConfs(spark, k -> maxEdges) {
        Graph.hitsFixedPoint(star, iters = 3, scale = 1000000L)
          .as[(Long, Long, Long)].collect().map(t => t._1 -> (t._2, t._3)).toMap
      }
    val lazyR = run("0") // eager path disabled: the r15 lazy shape
    // 4 edges << threshold: per-round cuts
    graft.GraftSession.withConfs(spark, k -> "1000000") {
      val eagerDf = Graph.hitsFixedPoint(star, iters = 3, scale = 1000000L)
      // the eager path's returned plan roots at materialized cuts — the
      // exponential lazy prefix is gone from the final query
      assert(eagerDf.queryExecution.optimizedPlan.toString
          .contains("LogicalRDD"),
        "eager cadence must leave the final round reading materialized cuts")
      val eagerR = eagerDf
        .as[(Long, Long, Long)].collect().map(t => t._1 -> (t._2, t._3)).toMap
      assert(eagerR == lazyR, "cut cadence changed the HITS answer")
    }
    // 4 edges > threshold: lazy again
    assert(run("2") == lazyR, "above-threshold path changed the answer")
  }

  test("degreeAssortativity: star is perfectly disassortative, clique NaN") {
    // star: every edge pairs the hub (deg 4) with a leaf (deg 1) -> r = -1
    val star = Seq((1, 2), (1, 3), (1, 4), (1, 5)).toDF("src", "dst")
    val r = Graph.degreeAssortativity(star)
      .select("assortativity").as[Double].head()
    assert(r == -1.0, s"star assortativity was $r")
    // regular graph (triangle): zero degree variance -> undefined -> NULL
    val tri = Seq((1, 2), (2, 3), (1, 3)).toDF("src", "dst")
    val rt = Graph.degreeAssortativity(tri)
      .select("assortativity").collect().head
    assert(rt.isNullAt(0), s"regular-graph assortativity was $rt")
  }
}
