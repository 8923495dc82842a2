package graft

import org.apache.spark.sql.functions.{col, lit, when}

import graft.operators.Graph

/** Pins the exact fixed-point PageRank: bit-equality with a driver mirror
  * using the identical integer ops, on symmetric AND dangling graphs.
  */
class GraphSpec extends SparkSpec {
  import spark.implicits._

  /** Driver mirror of the integer PageRank step, dangling mass included. */
  private def mirror(edges: Seq[(Long, Long)], iters: Int): Map[Long, Long] = {
    val nodes = edges.flatMap(p => Seq(p._1, p._2)).distinct.sorted
    val n = nodes.length.toLong
    val scale = 1000000000L
    val base = ((15L * scale) / 100L) / n
    val out = edges.groupBy(_._1).map { case (k, v) => k -> v.size.toLong }
    val dangling = nodes.filterNot(out.contains)
    var r = nodes.map(_ -> scale / n).toMap
    for (_ <- 1 to iters) {
      val dShare = dangling.map(d => (85L * r(d)) / (100L * n)).sum
      val contrib = scala.collection.mutable.Map(nodes.map(_ -> 0L): _*)
      edges.foreach { case (s0, d0) =>
        contrib(d0) += (85L * r(s0)) / (100L * out(s0))
      }
      r = nodes.map(v => v -> (base + dShare + contrib(v))).toMap
    }
    r
  }

  test("pageRankFixed equals the integer driver mirror on a symmetric graph") {
    val rnd = new scala.util.Random(7)
    val raw = (1 to 60).map(_ => (rnd.nextInt(12).toLong, rnd.nextInt(12).toLong))
      .filter(p => p._1 != p._2)
    val sym = (raw ++ raw.map(_.swap)).distinct
    val got = Graph.pageRankFixed(sym.toDF("src", "dst").repartition(8),
        "src", "dst", iters = 10)
      .as[(Long, Long)].collect().toMap

    val nodes = sym.flatMap(p => Seq(p._1, p._2)).distinct.sorted
    val scale = 1000000000L
    val init = scale / nodes.length
    val base = ((15L * scale) / 100L) / nodes.length
    val out = sym.groupBy(_._1).map { case (k, v) => k -> v.size.toLong }
    var r = nodes.map(_ -> init).toMap
    for (_ <- 1 to 10) {
      val contrib = scala.collection.mutable.Map(nodes.map(_ -> 0L): _*)
      sym.foreach { case (s0, d0) =>
        contrib(d0) += (85L * r(s0)) / (100L * out(s0))
      }
      r = nodes.map(v => v -> (base + contrib(v))).toMap
    }
    assert(got == r, s"distributed $got != mirror $r")
  }

  test("personalizedPageRank: all-nodes seed set degenerates to pageRankFixed; " +
    "mass localizes to seed-reachable nodes") {
    val rnd = new scala.util.Random(11)
    val raw = (1 to 50).map(_ => (rnd.nextInt(10).toLong, rnd.nextInt(10).toLong))
      .filter(p => p._1 != p._2)
    val sym = (raw ++ raw.map(_.swap)).distinct
    val df = sym.toDF("src", "dst")
    val allNodes = sym.flatMap(p => Seq(p._1, p._2)).distinct
      .map(Tuple1(_)).toDF("node")
    // law: seeds = every node => identical to the global operator
    // (init scale/n, base (15 scale/100)/n, teleport to everyone)
    val ppr = Graph.personalizedPageRank(df, "src", "dst", allNodes, "node",
      iters = 10).as[(Long, Long)].collect().toMap
    val global = Graph.pageRankFixed(df, "src", "dst", iters = 10)
      .as[(Long, Long)].collect().toMap
    assert(ppr === global, "all-nodes PPR must equal global PageRank")

    // two disconnected components: seeding only one keeps the other at 0
    val twoComp = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L),
      (10L, 11L), (11L, 10L))
    val seeded = Graph.personalizedPageRank(twoComp.toDF("src", "dst"),
        "src", "dst", Seq(1L).map(Tuple1(_)).toDF("node"), "node", iters = 10)
      .as[(Long, Long)].collect().toMap
    assert(seeded.keySet === Set(1L, 2L, 3L, 10L, 11L))
    assert(seeded(10L) === 0L && seeded(11L) === 0L,
      "unreachable component must hold zero mass")
    assert(seeded(1L) > 0L && seeded(2L) > 0L && seeded(3L) > 0L)
    // off-graph seeds are ignored; all-off-graph seeds are loud
    val withGhost = Graph.personalizedPageRank(twoComp.toDF("src", "dst"),
        "src", "dst", Seq(1L, 999L).map(Tuple1(_)).toDF("node"), "node",
        iters = 3).as[(Long, Long)].collect().toMap
    assert(withGhost(10L) === 0L)
    val e = intercept[IllegalArgumentException] {
      Graph.personalizedPageRank(twoComp.toDF("src", "dst"), "src", "dst",
        Seq(999L).map(Tuple1(_)).toDF("node"), "node", iters = 3)
    }
    assert(e.getMessage.contains("seed"))
  }

  test("dangling nodes redistribute mass exactly; uncited nodes survive") {
    // 2 is dangling (no out-edge); 3 has an out-edge but no in-edge. The
    // former loud contract rejected both shapes — now they are first-class:
    // 2's mass spreads uniformly, 3 keeps base + dangling share.
    val edges = Seq((1L, 2L), (3L, 1L), (3L, 2L))
    val got = Graph.pageRankFixed(edges.toDF("src", "dst"), "src", "dst", iters = 10)
      .as[(Long, Long)].collect().toMap
    val exp = mirror(edges, 10)
    assert(got == exp, s"distributed $got != mirror $exp")
    assert(got.keySet == Set(1L, 2L, 3L), "every node must stay in the vector")
    // a sink plus a source can never tie: 2 receives from both others
    assert(got(2L) > got(3L))
  }

  test("a mostly-dangling random graph matches the mirror bit-for-bit") {
    val rnd = new scala.util.Random(13)
    val edges = (1 to 40)
      .map(_ => (rnd.nextInt(8).toLong, (8 + rnd.nextInt(8)).toLong))
      .distinct
    // every dst-side node (8..15) is dangling: redistribution dominates
    val got = Graph.pageRankFixed(edges.toDF("src", "dst"), "src", "dst", iters = 7)
      .as[(Long, Long)].collect().toMap
    assert(got == mirror(edges, 7), "dangling-heavy graph must match the mirror")
  }

  test("triangleCounts matches a brute-force mirror on a random graph") {
    val rnd = new scala.util.Random(21)
    val raw = (1 to 120)
      .map(_ => (rnd.nextInt(15).toLong, rnd.nextInt(15).toLong))
      .filter(p => p._1 != p._2)
    val got = Graph.triangleCounts(raw.toDF("src", "dst"), "src", "dst")
      .as[(Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap

    val und = raw.map(p => (math.min(p._1, p._2), math.max(p._1, p._2))).distinct
    val adj = (und ++ und.map(_.swap)).groupBy(_._1)
      .map { case (k, v) => k -> v.map(_._2).toSet }
    val exp = adj.map { case (k, nb) =>
      val tri = nb.toSeq.sorted.combinations(2)
        .count { case Seq(a, b) => adj(a)(b) }.toLong
      k -> ((nb.size.toLong, tri))
    }
    assert(got == exp, s"distributed $got != mirror $exp")
  }

  test("triangleCounts: K4 is all-triangles, a star has none, direction ignored") {
    // K4: every node has deg 3 and sits in C(3,2) = 3 triangles
    val k4 = (for (a <- 1L to 4L; b <- 1L to 4L if a < b) yield (a, b))
    val gotK4 = Graph.triangleCounts(k4.toDF("src", "dst"), "src", "dst")
      .as[(Long, Long, Long)].collect().toSet
    assert(gotK4 == (1L to 4L).map(n => (n, 3L, 3L)).toSet)
    // star around 0: wedges everywhere, no closing edge anywhere — and
    // reversed duplicate edges must not fabricate one
    val star = (1L to 5L).flatMap(i => Seq((0L, i), (i, 0L)))
    val gotStar = Graph.triangleCounts(star.toDF("src", "dst"), "src", "dst")
      .as[(Long, Long, Long)].collect()
      .map { case (n, d, t) => n -> ((d, t)) }.toMap
    assert(gotStar(0L) == ((5L, 0L)))
    (1L to 5L).foreach(i => assert(gotStar(i) == ((1L, 0L))))
  }

  test("epsilon stop ends iteration at the integer fixpoint with the fixed-run answer") {
    // a directed 4-cycle hits its exact integer fixpoint at iteration 1:
    // od = 1 everywhere, so r1 = base + (85*init) div 100 = init (with
    // scale 1e9 and n = 4 the floor divisions are exact)
    val cycle = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L)).toDF("src", "dst")
    val (eps, ran) = Graph.pageRankFixedConverged(cycle, "src", "dst",
      iters = 50, epsilon = 0L)
    assert(ran == 1, s"fixpoint graph must stop after one round, ran $ran")
    val epsMap = eps.as[(Long, Long)].collect().toMap
    val fixed50 = Graph.pageRankFixed(cycle, "src", "dst", iters = 50)
      .as[(Long, Long)].collect().toMap
    val fixed1 = Graph.pageRankFixed(cycle, "src", "dst", iters = 1)
      .as[(Long, Long)].collect().toMap
    assert(epsMap == fixed1 && epsMap == fixed50,
      "early-stopped ranks must equal the fixed run at the stop round AND at the cap")
    // defaults (epsilon = -1) keep the fixed-iteration behavior: a graph
    // that has NOT converged by the cap still runs every round
    val chain = Seq((1L, 2L), (2L, 3L), (3L, 1L), (4L, 1L)).toDF("src", "dst")
    val (_, ranAll) = Graph.pageRankFixedConverged(chain, "src", "dst", iters = 5)
    assert(ranAll == 5, "disabled epsilon must run to the cap")
  }

  test("kCore: multi-round peel cascade lands on the unique core") {
    // triangle {1,2,3} with a tail 3-4-5-6: at k=2 the tail peels one
    // node per round (6, then 5, then 4 — three cascading rounds), and
    // the 2-core is exactly the triangle with in-core degree 2 each
    val g = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L), (5L, 6L))
      .toDF("src", "dst")
    val core = Graph.kCore(g, "src", "dst", k = 2)
      .as[(Long, Long)].collect().toMap
    assert(core == Map(1L -> 2L, 2L -> 2L, 3L -> 2L),
      s"2-core must be the triangle, got $core")
    // k above the max degree empties the graph
    assert(Graph.kCore(g, "src", "dst", k = 4).isEmpty, "4-core must be empty")
  }

  test("kCore ignores direction, duplicate edges, and self-loops") {
    val messy = Seq((2L, 1L), (1L, 2L), (2L, 3L), (3L, 3L), (1L, 3L), (3L, 1L))
      .toDF("src", "dst")
    val core = Graph.kCore(messy, "src", "dst", k = 2)
      .as[(Long, Long)].collect().toMap
    assert(core == Map(1L -> 2L, 2L -> 2L, 3L -> 2L),
      s"dedup/canonicalization failed: $core")
  }

  test("bfsHops: multi-source min distance, off-graph seeds, unreachable absent") {
    // path 1-2-3-4-5 plus a detached edge 8-9; seeds 1, 4 and the
    // off-graph 99. node 3 is 1 hop from seed 4 (not 2 from seed 1).
    val g = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (8L, 9L))
      .toDF("src", "dst")
    val seeds = Seq(1L, 4L, 99L).toDF("node")
    val dist = Graph.bfsHops(g, "src", "dst", seeds, "node")
      .as[(Long, Long)].collect().toMap
    assert(dist == Map(1L -> 0L, 4L -> 0L, 99L -> 0L,
      2L -> 1L, 3L -> 1L, 5L -> 1L),
      s"wrong distances: $dist")
    assert(!dist.contains(8L) && !dist.contains(9L),
      "unreachable component must be absent")
    // direction is ignored: seeding the sink end walks the path back
    val back = Graph.bfsHops(g, "src", "dst", Seq(5L).toDF("node"), "node")
      .as[(Long, Long)].collect().toMap
    assert(back == Map(5L -> 0L, 4L -> 1L, 3L -> 2L, 2L -> 3L, 1L -> 4L),
      s"undirected walk failed: $back")
    // the loud cap trips instead of running forever
    val err = intercept[IllegalArgumentException] {
      Graph.bfsHops(g, "src", "dst", Seq(5L).toDF("node"), "node",
        maxRounds = 2).count()
    }
    assert(err.getMessage.contains("did not finish"))
  }

  test("weightedPageRank: uniform weights degenerate to pageRankFixed bit-for-bit") {
    val rnd = new scala.util.Random(13)
    val raw = (1 to 60).map(_ => (rnd.nextInt(12).toLong, rnd.nextInt(12).toLong))
      .filter(p => p._1 != p._2).distinct
    val plain = Graph.pageRankFixed(raw.toDF("src", "dst"), "src", "dst",
      iters = 8).as[(Long, Long)].collect().toMap
    val weighted = Graph.weightedPageRank(
        raw.map(p => (p._1, p._2, 7L)).toDF("src", "dst", "w"),
        "src", "dst", "w", iters = 8)
      .as[(Long, Long)].collect().toMap
    // w=7 everywhere: (85*r*7) div (100*7*od) == (85*r) div (100*od)?
    // NOT in general (floor of a*7/(b*7) == floor(a/b) exactly) — it IS:
    // floor(7x/7y) = floor(x/y). So equal weights must reproduce the
    // unweighted ranks exactly.
    assert(weighted == plain, s"uniform weights diverged from pageRankFixed")
  }

  test("weightedPageRank: mass follows weight; parallel edges sum; loud on w<=0") {
    // star: 1 -> {2,3} with weights 9 and 1 (as parallel 1->3 rows
    // summing to 1+0? no — two rows (1,3,0.5) invalid; use (1,2,4)+(1,2,5)
    // to pin the sum-collapse), plus back-edges so nothing dangles.
    val edges = Seq((1L, 2L, 4L), (1L, 2L, 5L), (1L, 3L, 1L),
      (2L, 1L, 1L), (3L, 1L, 1L)).toDF("src", "dst", "w")
    val r = Graph.weightedPageRank(edges, "src", "dst", "w", iters = 6)
      .as[(Long, Long)].collect().toMap
    assert(r(2L) > r(3L),
      s"node 2 (weight 9-of-10) must outrank node 3 (1-of-10): $r")
    intercept[IllegalArgumentException] {
      Graph.weightedPageRank(Seq((1L, 2L, 0L)).toDF("src", "dst", "w"),
        "src", "dst", "w")
    }
  }

  test("weightedHops: cheapest path beats fewest hops; parallel edges collapse to min") {
    // 1-3 direct costs 100, but 1-2-3 costs 20: the weighted answer must
    // take the longer-hop cheaper route (the exact thing bfsHops can't).
    // Parallel 1-2 edges (50 and 10) must collapse to 10.
    val edges = Seq((1L, 2L, 50L), (1L, 2L, 10L), (2L, 3L, 10L),
      (1L, 3L, 100L), (9L, 10L, 1L))
      .toDF("src", "dst", "w").repartition(4)
    val got = Graph.weightedHops(edges, "src", "dst", "w",
        Seq(1L).toDF("node"), "node")
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 0L, 2L -> 10L, 3L -> 20L),
      s"wrong weighted distances: $got")
    assert(!got.contains(9L) && !got.contains(10L),
      "unreachable component must be absent")
  }

  test("weightedHops: multi-source nearest seed, undirected, loud round cap") {
    val chain = Seq((1L, 2L, 5L), (2L, 3L, 7L), (3L, 4L, 5L))
      .toDF("src", "dst", "w")
    val got = Graph.weightedHops(chain, "src", "dst", "w",
        Seq(1L, 4L).toDF("node"), "node")
      .as[(Long, Long)].collect().toMap
    // node 2: 5 from seed 1; node 3: 5 from seed 4 (undirected edges)
    assert(got == Map(1L -> 0L, 2L -> 5L, 3L -> 5L, 4L -> 0L),
      s"wrong multi-source distances: $got")
    val err = intercept[IllegalArgumentException] {
      Graph.weightedHops(chain, "src", "dst", "w",
        Seq(1L).toDF("node"), "node", maxRounds = 2).count()
    }
    assert(err.getMessage.contains("did not converge"))
  }

  test("weightedPageRank rejects a null or non-positive weight before summing") {
    // the guard reads every input row: a null weight would drop out of the
    // parallel sum with its edge's mass, and a negative row can hide
    // inside a positive sum
    val nullW = Seq((1L, 2L, Some(3L)), (2L, 1L, None), (2L, 3L, Some(1L)),
      (3L, 1L, Some(1L))).toDF("src", "dst", "w")
    val hidden = Seq((1L, 2L, -1L), (1L, 2L, 3L), (2L, 1L, 1L)).toDF("src", "dst", "w")
    for (edges <- Seq(nullW, hidden)) {
      val err = intercept[IllegalArgumentException] {
        Graph.weightedPageRank(edges, "src", "dst", "w", iters = 2)
      }
      assert(err.getMessage.contains("positive"))
    }
  }

  test("weightedHops rejects a null or negative weight; zero stays legal") {
    // a null weight would surface as a null dist row, and a negative one
    // would relax forever until the round cap reported non-convergence
    val seeds = Seq(1L).toDF("node")
    for (bad <- Seq(Seq((1L, 2L, Some(4L)), (2L, 3L, None)),
        Seq((1L, 2L, Some(4L)), (2L, 3L, Some(-1L))))) {
      val err = intercept[IllegalArgumentException] {
        Graph.weightedHops(bad.toDF("src", "dst", "w"), "src", "dst", "w",
          seeds, "node").count()
      }
      assert(err.getMessage.contains("non-negative"), err.getMessage)
    }
    val zero = Graph.weightedHops(Seq((1L, 2L, 0L), (2L, 3L, 5L))
        .toDF("src", "dst", "w"), "src", "dst", "w", seeds, "node")
      .as[(Long, Long)].collect().toMap
    assert(zero == Map(1L -> 0L, 2L -> 0L, 3L -> 5L), s"got $zero")
  }

  test("iteration loops never free a CALLER's upstream checkpoint") {
    // regression: the loops' checkpoint free used to collect every LogicalRDD in
    // the plan, so round 1 (init rank still derived from the input) freed
    // a localCheckpoint the caller's pipeline contained — later rounds
    // then died with CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L))
      .toDF("src", "dst").localCheckpoint(true)
    val edges = pairs.unionByName(pairs.select($"dst".as("src"), $"src".as("dst")))
    val viaCheckpointed = graft.operators.Graph
      .pageRankFixed(edges, "src", "dst", iters = 6)
      .as[(Long, Long)].collect().toMap
    val plain = graft.operators.Graph.pageRankFixed(
        Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L), (2L, 1L),
          (3L, 2L), (1L, 3L), (4L, 3L), (5L, 4L)).toDF("src", "dst"),
        "src", "dst", iters = 6)
      .as[(Long, Long)].collect().toMap
    assert(viaCheckpointed == plain,
      "checkpointed-input run must complete and match the plain run")
    // and the caller's checkpoint must still be readable afterwards
    assert(pairs.count() == 5L, "caller's checkpoint was freed by the loop")
  }

  test("labelPropagation: bridged triangles split into their cliques; " +
      "a 4-cycle settles without oscillation") {
    // two triangles joined by one bridge edge — each triangle is its own
    // community labeled by its minimum node
    val tri = Seq((1L, 2L), (2L, 3L), (1L, 3L), (4L, 5L), (5L, 6L), (4L, 6L),
      (3L, 4L)).toDF("s", "d")
    val got = graft.operators.Graph.labelPropagation(tri, "s", "d", rounds = 4)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 4L, 6L -> 4L),
      s"got $got")
    // bipartite 4-cycle: pure-neighbor synchronous LPA would two-color and
    // oscillate forever; the self-inclusive variant converges to one label
    val cyc = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L)).toDF("s", "d")
    val g2 = graft.operators.Graph.labelPropagation(cyc, "s", "d", rounds = 4)
      .as[(Long, Long)].collect().toMap
    assert(g2.values.toSet == Set(1L), s"4-cycle should unify on label 1, got $g2")
  }

  test("modularity: exact integer score on bridged triangles; " +
      "single-community and missing-node contracts") {
    val tri = Seq((1L, 2L), (2L, 3L), (1L, 3L), (4L, 5L), (5L, 6L), (4L, 6L),
      (3L, 4L)).toDF("s", "d")
    val lbls = graft.operators.Graph.labelPropagation(tri, "s", "d", rounds = 4)
    val got = graft.operators.Graph
      .modularity(tri, "s", "d", lbls, "node", "label")
      .orderBy($"label")
      .as[(Long, Long, Long, Long, Long, Long, Long)].collect().toSeq
    // m=7; each triangle community: m_in=3, d_tot=7 -> contrib 4*7*3-49=35;
    // Q = 70/196 -> 357142 ppm (floored)
    assert(got == Seq((1L, 3L, 3L, 7L, 35L, 7L, 357142L),
      (4L, 3L, 3L, 7L, 35L, 7L, 357142L)), s"got $got")
    // everything in ONE community: Q = (4*7*7 - 14*14)/(4*49) = 0 exactly
    val one = lbls.select($"node", lit(0L).as("label"))
    val q1 = graft.operators.Graph
      .modularity(tri, "s", "d", one, "node", "label")
      .select($"q_ppm").distinct().as[Long].collect().toSeq
    assert(q1 == Seq(0L), s"one-community modularity must be 0, got $q1")
    val err = intercept[IllegalArgumentException] {
      graft.operators.Graph.modularity(tri, "s", "d",
        lbls.filter($"node" =!= 3L), "node", "label").count()
    }
    assert(err.getMessage.contains("missing graph nodes"))
    val err2 = intercept[IllegalArgumentException] {
      graft.operators.Graph.modularity(tri, "s", "d",
        lbls.unionByName(Seq((3L, 99L)).toDF("node", "label")),
        "node", "label").count()
    }
    assert(err2.getMessage.contains("multiple labels"))
  }

  test("conductance: bridged triangles cut exactly the bridge; " +
      "whole-graph community scores 0") {
    val tri = Seq((1L, 2L), (2L, 3L), (1L, 3L), (4L, 5L), (5L, 6L), (4L, 6L),
      (3L, 4L)).toDF("s", "d")
    val lbls = graft.operators.Graph.labelPropagation(tri, "s", "d", rounds = 4)
    val got = graft.operators.Graph
      .conductance(tri, "s", "d", lbls, "node", "label")
      .orderBy($"label")
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    // each triangle: cut = 1 (the bridge), vol = 7, 2m = 14,
    // min(7, 14-7) = 7 -> 1e6 div 7 = 142857
    assert(got == Seq((1L, 3L, 1L, 7L, 142857L), (4L, 3L, 1L, 7L, 142857L)),
      s"got $got")
    val one = lbls.select($"node", lit(0L).as("label"))
    val q0 = graft.operators.Graph.conductance(tri, "s", "d", one, "node", "label")
      .select($"cut", $"cond_ppm").as[(Long, Long)].collect().toSeq
    assert(q0 == Seq((0L, 0L)), s"whole-graph community must be (cut=0, 0), got $q0")
  }

  test("refineCommunities: one local move repairs a misassigned bridge node; " +
      "an optimal assignment is a fixed point; empty input is loud") {
    val tri = Seq((1L, 2L), (2L, 3L), (1L, 3L), (4L, 5L), (5L, 6L), (4L, 6L),
      (3L, 4L)).toDF("s", "d")
    // node 4 misassigned to the left triangle's community: the exact delta
    // for moving 4 -> {5,6} is 4*7*(2-1) - 2*3*(4-10+3) = 46 > 0, every
    // other node's candidate deltas are <= 0, so ONE stage-0 move lands the
    // perfect split (Q 0.1224 -> 0.3571)
    val bad = Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 1L), (5L, 5L), (6L, 5L))
      .toDF("node", "label")
    val got = graft.operators.Graph
      .refineCommunities(tri, "s", "d", bad, "node", "label")
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 5L, 5L -> 5L, 6L -> 5L),
      s"got $got")
    // and the refined assignment scores strictly higher than the input
    def q(a: org.apache.spark.sql.DataFrame): Long = graft.operators.Graph
      .modularity(tri, "s", "d", a, "node", "label")
      .select($"q_ppm").distinct().as[Long].collect().head
    assert(q(got.toSeq.toDF("node", "label")) > q(bad))
    // a modularity-optimal assignment has no positive move: fixed point
    val opt = got.toSeq.toDF("node", "label")
    val again = graft.operators.Graph
      .refineCommunities(tri, "s", "d", opt, "node", "label", sweeps = 2)
      .as[(Long, Long)].collect().toMap
    assert(again == got, s"optimal assignment must be a fixed point, got $again")
    val err = intercept[IllegalArgumentException] {
      graft.operators.Graph.refineCommunities(
        Seq.empty[(Long, Long)].toDF("s", "d"), "s", "d", bad, "node", "label")
    }
    assert(err.getMessage.contains("no edges"))
  }

  // NOTE: uphill-on-this-fixture, not a universal law — same-parity moves
  // apply simultaneously, so an adversarial graph could jointly overshoot
  // (documented in the operator's Scaladoc); this pins the concrete
  // pipelines the queries ship.
  test("refineCommunities: LPA on the repeat-trade graph is improvable and " +
      "the sweep does not lower q_ppm on this fixture") {
    val pairs = Tables(spark, sfDir, "lineitem")
      .select(col("l_orderkey"), col("l_suppkey"))
      .join(Tables(spark, sfDir, "orders")
        .select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_custkey").as("cust"),
        (col("l_suppkey") + org.apache.spark.sql.functions.lit(10000000L)).as("supp"))
      .agg(org.apache.spark.sql.functions.count(lit(1)).as("w"))
      .filter(col("w") >= 2)
      .select(col("cust"), col("supp"))
    val lpa = graft.operators.Graph.labelPropagation(pairs, "cust", "supp", rounds = 4)
    val refined = graft.operators.Graph
      .refineCommunities(pairs, "cust", "supp", lpa, "node", "label")
    def q(a: org.apache.spark.sql.DataFrame): Long = graft.operators.Graph
      .modularity(pairs, "cust", "supp", a, "node", "label")
      .select($"q_ppm").distinct().as[Long].collect().head
    val (q0, q1) = (q(lpa), q(refined))
    assert(q1 >= q0, s"refinement lowered modularity: $q0 -> $q1")
    // and the weighted pipeline climbs Q_w the same way
    val wPairs = Tables(spark, sfDir, "lineitem")
      .select(col("l_orderkey"), col("l_suppkey"))
      .join(Tables(spark, sfDir, "orders")
        .select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_custkey").as("cust"),
        (col("l_suppkey") + org.apache.spark.sql.functions.lit(10000000L)).as("supp"))
      .agg(org.apache.spark.sql.functions.count(lit(1)).as("w"))
      .filter(col("w") >= 2)
    val wLpa = graft.operators.Graph.labelPropagationWeighted(
      wPairs, "cust", "supp", "w", rounds = 4)
    val wRef = graft.operators.Graph.refineCommunitiesWeighted(
      wPairs, "cust", "supp", "w", wLpa, "node", "label")
    def qw(a: org.apache.spark.sql.DataFrame): Long = graft.operators.Graph
      .modularityWeighted(wPairs, "cust", "supp", "w", a, "node", "label")
      .select($"q_ppm").distinct().as[Long].collect().head
    val (w0, w1) = (qw(wLpa), qw(wRef))
    assert(w1 >= w0, s"weighted refinement lowered Q_w: $w0 -> $w1")
  }

  test("conductanceWeighted: unit weights degenerate to conductance; a heavy " +
      "bridge leaks its full weight; whole-graph community scores 0") {
    val tri = Seq((1L, 2L), (2L, 3L), (1L, 3L), (4L, 5L), (5L, 6L), (4L, 6L),
      (3L, 4L)).toDF("s", "d")
    val lbls = graft.operators.Graph.labelPropagation(tri, "s", "d", rounds = 4)
    // unit weights on the deduped edge list: bit-for-bit the unweighted table
    val unit = graft.operators.Graph
      .conductanceWeighted(tri.withColumn("w", lit(1L)), "s", "d", "w",
        lbls, "node", "label")
      .orderBy($"label")
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    val plain = graft.operators.Graph
      .conductance(tri, "s", "d", lbls, "node", "label")
      .orderBy($"label")
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(unit == plain, s"unit weights must degenerate exactly: $unit vs $plain")
    // a weight-100 bridge: cut_w = 100, vol_w = 106, 2W = 212 ->
    // 100e6 div 106 = 943396 (the unweighted score would say 142857)
    val wtri = Seq((1L, 2L, 1L), (2L, 3L, 1L), (1L, 3L, 1L),
      (4L, 5L, 1L), (5L, 6L, 1L), (4L, 6L, 1L), (3L, 4L, 100L))
      .toDF("s", "d", "w")
    val got = graft.operators.Graph
      .conductanceWeighted(wtri, "s", "d", "w",
        Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 4L), (5L, 4L), (6L, 4L))
          .toDF("node", "label"), "node", "label")
      .orderBy($"label")
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq((1L, 3L, 100L, 106L, 943396L),
      (4L, 3L, 100L, 106L, 943396L)), s"got $got")
    // one community holding everything: no boundary, score 0
    val one = graft.operators.Graph
      .conductanceWeighted(wtri, "s", "d", "w",
        (1L to 6L).map((_, 0L)).toDF("node", "label"), "node", "label")
      .select($"cut_w", $"cond_ppm").as[(Long, Long)].collect().toSeq
    assert(one == Seq((0L, 0L)), s"whole-graph community must be (0, 0), got $one")
  }

  test("louvainCommunities: one contraction level provably beats node-level " +
      "moves alone; contraction is exact; no-inter-edge contraction stops") {
    // two heavy triangles {1,2,3} and {4,5,6} joined by a w=4 bridge, plus
    // a heavy background pair {7,8} inflating W: every SINGLE-node move is
    // negative (3->B and 4->A both score exactly -13208 — each node's
    // intra ties pin it), but merging the triangle communities WHOLE is
    // worth +6232, which only the contracted level can see (super-node B
    // moving into A's community from singletons: 4*534*4 - 2*34*34)
    val wEdges = Seq((1L, 2L, 5L), (1L, 3L, 5L), (2L, 3L, 5L),
      (4L, 5L, 5L), (4L, 6L, 5L), (5L, 6L, 5L),
      (3L, 4L, 4L), (7L, 8L, 500L)).toDF("s", "d", "w")
    val assign = Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 4L), (5L, 4L),
      (6L, 4L), (7L, 7L), (8L, 7L)).toDF("node", "label")
    // phase 1 alone is stuck: the assignment is its own fixed point
    val phase1 = graft.operators.Graph.refineCommunitiesWeighted(
      wEdges, "s", "d", "w", assign, "node", "label", sweeps = 2)
      .as[(Long, Long)].collect().toMap
    assert(phase1 == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 4L,
      6L -> 4L, 7L -> 7L, 8L -> 7L),
      s"node-level moves must all be negative here, got $phase1")
    // the contraction itself is exact: inter weight 4, both triangle
    // self-loops 15, the background self-loop 500
    val c = graft.operators.Graph.contractCommunities(
      wEdges, "s", "d", "w", assign, "node", "label")
      .as[(Long, Long, Long)].collect().toSet
    assert(c == Set((1L, 1L, 15L), (1L, 4L, 4L), (4L, 4L, 15L),
      (7L, 7L, 500L)), s"got $c")
    // level 2 merges the triangles and lifts Q_w 113769 -> 119232
    val merged = graft.operators.Graph.louvainCommunities(
      wEdges, "s", "d", "w", assign, "node", "label", levels = 2)
      .as[(Long, Long)].collect().toMap
    assert(merged == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L,
      6L -> 1L, 7L -> 7L, 8L -> 7L), s"got $merged")
    def qw(a: org.apache.spark.sql.DataFrame): Long = graft.operators.Graph
      .modularityWeighted(wEdges, "s", "d", "w", a, "node", "label")
      .select($"q_ppm").distinct().as[Long].collect().head
    assert(qw(assign) == 113769L && qw(merged.toSeq.toDF("node", "label")) == 119232L,
      "exact integer Q_w before/after the contraction-level merge")
    // a further level finds no inter-community edge structure worth
    // merging ({1..6} vs {7,8} are disconnected): fixed point
    val deeper = graft.operators.Graph.louvainCommunities(
      wEdges, "s", "d", "w", assign, "node", "label", levels = 4)
      .as[(Long, Long)].collect().toMap
    assert(deeper == merged, s"disconnected communities must stop the loop, got $deeper")
    // partition guard is loud at the contraction too
    val err = intercept[IllegalArgumentException] {
      graft.operators.Graph.contractCommunities(wEdges, "s", "d", "w",
        assign.filter($"node" =!= 5L), "node", "label")
    }
    assert(err.getMessage.contains("missing graph nodes"))
  }

  test("labelPropagationWeighted: unit weights degenerate to labelPropagation " +
      "bit-for-bit; a heavy edge outvotes edge count; loud on w <= 0") {
    // single-orientation random edge list: the degeneration law's domain
    val rnd = new scala.util.Random(11)
    val raw = (1 to 80).map(_ => (rnd.nextInt(15).toLong, rnd.nextInt(15).toLong))
      .filter(p => p._1 < p._2).distinct
    val unw = graft.operators.Graph.labelPropagation(
        raw.toDF("s", "d"), "s", "d", rounds = 4)
      .as[(Long, Long)].collect().toMap
    val unit = graft.operators.Graph.labelPropagationWeighted(
        raw.map(p => (p._1, p._2, 1L)).toDF("s", "d", "w"), "s", "d", "w",
        rounds = 4)
      .as[(Long, Long)].collect().toMap
    assert(unit == unw, "unit weights must reproduce the unweighted operator")
    // node 30 has TWO unit edges into the {1,2,3} clique but ONE weight-10
    // edge to node 40: count votes {1,2}, weight votes 40
    val wd = Seq((1L, 2L, 1L), (2L, 3L, 1L), (1L, 3L, 1L),
      (30L, 1L, 1L), (30L, 2L, 1L), (30L, 40L, 10L)).toDF("s", "d", "w")
    val got = graft.operators.Graph.labelPropagationWeighted(
        wd, "s", "d", "w", rounds = 1)
      .as[(Long, Long)].collect().toMap
    assert(got(30L) == 40L, s"weight must outvote count, got ${got(30L)}")
    val unwGot = graft.operators.Graph.labelPropagation(
        wd, "s", "d", rounds = 1).as[(Long, Long)].collect().toMap
    assert(unwGot(30L) == 1L, s"count vote sanity check, got ${unwGot(30L)}")
    val err = intercept[IllegalArgumentException] {
      graft.operators.Graph.labelPropagationWeighted(
        Seq((1L, 2L, 0L)).toDF("s", "d", "w"), "s", "d", "w")
    }
    assert(err.getMessage.contains("positive"))
  }

  test("modularityWeighted: unit weights reproduce modularity bit-for-bit; " +
      "a heavy bridge flips the split's sign; loud on w <= 0") {
    val tri = Seq((1L, 2L), (2L, 3L), (1L, 3L), (4L, 5L), (5L, 6L), (4L, 6L),
      (3L, 4L)).toDF("s", "d")
    val lbls = graft.operators.Graph.labelPropagation(tri, "s", "d", rounds = 4)
    val unw = graft.operators.Graph
      .modularity(tri, "s", "d", lbls, "node", "label")
      .select($"label", $"n_nodes", $"m_in", $"d_tot", $"contrib_num", $"m", $"q_ppm")
      .orderBy($"label").as[(Long, Long, Long, Long, Long, Long, Long)]
      .collect().toSeq
    val w1 = tri.withColumn("w", lit(1L))
    val wgt = graft.operators.Graph
      .modularityWeighted(w1, "s", "d", "w", lbls, "node", "label")
      .select($"label", $"n_nodes", $"w_in", $"s_tot", $"contrib_num", $"w", $"q_ppm")
      .orderBy($"label").as[(Long, Long, Long, Long, Long, Long, Long)]
      .collect().toSeq
    assert(wgt == unw, s"unit weights must reproduce the unweighted table:\n$wgt\nvs\n$unw")
    // weight-100 bridge: the triangle split keeps only 6/106 of the mass
    // internal, so weighted Q goes NEGATIVE while unweighted Q stays +357142
    val heavy = tri.withColumn("w",
      when($"s" === 3L && $"d" === 4L, lit(100L)).otherwise(lit(1L)))
    val qw = graft.operators.Graph
      .modularityWeighted(heavy, "s", "d", "w", lbls, "node", "label")
      .select($"q_ppm").distinct().as[Long].collect().toSeq
    assert(qw.length == 1 && qw.head < 0L,
      s"a dominant cut edge must score the split negative, got $qw")
    val err = intercept[IllegalArgumentException] {
      graft.operators.Graph.modularityWeighted(
        tri.withColumn("w", lit(0L)), "s", "d", "w", lbls, "node", "label")
    }
    assert(err.getMessage.contains("positive"))
  }

  test("refineCommunitiesWeighted: unit weights degenerate to the unweighted " +
      "sweep; a heavy edge consolidates its endpoints; Q_w never drops") {
    val tri = Seq((1L, 2L), (2L, 3L), (1L, 3L), (4L, 5L), (5L, 6L), (4L, 6L),
      (3L, 4L)).toDF("s", "d")
    val bad = Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 1L), (5L, 5L), (6L, 5L))
      .toDF("node", "label")
    val unit = graft.operators.Graph
      .refineCommunitiesWeighted(tri.withColumn("w", lit(1L)), "s", "d", "w",
        bad, "node", "label")
      .as[(Long, Long)].collect().toMap
    val unw = graft.operators.Graph
      .refineCommunities(tri, "s", "d", bad, "node", "label")
      .as[(Long, Long)].collect().toMap
    assert(unit == unw, "unit weights must reproduce the unweighted sweep")
    // node 7 hangs off A by two unit edges but is tied to node 6 by w=10:
    // the unweighted sweep would leave 6 in B (one link vs two), the
    // weighted delta moves the heavy pair together
    val wd = Seq((1L, 2L, 1L), (2L, 3L, 1L), (1L, 3L, 1L),
      (4L, 5L, 1L), (5L, 6L, 1L), (4L, 6L, 1L), (3L, 4L, 1L),
      (7L, 1L, 1L), (7L, 2L, 1L), (7L, 6L, 10L)).toDF("s", "d", "w")
    val assign = Seq((1L, 1L), (2L, 1L), (3L, 1L), (7L, 1L),
      (4L, 4L), (5L, 4L), (6L, 4L)).toDF("node", "label")
    val got = graft.operators.Graph
      .refineCommunitiesWeighted(wd, "s", "d", "w", assign, "node", "label")
      .as[(Long, Long)].collect().toMap
    assert(got(6L) == got(7L), s"the w=10 pair must land together, got $got")
    def qw(a: org.apache.spark.sql.DataFrame): Long = graft.operators.Graph
      .modularityWeighted(wd, "s", "d", "w", a, "node", "label")
      .select($"q_ppm").distinct().as[Long].collect().head
    assert(qw(got.toSeq.toDF("node", "label")) >= qw(assign),
      "the weighted sweep must not lower Q_w on this fixture")
  }

  test("jobs per call: the graph wing's PageRank and community operators, " +
      "with and without dangling nodes") {
    // two bridged triangles; every node has an out-edge unless `dangling`
    // adds 7 and 8, which have none
    val base = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L),
      (5L, 6L), (6L, 4L), (5L, 1L))
    def graph(dangling: Boolean) = {
      val pairs = if (dangling) base ++ Seq((6L, 7L), (2L, 8L)) else base
      (pairs.toDF("s", "d"),
        pairs.map(p => (p._1, p._2, (p._1 + p._2) % 3 + 1)).toDF("s", "d", "w"))
    }
    def jobs(f: => org.apache.spark.sql.DataFrame): Int = jobsDuring(f.collect())._2
    // dangling mass is PageRank's concern: its loops run on both graphs
    def ranks(dangling: Boolean): Seq[Int] = {
      val (e, ew) = graph(dangling)
      Seq(jobs(Graph.pageRankFixed(e, "s", "d", iters = 2)),
        jobs(Graph.pageRankFixedConverged(e, "s", "d", iters = 2, epsilon = 0L)._1),
        jobs(Graph.personalizedPageRank(e, "s", "d", Seq(1L, 4L).toDF("node"),
          "node", iters = 2)),
        jobs(Graph.weightedPageRank(ew, "s", "d", "w", iters = 2)))
    }
    val (e, ew) = graph(dangling = true)
    val assign = (1L to 8L).map(n => (n, if (n <= 3L) 1L else 4L)).toDF("node", "label")
    val communities = Seq(
      jobs(Graph.labelPropagation(e, "s", "d", rounds = 1)),
      jobs(Graph.labelPropagationWeighted(ew, "s", "d", "w", rounds = 1)),
      jobs(Graph.refineCommunities(e, "s", "d", assign, "node", "label")),
      jobs(Graph.refineCommunitiesWeighted(ew, "s", "d", "w", assign, "node", "label")),
      jobs(Graph.modularity(e, "s", "d", assign, "node", "label")),
      jobs(Graph.modularityWeighted(ew, "s", "d", "w", assign, "node", "label")),
      jobs(Graph.conductance(e, "s", "d", assign, "node", "label")),
      jobs(Graph.conductanceWeighted(ew, "s", "d", "w", assign, "node", "label")))
    val got = (ranks(dangling = false), ranks(dangling = true), communities)
    // each unweighted community operator runs its weighted twin's body,
    // so each pair reads alike
    val expected = (Seq(23, 29, 31, 23), Seq(29, 35, 38, 29),
      Seq(10, 10, 44, 44, 28, 28, 19, 19))
    assert(got == expected, s"Spark jobs per call changed: $got")
  }

  test("hits: edge-less input fails loudly, not silently empty") {
    val err = intercept[IllegalArgumentException] {
      graft.operators.Graph.hits(
        Seq.empty[(Long, Long)].toDF("s", "d"), "s", "d")
    }
    assert(err.getMessage.contains("no edges"))
  }
}
