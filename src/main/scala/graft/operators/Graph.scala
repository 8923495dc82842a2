package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Iterative graph analytics over edge DataFrames.
  *
  * `pageRankFixed` is PageRank in FIXED-POINT integer arithmetic: ranks
  * are integer micro-units of `scale`, the teleport base and every edge
  * contribution use integer division, and per-node totals are integer
  * sums — so the result is EXACT, reproducible bit-for-bit in any engine
  * (a float PageRank's per-node sums depend on addition order, which no
  * two engines share). This is the same determinism trade the repo's
  * md5-bucket samplers make.
  *
  * DANGLING nodes (no out-edge — the web/citation-graph norm) are handled
  * the standard way: their rank mass redistributes uniformly to every
  * node each iteration. The redistribution stays bit-exact — each
  * dangling node's contribution is the floor division `(85 * r) div
  * (100 * n)` and the total is one exact integer sum, collected as a
  * single scalar aggregate per iteration and added back as a literal.
  * Nodes with no IN-edge need no special case: each iteration rebuilds
  * the rank vector FROM THE NODE LIST (left join against the aggregated
  * contributions), so an uncited node simply keeps base + dangling share
  * instead of silently dropping out of the groupBy(dst) result.
  *
  * Scale shape: each iteration is one join of the edge list with the
  * current rank vector plus one partial-aggregated sum by destination —
  * the standard distributed PageRank step (shuffle ∝ edges). The dangling
  * probe is a node-set anti-join computed ONCE; per iteration it costs
  * one scalar aggregate over the (semi-joined) rank vector and nothing at
  * all when the graph has no dangling nodes. Lineage is cut with
  * `localCheckpoint` every round, and the previous round's vector is
  * freed ([[GenStore.freeLocal]]), so ten iterations don't compound into
  * a thousand-stage plan. At cluster scale the edge list is
  * pre-partitioned by `src` once and every iteration reuses that
  * exchange. Plain, personalized and weighted PageRank run one loop.
  */
object Graph {

  /** The per-round vector side of an edge join (rank / label / frontier
    * vectors): broadcast it when its row count — counted ONCE by the
    * caller, node sets and frontiers being round-countable — is at most
    * 4M rows (a few hundred MB built — the broadcast comfort bound).
    * Broadcasting removes the vector's per-round exchange AND the
    * per-round sort of the cached edge side that a sort-merge join
    * pays; vectors above the gate keep the planner's shuffle join, so
    * cluster-scale graphs are unchanged.
    */
  private def vecSide(vec: DataFrame, nRows: Long): DataFrame =
    if (nRows <= 4000000L) broadcast(vec) else vec

  /** A weighted edge list as `(u, v, w)` longs, self-loops dropped unless
    * `dropLoops` is false. Fails loudly with `err` on a null weight or one
    * below `minW` among the kept rows — a null vote, length or share
    * would otherwise vanish silently from every sum.
    */
  private def weightedEdges(edges: DataFrame, srcCol: String, dstCol: String,
                            wCol: String, err: String, minW: Long = 1L,
                            dropLoops: Boolean = true): DataFrame = {
    val a = edges
      .select(col(srcCol).cast("long").as("u"), col(dstCol).cast("long").as("v"),
        col(wCol).cast("long").as("w"))
    val kept = if (dropLoops) a.filter(col("u") =!= col("v")) else a
    require(kept.filter(col("w") < minW || col("w").isNull).isEmpty, err)
    kept
  }

  /** Fails loudly unless `lbl` gives every node of `nodes` exactly one
    * label. BOTH guards in ONE aggregate pass (one job, not two): a
    * graph node with no label would understate its community's degree
    * sums, and a node carrying TWO labels would double-count them. Full
    * outer join of per-node label counts vs graph nodes: nl IS NULL on a
    * graph-only row = missing; nl > 1 = not a partition; a label-only
    * row is a node outside the graph, which each caller documents.
    */
  private def requirePartition(op: String, lbl: DataFrame, nodes: DataFrame,
                               why: String = ""): Unit = {
    val chk = lbl.groupBy(col("node")).agg(count(lit(1)).as("nl"))
      .join(nodes.withColumn("__g", lit(1)), Seq("node"), "full")
      .agg(
        sum(when(col("nl").isNull, 1L).otherwise(0L)).as("missing"),
        sum(when(col("nl") > 1L, 1L).otherwise(0L)).as("multi"))
      .collect()(0)
    require(chk.getLong(0) == 0L, s"$op: assignment is missing graph nodes$why")
    require(chk.getLong(1) == 0L,
      s"$op: a node has multiple labels — assignment must be a partition")
  }

  /** One canonical `(u, v, w)` row (`u < v`) per undirected edge of a
    * weighted `(u, v, w)` list, parallel rows of either orientation
    * summed.
    */
  private def canonical(a: DataFrame): DataFrame =
    a.select(least(col("u"), col("v")).as("u"),
        greatest(col("u"), col("v")).as("v"), col("w"))
      .groupBy(col("u"), col("v")).agg(sum(col("w")).as("w"))

  /** The unweighted scores' edge list: one canonical `(u, v)` row
    * (`u < v`) per distinct non-loop edge, at unit weight.
    */
  private def unitCanonical(edges: DataFrame, srcCol: String,
                            dstCol: String): DataFrame =
    edges
      .select(col(srcCol).cast("long").as("u"), col(dstCol).cast("long").as("v"))
      .filter(col("u") =!= col("v"))
      .select(least(col("u"), col("v")).as("u"),
        greatest(col("u"), col("v")).as("v"))
      .distinct().withColumn("w", lit(1L))

  /** Exact triangle counts and degrees per node of an UNDIRECTED graph
    * (direction and duplicates in the input edge list are ignored;
    * self-loops dropped). Returns `(node, deg, tri)` — one row per node
    * that has at least one edge; the local clustering coefficient is
    * `2*tri / (deg*(deg-1))`, left to the caller so it can pick its own
    * exact-integer encoding.
    *
    * Scale shape — the degree-ordered orientation that makes triangle
    * enumeration survive skew: each undirected edge is oriented from its
    * lower endpoint to its higher endpoint in the total order `(deg,
    * node)`, which bounds every node's OUT-degree by O(sqrt(m)) even
    * when a celebrity node has millions of neighbors (a wedge self-join
    * on the raw adjacency would square that hot node). Each triangle
    * then has exactly one "apex" (its minimum-order vertex) and is
    * counted once: wedges `(v, w)` from a shared apex, closed by an
    * inner join against the oriented edge `(v, w)` — oriented edges are
    * distinct, so the join IS the existence test. Three shuffles total
    * (orientation join by endpoint, wedge self-join by apex, closing
    * join by edge pair), all on keys AQE can split.
    */
  def triangleCounts(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val und = edges
      .select(least(col(srcCol), col(dstCol)).cast("long").as("u"),
        greatest(col(srcCol), col(dstCol)).cast("long").as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
    val deg = und.select(col("u").as("n"))
      .unionByName(und.select(col("v").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("d"))
    // orient by (deg, id): lo -> hi, carrying hi's degree for the wedge
    // ordering below; ties in deg break on the id, which is unique
    val o = und
      .join(deg.select(col("n").as("u"), col("d").as("du")), "u")
      .join(deg.select(col("n").as("v"), col("d").as("dv")), "v")
      .select(
        when(struct(col("du"), col("u")) < struct(col("dv"), col("v")), col("u"))
          .otherwise(col("v")).as("lo"),
        when(struct(col("du"), col("u")) < struct(col("dv"), col("v")), col("v"))
          .otherwise(col("u")).as("hi"),
        when(struct(col("du"), col("u")) < struct(col("dv"), col("v")), col("dv"))
          .otherwise(col("du")).as("dhi"))
      // the wedge join and the closing join each read this once; without
      // the materialization the orientation joins would replay 3x
      .localCheckpoint(true)
    val wedges = o.select(col("lo"), col("hi").as("b"), col("dhi").as("db"))
      .join(o.select(col("lo"), col("hi").as("c"), col("dhi").as("dc")), "lo")
      .filter(struct(col("db"), col("b")) < struct(col("dc"), col("c")))
      .select(col("lo").as("a"), col("b"), col("c"))
    val tris = wedges
      .join(o.select(col("hi").as("c"), col("lo").as("b")), Seq("b", "c"))
    val triPerNode = tris.select(col("a").as("n"))
      .unionByName(tris.select(col("b").as("n")))
      .unionByName(tris.select(col("c").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("tri"))
    deg.join(triPerNode, Seq("n"), "left")
      .select(col("n").as("node"), col("d").as("deg"),
        coalesce(col("tri"), lit(0L)).as("tri"))
  }

  /** Fixed-iteration entry point; `epsilon >= 0` adds the convergence
    * stop (see [[pageRankFixedConverged]] — the default -1 disables it,
    * keeping existing callers bit-identical).
    */
  def pageRankFixed(edges: DataFrame, srcCol: String, dstCol: String,
                    iters: Int = 10, scale: Long = 1000000000L,
                    epsilon: Long = -1L): DataFrame =
    pageRankFixedConverged(edges, srcCol, dstCol, iters, scale, epsilon)._1

  /** PageRank with an optional CONVERGENCE stop: when `epsilon >= 0`,
    * iteration ends as soon as the max per-node |Δr| (integer rank
    * units) is ≤ epsilon — one extra scalar aggregate per iteration over
    * the already-checkpointed rank vectors, the same decomposition as
    * the dangling share — so a 100×-scale graph doesn't pay for
    * iterations past convergence just because the caller guessed `iters`
    * high. `epsilon = 0` stops at the exact integer fixpoint (all later
    * iterations are bit-identical by induction, so the early answer IS
    * the fixed-run answer); positive epsilon trades iterations for a
    * bounded per-node wobble. Returns (ranks, iterations actually run);
    * `iters` remains the hard cap.
    */
  def pageRankFixedConverged(edges: DataFrame, srcCol: String, dstCol: String,
                             iters: Int = 10, scale: Long = 1000000000L,
                             epsilon: Long = -1L): (DataFrame, Int) = {
    require(iters >= 1, "iters must be positive")
    val e = edges
      .select(col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
      .distinct()
    rankLoop(e, count(lit(1)).as("od"), "(85 * r) div (100 * od)", None,
      iters, scale, epsilon)
  }

  /** PERSONALIZED PageRank — teleport restricted to a seed set (the
    * similar-entities / recommendation query: rank every node by its
    * proximity to the seeds). Identical exact-integer machinery to
    * [[pageRankFixedConverged]] — micro-rank units, floored divisions,
    * bit-exact in any engine — with the teleport redistribution paid ONLY
    * to seeds: seeds start at scale/|S| (everyone else 0), each iteration
    * gives every seed base = (15·scale/100)/|S| plus the usual damped
    * edge contributions, and dangling mass returns to the seeds
    * ((85·r) div (100·|S|) each, one scalar aggregate per round — the
    * q133 decomposition with |S| in the denominator instead of n).
    * Seeds outside the node set are ignored; at least one live seed is
    * required. Scale shape is unchanged: one edge-join + dst-aggregate
    * per iteration, lineage cut by localCheckpoint.
    */
  def personalizedPageRank(edges: DataFrame, srcCol: String, dstCol: String,
                           seeds: DataFrame, seedCol: String,
                           iters: Int = 10,
                           scale: Long = 1000000000L): DataFrame = {
    require(iters >= 1, "iters must be positive")
    val e = edges
      .select(col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
      .distinct()
    rankLoop(e, count(lit(1)).as("od"), "(85 * r) div (100 * od)",
      Some(seeds.select(col(seedCol).cast("long").as("node")).distinct()),
      iters, scale, -1L)._1
  }

  /** The one PageRank loop behind [[pageRankFixedConverged]],
    * [[personalizedPageRank]] and [[weightedPageRank]]. `edges` is the
    * caller's deduplicated `(src, dst[, w])` list, `outDeg` the per-src
    * aggregate folded into it once and `contrib` the per-edge
    * contribution over `r` and that aggregate. The teleport — start
    * mass, base term, dangling share — goes to every node over n, or
    * with `seeds` (distinct `node` ids) to the live seeds only over |S|.
    * `epsilon >= 0` adds the convergence stop. Returns (ranks,
    * iterations run).
    */
  private def rankLoop(edges: DataFrame, outDeg: Column, contrib: String,
                       seeds: Option[DataFrame], iters: Int, scale: Long,
                       epsilon: Long): (DataFrame, Int) = {
    val cached = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def keep(df: DataFrame): DataFrame = { cached += df.persist(); df }
    try {
      // pre-partition by src ONCE: every iteration's contribution join
      // reads the cached src-partitioned edges without re-exchanging the
      // (graph-sized) edge side; only the node-sized rank vector shuffles
      // per round
      val e = keep(edges.repartition(col("src")))
      val nodes = keep(e.select(col("src").as("node"))
        .union(e.select(col("dst").as("node"))).distinct())
      val seed = seeds.map(s => keep(s.join(nodes, Seq("node"), "left_semi")))
      val nSeeds = seed.map(_.count())
      require(!nSeeds.contains(0L), "personalizedPageRank: no seed is a graph node")
      // node-sized, computed once: the set whose mass must be
      // redistributed, found in ONE pass over the node set
      val dangling = keep(nodes
        .join(e.select(col("src").as("node")).distinct(), Seq("node"), "left_anti"))
      val nDangling = dangling.count()
      // the node count also gates the per-round vector broadcast (vecSide)
      val n = nodes.count()
      // the teleport set and its denominator. With seeds, a node-sized
      // (node, __is) vector computed ONCE: the seed-flag join is
      // loop-invariant, so hoisting it saves one node-sized join per round
      val tele = seed.fold(nodes)(s => keep(nodes
        .join(s.withColumn("__is", lit(1)), Seq("node"), "left")
        .select(col("node"), coalesce(col("__is"), lit(0)).as("__is"))))
      val tN = nSeeds.getOrElse(n)
      def gate(c: Column): Column =
        if (seed.isEmpty) c else when(col("__is") === 1, c).otherwise(lit(0L))
      val base = ((15L * scale) / 100L) / tN
      // the out-degree is a property of the STATIC edge list, so it is
      // folded into the persisted (src-partitioned) edges ONCE — (src,
      // dst, od) — instead of re-joined every round: the per-iteration
      // cost is exactly one edge×rank join + one dst aggregate, nothing
      // edge-sized beyond that
      val ed = keep(e.join(e.groupBy(col("src")).agg(outDeg), "src"))
      // materialize ed and drop the raw edge cache NOW: the loop reads
      // only ed and the node-sized caches, so holding both edge-sized
      // caches would double the storage footprint for the whole iteration
      ed.count()
      e.unpersist(false)
      var rank = tele.select(col("node"), gate(lit(scale / tN)).as("r"))
      var i = 1
      var ranIters = 0
      var converged = false
      while (i <= iters && !converged) {
        val contribs = ed
          .join(vecSide(rank.withColumnRenamed("node", "src"), n), "src")
          .select(col("dst").as("node"), expr(contrib).as("c"))
        // the per-node teleport term rides INTO the contribution aggregate
        // as one teleport-set row per node (guide §2.4: the former
        // node-list LEFT JOIN above the aggregate cost a second exchange +
        // join stage per round; integer addition commutes, so summing the
        // base row with the edge contributions is the identical r)
        val teleport =
          if (nDangling == 0) tele.select(col("node"), gate(lit(base)).as("c"))
          else {
            // exact integer dangling share per round: sum of the per-
            // dangling-node floored share — the same decomposition the
            // oracle's target-map replay sums row-wise, so totals agree
            // bit-for-bit. The denominator is precomputed as a Long IN
            // SCALA: an SQL-side `100 * $n` would parse n as an Int
            // literal and overflow Int arithmetic beyond ~21.4M nodes.
            // FOLDED into the round's checkpoint job as a broadcast 1-row
            // aggregate instead of a separate `.head()` action — one
            // action per iteration instead of two (the broadcast subquery
            // still runs as a driver-coordinated exchange inside that
            // action, but the extra collect-plus-resubmit round-trip is
            // gone), which on a 10-round run is the dominant fixed cost at
            // small SF and pure scheduler overhead at cluster scale.
            // dsh keeps `rank` as a lazy reader inside `next`; it MUST be
            // fully consumed by the eager localCheckpoint(true) below
            // BEFORE GenStore.freeLocal(rank) runs (the no-live-lazy-
            // readers contract) — a lazy checkpoint here would read freed
            // blocks.
            val dsh = rank.join(dangling, Seq("node"), "left_semi")
              .agg(coalesce(sum(expr(s"(85 * r) div ${100L * tN}")), lit(0L))
                .as("__dsh"))
            tele.crossJoin(broadcast(dsh))
              .select(col("node"), gate(lit(base) + col("__dsh")).as("c"))
          }
        val next = contribs.unionByName(teleport)
          .groupBy(col("node")).agg(sum(col("c")).as("r"))
        // one lineage cut per round. Fusing rounds into one action
        // measured slower (10-round PPR at sf0.1: 8.2-9.5 s at 4 rounds
        // per cut vs 5.2-6.6 s at 1 — AQE replans the deepened plan stage
        // by stage), and a vector with a second reader (the dangling
        // share, the convergence probe) would replay the fused rounds per
        // reader.
        val materialized = next.localCheckpoint(true)
        if (epsilon >= 0) {
          // one exact integer scalar per round, over two checkpointed
          // node-sized vectors — the dangling-share cost class
          val maxDelta = materialized
            .join(rank.withColumnRenamed("r", "__pr"), "node")
            .agg(coalesce(max(abs(col("r") - col("__pr"))), lit(0L)))
            .head().getLong(0)
          converged = maxDelta <= epsilon
        }
        // the previous round's checkpoint; a no-op on the lazy init
        GenStore.freeLocal(rank)
        rank = materialized
        ranIters = i
        i += 1
      }
      (rank, ranIters)
    } finally cached.reverseIterator.foreach(_.unpersist(false))
  }

  /** Community detection by SYNCHRONOUS label propagation (LPA) over an
    * undirected graph — the community-assignment member of the graph
    * wing (ranking: PageRank/HITS; traversal: BFS/SSSP; structure:
    * triangles/k-core; this: who clusters with whom).
    *
    * Determinism contract: labels start as node ids; each round EVERY
    * node simultaneously adopts the most frequent label among its
    * neighbors plus its own current label (the self-inclusive variant —
    * pure-neighbor synchronous LPA oscillates two-colorings on
    * bipartite graphs), ties broken by the SMALLEST label. All counts
    * are integers and the tie rule is total, so a fixed `rounds` run is
    * bit-exact in any engine — asynchronous/randomized LPA (the usual
    * formulation) is irreproducible by design and can't be
    * oracle-verified. Synchronous LPA need not converge, so `rounds` is
    * part of the operator's definition (the oracle unrolls exactly that
    * many rounds), not a convergence cap.
    *
    * Runs [[labelPropagationWeighted]]'s body at unit weight on the
    * deduplicated edge list.
    */
  def labelPropagation(edges: DataFrame, srcCol: String, dstCol: String,
                       rounds: Int = 4): DataFrame = {
    require(rounds >= 1, s"rounds must be positive, got $rounds")
    val a = edges
      .select(col(srcCol).cast("long").as("u"), col(dstCol).cast("long").as("v"))
      .filter(col("u") =!= col("v"))
    val und = a.unionByName(a.select(col("v").as("u"), col("u").as("v")))
      .distinct().withColumn("w", lit(1L))
    propagateLabels(und, rounds, "labelPropagation")
  }

  /** WEIGHTED synchronous label propagation — [[labelPropagation]] where
    * each neighbor's vote carries the edge's integer weight (trade
    * counts, interaction strength) instead of 1: per round every node
    * adopts the label with the largest WEIGHT SUM over its incident
    * edges plus a weight-1 self-vote, ties to the smallest label. All
    * sums are integers, so a fixed `rounds` run is bit-exact in any
    * engine, same as the unweighted contract.
    *
    * Edge semantics (the weightedPageRank conventions): weights must be
    * positive integers (loud otherwise — a zero/negative vote has no
    * meaning here and silent drops would skew ties); input rows are
    * undirected weighted edges and PARALLEL rows sum, including a row
    * per orientation — (u,v,w) plus (v,u,w) is one undirected edge of
    * weight 2w.
    *
    * On an edge list where each undirected edge appears ONCE, unit
    * weights reproduce [[labelPropagation]], which is this body at unit
    * weight.
    */
  def labelPropagationWeighted(edges: DataFrame, srcCol: String,
                               dstCol: String, weightCol: String,
                               rounds: Int = 4): DataFrame = {
    require(rounds >= 1, s"rounds must be positive, got $rounds")
    val a = weightedEdges(edges, srcCol, dstCol, weightCol,
      "labelPropagationWeighted: weights must be positive integers")
    val und = a.unionByName(a.select(col("v").as("u"), col("u").as("v"), col("w")))
      .groupBy(col("u"), col("v")).agg(sum(col("w")).as("w"))
    propagateLabels(und, rounds, "labelPropagationWeighted")
  }

  /** The label-propagation rounds behind both LPA operators, over the
    * symmetrized `(u, v, w)` adjacency.
    *
    * Scale shape: per round, one edge-join against the node-sized label
    * vector (edges pre-partitioned by the join key ONCE, reused every
    * round), one (node, label) weight-sum aggregate, one per-node
    * min-struct fold — shuffle ∝ edges, the q128 cost class. Lineage is
    * cut per round (localCheckpoint) with dead-checkpoint reclamation.
    */
  private def propagateLabels(adj: DataFrame, rounds: Int, op: String): DataFrame = {
    // pre-partition by v once: every round's label join keys on v and
    // reuses this exchange; only the node-sized label vector shuffles
    val und = adj.repartition(col("v")).persist()
    try {
      // loud, like hits: an edge-less graph has nothing to cluster, and a
      // silently empty assignment would score as a perfect partition
      require(!und.isEmpty, s"$op: no edges — nothing to cluster")
      var labels = und.select(col("v").as("node")).distinct()
        .withColumn("label", col("node"))
        .localCheckpoint(true)
      // NO vecSide broadcast here: und is persisted PRE-PARTITIONED on
      // the join key, so the shuffle join only exchanges the node-sized
      // label vector — a broadcast saves nothing and costs a per-round
      // broadcast job + driver collect (interleaved A/B on the q274
      // graph: 4.5-4.9 s broadcast vs 3.0-4.0 s shuffle, 4/4 reps)
      var i = 1
      while (i <= rounds) {
        val nbr = und
          .join(labels.withColumnRenamed("node", "v"), "v")
          .select(col("u").as("node"), col("label"), col("w"))
        val counts = nbr
          .unionByName(labels.withColumn("w", lit(1L)))
          .groupBy(col("node"), col("label"))
          .agg(sum(col("w")).as("c"))
        // argmax by weight, smallest label on ties: min of (-c, label)
        val next = counts
          .groupBy(col("node"))
          .agg(min(struct((-col("c")).as("nc"), col("label").as("l")))
            .as("m"))
          .select(col("node"), col("m.l").as("label"))
          .localCheckpoint(true)
        GenStore.freeLocal(labels)
        labels = next
        i += 1
      }
      labels
    } finally und.unpersist(false)
  }

  /** MODULARITY-GUIDED local-move refinement of a community assignment —
    * the deterministic relational analog of the Louvain first phase
    * (Blondel et al. 2008): each node evaluates moving into one of its
    * NEIGHBOR communities and accepts iff the EXACT integer modularity
    * delta is positive, so a [[labelPropagation]] assignment (which
    * optimizes nothing) is pushed uphill on the same Q that
    * [[modularity]] scores.
    *
    * The delta for moving node i from community a to community b, over
    * modularity's common denominator 4m²:
    *
    *   Δnum = 4·m·(k_ib − k_ia) − 2·k_i·(d_b − d_a + k_i)
    *
    * with k_ic = edges from i into community c, k_i = i's degree, d_c =
    * community degree sums WITH i still seated in a (so d_a includes
    * k_i, d_b does not). Per node the accepted move maximizes Δnum,
    * ties to the SMALLEST target label; Δnum ≤ 0 keeps the seat. Same
    * overflow budget as [[modularity]] (m < ~10⁶·√2.3).
    *
    * Determinism: moves apply in two STAGES per sweep — even node ids
    * move first (all against the pre-sweep assignment), then odd ids
    * against the updated one. A single all-at-once synchronous step can
    * oscillate pairs of adjacent nodes through each other's communities
    * (the LPA bipartite pathology in move form); the parity split is
    * the cheapest deterministic stagger, and both stages are pure
    * integer relational passes an oracle replays exactly. NOTE the
    * stagger is a determinism device, not a monotonicity proof: moves
    * WITHIN one stage apply simultaneously against the pre-stage
    * assignment, so two same-parity movers whose deltas each assumed
    * the other stays put (adjacent movers, or two movers into the same
    * target community, whose joint move double-counts the target's
    * degree growth) can jointly land below the sum of their individual
    * deltas — in adversarial fixtures a stage can lower Q. Exact
    * monotonicity would need sequential (one-node-at-a-time)
    * application, which is not a distributed shape; in practice each
    * accepted move points uphill and sweeps converge (the GraphSpec
    * fixtures pin concrete uphill cases, not a universal guarantee).
    *
    * Bounded by design: targets are NEIGHBOR communities only. The
    * Louvain isolate-into-a-fresh-community move is deliberately
    * excluded — labels here are opaque ids from the input assignment
    * (LPA labels are node ids of arbitrary members), so a "fresh" label
    * could collide with a live community's. A node whose only
    * improving move is isolation keeps its seat.
    *
    * Same partition contract as [[modularity]] (graph nodes must all be
    * labeled, one label each — one folded guard pass). Assignment rows
    * for nodes OUTSIDE the graph pass through unchanged: an edge-less
    * node has no neighbor communities, so it can never move, and its
    * seat costs Q nothing either way (the [[modularity]] asymmetry in
    * the other direction — that operator drops such rows from its
    * n_nodes count, this one returns them untouched).
    *
    * Runs [[refineCommunitiesWeighted]]'s sweeps at unit weight on the
    * deduplicated edge list.
    */
  def refineCommunities(edges: DataFrame, srcCol: String, dstCol: String,
                        assign: DataFrame, nodeCol: String,
                        labelCol: String, sweeps: Int = 1): DataFrame = {
    require(sweeps >= 1, s"sweeps must be positive, got $sweeps")
    val a = edges
      .select(col(srcCol).cast("long").as("u"), col(dstCol).cast("long").as("v"))
      .filter(col("u") =!= col("v"))
    val adj = a.unionByName(a.select(col("v").as("u"), col("u").as("v")))
      .distinct().withColumn("w", lit(1L))
    refineOn(adj, assign, nodeCol, labelCol, sweeps, "refineCommunities")
  }

  /** WEIGHTED local-move refinement — [[refineCommunities]] climbing
    * [[modularityWeighted]]'s Q_w instead of the unweighted Q: the exact
    * integer delta for moving node i from community a to b becomes
    *
    *   Δnum = 4·W·(w_ib − w_ia) − 2·s_i·(s_b − s_a + s_i)
    *
    * with w_ic the WEIGHT from i into community c, s_i its strength and
    * s_c community strength sums (a seating i, b not). Everything else —
    * parity stages, positive-only acceptance, smallest-label ties,
    * neighbor-communities-only targets, the one-pass partition guards,
    * checkpoint discipline — is the unweighted operator's, which runs
    * these sweeps at unit weight. The natural composition is
    * [[labelPropagationWeighted]] → this → [[modularityWeighted]].
    */
  def refineCommunitiesWeighted(edges: DataFrame, srcCol: String,
                                dstCol: String, weightCol: String,
                                assign: DataFrame, nodeCol: String,
                                labelCol: String, sweeps: Int = 1): DataFrame = {
    require(sweeps >= 1, s"sweeps must be positive, got $sweeps")
    val a = weightedEdges(edges, srcCol, dstCol, weightCol,
      "refineCommunitiesWeighted: weights must be positive integers")
    val adj = a.unionByName(a.select(col("v").as("u"), col("u").as("v"), col("w")))
      .groupBy(col("u"), col("v")).agg(sum(col("w")).as("w"))
    refineOn(adj, assign, nodeCol, labelCol, sweeps, "refineCommunitiesWeighted")
  }

  /** Both refine operators past their edge reading: pre-partitions and
    * persists the symmetrized `(u, v, w)` adjacency, guards the
    * assignment, and runs [[refineWeightedSweeps]] on it.
    */
  private def refineOn(edges: DataFrame, assign: DataFrame, nodeCol: String,
                       labelCol: String, sweeps: Int, op: String): DataFrame = {
    val adj = edges.repartition(col("v")).persist()
    try {
      require(!adj.isEmpty, s"$op: no edges — nothing to refine")
      val lbl = assign
        .select(col(nodeCol).cast("long").as("node"), col(labelCol).as("label"))
        .distinct()
      requirePartition(op, lbl, adj.select(col("v").as("node")).distinct())
      refineWeightedSweeps(adj, None, lbl, sweeps)
    } finally adj.unpersist(false)
  }

  /** The weighted local-move sweep loop shared by both refine operators
    * (simple graphs — `selfStr` = None) and the contracted community
    * graphs of [[louvainCommunities]], where a super-node carries a
    * SELF-LOOP (its community's internal weight). `selfStr` rows are
    * `(node, sw)` with `sw` in STRENGTH units — 2 × the node's self-loop
    * weight, the standard convention
    * under which the contracted graph's modularity equals the expanded
    * partition's on the original graph exactly (the self-loop moves
    * with its node, so it cancels out of the linear delta term, but it
    * DOES sit in the node's strength and in 2W — get either wrong and
    * contracted-level moves stop being original-Q-improving). Nodes
    * absent from `selfStr` have no self-loop; `selfStr` nodes absent
    * from `adj` (fully-isolated communities) still count toward W but
    * can never move — the caller's expansion passes them through.
    *
    * `adj` must be the symmetrized, self-loop-free, parallel-summed
    * adjacency, pre-partitioned and persisted by the caller; `lbl` a
    * guarded partition of its nodes.
    *
    * Scale shape: per stage, one edge-join against the node-sized label
    * vector (adjacency pre-partitioned and persisted ONCE across all
    * sweeps), two community-strength aggregates, one per-node
    * min-struct fold — shuffle ∝ edges, the labelPropagation cost
    * class; the moving side is parity-pruned before the join so each
    * stage pays half the candidate work. Lineage is cut per stage with
    * dead-checkpoint reclamation.
    */
  private def refineWeightedSweeps(adj: DataFrame, selfStr: Option[DataFrame],
                                   lbl: DataFrame, sweeps: Int): DataFrame = {
    // Σ adj.w = 2W_inter exactly (symmetrized, no self-loops); each
    // self-loop contributes its strength units on top. Round-invariant,
    // so collected ONCE as a scalar (guide §1.2) — the per-stage
    // broadcast-aggregate twin re-summed the cached adjacency every
    // stage; the strength vector likewise aggregates once and is
    // cached across all stages instead of twice per stage.
    val bigW = (selfStr match {
      case None => adj.agg(expr("sum(w) div 2").as("W"))
      case Some(ss) =>
        adj.agg(sum(col("w")).as("__aw"))
          .crossJoin(ss.agg(coalesce(sum(col("sw")), lit(0L)).as("__sw")))
          .select(expr("(__aw + __sw) div 2").as("W"))
    }).collect()(0).getLong(0)
    val interStr = adj.groupBy(col("u").as("node")).agg(sum(col("w")).as("k"))
    val strength = (selfStr match {
      case None => interStr
      case Some(ss) => interStr.join(ss, Seq("node"), "left")
        .select(col("node"), (col("k") + coalesce(col("sw"), lit(0L))).as("k"))
    }).persist()
    try {
    var cur = lbl.localCheckpoint(true)

    // one parity stage: only nodes with node % 2 == parity may move,
    // all evaluated against `cur`, applied simultaneously.
    // NO vecSide broadcasts in these joins: adj is persisted
    // PRE-PARTITIONED on the join key, so the planner's shuffle joins
    // only exchange node-sized sides — the broadcast variant measured
    // consistently SLOWER (interleaved A/B on the q289 pipeline:
    // 15.2-17.1 s broadcast vs 11.9-13.2 s shuffle, 3/3 reps).
    def stage(cur: DataFrame, parity: Int): DataFrame = {
      // community-sized, consumed TWICE below (s_a and s_b lookups) —
      // materialized once so each consumer reads blocks instead of
      // re-running the strength×vector aggregate; freed after the stage
      // output lands
      val sC = strength.join(cur, "node")
        .groupBy(col("label")).agg(sum(col("k")).as("s_tot"))
        .localCheckpoint(true)
      // the mover's own label rides along from the SAME vector join and
      // w_ia is a window sum over the node's own rows — the previous wa
      // self-join re-ran the edge join a second time per stage
      val wicl = adj.filter(pmod(col("u"), lit(2)) === parity)
        .join(cur.select(col("node").as("v"), col("label").as("nl")), "v")
        .groupBy(col("u").as("node"), col("nl"))
        .agg(sum(col("w")).as("kc"))
        .join(cur, "node")
      val ka = coalesce(
        sum(when(col("nl") === col("label"), col("kc")))
          .over(org.apache.spark.sql.expressions.Window
            .partitionBy(col("node"))), lit(0L))
      val cand = wicl
        .withColumn("ka", ka)
        .filter(col("nl") =!= col("label"))
        .join(strength, "node")
        .join(sC.select(col("label"), col("s_tot").as("s_a")), "label")
        .join(sC.select(col("label").as("nl"), col("s_tot").as("s_b")), "nl")
        .withColumn("delta_num",
          lit(4L) * lit(bigW) * (col("kc") - col("ka")) -
            lit(2L) * col("k") * (col("s_b") - col("s_a") + col("k")))
        .filter(col("delta_num") > 0L)
      val best = cand
        .groupBy(col("node"))
        .agg(min(struct((-col("delta_num")).as("nd"), col("nl").as("l"))).as("mv"))
        .select(col("node"), col("mv.l").as("new_label"))
      val out = cur.join(best, Seq("node"), "left")
        .select(col("node"),
          coalesce(col("new_label"), col("label")).as("label"))
        .localCheckpoint(true)
      GenStore.freeLocal(sC)
      out
    }

    var s = 0
    while (s < sweeps) {
      val even = stage(cur, 0)
      GenStore.freeLocal(cur)
      val odd = stage(even, 1)
      GenStore.freeLocal(even)
      cur = odd
      s += 1
    }
    cur
    } finally strength.unpersist(false)
  }

  /** Deterministic community-graph CONTRACTION — the Louvain phase-2
    * primitive (Blondel et al. 2008): collapse each community of
    * `assign` to one super-node and sum edge weights between/within.
    * Returns the canonical undirected community edge list
    * `(src, dst, w)` with `src <= dst`: `src < dst` rows are summed
    * INTER-community weights, `src = dst` rows the summed
    * INTRA-community weight (the contracted self-loop, which
    * [[louvainCommunities]] folds into super-node strength as 2·w —
    * the convention under which Q(contracted partition) equals
    * Q(expanded partition) on the original graph exactly). Input
    * conventions are [[refineCommunitiesWeighted]]'s: positive integer
    * weights (loud otherwise), rows are undirected edges, parallel rows
    * sum across both orientations; self-loop input rows are dropped.
    * The assignment must cover every graph node with exactly one label
    * (loud one-pass guard).
    *
    * Scale shape: one canonicalize+sum pass, two label joins against
    * the node-sized assignment, one community-pair aggregate — shuffle
    * ∝ edges, no iteration. The output is |communities|²-bounded but in
    * practice ∝ the cut structure — the whole point of contraction is
    * that it SHRINKS.
    */
  def contractCommunities(edges: DataFrame, srcCol: String, dstCol: String,
                          weightCol: String, assign: DataFrame,
                          nodeCol: String, labelCol: String): DataFrame = {
    val a = weightedEdges(edges, srcCol, dstCol, weightCol,
      "contractCommunities: weights must be positive integers")
    val und = canonical(a)
    val lbl = assign
      .select(col(nodeCol).cast("long").as("node"), col(labelCol).cast("long").as("label"))
      .distinct()
    requirePartition("contractCommunities", lbl, und.select(col("u").as("node"))
      .unionByName(und.select(col("v").as("node"))).distinct())
    und
      .join(lbl.select(col("node").as("u"), col("label").as("la")), "u")
      .join(lbl.select(col("node").as("v"), col("label").as("lb")), "v")
      .select(least(col("la"), col("lb")).as("src"),
        greatest(col("la"), col("lb")).as("dst"), col("w"))
      .groupBy(col("src"), col("dst")).agg(sum(col("w")).as("w"))
  }

  /** MULTI-LEVEL modularity optimization — the full Louvain loop
    * (Blondel et al. 2008), deterministic and relational end-to-end:
    * phase 1 is [[refineCommunitiesWeighted]]'s local-move sweeps on the
    * given assignment; each further level CONTRACTS the graph by the
    * current communities ([[contractCommunities]]) and re-runs the same
    * sweeps on the contracted graph (super-node self-loops folded into
    * strength, so every accepted contracted-level move — a whole
    * community changing sides — increases the ORIGINAL graph's Q_w by
    * exactly its integer delta), then expands the super-labels back
    * down. This captures exactly the moves phase 1 cannot: a community
    * pair worth merging whose every single-node move is negative (each
    * node's intra ties pin it — the GraphSpec two-triangle fixture).
    *
    * Determinism inherits from the pieces: integer deltas, parity
    * staging (contracted super-node ids are community labels — original
    * node ids, so the parity rule is well-defined), smallest-label
    * ties. Contracted levels start from singletons (each super-node its
    * own community, the Louvain convention). A level whose contraction
    * has NO inter-community edges stops the loop (nothing left to
    * merge); isolated super-nodes pass through expansion unchanged.
    * Labels remain opaque original-assignment ids at every level.
    *
    * Scale shape: level 1 is the refinement's cost (shuffle ∝ edges per
    * stage); level 2 contracts the ORIGINAL graph once (∝ edges); every
    * further level contracts the previous COMMUNITY graph by that
    * level's sub-assignment (contraction composes: contracting by A
    * then by B equals contracting by B∘A, weights summing identically),
    * so deeper levels cost ∝ the shrinking community graph, never a
    * re-scan of the original edges — the geometric shrink that makes
    * Louvain the 100-TB community algorithm.
    */
  def louvainCommunities(edges: DataFrame, srcCol: String, dstCol: String,
                         weightCol: String, assign: DataFrame,
                         nodeCol: String, labelCol: String,
                         levels: Int = 2, sweeps: Int = 1): DataFrame = {
    require(levels >= 1, s"levels must be positive, got $levels")
    val a = weightedEdges(edges, srcCol, dstCol, weightCol,
      "louvainCommunities: weights must be positive integers")
    // canonicalize + guard the ORIGINAL edge list exactly ONCE: the
    // level-1 sweep's adjacency and the seed contraction both derive
    // from this one materialization (calling the public refine +
    // contract operators back-to-back would scan and re-guard the full
    // edge list twice — a duplicated full pass at 100 TB)
    val und = canonical(a).localCheckpoint(true)
    require(!und.isEmpty, "louvainCommunities: no edges — nothing to cluster")
    val adj = und
      .unionByName(und.select(col("v").as("u"), col("u").as("v"), col("w")))
      .repartition(col("v")).persist()
    var cur: DataFrame = null
    var cEdges: DataFrame = null
    try {
      val lbl = assign
        .select(col(nodeCol).cast("long").as("node"), col(labelCol).as("label"))
        .distinct()
      requirePartition("louvainCommunities", lbl,
        adj.select(col("v").as("node")).distinct())
      cur = refineWeightedSweeps(adj, None, lbl, sweeps)
      // seed contraction from the SAME canonical edges (cur covers every
      // graph node by construction, so no re-guard is needed)
      cEdges = und
        .join(cur.select(col("node").as("u"), col("label").as("__la")), "u")
        .join(cur.select(col("node").as("v"), col("label").as("__lb")), "v")
        .select(least(col("__la"), col("__lb")).as("src"),
          greatest(col("__la"), col("__lb")).as("dst"), col("w"))
        .groupBy(col("src"), col("dst")).agg(sum(col("w")).as("w"))
        .localCheckpoint(true)
    } finally {
      adj.unpersist(false)
      GenStore.freeLocal(und)
    }
    var l = 2
    var done = false
    while (l <= levels && !done) {
      val inter = cEdges.filter(col("src") =!= col("dst"))
      if (inter.isEmpty) done = true
      else {
        // self-loop strength units: 2 × the community's internal weight
        val selfStr = cEdges.filter(col("src") === col("dst"))
          .select(col("src").as("node"), (lit(2L) * col("w")).as("sw"))
        val adj = inter
          .select(col("src").as("u"), col("dst").as("v"), col("w"))
          .unionByName(inter
            .select(col("dst").as("u"), col("src").as("v"), col("w")))
          .repartition(col("v")).persist()
        try {
          val singles = adj.select(col("v").as("node")).distinct()
            .withColumn("label", col("node"))
          val sub = refineWeightedSweeps(adj, Some(selfStr), singles, sweeps)
          val next = cur.join(
            sub.select(col("node").as("label"), col("label").as("__nl")),
            Seq("label"), "left")
            .select(col("node"),
              coalesce(col("__nl"), col("label")).as("label"))
            .localCheckpoint(true)
          if (l < levels) {
            // next level's community graph: contract THIS community graph
            // by the sub-assignment (isolated super-nodes map to
            // themselves); intra edges stay intra, merged inter edges fold
            // into the new self-loops — exactly the direct contraction of
            // the original graph by the composed labels, at community-
            // graph cost. Materialized BEFORE its parent checkpoint frees.
            val nextEdges = cEdges
              .join(sub.select(col("node").as("src"), col("label").as("__ls")),
                Seq("src"), "left")
              .join(sub.select(col("node").as("dst"), col("label").as("__ld")),
                Seq("dst"), "left")
              .select(
                least(coalesce(col("__ls"), col("src")),
                  coalesce(col("__ld"), col("dst"))).as("src"),
                greatest(coalesce(col("__ls"), col("src")),
                  coalesce(col("__ld"), col("dst"))).as("dst"),
                col("w"))
              .groupBy(col("src"), col("dst")).agg(sum(col("w")).as("w"))
              .localCheckpoint(true)
            GenStore.freeLocal(cEdges)
            cEdges = nextEdges
          }
          GenStore.freeLocal(sub)
          GenStore.freeLocal(cur)
          cur = next
        } finally adj.unpersist(false)
      }
      l += 1
    }
    GenStore.freeLocal(cEdges)
    cur
  }

  /** EXACT modularity of a community assignment over an undirected
    * graph — the standard partition-quality score (Newman):
    *
    *   Q = Σ_c [ m_c/m − (d_c/(2m))² ]
    *
    * with m the undirected edge count, m_c community c's internal edge
    * count, d_c the sum of its members' degrees. Over the common
    * denominator 4m² this is ONE integer rational:
    *
    *   Q = Σ_c (4·m·m_c − d_c²) / (4m²)
    *
    * so the score is exact-integer end-to-end: per-community
    * contribution numerators are BIGINTs, the global numerator is their
    * sum, and `q_ppm = sign(S)·((|S|·10⁶) div 4m²)` uses the abs/sign
    * split so floor-vs-truncate division agrees in every engine (S is
    * negative for worse-than-random partitions). Overflow budget:
    * `4·m·m_c ≤ 4m²` and `|S|·10⁶ < 2⁶³` needs m < ~10⁶·√2.3 — beyond
    * that, drop to per-million-edge units before scoring.
    *
    * Returns one row per community — `(label, n_nodes, m_in, d_tot,
    * contrib_num)` — each carrying the global `m` and `q_ppm`. Nodes
    * absent from `assign` are rejected loudly: a silently-dropped node
    * would understate d_c and overstate Q. The DUAL direction is
    * asymmetric BY DESIGN: assignment rows for nodes absent from the
    * graph (a stale assignment scored against a shrunk edge list, or
    * genuinely isolated nodes) are dropped — an edge-less node has
    * degree 0 and internal-edge count 0, so its exact contribution to Q
    * is 0 and dropping it cannot move the score; only its `n_nodes` seat
    * disappears. The natural composition is [[labelPropagation]] → this
    * (assign, then score the assignment).
    *
    * Runs [[modularityWeighted]]'s body at unit weight on the
    * deduplicated edge list.
    */
  def modularity(edges: DataFrame, srcCol: String, dstCol: String,
                 assign: DataFrame, nodeCol: String,
                 labelCol: String): DataFrame = {
    scoreCommunities(unitCanonical(edges, srcCol, dstCol), assign, nodeCol,
        labelCol, "modularity")(modularityTable)
      .toDF("label", "n_nodes", "m_in", "d_tot", "contrib_num", "m", "q_ppm")
  }

  /** WEIGHTED exact modularity — [[modularity]] with every count
    * replaced by an integer weight sum (Newman's generalization):
    *
    *   Q_w = Σ_c [ w_c/W − (s_c/(2W))² ]
    *       = Σ_c (4·W·w_c − s_c²) / (4W²)
    *
    * with W the total undirected edge weight, w_c community c's internal
    * weight, s_c its members' strength (weighted-degree) sum. The score
    * [[labelPropagationWeighted]]'s assignments should be judged by:
    * unweighted Q would call a heavy-edge community wrong whenever a
    * count-majority disagrees with the weight-majority that formed it.
    *
    * Edge semantics are [[labelPropagationWeighted]]'s: positive integer
    * weights (loud otherwise), undirected, parallel rows sum — including
    * one row per orientation. Same partition contract, one-pass folded
    * guards, isolated-node-drop asymmetry, and overflow budget (W in
    * place of m) as [[modularity]], which is this score at unit weight.
    *
    * Returns `(label, n_nodes, w_in, s_tot, contrib_num, w, q_ppm)`.
    */
  def modularityWeighted(edges: DataFrame, srcCol: String, dstCol: String,
                         weightCol: String, assign: DataFrame,
                         nodeCol: String, labelCol: String): DataFrame = {
    val a = weightedEdges(edges, srcCol, dstCol, weightCol,
      "modularityWeighted: weights must be positive integers")
    scoreCommunities(canonical(a), assign, nodeCol, labelCol,
      "modularityWeighted")(modularityTable)
  }

  /** The community scores' shared part, over the canonical `(u, v, w)`
    * edge list (`u < v`, one row per undirected edge): persists it,
    * guards the assignment, and hands `score` the edges, the `(node,
    * lbl)` assignment and the per-community `(lbl, s_tot, n_nodes)`
    * strength sums. Only the community-sized result is materialized.
    *
    * Scale shape: one canonicalize+sum pass, one strength aggregate, one
    * edge×assign join (both endpoints) + per-community sums — shuffle ∝
    * edges, no iteration, no windows.
    */
  private def scoreCommunities(edges: DataFrame, assign: DataFrame,
                               nodeCol: String, labelCol: String, op: String)(
      score: (DataFrame, DataFrame, DataFrame) => DataFrame): DataFrame = {
    // persist (not localCheckpoint) + finally-unpersist: a checkpoint's
    // edge-sized blocks would stay pinned until driver GC — on a score-
    // every-assignment cadence that leak compounds (the GenStore.freeLocal
    // lesson). The returned frame is materialized community-sized below,
    // so nothing reads und after the unpersist.
    val und = edges.persist()
    try {
      val lbl = assign
        .select(col(nodeCol).cast("long").as("node"), col(labelCol).as("lbl"))
        .distinct()
      requirePartition(op, lbl, und.select(col("u").as("node"))
        .unionByName(und.select(col("v").as("node"))).distinct(),
        " — score would be wrong")
      val strength = und
        .select(explode(array(
          struct(col("u").as("node"), col("w")),
          struct(col("v").as("node"), col("w")))).as("s"))
        .groupBy(col("s.node").as("node")).agg(sum(col("s.w")).as("d"))
      val sC = strength.join(lbl, "node")
        .groupBy(col("lbl")).agg(sum(col("d")).as("s_tot"),
          count(lit(1)).as("n_nodes"))
      // community-sized (≤ #labels rows) — the only retained blocks
      score(und, lbl, sC).localCheckpoint(true)
    } finally und.unpersist(false)
  }

  /** [[modularityWeighted]]'s table from [[scoreCommunities]]' parts. */
  private def modularityTable(und: DataFrame, lbl: DataFrame,
                              sC: DataFrame): DataFrame = {
    val wIn = und
      .join(lbl.select(col("node").as("u"), col("lbl").as("lu")), "u")
      .join(lbl.select(col("node").as("v"), col("lbl").as("lv")), "v")
      .filter(col("lu") === col("lv"))
      .groupBy(col("lu").as("lbl")).agg(sum(col("w")).as("w_in"))
    val wDf = und.agg(sum(col("w")).as("w"))
    val perC = sC.join(wIn, Seq("lbl"), "left")
      .select(col("lbl").as("label"), col("n_nodes"),
        coalesce(col("w_in"), lit(0L)).as("w_in"), col("s_tot"))
      .crossJoin(broadcast(wDf))
      .withColumn("contrib_num",
        lit(4L) * col("w") * col("w_in") - col("s_tot") * col("s_tot"))
    val qDf = perC.agg(sum(col("contrib_num")).as("__s"),
      max(col("w")).as("__w"))
      .select(
        (signum(col("__s")).cast("long") *
          expr("(abs(__s) * 1000000) div (4 * __w * __w)")).as("q_ppm"))
    perC.crossJoin(broadcast(qDf))
      .select(col("label"), col("n_nodes"), col("w_in"), col("s_tot"),
        col("contrib_num"), col("w"), col("q_ppm"))
  }

  /** EXACT per-community conductance — the local counterpart of
    * [[modularity]]'s global score: for community c,
    *
    *   φ(c) = cut(c) / min(vol(c), vol(V) − vol(c))
    *
    * with cut(c) the number of undirected edges with exactly one end in
    * c and vol the degree sum (vol(V) = 2m). Low φ = a well-separated
    * community; the screening metric for "is this cluster real or an
    * artifact of the assignment". Exact integers end-to-end:
    * `cond_ppm = (cut·10⁶) div min(d_tot, 2m − d_tot)`, with the
    * whole-graph community (denominator 0, cut 0) defined as 0. Same
    * partition contract, loud guards, isolated-node-drop asymmetry
    * (an edge-less assignment row has volume 0 and cut 0 — dropping it
    * cannot move any community's φ), and persist/materialize discipline
    * as [[modularity]]. Returns `(label, n_nodes, cut, d_tot, cond_ppm)`.
    *
    * Runs [[conductanceWeighted]]'s body at unit weight on the
    * deduplicated edge list.
    */
  def conductance(edges: DataFrame, srcCol: String, dstCol: String,
                  assign: DataFrame, nodeCol: String,
                  labelCol: String): DataFrame = {
    scoreCommunities(unitCanonical(edges, srcCol, dstCol), assign, nodeCol,
        labelCol, "conductance")(conductanceTable)
      .toDF("label", "n_nodes", "cut", "d_tot", "cond_ppm")
  }

  /** WEIGHTED per-community conductance — [[conductance]] with every
    * count an integer weight sum, completing the weighted community
    * suite (weighted LPA assigns, Q_w scores globally, THIS scores
    * locally): φ_w(c) = cut_w(c) / min(vol_w(c), 2W − vol_w(c)) in
    * exact integer ppm, with cut_w the summed weight of boundary edges,
    * vol_w the summed strength of members, W the total edge weight. A
    * community tied to the outside by one heavy edge is exactly as
    * leaky as one tied by many light ones — the multiplicity the
    * unweighted score discards. Edge conventions are
    * [[modularityWeighted]]'s: positive integer weights (loud
    * otherwise), undirected, parallel rows sum across orientations;
    * [[conductance]] is this score at unit weight. Returns `(label,
    * n_nodes, cut_w, vol_w, cond_ppm)`.
    */
  def conductanceWeighted(edges: DataFrame, srcCol: String, dstCol: String,
                          weightCol: String, assign: DataFrame,
                          nodeCol: String, labelCol: String): DataFrame = {
    val a = weightedEdges(edges, srcCol, dstCol, weightCol,
      "conductanceWeighted: weights must be positive integers")
    scoreCommunities(canonical(a), assign, nodeCol, labelCol,
      "conductanceWeighted")(conductanceTable)
  }

  /** [[conductanceWeighted]]'s table from [[scoreCommunities]]' parts. */
  private def conductanceTable(und: DataFrame, lbl: DataFrame,
                               sC: DataFrame): DataFrame = {
    // a boundary edge (lu != lv) contributes its WEIGHT to both cuts
    val tagged = und
      .join(lbl.select(col("node").as("u"), col("lbl").as("lu")), "u")
      .join(lbl.select(col("node").as("v"), col("lbl").as("lv")), "v")
      .filter(col("lu") =!= col("lv"))
    val cuts = tagged.select(col("lu").as("lbl"), col("w"))
      .unionByName(tagged.select(col("lv").as("lbl"), col("w")))
      .groupBy(col("lbl")).agg(sum(col("w")).as("cut_w"))
    val mDf = und.agg((sum(col("w")) * 2L).as("vol_all"))
    sC.join(cuts, Seq("lbl"), "left")
      .crossJoin(broadcast(mDf))
      .withColumn("cut_w", coalesce(col("cut_w"), lit(0L)))
      .select(col("lbl").as("label"), col("n_nodes"), col("cut_w"),
        col("s_tot").as("vol_w"),
        expr("""CASE WHEN least(s_tot, vol_all - s_tot) = 0 THEN CAST(0 AS BIGINT)
                ELSE (cut_w * 1000000) div least(s_tot, vol_all - s_tot)
                END""").as("cond_ppm"))
  }

  /** Multi-source BFS hop distances over an undirected graph: for every
    * node reachable from `sources`, the MINIMUM number of edge hops from
    * any source (`dist`, sources themselves at 0). Distances are mins,
    * so the result is order-independent and engine-exact — any BFS that
    * runs to completion produces the identical table.
    *
    * Scale shape — the frontier-iteration (Pregel) pattern: each round
    * joins ONLY the current frontier against the adjacency list and
    * anti-joins the visited set, so per-round work is proportional to
    * the frontier's edges, not the graph; rounds = the reached
    * component's eccentricity (small for real graphs), with a loud
    * `maxRounds` cap instead of an endless job on a pathological chain.
    * The adjacency list is materialized once (`localCheckpoint`) and
    * every round reuses it; the visited set grows by append and is
    * checkpointed per round so lineage never stacks. At cluster scale
    * the adjacency is pre-partitioned by `u` once, and every frontier
    * join reuses that exchange; the per-round driver action is just the
    * emptiness test (the [[kCore]] convergence-probe cost class).
    *
    * Unreached nodes are absent from the result (callers who need them
    * can left-join the node list); sources that never appear in the
    * edge list still emit their 0 row — a seed is reached by definition.
    */
  def bfsHops(edges: DataFrame, srcCol: String, dstCol: String,
              sources: DataFrame, sourceCol: String,
              maxRounds: Int = 32): DataFrame = {
    require(maxRounds >= 1, s"maxRounds must be positive, got $maxRounds")
    val adj = edges
      .select(col(srcCol).cast("long").as("u"), col(dstCol).cast("long").as("v"))
      .filter(col("u") =!= col("v"))
    val und = adj.unionByName(adj.select(col("v").as("u"), col("u").as("v")))
      .distinct().localCheckpoint(true)
    var visited = sources
      .select(col(sourceCol).cast("long").as("node")).distinct()
      .select(col("node"), lit(0L).as("dist"))
      .localCheckpoint(true)
    var frontier = visited.select(col("node"))
    // dead-set reclamation (see GenStore.freeLocal): each round's `next`
    // checkpoint consumes the previous frontier, and the new `visited`
    // checkpoint consumes the old one — both freed at their death point
    // so a deep traversal holds two node-sized block sets, not 2·rounds.
    // The round-1 frontier is a VIEW over the init `visited` checkpoint,
    // which is why only direct-checkpoint handles are ever freed.
    var prevFrontier: DataFrame = null
    var d = 0L
    // the per-round probe COUNTS instead of testing emptiness: the same
    // one action doubles as the vecSide broadcast gate for the frontier
    // (typically tiny) and the visited set (bounded by the running sum)
    var frontierN = visited.count()
    var visitedN = frontierN
    var done = frontierN == 0
    while (!done) {
      val next = und
        .join(vecSide(frontier.withColumnRenamed("node", "u"), frontierN), "u")
        .select(col("v").as("node")).distinct()
        .join(vecSide(visited.select(col("node")), visitedN),
          Seq("node"), "left_anti")
        .localCheckpoint(true)
      if (prevFrontier != null) GenStore.freeLocal(prevFrontier)
      val nextN = next.count()
      if (nextN == 0) done = true
      else {
        d += 1
        require(d <= maxRounds, s"BFS did not finish in $maxRounds rounds")
        val grown = visited
          .unionByName(next.select(col("node"), lit(d).as("dist")))
          .localCheckpoint(true)
        GenStore.freeLocal(visited)
        visited = grown
        frontier = next
        prevFrontier = next
        frontierN = nextN
        visitedN += nextN
      }
    }
    visited
  }

  /** k-core of an undirected graph: the maximal subgraph in which every
    * node has degree >= k, computed by iterative peeling — drop every
    * node whose CURRENT degree is below k, recompute, repeat to
    * fixpoint. The fixpoint is order-independent (the k-core is unique),
    * so no tie-breaking is needed anywhere and any engine that peels to
    * convergence gets the identical node set — the q156 oracle replays
    * the rounds as plain chained SQL (peeling is monotone, so unrolling
    * PAST the fixpoint is a no-op and the unroll depth only needs to be
    * an upper bound).
    *
    * Returns `(node, deg)` — surviving nodes with their degree INSIDE
    * the core. Direction, duplicate edges, and self-loops in the input
    * are ignored.
    *
    * Scale shape: each round is one degree aggregate (shuffle ∝ alive
    * edges) plus two anti-joins against the dropped-node set, with
    * `localCheckpoint` cutting lineage per round (the pageRankFixed
    * discipline — the per-round driver action is the convergence test
    * itself, same cost class as the dangling probe). Rounds are
    * data-bounded: real graphs peel in a handful of cascades, and the
    * loud `maxRounds` cap turns a pathological chain into an error
    * instead of an endless job.
    */
  def kCore(edges: DataFrame, srcCol: String, dstCol: String, k: Int,
            maxRounds: Int = 64): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    var cur = edges
      .select(least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
      .filter(col("a") =!= col("b")).distinct()
      .localCheckpoint(true)
    var rounds = 0
    var done = false
    while (!done) {
      // the weak set is materialized per round: its count replaces the
      // emptiness probe AND gates broadcasting it into the two
      // anti-joins — the shuffle formulation exchanged the (edge-sized,
      // already checkpointed) edge set twice per round just to drop a
      // handful of nodes
      val weak = cur
        .select(explode(array(col("a"), col("b"))).as("n"))
        .groupBy(col("n")).agg(count(lit(1)).as("d"))
        .filter(col("d") < k).select(col("n"))
        .localCheckpoint(true)
      val weakN = weak.count()
      if (weakN == 0) { GenStore.freeLocal(weak); done = true }
      else {
        rounds += 1
        require(rounds < maxRounds, s"k-core did not converge in $maxRounds rounds")
        val peeled = cur
          .join(vecSide(weak.select(col("n").as("a")), weakN), Seq("a"), "left_anti")
          .join(vecSide(weak.select(col("n").as("b")), weakN), Seq("b"), "left_anti")
          .select(col("a"), col("b"))
          .localCheckpoint(true)
        // the old edge set and the weak set are dead once the peel
        // materialized from them
        GenStore.freeLocal(cur)
        GenStore.freeLocal(weak)
        cur = peeled
      }
    }
    cur.select(explode(array(col("a"), col("b"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
  }

  /** WEIGHTED PageRank — [[pageRankFixed]] with each node's outgoing
    * mass split in proportion to integer edge weights instead of
    * uniformly: the contribution along `(u, v, w)` is
    * `(85·r_u·w) div (100·W_u)` with `W_u` the sum of u's out-weights —
    * the trade-volume-aware importance query. Parallel `(src, dst)`
    * edges collapse by SUMMING weights first (so a duplicated edge row
    * is more weight, not a second contribution). Everything else keeps
    * the exact-integer discipline bit-for-bit: floored divisions,
    * integer sums, dangling mass redistributed uniformly as one scalar
    * per round, per-round `localCheckpoint`, edges pre-partitioned by
    * src once.
    *
    * Overflow budget (BIGINT): `85·scale·maxW < 2⁶³` — weights up to
    * ~10⁸ at the default 10⁹ scale. Every input weight must be
    * positive and non-null, checked row by row before the parallel sum
    * (a zero total out-weight would divide by zero, and a null weight's
    * mass would vanish). Runs [[pageRankFixed]]'s loop.
    */
  def weightedPageRank(edges: DataFrame, srcCol: String, dstCol: String,
                       wCol: String, iters: Int = 10,
                       scale: Long = 1000000000L): DataFrame = {
    require(iters >= 1, "iters must be positive")
    val e = weightedEdges(edges, srcCol, dstCol, wCol,
        "weighted PageRank needs positive edge weights", dropLoops = false)
      .groupBy(col("u").as("src"), col("v").as("dst")).agg(sum(col("w")).as("w"))
    rankLoop(e, sum(col("w")).as("wd"), "(85 * r * w) div (100 * wd)", None,
      iters, scale, -1L)._1
  }

  /** Single/multi-source WEIGHTED shortest paths (distributed
    * Bellman-Ford) over an undirected graph with non-negative integer
    * edge weights — [[bfsHops]] generalized from hop counts to weighted
    * distance (cheapest total cost, not fewest hops).
    *
    * Each round relaxes ONLY the edges incident to nodes whose distance
    * improved last round (the frontier), then folds the candidate
    * distances into the running vector with one `min` aggregate — so
    * per-round work is proportional to the frontier's edges, the Pregel
    * shape. Parallel edges collapse to their minimum weight up front.
    * Rounds converge in (max hop count over all shortest weighted
    * paths), with a loud `maxRounds` cap; relaxation is MONOTONE, so
    * running past the fixpoint is a no-op — which is exactly what lets
    * a SQL oracle replay the rounds as a static unroll with any round
    * count >= the true convergence depth (the q156 k-core discipline).
    *
    * Everything is exact BIGINT arithmetic (distance = sum of integer
    * weights, min fold), so the fixpoint is engine-exact bit for bit.
    * Unreached nodes are absent; sources emit their 0 row by definition.
    * A null or negative weight fails loudly; zero is a legal weight.
    * `localCheckpoint` cuts lineage each round; the per-round driver
    * action is the emptiness probe (the [[kCore]] cost class).
    */
  def weightedHops(edges: DataFrame, srcCol: String, dstCol: String,
                   wCol: String, sources: DataFrame, sourceCol: String,
                   maxRounds: Int = 64): DataFrame = {
    require(maxRounds >= 1, s"maxRounds must be positive, got $maxRounds")
    val adj = weightedEdges(edges, srcCol, dstCol, wCol,
      "weightedHops: weights must be non-negative integers", minW = 0L)
    val und = adj
      .unionByName(adj.select(col("v").as("u"), col("u").as("v"), col("w")))
      .groupBy(col("u"), col("v")).agg(min(col("w")).as("w"))
      .localCheckpoint(true)
    var dist = sources
      .select(col(sourceCol).cast("long").as("node")).distinct()
      .select(col("node"), lit(0L).as("dist"))
      .localCheckpoint(true)
    var frontier = dist
    // dead-set reclamation (see GenStore.freeLocal / bfsHops): the old
    // dist and the previous round's improved-set are both fully consumed
    // by this round's eager checkpoints before they are freed. Round 1's
    // frontier ALIASES the init dist checkpoint — its only read (the
    // cand join) has materialized into `improved` by the time the old
    // dist is freed, and frontier is reassigned in the same branch.
    var prevFrontier: DataFrame = null
    var r = 0
    // the per-round probe COUNTS instead of testing emptiness: the same
    // one action doubles as the vecSide broadcast gate for the frontier
    // and the running distance vector (bounded by the running sum)
    var frontierN = dist.count()
    var distN = frontierN
    var done = frontierN == 0
    while (!done) {
      val cand = und
        .join(vecSide(frontier.select(col("node").as("u"),
          col("dist").as("du")), frontierN), "u")
        .select(col("v").as("node"), (col("du") + col("w")).as("dist"))
        .groupBy(col("node")).agg(min(col("dist")).as("dist"))
      val improved = cand
        .join(vecSide(dist.select(col("node"), col("dist").as("old")), distN),
          Seq("node"), "left_outer")
        .filter(col("old").isNull || col("dist") < col("old"))
        .select(col("node"), col("dist"))
        .localCheckpoint(true)
      if (prevFrontier != null) GenStore.freeLocal(prevFrontier)
      val improvedN = improved.count()
      if (improvedN == 0) done = true
      else {
        r += 1
        require(r <= maxRounds,
          s"weighted shortest paths did not converge in $maxRounds rounds")
        val folded = dist.unionByName(improved)
          .groupBy(col("node")).agg(min(col("dist")).as("dist"))
          .localCheckpoint(true)
        GenStore.freeLocal(dist)
        dist = folded
        frontier = improved
        prevFrontier = improved
        frontierN = improvedN
        distN += improvedN
      }
    }
    dist
  }

  /** HITS hubs & authorities in exact fixed-point integers: each
    * iteration is `auth(v) = Σ_{u→v} hub(u)` then `hub(u) = Σ_{u→v}
    * auth(v)`, each vector renormalized to total `scale` by the floored
    * division `(x · scale) div S` (S = the vector's exact integer sum) —
    * so both scores stay bounded, every step is engine-exact, and the
    * whole run replays in a SQL oracle (the q128/q133 discipline; a
    * float HITS normalizes by an L2 norm no two engines sum alike).
    * Initial hub = 1 per node, so iteration 1's authority vector is the
    * normalized in-degree.
    *
    * Scale shape: per iteration, two edge-joins + grouped sums (shuffle
    * ∝ edges, map-side partials); each half-step's normalizer is folded
    * into its checkpoint job as a broadcast 1-row aggregate over the
    * already-checkpointed vector (one action per half-step, the
    * q133/q220 dangling-share discipline — the zero-mass guard stays
    * loud via raise_error); the edge list is src/dst partitioned once
    * and reused; lineage cut per round.
    * Overflow budget: post-normalization vectors sum to ≤ scale, so a
    * per-node score ≤ scale and the renormalization numerator is
    * ≤ scale·maxdeg·scale — with the default `scale` = 10⁶, safe to
    * maxdeg ≈ 9·10⁶.
    */
  def hits(edges: DataFrame, srcCol: String, dstCol: String,
           iters: Int = 5, scale: Long = 1000000L): DataFrame = {
    require(iters >= 1, "iters must be positive")
    val e = edges
      .select(col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
      .distinct()
      .repartition(col("src")).persist()
    try {
      // loud up front: with zero rows the per-row raise_error guard below
      // never evaluates (a projection over no rows), so an edge-less
      // input would otherwise return an empty result silently
      require(!e.isEmpty, "hits: no edges — nothing to rank")
      val nodes = e.select(col("src").as("node"))
        .union(e.select(col("dst").as("node"))).distinct().persist()
      try {
        var hub = nodes.select(col("node"), lit(1L).as("h"))
        var auth = nodes.select(col("node"), lit(0L).as("a"))
        var i = 1
        while (i <= iters) {
          val aRaw = e.join(hub.withColumnRenamed("node", "src"), "src")
            .groupBy(col("dst").as("node")).agg(sum(col("h")).as("a"))
          val aFull = nodes.join(aRaw, Seq("node"), "left")
            .select(col("node"), coalesce(col("a"), lit(0L)).as("a"))
            .localCheckpoint(true)
          // the old hub fed aRaw, which aFull's eager checkpoint just
          // consumed — dead from here (see GenStore.freeLocal)
          GenStore.freeLocal(hub)
          // normalizer folded into the checkpoint job as a broadcast 1-row
          // aggregate over the ALREADY-CHECKPOINTED vector (cheap reread,
          // never the edge join) — one action per half-step instead of
          // two, the q220/q133 dangling-share discipline; the
          // mass-vanished guard stays loud via raise_error instead of a
          // driver-side require
          val oldAuth = auth
          val sAdf = aFull.agg(coalesce(sum(col("a")), lit(0L)).as("__s"))
          auth = aFull.crossJoin(broadcast(sAdf))
            .select(col("node"), expr(
              s"CASE WHEN __s > 0 THEN (a * ${scale}L) div __s " +
                "ELSE raise_error('hits: authority mass vanished (no edges?)') END")
              .cast("long").as("a"))
            .localCheckpoint(true)
          GenStore.freeLocal(aFull)
          GenStore.freeLocal(oldAuth)
          val hRaw = e.join(auth.withColumnRenamed("node", "dst"), "dst")
            .groupBy(col("src").as("node")).agg(sum(col("a")).as("h"))
          val hFull = nodes.join(hRaw, Seq("node"), "left")
            .select(col("node"), coalesce(col("h"), lit(0L)).as("h"))
            .localCheckpoint(true)
          val sHdf = hFull.agg(coalesce(sum(col("h")), lit(0L)).as("__s"))
          hub = hFull.crossJoin(broadcast(sHdf))
            .select(col("node"), expr(
              s"CASE WHEN __s > 0 THEN (h * ${scale}L) div __s " +
                "ELSE raise_error('hits: hub mass vanished (no edges?)') END")
              .cast("long").as("h"))
            .localCheckpoint(true)
          GenStore.freeLocal(hFull)
          i += 1
        }
        nodes.join(hub, "node").join(auth, "node")
          .select(col("node"), col("h").as("hub"), col("a").as("auth"))
      } finally nodes.unpersist(false)
    } finally e.unpersist(false)
  }

  /** Neighbor-set Jaccard similarity between DESTINATION nodes of a
    * bipartite edge set — the link-prediction / "similar suppliers"
    * query: two dst nodes are similar when many src nodes point at
    * both. One row per unordered pair with co-neighbor count ≥ `minCo`,
    * top-`k` per node (both orientations emitted so every node gets its
    * own ranked list): `(a, b, co, na, nb, jaccard_ppm)` with
    * `jaccard_ppm = co·10⁶ div (na + nb − co)` — exact, monotone, no
    * floats. Distinct from [[Cf.userNeighbors]]'s squared-cosine: the
    * Jaccard denominator is the neighborhood UNION, the standard link-
    * prediction ranking (Liben-Nowell & Kleinberg).
    *
    * Scale shape: pair generation is SRC-BLOCKED (equi-join on src) —
    * candidates multiply only within one src's dst list; `maxDeg` drops
    * hub src nodes up front (a src pointing at half the graph yields
    * deg² pairs and no signal — the Cf stop-cut), and `minCo` prunes
    * before the ranking window. Windows are per-node, never global.
    */
  def nodeJaccard(edges: DataFrame, srcCol: String, dstCol: String,
                  maxDeg: Long, minCo: Long, k: Int): DataFrame = {
    require(maxDeg >= 1, s"maxDeg must be positive, got $maxDeg")
    require(minCo >= 1, s"minCo must be positive, got $minCo")
    require(k >= 1, s"k must be positive, got $k")
    val base = edges.select(col(srcCol).cast("long").as("u"),
      col(dstCol).cast("long").as("v")).distinct()
    val kept = base.join(
      base.groupBy(col("u")).agg(count(lit(1)).as("__d"))
        .filter(col("__d") <= maxDeg).select(col("u")), "u")
    val nv = kept.groupBy(col("v")).agg(count(lit(1)).as("__n"))
    val co = kept.select(col("u"), col("v").as("a"))
      .join(kept.select(col("u"), col("v").as("b")), "u")
      .filter(col("a") =!= col("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("co"))
      .filter(col("co") >= minCo)
    val sim = co
      .join(nv.select(col("v").as("a"), col("__n").as("na")), "a")
      .join(nv.select(col("v").as("b"), col("__n").as("nb")), "b")
      .select(col("a"), col("b"), col("co"), col("na"), col("nb"),
        expr("(co * 1000000) div (na + nb - co)").as("jaccard_ppm"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("a"))
      .orderBy(col("jaccard_ppm").desc, col("b"))
    sim.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k)
      .select(col("a"), col("b"), col("co"), col("na"), col("nb"),
        col("jaccard_ppm"))
  }
}
