package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Additional relational-carrier breadth: multi-join analytics (TPC-H Q5
  * shape), FILTER-clause aggregates, higher-order array carrier functions
  * (F13), and null-handling scalar functions.
  */
object MiscQueries {
  private def t(s: SparkSession, dir: String, n: String): DataFrame = Tables(s, dir, n)

  /** One scan for a multi-write layout fixture (r20, guide §1.2): the
    * per-file append loops below each ran a full source scan+filter PER
    * FILE — checkpoint the source once, write the N files from memory,
    * free the blocks as soon as the layout has landed (the served read
    * scans the WRITTEN files, never this checkpoint).
    */
  private def withLocal[T](df: DataFrame)(f: DataFrame => T): T = {
    val c = df.localCheckpoint(true)
    try f(c) finally graft.operators.GenStore.freeLocal(c)
  }

  /** OVERLAP a layout fixture's independent per-file writes (guide
    * §2.6 "overlap independent jobs"): the sequential append loop paid
    * one full job's latency per file even though no write depends on
    * another — a 25-file monthly layout was 25 back-to-back
    * single-task jobs on an otherwise idle 32-core session. Each slice
    * writes `coalesce(1)` into its OWN staging directory (concurrent
    * jobs must never share one output path — they would share its
    * `_temporary`, and the first job to commit deletes the others'
    * in-flight task attempts), then the landed part files move into
    * `dest` with driver-side renames: metadata-only, and the staged
    * name keeps its job-unique UUID so names cannot collide. File
    * CONTENTS are identical to the sequential appends — the same slice
    * rows, one file per slice — so the zone maps built over `dest` and
    * every served result are unchanged; only the wall-clock is (the
    * slowest slice instead of the sum). A handful of jobs in flight is
    * enough to hide the per-job floor; more would just contend.
    */
  private def writeSlicesPar(dest: String, slices: Seq[DataFrame]): Unit = {
    require(slices.nonEmpty, "writeSlicesPar needs at least one slice")
    val spark = slices.head.sparkSession
    val destP = new org.apache.hadoop.fs.Path(dest)
    val fs = destP.getFileSystem(spark.sessionState.newHadoopConf())
    fs.mkdirs(destP)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(slices.size, 8))
    try {
      import scala.concurrent.{Await, ExecutionContext, Future}
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      val staged = slices.zipWithIndex.map { case (df, i) =>
        Future {
          val stage = s"$dest/_stage-$i"
          df.coalesce(1).write.mode("overwrite").parquet(stage)
          stage
        }
      }
      Await.result(Future.sequence(staged), scala.concurrent.duration.Duration.Inf)
        .foreach { stage =>
          val sp = new org.apache.hadoop.fs.Path(stage)
          fs.listStatus(sp).map(_.getPath)
            .filter(_.getName.endsWith(".parquet"))
            // Hadoop rename reports many failures by returning false
            // without throwing — a silently dropped part file would
            // change the fixture (and every served result) with no error
            .foreach { p =>
              val dst = new org.apache.hadoop.fs.Path(destP, p.getName)
              require(fs.rename(p, dst), s"rename $p -> $dst failed")
            }
          fs.delete(sp, true)
        }
    } finally pool.shutdown()
  }

  /** The q274 synchronous self-inclusive LPA replay over the symmetrized
    * commerce graph, statically unrolled: CTEs `pairs`, `e` (u, v),
    * `l0..l<rounds>` (node, label). Shared by q274 (the assignment) and
    * q277 (its modularity).
    */
  private def lpaUnrollCtes(rounds: Int): String = {
    val roundCtes = (1 to rounds).map { i =>
      val prev = s"l${i - 1}"
      s"""c$i AS (SELECT node, label, CAST(count(*) AS BIGINT) AS c
         |  FROM (SELECT e.u AS node, l.label
         |          FROM e JOIN $prev l ON l.node = e.v
         |        UNION ALL SELECT node, label FROM $prev) x$i
         |  GROUP BY 1, 2),
         |l$i AS (SELECT node, label FROM (SELECT node, label,
         |    row_number() OVER (PARTITION BY node
         |      ORDER BY c DESC, label) AS rn
         |  FROM c$i) y$i WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    s"""pairs AS (SELECT CAST(o_custkey AS BIGINT) AS cust,
       |    CAST(l_suppkey + 10000000 AS BIGINT) AS supp
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |  GROUP BY 1, 2 HAVING count(*) >= 2),
       |e AS (SELECT cust AS u, supp AS v FROM pairs
       |      UNION SELECT supp, cust FROM pairs),
       |l0 AS (SELECT DISTINCT v AS node, v AS label FROM e),
       |$roundCtes""".stripMargin
  }

  /** The q282 local-move refinement replay: given assignment CTE `cur`
    * over the symmetrized edge CTE `e` (plus shared `degx`/`mmx`), one
    * parity stage — movable nodes (node % 2 = parity) pick the neighbor
    * community with the max EXACT integer modularity delta
    * 4·m·(k_ib − k_ia) − 2·k_i·(d_b − d_a + k_i), ties to the smallest
    * label, accept iff positive — emitting assignment CTE `out`. Two
    * stages (even then odd) make one sweep, mirroring
    * `Graph.refineCommunities` exactly.
    */
  /** Every multiply-referenced CTE is MATERIALIZED (the q244 unroll
    * lesson, which bit again at sf0.1): DuckDB inlines plain CTEs at
    * EACH reference, so a stage referencing its input assignment three
    * times would re-run the whole upstream unroll three times — two
    * stages deep that's a 9× recompute that spills the temp disk.
    */
  private def refineStageCtes(cur: String, parity: Int, out: String): String = {
    val sfx = out
    s"""dc$sfx AS MATERIALIZED (SELECT c.label, CAST(sum(degx.k) AS BIGINT) AS d_tot
       |  FROM degx JOIN $cur c USING (node) GROUP BY 1),
       |kic$sfx AS MATERIALIZED (SELECT e.u AS node, cl.label AS nl,
       |    CAST(count(*) AS BIGINT) AS kc
       |  FROM e JOIN $cur cl ON cl.node = e.v
       |  WHERE e.u % 2 = $parity GROUP BY 1, 2),
       |cand$sfx AS (SELECT k0.node, k0.nl,
       |    4 * mmx.m * (k0.kc - COALESCE(ka.kc, 0))
       |      - 2 * degx.k * (db.d_tot - da.d_tot + degx.k) AS delta
       |  FROM kic$sfx k0
       |  JOIN $cur c ON c.node = k0.node AND c.label <> k0.nl
       |  JOIN degx ON degx.node = k0.node
       |  JOIN dc$sfx da ON da.label = c.label
       |  JOIN dc$sfx db ON db.label = k0.nl
       |  LEFT JOIN kic$sfx ka ON ka.node = k0.node AND ka.nl = c.label
       |  CROSS JOIN mmx),
       |mv$sfx AS (SELECT node, nl FROM (SELECT node, nl, delta,
       |    row_number() OVER (PARTITION BY node
       |      ORDER BY delta DESC, nl) AS rn
       |  FROM cand$sfx WHERE delta > 0) x$sfx WHERE rn = 1),
       |$out AS MATERIALIZED (SELECT c.node, COALESCE(mv.nl, c.label) AS label
       |  FROM $cur c LEFT JOIN mv$sfx mv USING (node))""".stripMargin
  }

  /** The q287 WEIGHTED local-move stage: [[refineStageCtes]] with every
    * count a weight sum — adjacency `adj` (u, v, w), strengths `str`
    * (node, k — self-loop strength already folded in for contracted
    * graphs), total weight `tot` (one column W), delta
    * 4·W·(w_ib − w_ia) − 2·s_i·(s_b − s_a + s_i). The CTE names are
    * parameters so the q289 contracted level replays the same stage over
    * its own adjacency/strength/total CTEs.
    */
  private def refineStageWeightedCtes(cur: String, parity: Int,
                                      out: String, adj: String = "ew",
                                      str: String = "degwx",
                                      tot: String = "mmwx"): String = {
    val sfx = out
    s"""sc$sfx AS MATERIALIZED (SELECT c.label, CAST(sum($str.k) AS BIGINT) AS s_tot
       |  FROM $str JOIN $cur c USING (node) GROUP BY 1),
       |wic$sfx AS MATERIALIZED (SELECT $adj.u AS node, cl.label AS nl,
       |    CAST(sum($adj.w) AS BIGINT) AS kc
       |  FROM $adj JOIN $cur cl ON cl.node = $adj.v
       |  WHERE $adj.u % 2 = $parity GROUP BY 1, 2),
       |wcand$sfx AS (SELECT k0.node, k0.nl,
       |    4 * $tot.W * (k0.kc - COALESCE(ka.kc, 0))
       |      - 2 * $str.k * (sb.s_tot - sa.s_tot + $str.k) AS delta
       |  FROM wic$sfx k0
       |  JOIN $cur c ON c.node = k0.node AND c.label <> k0.nl
       |  JOIN $str ON $str.node = k0.node
       |  JOIN sc$sfx sa ON sa.label = c.label
       |  JOIN sc$sfx sb ON sb.label = k0.nl
       |  LEFT JOIN wic$sfx ka ON ka.node = k0.node AND ka.nl = c.label
       |  CROSS JOIN $tot),
       |wmv$sfx AS (SELECT node, nl FROM (SELECT node, nl, delta,
       |    row_number() OVER (PARTITION BY node
       |      ORDER BY delta DESC, nl) AS rn
       |  FROM wcand$sfx WHERE delta > 0) wx$sfx WHERE rn = 1),
       |$out AS MATERIALIZED (SELECT c.node, COALESCE(mv.nl, c.label) AS label
       |  FROM $cur c LEFT JOIN wmv$sfx mv USING (node))""".stripMargin
  }

  /** The q156 repeat-trade commerce graph (customer-supplier pairs with
    * >= 2 lineitems) — sparse enough that LPA resolves MULTIPLE
    * communities (the fully-dense q128 bipartite graph collapses to one
    * label, a degenerate fixture for community queries).
    */
  private def repeatTradePairsWeighted(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
      .join(t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_custkey").as("cust"),
        (col("l_suppkey") + 10000000L).as("supp"))
      .agg(count(lit(1)).as("w"))
      .filter(col("w") >= 2)

  private def repeatTradePairs(s: SparkSession, dir: String): DataFrame =
    repeatTradePairsWeighted(s, dir).select(col("cust"), col("supp"))

  /** The q283 WEIGHTED LPA replay: same unroll as [[lpaUnrollCtes]] but
    * votes sum the symmetrized edge weights (trade counts) and the
    * self-vote weighs 1 — CTEs `wpairs`, `ew` (u, v, w),
    * `wl0..wl<rounds>`.
    */
  private def lpaWeightedUnrollCtes(rounds: Int): String = {
    val roundCtes = (1 to rounds).map { i =>
      val prev = s"wl${i - 1}"
      s"""wc$i AS (SELECT node, label, CAST(sum(w) AS BIGINT) AS c
         |  FROM (SELECT ew.u AS node, l.label, ew.w
         |          FROM ew JOIN $prev l ON l.node = ew.v
         |        UNION ALL SELECT node, label, CAST(1 AS BIGINT) FROM $prev) wx$i
         |  GROUP BY 1, 2),
         |wl$i AS (SELECT node, label FROM (SELECT node, label,
         |    row_number() OVER (PARTITION BY node
         |      ORDER BY c DESC, label) AS rn
         |  FROM wc$i) wy$i WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    s"""wpairs AS (SELECT CAST(o_custkey AS BIGINT) AS cust,
       |    CAST(l_suppkey + 10000000 AS BIGINT) AS supp,
       |    CAST(count(*) AS BIGINT) AS w
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |  GROUP BY 1, 2 HAVING count(*) >= 2),
       |ew AS (SELECT u, v, CAST(sum(w) AS BIGINT) AS w FROM (
       |    SELECT cust AS u, supp AS v, w FROM wpairs
       |    UNION ALL SELECT supp, cust, w FROM wpairs) ew0 GROUP BY 1, 2),
       |wl0 AS (SELECT DISTINCT v AS node, v AS label FROM ew),
       |$roundCtes""".stripMargin
  }

  /** q133 oracle GENERATOR (the q57 inline-constants pattern): the
    * edge-contribution recursion replays in SQL exactly as q128's, while
    * the ten per-iteration dangling shares are inlined as integer literals
    * computed driver-side by the same floor-division recursion — DuckDB's
    * recursive-CTE planner degenerates (hours, not seconds) on a
    * setop/cross-join target-map CTE inside WITH RECURSIVE, so the
    * uniform-redistribution term can't live in the SQL. Zero-contribution
    * self-loops keep uncited nodes (no in-edge) in the groupBy(dst) rank
    * vector, mirroring the engine's rebuild-from-node-list step.
    */
  private def q133OracleGen(s: SparkSession, dir: String): String = {
    val pairs = t(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
      .join(t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").cast("long").as("src"),
        (col("l_suppkey") + 10000000L).cast("long").as("dst"))
      .distinct()
    val edges = pairs.collect().map(r => (r.getLong(0), r.getLong(1)))
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct.sorted
    val n = nodes.length.toLong
    val scale = 1000000000L
    val init = scale / n
    val base = ((15L * scale) / 100L) / n
    val out = edges.groupBy(_._1).map { case (k, v) => k -> v.length.toLong }
    val dangling = nodes.filterNot(out.contains)
    var r = nodes.map(_ -> init).toMap
    val shares = (1 to 10).map { _ =>
      val d = dangling.map(v => (85L * r(v)) / (100L * n)).sum
      val contrib = scala.collection.mutable.Map(nodes.map(_ -> 0L): _*)
      edges.foreach { case (a, b) => contrib(b) += (85L * r(a)) / (100L * out(a)) }
      r = nodes.map(v => v -> (base + d + contrib(v))).toMap
      d
    }
    val arms = shares.zipWithIndex
      .map { case (d, i) => s"WHEN $i THEN CAST($d AS BIGINT)" }.mkString(" ")
    s"""WITH RECURSIVE
       |edges AS (SELECT DISTINCT o_custkey AS src, l_suppkey + 10000000 AS dst
       |          FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
       |deg AS (SELECT src, CAST(count(*) AS BIGINT) AS od FROM edges GROUP BY src),
       |nodes AS (SELECT DISTINCT node FROM
       |          (SELECT src AS node FROM edges UNION ALL SELECT dst FROM edges) u),
       |e2 AS (SELECT e.src, e.dst, CAST(100 * d.od AS BIGINT) AS den
       |       FROM edges e JOIN deg d ON e.src = d.src
       |       UNION ALL
       |       SELECT node, node, CAST(NULL AS BIGINT) AS den FROM nodes),
       |pr AS (
       |  SELECT 0 AS iter, node, CAST($init AS BIGINT) AS r FROM nodes
       |  UNION ALL
       |  SELECT p.iter + 1, e.dst AS node,
       |    CAST(CAST($base AS BIGINT) + (CASE p.iter $arms END)
       |      + sum(CASE WHEN e.den IS NULL THEN 0 ELSE (85 * p.r) // e.den END)
       |      AS BIGINT) AS r
       |  FROM pr p JOIN e2 e ON p.node = e.src
       |  WHERE p.iter < 10
       |  GROUP BY p.iter, e.dst
       |)
       |SELECT node, r FROM pr WHERE iter = 10
       |ORDER BY r DESC, node LIMIT 20""".stripMargin
  }

  /** q143 oracle GENERATOR: the q133 integer mirror extended with the
    * epsilon stop — the driver replay runs the same fixed-point
    * iterations, tracks max per-node |Δr|, and stops where the engine
    * stops; the recursion depth and the per-iteration dangling shares
    * are inlined as literals. Bit-exact on both sides by the q128/q133
    * argument (pure integer arithmetic).
    */
  private def q143OracleGen(s: SparkSession, dir: String): String = {
    val eps = 2000000L
    val pairs = t(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
      .join(t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").cast("long").as("src"),
        (col("l_suppkey") + 10000000L).cast("long").as("dst"))
      .distinct()
    val edges = pairs.collect().map(r => (r.getLong(0), r.getLong(1)))
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct.sorted
    val n = nodes.length.toLong
    val scale = 1000000000L
    val init = scale / n
    val base = ((15L * scale) / 100L) / n
    val out = edges.groupBy(_._1).map { case (k, v) => k -> v.length.toLong }
    val dangling = nodes.filterNot(out.contains)
    var r = nodes.map(_ -> init).toMap
    val shares = scala.collection.mutable.ListBuffer.empty[Long]
    var converged = false
    var i = 0
    while (i < 10 && !converged) {
      val d = dangling.map(v => (85L * r(v)) / (100L * n)).sum
      val contrib = scala.collection.mutable.Map(nodes.map(_ -> 0L): _*)
      edges.foreach { case (a, b) => contrib(b) += (85L * r(a)) / (100L * out(a)) }
      val r2 = nodes.map(v => v -> (base + d + contrib(v))).toMap
      converged = nodes.map(v => math.abs(r2(v) - r(v))).max <= eps
      r = r2
      shares += d
      i += 1
    }
    val k = shares.length
    val arms = shares.zipWithIndex
      .map { case (d, idx) => s"WHEN $idx THEN CAST($d AS BIGINT)" }.mkString(" ")
    s"""WITH RECURSIVE
       |edges AS (SELECT DISTINCT o_custkey AS src, l_suppkey + 10000000 AS dst
       |          FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
       |deg AS (SELECT src, CAST(count(*) AS BIGINT) AS od FROM edges GROUP BY src),
       |nodes AS (SELECT DISTINCT node FROM
       |          (SELECT src AS node FROM edges UNION ALL SELECT dst FROM edges) u),
       |e2 AS (SELECT e.src, e.dst, CAST(100 * d.od AS BIGINT) AS den
       |       FROM edges e JOIN deg d ON e.src = d.src
       |       UNION ALL
       |       SELECT node, node, CAST(NULL AS BIGINT) AS den FROM nodes),
       |pr AS (
       |  SELECT 0 AS iter, node, CAST($init AS BIGINT) AS r FROM nodes
       |  UNION ALL
       |  SELECT p.iter + 1, e.dst AS node,
       |    CAST(CAST($base AS BIGINT) + (CASE p.iter $arms END)
       |      + sum(CASE WHEN e.den IS NULL THEN 0 ELSE (85 * p.r) // e.den END)
       |      AS BIGINT) AS r
       |  FROM pr p JOIN e2 e ON p.node = e.src
       |  WHERE p.iter < $k
       |  GROUP BY p.iter, e.dst
       |)
       |SELECT node, r, CAST($k AS BIGINT) AS iters_run FROM pr WHERE iter = $k
       |ORDER BY r DESC, node LIMIT 20""".stripMargin
  }

  def all: Seq[Q] = Seq(

    // ---- Z-order (Morton) curve code — the clustering key behind
    // Layout.writeZOrdered (multi-dimensional file pruning at scale). The
    // bit interleave is plain integer arithmetic, so DuckDB replays it
    // exactly. ----
    Q("q93_zorder_code",
      (s, dir) => {
        val x = pmod(col("user_id"), lit(256))
        val y = pmod(col("event_id"), lit(256))
        t(s, dir, "events")
          .select(col("event_id"), x.cast("long").as("x"), y.cast("long").as("y"),
            graft.operators.Layout.mortonCode(x, y, bits = 8).as("z"))
          .orderBy(col("event_id"))
      },
      Some("""SELECT event_id, user_id % 256 AS x, event_id % 256 AS y,
             |  CAST(list_sum(list_transform(range(8), i ->
             |    (((user_id % 256) >> i) & 1) * (1::BIGINT << CAST(2*i AS INT)) +
             |    (((event_id % 256) >> i) & 1) * (1::BIGINT << CAST(2*i+1 AS INT)))) AS BIGINT) AS z
             |FROM events ORDER BY event_id""".stripMargin)),

    // ---- ZONE-MAP pruned scan (ZoneMap.writeZOrdered + prunedRead):
    // the q93 curve made load-bearing — lineitem is laid out
    // z-contiguously on (l_partkey, l_suppkey), a per-file min/max
    // stats table is built in one narrow columnar pass, and a 2-D range
    // predicate then opens ONLY the files whose spans intersect it
    // (ZoneMapSpec pins the strict-subset skipping and that inputFiles
    // == the survivors). Stats admit false positives, never false
    // negatives, and the residual filter re-applies the predicate — so
    // the oracle is simply the full-scan filter, and the hash proves
    // the pruned scan loses nothing. At 100 TB this is THE scan
    // primitive: cost ∝ the answer's files, not the corpus's. ----
    Q("q311_zonemap_scan",
      (s, dir) => {
        import graft.operators.ZoneMap
        val tmp = java.nio.file.Files
          .createTempDirectory("graft_q311_").toString
        val li = t(s, dir, "lineitem")
          .select(col("l_partkey"), col("l_suppkey"),
            col("l_quantity").cast("long").as("qty"), col("l_returnflag"))
        ZoneMap.writeZOrdered(li, s"$tmp/data", s"$tmp/zone",
          "l_partkey", "l_suppkey", bits = 8, partitions = 16)
        ZoneMap.prunedRead(s, s"$tmp/data", s"$tmp/zone",
            Seq(("l_partkey", 100L, 300L), ("l_suppkey", 10L, 40L)))
          .groupBy(col("l_returnflag"))
          .agg(count(lit(1)).as("n"), sum(col("qty")).as("qty_sum"))
          .orderBy(col("l_returnflag"))
      },
      Some("""SELECT l_returnflag, count(*) AS n,
             |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty_sum
             |FROM lineitem
             |WHERE l_partkey BETWEEN 100 AND 300
             |  AND l_suppkey BETWEEN 10 AND 40
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- INCREMENTAL zone-map maintenance (ZoneMap.appendWithStats):
    // half of lineitem lands z-ordered at build, the other half
    // APPENDS — new files' stats are computed by reading only them
    // (before/after listing diff, cost ∝ the increment) and union into
    // the map; existing files are immutable so their rows carry
    // verbatim. The pruned read stays exact across the append boundary
    // (same full-scan-filter oracle as q311) even though the appended
    // files are not z-clustered — stats admit false positives, never
    // false negatives, the append degrades SKIPPING, never
    // correctness. ----
    Q("q321_zonemap_append",
      (s, dir) => {
        import graft.operators.ZoneMap
        val tmp = java.nio.file.Files
          .createTempDirectory("graft_q321_").toString
        val li = t(s, dir, "lineitem")
          .select(col("l_partkey"), col("l_suppkey"),
            col("l_quantity").cast("long").as("qty"), col("l_returnflag"))
        ZoneMap.writeZOrdered(li.filter(col("l_partkey") % 2 =!= 0),
          s"$tmp/data", s"$tmp/zone",
          "l_partkey", "l_suppkey", bits = 8, partitions = 16)
        ZoneMap.appendWithStats(li.filter(col("l_partkey") % 2 === 0),
          s"$tmp/data", Seq("l_partkey", "l_suppkey"), s"$tmp/zone")
        ZoneMap.prunedRead(s, s"$tmp/data", s"$tmp/zone",
            Seq(("l_partkey", 100L, 300L), ("l_suppkey", 10L, 40L)))
          .groupBy(col("l_returnflag"))
          .agg(count(lit(1)).as("n"), sum(col("qty")).as("qty_sum"))
          .orderBy(col("l_returnflag"))
      },
      Some("""SELECT l_returnflag, count(*) AS n,
             |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty_sum
             |FROM lineitem
             |WHERE l_partkey BETWEEN 100 AND 300
             |  AND l_suppkey BETWEEN 10 AND 40
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- PLANNER-INTEGRATED zone-map pruning (plans/ZoneMapPrune +
    // ZoneMapCatalog): q311's skipping with NO explicit prunedRead
    // call — a PLAIN spark.read.parquet(...).filter(range) over the
    // registered layout is rewritten by the injected optimizer rule to
    // open only the stat-intersecting files, with the original filter
    // kept as the residual (stats admit false positives, never false
    // negatives) and attribute ids preserved. ZoneMapSpec pins the
    // strict-subset inputFiles and the stale-map refusal (an
    // undescribed landed file scans everything rather than skipping
    // blind). Oracle: the same full-scan filter as q311 — the hash
    // proves the free skipping loses nothing. ----
    Q("q329_zonemap_rewrite",
      (s, dir) => {
        import graft.operators.ZoneMap
        import graft.plans.{ZoneMapCatalog, ZoneMapPrune}
        val tmp = java.nio.file.Files
          .createTempDirectory("graft_q329_").toString
        val li = t(s, dir, "lineitem")
          .select(col("l_partkey"), col("l_suppkey"),
            col("l_quantity").cast("long").as("qty"), col("l_returnflag"))
        ZoneMap.writeZOrdered(li, s"$tmp/data", s"$tmp/zone",
          "l_partkey", "l_suppkey", bits = 8, partitions = 16)
        val prev = s.experimental.extraOptimizations
        s.experimental.extraOptimizations = prev :+ ZoneMapPrune(s)
        try {
          ZoneMapCatalog.register(s, s"$tmp/data", s"$tmp/zone",
            Seq("l_partkey", "l_suppkey"))
          s.read.parquet(s"$tmp/data")
            .filter(col("l_partkey").between(100, 300) &&
              col("l_suppkey").between(10, 40))
            .groupBy(col("l_returnflag"))
            .agg(count(lit(1)).as("n"), sum(col("qty")).as("qty_sum"))
            .localCheckpoint(true) // the prune rule fires HERE
            .orderBy(col("l_returnflag"))
        } finally {
          s.experimental.extraOptimizations = prev
          ZoneMapCatalog.clear()
        }
      },
      Some("""SELECT l_returnflag, count(*) AS n,
             |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty_sum
             |FROM lineitem
             |WHERE l_partkey BETWEEN 100 AND 300
             |  AND l_suppkey BETWEEN 10 AND 40
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- ZONE-MAP RECLUSTER POLICY (ZoneMap.layoutDrift +
    // reclusterIfDegraded — the IVF-PQ rebuildIfDrifted cadence verb
    // on the layout): appends keep pruned reads CORRECT but erode
    // SKIPPING (appended files are not z-clustered); the drift
    // statistic — mean per-file normalized span product, exact ppm,
    // computed from the metadata table alone — says when, and crossing
    // the threshold re-z-orders the layout and rebuilds the map. Here
    // half of lineitem builds clustered, the other half appends
    // unclustered (full-span files), the policy TRIPS, and the pruned
    // read over the re-laid-out corpus hash-matches the same full-scan
    // oracle as q311/q321 — the whole degrade-measure-recluster cycle
    // is lossless. ZoneMapSpec pins the no-op below threshold and the
    // restored selectivity (smaller surviving-file share). ----
    Q("q337_zonemap_recluster",
      (s, dir) => {
        import graft.operators.ZoneMap
        val tmp = java.nio.file.Files
          .createTempDirectory("graft_q337_").toString
        val li = t(s, dir, "lineitem")
          .select(col("l_partkey"), col("l_suppkey"),
            col("l_quantity").cast("long").as("qty"), col("l_returnflag"))
        ZoneMap.writeZOrdered(li.filter(col("l_partkey") % 2 =!= 0),
          s"$tmp/data", s"$tmp/zone",
          "l_partkey", "l_suppkey", bits = 8, partitions = 16)
        ZoneMap.appendWithStats(
          li.filter(col("l_partkey") % 2 === 0).repartition(8),
          s"$tmp/data", Seq("l_partkey", "l_suppkey"), s"$tmp/zone")
        val (_, ran) = ZoneMap.reclusterIfDegraded(s, s"$tmp/data",
          s"$tmp/zone", "l_partkey", "l_suppkey", maxDriftPpm = 250000L,
          bits = 8, partitions = 16)
        require(ran, "the unclustered append must trip the drift policy")
        ZoneMap.prunedRead(s, s"$tmp/data", s"$tmp/zone",
            Seq(("l_partkey", 100L, 300L), ("l_suppkey", 10L, 40L)))
          .groupBy(col("l_returnflag"))
          .agg(count(lit(1)).as("n"), sum(col("qty")).as("qty_sum"))
          .orderBy(col("l_returnflag"))
      },
      Some("""SELECT l_returnflag, count(*) AS n,
             |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty_sum
             |FROM lineitem
             |WHERE l_partkey BETWEEN 100 AND 300
             |  AND l_suppkey BETWEEN 10 AND 40
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- STREAMING maintenance ∘ PLANNER pruning (StreamingZoneMap +
    // ZoneMapPrune): the stream keeps the stats map a pure function of
    // the files on disk, so the FRESHNESS probe inside the injected
    // rule passes at every drained point and a PLAIN filter over the
    // streamed layout is file-skipped for free — the two r15/r16 wings
    // composing. Oracle: the full-scan filter. ----
    Q("q339_stream_zonemap_rewrite",
      (s, dir) => {
        import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
        implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
        import s.implicits._
        import graft.plans.{ZoneMapCatalog, ZoneMapPrune}
        val tmp = java.nio.file.Files
          .createTempDirectory("graft_q339_").toString
        val li = t(s, dir, "lineitem")
          .select(col("l_partkey"), col("l_suppkey"),
            col("l_quantity").cast("long").as("qty"))
        val input = MemoryStream[(Long, Long, Long)]
        val q = graft.streaming.StreamingZoneMap.zoneMapSink(
          input.toDF().toDF("l_partkey", "l_suppkey", "qty"),
          s"$tmp/data", Seq("l_partkey", "l_suppkey"), s"$tmp/zone",
          s"$tmp/ckpt")
        try {
          for (r <- 0 to 2) {
            input.addData(li.filter(col("l_partkey") % 3 === r)
              .as[(Long, Long, Long)].collect().toSeq)
            q.processAllAvailable()
          }
        } finally q.stop()
        val prev = s.experimental.extraOptimizations
        s.experimental.extraOptimizations = prev :+ ZoneMapPrune(s)
        try {
          ZoneMapCatalog.register(s, s"$tmp/data", s"$tmp/zone",
            Seq("l_partkey", "l_suppkey"))
          s.read.parquet(s"$tmp/data")
            .filter(col("l_partkey").between(100, 300) &&
              col("l_suppkey").between(10, 40))
            .groupBy(col("l_suppkey"))
            .agg(count(lit(1)).as("n"), sum(col("qty")).as("qty_sum"))
            .localCheckpoint(true) // the prune rule fires HERE
            .orderBy(col("l_suppkey"))
        } finally {
          s.experimental.extraOptimizations = prev
          ZoneMapCatalog.clear()
        }
      },
      Some("""SELECT l_suppkey, count(*) AS n,
             |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty_sum
             |FROM lineitem
             |WHERE l_partkey BETWEEN 100 AND 300
             |  AND l_suppkey BETWEEN 10 AND 40
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- STREAMING zone-map maintenance (StreamingZoneMap
    // .zoneMapSink): lineitem arrives in three microbatches, each
    // landing as data files with the stats map extended by only those
    // files' rows — the map is a pure function of the files on disk
    // (one row per landed file, the appendWithStats listing diff), so
    // pruned reads stay exact at every point in the stream. Same
    // full-scan-filter oracle as the q311 family. ----
    Q("q324_stream_zonemap",
      (s, dir) => {
        import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
        implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
        import s.implicits._
        import graft.operators.ZoneMap
        val tmp = java.nio.file.Files
          .createTempDirectory("graft_q324_").toString
        val li = t(s, dir, "lineitem")
          .select(col("l_partkey"), col("l_suppkey"),
            col("l_quantity").cast("long").as("qty"))
        val input = MemoryStream[(Long, Long, Long)]
        val q = graft.streaming.StreamingZoneMap.zoneMapSink(
          input.toDF().toDF("l_partkey", "l_suppkey", "qty"),
          s"$tmp/data", Seq("l_partkey", "l_suppkey"), s"$tmp/zone",
          s"$tmp/ckpt")
        try {
          for (r <- 0 to 2) {
            input.addData(li.filter(col("l_partkey") % 3 === r)
              .as[(Long, Long, Long)].collect().toSeq)
            q.processAllAvailable()
          }
        } finally q.stop()
        ZoneMap.prunedRead(s, s"$tmp/data", s"$tmp/zone",
            Seq(("l_partkey", 100L, 300L), ("l_suppkey", 10L, 40L)))
          .groupBy(col("l_suppkey"))
          .agg(count(lit(1)).as("n"), sum(col("qty")).as("qty_sum"))
          .orderBy(col("l_suppkey"))
      },
      Some("""SELECT l_suppkey, count(*) AS n,
             |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty_sum
             |FROM lineitem
             |WHERE l_partkey BETWEEN 100 AND 300
             |  AND l_suppkey BETWEEN 10 AND 40
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- DATE zone-map pruning through the PLANNER (ZoneMapPrune over
    // DateType stats): the single most common warehouse filter — a date
    // range — now file-skips for free. orders is z-ordered on
    // (order DATE, custkey); stats store the date's exact integer image
    // (epoch DAYS, the very int Catalyst stores date literals as, via
    // ZoneMap.statExpr — shared with ZOrder.assign so layout and map
    // speak the same unit), and a PLAIN `.filter(date BETWEEN ...)`
    // extracts day-number bounds from the folded DateType literals.
    // Oracle: the full-scan date filter — the hash proves the skipping
    // loses nothing. ZoneMapSpec pins the strict-subset inputFiles. ----
    Q("q341_zonemap_date",
      (s, dir) => {
        import graft.operators.ZoneMap
        import graft.plans.{ZoneMapCatalog, ZoneMapPrune}
        val tmp = java.nio.file.Files
          .createTempDirectory("graft_q341_").toString
        val od = t(s, dir, "orders")
          .select(to_date(col("o_orderdate")).as("od"),
            col("o_custkey"), col("o_orderpriority"))
        ZoneMap.writeZOrdered(od, s"$tmp/data", s"$tmp/zone",
          "od", "o_custkey", bits = 8, partitions = 16)
        val prev = s.experimental.extraOptimizations
        s.experimental.extraOptimizations = prev :+ ZoneMapPrune(s)
        try {
          ZoneMapCatalog.register(s, s"$tmp/data", s"$tmp/zone",
            Seq("od", "o_custkey"))
          s.read.parquet(s"$tmp/data")
            .filter(col("od").between(
              lit(java.sql.Date.valueOf("1996-01-01")),
              lit(java.sql.Date.valueOf("1996-12-31"))))
            .groupBy(col("o_orderpriority"))
            .agg(count(lit(1)).as("n"), sum(col("o_custkey")).as("ck_sum"))
            .localCheckpoint(true) // the prune rule fires HERE
            .orderBy(col("o_orderpriority"))
        } finally {
          s.experimental.extraOptimizations = prev
          ZoneMapCatalog.clear()
        }
      },
      Some("""SELECT o_orderpriority, count(*) AS n,
             |  CAST(sum(o_custkey) AS BIGINT) AS ck_sum
             |FROM orders
             |WHERE CAST(o_orderdate AS DATE)
             |  BETWEEN DATE '1996-01-01' AND DATE '1996-12-31'
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- TIMESTAMP zone-map pruning through the PLANNER: same
    // machinery at micros resolution — stats are epoch MICROS
    // (unix_micros, the long Catalyst stores timestamp literals as),
    // bounds extract from the folded TimestampType literals, strict
    // bounds exact under integer semantics. The reference partitions
    // its sink by timestamp (zara_hybrid_etl.py:240-243); this is that
    // filter shape made free at scan time. ----
    Q("q342_zonemap_timestamp",
      (s, dir) => {
        import graft.operators.ZoneMap
        import graft.plans.{ZoneMapCatalog, ZoneMapPrune}
        val tmp = java.nio.file.Files
          .createTempDirectory("graft_q342_").toString
        val od = t(s, dir, "orders")
          .select(col("o_orderdate"), col("o_custkey"),
            col("o_orderpriority"))
        ZoneMap.writeZOrdered(od, s"$tmp/data", s"$tmp/zone",
          "o_orderdate", "o_custkey", bits = 8, partitions = 16)
        val prev = s.experimental.extraOptimizations
        s.experimental.extraOptimizations = prev :+ ZoneMapPrune(s)
        try {
          ZoneMapCatalog.register(s, s"$tmp/data", s"$tmp/zone",
            Seq("o_orderdate", "o_custkey"))
          s.read.parquet(s"$tmp/data")
            .filter(col("o_orderdate") >=
              lit(java.sql.Timestamp.valueOf("1996-01-01 00:00:00")) &&
              col("o_orderdate") <
              lit(java.sql.Timestamp.valueOf("1997-01-01 00:00:00")))
            .groupBy(col("o_orderpriority"))
            .agg(count(lit(1)).as("n"), sum(col("o_custkey")).as("ck_sum"))
            .localCheckpoint(true) // the prune rule fires HERE
            .orderBy(col("o_orderpriority"))
        } finally {
          s.experimental.extraOptimizations = prev
          ZoneMapCatalog.clear()
        }
      },
      Some("""SELECT o_orderpriority, count(*) AS n,
             |  CAST(sum(o_custkey) AS BIGINT) AS ck_sum
             |FROM orders
             |WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
             |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- IN-LIST zone-map pruning through the PLANNER (ZoneMapPrune's
    // envelope extraction): `o_orderdate IN (a run of days)` — the
    // other filter real warehouses write — prunes by the list's
    // [min, max] envelope, composing with the one-interval-per-column
    // machinery unchanged; the kept residual re-applies list exactness
    // (for a run of adjacent days the envelope IS exact). ZoneMapSpec
    // additionally pins the InSet lowering past OptimizeIn's threshold.
    // Oracle: the full-scan recompute. ----
    Q("q347_zonemap_in_list",
      (s, dir) => {
        import graft.operators.ZoneMap
        import graft.plans.{ZoneMapCatalog, ZoneMapPrune}
        val tmp = java.nio.file.Files
          .createTempDirectory("graft_q347_").toString
        val od = t(s, dir, "orders")
          .select(to_date(col("o_orderdate")).as("od"),
            col("o_custkey"), col("o_orderpriority"))
        ZoneMap.writeZOrdered(od, s"$tmp/data", s"$tmp/zone",
          "od", "o_custkey", bits = 8, partitions = 16)
        val prev = s.experimental.extraOptimizations
        s.experimental.extraOptimizations = prev :+ ZoneMapPrune(s)
        try {
          ZoneMapCatalog.register(s, s"$tmp/data", s"$tmp/zone",
            Seq("od", "o_custkey"))
          s.read.parquet(s"$tmp/data")
            .filter(col("od").isin(
              java.sql.Date.valueOf("1995-03-01"),
              java.sql.Date.valueOf("1995-03-02"),
              java.sql.Date.valueOf("1995-03-04")))
            .groupBy(col("o_orderpriority"))
            .agg(count(lit(1)).as("n"), sum(col("o_custkey")).as("ck_sum"))
            .localCheckpoint(true) // the prune rule fires HERE
            .orderBy(col("o_orderpriority"))
        } finally {
          s.experimental.extraOptimizations = prev
          ZoneMapCatalog.clear()
        }
      },
      Some("""SELECT o_orderpriority, count(*) AS n,
             |  CAST(sum(o_custkey) AS BIGINT) AS ck_sum
             |FROM orders
             |WHERE CAST(o_orderdate AS DATE) IN
             |  (DATE '1995-03-01', DATE '1995-03-02', DATE '1995-03-04')
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- DISJUNCTION zone-map pruning through the PLANNER
    // (ZoneMapPrune's recursive union-envelope harvest): the seasonal
    // `d BETWEEN .. OR d BETWEEN ..` filter — each side harvests
    // through the identical case analysis, a column contributes only
    // when EVERY side bounds it (one unbounded side would make a
    // partial min over-prune), and the union envelope is a superset of
    // the disjunction's true region, so the kept residual restores
    // exactness. ZoneMapSpec pins the one-sided and cross-column
    // widenings. Oracle: the full-scan recompute. ----
    Q("q352_zonemap_or_seasons",
      (s, dir) => {
        import graft.operators.ZoneMap
        import graft.plans.{ZoneMapCatalog, ZoneMapPrune}
        val tmp = java.nio.file.Files
          .createTempDirectory("graft_q352_").toString
        val od = t(s, dir, "orders")
          .select(to_date(col("o_orderdate")).as("od"),
            col("o_custkey"), col("o_orderpriority"))
        ZoneMap.writeZOrdered(od, s"$tmp/data", s"$tmp/zone",
          "od", "o_custkey", bits = 8, partitions = 16)
        val prev = s.experimental.extraOptimizations
        s.experimental.extraOptimizations = prev :+ ZoneMapPrune(s)
        try {
          ZoneMapCatalog.register(s, s"$tmp/data", s"$tmp/zone",
            Seq("od", "o_custkey"))
          s.read.parquet(s"$tmp/data")
            .filter(col("od").between(
              lit(java.sql.Date.valueOf("1994-12-15")),
              lit(java.sql.Date.valueOf("1994-12-31"))) ||
              col("od").between(
                lit(java.sql.Date.valueOf("1995-12-15")),
                lit(java.sql.Date.valueOf("1995-12-31"))))
            .groupBy(col("o_orderpriority"))
            .agg(count(lit(1)).as("n"), sum(col("o_custkey")).as("ck_sum"))
            .localCheckpoint(true) // the prune rule fires HERE
            .orderBy(col("o_orderpriority"))
        } finally {
          s.experimental.extraOptimizations = prev
          ZoneMapCatalog.clear()
        }
      },
      Some("""SELECT o_orderpriority, count(*) AS n,
             |  CAST(sum(o_custkey) AS BIGINT) AS ck_sum
             |FROM orders
             |WHERE CAST(o_orderdate AS DATE)
             |    BETWEEN DATE '1994-12-15' AND DATE '1994-12-31'
             |  OR CAST(o_orderdate AS DATE)
             |    BETWEEN DATE '1995-12-15' AND DATE '1995-12-31'
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- STRING zone-map pruning through the PLANNER (ZoneMap string
    // stats + ZoneMapPrune's binary-collation bounds): `c_mktsegment =
    // 'BUILDING'` — the dimension-equality filter warehouses write —
    // file-skips over a segment-sorted layout from raw string min/max
    // stats compared in UTF-8 byte order (exactly the order Spark's
    // min/max aggregated them under, so the decision is bit-identical
    // wherever made; java String order would disagree on supplementary
    // chars and is deliberately not used). String stats are PRUNE-ONLY:
    // no z-order dimension, no drift input — ZoneMapSpec pins the
    // refusals, the v2 manifest round-trip, and the IN/range shapes.
    // Oracle: the full-scan recompute. ----
    Q("q349_zonemap_string",
      (s, dir) => {
        import graft.operators.ZoneMap
        import graft.plans.{ZoneMapCatalog, ZoneMapPrune}
        val tmp = java.nio.file.Files
          .createTempDirectory("graft_q349_").toString
        val c = t(s, dir, "customer")
          .select(col("c_mktsegment"), col("c_custkey"), col("c_nationkey"))
        c.repartitionByRange(8, col("c_mktsegment"), col("c_custkey"))
          .write.parquet(s"$tmp/data")
        ZoneMap.buildZoneMap(s, s"$tmp/data",
          Seq("c_mktsegment", "c_custkey"), s"$tmp/zone")
        val prev = s.experimental.extraOptimizations
        s.experimental.extraOptimizations = prev :+ ZoneMapPrune(s)
        try {
          ZoneMapCatalog.register(s, s"$tmp/data", s"$tmp/zone",
            Seq("c_mktsegment", "c_custkey"))
          s.read.parquet(s"$tmp/data")
            .filter(col("c_mktsegment") === "BUILDING")
            .groupBy(col("c_nationkey"))
            .agg(count(lit(1)).as("n"), sum(col("c_custkey")).as("ck_sum"))
            .localCheckpoint(true) // the prune rule fires HERE
            .orderBy(col("c_nationkey"))
        } finally {
          s.experimental.extraOptimizations = prev
          ZoneMapCatalog.clear()
        }
      },
      Some("""SELECT c_nationkey, count(*) AS n,
             |  CAST(sum(c_custkey) AS BIGINT) AS ck_sum
             |FROM customer WHERE c_mktsegment = 'BUILDING'
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- BLOOM file skipping through the PLANNER (ZoneMap bloomCols +
    // ZoneMapMeta v3 + ZoneMapPrune.extractBloomValues): the skipping
    // min/max structurally CANNOT express — a key inside every file's
    // span but present in only some files. Four interleaved files
    // (orderkey mod 4) make range stats useless; per-file md5 blooms
    // (the q149 portable family, driver-side twin position-parity
    // pinned in BloomSpec) prove three of four files cannot hold the
    // probed keys. False-positive-only, so the kept residual keeps the
    // result exact — the full-scan oracle hash-proves it. Blooms live
    // only in the _ZMMETA manifest: a crash-degraded manifest widens
    // the scan, never wrongs it. ----
    Q("q350_zonemap_bloom",
      (s, dir) => {
        import graft.operators.ZoneMap
        import graft.plans.{ZoneMapCatalog, ZoneMapPrune}
        val tmp = java.nio.file.Files
          .createTempDirectory("graft_q350_").toString
        val o = t(s, dir, "orders")
          .select(col("o_orderkey"), col("o_custkey"), col("o_orderpriority"))
        withLocal(o)(oc => writeSlicesPar(s"$tmp/data",
          (0L to 3L).map(i => oc.filter(col("o_orderkey") % 4 === i))))
        ZoneMap.buildZoneMap(s, s"$tmp/data", Seq("o_custkey"),
          s"$tmp/zone", bloomCols = Seq("o_orderkey"),
          bloomM = 1 << 20, bloomK = 5)
        val prev = s.experimental.extraOptimizations
        s.experimental.extraOptimizations = prev :+ ZoneMapPrune(s)
        try {
          ZoneMapCatalog.register(s, s"$tmp/data", s"$tmp/zone",
            Seq("o_custkey"))
          s.read.parquet(s"$tmp/data")
            .filter(col("o_orderkey").isin(11L, 17L, 23L, 100L))
            .groupBy(col("o_orderpriority"))
            .agg(count(lit(1)).as("n"), sum(col("o_custkey")).as("ck_sum"))
            .localCheckpoint(true) // the prune rule fires HERE
            .orderBy(col("o_orderpriority"))
        } finally {
          s.experimental.extraOptimizations = prev
          ZoneMapCatalog.clear()
        }
      },
      Some("""SELECT o_orderpriority, count(*) AS n,
             |  CAST(sum(o_custkey) AS BIGINT) AS ck_sum
             |FROM orders WHERE o_orderkey IN (11, 17, 23, 100)
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- DATE-key BLOOM file skipping through the PLANNER: the
    // `l_shipdate IN (a sparse set of days)` warehouse shape over a
    // layout whose files all span the full date range (interleaved by
    // day-of-month residue), where min/max stats cannot separate them.
    // The probe renders each date literal through ZoneMapRender.date —
    // the driver twin of cast(date as string), parity-pinned in
    // ZoneMapSpec, because a mismatched rendering would wrongly DROP
    // files — and the 12-literal list exercises the InSet lowering,
    // whose elements are bare epoch-day ints routed through the
    // ATTRIBUTE's type. Oracle: the full-scan recompute. ----
    Q("q354_zonemap_bloom_date",
      (s, dir) => {
        import graft.operators.ZoneMap
        import graft.plans.{ZoneMapCatalog, ZoneMapPrune}
        val tmp = java.nio.file.Files
          .createTempDirectory("graft_q354_").toString
        val o = t(s, dir, "orders")
          .select(to_date(col("o_orderdate")).as("od"),
            col("o_custkey"), col("o_orderpriority"))
        withLocal(o)(oc => writeSlicesPar(s"$tmp/data",
          (0 to 3).map(i => oc.filter(dayofmonth(col("od")) % 4 === i))))
        ZoneMap.buildZoneMap(s, s"$tmp/data", Seq("o_custkey"),
          s"$tmp/zone", bloomCols = Seq("od"),
          bloomM = 1 << 17, bloomK = 5)
        val prev = s.experimental.extraOptimizations
        s.experimental.extraOptimizations = prev :+ ZoneMapPrune(s)
        try {
          ZoneMapCatalog.register(s, s"$tmp/data", s"$tmp/zone",
            Seq("o_custkey"))
          // day-of-month residues {1, 2} only: the blooms prove the
          // residue-0 and residue-3 files cannot hold any of the dates
          val dates = (Seq(1, 5, 9, 13, 17, 21, 25, 29) ++
            Seq(2, 6, 10, 14))
            .map(d => java.sql.Date.valueOf(f"1996-03-$d%02d"))
          s.read.parquet(s"$tmp/data")
            .filter(col("od").isin(dates: _*))
            .groupBy(col("o_orderpriority"))
            .agg(count(lit(1)).as("n"), sum(col("o_custkey")).as("ck_sum"))
            .localCheckpoint(true) // the prune rule fires HERE
            .orderBy(col("o_orderpriority"))
        } finally {
          s.experimental.extraOptimizations = prev
          ZoneMapCatalog.clear()
        }
      },
      Some("""SELECT o_orderpriority, count(*) AS n,
             |  CAST(sum(o_custkey) AS BIGINT) AS ck_sum
             |FROM orders
             |WHERE CAST(o_orderdate AS DATE) IN (
             |  DATE '1996-03-01', DATE '1996-03-05', DATE '1996-03-09',
             |  DATE '1996-03-13', DATE '1996-03-17', DATE '1996-03-21',
             |  DATE '1996-03-25', DATE '1996-03-29', DATE '1996-03-02',
             |  DATE '1996-03-06', DATE '1996-03-10', DATE '1996-03-14')
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- METADATA-ANSWERED COUNT (ZoneMapPrune.aggFromMeta over the
    // zmmeta v4 min:max:cnt slots): the Iceberg/Delta count-from-
    // manifest optimization — a date-range count(*) over a z-ordered
    // layout partitions the files into disjoint (zero rows, provably),
    // fully-covered (answered from the manifest's per-file non-null
    // counts, zero data read), and boundary (scanned with the filter
    // intact); the rewrite is metaCount + count(boundary scan), and a
    // no-boundary query folds to a one-row LocalRelation with ZERO
    // Spark jobs. ZoneMapSpec pins the null accounting (single-column
    // counts serve cnt, multi-column with nulls refuses to guess), the
    // strict-conjunct gate, the boundary-only inputFiles, the zero-job
    // listener, and the v1-manifest fallback. Oracle: the full-scan
    // recompute. ----
    Q("q358_zonemap_meta_count",
      (s, dir) => {
        import graft.operators.ZoneMap
        import graft.plans.{ZoneMapCatalog, ZoneMapPrune}
        val tmp = java.nio.file.Files
          .createTempDirectory("graft_q358_").toString
        val od = t(s, dir, "orders")
          .select(to_date(col("o_orderdate")).as("od"), col("o_custkey"))
        ZoneMap.writeZOrdered(od, s"$tmp/data", s"$tmp/zone",
          "od", "o_custkey", bits = 8, partitions = 16)
        val prev = s.experimental.extraOptimizations
        s.experimental.extraOptimizations = prev :+ ZoneMapPrune(s)
        try {
          ZoneMapCatalog.register(s, s"$tmp/data", s"$tmp/zone",
            Seq("od", "o_custkey"))
          s.read.parquet(s"$tmp/data")
            .filter(col("od").between(
              lit(java.sql.Date.valueOf("1994-01-01")),
              lit(java.sql.Date.valueOf("1996-12-31"))))
            .agg(count(lit(1)).as("n"))
            .localCheckpoint(true) // the count rewrite fires HERE
        } finally {
          s.experimental.extraOptimizations = prev
          ZoneMapCatalog.clear()
        }
      },
      Some("""SELECT count(*) AS n FROM orders
             |WHERE CAST(o_orderdate AS DATE)
             |  BETWEEN DATE '1994-01-01' AND DATE '1996-12-31'""".stripMargin)),

    // ---- METADATA-ANSWERED MIN/MAX (the same aggFromMeta arm,
    // mixed outputs): a fully-covered file's min(c) IS its manifest
    // min_c (min/max ignore c's own nulls; any OTHER bounded column
    // with nulls forces that file to scan — per-column stats cannot
    // say which rows survive), boundary legs merge through
    // Least/Greatest whose null-skipping is exactly the empty-leg
    // semantics, and the DATE stat unit (epoch days) reconstructs the
    // original DateType value losslessly. ZoneMapSpec pins the typed
    // reconstruction, the boundary-only inputFiles, and the
    // nullable-bounded-column refusal. Oracle: the full-scan
    // recompute. ----
    Q("q359_zonemap_meta_minmax",
      (s, dir) => {
        import graft.operators.ZoneMap
        import graft.plans.{ZoneMapCatalog, ZoneMapPrune}
        val tmp = java.nio.file.Files
          .createTempDirectory("graft_q359_").toString
        val od = t(s, dir, "orders")
          .select(to_date(col("o_orderdate")).as("od"), col("o_custkey"))
        ZoneMap.writeZOrdered(od, s"$tmp/data", s"$tmp/zone",
          "od", "o_custkey", bits = 8, partitions = 16)
        val prev = s.experimental.extraOptimizations
        s.experimental.extraOptimizations = prev :+ ZoneMapPrune(s)
        try {
          ZoneMapCatalog.register(s, s"$tmp/data", s"$tmp/zone",
            Seq("od", "o_custkey"))
          s.read.parquet(s"$tmp/data")
            .filter(col("od").between(
              lit(java.sql.Date.valueOf("1994-01-01")),
              lit(java.sql.Date.valueOf("1996-12-31"))))
            .agg(count(lit(1)).as("n"),
              min(col("od")).as("mn"), max(col("od")).as("mx"),
              min(col("o_custkey")).as("mnc"),
              max(col("o_custkey")).as("mxc"))
            .localCheckpoint(true) // the aggregate rewrite fires HERE
        } finally {
          s.experimental.extraOptimizations = prev
          ZoneMapCatalog.clear()
        }
      },
      Some("""SELECT count(*) AS n,
             |  min(CAST(o_orderdate AS DATE)) AS mn,
             |  max(CAST(o_orderdate AS DATE)) AS mx,
             |  CAST(min(o_custkey) AS BIGINT) AS mnc,
             |  CAST(max(o_custkey) AS BIGINT) AS mxc
             |FROM orders
             |WHERE CAST(o_orderdate AS DATE)
             |  BETWEEN DATE '1994-01-01' AND DATE '1996-12-31'""".stripMargin)),

    // ---- METADATA-ANSWERED SUM/AVG (the same aggFromMeta arm over
    // the zmmeta v5 min:max:cnt:sum slots): the most common dashboard
    // aggregate — `sum(measure) WHERE date BETWEEN …` — served from the
    // manifest for fully-covered files (exact integer sums, addExact,
    // never floats — their sum is addition-order-dependent) and merged
    // with the boundary scan via coalesce(partial,0)+metaSum; AVG
    // decomposes into its exact (sum, count) pair and divides once,
    // null-guarded. Mixed with count/min/max to prove the arms compose
    // in one aggregate. ZoneMapSpec pins the zero-job no-boundary fold,
    // the null-not-zero law, the float refusal, and the v4 fallback
    // (sums unknown → scan, never guess). Oracle: the full-scan
    // recompute. ----
    Q("q360_zonemap_meta_sum",
      (s, dir) => {
        import graft.operators.ZoneMap
        import graft.plans.{ZoneMapCatalog, ZoneMapPrune}
        val tmp = java.nio.file.Files
          .createTempDirectory("graft_q360_").toString
        val od = t(s, dir, "orders")
          .select(to_date(col("o_orderdate")).as("od"), col("o_custkey"))
        ZoneMap.writeZOrdered(od, s"$tmp/data", s"$tmp/zone",
          "od", "o_custkey", bits = 8, partitions = 16)
        val prev = s.experimental.extraOptimizations
        s.experimental.extraOptimizations = prev :+ ZoneMapPrune(s)
        try {
          ZoneMapCatalog.register(s, s"$tmp/data", s"$tmp/zone",
            Seq("od", "o_custkey"))
          s.read.parquet(s"$tmp/data")
            .filter(col("od").between(
              lit(java.sql.Date.valueOf("1994-01-01")),
              lit(java.sql.Date.valueOf("1996-12-31"))))
            .agg(count(lit(1)).as("n"),
              sum(col("o_custkey")).as("sck"),
              avg(col("o_custkey")).as("ack"),
              min(col("o_custkey")).as("mnc"),
              max(col("od")).as("mxd"))
            .localCheckpoint(true) // the aggregate rewrite fires HERE
        } finally {
          s.experimental.extraOptimizations = prev
          ZoneMapCatalog.clear()
        }
      },
      Some("""SELECT count(*) AS n,
             |  CAST(sum(o_custkey) AS BIGINT) AS sck,
             |  avg(o_custkey) AS ack,
             |  CAST(min(o_custkey) AS BIGINT) AS mnc,
             |  max(CAST(o_orderdate AS DATE)) AS mxd
             |FROM orders
             |WHERE CAST(o_orderdate AS DATE)
             |  BETWEEN DATE '1994-01-01' AND DATE '1996-12-31'""".stripMargin)),

    // ---- PLANNER-INJECTED RUNTIME FILTER, IN path (RuntimeFilterJoin):
    // the selective fact⋈dim join made cheap for free — the dim side's
    // 39 distinct keys (p_size = 7) collect once at plan time and land
    // as an exact `l_partkey IN (...)` merged into the fact side's
    // filter, which (a) pushes to the parquet scan as row-group
    // filters and (b) composes with ZoneMapPrune's per-literal
    // survivor union to FILE-skip the z-ordered fact layout — rows
    // that cannot join never reach the exchange, files that cannot
    // hold them never open. Oracle: the plain unreduced join — the
    // hash proves the reduction loses nothing. RuntimeFilterSpec pins
    // the injected plan shape, the strict file subset, and the
    // refusals. ----
    Q("q355_runtime_filter_join",
      (s, dir) => {
        import graft.operators.ZoneMap
        import graft.plans.{RuntimeFilterJoin, ZoneMapCatalog, ZoneMapPrune}
        val tmp = java.nio.file.Files
          .createTempDirectory("graft_q355_").toString
        val l = t(s, dir, "lineitem")
          .select(col("l_partkey"), col("l_suppkey"), col("l_quantity"),
            col("l_extendedprice"))
        ZoneMap.writeZOrdered(l, s"$tmp/data", s"$tmp/zone",
          "l_partkey", "l_suppkey", bits = 8, partitions = 16)
        val prev = s.experimental.extraOptimizations
        s.experimental.extraOptimizations =
          prev :+ RuntimeFilterJoin(s) :+ ZoneMapPrune(s)
        s.conf.set("spark.graft.runtimeFilters.enabled", "true")
        try {
          ZoneMapCatalog.register(s, s"$tmp/data", s"$tmp/zone",
            Seq("l_partkey", "l_suppkey"))
          s.read.parquet(s"$tmp/data")
            .join(t(s, dir, "part").filter(col("p_size") === 7),
              col("l_partkey") === col("p_partkey"))
            .groupBy(col("p_brand"))
            .agg(count(lit(1)).as("n"),
              sum(col("l_quantity").cast("long")).as("qty"),
              round(sum(col("l_extendedprice")), 2).as("rev"))
            .localCheckpoint(true) // injection + pruning fire HERE
            .orderBy(col("p_brand"))
        } finally {
          s.experimental.extraOptimizations = prev
          s.conf.unset("spark.graft.runtimeFilters.enabled")
          ZoneMapCatalog.clear()
        }
      },
      Some("""SELECT p_brand, count(*) AS n,
             |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty,
             |  round(sum(l_extendedprice), 2) AS rev
             |FROM lineitem JOIN part ON l_partkey = p_partkey
             |WHERE p_size = 7
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- RUNTIME FILTER, BLOOM path (maxInKeys = 0 forces it): the
    // same join with the key set folded into broadcast bit-words and a
    // StaticInvoke of BloomKm.probe — Kirsch–Mitzenmacher double
    // hashing, ONE md5 + k bit tests per fact row, the SAME code path
    // the driver fold ran (parity by construction; the r18 shape was
    // five full md5 calls per row and measured as the path's dominant
    // cost) — dropping non-joining fact rows inside the scan's codegen
    // filter. False-positive-only, so the reduced join hash-equals the
    // plain join (the oracle). The path a 100 TB fact takes when the
    // dim's key set outgrows an IN list. ----
    Q("q356_runtime_filter_bloom",
      (s, dir) => {
        import graft.plans.RuntimeFilterJoin
        val prev = s.experimental.extraOptimizations
        s.experimental.extraOptimizations = prev :+ RuntimeFilterJoin(s)
        s.conf.set("spark.graft.runtimeFilters.enabled", "true")
        s.conf.set("spark.graft.runtimeFilters.maxInKeys", "0")
        try {
          t(s, dir, "lineitem")
            .join(t(s, dir, "part").filter(col("p_size") === 7),
              col("l_partkey") === col("p_partkey"))
            .groupBy(col("p_brand"))
            .agg(count(lit(1)).as("n"),
              sum(col("l_quantity").cast("long")).as("qty"),
              round(sum(col("l_extendedprice")), 2).as("rev"))
            .localCheckpoint(true) // the bloom injection fires HERE
            .orderBy(col("p_brand"))
        } finally {
          s.experimental.extraOptimizations = prev
          s.conf.unset("spark.graft.runtimeFilters.enabled")
          s.conf.unset("spark.graft.runtimeFilters.maxInKeys")
        }
      },
      Some("""SELECT p_brand, count(*) AS n,
             |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty,
             |  round(sum(l_extendedprice), 2) AS rev
             |FROM lineitem JOIN part ON l_partkey = p_partkey
             |WHERE p_size = 7
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- METADATA-ANSWERED `IS NULL` COUNT (the aggFromMeta arm's
    // complement conjunct): `count(*) WHERE c IS NULL` is answerable
    // per covered file as `n − cnt_c` — the manifest already carries
    // both numbers — composed under the general survivor-subset law
    // (at most ONE proper subset per file, else boundary-scan). Here
    // every file is covered w.r.t. the custkey range, so the whole
    // count folds to a zero-job LocalRelation. ZoneMapSpec pins the
    // boundary merge, the all-null and null-free edge files, the
    // two-proper-subsets refusal, and the min/max refusal under an
    // active IS NULL. Oracle: the full-scan recompute. ----
    Q("q363_zonemap_meta_isnull",
      (s, dir) => {
        import graft.operators.ZoneMap
        import graft.plans.{ZoneMapCatalog, ZoneMapPrune}
        val tmp = java.nio.file.Files
          .createTempDirectory("graft_q363_").toString
        val od = t(s, dir, "orders").select(
          when(col("o_orderkey") % 5 === 0, lit(null).cast("date"))
            .otherwise(to_date(col("o_orderdate"))).as("od"),
          col("o_custkey"), col("o_orderkey"))
        withLocal(od)(odc => writeSlicesPar(s"$tmp/data",
          (0 until 4).map(i => odc.filter(col("o_orderkey") % 4 === i))))
        ZoneMap.buildZoneMap(s, s"$tmp/data", Seq("od", "o_custkey"),
          s"$tmp/zone")
        val prev = s.experimental.extraOptimizations
        s.experimental.extraOptimizations = prev :+ ZoneMapPrune(s)
        try {
          ZoneMapCatalog.register(s, s"$tmp/data", s"$tmp/zone",
            Seq("od", "o_custkey"))
          s.read.parquet(s"$tmp/data")
            .filter(col("od").isNull && col("o_custkey") >= 1L)
            .agg(count(lit(1)).as("n"))
            .localCheckpoint(true) // the IS NULL count rewrite fires HERE
        } finally {
          s.experimental.extraOptimizations = prev
          ZoneMapCatalog.clear()
        }
      },
      Some("""SELECT count(*) AS n FROM orders
             |WHERE (CASE WHEN o_orderkey % 5 = 0 THEN NULL
             |       ELSE CAST(o_orderdate AS DATE) END) IS NULL
             |  AND o_custkey >= 1""".stripMargin)),

    // ---- RUNTIME FILTER, BLOOM path × ZONE-MAP FILE SKIPPING
    // (maxInKeys = 0 forces the bloom): past the IN cap the injected
    // probe predicate is opaque to ZoneMapPrune's harvest, so the rule
    // hands its bounded key set to the manifest DIRECTLY (sorted keys
    // + one binary search per file, driver-only) and swaps the fact
    // scan for its survivor files — a >maxInKeys dim still file-skips
    // the z-ordered fact layout, with the bloom kept as the row-level
    // residual. Oracle: the plain unreduced join. RuntimeFilterSpec
    // pins the strict inputFiles subset, the md5 residual, the
    // unregistered predicate-only fallback, and the empty-intersection
    // zero-file swap. ----
    Q("q362_runtime_filter_bloom_zm",
      (s, dir) => {
        import graft.operators.ZoneMap
        import graft.plans.{RuntimeFilterJoin, ZoneMapCatalog, ZoneMapPrune}
        val tmp = java.nio.file.Files
          .createTempDirectory("graft_q362_").toString
        val l = t(s, dir, "lineitem")
          .select(col("l_partkey"), col("l_suppkey"), col("l_quantity"),
            col("l_extendedprice"))
        ZoneMap.writeZOrdered(l, s"$tmp/data", s"$tmp/zone",
          "l_partkey", "l_suppkey", bits = 8, partitions = 16)
        val prev = s.experimental.extraOptimizations
        s.experimental.extraOptimizations =
          prev :+ RuntimeFilterJoin(s) :+ ZoneMapPrune(s)
        s.conf.set("spark.graft.runtimeFilters.enabled", "true")
        s.conf.set("spark.graft.runtimeFilters.maxInKeys", "0")
        try {
          ZoneMapCatalog.register(s, s"$tmp/data", s"$tmp/zone",
            Seq("l_partkey", "l_suppkey"))
          s.read.parquet(s"$tmp/data")
            .join(t(s, dir, "part").filter(col("p_size") === 7),
              col("l_partkey") === col("p_partkey"))
            .groupBy(col("p_brand"))
            .agg(count(lit(1)).as("n"),
              sum(col("l_quantity").cast("long")).as("qty"),
              round(sum(col("l_extendedprice")), 2).as("rev"))
            .localCheckpoint(true) // bloom injection + file skip fire HERE
            .orderBy(col("p_brand"))
        } finally {
          s.experimental.extraOptimizations = prev
          s.conf.unset("spark.graft.runtimeFilters.enabled")
          s.conf.unset("spark.graft.runtimeFilters.maxInKeys")
          ZoneMapCatalog.clear()
        }
      },
      Some("""SELECT p_brand, count(*) AS n,
             |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty,
             |  round(sum(l_extendedprice), 2) AS rev
             |FROM lineitem JOIN part ON l_partkey = p_partkey
             |WHERE p_size = 7
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- GROUPED METADATA COUNTS over a CLUSTERED layout (the
    // daily-counts dashboard shape, aggFromMeta): files
    // written one-per-priority are SINGLE-VALUED in the group key
    // (min == max in the manifest), so their per-group counts answer
    // from metadata and only the deliberately-mixed file scans; the
    // merge is Aggregate(g, sum(partial)) over the UNION of the
    // boundary scan's grouped counts and the driver-side group map —
    // per-group addition, exactly how partial counts compose.
    // ZoneMapSpec pins the zero-job all-single-valued fold, the
    // null-group handling, and the refusals. Oracle: the full-scan
    // recompute. ----
    Q("q364_zonemap_grouped_count",
      (s, dir) => {
        import graft.operators.ZoneMap
        import graft.plans.{ZoneMapCatalog, ZoneMapPrune}
        val tmp = java.nio.file.Files
          .createTempDirectory("graft_q364_").toString
        val o = t(s, dir, "orders").select(
          col("o_orderpriority").as("pri"),
          to_date(col("o_orderdate")).as("od"), col("o_orderkey"))
        withLocal(o) { oc =>
          val ps = oc.select(col("pri")).distinct()
            .collect().map(_.getString(0)).sorted
          // one file per priority (single-valued in the group key) for
          // the bulk, one MIXED file carrying a 5% sample (boundary)
          writeSlicesPar(s"$tmp/data",
            ps.map(p => oc
              .filter(col("pri") === p && col("o_orderkey") % 20 =!= 0))
              :+ oc.filter(col("o_orderkey") % 20 === 0))
        }
        ZoneMap.buildZoneMap(s, s"$tmp/data", Seq("pri", "od"),
          s"$tmp/zone")
        val prev = s.experimental.extraOptimizations
        s.experimental.extraOptimizations = prev :+ ZoneMapPrune(s)
        try {
          ZoneMapCatalog.register(s, s"$tmp/data", s"$tmp/zone",
            Seq("pri", "od"))
          s.read.parquet(s"$tmp/data")
            .filter(col("od") >= lit(java.sql.Date.valueOf("1992-01-01")))
            .groupBy(col("pri"))
            .agg(count(lit(1)).as("n"))
            .localCheckpoint(true) // the grouped rewrite fires HERE
            .orderBy(col("pri"))
        } finally {
          s.experimental.extraOptimizations = prev
          ZoneMapCatalog.clear()
        }
      },
      Some("""SELECT o_orderpriority AS pri, count(*) AS n
             |FROM orders
             |WHERE CAST(o_orderdate AS DATE) >= DATE '1992-01-01'
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- GROUPED METADATA SUM/AVG (the grouped arm's full dashboard
    // shape): per-priority single-valued files serve count, the exact
    // v5 integer sum, AND the average's (double-sum, count) slot pair
    // from the manifest; the mixed file's partial aggregates merge by
    // one per-group Sum per slot over the Union — no per-output
    // special cases. Oracle: the full-scan recompute. ----
    Q("q365_zonemap_grouped_sum",
      (s, dir) => {
        import graft.operators.ZoneMap
        import graft.plans.{ZoneMapCatalog, ZoneMapPrune}
        val tmp = java.nio.file.Files
          .createTempDirectory("graft_q365_").toString
        val o = t(s, dir, "orders").select(
          col("o_orderpriority").as("pri"),
          to_date(col("o_orderdate")).as("od"),
          col("o_custkey"), col("o_orderkey"))
        withLocal(o) { oc =>
          val ps = oc.select(col("pri")).distinct()
            .collect().map(_.getString(0)).sorted
          writeSlicesPar(s"$tmp/data",
            ps.map(p => oc
              .filter(col("pri") === p && col("o_orderkey") % 20 =!= 0))
              :+ oc.filter(col("o_orderkey") % 20 === 0))
        }
        ZoneMap.buildZoneMap(s, s"$tmp/data",
          Seq("pri", "od", "o_custkey"), s"$tmp/zone")
        val prev = s.experimental.extraOptimizations
        s.experimental.extraOptimizations = prev :+ ZoneMapPrune(s)
        try {
          ZoneMapCatalog.register(s, s"$tmp/data", s"$tmp/zone",
            Seq("pri", "od", "o_custkey"))
          s.read.parquet(s"$tmp/data")
            .filter(col("od") >= lit(java.sql.Date.valueOf("1992-01-01")))
            .groupBy(col("pri"))
            .agg(count(lit(1)).as("n"),
              sum(col("o_custkey")).as("sck"),
              avg(col("o_custkey")).as("ack"))
            .localCheckpoint(true) // the grouped sum rewrite fires HERE
            .orderBy(col("pri"))
        } finally {
          s.experimental.extraOptimizations = prev
          ZoneMapCatalog.clear()
        }
      },
      Some("""SELECT o_orderpriority AS pri, count(*) AS n,
             |  CAST(sum(o_custkey) AS BIGINT) AS sck,
             |  avg(o_custkey) AS ack
             |FROM orders
             |WHERE CAST(o_orderdate AS DATE) >= DATE '1992-01-01'
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- DECIMAL METADATA AGGREGATES (zmmeta v6 unscaled-long slots):
    // the revenue half of the dashboard — count/sum/avg/min/max over a
    // DECIMAL(12,2) money column on a date-clustered layout. The v6
    // manifest stores each file's decimal min/max/sum as EXACT unscaled
    // longs ([[ZoneMap.statExpr]]), covered files serve from them
    // (sum reconstructs as Decimal(p+10, s); avg evaluates Spark's OWN
    // average expression over the exact (sum, count) pair — no division
    // twin), boundary files scan and merge. The avg output renders as a
    // STRING on both sides so the oracle can replicate Spark's two-step
    // HALF_UP decimal division with exact integer arithmetic (DuckDB's
    // own avg(decimal) is a double — numerically different at the last
    // digit). ZoneMapSpec pins the no-boundary zero-job fold, the
    // v5-carry refusal (a pre-v6 manifest's decimal image is lossy),
    // and the wide-decimal build refusal. Oracle: the full-scan
    // recompute. ----
    Q("q366_zonemap_meta_decimal",
      (s, dir) => {
        import graft.operators.{ZOrder, ZoneMap}
        import graft.plans.{ZoneMapCatalog, ZoneMapPrune}
        import org.apache.spark.sql.types.DecimalType
        val tmp = java.nio.file.Files
          .createTempDirectory("graft_q366_").toString
        // quarter-valued money built from integers: k·25/100 is exact
        // in double (dyadic) and casts to DECIMAL(12,2) losslessly, so
        // Spark and the DuckDB oracle construct identical decimals
        val o = t(s, dir, "orders").select(
          to_date(col("o_orderdate")).as("od"), col("o_custkey"),
          ((col("o_orderkey") % 400000) * 25 / 100.0)
            .cast(DecimalType(12, 2)).as("price"))
        ZOrder.layout(o, "od", "o_custkey", 8, 16).drop("__z")
          .write.mode("overwrite").parquet(s"$tmp/data")
        ZoneMap.buildZoneMap(s, s"$tmp/data",
          Seq("od", "o_custkey", "price"), s"$tmp/zone")
        val prev = s.experimental.extraOptimizations
        s.experimental.extraOptimizations = prev :+ ZoneMapPrune(s)
        try {
          ZoneMapCatalog.register(s, s"$tmp/data", s"$tmp/zone",
            Seq("od", "o_custkey", "price"))
          s.read.parquet(s"$tmp/data")
            .filter(col("od").between(
              lit(java.sql.Date.valueOf("1994-01-01")),
              lit(java.sql.Date.valueOf("1996-12-31"))))
            .agg(count(lit(1)).as("n"),
              sum(col("price")).as("sp"),
              avg(col("price")).as("vp"),
              min(col("price")).as("mnp"),
              max(col("price")).as("mxp"))
            // sum(DECIMAL(12,2)) is DECIMAL(22,2) in Spark but
            // DECIMAL(38,2) in DuckDB — same value, different type; the
            // string image is the type-canonical form (as vp below)
            .select(col("n"), col("sp").cast("string").as("sp"),
              col("vp").cast("string").as("vp"),
              col("mnp"), col("mxp"))
            .localCheckpoint(true) // the decimal metadata arm fires HERE
        } finally {
          s.experimental.extraOptimizations = prev
          ZoneMapCatalog.clear()
        }
      },
      // the avg leg replicates Spark's decimal Average EXACTLY in
      // integer arithmetic: divide the unscaled scale-2 sum at scale 18
      // (the precision-adjusted Divide's scale), HALF_UP, then round to
      // the result scale 6, HALF_UP — pinned against pyspark over a
      // 214-case matrix including constructed halfway quotients
      Some("""WITH f AS (
             |  SELECT CAST((o_orderkey % 400000) * 25 / 100.0
             |           AS DECIMAL(12,2)) AS price
             |  FROM orders
             |  WHERE CAST(o_orderdate AS DATE)
             |    BETWEEN DATE '1994-01-01' AND DATE '1996-12-31'),
             |agg AS (
             |  SELECT count(*) AS n, sum(price) AS sp,
             |         min(price) AS mnp, max(price) AS mxp,
             |         CAST(sum(price) * 100 AS HUGEINT) AS u,
             |         count(price) AS k
             |  FROM f),
             |q18 AS (
             |  SELECT *,
             |    (2 * u * 10000000000000000 + k) // (2 * k) AS q1
             |  FROM agg)
             |SELECT n, CAST(sp AS VARCHAR) AS sp,
             |  printf('%d.%06d',
             |    CAST(((2 * q1 + 1000000000000) // 2000000000000)
             |         // 1000000 AS BIGINT),
             |    CAST(((2 * q1 + 1000000000000) // 2000000000000)
             |         % 1000000 AS BIGINT)) AS vp,
             |  mnp, mxp
             |FROM q18""".stripMargin)),

    // ---- TPC-H Q1 THROUGH THE GROUPED METADATA ARM: multi-key string
    // grouping (returnflag × linestatus), count, long sum, long avg,
    // DECIMAL sum/avg (v6 unscaled slots + Spark's own division),
    // decimal min and date max — on a flag-clustered layout every
    // per-pair file is single-valued in BOTH keys and serves every
    // slot from the manifest; only the 5% mixed file scans and merges
    // through the per-slot Union aggregates. The canonical warehouse
    // rollup as a metadata read. ZoneMapSpec pins the multi-key law,
    // the NULL group, and the refusals. Oracle: the full-scan
    // recompute (decimal avg via the exact two-step HALF_UP integer
    // replication, as q366). ----
    Q("q367_zonemap_grouped_q1",
      (s, dir) => {
        import graft.operators.ZoneMap
        import graft.plans.{ZoneMapCatalog, ZoneMapPrune}
        import org.apache.spark.sql.types.DecimalType
        val tmp = java.nio.file.Files
          .createTempDirectory("graft_q367_").toString
        val l = t(s, dir, "lineitem").select(
          col("l_returnflag").as("flag"), col("l_linestatus").as("st"),
          col("l_quantity").cast("long").as("qty"),
          (((col("l_orderkey") * 4 + col("l_linenumber")) % 400000)
            * 25 / 100.0).cast(DecimalType(12, 2)).as("price"),
          to_date(col("l_shipdate")).as("od"),
          col("l_orderkey"))
        withLocal(l) { lc =>
          val pairs = lc.select(col("flag"), col("st")).distinct()
            .collect().map(r => (r.getString(0), r.getString(1))).sorted
          writeSlicesPar(s"$tmp/data",
            pairs.toSeq.map { case (f0, s0) => lc
              .filter(col("flag") === f0 && col("st") === s0 &&
                col("l_orderkey") % 20 =!= 0)
              .drop("l_orderkey")
            } :+ lc.filter(col("l_orderkey") % 20 === 0).drop("l_orderkey"))
        }
        ZoneMap.buildZoneMap(s, s"$tmp/data",
          Seq("flag", "st", "qty", "price", "od"), s"$tmp/zone")
        val prev = s.experimental.extraOptimizations
        s.experimental.extraOptimizations = prev :+ ZoneMapPrune(s)
        try {
          ZoneMapCatalog.register(s, s"$tmp/data", s"$tmp/zone",
            Seq("flag", "st", "qty", "price", "od"))
          s.read.parquet(s"$tmp/data")
            .filter(col("od") >= lit(java.sql.Date.valueOf("1992-01-01")))
            .groupBy(col("flag"), col("st"))
            .agg(count(lit(1)).as("n"), sum(col("qty")).as("sq"),
              avg(col("qty")).as("vq"), sum(col("price")).as("sp"),
              avg(col("price")).as("vp"), min(col("price")).as("mnp"),
              max(col("od")).as("mxd"))
            // decimal sum rendered as its string image (type-canonical:
            // Spark DECIMAL(22,2) vs DuckDB DECIMAL(38,2), equal values)
            .select(col("flag"), col("st"), col("n"), col("sq"),
              col("vq"), col("sp").cast("string").as("sp"),
              col("vp").cast("string").as("vp"),
              col("mnp"), col("mxd"))
            .localCheckpoint(true) // the multi-key grouped arm fires HERE
            .orderBy(col("flag"), col("st"))
        } finally {
          s.experimental.extraOptimizations = prev
          ZoneMapCatalog.clear()
        }
      },
      Some("""WITH f AS (
             |  SELECT l_returnflag AS flag, l_linestatus AS st,
             |    CAST(l_quantity AS BIGINT) AS qty,
             |    CAST(((l_orderkey*4 + l_linenumber) % 400000) * 25
             |         / 100.0 AS DECIMAL(12,2)) AS price,
             |    CAST(l_shipdate AS DATE) AS od
             |  FROM lineitem
             |  WHERE CAST(l_shipdate AS DATE) >= DATE '1992-01-01'),
             |a AS (
             |  SELECT flag, st, count(*) AS n, sum(qty) AS sq,
             |    avg(qty) AS vq, sum(price) AS sp, min(price) AS mnp,
             |    max(od) AS mxd,
             |    CAST(sum(price) * 100 AS HUGEINT) AS u,
             |    count(price) AS k
             |  FROM f GROUP BY 1, 2),
             |b AS (SELECT *,
             |  (2 * u * 10000000000000000 + k) // (2 * k) AS q1
             |  FROM a)
             |SELECT flag, st, n, CAST(sq AS BIGINT) AS sq, vq,
             |  CAST(sp AS VARCHAR) AS sp,
             |  printf('%d.%06d',
             |    CAST(((2*q1 + 1000000000000) // 2000000000000)
             |         // 1000000 AS BIGINT),
             |    CAST(((2*q1 + 1000000000000) // 2000000000000)
             |         % 1000000 AS BIGINT)) AS vp,
             |  mnp, mxd
             |FROM b ORDER BY flag, st""".stripMargin)),

    // ---- MONTHLY ROLLUP THROUGH A MONOTONE EXPRESSION KEY:
    // `GROUP BY trunc(od, 'mm')` over a month-clustered layout — a
    // file whose od bounds truncate to the SAME month is provably
    // single-valued in the month even when its days span, so it
    // serves its group from the manifest (the value evaluated through
    // Spark's own trunc); the mixed file scans. The witness refuses
    // non-constant spans (a 13-month wrap with equal month NUMBERS is
    // pinned refused in ZoneMapSpec, with year/date_trunc/dayofmonth
    // variants). Oracle: the full-scan recompute. ----
    Q("q368_zonemap_grouped_month",
      (s, dir) => {
        import graft.operators.ZoneMap
        import graft.plans.{ZoneMapCatalog, ZoneMapPrune}
        val tmp = java.nio.file.Files
          .createTempDirectory("graft_q368_").toString
        val o = t(s, dir, "orders").select(
          to_date(col("o_orderdate")).as("od"),
          col("o_custkey"), col("o_orderkey"))
          .filter(col("od") >= lit(java.sql.Date.valueOf("1995-01-01")) &&
            col("od") < lit(java.sql.Date.valueOf("1997-01-01")))
        withLocal(o) { oc =>
          val yms = oc.select((year(col("od")) * 100 + month(col("od")))
            .as("ym")).distinct().collect().map(_.getInt(0)).sorted
          writeSlicesPar(s"$tmp/data",
            yms.toSeq.map(ym => oc
              .filter(year(col("od")) * 100 + month(col("od")) === ym &&
                col("o_orderkey") % 20 =!= 0)
              .drop("o_orderkey"))
              :+ oc.filter(col("o_orderkey") % 20 === 0).drop("o_orderkey"))
        }
        ZoneMap.buildZoneMap(s, s"$tmp/data", Seq("od", "o_custkey"),
          s"$tmp/zone")
        val prev = s.experimental.extraOptimizations
        s.experimental.extraOptimizations = prev :+ ZoneMapPrune(s)
        try {
          ZoneMapCatalog.register(s, s"$tmp/data", s"$tmp/zone",
            Seq("od", "o_custkey"))
          s.read.parquet(s"$tmp/data")
            .filter(col("od") >= lit(java.sql.Date.valueOf("1995-01-01")))
            .groupBy(trunc(col("od"), "mm").as("m"))
            .agg(count(lit(1)).as("n"), sum(col("o_custkey")).as("sck"),
              avg(col("o_custkey")).as("ack"))
            .localCheckpoint(true) // the expression-key arm fires HERE
            .orderBy(col("m"))
        } finally {
          s.experimental.extraOptimizations = prev
          ZoneMapCatalog.clear()
        }
      },
      Some("""SELECT date_trunc('month', CAST(o_orderdate AS DATE)) AS m,
             |  count(*) AS n, CAST(sum(o_custkey) AS BIGINT) AS sck,
             |  avg(o_custkey) AS ack
             |FROM orders
             |WHERE CAST(o_orderdate AS DATE) >= DATE '1995-01-01'
             |  AND CAST(o_orderdate AS DATE) < DATE '1997-01-01'
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- SEMI-JOIN ELIMINATION × METADATA AGGREGATE (the
    // runtime-filter/metadata-arm composition): a LEFT SEMI against a
    // filtered dim with a single equi-pair harvests the dim's COMPLETE
    // key set into an exact IN — which IS the semi semantics, so
    // RuntimeFilterJoin drops the join node entirely — and the
    // IN-aware aggregate gate then answers count/sum/avg/min/max
    // ABOVE what used to be a join: per file, a key-clustered
    // single-valued member serves from the manifest, a no-member span
    // is per-literal disjoint, spans holding a member boundary-scan.
    // "Total revenue for the region's nations" with the exchange, the
    // build side, AND most of the scan gone. RuntimeFilterSpec pins
    // the no-Join plan, the zero-scan fold, and the bloom/multi-
    // conjunct refusals. Oracle: the plain semi-join recompute. ----
    Q("q369_semi_eliminate_meta_agg",
      (s, dir) => {
        import graft.operators.ZoneMap
        import graft.plans.{RuntimeFilterJoin, ZoneMapCatalog, ZoneMapPrune}
        val tmp = java.nio.file.Files
          .createTempDirectory("graft_q369_").toString
        val f = t(s, dir, "orders").select(
          (col("o_custkey") % 25).as("nk"), col("o_custkey").as("v"))
        // hash-clustered by key: most files single-valued in nk, hash
        // collisions leave some multi-key files (the boundary path)
        f.repartition(25, col("nk"))
          .write.mode("overwrite").parquet(s"$tmp/data")
        ZoneMap.buildZoneMap(s, s"$tmp/data", Seq("nk", "v"),
          s"$tmp/zone")
        val prev = s.experimental.extraOptimizations
        s.experimental.extraOptimizations =
          prev :+ RuntimeFilterJoin(s) :+ ZoneMapPrune(s)
        s.conf.set("spark.graft.runtimeFilters.enabled", "true")
        try {
          ZoneMapCatalog.register(s, s"$tmp/data", s"$tmp/zone",
            Seq("nk", "v"))
          s.read.parquet(s"$tmp/data")
            .join(t(s, dir, "nation").filter(col("n_regionkey") === 2),
              col("nk") === col("n_nationkey"), "left_semi")
            .agg(count(lit(1)).as("n"), sum(col("v")).as("sv"),
              avg(col("v")).as("av"), min(col("v")).as("mnv"),
              max(col("nk")).as("mxk"))
            .localCheckpoint(true) // elimination + metadata agg fire HERE
        } finally {
          s.experimental.extraOptimizations = prev
          s.conf.unset("spark.graft.runtimeFilters.enabled")
          ZoneMapCatalog.clear()
        }
      },
      Some("""SELECT count(*) AS n,
             |  CAST(sum(o_custkey) AS BIGINT) AS sv,
             |  avg(o_custkey) AS av,
             |  CAST(min(o_custkey) AS BIGINT) AS mnv,
             |  CAST(max(o_custkey % 25) AS BIGINT) AS mxk
             |FROM orders
             |WHERE (o_custkey % 25) IN
             |  (SELECT n_nationkey FROM nation WHERE n_regionkey = 2)"""
        .stripMargin)),

    // ---- DECIMAL RANGE PRUNING (v6 as a first-class filter unit):
    // the money column is a z-order CLUSTER DIMENSION (its unscaled
    // long image feeds the bit interleave like any integral), and a
    // plain `.filter(price BETWEEN ...)` extracts decimal literals at
    // the column scale (exact rescale or residual-only) to open only
    // the files whose unscaled span intersects — with the metadata-
    // aggregate arm composing on top: covered files serve
    // count/sum/min/max, boundary files scan and merge. ZoneMapSpec
    // pins range/strict/IN/coerced-int extraction, the file-aligned
    // zero-scan fold, and the UnwrapCast composition. Oracle: the
    // full-scan recompute. ----
    Q("q370_zonemap_decimal_prune",
      (s, dir) => {
        import graft.operators.{ZOrder, ZoneMap}
        import graft.plans.{ZoneMapCatalog, ZoneMapPrune}
        import org.apache.spark.sql.types.DecimalType
        val tmp = java.nio.file.Files
          .createTempDirectory("graft_q370_").toString
        val o = t(s, dir, "orders").select(
          ((col("o_orderkey") % 400000) * 25 / 100.0)
            .cast(DecimalType(12, 2)).as("price"),
          to_date(col("o_orderdate")).as("od"), col("o_custkey"))
        ZOrder.layout(o, "price", "od", 8, 16).drop("__z")
          .write.mode("overwrite").parquet(s"$tmp/data")
        ZoneMap.buildZoneMap(s, s"$tmp/data",
          Seq("price", "od", "o_custkey"), s"$tmp/zone")
        val prev = s.experimental.extraOptimizations
        s.experimental.extraOptimizations = prev :+ ZoneMapPrune(s)
        try {
          ZoneMapCatalog.register(s, s"$tmp/data", s"$tmp/zone",
            Seq("price", "od", "o_custkey"))
          s.read.parquet(s"$tmp/data")
            .filter(col("price").between(
              lit(java.math.BigDecimal.valueOf(100000, 2)),
              lit(java.math.BigDecimal.valueOf(400000, 2))))
            .agg(count(lit(1)).as("n"), sum(col("price")).as("sp"),
              min(col("od")).as("mnd"), max(col("price")).as("mxp"))
            // decimal sum rendered as its string image (type-canonical:
            // Spark DECIMAL(22,2) vs DuckDB DECIMAL(38,2), equal values)
            .select(col("n"), col("sp").cast("string").as("sp"),
              col("mnd"), col("mxp"))
            .localCheckpoint(true) // decimal prune + metadata agg fire HERE
        } finally {
          s.experimental.extraOptimizations = prev
          ZoneMapCatalog.clear()
        }
      },
      Some("""SELECT count(*) AS n,
             |  CAST(sum(price) AS VARCHAR) AS sp,
             |  min(od) AS mnd, max(price) AS mxp
             |FROM (SELECT CAST((o_orderkey % 400000) * 25 / 100.0
             |               AS DECIMAL(12,2)) AS price,
             |             CAST(o_orderdate AS DATE) AS od
             |      FROM orders)
             |WHERE price BETWEEN CAST('1000.00' AS DECIMAL(12,2))
             |  AND CAST('4000.00' AS DECIMAL(12,2))""".stripMargin)),

    // ---- RUNTIME FILTER through a WIDENING CAST (the real-schema
    // norm): the fact key is INT, the dim key BIGINT, so the analyzer
    // compares `cast(lpk as bigint) = p_partkey` — the r18 rule refused
    // this shape. Now the injective widening unwraps: keys harvest on
    // the bare dim column, render through the cast INVERSE (a long
    // outside int range is unmatchable and drops — no int can widen
    // onto it), and the IN lands on the BARE int fact column where the
    // scan filter lives. Oracle: the plain unreduced join. Spec pins
    // the injected type/arity, the dim-side-cast twin, the date=ts
    // midnight rendering, and the narrowing refusal. ----
    Q("q361_runtime_filter_cast",
      (s, dir) => {
        import graft.plans.RuntimeFilterJoin
        val prev = s.experimental.extraOptimizations
        s.experimental.extraOptimizations = prev :+ RuntimeFilterJoin(s)
        s.conf.set("spark.graft.runtimeFilters.enabled", "true")
        try {
          t(s, dir, "lineitem")
            .select(col("l_partkey").cast("int").as("lpk"),
              col("l_quantity"), col("l_extendedprice"))
            .join(t(s, dir, "part").filter(col("p_size") === 7),
              col("lpk") === col("p_partkey"))
            .groupBy(col("p_brand"))
            .agg(count(lit(1)).as("n"),
              sum(col("l_quantity").cast("long")).as("qty"),
              round(sum(col("l_extendedprice")), 2).as("rev"))
            .localCheckpoint(true) // the cast-unwrapped injection fires HERE
            .orderBy(col("p_brand"))
        } finally {
          s.experimental.extraOptimizations = prev
          s.conf.unset("spark.graft.runtimeFilters.enabled")
        }
      },
      Some("""SELECT p_brand, count(*) AS n,
             |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty,
             |  round(sum(l_extendedprice), 2) AS rev
             |FROM lineitem JOIN part ON CAST(l_partkey AS INTEGER) = p_partkey
             |WHERE p_size = 7
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- TPC-H Q5 shape: 5-way join, date filter, revenue per nation.
    // All dimensions broadcast; lineitem (the only big table) shuffles
    // once for the final aggregation only.
    Q("q25_nation_volume",
      (s, dir) => {
        val l = t(s, dir, "lineitem")
        val o = t(s, dir, "orders")
          .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
            col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
        val c = t(s, dir, "customer")
        val n = t(s, dir, "nation")
        val r = t(s, dir, "region")
        l.join(o, l("l_orderkey") === o("o_orderkey"))
          .join(broadcast(c), o("o_custkey") === c("c_custkey"))
          .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
          .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
          .groupBy(col("r_name"), col("n_name"))
          .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"),
            count(lit(1)).as("n"))
          .orderBy(col("r_name"), col("n_name"))
      },
      Some("""SELECT r_name, n_name,
             |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
             |  count(*) AS n
             |FROM lineitem
             |JOIN orders ON l_orderkey = o_orderkey
             |JOIN customer ON o_custkey = c_custkey
             |JOIN nation ON c_nationkey = n_nationkey
             |JOIN region ON n_regionkey = r_regionkey
             |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
             |  AND o_orderdate < TIMESTAMP '1998-01-01'
             |GROUP BY r_name, n_name
             |ORDER BY r_name, n_name""".stripMargin)),

    // ---- Conditional aggregates via FILTER (WHERE ...) — one scan, many
    // filtered measures (the idiomatic alternative to N passes). ----
    Q("q26_filtered_aggs",
      (s, dir) => {
        t(s, dir, "lineitem")
          .groupBy(col("l_returnflag"))
          .agg(
            count(lit(1)).as("n_all"),
            count(when(col("l_discount") > 0.05, 1)).as("n_disc"),
            round(sum(when(col("l_quantity") > 25, col("l_extendedprice"))), 2).as("rev_bulk"),
            round(avg(when(col("l_tax") > 0.04, col("l_extendedprice"))), 4).as("avg_taxed"))
          .orderBy(col("l_returnflag"))
      },
      Some("""SELECT l_returnflag,
             |  count(*) AS n_all,
             |  count(*) FILTER (WHERE l_discount > 0.05) AS n_disc,
             |  round(sum(l_extendedprice) FILTER (WHERE l_quantity > 25), 2) AS rev_bulk,
             |  round(avg(l_extendedprice) FILTER (WHERE l_tax > 0.04), 4) AS avg_taxed
             |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // ---- F13 higher-order array carrier: filter/transform/exists over the
    // embedding arrays (element predicates, not UDFs). ----
    Q("q27_array_carrier",
      (s, dir) => {
        t(s, dir, "embeddings")
          .select(col("vec_id"),
            size(filter(col("embedding"), x => x > 0)).cast("long").as("n_pos"),
            round(aggregate(filter(col("embedding"), x => x > 0),
              lit(0.0), (a, x) => a + x.cast("double")), 4).as("sum_pos"),
            exists(col("embedding"), x => x > 0.2).as("has_big"),
            round(element_at(col("embedding"), 1).cast("double"), 4).as("first"))
          .orderBy(col("vec_id"))
      },
      // NB: "+ 0.0" canonicalizes IEEE negative zero — Spark's round goes
      // through BigDecimal (which has no -0.0) while DuckDB keeps -0.0;
      // the values compare equal but serialize/sort differently.
      Some("""SELECT vec_id,
             |  len(list_filter(embedding, x -> x > 0)) AS n_pos,
             |  round(list_sum(list_transform(list_filter(embedding, x -> x > 0),
             |    x -> x::DOUBLE)), 4) + 0.0 AS sum_pos,
             |  CASE WHEN len(list_filter(embedding, x -> x > 0.2)) > 0
             |       THEN true ELSE false END AS has_big,
             |  round(embedding[1]::DOUBLE, 4) + 0.0 AS first
             |FROM embeddings ORDER BY vec_id""".stripMargin)),

    // ---- §2.6 RANGE frame: trailing-30-day spend per customer (value
    // range, not row count — Spark needs a numeric order key, so the frame
    // is expressed over epoch seconds; DuckDB over an INTERVAL range). ----
    Q("q29_range_frame",
      (s, dir) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("o_custkey"))
          .orderBy(unix_timestamp(col("o_orderdate")))
          .rangeBetween(-30L * 86400L, 0L)
        t(s, dir, "orders")
          .select(col("o_custkey"), col("o_orderkey"),
            round(sum(col("o_totalprice")).over(w), 2).as("spend_30d"))
          .orderBy(col("o_custkey"), col("o_orderkey"))
      },
      Some("""SELECT o_custkey, o_orderkey,
             |  round(sum(o_totalprice) OVER (
             |    PARTITION BY o_custkey ORDER BY o_orderdate
             |    RANGE BETWEEN INTERVAL 30 DAY PRECEDING AND CURRENT ROW), 2) AS spend_30d
             |FROM orders
             |ORDER BY o_custkey, o_orderkey""".stripMargin)),

    // ---- Null-handling scalars over the dangling side of an outer join
    // (coalesce / nullif / nvl2-equivalent). ----
    Q("q28_null_funcs",
      (s, dir) => {
        val c = t(s, dir, "customer")
        val o = t(s, dir, "orders").filter(col("o_totalprice") > 4500)
          .groupBy(col("o_custkey")).agg(round(max(col("o_totalprice")), 2).as("max_price"))
        c.join(o, c("c_custkey") === o("o_custkey"), "left")
          .select(col("c_custkey"),
            coalesce(col("max_price"), lit(0.0)).as("best"),
            col("max_price").isNull.as("no_big_order"),
            nullif(col("c_mktsegment"), lit("BUILDING")).as("seg_or_null"))
          .orderBy(col("c_custkey"))
      },
      Some("""WITH o AS (SELECT o_custkey, round(max(o_totalprice), 2) AS max_price
             |           FROM orders WHERE o_totalprice > 4500 GROUP BY o_custkey)
             |SELECT c_custkey,
             |  coalesce(max_price, 0.0::DOUBLE) AS best,
             |  max_price IS NULL AS no_big_order,
             |  nullif(c_mktsegment, 'BUILDING') AS seg_or_null
             |FROM customer LEFT JOIN o ON c_custkey = o_custkey
             |ORDER BY c_custkey""".stripMargin)),

    // ---- Exact fixed-point PageRank (operators/Graph) over the
    // customer<->supplier commerce graph (who trades with whom, via
    // orders x lineitem; supplier ids offset into their own range).
    // Integer micro-rank units + integer division per contribution, so
    // every engine's arithmetic agrees bit-for-bit — the oracle replays
    // ten synchronous iterations in a recursive CTE with the identical
    // integer ops. Top-20 most central parties. ----
    Q("q128_pagerank",
      (s, dir) => {
        val pairs = t(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
          .join(t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey")),
            col("l_orderkey") === col("o_orderkey"))
          .select(col("o_custkey").as("cust"),
            (col("l_suppkey") + 10000000L).as("supp"))
          .distinct()
        val edges = pairs.select(col("cust").as("src"), col("supp").as("dst"))
          .unionByName(pairs.select(col("supp").as("src"), col("cust").as("dst")))
        graft.operators.Graph.pageRankFixed(edges, "src", "dst", iters = 10)
          .orderBy(col("r").desc, col("node")).limit(20)
      },
      Some("""WITH RECURSIVE
             |pairs AS (SELECT DISTINCT o_custkey AS cust,
             |            l_suppkey + 10000000 AS supp
             |          FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
             |edges AS (SELECT cust AS src, supp AS dst FROM pairs
             |          UNION ALL SELECT supp, cust FROM pairs),
             |nodes AS (SELECT DISTINCT src AS node FROM edges),
             |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes),
             |deg AS (SELECT src, CAST(count(*) AS BIGINT) AS od
             |        FROM edges GROUP BY src),
             |pr AS (
             |  SELECT 0 AS iter, node,
             |    CAST(CAST(1000000000 AS BIGINT) // nn.n AS BIGINT) AS r
             |  FROM nodes, nn
             |  UNION ALL
             |  SELECT p.iter + 1, e.dst AS node,
             |    CAST((SELECT ((15 * CAST(1000000000 AS BIGINT)) // 100) // n FROM nn)
             |      + sum((85 * p.r) // (100 * d.od)) AS BIGINT) AS r
             |  FROM pr p JOIN edges e ON p.node = e.src JOIN deg d ON d.src = p.node
             |  WHERE p.iter < 10
             |  GROUP BY p.iter, e.dst
             |)
             |SELECT node, r FROM pr WHERE iter = 10
             |ORDER BY r DESC, node LIMIT 20""".stripMargin)),

    // ---- Community detection: SYNCHRONOUS self-inclusive label
    // propagation (Graph.labelPropagation) on the q156 repeat-trade graph —
    // 4 fixed rounds, most-frequent-neighbor-label with the
    // smallest-label tie rule, every step integer arithmetic, so the
    // oracle replays the rounds as a static 4-level unroll (the q156
    // k-core discipline; synchronous LPA need not converge, so the
    // round count is part of the operator's definition). ----
    Q("q274_communities_lpa",
      (s, dir) => {
        val pairs = repeatTradePairs(s, dir)
        graft.operators.Graph.labelPropagation(
            pairs, "cust", "supp", rounds = 4)
          .orderBy(col("node"))
      },
      Some(s"""WITH ${lpaUnrollCtes(4)}
              |SELECT node, label FROM l4 ORDER BY node""".stripMargin)),

    // ---- Modularity of the q274 assignment (Graph.modularity): the
    // partition-quality score as ONE exact-integer rational over the
    // common denominator 4m² — per-community contribution numerators
    // 4·m·m_c − d_c², global q_ppm with the abs/sign floored division.
    // The natural composition: LPA assigns, modularity evaluates. The
    // oracle chains the q274 unroll with the relational score. ----
    Q("q277_modularity",
      (s, dir) => {
        val pairs = repeatTradePairs(s, dir)
        val lbls = graft.operators.Graph.labelPropagation(
          pairs, "cust", "supp", rounds = 4)
        graft.operators.Graph.modularity(
            pairs, "cust", "supp", lbls, "node", "label")
          .orderBy(col("label"))
      },
      Some(s"""WITH ${lpaUnrollCtes(4)},
              |und AS (SELECT DISTINCT least(u, v) AS u, greatest(u, v) AS v
              |        FROM e),
              |mm AS (SELECT CAST(count(*) AS BIGINT) AS m FROM und),
              |deg AS (SELECT node, CAST(count(*) AS BIGINT) AS d
              |  FROM (SELECT u AS node FROM und
              |        UNION ALL SELECT v FROM und) dd GROUP BY 1),
              |dc AS (SELECT l.label AS lbl, CAST(sum(deg.d) AS BIGINT) AS d_tot,
              |         CAST(count(*) AS BIGINT) AS n_nodes
              |       FROM deg JOIN l4 l USING (node) GROUP BY 1),
              |mi AS (SELECT lu.label AS lbl, CAST(count(*) AS BIGINT) AS m_in
              |       FROM und JOIN l4 lu ON lu.node = und.u
              |                JOIN l4 lv ON lv.node = und.v
              |       WHERE lu.label = lv.label GROUP BY 1),
              |perc AS (SELECT dc.lbl AS label, dc.n_nodes,
              |    COALESCE(mi.m_in, 0) AS m_in, dc.d_tot, mm.m,
              |    4 * mm.m * COALESCE(mi.m_in, 0) - dc.d_tot * dc.d_tot
              |      AS contrib_num
              |  FROM dc LEFT JOIN mi USING (lbl) CROSS JOIN mm),
              |qq AS (SELECT (CASE WHEN sum(contrib_num) < 0 THEN -1
              |          WHEN sum(contrib_num) > 0 THEN 1 ELSE 0 END)
              |        * ((abs(CAST(sum(contrib_num) AS BIGINT)) * 1000000)
              |           // (4 * max(m) * max(m))) AS q_ppm
              |       FROM perc)
              |SELECT label, n_nodes, m_in, d_tot, contrib_num, m, q_ppm
              |FROM perc CROSS JOIN qq ORDER BY label""".stripMargin)),

    // ---- Per-community conductance (Graph.conductance) of the q274
    // assignment: cut / min(vol, 2m − vol) in exact integer ppm — the
    // LOCAL separation score beside q277's global modularity (a low-φ
    // community is genuinely separated; a high-φ one is an assignment
    // artifact). Same oracle skeleton: the LPA unroll + the relational
    // cut/volume counts. ----
    Q("q280_conductance",
      (s, dir) => {
        val pairs = repeatTradePairs(s, dir)
        val lbls = graft.operators.Graph.labelPropagation(
          pairs, "cust", "supp", rounds = 4)
        graft.operators.Graph.conductance(
            pairs, "cust", "supp", lbls, "node", "label")
          .orderBy(col("label"))
      },
      Some(s"""WITH ${lpaUnrollCtes(4)},
              |und AS (SELECT DISTINCT least(u, v) AS u, greatest(u, v) AS v
              |        FROM e),
              |mm AS (SELECT CAST(2 * count(*) AS BIGINT) AS vol_all FROM und),
              |deg AS (SELECT node, CAST(count(*) AS BIGINT) AS d
              |  FROM (SELECT u AS node FROM und
              |        UNION ALL SELECT v FROM und) dd GROUP BY 1),
              |dc AS (SELECT l.label AS lbl, CAST(sum(deg.d) AS BIGINT) AS d_tot,
              |         CAST(count(*) AS BIGINT) AS n_nodes
              |       FROM deg JOIN l4 l USING (node) GROUP BY 1),
              |bd AS (SELECT lu.label AS la, lv.label AS lb
              |       FROM und JOIN l4 lu ON lu.node = und.u
              |                JOIN l4 lv ON lv.node = und.v
              |       WHERE lu.label <> lv.label),
              |cuts AS (SELECT lbl, CAST(count(*) AS BIGINT) AS cut
              |         FROM (SELECT la AS lbl FROM bd
              |               UNION ALL SELECT lb FROM bd) x GROUP BY 1)
              |SELECT dc.lbl AS label, dc.n_nodes,
              |  COALESCE(cuts.cut, 0) AS cut, dc.d_tot,
              |  CASE WHEN least(dc.d_tot, mm.vol_all - dc.d_tot) = 0
              |       THEN CAST(0 AS BIGINT)
              |       ELSE (COALESCE(cuts.cut, 0) * 1000000)
              |         // least(dc.d_tot, mm.vol_all - dc.d_tot) END AS cond_ppm
              |FROM dc LEFT JOIN cuts USING (lbl) CROSS JOIN mm
              |ORDER BY label""".stripMargin)),

    // ---- Modularity-guided LOCAL-MOVE refinement (Graph.refineCommunities)
    // of the q274 LPA assignment — the deterministic Louvain-phase-1
    // analog: each node accepts the neighbor-community move with the max
    // EXACT integer modularity delta (positive only, smallest-label
    // ties), applied in two parity stages per sweep. LPA optimizes
    // nothing, so this provably pushes q277's q_ppm uphill (GraphSpec
    // pins q_ppm(refined) >= q_ppm(LPA) plus a one-move fixture); the
    // oracle replays the unroll + both stages' integer deltas. ----
    Q("q282_communities_refine",
      (s, dir) => {
        val pairs = repeatTradePairs(s, dir)
        val lpa = graft.operators.Graph.labelPropagation(
          pairs, "cust", "supp", rounds = 4)
        graft.operators.Graph.refineCommunities(
            pairs, "cust", "supp", lpa, "node", "label")
          .orderBy(col("node"))
      },
      Some(s"""WITH ${lpaUnrollCtes(4)},
              |l4m AS MATERIALIZED (SELECT node, label FROM l4),
              |degx AS MATERIALIZED (SELECT u AS node,
              |    CAST(count(*) AS BIGINT) AS k FROM e GROUP BY 1),
              |mmx AS MATERIALIZED (SELECT CAST(count(*) AS BIGINT) // 2 AS m
              |    FROM e),
              |${refineStageCtes("l4m", 0, "ra")},
              |${refineStageCtes("ra", 1, "rb")}
              |SELECT node, label FROM rb ORDER BY node""".stripMargin)),

    // ---- WEIGHTED label propagation (Graph.labelPropagationWeighted) on
    // the repeat-trade graph with the trade count as the edge weight —
    // the multiplicity q274 discards: a customer trading 9 times with
    // one supplier now outvotes three 2-trade ties. Unit weights
    // degenerate to q274 bit-for-bit (GraphSpec law, the
    // weightedPageRank->q128 discipline); the oracle is the weighted
    // unroll with the weight-1 self-vote. ----
    Q("q283_communities_lpa_weighted",
      (s, dir) => {
        val pairs = repeatTradePairsWeighted(s, dir)
        graft.operators.Graph.labelPropagationWeighted(
            pairs, "cust", "supp", "w", rounds = 4)
          .orderBy(col("node"))
      },
      Some(s"""WITH ${lpaWeightedUnrollCtes(4)}
              |SELECT node, label FROM wl4 ORDER BY node""".stripMargin)),

    // ---- WEIGHTED modularity (Graph.modularityWeighted) scoring the q283
    // weighted-LPA assignment on the weighted repeat-trade graph —
    // Q_w = Σ_c (4·W·w_c − s_c²)/(4W²) in exact integers, the score a
    // weight-formed assignment should be judged by (unweighted Q would
    // call a heavy-edge community wrong wherever count- and
    // weight-majorities disagree). Unit weights degenerate to q277's
    // table bit-for-bit (GraphSpec law). ----
    Q("q286_modularity_weighted",
      (s, dir) => {
        val pairs = repeatTradePairsWeighted(s, dir)
        val lbls = graft.operators.Graph.labelPropagationWeighted(
          pairs, "cust", "supp", "w", rounds = 4)
        graft.operators.Graph.modularityWeighted(
            pairs, "cust", "supp", "w", lbls, "node", "label")
          .orderBy(col("label"))
      },
      Some(s"""WITH ${lpaWeightedUnrollCtes(4)},
              |wl4m AS MATERIALIZED (SELECT node, label FROM wl4),
              |undw AS MATERIALIZED (SELECT least(cust, supp) AS u,
              |    greatest(cust, supp) AS v, CAST(sum(w) AS BIGINT) AS w
              |  FROM wpairs GROUP BY 1, 2),
              |ww AS (SELECT CAST(sum(w) AS BIGINT) AS w FROM undw),
              |strw AS (SELECT node, CAST(sum(w) AS BIGINT) AS d
              |  FROM (SELECT u AS node, w FROM undw
              |        UNION ALL SELECT v, w FROM undw) sd GROUP BY 1),
              |scw AS (SELECT l.label AS lbl, CAST(sum(strw.d) AS BIGINT) AS s_tot,
              |         CAST(count(*) AS BIGINT) AS n_nodes
              |       FROM strw JOIN wl4m l USING (node) GROUP BY 1),
              |wi AS (SELECT lu.label AS lbl, CAST(sum(undw.w) AS BIGINT) AS w_in
              |       FROM undw JOIN wl4m lu ON lu.node = undw.u
              |                 JOIN wl4m lv ON lv.node = undw.v
              |       WHERE lu.label = lv.label GROUP BY 1),
              |percw AS (SELECT scw.lbl AS label, scw.n_nodes,
              |    COALESCE(wi.w_in, 0) AS w_in, scw.s_tot, ww.w,
              |    4 * ww.w * COALESCE(wi.w_in, 0) - scw.s_tot * scw.s_tot
              |      AS contrib_num
              |  FROM scw LEFT JOIN wi USING (lbl) CROSS JOIN ww),
              |qqw AS (SELECT (CASE WHEN sum(contrib_num) < 0 THEN -1
              |          WHEN sum(contrib_num) > 0 THEN 1 ELSE 0 END)
              |        * ((abs(CAST(sum(contrib_num) AS BIGINT)) * 1000000)
              |           // (4 * max(w) * max(w))) AS q_ppm
              |       FROM percw)
              |SELECT label, n_nodes, w_in, s_tot, contrib_num, w, q_ppm
              |FROM percw CROSS JOIN qqw ORDER BY label""".stripMargin)),

    // ---- WEIGHTED local-move refinement (Graph.refineCommunitiesWeighted)
    // of the q283 weighted-LPA assignment — the q282 sweep climbing Q_w:
    // weight sums replace counts in the exact integer delta, so a heavy
    // trading pair consolidates even when a count-majority points away
    // (GraphSpec fixture). Same parity staging; oracle replays the
    // weighted unroll + both weighted stages. ----
    Q("q287_communities_refine_weighted",
      (s, dir) => {
        val pairs = repeatTradePairsWeighted(s, dir)
        val lpa = graft.operators.Graph.labelPropagationWeighted(
          pairs, "cust", "supp", "w", rounds = 4)
        graft.operators.Graph.refineCommunitiesWeighted(
            pairs, "cust", "supp", "w", lpa, "node", "label")
          .orderBy(col("node"))
      },
      Some(s"""WITH ${lpaWeightedUnrollCtes(4)},
              |wl4m AS MATERIALIZED (SELECT node, label FROM wl4),
              |degwx AS MATERIALIZED (SELECT u AS node,
              |    CAST(sum(w) AS BIGINT) AS k FROM ew GROUP BY 1),
              |mmwx AS MATERIALIZED (SELECT CAST(sum(w) AS BIGINT) // 2 AS W
              |    FROM ew),
              |${refineStageWeightedCtes("wl4m", 0, "wra")},
              |${refineStageWeightedCtes("wra", 1, "wrb")}
              |SELECT node, label FROM wrb ORDER BY node""".stripMargin)),

    // ---- MULTI-LEVEL Louvain (Graph.louvainCommunities): the q287
    // phase-1 sweep, then the phase-2 CONTRACTION — communities collapse
    // to super-nodes (inter weights summed, intra weight as a self-loop
    // folded into super-node strength), the same exact-integer sweep
    // runs on the contracted graph from singletons, and the super-labels
    // expand back down. Every contracted-level move is a WHOLE community
    // changing sides, worth exactly its integer delta on the ORIGINAL
    // graph's Q_w — the moves phase 1 provably cannot make (GraphSpec
    // two-triangle fixture). The oracle replays the full composition:
    // weighted unroll, both phase-1 stages, the contraction CTEs, both
    // contracted stages over the self-loop-aware strengths, expansion. ----
    Q("q289_communities_louvain",
      (s, dir) => {
        // materialize the derived edge list ONCE: the composed operators
        // (LPA, the refine sweep, the contraction) each re-scan their
        // edges input with their own guards, and without this the
        // lineitem⋈orders derivation would re-run per operator — at
        // 100 TB a caller persists the edge list before a multi-pass
        // community pipeline, so the query models exactly that
        val pairs = repeatTradePairsWeighted(s, dir).localCheckpoint(true)
        val lpa = graft.operators.Graph.labelPropagationWeighted(
          pairs, "cust", "supp", "w", rounds = 4)
        graft.operators.Graph.louvainCommunities(
            pairs, "cust", "supp", "w", lpa, "node", "label", levels = 2)
          .orderBy(col("node"))
      },
      Some(s"""WITH ${lpaWeightedUnrollCtes(4)},
              |wl4m AS MATERIALIZED (SELECT node, label FROM wl4),
              |degwx AS MATERIALIZED (SELECT u AS node,
              |    CAST(sum(w) AS BIGINT) AS k FROM ew GROUP BY 1),
              |mmwx AS MATERIALIZED (SELECT CAST(sum(w) AS BIGINT) // 2 AS W
              |    FROM ew),
              |${refineStageWeightedCtes("wl4m", 0, "wra")},
              |${refineStageWeightedCtes("wra", 1, "wrb")},
              |lund AS MATERIALIZED (SELECT least(cust, supp) AS u,
              |    greatest(cust, supp) AS v, CAST(sum(w) AS BIGINT) AS w
              |  FROM wpairs GROUP BY 1, 2),
              |lcall AS MATERIALIZED (SELECT least(lu.label, lv.label) AS src,
              |    greatest(lu.label, lv.label) AS dst,
              |    CAST(sum(lund.w) AS BIGINT) AS w
              |  FROM lund JOIN wrb lu ON lu.node = lund.u
              |            JOIN wrb lv ON lv.node = lund.v
              |  GROUP BY 1, 2),
              |cew AS MATERIALIZED (SELECT src AS u, dst AS v, w FROM lcall
              |    WHERE src <> dst
              |  UNION ALL SELECT dst, src, w FROM lcall WHERE src <> dst),
              |cself AS MATERIALIZED (SELECT src AS node,
              |    CAST(2 * w AS BIGINT) AS sw FROM lcall WHERE src = dst),
              |cdegx AS MATERIALIZED (SELECT i.node,
              |    CAST(i.k + COALESCE(cself.sw, 0) AS BIGINT) AS k
              |  FROM (SELECT u AS node, sum(w) AS k FROM cew GROUP BY 1) i
              |  LEFT JOIN cself USING (node)),
              |cmm AS MATERIALIZED (SELECT CAST(
              |    ((SELECT COALESCE(sum(w), 0) FROM cew)
              |     + (SELECT COALESCE(sum(sw), 0) FROM cself)) // 2
              |  AS BIGINT) AS W),
              |cl0 AS MATERIALIZED (SELECT DISTINCT v AS node, v AS label
              |    FROM cew),
              |${refineStageWeightedCtes("cl0", 0, "ca", "cew", "cdegx", "cmm")},
              |${refineStageWeightedCtes("ca", 1, "cb", "cew", "cdegx", "cmm")}
              |SELECT f.node AS node, COALESCE(cx.label, f.label) AS label
              |FROM wrb f LEFT JOIN cb cx ON cx.node = f.label
              |ORDER BY f.node""".stripMargin)),

    // ---- WEIGHTED conductance (Graph.conductanceWeighted) of the q283
    // weighted-LPA assignment — the LOCAL separation score in weight
    // units, completing the weighted community suite (q283 assigns, q286
    // scores globally, this scores per community): cut and volume are
    // weight sums, so one heavy boundary edge leaks exactly as much as
    // its multiplicity says (q280's unweighted score counts it once).
    // Unit weights degenerate to q280's table bit-for-bit (GraphSpec
    // law); the oracle mirrors q280's skeleton over the weighted CTEs. ----
    Q("q293_conductance_weighted",
      (s, dir) => {
        val pairs = repeatTradePairsWeighted(s, dir)
        val lbls = graft.operators.Graph.labelPropagationWeighted(
          pairs, "cust", "supp", "w", rounds = 4)
        graft.operators.Graph.conductanceWeighted(
            pairs, "cust", "supp", "w", lbls, "node", "label")
          .orderBy(col("label"))
      },
      Some(s"""WITH ${lpaWeightedUnrollCtes(4)},
              |wl4m AS MATERIALIZED (SELECT node, label FROM wl4),
              |undw AS MATERIALIZED (SELECT least(cust, supp) AS u,
              |    greatest(cust, supp) AS v, CAST(sum(w) AS BIGINT) AS w
              |  FROM wpairs GROUP BY 1, 2),
              |mmw AS (SELECT CAST(2 * sum(w) AS BIGINT) AS vol_all FROM undw),
              |strw AS (SELECT node, CAST(sum(w) AS BIGINT) AS d
              |  FROM (SELECT u AS node, w FROM undw
              |        UNION ALL SELECT v, w FROM undw) sd GROUP BY 1),
              |dcw AS (SELECT l.label AS lbl, CAST(sum(strw.d) AS BIGINT) AS vol_w,
              |         CAST(count(*) AS BIGINT) AS n_nodes
              |       FROM strw JOIN wl4m l USING (node) GROUP BY 1),
              |bdw AS (SELECT lu.label AS la, lv.label AS lb, undw.w
              |       FROM undw JOIN wl4m lu ON lu.node = undw.u
              |                 JOIN wl4m lv ON lv.node = undw.v
              |       WHERE lu.label <> lv.label),
              |cutsw AS (SELECT lbl, CAST(sum(w) AS BIGINT) AS cut_w
              |         FROM (SELECT la AS lbl, w FROM bdw
              |               UNION ALL SELECT lb, w FROM bdw) x GROUP BY 1)
              |SELECT dcw.lbl AS label, dcw.n_nodes,
              |  COALESCE(cutsw.cut_w, 0) AS cut_w, dcw.vol_w,
              |  CASE WHEN least(dcw.vol_w, mmw.vol_all - dcw.vol_w) = 0
              |       THEN CAST(0 AS BIGINT)
              |       ELSE (COALESCE(cutsw.cut_w, 0) * 1000000)
              |         // least(dcw.vol_w, mmw.vol_all - dcw.vol_w) END AS cond_ppm
              |FROM dcw LEFT JOIN cutsw USING (lbl) CROSS JOIN mmw
              |ORDER BY label""".stripMargin)),

    // ---- Dangling-node PageRank: the same fixed-point operator on the
    // ONE-WAY commerce graph (cust -> supp only), where every supplier is
    // a dangling sink and every customer is uncited — the web/citation
    // shape the symmetric q128 can't exhibit. The engine redistributes
    // dangling mass as one integer scalar per iteration; the oracle
    // replays the edge recursion in SQL with those scalars inlined as
    // literals (see q133OracleGen). ----
    Q("q133_pagerank_dangling",
      (s, dir) => {
        val edges = t(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
          .join(t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey")),
            col("l_orderkey") === col("o_orderkey"))
          .select(col("o_custkey").cast("long").as("src"),
            (col("l_suppkey") + 10000000L).cast("long").as("dst"))
          .distinct()
        graft.operators.Graph.pageRankFixed(edges, "src", "dst", iters = 10)
          .orderBy(col("r").desc, col("node")).limit(20)
      },
      None,
      oracleGen = Some(q133OracleGen _)),

    // ---- Convergence-aware PageRank on the q133 commerce graph: the
    // epsilon stop ends iteration when max per-node |Δr| ≤ 2,000,000
    // integer units (one extra scalar aggregate per round) — round 8 of
    // 10 at sf0.01, round 1 at sf0.1 (ranks scale ∝ 1/n, so the same
    // absolute epsilon bites earlier on the bigger graph; both stops are
    // replayed exactly by the generated oracle, which inlines the stop
    // round and per-iteration dangling shares). iters_run makes the
    // early stop itself part of the hash-verified contract. ----
    Q("q143_pagerank_converged",
      (s, dir) => {
        val edges = t(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
          .join(t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey")),
            col("l_orderkey") === col("o_orderkey"))
          .select(col("o_custkey").cast("long").as("src"),
            (col("l_suppkey") + 10000000L).cast("long").as("dst"))
          .distinct()
        val (ranks, ran) = graft.operators.Graph.pageRankFixedConverged(
          edges, "src", "dst", iters = 10, epsilon = 2000000L)
        ranks.withColumn("iters_run", lit(ran.toLong))
          .orderBy(col("r").desc, col("node")).limit(20)
      },
      None,
      oracleGen = Some(q143OracleGen _)),

    // ---- Entity resolution (operators/Entities): fuzzy-match customer
    // names within Levenshtein distance 1 via deletion-neighborhood
    // blocking (FastSS/SymSpell), verified with the exact integer edit
    // distance — aggregated to per-entity match counts. The oracle
    // replays blocking, verification, and the symmetrized rollup. ----
    Q("q129_fuzzy_entities",
      (s, dir) => {
        val c = t(s, dir, "customer")
          .select(col("c_custkey").as("id"), col("c_name").as("nm"))
        // materialize the (small) verified pair set once — the two-branch
        // symmetrization union would otherwise embed the whole variant-
        // explode/self-join/levenshtein subtree twice
        val pairs = graft.operators.Entities.fuzzyPairs(c, "id", "nm")
          .localCheckpoint(true)
        val sym = pairs.select(col("id_a").as("id"), col("id_b").as("peer"))
          .unionByName(pairs.select(col("id_b").as("id"), col("id_a").as("peer")))
        c.join(sym, Seq("id"), "left")
          .groupBy(col("id"))
          .agg(sum(when(col("peer").isNotNull, 1L).otherwise(0L)).as("n_fuzzy"),
            min(col("peer")).as("min_peer"))
          .select(col("id"), col("n_fuzzy"),
            coalesce(col("min_peer"), lit(-1L)).as("min_peer"))
          .orderBy(col("id"))
      },
      Some("""WITH n AS (SELECT c_custkey AS id, c_name AS nm FROM customer),
             |v AS (SELECT DISTINCT id, nm, var FROM (
             |        SELECT id, nm,
             |          substr(nm, 1, i - 1) || substr(nm, i + 1, length(nm)) AS var
             |        FROM n, unnest(generate_series(1, length(nm))) AS t(i)
             |        UNION ALL SELECT id, nm, nm FROM n)),
             |cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b,
             |           a.nm AS na, b.nm AS nb
             |         FROM v a JOIN v b ON a.var = b.var AND a.id < b.id),
             |p AS (SELECT id_a, id_b FROM cand WHERE levenshtein(na, nb) <= 1),
             |sym AS (SELECT id_a AS id, id_b AS peer FROM p
             |        UNION ALL SELECT id_b, id_a FROM p)
             |SELECT n.id,
             |  CAST(count(sym.peer) AS BIGINT) AS n_fuzzy,
             |  CAST(coalesce(min(sym.peer), -1) AS BIGINT) AS min_peer
             |FROM n LEFT JOIN sym ON n.id = sym.id
             |GROUP BY n.id ORDER BY n.id""".stripMargin)),

    // ---- Entity resolution at edit distance 2 (FastSS delete-0..2
    // neighborhoods): catches the double-substitution / transposition
    // pairs k=1 blocking provably cannot see. Bounded input slice (the
    // per-name variant fan-out is len²/2); the oracle replays the two
    // deletion rounds, the exact Levenshtein verify at distance 2, and
    // the symmetrized rollup with a distance-2 peer count. ----
    Q("q134_fuzzy_entities_k2",
      (s, dir) => {
        val c = t(s, dir, "customer").filter(col("c_custkey") <= 500)
          .select(col("c_custkey").as("id"), col("c_name").as("nm"))
        val pairs = graft.operators.Entities.fuzzyPairs(c, "id", "nm", maxDist = 2)
          .localCheckpoint(true)
        val sym = pairs
          .select(col("id_a").as("id"), col("id_b").as("peer"), col("dist"))
          .unionByName(pairs
            .select(col("id_b").as("id"), col("id_a").as("peer"), col("dist")))
        c.join(sym, Seq("id"), "left")
          .groupBy(col("id"))
          .agg(sum(when(col("peer").isNotNull, 1L).otherwise(0L)).as("n_fuzzy"),
            sum(when(col("dist") === 2, 1L).otherwise(0L)).as("n_d2"),
            min(col("peer")).as("min_peer"))
          .select(col("id"), col("n_fuzzy"), col("n_d2"),
            coalesce(col("min_peer"), lit(-1L)).as("min_peer"))
          .orderBy(col("id"))
      },
      Some("""WITH n AS (SELECT c_custkey AS id, c_name AS nm FROM customer
             |           WHERE c_custkey <= 500),
             |d1 AS (SELECT id, nm,
             |         substr(nm, 1, i - 1) || substr(nm, i + 1, length(nm)) AS var
             |       FROM n, unnest(generate_series(1, length(nm))) AS t(i)),
             |d2 AS (SELECT id, nm,
             |         substr(var, 1, i - 1) || substr(var, i + 1, length(var)) AS v2
             |       FROM d1, unnest(generate_series(1, length(var))) AS t(i)),
             |v AS (SELECT DISTINCT id, nm, var FROM (
             |        SELECT id, nm, nm AS var FROM n
             |        UNION ALL SELECT id, nm, var FROM d1
             |        UNION ALL SELECT id, nm, v2 AS var FROM d2)),
             |cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b,
             |           a.nm AS na, b.nm AS nb
             |         FROM v a JOIN v b ON a.var = b.var AND a.id < b.id),
             |p AS (SELECT id_a, id_b, CAST(levenshtein(na, nb) AS BIGINT) AS dist
             |      FROM cand WHERE levenshtein(na, nb) <= 2),
             |sym AS (SELECT id_a AS id, id_b AS peer, dist FROM p
             |        UNION ALL SELECT id_b, id_a, dist FROM p)
             |SELECT n.id,
             |  CAST(sum(CASE WHEN sym.peer IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             |    AS n_fuzzy,
             |  CAST(sum(CASE WHEN sym.dist = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_d2,
             |  CAST(coalesce(min(sym.peer), -1) AS BIGINT) AS min_peer
             |FROM n LEFT JOIN sym ON n.id = sym.id
             |GROUP BY n.id ORDER BY n.id""".stripMargin)),

    // ---- INCREMENTAL entity resolution (operators/Entities
    // .incrementalFuzzyPairs): the c_custkey % 10 == 0 slice plays the
    // daily increment against the rest as the existing corpus — only the
    // increment is exploded into its deletion neighborhood; history
    // would come from the persisted variant index in production
    // (StreamingEntities). Old–old pairs are provably absent: every
    // output row carries a new-side id. The oracle replays both
    // candidate branches and the exact levenshtein verify. ----
    Q("q140_incremental_entities",
      (s, dir) => {
        val c = t(s, dir, "customer")
          .select(col("c_custkey").as("id"), col("c_name").as("nm"))
        graft.operators.Entities.incrementalFuzzyPairs(
            c.filter(col("id") % 10 === 0), c.filter(col("id") % 10 =!= 0),
            "id", "nm")
          .orderBy(col("new_id"), col("peer_id"))
      },
      Some("""WITH n AS (SELECT c_custkey AS id, c_name AS nm FROM customer),
             |v AS (SELECT DISTINCT id, nm, var FROM (
             |        SELECT id, nm,
             |          substr(nm, 1, i - 1) || substr(nm, i + 1, length(nm)) AS var
             |        FROM n, unnest(generate_series(1, length(nm))) AS t(i)
             |        UNION ALL SELECT id, nm, nm FROM n)),
             |nv AS (SELECT * FROM v WHERE id % 10 = 0),
             |ev AS (SELECT * FROM v WHERE id % 10 <> 0),
             |cx AS (SELECT DISTINCT a.id AS new_id, b.id AS peer_id,
             |         a.nm AS na, b.nm AS nb, true AS peer_is_existing
             |       FROM nv a JOIN ev b ON a.var = b.var),
             |nn AS (SELECT DISTINCT a.id AS new_id, b.id AS peer_id,
             |         a.nm AS na, b.nm AS nb, false AS peer_is_existing
             |       FROM nv a JOIN nv b ON a.var = b.var AND a.id < b.id),
             |u AS (SELECT * FROM cx UNION ALL SELECT * FROM nn)
             |SELECT new_id, peer_id, peer_is_existing,
             |  CAST(levenshtein(na, nb) AS BIGINT) AS dist
             |FROM u WHERE levenshtein(na, nb) <= 1
             |ORDER BY new_id, peer_id""".stripMargin)),

    // ---- Exact triangle counting + local clustering coefficient
    // (operators/Graph.triangleCounts) over the co-purchase graph (parts
    // co-ordered with support >= 2 — the q131 edge set). Degree-ordered
    // orientation bounds every wedge fan-out by O(sqrt(m)) so a celebrity
    // part can't square itself in the self-join; each triangle is counted
    // once at its minimum-(deg,id) apex. The coefficient is exact integer
    // parts-per-million (2*tri*1e6 div deg*(deg-1)) — non-negative
    // operands, so Spark's `div` and DuckDB's `//` agree. ----
    Q("q144_triangles",
      (s, dir) => {
        val li = t(s, dir, "lineitem")
          .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
          .distinct()
        val edges = li.select(col("ok"), col("pk").as("pa"))
          .join(li.select(col("ok"), col("pk").as("pb")), "ok")
          .filter(col("pa") < col("pb"))
          .groupBy(col("pa"), col("pb")).agg(count(lit(1)).as("support"))
          .filter(col("support") >= 2)
          .select(col("pa"), col("pb"))
        graft.operators.Graph.triangleCounts(edges, "pa", "pb")
          .select(col("node"), col("deg"), col("tri"),
            when(col("deg") >= 2,
              expr("(2 * tri * 1000000) div (deg * (deg - 1))"))
              .otherwise(lit(0L)).as("cc_ppm"))
          .orderBy(col("tri").desc, col("node"))
      },
      Some("""WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
             |            FROM lineitem),
             |e AS (SELECT a.pk AS u, b.pk AS v
             |      FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
             |      GROUP BY 1, 2 HAVING count(*) >= 2),
             |deg AS (SELECT n, CAST(count(*) AS BIGINT) AS d FROM
             |        (SELECT u AS n FROM e UNION ALL SELECT v FROM e) t
             |        GROUP BY n),
             |o AS (SELECT
             |        CASE WHEN du.d < dv.d OR (du.d = dv.d AND e.u < e.v)
             |          THEN e.u ELSE e.v END AS lo,
             |        CASE WHEN du.d < dv.d OR (du.d = dv.d AND e.u < e.v)
             |          THEN e.v ELSE e.u END AS hi,
             |        CASE WHEN du.d < dv.d OR (du.d = dv.d AND e.u < e.v)
             |          THEN dv.d ELSE du.d END AS dhi
             |      FROM e JOIN deg du ON du.n = e.u JOIN deg dv ON dv.n = e.v),
             |tri AS (SELECT o1.lo AS a, o1.hi AS b, o2.hi AS c
             |        FROM o o1 JOIN o o2 ON o1.lo = o2.lo
             |          AND (o1.dhi < o2.dhi OR (o1.dhi = o2.dhi AND o1.hi < o2.hi))
             |        JOIN o oc ON oc.lo = o1.hi AND oc.hi = o2.hi),
             |tc AS (SELECT n, CAST(count(*) AS BIGINT) AS tri FROM
             |       (SELECT a AS n FROM tri UNION ALL SELECT b FROM tri
             |        UNION ALL SELECT c FROM tri) t GROUP BY n)
             |SELECT deg.n AS node, deg.d AS deg,
             |  CAST(coalesce(tc.tri, 0) AS BIGINT) AS tri,
             |  CASE WHEN deg.d >= 2
             |    THEN (2 * coalesce(tc.tri, 0) * 1000000) // (deg.d * (deg.d - 1))
             |    ELSE CAST(0 AS BIGINT) END AS cc_ppm
             |FROM deg LEFT JOIN tc ON tc.n = deg.n
             |ORDER BY tri DESC, node""".stripMargin)),

    // ---- STREAMING entity resolution (streaming/StreamingEntities):
    // customers arrive in three microbatches (batch r = c_custkey % 3),
    // each fuzzy-matched against the persisted names+variant-index store
    // of everything before it, with _SUCCESS-guarded pair shards and
    // per-row idempotent merges. The oracle replays the arrival-order
    // semantics in closed form (the q115 convention): a pair is emitted
    // once, when its LATER-batch member arrives — new_id is the
    // later-batch id (the smaller id when both share a batch),
    // peer_is_existing iff the batches differ. ----
    Q("q141_stream_entities",
      (s, dir) => {
        import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
        implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
        import s.implicits._
        val c = t(s, dir, "customer")
          .select(col("c_custkey").as("id"), col("c_name").as("nm"))
        val tmp = java.nio.file.Files.createTempDirectory("graft_q141_").toString
        val input = MemoryStream[(Long, String)]
        val q = graft.streaming.StreamingEntities.sink(
          input.toDF().toDF("id", "nm"), "id", "nm",
          s"$tmp/store", s"$tmp/pairs", s"$tmp/ckpt")
        try {
          for (r <- 0 to 2) {
            input.addData(c.filter(col("id") % 3 === r)
              .as[(Long, String)].collect().toSeq)
            q.processAllAvailable()
          }
        } finally q.stop()
        graft.streaming.StreamingEntities.pairs(s, s"$tmp/pairs")
          .orderBy(col("new_id"), col("peer_id"))
      },
      Some("""WITH n AS (SELECT c_custkey AS id, c_name AS nm FROM customer),
             |v AS (SELECT DISTINCT id, nm, var FROM (
             |        SELECT id, nm,
             |          substr(nm, 1, i - 1) || substr(nm, i + 1, length(nm)) AS var
             |        FROM n, unnest(generate_series(1, length(nm))) AS t(i)
             |        UNION ALL SELECT id, nm, nm FROM n)),
             |cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b,
             |           a.nm AS na, b.nm AS nb
             |         FROM v a JOIN v b ON a.var = b.var AND a.id < b.id),
             |o AS (SELECT
             |        CASE WHEN id_a % 3 >= id_b % 3 THEN id_a ELSE id_b END AS new_id,
             |        CASE WHEN id_a % 3 >= id_b % 3 THEN id_b ELSE id_a END AS peer_id,
             |        id_a % 3 <> id_b % 3 AS peer_is_existing, na, nb
             |      FROM cand)
             |SELECT new_id, peer_id, peer_is_existing,
             |  CAST(levenshtein(na, nb) AS BIGINT) AS dist
             |FROM o WHERE levenshtein(na, nb) <= 1
             |ORDER BY new_id, peer_id""".stripMargin)),

    // ---- COMPLIANCE PURGE of the ER working stores (StreamingEntities
    // .purgeIds): the q141 pipeline's stores, then every custkey ≡ 0
    // (mod 11) erased — the subject's (id, name) row from the id-bucketed
    // names table, its variant rows (each CARRIES the name — as
    // radioactive as the names row) from the variant-bucketed index via
    // one read-only id scan, every pairs-shard row naming the subject
    // (shards rewritten in place, _SUCCESS re-minted), and the ids landed
    // on the suppression list FIRST so a replayed committed batch or an
    // upstream re-send can never re-ingest them (the store merge treats
    // absent ids as new — EntitiesSpec pins the resurrection block).
    // Oracle: the q141 arrival-order pairs minus every pair naming a
    // subject. ----
    Q("q310_entity_store_purge",
      (s, dir) => {
        import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
        implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
        import s.implicits._
        val c = t(s, dir, "customer")
          .select(col("c_custkey").as("id"), col("c_name").as("nm"))
        val tmp = java.nio.file.Files.createTempDirectory("graft_q310_").toString
        val input = MemoryStream[(Long, String)]
        val q = graft.streaming.StreamingEntities.sink(
          input.toDF().toDF("id", "nm"), "id", "nm",
          s"$tmp/store", s"$tmp/pairs", s"$tmp/ckpt")
        try {
          for (r <- 0 to 2) {
            input.addData(c.filter(col("id") % 3 === r)
              .as[(Long, String)].collect().toSeq)
            q.processAllAvailable()
          }
        } finally q.stop()
        graft.streaming.StreamingEntities.purgeIds(
          c.filter(col("id") % 11 === 0).select(col("id")),
          s"$tmp/store", idCol = "id", pairsPath = Some(s"$tmp/pairs"))
        graft.streaming.StreamingEntities.pairs(s, s"$tmp/pairs")
          .orderBy(col("new_id"), col("peer_id"))
      },
      Some("""WITH n AS (SELECT c_custkey AS id, c_name AS nm FROM customer),
             |v AS (SELECT DISTINCT id, nm, var FROM (
             |        SELECT id, nm,
             |          substr(nm, 1, i - 1) || substr(nm, i + 1, length(nm)) AS var
             |        FROM n, unnest(generate_series(1, length(nm))) AS t(i)
             |        UNION ALL SELECT id, nm, nm FROM n)),
             |cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b,
             |           a.nm AS na, b.nm AS nb
             |         FROM v a JOIN v b ON a.var = b.var AND a.id < b.id),
             |o AS (SELECT
             |        CASE WHEN id_a % 3 >= id_b % 3 THEN id_a ELSE id_b END AS new_id,
             |        CASE WHEN id_a % 3 >= id_b % 3 THEN id_b ELSE id_a END AS peer_id,
             |        id_a % 3 <> id_b % 3 AS peer_is_existing, na, nb
             |      FROM cand)
             |SELECT new_id, peer_id, peer_is_existing,
             |  CAST(levenshtein(na, nb) AS BIGINT) AS dist
             |FROM o WHERE levenshtein(na, nb) <= 1
             |  AND new_id % 11 <> 0 AND peer_id % 11 <> 0
             |ORDER BY new_id, peer_id""".stripMargin)),

    // ---- Bloom-filter semi-join reduction (operators/Bloom): the thin
    // urgent-finalized orders slice folds into an 8192-bit portable-md5
    // Bloom filter; lineitem is pruned by a pure Column predicate (no
    // shuffle, no join — the runtime-filter shape) before the real join.
    // Survival counts pin the whole contract: stage 3's count comes from
    // the REDUCED join while the oracle computes the PLAIN join — equal
    // by no-false-negatives — and stages 2/4 replay the filter's exact
    // pass set, false positives included, from the same md5 family. ----
    Q("q149_bloom_join",
      (s, dir) => {
        import graft.operators.Bloom
        val (m, k) = (8192, 3)
        val li = t(s, dir, "lineitem").select(col("l_orderkey").as("k"))
        val dim = t(s, dir, "orders")
          .filter(col("o_orderpriority") === "1-URGENT" &&
            col("o_orderstatus") === "F")
          .select(col("o_orderkey").as("k")).distinct()
        val words = Bloom.bitWords(Bloom.positions(dim, "k", m, k), m)
        val pass = li.filter(Bloom.mightContain(words, col("k"), m, k))
        Seq(
          li.agg(count(lit(1)).as("n"))
            .select(lit("1_fact").as("stage"), col("n")),
          pass.agg(count(lit(1)).as("n"))
            .select(lit("2_bloom_pass").as("stage"), col("n")),
          pass.join(dim, Seq("k")).agg(count(lit(1)).as("n"))
            .select(lit("3_join").as("stage"), col("n")),
          pass.join(dim, Seq("k"), "left_anti").agg(count(lit(1)).as("n"))
            .select(lit("4_false_pos").as("stage"), col("n"))
        ).reduce(_ unionByName _).orderBy(col("stage"))
      },
      Some("""WITH dk AS (SELECT DISTINCT o_orderkey AS k FROM orders
             |            WHERE o_orderpriority = '1-URGENT'
             |              AND o_orderstatus = 'F'),
             |r AS (SELECT unnest(range(3)) AS i),
             |bits AS (SELECT DISTINCT
             |           CAST(concat('0x', substr(md5(concat(i, ':', k)), 1, 8))
             |             AS BIGINT) % 8192 AS pos
             |         FROM dk, r),
             |fk AS (SELECT DISTINCT l_orderkey AS k FROM lineitem),
             |fpos AS (SELECT fk.k, i,
             |           CAST(concat('0x', substr(md5(concat(i, ':', fk.k)), 1, 8))
             |             AS BIGINT) % 8192 AS pos
             |         FROM fk, r),
             |passk AS (SELECT k FROM fpos JOIN bits USING (pos)
             |          GROUP BY k HAVING count(DISTINCT i) = 3),
             |s1 AS (SELECT '1_fact' AS stage, CAST(count(*) AS BIGINT) AS n
             |       FROM lineitem),
             |s2 AS (SELECT '2_bloom_pass' AS stage, CAST(count(*) AS BIGINT) AS n
             |       FROM lineitem JOIN passk ON l_orderkey = passk.k),
             |s3 AS (SELECT '3_join' AS stage, CAST(count(*) AS BIGINT) AS n
             |       FROM lineitem JOIN dk ON l_orderkey = dk.k),
             |s4 AS (SELECT '4_false_pos' AS stage, CAST(count(*) AS BIGINT) AS n
             |       FROM lineitem JOIN passk ON l_orderkey = passk.k
             |       WHERE l_orderkey NOT IN (SELECT k FROM dk))
             |SELECT stage, n FROM (
             |  SELECT * FROM s1 UNION ALL SELECT * FROM s2
             |  UNION ALL SELECT * FROM s3 UNION ALL SELECT * FROM s4)
             |ORDER BY stage""".stripMargin)),

    // ---- Z-order layout stats (operators/ZOrder): lineitem keyed by the
    // Morton interleave of (l_partkey, l_suppkey), bucketed by the top 4 z
    // bits — the 4x4 grid cell — reporting the min/max stats a
    // file-skipping reader consults. Every bucket's span of BOTH columns
    // is ~1/4 of its range (ZOrderSpec pins it), which is the whole
    // OPTIMIZE-ZORDER win; the oracle replays the integer scaling and the
    // 16-term interleave verbatim. ----
    Q("q154_zorder_layout",
      (s, dir) => {
        graft.operators.ZOrder.layoutStats(
            t(s, dir, "lineitem").select(col("l_partkey"), col("l_suppkey")),
            "l_partkey", "l_suppkey", bits = 8, gridBits = 2)
          .orderBy(col("bucket"))
      },
      Some("""WITH mm AS (SELECT CAST(min(l_partkey) AS BIGINT) AS amn,
             |             CAST(max(l_partkey) AS BIGINT) AS amx,
             |             CAST(min(l_suppkey) AS BIGINT) AS bmn,
             |             CAST(max(l_suppkey) AS BIGINT) AS bmx
             |           FROM lineitem),
             |sc AS (SELECT l_partkey, l_suppkey,
             |         CASE WHEN amx = amn THEN 0
             |              ELSE ((l_partkey - amn) * 255) // (amx - amn) END AS sa,
             |         CASE WHEN bmx = bmn THEN 0
             |              ELSE ((l_suppkey - bmn) * 255) // (bmx - bmn) END AS sb
             |       FROM lineitem, mm),
             |z AS (SELECT l_partkey, l_suppkey,
             |        ((sa // 1) % 2) * 2 + ((sb // 1) % 2) * 1
             |        + ((sa // 2) % 2) * 8 + ((sb // 2) % 2) * 4
             |        + ((sa // 4) % 2) * 32 + ((sb // 4) % 2) * 16
             |        + ((sa // 8) % 2) * 128 + ((sb // 8) % 2) * 64
             |        + ((sa // 16) % 2) * 512 + ((sb // 16) % 2) * 256
             |        + ((sa // 32) % 2) * 2048 + ((sb // 32) % 2) * 1024
             |        + ((sa // 64) % 2) * 8192 + ((sb // 64) % 2) * 4096
             |        + ((sa // 128) % 2) * 32768 + ((sb // 128) % 2) * 16384
             |          AS zv
             |      FROM sc)
             |SELECT zv // 4096 AS bucket, CAST(count(*) AS BIGINT) AS n,
             |  CAST(min(l_partkey) AS BIGINT) AS a_min,
             |  CAST(max(l_partkey) AS BIGINT) AS a_max,
             |  CAST(min(l_suppkey) AS BIGINT) AS b_min,
             |  CAST(max(l_suppkey) AS BIGINT) AS b_max
             |FROM z GROUP BY 1 ORDER BY bucket""".stripMargin)),

    // ---- k-core decomposition (operators/Graph.kCore) of the
    // repeat-trade commerce graph (customer-supplier pairs with >= 2
    // lineitems): iteratively peel nodes with current degree < 5 until
    // the 5-core fixpoint. The k-core is UNIQUE (order-independent), and
    // peeling past the fixpoint is a no-op — so the oracle just unrolls
    // 12 chained peel rounds in plain SQL (an upper bound on the
    // observed cascade depth at every sf) and must land on the identical
    // node set with identical in-core degrees. ----
    Q("q156_kcore",
      (s, dir) => {
        val edges = t(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_suppkey"))
          .join(t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey")),
            col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("o_custkey").as("src"),
            (col("l_suppkey") + 10000000L).as("dst"))
          .agg(count(lit(1)).as("w"))
          .filter(col("w") >= 2)
          .select(col("src"), col("dst"))
        graft.operators.Graph.kCore(edges, "src", "dst", k = 5)
          .orderBy(col("node"))
      },
      Some(q156OracleSql)),

    // ---- Histogram quantile sketch (Sketches.histogram/histQuantiles):
    // one-pass mergeable fixed-width binning of floor(l_extendedprice)
    // per return flag, then p50/p90/p99 as the first bin whose cumulative
    // count reaches ceil(q*n) — integer arithmetic end to end, so the
    // chosen bin is engine-exact even though the estimate is
    // approximate; the true quantile provably lies in [lo, hi)
    // (PropertySpec pins containment + the shard-merge law). floor()
    // over the parquet double is IEEE-deterministic on both engines —
    // no rounding ties anywhere. ----
    Q("q157_hist_quantiles",
      (s, dir) => {
        import graft.operators.Sketches
        val v = t(s, dir, "lineitem").select(col("l_returnflag"),
          floor(col("l_extendedprice")).cast("long").as("price"))
        val hist = Sketches.histogram(v, "price", Seq("l_returnflag"), 1000L)
        Sketches.histQuantiles(hist, Seq("l_returnflag"), 1000L,
            Seq(("p50", 1, 2), ("p90", 9, 10), ("p99", 99, 100)))
          .orderBy(col("l_returnflag"), col("q"))
      },
      Some("""WITH v AS (SELECT l_returnflag AS g,
             |        CAST(floor(l_extendedprice) AS BIGINT) // 1000 AS bin
             |      FROM lineitem),
             |h AS (SELECT g, bin, CAST(count(*) AS BIGINT) AS cnt
             |      FROM v GROUP BY 1, 2),
             |c AS (SELECT g, bin, cnt,
             |        CAST(sum(cnt) OVER (PARTITION BY g ORDER BY bin) AS BIGINT) AS cum,
             |        CAST(sum(cnt) OVER (PARTITION BY g) AS BIGINT) AS n
             |      FROM h),
             |qs(q, qn, qd) AS (VALUES ('p50', 1, 2), ('p90', 9, 10), ('p99', 99, 100)),
             |sel AS (SELECT c.g, qs.q, c.n,
             |          (qs.qn * c.n + qs.qd - 1) // qs.qd AS k,
             |          min(c.bin) AS bin
             |        FROM c JOIN qs ON c.cum >= (qs.qn * c.n + qs.qd - 1) // qs.qd
             |        GROUP BY c.g, qs.q, c.n, qs.qn, qs.qd)
             |SELECT g AS l_returnflag, q, n, k, bin,
             |  bin * 1000 AS lo, (bin + 1) * 1000 AS hi
             |FROM sel ORDER BY l_returnflag, q""".stripMargin)),

    // ---- KMV bottom-k distinct sketch (operators/Kmv): per-event-type
    // distinct-user estimate from the 64 smallest 48-bit md5 hashes.
    // The register is a SET (sorted distinct hashes), so the result is
    // independent of row order/partitioning; the estimator is one
    // integer division — the oracle replays hash, bottom-k selection
    // (row_number over distinct hashes) and the division verbatim.
    // Groups sit on BOTH sides of k: sparse event types stay exact
    // (n_seen < k, kth null), dense ones exercise the estimator. ----
    Q("q158_kmv_distinct",
      (s, dir) => {
        import graft.operators.Kmv
        val ev = t(s, dir, "events")
        val regs = Kmv.kmvRegisters(ev, "user_id", Seq("event_type"), k = 64)
        Kmv.kmvEstimate(regs, Seq("event_type"), k = 64)
          .join(ev.groupBy(col("event_type"))
            .agg(countDistinct(col("user_id")).as("true_nd")), Seq("event_type"))
          .select(col("event_type"), col("true_nd"), col("n_seen"),
            col("kth"), col("est"))
          .orderBy(col("event_type"))
      },
      Some("""WITH h AS (SELECT DISTINCT event_type,
             |        CAST(concat('0x', substr(md5(concat('k:', user_id)), 1, 12))
             |          AS BIGINT) AS h
             |      FROM events),
             |r AS (SELECT event_type, h,
             |        row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn,
             |        count(*) OVER (PARTITION BY event_type) AS nd
             |      FROM h),
             |k AS (SELECT event_type,
             |        CAST(least(max(nd), 64) AS BIGINT) AS n_seen,
             |        max(CASE WHEN rn = 64 THEN h END) AS kth
             |      FROM r WHERE rn <= 64 GROUP BY event_type),
             |t AS (SELECT event_type,
             |        CAST(count(DISTINCT user_id) AS BIGINT) AS true_nd
             |      FROM events GROUP BY 1)
             |SELECT t.event_type, t.true_nd, k.n_seen,
             |  CAST(k.kth AS BIGINT) AS kth,
             |  CAST(CASE WHEN k.n_seen < 64 THEN k.n_seen
             |    ELSE (63 * 281474976710656) // (k.kth + 1) END AS BIGINT) AS est
             |FROM t JOIN k USING (event_type) ORDER BY t.event_type""".stripMargin)),

    // ---- KMV set algebra (Kmv.kmvIntersect): pairwise distinct-user
    // INTERSECTION estimates across event types via inclusion–exclusion
    // — est(A) + est(B) − est(A∪B), with the union term computed from
    // the MERGED registers (exact by the bottom-k merge law, never a
    // union of estimates), clamped at 0. This is the set-algebra payoff
    // KMV has over HLL; every term is the q158 integer estimator, so
    // the oracle replays hash → per-type bottom-64 → pairwise register
    // union → the same three divisions, all in BIGINT space. The pair
    // join runs on the register table (types × 64 longs), never raw
    // rows. ----
    Q("q160_kmv_intersect",
      (s, dir) => {
        import graft.operators.Kmv
        val regs = Kmv.kmvRegisters(t(s, dir, "events"), "user_id",
          Seq("event_type"), k = 64)
        Kmv.kmvIntersect(regs, "event_type", k = 64)
          .orderBy(col("ga"), col("gb"))
      },
      Some("""WITH h AS (SELECT DISTINCT event_type AS g,
             |        CAST(concat('0x', substr(md5(concat('k:', user_id)), 1, 12))
             |          AS BIGINT) AS h
             |      FROM events),
             |r AS (SELECT g, h,
             |        row_number() OVER (PARTITION BY g ORDER BY h) AS rn,
             |        count(*) OVER (PARTITION BY g) AS nd
             |      FROM h),
             |reg AS (SELECT g, h FROM r WHERE rn <= 64),
             |e AS (SELECT g, CAST(least(max(nd), 64) AS BIGINT) AS n_seen,
             |        max(CASE WHEN rn = 64 THEN h END) AS kth
             |      FROM r WHERE rn <= 64 GROUP BY g),
             |est AS (SELECT g,
             |        CAST(CASE WHEN n_seen < 64 THEN n_seen
             |          ELSE (63 * 281474976710656) // (kth + 1) END AS BIGINT) AS est
             |      FROM e),
             |p AS (SELECT a.g AS ga, b.g AS gb FROM est a JOIN est b ON a.g < b.g),
             |ur AS (SELECT DISTINCT p.ga, p.gb, reg.h
             |       FROM p JOIN reg ON reg.g = p.ga OR reg.g = p.gb),
             |ur2 AS (SELECT ga, gb, h,
             |         row_number() OVER (PARTITION BY ga, gb ORDER BY h) AS rn,
             |         count(*) OVER (PARTITION BY ga, gb) AS nd
             |       FROM ur),
             |uu AS (SELECT ga, gb, CAST(least(max(nd), 64) AS BIGINT) AS n_seen,
             |         max(CASE WHEN rn = 64 THEN h END) AS kth
             |       FROM ur2 WHERE rn <= 64 GROUP BY ga, gb),
             |eu AS (SELECT ga, gb,
             |        CAST(CASE WHEN n_seen < 64 THEN n_seen
             |          ELSE (63 * 281474976710656) // (kth + 1) END AS BIGINT)
             |          AS est_union
             |      FROM uu)
             |SELECT eu.ga, eu.gb, ea.est AS est_a, eb.est AS est_b, eu.est_union,
             |  CAST(greatest(0, ea.est + eb.est - eu.est_union) AS BIGINT)
             |    AS est_intersect
             |FROM eu JOIN est ea ON ea.g = eu.ga JOIN est eb ON eb.g = eu.gb
             |ORDER BY eu.ga, eu.gb""".stripMargin)),

    // ---- Multi-source BFS hop distances (Graph.bfsHops) over the
    // q156 repeat-trade commerce graph, seeded from every 5th supplier
    // (s_suppkey % 5 = 0 — non-empty at every SF, unlike a nation
    // filter: sf0.001 has 10 suppliers across 25 nations): for every
    // reachable node the minimum hop count from any seed. Distances
    // are mins — order-independent, engine-exact.
    // The frontier iteration touches only the frontier's edges per
    // round (the Pregel shape a 100-TB graph wants); the oracle walks
    // the same graph with a recursive CTE capped at 12 levels (an
    // upper bound on the observed eccentricity — deepening past the
    // true BFS depth adds no new (node, dist) minima) and must land on
    // identical distances. ----
    Q("q162_bfs_hops",
      (s, dir) => {
        val edges = t(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_suppkey"))
          .join(t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey")),
            col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("o_custkey").as("src"),
            (col("l_suppkey") + 10000000L).as("dst"))
          .agg(count(lit(1)).as("w"))
          .filter(col("w") >= 2)
          .select(col("src"), col("dst"))
        val seeds = t(s, dir, "supplier").filter(col("s_suppkey") % 5 === 0)
          .select((col("s_suppkey") + 10000000L).as("node"))
        graft.operators.Graph.bfsHops(edges, "src", "dst", seeds, "node")
          .orderBy(col("node"))
      },
      Some("""WITH RECURSIVE e AS (
             |  SELECT CAST(o.o_custkey AS BIGINT) AS cu,
             |    CAST(l.l_suppkey + 10000000 AS BIGINT) AS su
             |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
             |  GROUP BY 1, 2 HAVING count(*) >= 2),
             |walk(node, dist) AS (
             |  SELECT CAST(s_suppkey + 10000000 AS BIGINT) AS node, 0 AS dist
             |  FROM supplier WHERE s_suppkey % 5 = 0
             |  UNION
             |  SELECT CASE WHEN e.cu = w.node THEN e.su ELSE e.cu END,
             |    w.dist + 1
             |  FROM walk w JOIN e ON e.cu = w.node OR e.su = w.node
             |  WHERE w.dist < 12)
             |SELECT node, CAST(min(dist) AS BIGINT) AS dist
             |FROM walk GROUP BY node ORDER BY node""".stripMargin)),

    // ---- 2-D Pareto skyline (Skyline.skyline2d): the undominated parts
    // maximizing p_size and minimizing price — collapse-to-candidates +
    // the two-phase distributed running strict-min (never a
    // one-partition window), broadcast frontier join-back. The oracle is
    // the O(n²) NOT-EXISTS dominance definition, fine at sf0.01 and
    // exactly the formulation the operator exists to avoid at scale.
    // Integer-cents dominance so both engines compare exactly. ----
    Q("q165_skyline",
      (s, dir) => {
        val parts = t(s, dir, "part")
          .select(col("p_partkey"), col("p_size").cast("long").as("p_size"),
            round(col("p_retailprice") * 100).cast("long").as("price_c"))
        graft.operators.Skyline.skyline2d(parts, "p_size", "price_c")
          .select(col("p_partkey"), col("p_size"), col("price_c"))
          .orderBy(col("p_size").desc, col("p_partkey"))
      },
      Some("""WITH p AS (SELECT p_partkey, CAST(p_size AS BIGINT) AS p_size,
             |  CAST(round(p_retailprice * 100) AS BIGINT) AS price_c
             |  FROM part)
             |SELECT p_partkey, p_size, price_c FROM p a
             |WHERE NOT EXISTS (SELECT 1 FROM p b
             |  WHERE b.p_size >= a.p_size AND b.price_c <= a.price_c
             |    AND (b.p_size > a.p_size OR b.price_c < a.price_c))
             |ORDER BY p_size DESC, p_partkey""".stripMargin)),

    // ---- Dataset profiling (Profile.profile): per-column non-null /
    // null / distinct counts and min/max-as-string in ONE aggregate over
    // the table (Catalyst Expand for the multi-distinct; at 100 TB the
    // approx=true mode collapses it to a single HLL++ pass — the q150
    // trade made explicit). Integral + string columns only, so the string
    // rendering is engine-exact. ----
    Q("q167_profile",
      (s, dir) => {
        graft.operators.Profile.profile(t(s, dir, "orders"),
          Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"))
          .orderBy(col("col_name"))
      },
      Some(Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority")
        .map { c =>
          s"""SELECT '$c' AS col_name, CAST(count($c) AS BIGINT) AS n,
             |  CAST(count(*) - count($c) AS BIGINT) AS n_null,
             |  CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct,
             |  CAST(min($c) AS VARCHAR) AS vmin,
             |  CAST(max($c) AS VARCHAR) AS vmax
             |FROM orders""".stripMargin
        }.mkString("", "\nUNION ALL\n", "\nORDER BY col_name"))),

    // ---- Deterministic stratified sampling (Sampling.stratified): per
    // stratum the n rows with the smallest md5(seed:id) — membership is a
    // pure function of (seed, id), so the sample reproduces across runs,
    // engines, and repartitionings, which `sample(fraction)` never does.
    // The rank window is PARTITIONED by stratum (the q04 top-k-per-group
    // shape, never a global sort). ----
    Q("q168_stratified_sample",
      (s, dir) => {
        graft.operators.Sampling
          .stratified(t(s, dir, "documents"), "lang", "doc_id", n = 20)
          .select(col("lang"), col("doc_id"), col("source"))
          .orderBy(col("lang"), col("doc_id"))
      },
      Some("""WITH r AS (SELECT doc_id, lang, source,
             |        md5(concat('s0:', doc_id)) AS h
             |      FROM documents),
             |k AS (SELECT lang, doc_id, source,
             |        row_number() OVER (PARTITION BY lang
             |          ORDER BY h, doc_id) AS rn
             |      FROM r)
             |SELECT lang, doc_id, source FROM k WHERE rn <= 20
             |ORDER BY lang, doc_id""".stripMargin)),

    // ---- EXACT distributed quantiles (Selection.exactQuantiles): true
    // p50/p90/p99 of lineitem price cents by counting selection — group
    // by value (shuffle ∝ distinct values, never rows), two-phase Scan
    // prefix sum for global ranks, one narrow pass emits the first value
    // whose cumulative count reaches ceil(pct·n/100). The complement of
    // the q157/q13 sketches when the answer must be exact; target_rank
    // makes the selection rule part of the verified contract. ----
    Q("q170_exact_quantiles",
      (s, dir) => {
        val cents = t(s, dir, "lineitem")
          .select(round(col("l_extendedprice") * 100).cast("long").as("c"))
        graft.operators.Selection.exactQuantiles(cents, "c", Seq(50, 90, 99))
          .orderBy(col("pct"))
      },
      Some("""WITH c AS (SELECT CAST(round(l_extendedprice * 100) AS BIGINT)
             |        AS v, count(*) AS n
             |      FROM lineitem GROUP BY 1),
             |s AS (SELECT v, CAST(sum(n) OVER (ORDER BY v) AS BIGINT) AS cum
             |      FROM c),
             |tt AS (SELECT CAST(sum(n) AS BIGINT) AS tot FROM c),
             |q(pct) AS (VALUES (50), (90), (99)),
             |tg AS (SELECT pct, (tot * pct + 99) // 100 AS target
             |       FROM q, tt)
             |SELECT CAST(tg.pct AS INT) AS pct, min(s.v) AS value,
             |  CAST(tg.target AS BIGINT) AS target_rank
             |FROM tg JOIN s ON s.cum >= tg.target
             |GROUP BY tg.pct, tg.target ORDER BY pct""".stripMargin)),

    // ---- Snapshot diff (Diff.tableDiff): classify keys across two table
    // versions as added/removed/changed (+ which columns), emitting ONLY
    // differences — diff-proportional output, one full-outer hash join,
    // null-safe comparison. The second version is derived from orders by
    // deterministic md5 buckets (bk 0–4 removed, 5–9 price-bumped,
    // 10–14 duplicated under shifted keys as adds), so the expected diff
    // is exactly replayable in SQL. ----
    Q("q175_table_diff",
      (s, dir) => {
        val base = t(s, dir, "orders").select(col("o_orderkey"),
          round(col("o_totalprice") * 100).cast("long").as("cents"),
          col("o_orderstatus"))
        val bk = conv(substring(md5(concat(lit("d:"),
          col("o_orderkey").cast("string")).cast("binary")), 1, 8), 16, 10)
          .cast("long") % 100
        val wb = base.withColumn("__bk", bk)
        val kept = wb.filter(col("__bk") >= 5)
          .withColumn("cents", when(col("__bk").between(5, 9),
            col("cents") + 100).otherwise(col("cents")))
        val adds = wb.filter(col("__bk").between(10, 14))
          .withColumn("o_orderkey", col("o_orderkey") + 1000000000L)
        val v2 = kept.unionByName(adds).drop("__bk")
        graft.operators.Diff
          .tableDiff(base, v2, Seq("o_orderkey"), Seq("cents", "o_orderstatus"))
          .orderBy(col("change"), col("o_orderkey"))
      },
      Some("""WITH base AS (SELECT o_orderkey,
             |        CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
             |        o_orderstatus,
             |        CAST(concat('0x', substr(md5(concat('d:', o_orderkey)),
             |          1, 8)) AS BIGINT) % 100 AS bk
             |      FROM orders),
             |v2 AS (SELECT o_orderkey,
             |         CASE WHEN bk BETWEEN 5 AND 9 THEN cents + 100
             |           ELSE cents END AS cents, o_orderstatus
             |       FROM base WHERE bk >= 5
             |       UNION ALL
             |       SELECT o_orderkey + 1000000000, cents, o_orderstatus
             |       FROM base WHERE bk BETWEEN 10 AND 14),
             |j AS (SELECT coalesce(a.o_orderkey, b.o_orderkey) AS o_orderkey,
             |        a.o_orderkey IS NOT NULL AS in_a,
             |        b.o_orderkey IS NOT NULL AS in_b,
             |        a.cents AS ac, b.cents AS bc,
             |        a.o_orderstatus AS ast, b.o_orderstatus AS bst
             |      FROM base a FULL OUTER JOIN v2 b
             |        ON a.o_orderkey = b.o_orderkey)
             |SELECT o_orderkey,
             |  CASE WHEN NOT in_a THEN 'added'
             |    WHEN NOT in_b THEN 'removed'
             |    ELSE 'changed' END AS change,
             |  CASE WHEN in_a AND in_b THEN concat_ws(',',
             |      CASE WHEN ac IS DISTINCT FROM bc THEN 'cents' END,
             |      CASE WHEN ast IS DISTINCT FROM bst
             |        THEN 'o_orderstatus' END)
             |    ELSE '' END AS changed_cols
             |FROM j WHERE NOT in_a OR NOT in_b
             |  OR ac IS DISTINCT FROM bc OR ast IS DISTINCT FROM bst
             |ORDER BY change, o_orderkey""".stripMargin)),

    // ---- Data-quality check suite (Checks): uniqueness, referential
    // integrity, non-null, range, and k-anonymity checks, each reduced to
    // one (check_name, violations, pass) row — count-only aggregates and
    // anti-joins, output bounded by the number of checks regardless of
    // data size. The governance gate a training-data pipeline runs
    // before shipping a corpus. ----
    Q("q176_data_checks",
      (s, dir) => {
        import graft.operators.Checks
        Checks.suite(Seq(
          Checks.unique(t(s, dir, "orders"), Seq("o_orderkey"),
            "orders_key_unique"),
          Checks.refIntegrity(t(s, dir, "lineitem"), "l_orderkey",
            t(s, dir, "orders"), "o_orderkey", "lineitem_fk_orders"),
          Checks.notNull(t(s, dir, "events"), "user_id",
            "events_user_not_null"),
          Checks.inRange(t(s, dir, "part"), "p_size", 1, 50,
            "part_size_range"),
          Checks.kAnonymity(t(s, dir, "documents"), Seq("lang", "source"),
            5, "documents_k_anon_5")))
          .orderBy(col("check_name"))
      },
      Some("""SELECT 'orders_key_unique' AS check_name,
             |  CAST(coalesce(sum(n - 1), 0) AS BIGINT) AS violations,
             |  coalesce(sum(n - 1), 0) = 0 AS pass
             |FROM (SELECT count(*) AS n FROM orders
             |      GROUP BY o_orderkey HAVING count(*) > 1)
             |UNION ALL
             |SELECT 'lineitem_fk_orders', CAST(count(*) AS BIGINT),
             |  count(*) = 0
             |FROM lineitem WHERE l_orderkey NOT IN
             |  (SELECT o_orderkey FROM orders)
             |UNION ALL
             |SELECT 'events_user_not_null',
             |  CAST(count(CASE WHEN user_id IS NULL THEN 1 END) AS BIGINT),
             |  count(CASE WHEN user_id IS NULL THEN 1 END) = 0
             |FROM events
             |UNION ALL
             |SELECT 'part_size_range',
             |  CAST(count(CASE WHEN p_size < 1 OR p_size > 50 THEN 1 END)
             |    AS BIGINT),
             |  count(CASE WHEN p_size < 1 OR p_size > 50 THEN 1 END) = 0
             |FROM part
             |UNION ALL
             |SELECT 'documents_k_anon_5',
             |  CAST(coalesce(sum(CASE WHEN n < 5 THEN n END), 0) AS BIGINT),
             |  coalesce(sum(CASE WHEN n < 5 THEN n END), 0) = 0
             |FROM (SELECT count(*) AS n FROM documents GROUP BY lang, source)
             |ORDER BY check_name""".stripMargin)),

    // ---- ABC / Pareto analysis (Abc.classify): parts classed A/B/C by
    // cumulative revenue share (80/95), with the cumulative sum as the
    // two-phase Scan — never a global one-partition window — and the
    // share thresholds cross-multiplied into exact integers. The oracle
    // replays with the window formulation the operator exists to avoid
    // (fine at sf0.01). ----
    Q("q179_abc_analysis",
      (s, dir) => {
        val rev = t(s, dir, "lineitem")
          .groupBy(col("l_partkey"))
          .agg(sum(round(col("l_extendedprice") * 100).cast("long"))
            .as("rev"))
        graft.operators.Abc.classify(rev, "l_partkey", "rev")
          .groupBy(col("cls"))
          .agg(count(lit(1)).as("n_parts"), sum(col("value")).as("rev_cents"))
          .orderBy(col("cls"))
      },
      Some("""WITH r AS (SELECT l_partkey,
             |        CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
             |          AS BIGINT) AS rev
             |      FROM lineitem GROUP BY 1),
             |w AS (SELECT l_partkey, rev,
             |        CAST(sum(rev) OVER (ORDER BY rev DESC, l_partkey)
             |          AS BIGINT) AS cum,
             |        CAST((SELECT sum(rev) FROM r) AS BIGINT) AS tot
             |      FROM r),
             |c AS (SELECT CASE WHEN cum * 100 <= tot * 80 THEN 'A'
             |        WHEN cum * 100 <= tot * 95 THEN 'B'
             |        ELSE 'C' END AS cls, rev
             |      FROM w)
             |SELECT cls, CAST(count(*) AS BIGINT) AS n_parts,
             |  CAST(sum(rev) AS BIGINT) AS rev_cents
             |FROM c GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- Rendezvous sharding (Sharding.assign): every order key routed
    // to the shard with the highest md5(key, shard) weight — pure Column
    // argmax over structs, zero shuffles, whole-stage codegen. The query
    // also PROVES the minimal-movement property the scheme exists for:
    // re-assigning under 7 shards, only keys won by the new shard 7 move
    // (moved = n on shard 7, 0 everywhere else). ----
    Q("q181_rendezvous",
      (s, dir) => {
        import graft.operators.Sharding
        val keys = t(s, dir, "orders").select(col("o_orderkey"))
        val a8 = Sharding.assign(keys, "o_orderkey", 8)
          .withColumnRenamed("shard", "shard8")
        val a7 = Sharding.assign(keys, "o_orderkey", 7)
          .withColumnRenamed("shard", "shard7")
        a8.join(a7, Seq("o_orderkey"))
          .groupBy(col("shard8").cast("long").as("shard"))
          .agg(count(lit(1)).as("n"),
            sum(when(col("shard7") =!= col("shard8"), 1L).otherwise(0L))
              .as("moved"))
          .orderBy(col("shard"))
      },
      Some("""WITH k AS (SELECT o_orderkey AS key FROM orders),
             |w AS (SELECT key, sh,
             |        CAST(concat('0x', substr(md5(concat('rv:', key, ':',
             |          sh)), 1, 15)) AS BIGINT) AS w
             |      FROM k, unnest(generate_series(0, 7)) AS t(sh)),
             |a8 AS (SELECT key, sh FROM (SELECT key, sh, row_number()
             |         OVER (PARTITION BY key ORDER BY w DESC, sh DESC) rn
             |       FROM w) WHERE rn = 1),
             |a7 AS (SELECT key, sh FROM (SELECT key, sh, row_number()
             |         OVER (PARTITION BY key ORDER BY w DESC, sh DESC) rn
             |       FROM w WHERE sh < 7) WHERE rn = 1)
             |SELECT CAST(a8.sh AS BIGINT) AS shard,
             |  CAST(count(*) AS BIGINT) AS n,
             |  CAST(sum(CASE WHEN a7.sh != a8.sh THEN 1 ELSE 0 END)
             |    AS BIGINT) AS moved
             |FROM a8 JOIN a7 USING (key) GROUP BY 1 ORDER BY 1"""
        .stripMargin)),

    // ---- Golden-record survivorship — the MDM step AFTER entity
    // resolution: q129's verified fuzzy pairs → connected components
    // (min-id labels, the two-regime q94 machinery) → one golden row per
    // cluster by rule "longest name, tie smallest id" via a single
    // min_by over a (−length, id) struct. The oracle replays blocking,
    // verification, a recursive-CTE closure (duplicate clusters are tiny
    // near-cliques), and the same survivorship rule as a window. ----
    Q("q183_golden_record",
      (s, dir) => {
        val c = t(s, dir, "customer")
          .select(col("c_custkey").as("id"), col("c_name").as("nm"))
        val pairs = graft.operators.Entities.fuzzyPairs(c, "id", "nm")
          .localCheckpoint(true)
        val cc = graft.operators.Dedup.connectedComponents(pairs)
        val key = struct((-length(col("nm"))).as("nl"), col("id"))
        c.join(cc, Seq("id"))
          .groupBy(col("label").as("cluster"))
          .agg(count(lit(1)).as("n_members"),
            min_by(col("id"), key).as("golden_id"),
            min_by(col("nm"), key).as("golden_name"))
          .orderBy(col("cluster"))
      },
      Some("""WITH RECURSIVE n AS (SELECT c_custkey AS id, c_name AS nm
             |      FROM customer),
             |v AS (SELECT DISTINCT id, nm, var FROM (
             |        SELECT id, nm,
             |          substr(nm, 1, i - 1) || substr(nm, i + 1, length(nm))
             |            AS var
             |        FROM n, unnest(generate_series(1, length(nm))) AS t(i)
             |        UNION ALL SELECT id, nm, nm FROM n)),
             |cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b,
             |           a.nm AS na, b.nm AS nb
             |         FROM v a JOIN v b ON a.var = b.var AND a.id < b.id),
             |p AS (SELECT id_a, id_b FROM cand WHERE levenshtein(na, nb) <= 1),
             |und AS (SELECT id_a AS a, id_b AS b FROM p
             |        UNION SELECT id_b, id_a FROM p),
             |reach(src, dst) AS (
             |  SELECT a, b FROM und
             |  UNION
             |  SELECT r.src, u.b FROM reach r JOIN und u ON r.dst = u.a),
             |lbl AS (SELECT src AS id, least(src, min(dst)) AS label
             |        FROM reach GROUP BY src),
             |m AS (SELECT n.id, n.nm, lbl.label
             |      FROM n JOIN lbl ON n.id = lbl.id),
             |g AS (SELECT label, id, nm, row_number() OVER (
             |        PARTITION BY label ORDER BY length(nm) DESC, id) AS rn
             |      FROM m),
             |cnt AS (SELECT label AS cluster, CAST(count(*) AS BIGINT)
             |          AS n_members
             |        FROM m GROUP BY 1)
             |SELECT cnt.cluster, cnt.n_members, g.id AS golden_id,
             |  g.nm AS golden_name
             |FROM cnt JOIN g ON g.label = cnt.cluster AND g.rn = 1
             |ORDER BY cnt.cluster""".stripMargin)),

    // ---- Sketch-quality measurement for KMV set algebra: the q160
    // estimated pairwise user overlaps joined against the EXACT
    // distinct-user intersections (one distinct + self-join on user),
    // with the absolute error as a verified column — the q136/q150
    // "measure the sketch, don't trust it" discipline applied to
    // inclusion–exclusion. ----
    Q("q184_overlap_exact_vs_kmv",
      (s, dir) => {
        import graft.operators.Kmv
        val ev = t(s, dir, "events")
        val est = Kmv.kmvIntersect(
          Kmv.kmvRegisters(ev, "user_id", Seq("event_type"), k = 64),
          "event_type", k = 64)
          .select(col("ga"), col("gb"), col("est_intersect"))
        val du = ev.select(col("event_type"), col("user_id")).distinct()
        val exact = du.select(col("event_type").as("ga"), col("user_id"))
          .join(du.select(col("event_type").as("gb"), col("user_id")),
            Seq("user_id"))
          .filter(col("ga") < col("gb"))
          .groupBy(col("ga"), col("gb"))
          .agg(count(lit(1)).as("exact_n"))
        est.join(exact, Seq("ga", "gb"))
          .select(col("ga"), col("gb"), col("exact_n"), col("est_intersect"),
            abs(col("est_intersect") - col("exact_n")).as("abs_err"))
          .orderBy(col("ga"), col("gb"))
      },
      Some("""WITH h AS (SELECT DISTINCT event_type AS g,
             |        CAST(concat('0x', substr(md5(concat('k:', user_id)), 1, 12))
             |          AS BIGINT) AS h
             |      FROM events),
             |r AS (SELECT g, h,
             |        row_number() OVER (PARTITION BY g ORDER BY h) AS rn,
             |        count(*) OVER (PARTITION BY g) AS nd
             |      FROM h),
             |reg AS (SELECT g, h FROM r WHERE rn <= 64),
             |e AS (SELECT g, CAST(least(max(nd), 64) AS BIGINT) AS n_seen,
             |        max(CASE WHEN rn = 64 THEN h END) AS kth
             |      FROM r WHERE rn <= 64 GROUP BY g),
             |est AS (SELECT g,
             |        CAST(CASE WHEN n_seen < 64 THEN n_seen
             |          ELSE (63 * 281474976710656) // (kth + 1) END AS BIGINT)
             |          AS est
             |      FROM e),
             |pr AS (SELECT a.g AS ga, b.g AS gb FROM est a
             |       JOIN est b ON a.g < b.g),
             |ur AS (SELECT DISTINCT pr.ga, pr.gb, reg.h
             |       FROM pr JOIN reg ON reg.g = pr.ga OR reg.g = pr.gb),
             |ur2 AS (SELECT ga, gb, h,
             |         row_number() OVER (PARTITION BY ga, gb ORDER BY h) AS rn,
             |         count(*) OVER (PARTITION BY ga, gb) AS nd
             |       FROM ur),
             |uu AS (SELECT ga, gb, CAST(least(max(nd), 64) AS BIGINT) AS n_seen,
             |         max(CASE WHEN rn = 64 THEN h END) AS kth
             |       FROM ur2 WHERE rn <= 64 GROUP BY ga, gb),
             |eu AS (SELECT ga, gb,
             |        CAST(CASE WHEN n_seen < 64 THEN n_seen
             |          ELSE (63 * 281474976710656) // (kth + 1) END AS BIGINT)
             |          AS est_union
             |      FROM uu),
             |fin AS (SELECT eu.ga, eu.gb,
             |          CAST(greatest(0, ea.est + eb.est - eu.est_union)
             |            AS BIGINT) AS est_intersect
             |        FROM eu JOIN est ea ON ea.g = eu.ga
             |          JOIN est eb ON eb.g = eu.gb),
             |du AS (SELECT DISTINCT event_type AS g, user_id FROM events),
             |ex AS (SELECT a.g AS ga, b.g AS gb,
             |         CAST(count(*) AS BIGINT) AS exact_n
             |       FROM du a JOIN du b
             |         ON a.user_id = b.user_id AND a.g < b.g
             |       GROUP BY 1, 2)
             |SELECT f.ga, f.gb, ex.exact_n, f.est_intersect,
             |  abs(f.est_intersect - ex.exact_n) AS abs_err
             |FROM fin f JOIN ex USING (ga, gb)
             |ORDER BY f.ga, f.gb""".stripMargin)),

    // ---- Hierarchical contribution shares (percent-of-parent): supplier
    // revenue rolled to nation and region, each nation's ppm share of its
    // region and each region's ppm share of the total — broadcast dim
    // joins (PlanSpec's q02 discipline), one fact shuffle, shares by
    // integer cross-division over region-partitioned (dimension-sized)
    // windows. The drill-down header of every BI report. ----
    Q("q196_hierarchy_share",
      (s, dir) => {
        val rev = t(s, dir, "lineitem")
          .join(broadcast(t(s, dir, "supplier")
            .select(col("s_suppkey"), col("s_nationkey"))),
            col("l_suppkey") === col("s_suppkey"))
          .join(broadcast(t(s, dir, "nation")
            .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))),
            col("s_nationkey") === col("n_nationkey"))
          .join(broadcast(t(s, dir, "region")
            .select(col("r_regionkey"), col("r_name"))),
            col("n_regionkey") === col("r_regionkey"))
          .groupBy(col("r_name"), col("n_name"))
          .agg(sum(round(col("l_extendedprice") * 100).cast("long")).as("rev"))
        // both windows ride the POST-AGGREGATE (region × nation) rollup —
        // ≤ |nation| = 25 rows at any scale factor, never the fact table;
        // the single-partition global window is O(dimension) by invariant
        val wr = Window.partitionBy(col("r_name"))
        val wa = Window.partitionBy()
        rev
          .withColumn("region_rev", sum(col("rev")).over(wr))
          .withColumn("total_rev", sum(col("rev")).over(wa))
          .select(col("r_name"), col("n_name"), col("rev"),
            expr("rev * 1000000 DIV region_rev").as("share_of_region_ppm"),
            expr("region_rev * 1000000 DIV total_rev").as("region_share_ppm"))
          .orderBy(col("r_name"), col("n_name"))
      },
      Some("""WITH rev AS (SELECT r_name, n_name,
             |        CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
             |          AS BIGINT) AS rev
             |      FROM lineitem
             |      JOIN supplier ON l_suppkey = s_suppkey
             |      JOIN nation ON s_nationkey = n_nationkey
             |      JOIN region ON n_regionkey = r_regionkey
             |      GROUP BY 1, 2),
             |w AS (SELECT r_name, n_name, rev,
             |        CAST(sum(rev) OVER (PARTITION BY r_name) AS BIGINT)
             |          AS region_rev,
             |        CAST(sum(rev) OVER () AS BIGINT) AS total_rev
             |      FROM rev)
             |SELECT r_name, n_name, rev,
             |  rev * 1000000 // region_rev AS share_of_region_ppm,
             |  region_rev * 1000000 // total_rev AS region_share_ppm
             |FROM w ORDER BY r_name, n_name""".stripMargin)),

    // ---- Week-over-week top movers: weekly supplier-nation revenue,
    // integer cent deltas vs the previous week (lag over a
    // nation-partitioned window), ranked by absolute delta within each
    // week — the "what changed" report. Weeks are epoch-day DIV 7 so the
    // bucket is engine-neutral; first weeks (no prior) are excluded
    // explicitly rather than null-faked. ----
    Q("q197_top_movers",
      (s, dir) => {
        val weekly = t(s, dir, "lineitem")
          .join(broadcast(t(s, dir, "supplier")
            .select(col("s_suppkey"), col("s_nationkey"))),
            col("l_suppkey") === col("s_suppkey"))
          .join(broadcast(t(s, dir, "nation")
            .select(col("n_nationkey"), col("n_name"))),
            col("s_nationkey") === col("n_nationkey"))
          .groupBy(col("n_name"),
            expr("CAST(l_shipdate AS LONG) DIV 604800").as("wk"))
          .agg(sum(round(col("l_extendedprice") * 100).cast("long")).as("rev"))
        val wn = Window.partitionBy(col("n_name")).orderBy(col("wk"))
        val wrank = Window.partitionBy(col("wk"))
          .orderBy(abs(col("delta")).desc, col("n_name"))
        weekly
          .withColumn("prev", lag(col("rev"), 1).over(wn))
          .filter(col("prev").isNotNull)
          .withColumn("delta", col("rev") - col("prev"))
          .withColumn("mover_rank", row_number().over(wrank).cast("long"))
          .filter(col("mover_rank") <= 3)
          .select(col("wk"), col("mover_rank"), col("n_name"), col("rev"),
            col("prev"), col("delta"))
          .orderBy(col("wk"), col("mover_rank"))
      },
      Some("""WITH weekly AS (SELECT n_name,
             |        CAST(epoch(l_shipdate) AS BIGINT) // 604800 AS wk,
             |        CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
             |          AS BIGINT) AS rev
             |      FROM lineitem
             |      JOIN supplier ON l_suppkey = s_suppkey
             |      JOIN nation ON s_nationkey = n_nationkey
             |      GROUP BY 1, 2),
             |d AS (SELECT n_name, wk, rev,
             |        lag(rev) OVER (PARTITION BY n_name ORDER BY wk) AS prev
             |      FROM weekly),
             |r AS (SELECT wk, n_name, rev, prev, rev - prev AS delta,
             |        CAST(row_number() OVER (PARTITION BY wk
             |          ORDER BY abs(rev - prev) DESC, n_name) AS BIGINT)
             |          AS mover_rank
             |      FROM d WHERE prev IS NOT NULL)
             |SELECT wk, mover_rank, n_name, rev, prev, delta
             |FROM r WHERE mover_rank <= 3
             |ORDER BY wk, mover_rank""".stripMargin)),

    // ---- Order-insensitive table checksum: each row serialized
    // canonically ('|'-joined exact-typed columns), hashed to a 48-bit
    // md5 integer, and SUMMED — addition commutes, so the fingerprint is
    // independent of partitioning, ordering, and engine, and two
    // replicas compare by exchanging 16 bytes instead of rows. The
    // cheap pre-check before a q175 diff: equal checksums ⇒ skip the
    // full-outer join (with 2⁻⁴⁸-scale collision odds per differing
    // row); split by o_orderstatus so a mismatch localizes. ----
    Q("q198_table_checksum",
      (s, dir) => {
        val rows = t(s, dir, "orders").select(col("o_orderstatus"),
          conv(substring(md5(concat_ws("|", lit("ck"), col("o_orderkey"),
            col("o_custkey"), col("o_orderpriority")).cast("binary")),
            1, 12), 16, 10).cast("long").as("rh"))
        rows.groupBy(col("o_orderstatus"))
          .agg(count(lit(1)).as("n"), sum(col("rh")).as("checksum"))
          .orderBy(col("o_orderstatus"))
      },
      Some("""WITH r AS (SELECT o_orderstatus,
             |        CAST(concat('0x', substr(md5(concat_ws('|', 'ck',
             |          o_orderkey, o_custkey, o_orderpriority)), 1, 12))
             |          AS BIGINT) AS rh
             |      FROM orders)
             |SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
             |  CAST(sum(rh) AS BIGINT) AS checksum
             |FROM r GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- Contingency deviation from independence (the chi-square
    // screen WITHOUT the division): for each (event_type, value-quartile)
    // cell, dev = o·N − r·c in exact integers — zero iff the cell
    // matches the independence expectation, sign shows direction, and
    // ranking |dev| finds the association structure a chi-square test
    // would flag, with no float in the contract. Quartiles from the
    // single-group equiFreqBins bounds. ----
    Q("q199_contingency",
      (s, dir) => {
        val ev = t(s, dir, "events")
          .select(col("event_type"),
            round(col("value") * 100).cast("long").as("c"))
          .withColumn("g", lit("all"))
        val binned = graft.operators.Selection.equiFreqBins(ev, "g", "c", 4)
        val cells = binned.groupBy(col("event_type"), col("bucket"))
          .agg(count(lit(1)).as("o"))
        // windows ride the POST-AGGREGATE contingency cells — ≤ |types| ×
        // |bins| rows (5 × 4 here), never the event stream; the global
        // window is O(cells) by invariant
        val rowTot = Window.partitionBy(col("event_type"))
        val colTot = Window.partitionBy(col("bucket"))
        val all = Window.partitionBy()
        cells
          .withColumn("r", sum(col("o")).over(rowTot))
          .withColumn("cc", sum(col("o")).over(colTot))
          .withColumn("nn", sum(col("o")).over(all))
          .select(col("event_type"), col("bucket"), col("o"),
            (col("o") * col("nn") - col("r") * col("cc")).as("dev"))
          .orderBy(col("event_type"), col("bucket"))
      },
      Some("""WITH e AS (SELECT event_type,
             |        CAST(round(value * 100) AS BIGINT) AS c
             |      FROM events),
             |g AS (SELECT c AS v, count(*) AS n FROM e GROUP BY 1),
             |w AS (SELECT v, CAST(sum(n) OVER (ORDER BY v) AS BIGINT) AS cum,
             |        CAST((SELECT sum(n) FROM g) AS BIGINT) AS tot
             |      FROM g),
             |b AS (SELECT
             |        min(CASE WHEN cum >= (tot * 1 + 3) // 4 THEN v END) AS b1,
             |        min(CASE WHEN cum >= (tot * 2 + 3) // 4 THEN v END) AS b2,
             |        min(CASE WHEN cum >= (tot * 3 + 3) // 4 THEN v END) AS b3
             |      FROM w),
             |x AS (SELECT event_type,
             |        1 + (CASE WHEN c > b1 THEN 1 ELSE 0 END)
             |          + (CASE WHEN c > b2 THEN 1 ELSE 0 END)
             |          + (CASE WHEN c > b3 THEN 1 ELSE 0 END) AS bucket
             |      FROM e, b),
             |cells AS (SELECT event_type, bucket,
             |            CAST(count(*) AS BIGINT) AS o
             |          FROM x GROUP BY 1, 2),
             |t AS (SELECT event_type, bucket, o,
             |        CAST(sum(o) OVER (PARTITION BY event_type) AS BIGINT)
             |          AS r,
             |        CAST(sum(o) OVER (PARTITION BY bucket) AS BIGINT) AS cc,
             |        CAST(sum(o) OVER () AS BIGINT) AS nn
             |      FROM cells)
             |SELECT event_type, bucket, o, o * nn - r * cc AS dev
             |FROM t ORDER BY event_type, bucket""".stripMargin)),

    // ---- Benford first-digit screening (the audit/fraud first-pass):
    // leading-digit shares of price cents vs Benford's log10(1 + 1/d)
    // expectation, both in ppm — the expectation inlined as nine integer
    // literals, so the whole test (shares, expected, deviation) is exact
    // integer arithmetic. One narrow digit-extraction scan + a
    // nine-row aggregate. ----
    Q("q200_benford",
      (s, dir) => {
        val benford = Seq(301030L, 176091L, 124939L, 96910L, 79181L,
          66947L, 57992L, 51153L, 45757L)
        val bmap = map((1 to 9).flatMap(d =>
          Seq(lit(d.toString), lit(benford(d - 1)))): _*)
        val digits = t(s, dir, "lineitem")
          .select(substring(round(col("l_extendedprice") * 100)
            .cast("long").cast("string"), 1, 1).as("digit"))
        val tot = digits.agg(count(lit(1)).as("tot"))
        digits.groupBy(col("digit")).agg(count(lit(1)).as("n"))
          .crossJoin(broadcast(tot))
          .select(col("digit"), col("n"),
            expr("n * 1000000 DIV tot").as("share_ppm"),
            bmap(col("digit")).as("benford_ppm"))
          .withColumn("dev_ppm", col("share_ppm") - col("benford_ppm"))
          .orderBy(col("digit"))
      },
      Some("""WITH d AS (SELECT substr(CAST(CAST(round(l_extendedprice * 100)
             |          AS BIGINT) AS VARCHAR), 1, 1) AS digit
             |      FROM lineitem),
             |c AS (SELECT digit, CAST(count(*) AS BIGINT) AS n
             |      FROM d GROUP BY 1),
             |t AS (SELECT CAST(sum(n) AS BIGINT) AS tot FROM c),
             |b(digit, benford_ppm) AS (VALUES ('1', CAST(301030 AS BIGINT)),
             |  ('2', 176091), ('3', 124939), ('4', 96910), ('5', 79181),
             |  ('6', 66947), ('7', 57992), ('8', 51153), ('9', 45757))
             |SELECT c.digit, c.n, c.n * 1000000 // t.tot AS share_ppm,
             |  b.benford_ppm,
             |  c.n * 1000000 // t.tot - b.benford_ppm AS dev_ppm
             |FROM c JOIN b USING (digit), t ORDER BY c.digit""".stripMargin)),

    // ---- Peak concurrency (interval sweep): events as 30-minute
    // half-open activity intervals; +1/−1 boundary explode, a running
    // sum over a TYPE-partitioned ordered window (ends sort before
    // starts at the same instant, the half-open rule), peak = max
    // running level, with the first time it is reached. Partitioned by
    // type the sweep distributes across types; one colossal type would
    // ride the Scan two-phase pattern instead (the q165/q179
    // discipline). The ops question "how many sessions were live at
    // worst" answered exactly. ----
    Q("q201_peak_concurrency",
      (s, dir) => {
        val iv = t(s, dir, "events")
          .select(col("event_type"), expr("unix_micros(ts)").as("t0"))
          .withColumn("t1", col("t0") + 1800000000L)
        val bounds = iv.select(col("event_type"), col("t0").as("t"),
            lit(1L).as("delta"))
          .unionByName(iv.select(col("event_type"), col("t1").as("t"),
            lit(-1L).as("delta")))
        val w = Window.partitionBy(col("event_type"))
          .orderBy(col("t"), col("delta"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val swept = bounds.withColumn("level", sum(col("delta")).over(w))
        val peak = swept.groupBy(col("event_type"))
          .agg(max(col("level")).as("peak"))
        swept.join(broadcast(peak), Seq("event_type"))
          .filter(col("level") === col("peak"))
          .groupBy(col("event_type"), col("peak"))
          .agg(min(col("t")).as("first_peak_us"))
          .orderBy(col("event_type"))
      },
      Some("""WITH iv AS (SELECT event_type, epoch_us(ts) AS t0,
             |        epoch_us(ts) + 1800000000 AS t1
             |      FROM events),
             |b AS (SELECT event_type, t0 AS t, CAST(1 AS BIGINT) AS delta
             |        FROM iv
             |      UNION ALL
             |      SELECT event_type, t1, -1 FROM iv),
             |s AS (SELECT event_type, t, delta,
             |        CAST(sum(delta) OVER (PARTITION BY event_type
             |          ORDER BY t, delta
             |          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS level
             |      FROM b),
             |p AS (SELECT event_type, max(level) AS peak FROM s GROUP BY 1)
             |SELECT s.event_type, p.peak, min(s.t) AS first_peak_us
             |FROM s JOIN p ON s.event_type = p.event_type
             |  AND s.level = p.peak
             |GROUP BY 1, 2 ORDER BY s.event_type""".stripMargin)),

    // ---- Exact Gini coefficient of supplier revenue concentration, as
    // the integer rational (2·Σi·xᵢ − (n+1)·Σx, n·Σx) over
    // ascending-sorted revenues — the standard rank formula with the
    // division deferred, so inequality measurement carries no float.
    // Rank ties contribute identically under any permutation (equal x
    // share a consecutive rank block), so the statistic is deterministic
    // without a tiebreak; the rank window rides the supplier DIMENSION
    // (fact table already aggregated away — for a fact-sized ranking use
    // the Scan two-phase pattern, q179's discipline). ----
    Q("q203_gini",
      (s, dir) => {
        val rev = t(s, dir, "lineitem")
          .groupBy(col("l_suppkey"))
          .agg(sum(round(col("l_extendedprice") * 100).cast("long")).as("x"))
        val w = Window.orderBy(col("x"), col("l_suppkey"))
        rev.withColumn("i", row_number().over(w).cast("long"))
          .agg(count(lit(1)).as("n"), sum(col("x")).as("sum_cents"),
            sum(col("i") * col("x")).as("wsum"))
          .select(col("n"), col("sum_cents"),
            (lit(2L) * col("wsum") - (col("n") + 1L) * col("sum_cents"))
              .as("gini_num"),
            (col("n") * col("sum_cents")).as("gini_den"))
          .withColumn("gini6",
            round(col("gini_num").cast("double") /
              col("gini_den").cast("double"), 6))
      },
      Some("""WITH rev AS (SELECT l_suppkey,
             |        CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
             |          AS BIGINT) AS x
             |      FROM lineitem GROUP BY 1),
             |r AS (SELECT x, CAST(row_number() OVER (ORDER BY x, l_suppkey)
             |          AS BIGINT) AS i
             |      FROM rev),
             |a AS (SELECT CAST(count(*) AS BIGINT) AS n,
             |        CAST(sum(x) AS BIGINT) AS sum_cents,
             |        CAST(sum(i * x) AS BIGINT) AS wsum
             |      FROM r)
             |SELECT n, sum_cents,
             |  2 * wsum - (n + 1) * sum_cents AS gini_num,
             |  n * sum_cents AS gini_den,
             |  round(CAST(2 * wsum - (n + 1) * sum_cents AS DOUBLE)
             |    / CAST(n * sum_cents AS DOUBLE), 6) AS gini6
             |FROM a""".stripMargin)),

    // ---- Weighted deterministic sampling (Sampling.weightedHash):
    // parts kept with probability proportional to their price cents —
    // keep iff hash32(seed:id) < (w·2³²) div maxW. Importance sampling
    // with zero RNG: membership is a pure function of (seed, id,
    // weight), the filter is shuffle-free (one broadcast scalar), and
    // the oracle replays every inclusion decision bit-for-bit — the
    // property RNG-based weighted samplers can never offer. ----
    Q("q206_weighted_sample",
      (s, dir) => {
        val parts = t(s, dir, "part").select(col("p_partkey"),
          round(col("p_retailprice") * 100).cast("long").as("w"))
        graft.operators.Sampling.weightedHash(parts, "p_partkey", "w")
          .orderBy(col("p_partkey"))
      },
      Some("""WITH p AS (SELECT p_partkey,
             |        CAST(round(p_retailprice * 100) AS BIGINT) AS w
             |      FROM part),
             |m AS (SELECT max(w) AS maxw FROM p)
             |SELECT p_partkey, w FROM p, m
             |WHERE CAST(concat('0x', substr(md5(concat('w0:', p_partkey)),
             |    1, 8)) AS BIGINT) < w * 4294967296 // maxw
             |ORDER BY p_partkey""".stripMargin)),

    // ---- Degree distribution of the q156/q162 commerce graph — the
    // first diagnostic of any graph workload (is it power-law? where do
    // the hubs start?): per degree the node count and its ppm share,
    // plus the hub flag at degree ≥ 20 — what decides whether the graph
    // ops above need their hot-node caps. Two partial-aggregated
    // shuffles (node degrees, then the histogram); integer shares. ----
    Q("q211_degree_dist",
      (s, dir) => {
        val edges = t(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_suppkey"))
          .join(t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey")),
            col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("o_custkey").as("src"),
            (col("l_suppkey") + 10000000L).as("dst"))
          .agg(count(lit(1)).as("w"))
          .filter(col("w") >= 2)
          .select(col("src"), col("dst"))
        val deg = edges.select(col("src").as("n"))
          .unionByName(edges.select(col("dst").as("n")))
          .groupBy(col("n")).agg(count(lit(1)).as("deg"))
        val tot = deg.agg(count(lit(1)).as("n_nodes"))
        deg.groupBy(col("deg")).agg(count(lit(1)).as("n"))
          .crossJoin(broadcast(tot))
          .select(col("deg"), col("n"),
            expr("n * 1000000 DIV n_nodes").as("share_ppm"),
            (col("deg") >= 20L).as("is_hub_degree"))
          .orderBy(col("deg"))
      },
      Some("""WITH e AS (SELECT o_custkey AS src,
             |        l_suppkey + 10000000 AS dst
             |      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
             |      GROUP BY 1, 2 HAVING count(*) >= 2),
             |d AS (SELECT n, CAST(count(*) AS BIGINT) AS deg FROM
             |        (SELECT src AS n FROM e
             |         UNION ALL SELECT dst FROM e) u
             |      GROUP BY n),
             |t AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes FROM d),
             |h AS (SELECT deg, CAST(count(*) AS BIGINT) AS n FROM d
             |      GROUP BY 1)
             |SELECT h.deg, h.n, h.n * 1000000 // t.n_nodes AS share_ppm,
             |  h.deg >= 20 AS is_hub_degree
             |FROM h, t ORDER BY h.deg""".stripMargin)),

    // ---- SLA compliance by order priority: the share of line items
    // shipped more than 30 days after their order date, per priority —
    // lateness in whole epoch days (integer), shares in ppm. One
    // broadcast orders join keyed on the fact side, one aggregate: the
    // operational report every fulfilment dashboard leads with. ----
    Q("q212_sla_compliance",
      (s, dir) => {
        val li = t(s, dir, "lineitem")
          .select(col("l_orderkey"),
            expr("CAST(l_shipdate AS LONG) DIV 86400").as("ship_day"))
        val o = t(s, dir, "orders")
          .select(col("o_orderkey"), col("o_orderpriority"),
            expr("CAST(o_orderdate AS LONG) DIV 86400").as("order_day"))
        li.join(o, col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("n"),
            sum(when(col("ship_day") - col("order_day") > 30L, 1L)
              .otherwise(0L)).as("n_late"))
          .select(col("o_orderpriority"), col("n"), col("n_late"),
            expr("n_late * 1000000 DIV n").as("late_ppm"))
          .orderBy(col("o_orderpriority"))
      },
      Some("""WITH j AS (SELECT o_orderpriority,
             |        CAST(epoch(l_shipdate) AS BIGINT) // 86400
             |          - CAST(epoch(o_orderdate) AS BIGINT) // 86400 AS lag
             |      FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
             |a AS (SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
             |        CAST(sum(CASE WHEN lag > 30 THEN 1 ELSE 0 END)
             |          AS BIGINT) AS n_late
             |      FROM j GROUP BY 1)
             |SELECT o_orderpriority, n, n_late,
             |  n_late * 1000000 // n AS late_ppm
             |FROM a ORDER BY o_orderpriority""".stripMargin)),

    // ---- Price–quantity association per brand (Trend reused on a
    // second domain): the OLS slope of quantity over unit price dollars
    // as the same integer rational — a negative slope is the
    // elasticity signal. Demonstrates the sufficient-statistics
    // aggregate is a general operator, not a time-series special. ----
    Q("q213_price_qty_trend",
      (s, dir) => {
        val li = t(s, dir, "lineitem")
          .join(broadcast(t(s, dir, "part")
            .select(col("p_partkey"), col("p_brand"))),
            col("l_partkey") === col("p_partkey"))
          .select(col("p_brand"),
            expr("CAST(round(l_extendedprice * 100) AS LONG) DIV " +
              "(100 * CAST(l_quantity AS LONG))").as("unit_dollars"),
            col("l_quantity").cast("long").as("qty"))
        graft.operators.Trend
          .groupTrend(li, Seq("p_brand"), "unit_dollars", "qty")
          .orderBy(col("p_brand"))
      },
      Some("""WITH li AS (SELECT p_brand,
             |        CAST(round(l_extendedprice * 100) AS BIGINT)
             |          // (100 * CAST(l_quantity AS BIGINT)) AS x,
             |        CAST(l_quantity AS BIGINT) AS y
             |      FROM lineitem JOIN part ON l_partkey = p_partkey),
             |a AS (SELECT p_brand, CAST(count(*) AS BIGINT) AS n,
             |        CAST(sum(x) AS BIGINT) AS sx,
             |        CAST(sum(y) AS BIGINT) AS sy,
             |        CAST(sum(x * y) AS BIGINT) AS sxy,
             |        CAST(sum(x * x) AS BIGINT) AS sxx
             |      FROM li GROUP BY 1)
             |SELECT p_brand, n,
             |  n * sxy - sx * sy AS slope_num,
             |  n * sxx - sx * sx AS slope_den,
             |  CASE WHEN n * sxx - sx * sx = 0 THEN NULL
             |    ELSE round(CAST(n * sxy - sx * sy AS DOUBLE)
             |      / CAST(n * sxx - sx * sx AS DOUBLE), 6) END AS slope6
             |FROM a ORDER BY p_brand""".stripMargin)),

    // ---- Mergeable rank-error-bounded quantile summary (Gk.registers +
    // estimate): deterministic GK/MRL-style batch compaction — per
    // portable-md5 bucket, canonical (value, id) order collapsed into
    // blocks of exactly ceil(n_b/k) ranks, block max carrying the block
    // weight — so unlike randomized KLL the ENTIRE pipeline replays in
    // SQL: the oracle rebuilds the registers and the estimates from
    // scratch. Registers are exact at block boundaries, weight-conserving
    // (Σw = n), union-mergeable. ----
    Q("q214_gk_quantiles",
      (s, dir) => {
        val ev = t(s, dir, "events").select(col("event_type"),
          col("event_id"), round(col("value") * 100).cast("long").as("c"))
        val regs = graft.operators.Gk.registers(ev, "c", "event_id",
          Seq("event_type"), k = 64, buckets = 8)
        graft.operators.Gk.estimate(regs, Seq("event_type"),
          Seq(("p50", 1, 2), ("p90", 9, 10), ("p99", 99, 100)))
          .withColumn("est", col("est").cast("long"))
          .orderBy(col("event_type"), col("q"))
      },
      Some(gkOracleSql)),

    // ---- STREAMING twin of q214 (Gk.streamingRegisters): per-microbatch
    // register shards via the _SUCCESS idempotency rule; shards fold by
    // the union law (exact re-aggregation of equal values). Construction
    // is a pure function of each batch's row multiset, so the drained
    // stream's registers EQUAL the batch build — the oracle is q214's
    // SQL verbatim. ----
    Q("q215_stream_gk",
      (s, dir) => {
        import graft.operators.Gk
        val tmp = java.nio.file.Files.createTempDirectory("graft_q215_").toString
        Gk.streamingRegisters(
          graft.streaming.Streams.eventsStream(s, dir)
            .select(col("event_type"), col("event_id"),
              round(col("value") * 100).cast("long").as("c")),
          "c", "event_id", Seq("event_type"), s"$tmp/regs", s"$tmp/ckpt",
          k = 64, buckets = 8)
        Gk.estimate(
            Gk.readMergedRegisters(s, s"$tmp/regs", Seq("event_type")),
            Seq("event_type"),
            Seq(("p50", 1, 2), ("p90", 9, 10), ("p99", 99, 100)))
          .withColumn("est", col("est").cast("long"))
          .orderBy(col("event_type"), col("q"))
      },
      Some(gkOracleSql)),

    // ---- Shard-merge + compress law, oracle-proven END-TO-END: build
    // registers independently on two disjoint md5 halves of events (the
    // per-day/per-shard pattern at 100 TB), UNION them, deterministically
    // compress the union back to ≤ 32 items, and estimate — every step
    // (both half-builds, the union fold, the block re-collapse, the
    // selection) replayed from scratch by the SQL oracle. ----
    Q("q216_gk_merged",
      (s, dir) => {
        import graft.operators.Gk
        val ev = t(s, dir, "events").select(col("event_id"),
          round(col("value") * 100).cast("long").as("c"),
          (conv(substring(md5(concat(lit("h:"),
            col("event_id").cast("string")).cast("binary")), 1, 8), 16, 10)
            .cast("long") % 2).as("half"))
        val r0 = Gk.registers(ev.filter(col("half") === 0), "c", "event_id",
          Nil, k = 64, buckets = 4)
        val r1 = Gk.registers(ev.filter(col("half") === 1), "c", "event_id",
          Nil, k = 64, buckets = 4)
        val merged = Gk.compress(r0.unionByName(r1), Nil, k = 32)
        Gk.estimate(merged, Nil,
          Seq(("p50", 1, 2), ("p90", 9, 10), ("p99", 99, 100)))
          .withColumn("est", col("est").cast("long"))
          .orderBy(col("q"))
      },
      Some(q216OracleSql)),

    // ---- General interval-overlap join (IntervalJoin.overlap): shipment
    // windows (shipdate, length 1 + quantity%14 days) x per-part promo
    // windows (30 days at a partkey-derived start), joined on key +
    // [s,e) overlap via fixed-width grid fragmentation — an equi-join on
    // (key, cell) with each pair emitted exactly once at the cell of
    // max(s_a, s_b), never the BNLJ the naive inequality join plans to
    // (PlanSpec pins it). The oracle is the plain inequality join. ----
    Q("q217_interval_join",
      (s, dir) => {
        val day = datediff(to_date(col("l_shipdate")), lit("1970-01-01"))
          .cast("long")
        val a = t(s, dir, "lineitem").select(col("l_orderkey"),
          col("l_linenumber"), col("l_partkey"), day.as("s"),
          (day + 1L + pmod(col("l_quantity").cast("long"), lit(14L))).as("e"))
        val b = t(s, dir, "part").select(col("p_partkey").as("l_partkey"),
          (lit(8766L) + pmod(col("p_partkey"), lit(1461L))).as("s"),
          (lit(8766L) + pmod(col("p_partkey"), lit(1461L)) + 30L).as("e"))
        graft.operators.IntervalJoin
          .overlap(a, b, Seq("l_partkey"), "s", "e", binWidth = 32L)
          .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
            col("s"), col("e"), col("s_r").as("promo_s"),
            (least(col("e"), col("e_r")) - greatest(col("s"), col("s_r")))
              .as("overlap_days"))
          .orderBy(col("l_orderkey"), col("l_linenumber"))
      },
      Some("""WITH a AS (SELECT l_orderkey, l_linenumber, l_partkey,
             |        CAST(CAST(l_shipdate AS DATE) - DATE '1970-01-01'
             |          AS BIGINT) AS s,
             |        CAST(CAST(l_shipdate AS DATE) - DATE '1970-01-01'
             |          AS BIGINT) + 1 + CAST(l_quantity AS BIGINT) % 14 AS e
             |      FROM lineitem),
             |b AS (SELECT p_partkey,
             |        CAST(8766 + p_partkey % 1461 AS BIGINT) AS s2,
             |        CAST(8766 + p_partkey % 1461 + 30 AS BIGINT) AS e2
             |      FROM part)
             |SELECT a.l_orderkey, a.l_linenumber, a.l_partkey, a.s, a.e,
             |  b.s2 AS promo_s,
             |  CAST(least(a.e, b.e2) - greatest(a.s, b.s2) AS BIGINT)
             |    AS overlap_days
             |FROM a JOIN b ON a.l_partkey = b.p_partkey
             |  AND a.s < b.e2 AND b.s2 < a.e
             |ORDER BY 1, 2""".stripMargin)),

    // ---- Personalized PageRank (Graph.personalizedPageRank): teleport
    // restricted to a seed set — proximity-to-seeds ranking on the q128
    // commerce graph, seeds = customers with custkey % 100 = 0. Same
    // exact-integer machinery (micro-units, floored divisions), so the
    // oracle replays all ten iterations in a recursive CTE with the
    // seed-gated base term; q128/q133 are untouched. Top-20 by rank. ----
    Q("q220_ppr",
      (s, dir) => {
        val pairs = t(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
          .join(t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey")),
            col("l_orderkey") === col("o_orderkey"))
          .select(col("o_custkey").as("cust"),
            (col("l_suppkey") + 10000000L).as("supp"))
          .distinct()
        val edges = pairs.select(col("cust").as("src"), col("supp").as("dst"))
          .unionByName(pairs.select(col("supp").as("src"), col("cust").as("dst")))
        val seeds = pairs.select(col("cust").as("node"))
          .filter(col("cust") % 100 === 0).distinct()
        graft.operators.Graph
          .personalizedPageRank(edges, "src", "dst", seeds, "node", iters = 10)
          .orderBy(col("r").desc, col("node")).limit(20)
      },
      Some("""WITH RECURSIVE
             |pairs AS MATERIALIZED (SELECT DISTINCT o_custkey AS cust,
             |            l_suppkey + 10000000 AS supp
             |          FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
             |edges AS MATERIALIZED (SELECT cust AS src, supp AS dst FROM pairs
             |          UNION ALL SELECT supp, cust FROM pairs),
             |nodes AS MATERIALIZED (SELECT DISTINCT src AS node FROM edges),
             |seeds AS MATERIALIZED (SELECT DISTINCT cust AS node FROM pairs
             |          WHERE cust % 100 = 0),
             |sn AS (SELECT CAST(count(*) AS BIGINT) AS ns FROM seeds),
             |deg AS MATERIALIZED (SELECT src, CAST(count(*) AS BIGINT) AS od
             |        FROM edges GROUP BY src),
             |pr AS (
             |  SELECT 0 AS iter, node,
             |    CAST(CASE WHEN node IN (SELECT node FROM seeds)
             |      THEN (SELECT CAST(1000000000 AS BIGINT) // ns FROM sn)
             |      ELSE 0 END AS BIGINT) AS r
             |  FROM nodes
             |  UNION ALL
             |  SELECT p.iter + 1, e.dst AS node,
             |    CAST(CASE WHEN e.dst IN (SELECT node FROM seeds)
             |        THEN (SELECT ((15 * CAST(1000000000 AS BIGINT)) // 100) // ns
             |              FROM sn)
             |        ELSE 0 END
             |      + sum((85 * p.r) // (100 * d.od)) AS BIGINT) AS r
             |  FROM pr p JOIN edges e ON p.node = e.src
             |    JOIN deg d ON d.src = p.node
             |  WHERE p.iter < 10
             |  GROUP BY p.iter, e.dst
             |)
             |SELECT node, r FROM pr WHERE iter = 10
             |ORDER BY r DESC, node LIMIT 20""".stripMargin)),

    // ---- WEIGHTED quantiles (Gk.weightedRegisters): median/p90/p99
    // price cents weighted by quantity per return flag — the weighted-
    // percentile primitive, as the same deterministic block collapse with
    // blocks cut by cumulative WEIGHT. Fully SQL-replayable like q214:
    // the oracle rebuilds the weighted registers and the selection from
    // scratch. ----
    Q("q221_weighted_quantiles",
      (s, dir) => {
        val li = t(s, dir, "lineitem").select(col("l_returnflag"),
          round(col("l_extendedprice") * 100).cast("long").as("c"),
          col("l_quantity").cast("long").as("w"),
          (col("l_orderkey") * 10 + col("l_linenumber")).as("id"))
        val regs = graft.operators.Gk.weightedRegisters(li, "c", "w", "id",
          Seq("l_returnflag"), k = 64, buckets = 8)
        graft.operators.Gk.estimate(regs, Seq("l_returnflag"),
          Seq(("p50", 1, 2), ("p90", 9, 10), ("p99", 99, 100)))
          .withColumn("est", col("est").cast("long"))
          .orderBy(col("l_returnflag"), col("q"))
      },
      Some("""WITH e AS (SELECT l_returnflag AS g,
             |        CAST(round(l_extendedprice * 100) AS BIGINT) AS c,
             |        CAST(l_quantity AS BIGINT) AS w,
             |        l_orderkey * 10 + l_linenumber AS id
             |      FROM lineitem),
             |b AS (SELECT g, c, w, id,
             |        CAST(concat('0x', substr(md5(concat('b:', id)), 1, 8))
             |          AS BIGINT) % 8 AS bk FROM e),
             |s0 AS (SELECT g, bk, c, w,
             |        CAST(sum(w) OVER (PARTITION BY g, bk ORDER BY c, id
             |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |          AS BIGINT) AS cumw,
             |        CAST(sum(w) OVER (PARTITION BY g, bk) AS BIGINT) AS wb
             |      FROM b),
             |r AS (SELECT g, bk, c, w,
             |        (cumw + (wb + 63) // 64 - 1) // ((wb + 63) // 64) AS blk
             |      FROM s0),
             |regs AS (SELECT g, max(c) AS c, CAST(sum(w) AS BIGINT) AS w
             |         FROM r GROUP BY g, bk, blk),
             |d AS (SELECT g, c, CAST(sum(w) AS BIGINT) AS w
             |      FROM regs GROUP BY 1, 2),
             |s AS (SELECT g, c,
             |        CAST(sum(w) OVER (PARTITION BY g ORDER BY c)
             |          AS BIGINT) AS cum,
             |        CAST(sum(w) OVER (PARTITION BY g) AS BIGINT) AS tot
             |      FROM d),
             |q(q, num, den) AS (VALUES ('p50', 1, 2), ('p90', 9, 10),
             |        ('p99', 99, 100)),
             |tg AS (SELECT DISTINCT s.g, q.q, s.tot,
             |         (s.tot * q.num + q.den - 1) // q.den AS k_target
             |       FROM s, q)
             |SELECT tg.g AS l_returnflag, tg.q,
             |  CAST(tg.tot AS BIGINT) AS w_total,
             |  CAST(tg.k_target AS BIGINT) AS k_target,
             |  CAST(min(s.c) AS BIGINT) AS est
             |FROM tg JOIN s ON s.g = tg.g AND s.cum >= tg.k_target
             |GROUP BY 1, 2, 3, 4
             |ORDER BY 1, 2""".stripMargin)),

    // ---- Interval-union coverage (IntervalJoin.coverage): per-supplier
    // total days covered by the union of its (overlapping) shipment
    // windows, via the order-free sweep — per-position delta sums, a
    // key-partitioned running level, segments counted while the level is
    // positive. The uptime/billed-time aggregate; the oracle replays the
    // sweep in SQL. ----
    Q("q222_interval_coverage",
      (s, dir) => {
        val day = datediff(to_date(col("l_shipdate")), lit("1970-01-01"))
          .cast("long")
        val iv = t(s, dir, "lineitem").select(col("l_suppkey"), day.as("s"),
          (day + 1L + pmod(col("l_quantity").cast("long"), lit(14L))).as("e"))
        graft.operators.IntervalJoin.coverage(iv, Seq("l_suppkey"), "s", "e")
          .orderBy(col("l_suppkey"))
      },
      Some("""WITH a AS (SELECT l_suppkey, s, s + 1 + q % 14 AS e FROM
             |        (SELECT l_suppkey,
             |           CAST(CAST(l_shipdate AS DATE) - DATE '1970-01-01'
             |             AS BIGINT) AS s,
             |           CAST(l_quantity AS BIGINT) AS q
             |         FROM lineitem)),
             |bnd AS (SELECT l_suppkey, pos, CAST(sum(d) AS BIGINT) AS d
             |        FROM (SELECT l_suppkey, s AS pos, 1 AS d FROM a
             |              UNION ALL SELECT l_suppkey, e, -1 FROM a)
             |        GROUP BY 1, 2),
             |lv AS (SELECT l_suppkey, pos,
             |         CAST(sum(d) OVER (PARTITION BY l_suppkey ORDER BY pos)
             |           AS BIGINT) AS lvl,
             |         lead(pos) OVER (PARTITION BY l_suppkey ORDER BY pos)
             |           AS nxt
             |       FROM bnd),
             |cov AS (SELECT l_suppkey,
             |          CAST(coalesce(sum(CASE WHEN lvl > 0 THEN nxt - pos END),
             |            0) AS BIGINT) AS covered
             |        FROM lv GROUP BY 1),
             |n AS (SELECT l_suppkey, CAST(count(*) AS BIGINT) AS n_intervals
             |      FROM a GROUP BY 1)
             |SELECT cov.l_suppkey, cov.covered, n.n_intervals
             |FROM cov JOIN n USING (l_suppkey)
             |ORDER BY l_suppkey""".stripMargin)),

    // ---- EXACT median absolute deviation (Selection.groupMad): the
    // robust dispersion statistic per event type — two counting-selection
    // passes (shuffle ∝ distinct values each) with the per-group medians
    // broadcast between them, never a data sort. The outlier fence a
    // heavy tail cannot drag; oracle replays both ceil-rank selections. ----
    Q("q224_mad",
      (s, dir) => {
        val ev = t(s, dir, "events").select(col("event_type"),
          round(col("value") * 100).cast("long").as("c"))
        graft.operators.Selection.groupMad(ev, "event_type", "c")
          .orderBy(col("event_type"))
      },
      Some("""WITH e AS (SELECT event_type,
             |        CAST(round(value * 100) AS BIGINT) AS c FROM events),
             |c1 AS (SELECT event_type, c AS v, count(*) AS n
             |       FROM e GROUP BY 1, 2),
             |s1 AS (SELECT event_type, v,
             |        CAST(sum(n) OVER (PARTITION BY event_type ORDER BY v)
             |          AS BIGINT) AS cum,
             |        CAST(sum(n) OVER (PARTITION BY event_type)
             |          AS BIGINT) AS tot
             |       FROM c1),
             |m AS (SELECT event_type,
             |        CAST(min(CASE WHEN cum >= (tot * 50 + 99) // 100
             |          THEN v END) AS BIGINT) AS med,
             |        CAST(min(tot) AS BIGINT) AS n
             |      FROM s1 GROUP BY 1),
             |d AS (SELECT e.event_type, abs(e.c - m.med) AS dv
             |      FROM e JOIN m USING (event_type)),
             |c2 AS (SELECT event_type, dv AS v, count(*) AS n
             |       FROM d GROUP BY 1, 2),
             |s2 AS (SELECT event_type, v,
             |        CAST(sum(n) OVER (PARTITION BY event_type ORDER BY v)
             |          AS BIGINT) AS cum,
             |        CAST(sum(n) OVER (PARTITION BY event_type)
             |          AS BIGINT) AS tot
             |       FROM c2),
             |m2 AS (SELECT event_type,
             |        CAST(min(CASE WHEN cum >= (tot * 50 + 99) // 100
             |          THEN v END) AS BIGINT) AS mad
             |       FROM s2 GROUP BY 1)
             |SELECT m.event_type, m.n, m.med, m2.mad
             |FROM m JOIN m2 USING (event_type)
             |ORDER BY event_type""".stripMargin)),

    // ---- Percentile features from broadcast GK registers (Gk.cdfPpm):
    // every event annotated with its estimated within-type percentile in
    // ppm — percent_rank for groups too large to window-sort, as a pure
    // Column fold over the broadcast register array, ZERO shuffles on
    // the event side. Deterministic like q214, so the oracle rebuilds
    // the registers and replays the cdf join from scratch. ----
    Q("q225_percentile_features",
      (s, dir) => {
        val ev = t(s, dir, "events").select(col("event_type"),
          col("event_id"), round(col("value") * 100).cast("long").as("c"))
        val regs = graft.operators.Gk.registers(ev, "c", "event_id",
          Seq("event_type"), k = 64, buckets = 8)
        graft.operators.Gk.cdfPpm(regs, ev, "c", Seq("event_type"))
          .select(col("event_id"), col("event_type"), col("c"),
            col("pctl_ppm"))
          .orderBy(col("event_id"))
      },
      Some("""WITH e AS (SELECT event_type, event_id,
             |        CAST(round(value * 100) AS BIGINT) AS c FROM events),
             |b AS (SELECT event_type, c, event_id,
             |        CAST(concat('0x', substr(md5(concat('b:', event_id)), 1, 8))
             |          AS BIGINT) % 8 AS bk FROM e),
             |r AS (SELECT event_type, bk, c, event_id,
             |        CAST(row_number() OVER (PARTITION BY event_type, bk
             |          ORDER BY c, event_id) AS BIGINT) AS rn,
             |        CAST(count(*) OVER (PARTITION BY event_type, bk)
             |          AS BIGINT) AS nb
             |      FROM b),
             |g AS (SELECT event_type, c,
             |        CASE WHEN rn % ((nb + 63) // 64) = 0 THEN (nb + 63) // 64
             |             ELSE nb % ((nb + 63) // 64) END AS w
             |      FROM r WHERE rn % ((nb + 63) // 64) = 0 OR rn = nb),
             |d AS (SELECT event_type, c, CAST(sum(w) AS BIGINT) AS w
             |      FROM g GROUP BY 1, 2),
             |tot AS (SELECT event_type, CAST(sum(w) AS BIGINT) AS wtot
             |        FROM d GROUP BY 1)
             |SELECT e.event_id, e.event_type, e.c,
             |  CAST(coalesce(sum(d.w), 0) * 1000000 // min(tot.wtot)
             |    AS BIGINT) AS pctl_ppm
             |FROM e JOIN tot USING (event_type)
             |  LEFT JOIN d ON d.event_type = e.event_type AND d.c <= e.c
             |GROUP BY 1, 2, 3
             |ORDER BY event_id""".stripMargin)),

    // ---- Targeted delete from a bucketed store (operators/Purge): the
    // right-to-be-forgotten purge — orders land in a __bucket=md5(key)
    // store, a scattered key set (o_orderkey % 97 = 0) is deleted by
    // rewriting ONLY the touched bucket partitions (untouched partitions
    // stay byte-identical — PurgeSpec asserts file-for-file), and the
    // surviving store is summarized. Oracle = the plain NOT-filter. ----
    Q("q226_targeted_delete",
      (s, dir) => {
        import graft.operators.Purge
        val tmp = java.nio.file.Files.createTempDirectory("graft_q226_").toString
        val orders = t(s, dir, "orders").select(col("o_orderkey"),
          col("o_orderstatus"),
          round(col("o_totalprice") * 100).cast("long").as("cents"))
        Purge.writeBucketed(orders, "o_orderkey", s"$tmp/store")
        Purge.deleteKeys(s, s"$tmp/store", "o_orderkey",
          orders.filter(col("o_orderkey") % 97 === 0).select(col("o_orderkey")))
        Purge.read(s, s"$tmp/store")
          .groupBy(col("o_orderstatus"))
          .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents_total"),
            min(col("o_orderkey")).as("min_key"),
            max(col("o_orderkey")).as("max_key"))
          .orderBy(col("o_orderstatus"))
      },
      Some("""SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
             |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
             |    AS BIGINT) AS cents_total,
             |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
             |FROM orders WHERE o_orderkey % 97 <> 0
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- Robust null imputation (Selection.imputeMedian): nulls
    // (synthesized at event_id % 13 = 0) filled with the exact ceil-rank
    // MEDIAN of the group's non-null values — a heavy tail cannot drag
    // the fill the way a mean-impute would. One counting-selection pass
    // + broadcast join-back; oracle replays the selection. ----
    Q("q227_robust_impute",
      (s, dir) => {
        val ev = t(s, dir, "events").select(col("event_id"), col("event_type"),
          when(col("event_id") % 13 === 0, lit(null))
            .otherwise(round(col("value") * 100).cast("long")).as("c"))
        graft.operators.Selection
          .imputeMedian(ev, "event_type", "c", "c_filled")
          .select(col("event_id"), col("event_type"), col("c"),
            col("c_filled"))
          .orderBy(col("event_id"))
      },
      Some("""WITH e AS (SELECT event_id, event_type,
             |        CASE WHEN event_id % 13 = 0 THEN NULL
             |             ELSE CAST(round(value * 100) AS BIGINT) END AS c
             |      FROM events),
             |c1 AS (SELECT event_type, c AS v, count(*) AS n
             |       FROM e WHERE c IS NOT NULL GROUP BY 1, 2),
             |s1 AS (SELECT event_type, v,
             |        CAST(sum(n) OVER (PARTITION BY event_type ORDER BY v)
             |          AS BIGINT) AS cum,
             |        CAST(sum(n) OVER (PARTITION BY event_type)
             |          AS BIGINT) AS tot
             |       FROM c1),
             |m AS (SELECT event_type,
             |        CAST(min(CASE WHEN cum >= (tot * 50 + 99) // 100
             |          THEN v END) AS BIGINT) AS med
             |      FROM s1 GROUP BY 1)
             |SELECT e.event_id, e.event_type, e.c,
             |  coalesce(e.c, m.med) AS c_filled
             |FROM e JOIN m USING (event_type)
             |ORDER BY event_id""".stripMargin)),

    // ---- Tukey-fence outliers (Selection.tukeyOutliers): rows outside
    // [q1 − 1.5·iqr, q3 + 1.5·iqr] with EXACT ceil-rank quartiles and
    // the comparison doubled into pure integers (2v vs 2q1 − 3·iqr) so
    // no fractional fence exists to round — the box-plot screen at table
    // scale, one counting pass + broadcast bounds. ~470 flagged rows on
    // the sf0.01 events. ----
    Q("q228_tukey_outliers",
      (s, dir) => {
        val ev = t(s, dir, "events").select(col("event_id"), col("event_type"),
          round(col("value") * 100).cast("long").as("c"))
        graft.operators.Selection.tukeyOutliers(ev, "event_type", "c")
          .filter(col("is_outlier"))
          .select(col("event_id"), col("event_type"), col("c"))
          .orderBy(col("event_id"))
      },
      Some("""WITH e AS (SELECT event_id, event_type,
             |        CAST(round(value * 100) AS BIGINT) AS c FROM events),
             |c1 AS (SELECT event_type, c AS v, count(*) AS n
             |       FROM e GROUP BY 1, 2),
             |s1 AS (SELECT event_type, v,
             |        CAST(sum(n) OVER (PARTITION BY event_type ORDER BY v)
             |          AS BIGINT) AS cum,
             |        CAST(sum(n) OVER (PARTITION BY event_type)
             |          AS BIGINT) AS tot
             |       FROM c1),
             |b AS (SELECT event_type,
             |        CAST(min(CASE WHEN cum >= (tot * 25 + 99) // 100
             |          THEN v END) AS BIGINT) AS q1,
             |        CAST(min(CASE WHEN cum >= (tot * 75 + 99) // 100
             |          THEN v END) AS BIGINT) AS q3
             |      FROM s1 GROUP BY 1)
             |SELECT e.event_id, e.event_type, e.c
             |FROM e JOIN b USING (event_type)
             |WHERE e.c * 2 < q1 * 2 - (q3 - q1) * 3
             |   OR e.c * 2 > q3 * 2 + (q3 - q1) * 3
             |ORDER BY event_id""".stripMargin)),

    // ---- Trailing-window percentiles from daily GK shards
    // (Gk.slidingEstimate): per-day registers built ONCE, each day's
    // trailing-7-day p50/p90 a fold over the register table only — the
    // quantile analog of q161's sliding KMV cardinality; the corpus is
    // scanned once for the whole dashboard. Deterministic end-to-end, so
    // the oracle replays daily builds + the day-range fold + selection. ----
    Q("q229_gk_sliding",
      (s, dir) => {
        val ev = t(s, dir, "events").select(
          datediff(to_date(col("ts")), lit("1970-01-01")).cast("long")
            .as("day"),
          col("event_id"), round(col("value") * 100).cast("long").as("c"))
        val regs = graft.operators.Gk.registers(ev, "c", "event_id",
          Seq("day"), k = 32, buckets = 4)
        graft.operators.Gk.slidingEstimate(regs, "day", windowDays = 7,
            Seq(("p50", 1, 2), ("p90", 9, 10)))
          .withColumn("est", col("est").cast("long"))
          .orderBy(col("day"), col("q"))
      },
      Some("""WITH e AS (SELECT
             |        CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT)
             |          AS day,
             |        event_id, CAST(round(value * 100) AS BIGINT) AS c
             |      FROM events),
             |b AS (SELECT day, c, event_id,
             |        CAST(concat('0x', substr(md5(concat('b:', event_id)), 1, 8))
             |          AS BIGINT) % 4 AS bk FROM e),
             |r AS (SELECT day, bk, c, event_id,
             |        CAST(row_number() OVER (PARTITION BY day, bk
             |          ORDER BY c, event_id) AS BIGINT) AS rn,
             |        CAST(count(*) OVER (PARTITION BY day, bk)
             |          AS BIGINT) AS nb
             |      FROM b),
             |g AS (SELECT day, c,
             |        CASE WHEN rn % ((nb + 31) // 32) = 0 THEN (nb + 31) // 32
             |             ELSE nb % ((nb + 31) // 32) END AS w
             |      FROM r WHERE rn % ((nb + 31) // 32) = 0 OR rn = nb),
             |regs AS (SELECT day, c, CAST(sum(w) AS BIGINT) AS w
             |         FROM g GROUP BY 1, 2),
             |days AS (SELECT DISTINCT day AS d FROM regs),
             |u AS (SELECT days.d AS day, regs.c,
             |        CAST(sum(regs.w) AS BIGINT) AS w
             |      FROM regs JOIN days
             |        ON regs.day BETWEEN days.d - 6 AND days.d
             |      GROUP BY 1, 2),
             |s AS (SELECT day, c,
             |        CAST(sum(w) OVER (PARTITION BY day ORDER BY c)
             |          AS BIGINT) AS cum,
             |        CAST(sum(w) OVER (PARTITION BY day) AS BIGINT) AS tot
             |      FROM u),
             |q(q, num, den) AS (VALUES ('p50', 1, 2), ('p90', 9, 10)),
             |tg AS (SELECT DISTINCT s.day, q.q, s.tot,
             |         (s.tot * q.num + q.den - 1) // q.den AS k_target
             |       FROM s, q)
             |SELECT tg.day, tg.q, CAST(tg.tot AS BIGINT) AS w_total,
             |  CAST(tg.k_target AS BIGINT) AS k_target,
             |  CAST(min(s.c) AS BIGINT) AS est
             |FROM tg JOIN s ON s.day = tg.day AND s.cum >= tg.k_target
             |GROUP BY 1, 2, 3, 4
             |ORDER BY 1, 2""".stripMargin)),

    // ---- Exact two-sample Kolmogorov–Smirnov drift test
    // (Metrics.ksStatistic): max |cdf_click − cdf_purchase| over cents,
    // entirely in integers (ks_num = max |n_b·cum_a − n_a·cum_b|, argmax
    // value, smallest on ties) — q188's binned drift report made exact,
    // distributed by the counting + two-phase-scan shape. Full oracle. ----
    Q("q231_ks_drift",
      (s, dir) => {
        val ev = t(s, dir, "events").select(col("event_type"),
          round(col("value") * 100).cast("long").as("c"))
        graft.operators.Metrics.ksStatistic(
          ev.filter(col("event_type") === "click"),
          ev.filter(col("event_type") === "purchase"), "c")
      },
      Some("""WITH g AS (SELECT v,
             |        CAST(sum(CASE WHEN side = 'a' THEN 1 ELSE 0 END)
             |          AS BIGINT) AS na,
             |        CAST(sum(CASE WHEN side = 'b' THEN 1 ELSE 0 END)
             |          AS BIGINT) AS nb
             |      FROM (SELECT CAST(round(value * 100) AS BIGINT) AS v,
             |              'a' AS side FROM events WHERE event_type = 'click'
             |            UNION ALL
             |            SELECT CAST(round(value * 100) AS BIGINT), 'b'
             |            FROM events WHERE event_type = 'purchase')
             |      GROUP BY v),
             |t AS (SELECT CAST(sum(na) AS BIGINT) AS n_a,
             |        CAST(sum(nb) AS BIGINT) AS n_b FROM g),
             |s AS (SELECT v,
             |        CAST(sum(na) OVER (ORDER BY v) AS BIGINT) AS ca,
             |        CAST(sum(nb) OVER (ORDER BY v) AS BIGINT) AS cb
             |      FROM g),
             |d AS (SELECT v, abs(t.n_b * ca - t.n_a * cb) AS num FROM s, t),
             |m AS (SELECT CAST(max(num) AS BIGINT) AS ks_num FROM d)
             |SELECT t.n_a, t.n_b, m.ks_num,
             |  (SELECT min(v) FROM d WHERE num = m.ks_num) AS at_value,
             |  round(CAST(m.ks_num AS DOUBLE) / (t.n_a * t.n_b), 6) AS ks6
             |FROM t, m""".stripMargin)),

    // ---- Per-segment KS drift (Metrics.ksByGroup): one exact KS per
    // event type between the first 15 days and the rest — the drift
    // dashboard, distributed across groups by group-partitioned windows
    // over the value-count table. Same integer contract as q231. ----
    Q("q232_ks_by_segment",
      (s, dir) => {
        val ev = t(s, dir, "events").select(col("event_type"),
          datediff(to_date(col("ts")), lit("1970-01-01")).cast("long")
            .as("day"),
          round(col("value") * 100).cast("long").as("c"))
        val pivot = ev.agg(min(col("day"))).head().getLong(0) + 15L
        graft.operators.Metrics.ksByGroup(
            ev.withColumn("is_a", col("day") < pivot),
            "event_type", "is_a", "c")
          .orderBy(col("event_type"))
      },
      Some("""WITH e AS (SELECT event_type,
             |        CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT)
             |          AS day,
             |        CAST(round(value * 100) AS BIGINT) AS v FROM events),
             |p AS (SELECT min(day) + 15 AS pv FROM e),
             |g AS (SELECT event_type, v,
             |        CAST(sum(CASE WHEN day < pv THEN 1 ELSE 0 END)
             |          AS BIGINT) AS na,
             |        CAST(sum(CASE WHEN day >= pv THEN 1 ELSE 0 END)
             |          AS BIGINT) AS nb
             |      FROM e, p GROUP BY 1, 2),
             |t AS (SELECT event_type, CAST(sum(na) AS BIGINT) AS n_a,
             |        CAST(sum(nb) AS BIGINT) AS n_b FROM g GROUP BY 1),
             |s AS (SELECT event_type, v,
             |        CAST(sum(na) OVER (PARTITION BY event_type ORDER BY v)
             |          AS BIGINT) AS ca,
             |        CAST(sum(nb) OVER (PARTITION BY event_type ORDER BY v)
             |          AS BIGINT) AS cb
             |      FROM g),
             |d AS (SELECT s.event_type, s.v,
             |        abs(t.n_b * s.ca - t.n_a * s.cb) AS num
             |      FROM s JOIN t USING (event_type)
             |      WHERE t.n_a > 0 AND t.n_b > 0),
             |m AS (SELECT event_type, CAST(max(num) AS BIGINT) AS ks_num
             |      FROM d GROUP BY 1),
             |av AS (SELECT d.event_type, CAST(min(d.v) AS BIGINT) AS at_value
             |       FROM d JOIN m ON m.event_type = d.event_type
             |         AND d.num = m.ks_num
             |       GROUP BY 1)
             |SELECT t.event_type, t.n_a, t.n_b, m.ks_num, av.at_value,
             |  round(CAST(m.ks_num AS DOUBLE) / (t.n_a * t.n_b), 6) AS ks6
             |FROM t JOIN m USING (event_type) JOIN av USING (event_type)
             |ORDER BY event_type""".stripMargin))
  )

  /** Shared q214/q215 oracle: rebuilds the GK registers (md5 buckets,
    * canonical order, exact-rank block collapse) and the ceil-rank
    * selection entirely in SQL — the full pipeline, not inlined
    * artifacts; q215 equals it because the drained single-batch stream's
    * registers are the same pure function of the row multiset.
    */
  private def gkOracleSql: String =
    """WITH e AS (SELECT event_type, event_id,
      |        CAST(round(value * 100) AS BIGINT) AS c FROM events),
      |b AS (SELECT event_type, c, event_id,
      |        CAST(concat('0x', substr(md5(concat('b:', event_id)), 1, 8))
      |          AS BIGINT) % 8 AS bk FROM e),
      |r AS (SELECT event_type, bk, c, event_id,
      |        CAST(row_number() OVER (PARTITION BY event_type, bk
      |          ORDER BY c, event_id) AS BIGINT) AS rn,
      |        CAST(count(*) OVER (PARTITION BY event_type, bk)
      |          AS BIGINT) AS nb
      |      FROM b),
      |g AS (SELECT event_type, c,
      |        CASE WHEN rn % ((nb + 63) // 64) = 0 THEN (nb + 63) // 64
      |             ELSE nb % ((nb + 63) // 64) END AS w
      |      FROM r WHERE rn % ((nb + 63) // 64) = 0 OR rn = nb),
      |d AS (SELECT event_type, c, CAST(sum(w) AS BIGINT) AS w
      |      FROM g GROUP BY 1, 2),
      |s AS (SELECT event_type, c,
      |        CAST(sum(w) OVER (PARTITION BY event_type ORDER BY c)
      |          AS BIGINT) AS cum,
      |        CAST(sum(w) OVER (PARTITION BY event_type) AS BIGINT) AS tot
      |      FROM d),
      |q(q, num, den) AS (VALUES ('p50', 1, 2), ('p90', 9, 10),
      |        ('p99', 99, 100)),
      |tg AS (SELECT DISTINCT s.event_type, q.q, s.tot,
      |         (s.tot * q.num + q.den - 1) // q.den AS k_target
      |       FROM s, q)
      |SELECT tg.event_type, tg.q, CAST(tg.tot AS BIGINT) AS w_total,
      |  CAST(tg.k_target AS BIGINT) AS k_target,
      |  CAST(min(s.c) AS BIGINT) AS est
      |FROM tg JOIN s ON s.event_type = tg.event_type
      |  AND s.cum >= tg.k_target
      |GROUP BY 1, 2, 3, 4
      |ORDER BY 1, 2""".stripMargin

  /** q216 oracle: the two half-builds (bucketed within each half), the
    * union fold, the deterministic weight-block compress to 32 items, and
    * the final selection — all from scratch in SQL.
    */
  private def q216OracleSql: String =
    """WITH e AS (SELECT event_id,
      |        CAST(round(value * 100) AS BIGINT) AS c,
      |        CAST(concat('0x', substr(md5(concat('h:', event_id)), 1, 8))
      |          AS BIGINT) % 2 AS half
      |      FROM events),
      |b AS (SELECT half, c, event_id,
      |        CAST(concat('0x', substr(md5(concat('b:', event_id)), 1, 8))
      |          AS BIGINT) % 4 AS bk FROM e),
      |r AS (SELECT half, bk, c, event_id,
      |        CAST(row_number() OVER (PARTITION BY half, bk
      |          ORDER BY c, event_id) AS BIGINT) AS rn,
      |        CAST(count(*) OVER (PARTITION BY half, bk) AS BIGINT) AS nb
      |      FROM b),
      |g AS (SELECT c,
      |        CASE WHEN rn % ((nb + 63) // 64) = 0 THEN (nb + 63) // 64
      |             ELSE nb % ((nb + 63) // 64) END AS w
      |      FROM r WHERE rn % ((nb + 63) // 64) = 0 OR rn = nb),
      |d AS (SELECT c, CAST(sum(w) AS BIGINT) AS w FROM g GROUP BY 1),
      |s1 AS (SELECT c, w,
      |         CAST(sum(w) OVER (ORDER BY c) AS BIGINT) AS cum,
      |         CAST(sum(w) OVER () AS BIGINT) AS tot
      |       FROM d),
      |z AS (SELECT c, w,
      |        (cum + (tot + 31) // 32 - 1) // ((tot + 31) // 32) AS blk
      |      FROM s1),
      |cp AS (SELECT max(c) AS c, CAST(sum(w) AS BIGINT) AS w
      |       FROM z GROUP BY blk),
      |s AS (SELECT c,
      |        CAST(sum(w) OVER (ORDER BY c) AS BIGINT) AS cum,
      |        CAST(sum(w) OVER () AS BIGINT) AS tot
      |      FROM cp),
      |q(q, num, den) AS (VALUES ('p50', 1, 2), ('p90', 9, 10),
      |        ('p99', 99, 100)),
      |tg AS (SELECT DISTINCT q.q, s.tot,
      |         (s.tot * q.num + q.den - 1) // q.den AS k_target
      |       FROM s, q)
      |SELECT tg.q, CAST(tg.tot AS BIGINT) AS w_total,
      |  CAST(tg.k_target AS BIGINT) AS k_target,
      |  CAST(min(s.c) AS BIGINT) AS est
      |FROM tg JOIN s ON s.cum >= tg.k_target
      |GROUP BY 1, 2, 3
      |ORDER BY q""".stripMargin

  /** q156 oracle: 12 statically-unrolled peel rounds — each round keeps
    * nodes whose degree within the previous round's edge set is >= 5,
    * then restricts the edges to kept endpoints. Monotone, so rounds
    * past the fixpoint change nothing and 12 only needs to be an upper
    * bound (observed cascades: 1-5 rounds across the test SFs).
    */
  private def q156OracleSql: String = {
    val rounds = 12
    // MATERIALIZED: DuckDB inlines plain CTEs per reference, and each
    // round references the previous one three times — an exponential
    // re-evaluation tree without materialization
    val peel = (1 to rounds).map { i =>
      s"""a$i AS MATERIALIZED (SELECT n FROM (
         |  SELECT n, count(*) AS d FROM
         |    (SELECT a AS n FROM e${i - 1} UNION ALL SELECT b FROM e${i - 1})
         |  GROUP BY n) WHERE d >= 5),
         |e$i AS MATERIALIZED (SELECT a, b FROM e${i - 1}
         |  WHERE a IN (SELECT n FROM a$i) AND b IN (SELECT n FROM a$i))"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH e0 AS MATERIALIZED (
       |  SELECT o_custkey AS a, l_suppkey + 10000000 AS b
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |  GROUP BY 1, 2 HAVING count(*) >= 2),
       |$peel
       |SELECT n AS node, CAST(count(*) AS BIGINT) AS deg FROM
       |  (SELECT a AS n FROM e$rounds UNION ALL SELECT b FROM e$rounds)
       |GROUP BY n ORDER BY node""".stripMargin
  }
}
