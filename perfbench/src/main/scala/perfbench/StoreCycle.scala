package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.PerfbenchProbe
import graft.operators.{AggStore, Graph, Maintenance, ViewStore, ZOrder, ZoneMap}
import graft.operators.Maintenance.{AggStoreT, JoinViewT, Policy, ZoneMapT}

/** The three stores of [[StoreCycle]], over one seeded
  * orders/lineitem base: a join view (orders ⋈ lineitem, per customer), an
  * aggregate store (lineitem per supplier) and a z-ordered zone-map layout
  * of lineitem. Deltas land as new parquet files in the base directories
  * (so the base always holds what the stores folded) and merge into all
  * three stores.
  */
object Stores {
  val scale: Gen.Scale = Gen.Scale(30000)
  /** Orders per delta. A cycle lands one delta of each size, in an order
    * the seed picks, so deltas are uneven while every cycle does the same
    * total work; which customers, suppliers and parts a delta touches is
    * seeded too. */
  val deltaSizes: Seq[Long] = Seq(300L, 900L)
  val zoneCols: Seq[String] = Seq("l_partkey", "l_suppkey", "l_returnflag")
  val zoneFiles = 16
  /** A sweep after one merge compacts (two segments > 1), vacuums (three
    * generations > 2) and reclusters (the delta's unclustered files push
    * the layout's drift past 10%). */
  val policy: Policy = Policy(maxSegments = 1, keepGens = 2, maxDriftPpm = 100000L,
    partitions = zoneFiles)

  final case class Layout(root: Path) {
    val orders: String = root.resolve("base/orders").toString
    val lineitem: String = root.resolve("base/lineitem").toString
    val jv: String = root.resolve("stores/jv").toString
    val agg: String = root.resolve("stores/agg").toString
    val zdata: String = root.resolve("stores/zdata").toString
    val zone: String = root.resolve("stores/zone").toString
    def targets: Seq[Maintenance.Target] = Seq(JoinViewT(jv), AggStoreT(agg),
      ZoneMapT(zdata, zone, "l_partkey", "l_suppkey"))
  }

  def zoneRows(l: DataFrame): DataFrame =
    l.select(col("l_partkey"), col("l_suppkey"),
      col("l_quantity").cast("long").as("qty"), col("l_returnflag"))

  /** Writes `df` as one parquet file into `dir` (created if missing) and
    * returns a frame over exactly that file: the day's load landing in
    * the base. */
  private def land(spark: SparkSession, df: DataFrame, dir: String, stage: Path): DataFrame = {
    df.coalesce(1).write.mode("overwrite").parquet(stage.toString)
    Files.createDirectories(Path.of(dir))
    val s = Files.list(stage)
    val moved = try s.iterator().asScala.toSeq
      .filter(_.getFileName.toString.endsWith(".parquet"))
      .map(f => Files.move(f, Path.of(dir).resolve(f.getFileName)).toString)
    finally s.close()
    Layers.deleteTree(stage)
    spark.read.parquet(moved: _*)
  }

  /** Generates the base and lands it under `root`. */
  def land(ctx: Ctx, root: Path): Unit = {
    val spark = ctx.spark
    val lay = Layout(root)
    Layers.deleteTree(root)
    ctx.span("land") {
      land(spark, Gen.orders(spark, ctx.seed, scale, 0L, scale.orders),
        lay.orders, root.resolve("stage/o"))
      land(spark, Gen.lineitem(spark, ctx.seed, scale, 0L, scale.orders),
        lay.lineitem, root.resolve("stage/l"))
    }
  }

  /** Builds the three stores from the landed base. */
  def build(ctx: Ctx, lay: Layout): Unit = {
    val spark = ctx.spark
    val o = spark.read.parquet(lay.orders)
    val l = spark.read.parquet(lay.lineitem)
    ctx.span("operators.store.build") {
      ViewStore.buildJoinView(o, l.select(col("l_orderkey"), col("l_quantity")),
        lay.jv, "o_orderkey", "o_custkey", "l_orderkey", "l_quantity")
      AggStore.buildAggStore(l.select(col("l_suppkey"), col("l_quantity")),
        lay.agg, "l_suppkey", "l_quantity")
      ZOrder.layout(zoneRows(l), "l_partkey", "l_suppkey", 8, zoneFiles)
        .drop("__z").write.mode("overwrite").parquet(lay.zdata)
      ZoneMap.buildZoneMap(spark, lay.zdata, zoneCols, lay.zone)
    }
  }

  /** The (first order key, orders) of each delta of cycle `c`. */
  def deltas(seed: Long, c: Int): Seq[(Long, Long)] = {
    val sizes = new Gen.Rng(seed * 17L + c).shuffle(deltaSizes)
    val from = scale.orders + c.toLong * deltaSizes.sum
    sizes.zip(sizes.scanLeft(from)(_ + _)).map { case (n, f) => (f, n) }
  }

  /** Lands delta `i`, orders [from, from + n), in the base and folds it
    * into all three stores. Returns the merge's wall time and the delta's
    * orders and lines. */
  def merge(ctx: Ctx, lay: Layout, i: Int, from: Long, n: Long): (Double, DataFrame, DataFrame) = {
    val spark = ctx.spark
    val stage = lay.root.resolve(s"stage/d$i")
    val (o, l) = ctx.harness {
      (land(spark, Gen.orders(spark, ctx.seed, scale, from, n), lay.orders,
        stage.resolve("o")),
        land(spark, Gen.lineitem(spark, ctx.seed, scale, from, n), lay.lineitem,
          stage.resolve("l")))
    }
    val id = Some(s"delta-$i")
    val t0 = System.nanoTime()
    ctx.span("operators.store.merge") {
      ctx.span("operators.store.merge.joinview")(ViewStore.mergeIntoJoinView(o,
        l.select(col("l_orderkey"), col("l_quantity")), lay.jv,
        "o_orderkey", "o_custkey", "l_orderkey", "l_quantity", appliedId = id))
      ctx.span("operators.store.merge.agg")(AggStore.mergeIntoAggStore(
        l.select(col("l_suppkey"), col("l_quantity")), lay.agg, "l_suppkey",
        "l_quantity", appliedId = id))
      ctx.span("operators.store.merge.zonemap")(ZoneMap.appendWithStats(
        zoneRows(l).repartition(ctx.nproc), lay.zdata, zoneCols, lay.zone))
    }
    ((System.nanoTime() - t0) / 1e9, o, l)
  }

  /** Files and bytes under every store root. */
  def storeFiles(lay: Layout): Map[String, Long] = {
    def walk(p: String): Seq[Path] =
      if (!Files.exists(Path.of(p))) Nil
      else {
        val s = Files.walk(Path.of(p))
        try s.iterator().asScala.filter(Files.isRegularFile(_)).toSeq finally s.close()
      }
    Seq(lay.jv, lay.agg, lay.zdata, lay.zone).flatMap(walk)
      .filterNot(_.getFileName.toString.startsWith("."))
      .map(p => p.toString -> Files.size(p)).toMap
  }

  /** One-shot recomputes from the base, for the correctness checks. */
  def joinRef(spark: SparkSession, lay: Layout): DataFrame =
    spark.read.parquet(lay.orders).join(spark.read.parquet(lay.lineitem),
        col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_custkey").as("key"))
      .agg(count(lit(1)).as("cnt"), sum(col("l_quantity").cast("long")).as("total"))

  def aggRef(spark: SparkSession, lay: Layout): DataFrame =
    spark.read.parquet(lay.lineitem).groupBy(col("l_suppkey").as("key"))
      .agg(count(lit(1)).as("cnt"), sum(col("l_quantity").cast("long")).as("total"))

  def sorted(df: DataFrame): Seq[Row] = df.collect().toSeq.sortBy(_.getLong(0))

  /** Every store against the one-shot recompute of the base. */
  def verify(ctx: Ctx, lay: Layout, what: String): Unit = {
    val spark = ctx.spark
    val jvOk = sorted(ViewStore.readJoinView(spark, lay.jv)) == sorted(joinRef(spark, lay))
    ctx.check(jvOk, s"$what: join view differs from the one-shot join")
    val aggOk = sorted(AggStore.readAggStore(spark, lay.agg)) == sorted(aggRef(spark, lay))
    ctx.check(aggOk, s"$what: aggregate store differs from the one-shot aggregate")
    val base = zoneRows(spark.read.parquet(lay.lineitem))
    val all = spark.read.parquet(lay.zdata)
    def summary(df: DataFrame): Row =
      df.agg(count(lit(1)), sum(col("qty")), sum(col("l_partkey") * 7 + col("l_suppkey"))).head()
    val preds = Seq(("l_partkey", 1L, scale.parts / 4), ("l_suppkey", scale.suppliers / 3, scale.suppliers))
    val full = base.filter(col("l_partkey").between(1L, scale.parts / 4) &&
      col("l_suppkey").between(scale.suppliers / 3, scale.suppliers))
    val zmOk = summary(all) == summary(base) &&
      summary(ZoneMap.prunedRead(spark, lay.zdata, lay.zone, preds)) == summary(full)
    ctx.check(zmOk, s"$what: zone-map layout or pruned read differs from the base")
  }
}

/** store_cycle: the stores' write path, read path and sweep, and the
  * graph layer, on the same data. Each round lands two seeded deltas of
  * uneven size and folds each into all three stores, serves a seeded query
  * mix from the merged, not yet compacted stores through the planner rules
  * ([[perKind]] queries of each kind), runs one `Maintenance.sweep`, and
  * then refreshes supplier recommendations with personalized PageRank over
  * the updated customer–supplier trade graph.
  */
object StoreCycle extends Workload {
  val name = "store_cycle"
  override val conf: Map[String, String] = Map(
    "spark.sql.extensions" -> "graft.GraftExtensions",
    "spark.graft.runtimeFilters.enabled" -> "true")
  val kinds: Seq[String] = Seq("agg_lookup", "jv_lookup", "zone_range", "rf_join", "meta_agg")
  /** Queries of each kind a cycle serves. */
  val perKind = 5

  /** The base as plain driver-side data, kept current delta by delta:
    * every served answer is checked against a recompute from it. */
  final class Reference(spark: SparkSession, lay: Stores.Layout, partPath: String) {
    val agg = mutable.Map.empty[Long, (Long, Long)]
    val jv = mutable.Map.empty[Long, (Long, Long)]
    val zPart, zSupp, zQty = mutable.ArrayBuffer.empty[Long]
    val zFlag = mutable.ArrayBuffer.empty[String]
    val part: Map[Long, (Int, String)] = spark.read.parquet(partPath).collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getString(2))).toMap

    private def add(m: mutable.Map[Long, (Long, Long)], k: Long, q: Long): Unit = {
      val (c, t) = m.getOrElse(k, (0L, 0L))
      m(k) = (c + 1, t + q)
    }

    /** Folds orders `o` and their lines `l` into the reference. */
    def fold(o: DataFrame, l: DataFrame): Unit = {
      val cust = o.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      l.select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
          col("l_quantity").cast("long"), col("l_returnflag")).collect().foreach { r =>
        val q = r.getLong(3)
        add(agg, r.getLong(2), q)
        add(jv, cust(r.getLong(0)), q)
        zPart += r.getLong(1); zSupp += r.getLong(2); zQty += q; zFlag += r.getString(4)
      }
    }
    fold(spark.read.parquet(lay.orders), spark.read.parquet(lay.lineitem))

    /** Count (and qty sum) per group of the zone rows that pass `keep`. */
    def grouped(keep: Int => Boolean, group: Int => String, withQty: Boolean): Seq[String] = {
      val acc = mutable.Map.empty[String, (Long, Long)]
      for (i <- zPart.indices if keep(i)) {
        val (n, q) = acc.getOrElse(group(i), (0L, 0L))
        acc(group(i)) = (n + 1, q + zQty(i))
      }
      acc.toSeq.map { case (g, (n, q)) => if (withQty) s"$g|$n|$q" else s"$g|$n" }.sorted
    }
  }

  /** A query, its expected answer, and whether its scanned files show the
    * rewrite or the pruning took effect. */
  final case class Query(kind: String, df: () => DataFrame, expected: Seq[String],
                         hit: Seq[String] => Boolean)

  def query(spark: SparkSession, lay: Stores.Layout, partPath: String, ref: Reference,
            r: Gen.Rng, kind: String): Query = {
    val sc = Stores.scale
    def under(root: String)(files: Seq[String]): Boolean =
      files.nonEmpty && files.forall(_.contains(root))
    val zoneTotal = Layers.filesUnder(lay.zdata)._1
    def pruned(files: Seq[String]): Boolean = files.count(_.contains(lay.zdata)) < zoneTotal
    def kv(m: collection.Map[Long, (Long, Long)], keys: Seq[Long]): Seq[String] =
      keys.distinct.flatMap(k => m.get(k).map { case (c, t) => s"$k|$c|$t" }).sorted
    kind match {
      case "agg_lookup" =>
        val keys = Seq.fill(4)(1 + r.below(sc.suppliers))
        Query(kind, () => spark.read.parquet(lay.lineitem)
          .filter(col("l_suppkey").isin(keys: _*)).groupBy(col("l_suppkey"))
          .agg(count(lit(1)).as("cnt"), sum(col("l_quantity").cast("long")).as("total")),
          kv(ref.agg, keys), under(lay.agg))
      case "jv_lookup" =>
        val keys = Seq.fill(3)(1 + r.below(sc.customers))
        Query(kind, () => {
          val o = spark.read.parquet(lay.orders)
          val l = spark.read.parquet(lay.lineitem)
          o.join(l, o("o_orderkey") === l("l_orderkey"))
            .filter(col("o_custkey").isin(keys: _*)).groupBy(col("o_custkey"))
            .agg(count(lit(1)).as("cnt"), sum(col("l_quantity").cast("long")).as("total"))
        }, kv(ref.jv, keys), under(lay.jv))
      case "zone_range" =>
        val (pw, sw) = (sc.parts / 20, sc.suppliers / 8)
        val (a, c) = (1 + r.below(sc.parts - pw), 1 + r.below(sc.suppliers - sw))
        Query(kind, () => spark.read.parquet(lay.zdata)
          .filter(col("l_partkey").between(a, a + pw) && col("l_suppkey").between(c, c + sw))
          .groupBy(col("l_returnflag")).agg(count(lit(1)).as("n"), sum(col("qty")).as("qty")),
          ref.grouped(i => ref.zPart(i) >= a && ref.zPart(i) <= a + pw &&
            ref.zSupp(i) >= c && ref.zSupp(i) <= c + sw, ref.zFlag(_), withQty = true),
          pruned)
      case "rf_join" =>
        val size = (1 + r.below(50)).toInt
        Query(kind, () => spark.read.parquet(lay.zdata)
          .join(spark.read.parquet(partPath).filter(col("p_size") === size),
            col("l_partkey") === col("p_partkey"))
          .groupBy(col("p_brand")).agg(count(lit(1)).as("n"), sum(col("qty")).as("qty")),
          ref.grouped(i => ref.part.get(ref.zPart(i)).exists(_._1 == size),
            i => ref.part(ref.zPart(i))._2, withQty = true),
          pruned)
      case "meta_agg" =>
        val sw = sc.suppliers / 4
        val c = 1 + r.below(sc.suppliers - sw)
        Query(kind, () => spark.read.parquet(lay.zdata)
          .filter(col("l_suppkey").between(c, c + sw))
          .groupBy(col("l_returnflag")).agg(count(lit(1)).as("n")),
          ref.grouped(i => ref.zSupp(i) >= c && ref.zSupp(i) <= c + sw, ref.zFlag(_),
            withQty = false),
          pruned)
    }
  }

  val pprIters = 3
  val pprScale = 1000000000L
  /** Supplier node ids sit above every customer id. */
  private val suppOffset = 10000000L

  /** Personalized PageRank over the trade graph of the current base, from
    * the customers the seed picks (one in a hundred). Checks that the
    * integer mass is conserved up to the floor loss (at most one unit per
    * edge, seed and node per iteration) and that every node is ranked
    * once. Returns the PPR call's time. */
  def recommend(ctx: Ctx, lay: Stores.Layout, tag: String): Double = {
    val spark = ctx.spark
    // the input frames (their parquet schema reads run Spark jobs)
    val (edges, seeds) = ctx.harness {
      val trade = spark.read.parquet(lay.lineitem).select(col("l_orderkey"), col("l_suppkey"))
        .join(spark.read.parquet(lay.orders), col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").as("cust"), (col("l_suppkey") + suppOffset).as("supp"))
        .distinct()
      (trade.select(col("cust").as("src"), col("supp").as("dst"))
        .unionByName(trade.select(col("supp").as("src"), col("cust").as("dst"))),
        trade.select(col("cust").as("node")).distinct()
          .filter(pmod(xxhash64(lit(ctx.seed), col("node")), lit(100L)) === 0))
    }
    val t0 = System.nanoTime()
    val ranks = ctx.span("operators.graph.ppr")(Graph.personalizedPageRank(edges, "src", "dst",
      seeds, "node", iters = pprIters, scale = pprScale).collect())
    val secs = (System.nanoTime() - t0) / 1e9
    ctx.harness {
      val Row(nEdges: Long, nNodes: Long, nSeeds: Long) = edges.agg(count(lit(1)),
        countDistinct(col("src")), countDistinct(when(col("src") < suppOffset &&
          pmod(xxhash64(lit(ctx.seed), col("src")), lit(100L)) === 0, col("src")))).head()
      val mass = ranks.map(_.getAs[Long]("r")).sum
      val leak = pprIters.toLong * (nEdges + nSeeds + nNodes + 1)
      val nodes = ranks.map(_.getAs[Long]("node"))
      val ok = mass <= pprScale && mass >= pprScale - leak &&
        nodes.length == nNodes && nodes.distinct.length == nodes.length
      ctx.check(ok, s"$tag: PPR mass $mass of $pprScale (floor loss up to $leak) over " +
        s"${nodes.length} ranked of $nNodes nodes")
    }
    secs
  }

  final case class Served(kind: String, planMs: Double, execMs: Double, files: Int, hit: Boolean)

  /** Times one query: building and planning it (rewrites and any
    * plan-time filter job included), then executing it. */
  def serve(ctx: Ctx, q: Query, tag: String): Served = {
    val t0 = System.nanoTime()
    val (df, files) = ctx.span("plans.plan") {
      val df = q.df()
      df.queryExecution.executedPlan
      (df, df.inputFiles.toSeq)
    }
    val t1 = System.nanoTime()
    val rows = ctx.span("plans.exec")(df.collect())
    val t2 = System.nanoTime()
    val got = rows.map(_.toSeq.mkString("|")).toSeq.sorted
    ctx.check(got == q.expected, s"$tag ${q.kind}: served ${got.take(3).mkString(",")}" +
      s" expected ${q.expected.take(3).mkString(",")}")
    Served(q.kind, (t1 - t0) / 1e6, (t2 - t1) / 1e6, files.size, q.hit(files))
  }

  val deltasPerCycle: Int = Stores.deltaSizes.size

  /** One cycle: merge two deltas, serve the mix, sweep. */
  final case class Cycle(mergeS: Seq[Double], rows: Long, served: Seq[Served],
                         sweepS: Double, layer: Map[String, Double])

  def cycle(ctx: Ctx, lay: Stores.Layout, partPath: String, ref: Reference, c: Int,
            warmup: Boolean = false): Cycle = {
    val spark = ctx.spark
    val before = Stores.storeFiles(lay)
    // the warm-up cycle merges one delta and serves one query of each kind:
    // enough to warm every path
    val deltas = Stores.deltas(ctx.seed, c).take(if (warmup) 1 else deltasPerCycle)
    val merged = deltas.zipWithIndex.map { case ((from, n), j) =>
      val (s, o, l) = Stores.merge(ctx, lay, c * deltasPerCycle + j, from, n)
      (s, ctx.harness { ref.fold(o, l); l.count() })
    }
    val afterMerge = Stores.storeFiles(lay)
    val segments = ctx.harness(PerfbenchProbe.segmentsPerBucket(spark, s"${lay.jv}/view"))
    val r = new Gen.Rng(ctx.seed * 31L + c)
    val served = (0 until (if (warmup) 1 else perKind)).flatMap(_ => kinds).map { k =>
      val q = ctx.harness(query(spark, lay, partPath, ref, r, k))
      serve(ctx, q, s"cycle $c")
    }
    val t0 = System.nanoTime()
    val actions = ctx.span("operators.store.sweep")(
      Maintenance.sweep(spark, lay.targets, Stores.policy))
    val sweepS = (System.nanoTime() - t0) / 1e9
    val afterSweep = Stores.storeFiles(lay)
    val errs = actions.filter(_.verb == "error")
    ctx.check(errs.isEmpty, s"cycle $c: sweep errors ${errs.map(_.detail).mkString("; ")}")
    Cycle(merged.map(_._1), merged.map(_._2).sum, served, sweepS, Map(
      "store.merge_s" -> merged.map(_._1).sum / merged.size,
      "store.sweep_s" -> sweepS,
      "store.merge_files_written" ->
        (afterMerge.keySet -- before.keySet).size.toDouble / merged.size,
      "store.bytes_rewritten" ->
        (afterSweep.keySet -- afterMerge.keySet).toSeq.map(afterSweep).sum.toDouble,
      "store.segments_per_bucket" -> segments,
      "plans.plan_ms" -> served.map(_.planMs).sum / served.size,
      "plans.exec_ms" -> served.map(_.execMs).sum / served.size,
      "plans.rewrite_hit_ratio" -> served.count(_.hit).toDouble / served.size,
      "plans.files_scanned_per_query" -> served.map(_.files).sum.toDouble / served.size))
  }

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    // set-up repeats generate and land the base; the warm-up builds the
    // stores and runs one cycle on deltas of its own
    val root = ctx.work.resolve("stores")
    ctx.repeatedSetup(3)(_ => Stores.land(ctx, root))
    val lay = Stores.Layout(root)
    val partPath = root.resolve("base/part").toString
    val ref = ctx.warmup {
      Stores.build(ctx, lay)
      Gen.part(spark, ctx.seed, Stores.scale).coalesce(1).write.mode("overwrite").parquet(partPath)
      graft.plans.MvCatalog.registerAggView(spark.read.parquet(lay.lineitem),
        "l_suppkey", "l_quantity", lay.agg)
      graft.plans.JoinViewCatalog.registerJoinView(spark.read.parquet(lay.orders),
        spark.read.parquet(lay.lineitem), "o_orderkey", "o_custkey", "l_orderkey",
        "l_quantity", lay.jv)
      graft.plans.ZoneMapCatalog.register(spark, lay.zdata, lay.zone, Stores.zoneCols)
      val ref = new Reference(spark, lay, partPath)
      cycle(ctx, lay, partPath, ref, 0, warmup = true)
      ref
    }
    val cycles = mutable.ArrayBuffer.empty[Cycle]
    val ppr = mutable.ArrayBuffer.empty[Double]
    // cycle 0 was the warm-up's
    ctx.rounds { r =>
      cycles += cycle(ctx, lay, partPath, ref, r + 1)
      ppr += recommend(ctx, lay, s"cycle ${r + 1}")
    }
    // the one-shot recomputes must read the base, not the stores
    graft.plans.MvCatalog.clear()
    graft.plans.JoinViewCatalog.clear()
    graft.plans.ZoneMapCatalog.clear()
    spark.conf.set("spark.graft.runtimeFilters.enabled", "false")
    ctx.harness(Stores.verify(ctx, lay, "after the last cycle"))
    val rep = ctx.report
    val merges = cycles.flatMap(_.mergeS).toSeq
    val sweeps = cycles.map(_.sweepS).toSeq
    val rows = cycles.map(_.rows).sum
    val lat = cycles.flatMap(_.served).map(s => s.planMs + s.execMs).toSeq
    val maintRate = rows / (merges.sum + sweeps.sum)
    rep.e2e("throughput", maintRate, "op/s")
    rep.e2e("latency_ms", lat.sum / lat.size, "ms")
    rep.named("maint_rows_per_s", maintRate, "rows/s", merges.size)
    rep.named("merge_p50_s", Stats.median(merges), "s", merges.size)
    rep.named("compact_s", Stats.median(sweeps), "s", sweeps.size)
    rep.named("serve_p50_ms", Stats.median(lat), "ms", lat.size)
    rep.named("serve_p90_ms", Stats.quantile(lat, 0.9), "ms", lat.size)
    rep.named("serve_qps", lat.size / (lat.sum / 1000), "queries/s", lat.size)
    rep.named("ppr_s", Stats.median(ppr.toSeq), "s", ppr.size)
    kinds.foreach { k =>
      val xs = cycles.flatMap(_.served).filter(_.kind == k).map(s => s.planMs + s.execMs).toSeq
      rep.named(s"serve_p50_ms.$k", Stats.median(xs), "ms", xs.size)
      val hits = cycles.flatMap(_.served).filter(_.kind == k)
      rep.named(s"serve_hit_ratio.$k", hits.count(_.hit).toDouble / hits.size, "ratio", hits.size)
    }
    Layers.roundValues(ctx, cycles.map(_.layer).zip(ppr).map { case (l, p) =>
      l + ("graph.ppr_s" -> p) }.toSeq)
  }

  override def layers(ctx: Ctx, spans: Seq[Span], counts: Map[Int, Counts],
                      round0: (String => Boolean) => Counts): Unit = {
    val m = round0(_.startsWith("operators.store.merge"))
    ctx.report.perLayer("store.merge_jobs", m.jobs.toDouble / deltasPerCycle, "count")
    ctx.report.perLayer("store.merge_stages", m.stages.toDouble / deltasPerCycle, "count")
    ctx.report.perLayer("store.merge_shuffle_bytes", m.shuffleWrite.toDouble / deltasPerCycle,
      "bytes")
    ctx.report.perLayer("graph.jobs",
      round0(_.startsWith("operators.graph")).jobs.toDouble, "count")
  }
}
