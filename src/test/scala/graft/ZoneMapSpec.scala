package graft

import org.apache.spark.sql.functions._

import graft.operators.ZoneMap

/** Pins the zone-map contract: (1) the correctness law — a pruned read
  * equals the full-scan filter bit-for-bit (stats admit false
  * positives, never false negatives); (2) the skipping property — on a
  * z-ordered layout a tight 2-D range predicate opens a strict subset
  * of the files, and the frame's actual `inputFiles` are exactly the
  * survivors; (3) the null/empty edges.
  */
class ZoneMapSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_zm_$tag").toString

  test("pruned read equals the full-scan filter, and opens fewer files") {
    val dir = tmp("law")
    val grid = spark.range(0, 64 * 64).select(
      (col("id") % 64).cast("long").as("a"),
      (col("id") / 64).cast("long").as("b"),
      col("id").as("payload"))
    ZoneMap.writeZOrdered(grid, s"$dir/data", s"$dir/zone",
      "a", "b", bits = 8, partitions = 16)

    val preds = Seq(("a", 10L, 20L), ("b", 40L, 50L))
    val pruned = ZoneMap.prunedRead(spark, s"$dir/data", s"$dir/zone", preds)
    val full = spark.read.parquet(s"$dir/data")
      .where(col("a").between(10, 20) && col("b").between(40, 50))
    assert(pruned.select("a", "b", "payload").as[(Long, Long, Long)]
      .collect().toSet ==
      full.select("a", "b", "payload").as[(Long, Long, Long)]
        .collect().toSet, "pruned read must equal the full-scan filter")

    val (kept, total) = ZoneMap.pruneFiles(spark, s"$dir/zone", preds)
    assert(total == 16L, s"expected 16 files in the map, got $total")
    assert(kept.size < 16,
      s"an 11x11 window over a z-ordered 64x64 grid must skip files, " +
        s"kept ${kept.size} of $total")
    assert(pruned.inputFiles.map(_.replace("file://", "")).toSet ==
      kept.map(_.replace("file:///", "/")).toSet,
      "the scan must open exactly the surviving files")
  }

  test("z-order prunes on BOTH dimensions; a 1-D sort only on its own") {
    val dir = tmp("dims")
    val grid = spark.range(0, 64 * 64).select(
      (col("id") % 64).cast("long").as("a"),
      (col("id") / 64).cast("long").as("b"))
    ZoneMap.writeZOrdered(grid, s"$dir/z", s"$dir/zz", "a", "b",
      bits = 8, partitions = 16)
    // 1-D contrast: range-partition by `a` alone, same file count
    grid.repartitionByRange(16, col("a"))
      .write.mode("overwrite").parquet(s"$dir/s")
    ZoneMap.buildZoneMap(spark, s"$dir/s", Seq("a", "b"), s"$dir/sz")

    val bPred = Seq(("b", 0L, 7L)) // selective on the NON-sort column
    val (zKept, _) = ZoneMap.pruneFiles(spark, s"$dir/zz", bPred)
    val (sKept, sTotal) = ZoneMap.pruneFiles(spark, s"$dir/sz", bPred)
    assert(sKept.size.toLong == sTotal,
      "a 1-D a-sort leaves b spanning the full range in every file — " +
        "a b-predicate prunes nothing")
    assert(zKept.size < sKept.size,
      s"z-order must prune on b where the a-sort cannot " +
        s"(${zKept.size} vs ${sKept.size})")
  }

  test("zero survivors short-circuit to an empty frame with the data schema") {
    val dir = tmp("empty")
    val grid = spark.range(0, 256).select(
      (col("id") % 16).cast("long").as("a"),
      (col("id") / 16).cast("long").as("b"))
    ZoneMap.writeZOrdered(grid, s"$dir/data", s"$dir/zone", "a", "b",
      bits = 4, partitions = 4)
    val out = ZoneMap.prunedRead(spark, s"$dir/data", s"$dir/zone",
      Seq(("a", 1000L, 2000L)))
    assert(out.columns.toSeq == Seq("a", "b"))
    assert(out.isEmpty, "an out-of-range predicate must return no rows")
  }

  test("appendWithStats extends the map with only the new files' stats") {
    val dir = tmp("append")
    val half1 = spark.range(0, 32 * 64).select(
      (col("id") % 32).cast("long").as("a"),
      (col("id") / 32).cast("long").as("b"))
    ZoneMap.writeZOrdered(half1, s"$dir/data", s"$dir/zone", "a", "b",
      bits = 8, partitions = 8)
    val (_, before) = ZoneMap.pruneFiles(spark, s"$dir/zone",
      Seq(("a", 0L, 100L)))
    val half2 = spark.range(0, 32 * 64).select(
      ((col("id") % 32) + 32).cast("long").as("a"),
      (col("id") / 32).cast("long").as("b"))
    ZoneMap.appendWithStats(half2.repartition(4), s"$dir/data",
      Seq("a", "b"), s"$dir/zone")
    val (_, after) = ZoneMap.pruneFiles(spark, s"$dir/zone",
      Seq(("a", 0L, 100L)))
    assert(after > before, "the map must gain rows for the new files")
    // the law holds across the append boundary...
    val preds = Seq(("a", 28L, 36L))
    val pruned = ZoneMap.prunedRead(spark, s"$dir/data", s"$dir/zone", preds)
    val full = spark.read.parquet(s"$dir/data")
      .where(col("a").between(28, 36))
    assert(pruned.select("a", "b").as[(Long, Long)].collect().toSet ==
      full.select("a", "b").as[(Long, Long)].collect().toSet)
    // ...and an old-range-only predicate skips every appended file
    val (oldOnly, total) = ZoneMap.pruneFiles(spark, s"$dir/zone",
      Seq(("a", 0L, 20L)))
    assert(total == after && oldOnly.size <= before,
      "a predicate inside the old range must not open appended files")
  }

  test("all-null files are skipped; null rows never match a range predicate") {
    val dir = tmp("nulls")
    Seq((1L, 10L), (2L, 20L)).toDF("k", "v")
      .coalesce(1).write.parquet(s"$dir/data")
    Seq((3L, Option.empty[Long]), (4L, Option.empty[Long])).toDF("k", "v")
      .coalesce(1).write.mode("append").parquet(s"$dir/data")
    ZoneMap.buildZoneMap(spark, s"$dir/data", Seq("v"), s"$dir/zone")
    val preds = Seq(("v", 0L, 100L))
    val (kept, total) = ZoneMap.pruneFiles(spark, s"$dir/zone", preds)
    assert(total == 2L && kept.size == 1,
      s"the all-null file must be skipped (kept ${kept.size} of $total)")
    val got = ZoneMap.prunedRead(spark, s"$dir/data", s"$dir/zone", preds)
      .select("k").as[Long].collect().toSet
    assert(got == Set(1L, 2L),
      "null v rows can never match v BETWEEN 0 AND 100 — skipping their " +
        "file is sound")
  }

  test("a registered zone map prunes PLAIN filters in the planner; " +
    "an undescribed landed file refuses the rewrite") {
    val dir = tmp("rule")
    val df = spark.range(0, 32 * 64).select(
      (col("id") % 32).cast("long").as("a"),
      (col("id") / 32).cast("long").as("b"))
    ZoneMap.writeZOrdered(df, s"$dir/data", s"$dir/zone", "a", "b",
      bits = 8, partitions = 8)
    val prev = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations =
      prev :+ graft.plans.ZoneMapPrune(spark)
    try {
      graft.plans.ZoneMapCatalog.register(spark, s"$dir/data",
        s"$dir/zone", Seq("a", "b"))
      val allFiles = ZoneMap.pruneFiles(spark, s"$dir/zone",
        Seq(("a", Long.MinValue, Long.MaxValue)))._2
      def q = spark.read.parquet(s"$dir/data")
        .filter(col("a") >= 3 && col("a") <= 6 && col("b").between(10, 20))
      assert(q.inputFiles.length < allFiles,
        s"a plain filter must open a strict subset " +
          s"(${q.inputFiles.length} of $allFiles)")
      val expect = (0L until 32 * 64)
        .map(i => (i % 32, i / 32))
        .filter { case (a, b) => a >= 3 && a <= 6 && b >= 10 && b <= 20 }
        .toSet
      assert(q.as[(Long, Long)].collect().toSet == expect,
        "the pruned plan must equal the full-scan filter")
      // a provably-empty range folds to a local empty relation
      assert(spark.read.parquet(s"$dir/data").filter(col("a") > 1000L)
        .isEmpty)
      // literal-first operand order prunes identically
      val qm = spark.read.parquet(s"$dir/data")
        .filter(lit(3L) <= col("a") && lit(6L) >= col("a") &&
          col("b").between(10, 20))
      assert(qm.inputFiles.length < allFiles,
        "literal-first comparisons must extract the same bounds")
      assert(qm.as[(Long, Long)].collect().toSet == expect)
      // an undescribed file lands (no appendWithStats): the rule must
      // REFUSE — skipping that file would lose its rows
      Seq((3L, 15L)).toDF("a", "b")
        .write.mode("append").parquet(s"$dir/data")
      val q2 = spark.read.parquet(s"$dir/data")
        .filter(col("a") >= 3 && col("a") <= 6 && col("b").between(10, 20))
      assert(q2.inputFiles.length > allFiles,
        "a stale map must scan everything, never skip blind")
      assert(q2.count() == expect.size + 1,
        "the refused query must see the landed row")
    } finally {
      spark.experimental.extraOptimizations = prev
      graft.plans.ZoneMapCatalog.clear()
    }
  }

  test("recluster policy: unclustered appends raise the measured drift " +
    "until it trips a full re-layout that restores selectivity") {
    val dir = tmp("drift")
    val grid = spark.range(0, 32 * 64).select(
      (col("id") % 32).cast("long").as("a"),
      (col("id") / 32).cast("long").as("b"))
    ZoneMap.writeZOrdered(grid, s"$dir/data", s"$dir/zone", "a", "b",
      bits = 8, partitions = 8)
    val (d0, _) = ZoneMap.layoutDrift(spark, s"$dir/zone", "a", "b")
    // a clustered layout sits below the threshold: the policy no-ops
    val (d1, ran1) = ZoneMap.reclusterIfDegraded(spark, s"$dir/data",
      s"$dir/zone", "a", "b", maxDriftPpm = 250000L, partitions = 8)
    assert(!ran1 && d1 == d0, s"clustered layout must not recluster ($d0)")
    // UNCLUSTERED append: round-robin files span ~the full range on
    // both dimensions — correctness holds, skipping erodes, drift rises
    ZoneMap.appendWithStats(grid.repartition(4), s"$dir/data",
      Seq("a", "b"), s"$dir/zone")
    val (d2, _) = ZoneMap.layoutDrift(spark, s"$dir/zone", "a", "b")
    assert(d2 > d0, s"full-span appends must raise drift ($d0 -> $d2)")
    val preds = Seq(("a", 3L, 6L), ("b", 10L, 20L))
    val (survBefore, totBefore) = ZoneMap.pruneFiles(spark, s"$dir/zone",
      preds)
    val (d3, ran3) = ZoneMap.reclusterIfDegraded(spark, s"$dir/data",
      s"$dir/zone", "a", "b", maxDriftPpm = 250000L, partitions = 8)
    assert(ran3 && d3 == d2, s"drift $d2 must trip the 250000 threshold")
    val (survAfter, totAfter) = ZoneMap.pruneFiles(spark, s"$dir/zone", preds)
    // the re-layout restores selectivity: a smaller SHARE of files
    // opened for the same predicate (integer cross-multiplied)
    assert(survAfter.size.toLong * totBefore < survBefore.size.toLong * totAfter,
      s"recluster must improve skipping " +
        s"(${survAfter.size}/$totAfter vs ${survBefore.size}/$totBefore)")
    // and zero rows moved: the doubled grid survives, pruned == filter
    assert(spark.read.parquet(s"$dir/data").count() == 2L * 32 * 64)
    val got = ZoneMap.prunedRead(spark, s"$dir/data", s"$dir/zone", preds)
      .groupBy(col("a")).count().as[(Long, Long)].collect().toSet
    assert(got == (3L to 6L).map(a => (a, 22L)).toSet,
      "each surviving a-value: 11 b's x 2 copies")
  }

  test("DATE stats prune plain filters in the planner; the cast-to-" +
    "timestamp comparison shape converts micros bounds to exact days") {
    val dir = tmp("date")
    val rows = spark.range(0, 1024).select(
      date_add(lit(java.sql.Date.valueOf("1994-01-01")),
        (col("id") % 256).cast("int")).as("d"),
      (col("id") / 4).cast("long").as("k"))
    operators.ZoneMap.writeZOrdered(rows, s"$dir/data", s"$dir/zone",
      "d", "k", bits = 8, partitions = 8)
    val prev = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations =
      prev :+ graft.plans.ZoneMapPrune(spark)
    try {
      graft.plans.ZoneMapCatalog.register(spark, s"$dir/data",
        s"$dir/zone", Seq("d", "k"))
      // plain date BETWEEN: folded DateType literals are epoch days —
      // the integer-exact machinery unchanged
      val q = spark.read.parquet(s"$dir/data")
        .filter(col("d").between(
          lit(java.sql.Date.valueOf("1994-01-10")),
          lit(java.sql.Date.valueOf("1994-01-20"))))
      assert(q.inputFiles.length < 8,
        s"a tight date range must skip files (${q.inputFiles.length} of 8)")
      assert(q.count() == 11L * 4,
        "11 days x 4 rows/day — the pruned plan must lose nothing")
      // the cast shape Catalyst inserts for date-vs-timestamp: micros
      // bounds convert by ceil/floor division to INCLUSIVE day bounds
      // (UTC session). 00:00:01 is past midnight of the 10th, so the
      // >= bound rounds UP to the 11th.
      val qc = spark.read.parquet(s"$dir/data")
        .filter(col("d") >=
          lit(java.sql.Timestamp.valueOf("1994-01-10 00:00:01")) &&
          col("d") <= lit(java.sql.Timestamp.valueOf("1994-01-20 12:00:00")))
      assert(qc.inputFiles.length < 8,
        "the cast(date as timestamp) shape must still extract bounds")
      assert(qc.select(min(col("d")).cast("string"),
        max(col("d")).cast("string")).as[(String, String)]
        .head() == (("1994-01-11", "1994-01-20")),
        "micros bounds must convert to exact inclusive day bounds")
      // a non-midnight EQUALITY can match no date: empty range, zero read
      assert(spark.read.parquet(s"$dir/data")
        .filter(col("d") ===
          lit(java.sql.Timestamp.valueOf("1994-01-10 06:00:00"))).isEmpty)
    } finally {
      spark.experimental.extraOptimizations = prev
      graft.plans.ZoneMapCatalog.clear()
    }
  }

  test("the cast-to-date shape over TIMESTAMP stats converts day bounds " +
    "to exact micros spans") {
    val dir = tmp("tsdate")
    // one row every 6h shifted to 18:00, 256 days from 1994-01-01 UTC
    // (epoch 757382400): day boundaries matter — 18:00 of day d is
    // inside [d·U, (d+1)·U − 1] but past any midnight comparison point
    val rows = spark.range(0, 1024).select(
      timestamp_seconds(lit(757382400L) + (col("id") % 256) * 86400L +
        lit(64800L)).as("ts"),
      (col("id") / 4).cast("long").as("k"))
    operators.ZoneMap.writeZOrdered(rows, s"$dir/data", s"$dir/zone",
      "ts", "k", bits = 8, partitions = 8)
    val prev = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations =
      prev :+ graft.plans.ZoneMapPrune(spark)
    try {
      graft.plans.ZoneMapCatalog.register(spark, s"$dir/data",
        s"$dir/zone", Seq("ts", "k"))
      // the to_date(ts) BETWEEN warehouse filter: day d covers micros
      // [d·U, (d+1)·U − 1] — lower day bounds multiply to day-start,
      // upper ones to day-end
      val q = spark.read.parquet(s"$dir/data")
        .filter(to_date(col("ts")).between(
          lit(java.sql.Date.valueOf("1994-01-10")),
          lit(java.sql.Date.valueOf("1994-01-20"))))
      assert(q.inputFiles.length < 8,
        s"a tight day range must skip files (${q.inputFiles.length} of 8)")
      assert(q.count() == 11L * 4,
        "11 days x 4 rows/day — the pruned plan must lose nothing")
      // a STRICT day bound: to_date(ts) < d ⟺ ts ≤ d·U − 1 (the
      // inclusive-day conversion after the strict-to-inclusive step)
      val q2 = spark.read.parquet(s"$dir/data")
        .filter(to_date(col("ts")) < lit(java.sql.Date.valueOf("1994-01-03")))
      assert(q2.inputFiles.length < 8)
      assert(q2.count() == 2L * 4, "days 1-2 only")
      // day EQUALITY spans the whole day's micros — the 18:00 rows of
      // exactly that day survive
      val qe = spark.read.parquet(s"$dir/data")
        .filter(to_date(col("ts")) === lit(java.sql.Date.valueOf("1994-02-01")))
      assert(qe.inputFiles.length < 8)
      assert(qe.count() == 4L, "one day x 4 rows")
    } finally {
      spark.experimental.extraOptimizations = prev
      graft.plans.ZoneMapCatalog.clear()
    }
  }

  test("IN lists prune by their envelope, through both the literal form " +
    "and the InSet lowering") {
    val dir = tmp("inlist")
    val grid = spark.range(0, 1024).select(
      (col("id") % 256).cast("long").as("a"),
      (col("id") / 4).cast("long").as("k"))
    operators.ZoneMap.writeZOrdered(grid, s"$dir/data", s"$dir/zone",
      "a", "k", bits = 8, partitions = 8)
    val prev = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations =
      prev :+ graft.plans.ZoneMapPrune(spark)
    try {
      graft.plans.ZoneMapCatalog.register(spark, s"$dir/data",
        s"$dir/zone", Seq("a", "k"))
      // 3 literals: stays In — envelope [10, 13]
      val q = spark.read.parquet(s"$dir/data")
        .filter(col("a").isin(10L, 11L, 13L))
      assert(q.inputFiles.length < 8,
        s"a tight IN envelope must skip files (${q.inputFiles.length} of 8)")
      assert(q.count() == 3L * 4,
        "3 values x 4 rows each — the residual keeps list exactness " +
          "(12 is inside the envelope but not the list)")
      // 12 literals: OptimizeIn lowers to InSet past the conversion
      // threshold (10) — raw internal values, same envelope machinery
      val q2 = spark.read.parquet(s"$dir/data")
        .filter(col("a").isin((40L to 51L).map(Long.box): _*))
      assert(q2.inputFiles.length < 8,
        s"the InSet lowering must still extract (${q2.inputFiles.length})")
      assert(q2.count() == 12L * 4)
    } finally {
      spark.experimental.extraOptimizations = prev
      graft.plans.ZoneMapCatalog.clear()
    }
  }

  test("STRING stat columns prune equality, IN, and range filters in " +
    "binary order; the v2 manifest round-trips; drift refuses them") {
    val dir = tmp("str")
    val segs = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "MACHINERY")
    // one file per segment (append + coalesce guarantees segregation)
    segs.zipWithIndex.foreach { case (s0, i) =>
      spark.range(0, 256).filter(col("id") % 4 === i)
        .select(lit(s0).as("seg"), col("id").as("v"))
        .coalesce(1).write.mode("append").parquet(s"$dir/data")
    }
    operators.ZoneMap.buildZoneMap(spark, s"$dir/data",
      Seq("seg", "v"), s"$dir/zone")
    // the MIXED long+string map commits the v2 manifest and round-trips
    operators.ZoneMapMeta.invalidate()
    val meta = operators.ZoneMapMeta.load(spark, s"$dir/zone")
    assert(meta.exists(_.strCols == Set("seg")),
      s"v2 manifest must carry the string column set, got $meta")
    assert(meta.get.files.forall(_.sstats("seg").isDefined))
    val prev = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations =
      prev :+ graft.plans.ZoneMapPrune(spark)
    try {
      graft.plans.ZoneMapCatalog.register(spark, s"$dir/data",
        s"$dir/zone", Seq("seg", "v"))
      // equality: one segment, one file
      val q = spark.read.parquet(s"$dir/data")
        .filter(col("seg") === "BUILDING")
      assert(q.inputFiles.length < 4,
        s"string equality must skip files (${q.inputFiles.length} of 4)")
      assert(q.count() == 64L)
      // IN envelope (adjacent segments)
      val q2 = spark.read.parquet(s"$dir/data")
        .filter(col("seg").isin("AUTOMOBILE", "BUILDING"))
      assert(q2.inputFiles.length < 4)
      assert(q2.count() == 128L)
      // one-sided range, in UTF-8 byte order
      val q3 = spark.read.parquet(s"$dir/data").filter(col("seg") >= "F")
      assert(q3.inputFiles.length < 4)
      assert(q3.count() == 128L, "FURNITURE + MACHINERY")
      // composed with a long-stat conjunct on the same filter
      val q4 = spark.read.parquet(s"$dir/data")
        .filter(col("seg") === "MACHINERY" && col("v") <= 100L)
      assert(q4.inputFiles.length < 4)
      assert(q4.count() == 25L, "ids 3,7,...,99")
    } finally {
      spark.experimental.extraOptimizations = prev
      graft.plans.ZoneMapCatalog.clear()
    }
    // drift needs integer-image stats — a string column refuses loudly
    val err = intercept[IllegalArgumentException] {
      operators.ZoneMap.layoutDrift(spark, s"$dir/zone", "seg", "v")
    }
    assert(err.getMessage.contains("prune-only"))
  }

  test("per-file BLOOMS drop equality/IN values min/max cannot; appends " +
    "carry prior words and refuse spec changes; the v3 manifest " +
    "round-trips") {
    val dir = tmp("bloom")
    // two interleaved files: near-identical [0,1023] spans, disjoint
    // parities — min/max can never separate them, only the bloom can
    (0 until 2).foreach { par =>
      spark.range(0, 1024).filter(col("id") % 2 === par)
        .select(col("id").as("v"), (col("id") * 2).as("w"))
        .coalesce(1).write.mode("append").parquet(s"$dir/data")
    }
    operators.ZoneMap.buildZoneMap(spark, s"$dir/data", Seq("v"),
      s"$dir/zone", bloomCols = Seq("v"), bloomM = 4096, bloomK = 3)
    // v3 manifest round-trips through a cold cache
    operators.ZoneMapMeta.invalidate()
    val meta = operators.ZoneMapMeta.load(spark, s"$dir/zone")
    assert(meta.exists(m => m.bloomCols == Seq("v") && m.bloomM == 4096 &&
      m.bloomK == 3), s"v3 manifest must carry the bloom spec, got $meta")
    val prev = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations =
      prev :+ graft.plans.ZoneMapPrune(spark)
    try {
      graft.plans.ZoneMapCatalog.register(spark, s"$dir/data",
        s"$dir/zone", Seq("v"))
      // equality on an odd value: both spans cover it, the even file's
      // bloom proves it absent
      val q = spark.read.parquet(s"$dir/data").filter(col("v") === 7L)
      assert(q.inputFiles.length == 1,
        s"bloom must drop the even file (${q.inputFiles.length} of 2)")
      assert(q.count() == 1L)
      // IN across parities: both files genuinely needed
      val q2 = spark.read.parquet(s"$dir/data")
        .filter(col("v").isin(6L, 7L))
      assert(q2.inputFiles.length == 2)
      assert(q2.count() == 2L)
      // append overlapping even multiples of 6 in [0, 96]: prior words
      // carry verbatim, the new file gets its own
      operators.ZoneMap.appendWithStats(
        spark.range(0, 97).filter(col("id") % 6 === 0)
          .select(col("id").as("v"), (col("id") * 2).as("w")),
        s"$dir/data", Seq("v"), s"$dir/zone")
      // 7: odd file only — the appended file's span [0,96] covers it,
      // its bloom proves it absent
      val q3 = spark.read.parquet(s"$dir/data").filter(col("v") === 7L)
      assert(q3.inputFiles.length == 1)
      assert(q3.count() == 1L)
      // 12: even file + appended file (both contain it), odd bloom-drops
      val q4 = spark.read.parquet(s"$dir/data").filter(col("v") === 12L)
      assert(q4.inputFiles.length == 2)
      assert(q4.count() == 2L)
      // an append cannot change the bloom spec
      val err = intercept[IllegalArgumentException] {
        operators.ZoneMap.appendWithStats(
          spark.range(5000, 5002).select(col("id").as("v"),
            (col("id") * 2).as("w")),
          s"$dir/data", Seq("v"), s"$dir/zone", bloomCols = Seq("w"))
      }
      assert(err.getMessage.contains("cannot change the spec"))
    } finally {
      spark.experimental.extraOptimizations = prev
      graft.plans.ZoneMapCatalog.clear()
    }
  }

  test("a disjunction prunes by its per-column union envelope; " +
    "one-sided and cross-column disjuncts widen, never over-prune") {
    val dir = tmp("or")
    val rows = spark.range(0, 1024).select(
      (col("id") % 256).cast("long").as("a"),
      (col("id") / 4).cast("long").as("k"))
    operators.ZoneMap.writeZOrdered(rows, s"$dir/data", s"$dir/zone",
      "a", "k", bits = 8, partitions = 8)
    val prev = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations =
      prev :+ graft.plans.ZoneMapPrune(spark)
    try {
      graft.plans.ZoneMapCatalog.register(spark, s"$dir/data",
        s"$dir/zone", Seq("a", "k"))
      // two tight seasons: union envelope [10, 60] skips, the residual
      // drops the between-season rows
      val q = spark.read.parquet(s"$dir/data")
        .filter(col("a").between(10L, 20L) || col("a").between(50L, 60L))
      assert(q.inputFiles.length < 8,
        s"the union envelope must skip files (${q.inputFiles.length} of 8)")
      assert(q.count() == 22L * 4, "11 + 11 values x 4 rows each")
      // one side unbounded below: no lower envelope (min over a subset
      // would over-prune), the upper one still bounds
      val q2 = spark.read.parquet(s"$dir/data")
        .filter(col("a") <= 20L || col("a").between(50L, 60L))
      assert(q2.inputFiles.length < 8)
      assert(q2.count() == 32L * 4)
      // a disjunct on a DIFFERENT column contributes nothing — correct
      // result from the full scan
      val q3 = spark.read.parquet(s"$dir/data")
        .filter(col("a") <= 5L || col("k") >= 250L)
      assert(q3.count() == 48L, "24 low-a rows + 24 high-k rows, disjoint")
    } finally {
      spark.experimental.extraOptimizations = prev
      graft.plans.ZoneMapCatalog.clear()
    }
  }

  test("per-disjunct survivor UNION opens only the seasons' files, and " +
    "a sparse IN opens only its literals' files (strictly tighter " +
    "than the envelope)") {
    val dir = tmp("union")
    // DETERMINISTIC 1-D clustered layout: file i spans a in
    // [32i, 32i+31], every a value appears exactly 4 times
    val base = spark.range(0, 1024).select(
      (col("id") % 256).cast("long").as("a"), col("id").as("k"))
    (0 until 8).foreach(i => base
      .filter(col("a") >= i * 32 && col("a") < (i + 1) * 32)
      .coalesce(1).write.mode("append").parquet(s"$dir/data"))
    operators.ZoneMap.buildZoneMap(spark, s"$dir/data", Seq("a", "k"),
      s"$dir/zone")
    val prev = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations =
      prev :+ graft.plans.ZoneMapPrune(spark)
    try {
      graft.plans.ZoneMapCatalog.register(spark, s"$dir/data",
        s"$dir/zone", Seq("a", "k"))
      // the seasonal shape the feature is named for: the envelope
      // [10, 245] keeps every file on this date-like clustered layout;
      // the per-disjunct union opens EXACTLY the two seasons' files
      val q = spark.read.parquet(s"$dir/data")
        .filter(col("a").between(10L, 20L) || col("a").between(235L, 245L))
      assert(q.inputFiles.length == 2,
        s"the survivor union must open only the two seasons' files " +
          s"(${q.inputFiles.length} of 8)")
      assert(q.count() == 22L * 4)
      // sparse IN at opposite ends: envelope [5, 250] keeps all 8,
      // per-literal union opens the two containing files
      val q2 = spark.read.parquet(s"$dir/data")
        .filter(col("a").isin(5L, 250L))
      assert(q2.inputFiles.length == 2,
        s"the per-literal union must open only the literals' files " +
          s"(${q2.inputFiles.length} of 8)")
      assert(q2.count() == 8L)
      // the InSet lowering (12 literals, past OptimizeIn's threshold):
      // 11 values inside file 0 plus one in file 7 — still 2 files
      val vals = (0 until 11).map(i => (i * 3).toLong) :+ 250L
      val q3 = spark.read.parquet(s"$dir/data")
        .filter(col("a").isin(vals: _*))
      assert(q3.inputFiles.length == 2,
        s"the InSet lowering must union per literal " +
          s"(${q3.inputFiles.length} of 8)")
      assert(q3.count() == 12L * 4)
      // nested composition: a season OR a sparse pair — the disjunct
      // recursion unions the season's file with the pair's two
      val q4 = spark.read.parquet(s"$dir/data")
        .filter(col("a").between(40L, 50L) ||
          (col("a").isin(100L, 200L) && col("k") >= 0L))
      assert(q4.inputFiles.length == 3,
        s"recursion must refine inside disjuncts " +
          s"(${q4.inputFiles.length} of 8)")
      assert(q4.count() == 11L * 4 + 2L * 4)
    } finally {
      spark.experimental.extraOptimizations = prev
      graft.plans.ZoneMapCatalog.clear()
    }
  }

  test("recluster preserves the map's FULL spec: stat columns beyond " +
    "the cluster pair and the bloom spec survive the rebuild") {
    val dir = tmp("respec")
    // unclustered layout (interleaved repartition): drift ~ full-span
    spark.range(0, 1024).select(
        (col("id") % 32).cast("long").as("a"),
        (col("id") / 32).cast("long").as("b"),
        (col("id") % 7).cast("long").as("c"))
      .repartition(4).write.parquet(s"$dir/data")
    operators.ZoneMap.buildZoneMap(spark, s"$dir/data", Seq("a", "b", "c"),
      s"$dir/zone", bloomCols = Seq("c"), bloomM = 1024, bloomK = 3)
    val (drift, ran) = operators.ZoneMap.reclusterIfDegraded(spark,
      s"$dir/data", s"$dir/zone", "a", "b", maxDriftPpm = 1000L)
    assert(ran, s"an interleaved layout must trip the policy ($drift ppm)")
    operators.ZoneMapMeta.invalidate()
    val meta = operators.ZoneMapMeta.load(spark, s"$dir/zone").get
    assert(meta.statCols == Seq("a", "b", "c"),
      s"the rebuilt map must keep ALL stat columns, got ${meta.statCols}")
    assert(meta.bloomCols == Seq("c") && meta.bloomM == 1024 &&
      meta.bloomK == 3,
      s"the rebuilt map must keep the bloom spec, got $meta")
    // the third column still prunes (both by bounds and by bloom)
    val (surv, total) = operators.ZoneMap.pruneFiles(spark, s"$dir/zone",
      Seq(("c", 2L, 2L)))
    assert(total > 0 && surv.nonEmpty, "the rebuilt stats must resolve c")
  }

  test("the _ZMMETA manifest answers pruning with ZERO Spark jobs and " +
    "the planner never touches the zone table when it validates") {
    val dir = tmp("meta")
    val grid = spark.range(0, 32 * 64).select(
      (col("id") % 32).cast("long").as("a"),
      (col("id") / 32).cast("long").as("b"))
    operators.ZoneMap.writeZOrdered(grid, s"$dir/data", s"$dir/zone",
      "a", "b", bits = 8, partitions = 8)
    val m1 = operators.ZoneMapMeta.load(spark, s"$dir/zone")
    assert(m1.exists(_.gen == 1L), "build must commit generation 1")
    assert(m1.exists(_.files.size == 8))
    // appends advance the generation and re-describe exactly the files
    operators.ZoneMap.appendWithStats(grid.repartition(2), s"$dir/data",
      Seq("a", "b"), s"$dir/zone")
    val m2 = operators.ZoneMapMeta.load(spark, s"$dir/zone")
    assert(m2.exists(_.gen == 2L), "append must advance the generation")
    assert(m2.exists(_.files.size == 10))
    // cache identity: the second load is the same instance, no re-read
    assert(operators.ZoneMapMeta.load(spark, s"$dir/zone").get eq m2.get)
    // ZERO Spark jobs for the pruning decision
    val preds = Seq(("a", 3L, 6L), ("b", 10L, 20L))
    val ((survivors, total), pruneJobs) =
      jobsDuring(operators.ZoneMap.pruneFiles(spark, s"$dir/zone", preds))
    assert(pruneJobs == 0,
      s"pruneFiles with a valid manifest must run zero Spark jobs, saw $pruneJobs")
    assert(total == 10L && survivors.nonEmpty && survivors.size < 10)
    // the decisive pin: corrupt the zone TABLE's parquet bytes IN PLACE
    // (same name, same length — the manifest signature still validates).
    // If the planner or pruneFiles ever read the zone table, they would
    // now crash; serving every decision from the manifest, they prune on.
    val zoneParts = new java.io.File(s"$dir/zone").listFiles()
      .filter(_.getName.endsWith(".parquet"))
    zoneParts.foreach { f =>
      val raf = new java.io.RandomAccessFile(f, "rw")
      try { raf.seek(0); raf.write(Array.fill[Byte](f.length().toInt.min(64))(0)) }
      finally raf.close()
    }
    operators.ZoneMapMeta.invalidate() // force the manifest re-read path
    val (s2, t2) = operators.ZoneMap.pruneFiles(spark, s"$dir/zone", preds)
    assert((s2, t2) == ((survivors, total)),
      "a valid manifest must serve the identical decision without the table")
    val prev = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations =
      prev :+ graft.plans.ZoneMapPrune(spark)
    try {
      graft.plans.ZoneMapCatalog.register(spark, s"$dir/data",
        s"$dir/zone", Seq("a", "b"))
      val q = spark.read.parquet(s"$dir/data")
        .filter(col("a").between(3, 6) && col("b").between(10, 20))
      assert(q.inputFiles.length < 10,
        "planner freshness + pruning must be served from the manifest")
      assert(q.count() == 4L * 11 * 2)
    } finally {
      spark.experimental.extraOptimizations = prev
      graft.plans.ZoneMapCatalog.clear()
    }
    // a manifest that fails to parse degrades to the zone-table scan
    // (which is authoritative) — prove with a SECOND, uncorrupted map
    val dir2 = tmp("meta2")
    operators.ZoneMap.writeZOrdered(grid, s"$dir2/data", s"$dir2/zone",
      "a", "b", bits = 8, partitions = 8)
    val (sv, tv) = operators.ZoneMap.pruneFiles(spark, s"$dir2/zone", preds)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir2/zone/_ZMMETA"),
      "not a manifest".getBytes("UTF-8"))
    operators.ZoneMapMeta.invalidate()
    assert(operators.ZoneMapMeta.load(spark, s"$dir2/zone").isEmpty,
      "a torn manifest must be detected, never parsed wrong")
    assert(operators.ZoneMap.pruneFiles(spark, s"$dir2/zone", preds) ==
      ((sv, tv)), "the fallback zone-table scan must agree")
  }

  test("a stale registration does not pin refusal: the first FRESH " +
    "path-matching entry wins") {
    val dir = tmp("twin")
    val grid = spark.range(0, 1024).select(
      (col("id") % 32).cast("long").as("a"),
      (col("id") / 32).cast("long").as("b"))
    operators.ZoneMap.writeZOrdered(grid, s"$dir/data", s"$dir/zoneA",
      "a", "b", bits = 8, partitions = 8)
    val prev = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations =
      prev :+ graft.plans.ZoneMapPrune(spark)
    try {
      graft.plans.ZoneMapCatalog.register(spark, s"$dir/data",
        s"$dir/zoneA", Seq("a", "b"))
      // the layout is REBUILT (new file names) with its map at a new
      // path, and registered WITHOUT clearing — the house gotcha: the
      // stale zoneA entry describes none of the current files and must
      // not pin a refusal forever
      operators.ZoneMap.writeZOrdered(grid, s"$dir/data", s"$dir/zoneB",
        "a", "b", bits = 8, partitions = 8)
      graft.plans.ZoneMapCatalog.register(spark, s"$dir/data",
        s"$dir/zoneB", Seq("a", "b"))
      val q = spark.read.parquet(s"$dir/data")
        .filter(col("a").between(3, 6) && col("b").between(10, 20))
      assert(q.inputFiles.length < 8,
        "the fresh zoneB registration must prune despite stale zoneA")
      assert(q.count() == 4L * 11)
    } finally {
      spark.experimental.extraOptimizations = prev
      graft.plans.ZoneMapCatalog.clear()
    }
  }

  test("cast(stringStatCol as long) never feeds a long bound: the " +
    "conjunct skips and the rewrite cannot fail the query") {
    val dir = tmp("strcast")
    // string stat column holding NUMERIC renderings: the dangerous
    // shape, because the zone-table fallback's implicit cast would
    // compare them as longs and wrongly drop files if the bound formed
    spark.range(0, 100)
      .select(col("id").cast("string").as("s"), col("id").as("v"))
      .repartitionByRange(4, col("id"))
      .write.parquet(s"$dir/data")
    operators.ZoneMap.buildZoneMap(spark, s"$dir/data", Seq("s"),
      s"$dir/zone")
    val prev = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations =
      prev :+ graft.plans.ZoneMapPrune(spark)
    try {
      graft.plans.ZoneMapCatalog.register(spark, s"$dir/data",
        s"$dir/zone", Seq("s"))
      // pre-guard this THREW at plan time (pruneTyped's mistyped
      // require, propagated out of the optimizer rule) with a valid
      // manifest, and over-pruned via the fallback's implicit cast
      // with a stale one — now the conjunct is simply not a bound
      val q = spark.read.parquet(s"$dir/data")
        .filter(col("s").cast("long") === 5L)
      assert(q.count() == 1L,
        "the long-cast filter must answer from the residual, not a " +
          "mistyped prune")
      assert(q.inputFiles.length == 4,
        "no bound is derivable from cast(stringStat as long) — all " +
          s"files must survive (${q.inputFiles.length} of 4)")
    } finally {
      spark.experimental.extraOptimizations = prev
      graft.plans.ZoneMapCatalog.clear()
    }
  }

  test("an all-empty-string stat slot round-trips the manifest (split " +
    "keeps empty tokens) and its blooms survive an append") {
    val dir = tmp("emptystr")
    // file 1: every s is the EMPTY string -> min = max = "" serializes
    // as ":" -- the slot that used to parse as torn and permanently
    // unload the manifest (silently dropping its blooms)
    spark.range(0, 8).select(lit("").as("s"), col("id").as("k"))
      .coalesce(1).write.parquet(s"$dir/data")
    spark.range(0, 8).select(lit("x").as("s"), (col("id") + 100).as("k"))
      .coalesce(1).write.mode("append").parquet(s"$dir/data")
    operators.ZoneMap.buildZoneMap(spark, s"$dir/data", Seq("s"),
      s"$dir/zone", bloomCols = Seq("k"), bloomM = 1024, bloomK = 3)
    operators.ZoneMapMeta.invalidate()
    val meta = operators.ZoneMapMeta.load(spark, s"$dir/zone")
    assert(meta.isDefined,
      "a manifest with an empty-string min/max slot must still load")
    assert(meta.get.files.exists(_.sstats.get("s").flatten
      .contains(("", ""))), "the empty-string slot must round-trip")
    // blooms still DROP (only possible when the manifest serves them):
    // k=3 lives in file 1 only; file 2's span [100,107] has no k stats
    // to prune on, so only the bloom can drop it
    val (surv, total) = operators.ZoneMap.pruneFilesTyped(spark,
      s"$dir/zone", Seq.empty, Seq.empty, Seq(("k", Seq("3"))))
    assert(total == 2L && surv.size == 1,
      s"the bloom must drop the non-matching file (kept ${surv.size} of 2)")
    // and the append path's loss-guard stays sighted: an append on this
    // map carries the words instead of refusing or silently dropping
    operators.ZoneMap.appendWithStats(
      spark.range(0, 4).select(lit("y").as("s"), (col("id") + 200).as("k"))
        .coalesce(1),
      s"$dir/data", Seq("s"), s"$dir/zone")
    operators.ZoneMapMeta.invalidate()
    val after = operators.ZoneMapMeta.load(spark, s"$dir/zone")
    assert(after.exists(_.bloomCols == Seq("k")),
      "blooms must survive an append over the empty-string manifest")
    val (surv2, total2) = operators.ZoneMap.pruneFilesTyped(spark,
      s"$dir/zone", Seq.empty, Seq.empty, Seq(("k", Seq("3"))))
    assert(total2 == 3L && surv2.size == 1,
      s"carried words must still drop both non-matching files " +
        s"(kept ${surv2.size} of 3)")
  }

  test("recluster recovers the bloom spec from a STALE-but-parseable " +
    "manifest (the rebuild recomputes every word anyway)") {
    val dir = tmp("stalebloom")
    spark.range(0, 1024).select(
        (col("id") % 32).cast("long").as("a"),
        (col("id") / 32).cast("long").as("b"),
        (col("id") % 7).cast("long").as("c"))
      .repartition(4).write.parquet(s"$dir/data")
    operators.ZoneMap.buildZoneMap(spark, s"$dir/data", Seq("a", "b", "c"),
      s"$dir/zone", bloomCols = Seq("c"), bloomM = 1024, bloomK = 3)
    // crash-degrade: the manifest still PARSES but its recorded
    // signature no longer matches the zone directory (the window
    // between a zone write and its manifest commit)
    val mf = java.nio.file.Paths.get(s"$dir/zone/_ZMMETA")
    val lines = java.nio.file.Files.readAllLines(mf)
    val degraded = new java.util.ArrayList[String]()
    lines.forEach(l => degraded.add(
      if (l.startsWith("sig=")) "sig=deadbeef" else l))
    java.nio.file.Files.write(mf, degraded)
    // drop Hadoop's local-FS checksum sidecar: the out-of-band edit
    // must read as STALE (parseable, wrong signature), not as torn
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(s"$dir/zone/._ZMMETA.crc"))
    operators.ZoneMapMeta.invalidate()
    assert(operators.ZoneMapMeta.load(spark, s"$dir/zone").isEmpty,
      "the degraded manifest must not validate")
    // the sweep's recluster must carry the spec out of the stale
    // manifest — dropping it here would be the silent permanent bloom
    // loss the append path refuses loudly
    val (_, ran) = operators.ZoneMap.reclusterIfDegraded(spark,
      s"$dir/data", s"$dir/zone", "a", "b", maxDriftPpm = 1000L)
    assert(ran, "the interleaved layout must trip the policy")
    operators.ZoneMapMeta.invalidate()
    val meta = operators.ZoneMapMeta.load(spark, s"$dir/zone").get
    assert(meta.bloomCols == Seq("c") && meta.bloomM == 1024 &&
      meta.bloomK == 3,
      s"the rebuilt map must recover the bloom spec, got $meta")
  }

  test("ZoneMapRender twins Spark's cast-to-string exactly; DATE and " +
    "TIMESTAMP blooms skip files in the planner") {
    // ---- parity matrix: the driver rendering IS cast(v as string) ----
    import spark.implicits._
    val days = Seq(0, 1, -1, 10957, -25567, 19000, -141427,
      java.time.LocalDate.of(1, 1, 1).toEpochDay.toInt,
      java.time.LocalDate.of(9999, 12, 31).toEpochDay.toInt)
    val dPairs = days.toDF("d")
      .select(col("d"), expr("cast(date_from_unix_date(d) as string)")
        .as("s")).as[(Int, String)].collect()
    dPairs.foreach { case (d, s) =>
      assert(graft.plans.ZoneMapRender.date(d).contains(s),
        s"date($d) must render as $s, got ${graft.plans.ZoneMapRender.date(d)}")
    }
    assert(graft.plans.ZoneMapRender.date(
      java.time.LocalDate.of(1, 1, 1).toEpochDay.toInt - 1).isEmpty,
      "out-of-range days must decline, never mis-render")
    val micros = Seq(0L, 1L, -1L, 500000L, 123456L, 86400000000L,
      86400000000L + 123000L, -62135596800000000L, 253402300799999999L,
      1234567890123456L, -3600000000L)
    val tPairs = micros.toDF("m")
      .select(col("m"), expr("cast(timestamp_micros(m) as string)")
        .as("s")).as[(Long, String)].collect()
    tPairs.foreach { case (m, s) =>
      assert(graft.plans.ZoneMapRender.timestampUtc(m).contains(s),
        s"ts($m) must render as $s, got " +
          s"${graft.plans.ZoneMapRender.timestampUtc(m)}")
    }
    assert(graft.plans.ZoneMapRender
      .timestampUtc(-62135596800000001L).isEmpty,
      "pre-year-1 micros must decline, never mis-render")
    // ---- end to end: interleaved files, only blooms can separate ----
    val dir = tmp("datebloom")
    val o = spark.range(0, 200).select(
      expr("date_from_unix_date(cast(id as int))").as("d"),
      expr("timestamp_micros(id * 1000000 + 500000)").as("ts"),
      col("id").as("k"))
    (0 to 1).foreach(p => o.filter(col("k") % 2 === p)
      .coalesce(1).write.mode("append").parquet(s"$dir/data"))
    operators.ZoneMap.buildZoneMap(spark, s"$dir/data", Seq("k"),
      s"$dir/zone", bloomCols = Seq("d", "ts"), bloomM = 4096, bloomK = 3)
    val prev = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations =
      prev :+ graft.plans.ZoneMapPrune(spark)
    try {
      graft.plans.ZoneMapCatalog.register(spark, s"$dir/data",
        s"$dir/zone", Seq("k"))
      // date equality (day 3 = odd file only)
      val q = spark.read.parquet(s"$dir/data")
        .filter(col("d") === java.sql.Date.valueOf("1970-01-04"))
      assert(q.inputFiles.length == 1,
        s"a date equality must bloom-skip (${q.inputFiles.length} of 2)")
      assert(q.count() == 1L)
      // 12 date literals: the InSet lowering routes bare epoch-day ints
      // through the attribute's type (all odd days -> odd file only)
      val dates = (0 until 12).map(i =>
        java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(2 * i + 1)))
      val q2 = spark.read.parquet(s"$dir/data")
        .filter(col("d").isin(dates: _*))
      assert(q2.inputFiles.length == 1,
        s"a date InSet must bloom-skip (${q2.inputFiles.length} of 2)")
      assert(q2.count() == 12L)
      // timestamp equality with a fractional second (id 4 -> even file)
      val q3 = spark.read.parquet(s"$dir/data")
        .filter(col("ts") === expr("timestamp_micros(4500000)"))
      assert(q3.inputFiles.length == 1,
        s"a ts equality must bloom-skip (${q3.inputFiles.length} of 2)")
      assert(q3.count() == 1L)
    } finally {
      spark.experimental.extraOptimizations = prev
      graft.plans.ZoneMapCatalog.clear()
    }
    // a TIMESTAMP bloom build refuses under a non-UTC session
    val tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try {
      val err = intercept[IllegalArgumentException] {
        operators.ZoneMap.buildZoneMap(spark, s"$dir/data", Seq("k"),
          s"$dir/zone2", bloomCols = Seq("ts"))
      }
      assert(err.getMessage.contains("UTC"),
        "a non-UTC timestamp bloom build must refuse loudly")
    } finally spark.conf.set("spark.sql.session.timeZone", tz)
  }

  test("count(*) answers from the v4 manifest: covered files from " +
    "metadata (zero jobs when nothing scans), boundary files scan, " +
    "null counts never guessed") {
    val dir = tmp("metacount")
    // 8 deterministic files: file i spans a in [32i, 32i+31], 4 rows
    // per a value; k is NULL on every 4th row (cnt_k < n per file)
    val base = spark.range(0, 1024).select(
      (col("id") % 256).cast("long").as("a"),
      when(col("id") % 4 === 0, lit(null).cast("long"))
        .otherwise(col("id")).as("k"))
    (0 until 8).foreach(i => base
      .filter(col("a") >= i * 32 && col("a") < (i + 1) * 32)
      .coalesce(1).write.mode("append").parquet(s"$dir/data"))
    operators.ZoneMap.buildZoneMap(spark, s"$dir/data", Seq("a", "k"),
      s"$dir/zone")
    val prev = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations =
      prev :+ graft.plans.ZoneMapPrune(spark)
    try {
      graft.plans.ZoneMapCatalog.register(spark, s"$dir/data",
        s"$dir/zone", Seq("a", "k"))
      def cnt(df: org.apache.spark.sql.DataFrame): Long =
        df.agg(count(lit(1)).as("n")).collect().head.getLong(0)
      // (1) unfiltered count(*): pure metadata, no file opened
      val q0 = spark.read.parquet(s"$dir/data").agg(count(lit(1)).as("n"))
      assert(q0.queryExecution.optimizedPlan
        .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical
          .LocalRelation], "an unfiltered count must fold to metadata")
      assert(q0.collect().head.getLong(0) == 1024L)
      // (2) mixed: files 1-2 fully inside [10, 120] answer from
      // metadata, boundary files 0 and 3 scan — and ONLY they open
      val q1 = spark.read.parquet(s"$dir/data")
        .filter(col("a").between(10L, 120L)).agg(count(lit(1)).as("n"))
      val (n1, q1Jobs) = jobsDuring(q1.collect().head.getLong(0))
      assert(n1 == 111L * 4)
      assert(q1.inputFiles.length == 2,
        s"only the two boundary files may open (${q1.inputFiles.length})")
      // the ungrouped boundary merge is ONE aggregate over the boundary
      // scan, no Union leg and no extra exchange: its job count is pinned
      assert(q1Jobs == 3,
        s"an ungrouped boundary merge ran $q1Jobs Spark jobs")
      // (3) a bound on the NULLABLE column: full coverage serves the
      // per-file NON-NULL count (nulls fail the predicate) — zero scan,
      // zero jobs (the marker-job listener pin)
      val q2 = spark.read.parquet(s"$dir/data").filter(col("k") >= 0L)
        .agg(count(lit(1)).as("n"))
      val (n2, countJobs) = jobsDuring(q2.collect().head.getLong(0))
      assert(countJobs == 0,
        s"a pure-metadata count must run zero Spark jobs, saw $countJobs")
      assert(n2 == 768L, s"count must be the non-null count, got $n2")
      // (4) multi-column coverage with NULLS in one column: under the
      // survivor-subset law the null-free column is non-filtering and
      // the single proper subset (cnt_k) answers exactly — were BOTH
      // columns nullable the counts could not compose and the files
      // would scan (pinned in the IS NULL suite's two-subset case)
      val q3 = spark.read.parquet(s"$dir/data")
        .filter(col("a") >= 0L && col("k") >= 0L)
        .agg(count(lit(1)).as("n"))
      assert(q3.collect().head.getLong(0) == 768L)
      // (5) an unrecognized conjunct refuses the arm; the result stays
      // exact through the normal path
      assert(cnt(spark.read.parquet(s"$dir/data")
        .filter(col("a").between(10L, 120L) && col("k") % 2 === 1)) ==
        spark.read.parquet(s"$dir/data")
          .where(col("a").between(10L, 120L) && col("k") % 2 === 1).count())
    } finally {
      spark.experimental.extraOptimizations = prev
      graft.plans.ZoneMapCatalog.clear()
    }
    // (6) a fresh v4 build records every count...
    operators.ZoneMapMeta.invalidate()
    val meta = operators.ZoneMapMeta.load(spark, s"$dir/zone").get
    assert(meta.files.forall(_.cnts.values.forall(_.isDefined)),
      "a fresh v4 build must record every non-null count")
    // ...and (7) the PRE-v4 read path stays alive: downgrade the
    // on-disk manifest to v1 by hand (strip the strs line and the :cnt
    // tokens, same gen/sig) — it must load with every count UNKNOWN,
    // serve IDENTICAL pruning decisions, and the count arm must refuse
    // to guess while the query stays exact
    val (survBefore, totBefore) = operators.ZoneMap.pruneFiles(spark,
      s"$dir/zone", Seq(("a", 10L, 120L)))
    val mf = java.nio.file.Paths.get(s"$dir/zone/_ZMMETA")
    val v1 = new java.util.ArrayList[String]()
    java.nio.file.Files.readAllLines(mf).forEach { l =>
      if (l == "zmmeta v6") v1.add("zmmeta v1")
      else if (l.startsWith("strs=")) () // v1 has no strs line
      else if (l.contains("\t")) {
        val parts = l.split("\t", -1)
        val mid = parts.slice(1, parts.length - 1).map { s =>
          val ts = s.split(":", -1)
          if (ts(0) == "-") "-" // all-null slot loses its cnt/sum in v1
          else s"${ts(0)}:${ts(1)}"
        }
        v1.add((parts.head +: mid :+ parts.last).mkString("\t"))
      } else v1.add(l)
    }
    java.nio.file.Files.write(mf, v1)
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(s"$dir/zone/._ZMMETA.crc"))
    operators.ZoneMapMeta.invalidate()
    val old = operators.ZoneMapMeta.load(spark, s"$dir/zone")
    assert(old.isDefined, "a v1 manifest must still load")
    assert(old.get.files.forall(_.cnts.values.forall(_.isEmpty)),
      "pre-v4 counts are unknown, never guessed")
    assert(operators.ZoneMap.pruneFiles(spark, s"$dir/zone",
      Seq(("a", 10L, 120L))) == ((survBefore, totBefore)),
      "v1 pruning decisions must be identical")
    val prev2 = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations =
      prev2 :+ graft.plans.ZoneMapPrune(spark)
    try {
      graft.plans.ZoneMapCatalog.register(spark, s"$dir/data",
        s"$dir/zone", Seq("a", "k"))
      val q = spark.read.parquet(s"$dir/data")
        .filter(col("a").between(10L, 120L)).agg(count(lit(1)).as("n"))
      assert(q.collect().head.getLong(0) == 111L * 4,
        "an unknown-count manifest must scan, never mis-count")
    } finally {
      spark.experimental.extraOptimizations = prev2
      graft.plans.ZoneMapCatalog.clear()
    }
  }

  test("min/max answer from metadata alongside counts: types " +
    "reconstruct exactly, boundary legs merge via Least/Greatest, and " +
    "other-column nulls force the scan") {
    val dir = tmp("metamm")
    // file i spans a in [32i, 32i+31]; d is the date image of a; st its
    // zero-padded string (binary order == numeric order); k equals a
    // but is NULL wherever a % 4 == 0 (so cnt_k < n in every file)
    val base = spark.range(0, 1024).select(
      (col("id") % 256).cast("long").as("a"),
      expr("date_from_unix_date(cast(id % 256 as int))").as("d"),
      format_string("%03d", col("id") % 256).as("st"),
      when((col("id") % 256) % 4 === 0, lit(null).cast("long"))
        .otherwise(col("id") % 256).as("k"))
    (0 until 8).foreach(i => base
      .filter(col("a") >= i * 32 && col("a") < (i + 1) * 32)
      .coalesce(1).write.mode("append").parquet(s"$dir/data"))
    operators.ZoneMap.buildZoneMap(spark, s"$dir/data",
      Seq("a", "d", "st", "k"), s"$dir/zone")
    def agg0(df: org.apache.spark.sql.DataFrame) = df.agg(
      count(lit(1)).as("n"), min(col("a")).as("mna"),
      max(col("a")).as("mxa"), min(col("d")).as("mnd"),
      max(col("d")).as("mxd"), min(col("st")).as("mns"),
      max(col("st")).as("mxs"))
    def agg1(df: org.apache.spark.sql.DataFrame) = df
      .filter(col("a").between(10L, 120L))
      .agg(min(col("a")).as("mna"), max(col("a")).as("mxa"),
        min(col("k")).as("mnk"), max(col("k")).as("mxk"),
        count(lit(1)).as("n"))
    def agg2(df: org.apache.spark.sql.DataFrame) = df
      .filter(col("k") >= 0L).agg(min(col("a")).as("mna"))
    val raw = spark.read.parquet(s"$dir/data")
    val (d0, d1, d2) =
      (agg0(raw).collect().head, agg1(raw).collect().head,
        agg2(raw).collect().head)
    val prev = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations =
      prev :+ graft.plans.ZoneMapPrune(spark)
    try {
      graft.plans.ZoneMapCatalog.register(spark, s"$dir/data",
        s"$dir/zone", Seq("a", "d", "st", "k"))
      // (1) unfiltered mixed aggregate: pure metadata, exact typed
      // reconstruction (long, DATE, string)
      val q0 = agg0(spark.read.parquet(s"$dir/data"))
      assert(q0.queryExecution.optimizedPlan
        .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical
          .LocalRelation], "an unfiltered min/max/count must fold to " +
        "metadata")
      assert(q0.collect().head == d0,
        "metadata values must equal the direct aggregate")
      // (2) boundary merge: covered files contribute their stats, the
      // two boundary files scan, Least/Greatest combine — and min(k)
      // rides along because the bounded column a has no nulls
      val q1 = agg1(spark.read.parquet(s"$dir/data"))
      assert(q1.collect().head == d1,
        "merged min/max/count must equal the direct aggregate")
      assert(q1.inputFiles.length == 2,
        s"only the boundary files may open (${q1.inputFiles.length})")
      // (3) the flip: the BOUNDED column k has nulls, so min(a) over
      // covered files is not provable from stats — everything scans,
      // the answer stays exact
      val q2 = agg2(spark.read.parquet(s"$dir/data"))
      assert(q2.collect().head == d2,
        "a nullable bounded column must scan, never mis-serve")
    } finally {
      spark.experimental.extraOptimizations = prev
      graft.plans.ZoneMapCatalog.clear()
    }
  }

  test("sum/avg answer from the v5 manifest: exact integer sums merge " +
    "with the boundary scan, no-boundary folds to zero jobs, sum over " +
    "no values is NULL, floats refuse, v4 manifests never guess") {
    val dir = tmp("metasum")
    // file i spans a in [32i, 32i+31], 4 rows per a value; k equals the
    // row id but is NULL on every 4th row (cnt_k < n per file); x is a
    // DOUBLE stat column (sum must refuse it); z is ALWAYS null (sum
    // over zero values is NULL, never 0)
    val base = spark.range(0, 1024).select(
      (col("id") % 256).cast("long").as("a"),
      when(col("id") % 4 === 0, lit(null).cast("long"))
        .otherwise(col("id")).as("k"),
      (col("id") * lit(0.5)).as("x"),
      lit(null).cast("long").as("z"))
    (0 until 8).foreach(i => base
      .filter(col("a") >= i * 32 && col("a") < (i + 1) * 32)
      .coalesce(1).write.mode("append").parquet(s"$dir/data"))
    operators.ZoneMap.buildZoneMap(spark, s"$dir/data",
      Seq("a", "k", "x", "z"), s"$dir/zone")
    def agg0(df: org.apache.spark.sql.DataFrame) = df.agg(
      count(lit(1)).as("n"), sum(col("a")).as("sa"),
      avg(col("a")).as("va"), sum(col("k")).as("sk"),
      avg(col("k")).as("vk"), sum(col("z")).as("sz"),
      avg(col("z")).as("vz"))
    def agg1(df: org.apache.spark.sql.DataFrame) = df
      .filter(col("a").between(10L, 120L))
      .agg(sum(col("a")).as("sa"), avg(col("a")).as("va"),
        count(lit(1)).as("n"), min(col("a")).as("mna"))
    def agg2(df: org.apache.spark.sql.DataFrame) = df
      .filter(col("a").between(32L, 63L)) // exactly file 1: no boundary
      .agg(sum(col("a")).as("sa"), avg(col("a")).as("va"))
    def agg3(df: org.apache.spark.sql.DataFrame) = df
      .agg(sum(col("x")).as("sx")) // DOUBLE: must refuse, stay exact
    val raw = spark.read.parquet(s"$dir/data")
    val (d0, d1, d2, d3) =
      (agg0(raw).collect().head, agg1(raw).collect().head,
        agg2(raw).collect().head, agg3(raw).collect().head)
    val prev = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations =
      prev :+ graft.plans.ZoneMapPrune(spark)
    try {
      graft.plans.ZoneMapCatalog.register(spark, s"$dir/data",
        s"$dir/zone", Seq("a", "k", "x", "z"))
      // (1) unfiltered mixed sums/avgs: pure metadata — including the
      // nullable column (its sum spans only non-null values on both
      // sides) and the all-null column (NULL, never 0)
      val q0 = agg0(spark.read.parquet(s"$dir/data"))
      assert(q0.queryExecution.optimizedPlan
        .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical
          .LocalRelation], "an unfiltered sum/avg must fold to metadata")
      assert(q0.collect().head == d0,
        "metadata sums/avgs must equal the direct aggregate")
      // (2) boundary merge: covered files contribute exact sums, the
      // two boundary files scan, avg merges as one exact division
      val q1 = agg1(spark.read.parquet(s"$dir/data"))
      assert(q1.collect().head == d1,
        "merged sum/avg must equal the direct aggregate")
      assert(q1.inputFiles.length == 2,
        s"only the boundary files may open (${q1.inputFiles.length})")
      // (3) a file-aligned range leaves NO boundary: zero Spark jobs
      // beyond the marker (the listener pin)
      val q2 = agg2(spark.read.parquet(s"$dir/data"))
      val (row2, sumJobs) = jobsDuring(q2.collect().head)
      assert(row2 == d2)
      assert(sumJobs == 0,
        s"a no-boundary sum/avg must run zero Spark jobs, saw $sumJobs")
      // (3b) every file provably disjoint: SQL's one-row rule — a
      // global aggregate over zero rows is ONE row, count 0 and NULL
      // sum/avg/min — folded to metadata, zero Spark jobs
      val qNone = spark.read.parquet(s"$dir/data")
        .filter(col("a") > 1000L)
        .agg(count(lit(1)).as("n"), sum(col("a")).as("sa"),
          avg(col("a")).as("va"), min(col("a")).as("mna"))
      qNone.queryExecution.optimizedPlan match {
        case lr: org.apache.spark.sql.catalyst.plans.logical.LocalRelation =>
          assert(lr.data.length == 1,
            s"an all-disjoint global aggregate is one row, got ${lr.data.length}")
        case other => fail(s"an all-disjoint filter must fold to metadata:\n$other")
      }
      val (rowNone, noneJobs) = jobsDuring(qNone.collect().toSeq)
      assert(rowNone == Seq(org.apache.spark.sql.Row(0L, null, null, null)),
        s"zero matching rows must read (0, null, null, null), got $rowNone")
      assert(noneJobs == 0, s"an all-disjoint fold ran $noneJobs Spark jobs")
      // (4) the float refusal: a DOUBLE column's sum is addition-order-
      // dependent — no manifest slot, no rewrite, result stays exact
      val q3 = agg3(spark.read.parquet(s"$dir/data"))
      assert(!q3.queryExecution.optimizedPlan
        .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical
          .LocalRelation], "a double sum must never answer from metadata")
      assert(q3.collect().head == d3)
    } finally {
      spark.experimental.extraOptimizations = prev
      graft.plans.ZoneMapCatalog.clear()
    }
    // (5) a fresh v5 build records sums for the integral columns and
    // none for the double...
    operators.ZoneMapMeta.invalidate()
    val meta = operators.ZoneMapMeta.load(spark, s"$dir/zone").get
    assert(meta.files.forall(f => f.sums("a").isDefined &&
      f.sums("k").isDefined && f.sums("x").isEmpty),
      "v5 must carry integral sums and no float ones")
    // ...and (6) the v4 read path stays alive: downgrade the on-disk
    // manifest by hand (strip the :sum token, same gen/sig) — it must
    // load with every sum UNKNOWN, still serve metadata COUNTS, and
    // the sum query must scan, never guess
    val mf = java.nio.file.Paths.get(s"$dir/zone/_ZMMETA")
    val v4 = new java.util.ArrayList[String]()
    java.nio.file.Files.readAllLines(mf).forEach { l =>
      if (l == "zmmeta v6") v4.add("zmmeta v4")
      else if (l.contains("\t")) {
        val parts = l.split("\t", -1)
        val mid = parts.slice(1, parts.length - 1).map { s =>
          val ts = s.split(":", -1)
          ts.slice(0, ts.length - 1).mkString(":")
        }
        v4.add((parts.head +: mid :+ parts.last).mkString("\t"))
      } else v4.add(l)
    }
    java.nio.file.Files.write(mf, v4)
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(s"$dir/zone/._ZMMETA.crc"))
    operators.ZoneMapMeta.invalidate()
    val old = operators.ZoneMapMeta.load(spark, s"$dir/zone")
    assert(old.isDefined, "a v4 manifest must still load")
    assert(old.get.files.forall(_.sums.values.forall(_.isEmpty)),
      "pre-v5 sums are unknown, never guessed")
    val prev2 = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations =
      prev2 :+ graft.plans.ZoneMapPrune(spark)
    try {
      graft.plans.ZoneMapCatalog.register(spark, s"$dir/data",
        s"$dir/zone", Seq("a", "k", "x", "z"))
      val qc = spark.read.parquet(s"$dir/data").agg(count(lit(1)).as("n"))
      assert(qc.queryExecution.optimizedPlan
        .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical
          .LocalRelation], "v4 counts must still serve from metadata")
      assert(qc.collect().head.getLong(0) == 1024L)
      val qs = agg1(spark.read.parquet(s"$dir/data"))
      assert(qs.collect().head == d1,
        "an unknown-sum manifest must scan, never mis-serve")
      assert(qs.inputFiles.length > 2,
        "unknown sums must widen to a scan (boundary-only would guess)")
    } finally {
      spark.experimental.extraOptimizations = prev2
      graft.plans.ZoneMapCatalog.clear()
    }
  }

  test("DECIMAL sum/avg/min/max answer from the v6 manifest as exact " +
    "unscaled longs: no-boundary folds to a LocalRelation, the " +
    "boundary merge and the avg division are Spark's own semantics, " +
    "a carried v5 manifest refuses decimal slots (lossy image), and " +
    "a wide decimal refuses at build") {
    import org.apache.spark.sql.types.DecimalType
    val dir = tmp("metadec")
    // file i spans a in [32i, 32i+31]; p = quarter-valued money built
    // from integers (exact at scale 2); pn nulls every 4th row; zd is
    // ALWAYS null (sum/avg over no values must stay NULL, never 0)
    val base = spark.range(0, 1024).select(
      (col("id") % 256).cast("long").as("a"),
      (((col("id") % 1000) * 25) / 100.0).cast(DecimalType(12, 2)).as("p"),
      when(col("id") % 4 === 0, lit(null).cast(DecimalType(12, 2)))
        .otherwise((col("id") * 25 / 100.0).cast(DecimalType(12, 2)))
        .as("pn"),
      lit(null).cast(DecimalType(12, 2)).as("zd"))
    (0 until 8).foreach(i => base
      .filter(col("a") >= i * 32 && col("a") < (i + 1) * 32)
      .coalesce(1).write.mode("append").parquet(s"$dir/data"))
    operators.ZoneMap.buildZoneMap(spark, s"$dir/data",
      Seq("a", "p", "pn", "zd"), s"$dir/zone")
    def agg0(df: org.apache.spark.sql.DataFrame) = df.agg(
      count(lit(1)).as("n"), sum(col("p")).as("sp"), avg(col("p")).as("vp"),
      min(col("p")).as("mnp"), max(col("p")).as("mxp"),
      sum(col("pn")).as("spn"), avg(col("pn")).as("vpn"),
      sum(col("zd")).as("szd"), avg(col("zd")).as("vzd"))
    def agg1(df: org.apache.spark.sql.DataFrame) = df
      .filter(col("a").between(10L, 120L))
      .agg(count(lit(1)).as("n"), sum(col("p")).as("sp"),
        avg(col("pn")).as("vpn"), min(col("p")).as("mnp"))
    val raw = spark.read.parquet(s"$dir/data")
    val (d0, d1) = (agg0(raw).collect().head, agg1(raw).collect().head)
    val prev = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations =
      prev :+ graft.plans.ZoneMapPrune(spark)
    try {
      graft.plans.ZoneMapCatalog.register(spark, s"$dir/data",
        s"$dir/zone", Seq("a", "p", "pn", "zd"))
      // (1) unfiltered: pure metadata — the avg evaluates Spark's OWN
      // average expression over the exact (sum, count) pair at plan
      // time, so the value is bit-identical to the direct aggregate
      val q0 = agg0(spark.read.parquet(s"$dir/data"))
      assert(q0.queryExecution.optimizedPlan
        .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical
          .LocalRelation],
        "an unfiltered decimal sum/avg/min/max must fold to metadata")
      assert(q0.collect().head == d0,
        "metadata decimal aggregates must equal the direct aggregate")
      // (2) boundary merge: covered files contribute exact unscaled
      // sums, the two boundary files scan, the avg merges through
      // Spark's own division
      val q1 = agg1(spark.read.parquet(s"$dir/data"))
      assert(q1.collect().head == d1,
        "merged decimal sum/avg/min must equal the direct aggregate")
      assert(q1.inputFiles.length == 2,
        s"only the boundary files may open (${q1.inputFiles.length})")
    } finally {
      spark.experimental.extraOptimizations = prev
      graft.plans.ZoneMapCatalog.clear()
    }
    // (3) the v5-carry gate: the SAME line format under a v5 magic
    // means "written by a pre-v6 build", whose decimal image was the
    // TRUNCATING cast(long) — decimal outputs must refuse the metadata
    // answer (scan, stay exact) while integral ones keep serving
    val mf = java.nio.file.Paths.get(s"$dir/zone/_ZMMETA")
    val v5 = new java.util.ArrayList[String]()
    java.nio.file.Files.readAllLines(mf).forEach { l =>
      if (l == "zmmeta v6") v5.add("zmmeta v5") else v5.add(l)
    }
    java.nio.file.Files.write(mf, v5)
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(s"$dir/zone/._ZMMETA.crc"))
    operators.ZoneMapMeta.invalidate()
    assert(operators.ZoneMapMeta.load(spark, s"$dir/zone")
      .exists(_.ver == 5), "the downgraded manifest must load as v5")
    val prev2 = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations =
      prev2 :+ graft.plans.ZoneMapPrune(spark)
    try {
      graft.plans.ZoneMapCatalog.register(spark, s"$dir/data",
        s"$dir/zone", Seq("a", "p", "pn", "zd"))
      val qd = spark.read.parquet(s"$dir/data").agg(sum(col("p")).as("sp"))
      assert(!qd.queryExecution.optimizedPlan
        .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical
          .LocalRelation],
        "a v5 manifest's decimal slots are a lossy image: refuse")
      assert(qd.collect().head == raw.agg(sum(col("p")).as("sp"))
        .collect().head, "the refusal must stay exact (full scan)")
      val qa = spark.read.parquet(s"$dir/data").agg(sum(col("a")).as("sa"))
      assert(qa.queryExecution.optimizedPlan
        .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical
          .LocalRelation],
        "integral slots are exact under v5 and must keep serving")
    } finally {
      spark.experimental.extraOptimizations = prev2
      graft.plans.ZoneMapCatalog.clear()
    }
    // (4) wide decimals refuse at BUILD, loudly: a silently truncated
    // image would serve wrong stats later
    val wide = spark.range(0, 16)
      .select(col("id").cast(DecimalType(22, 2)).as("w"))
    wide.write.mode("overwrite").parquet(s"$dir/wdata")
    val e = intercept[IllegalArgumentException] {
      operators.ZoneMap.buildZoneMap(spark, s"$dir/wdata", Seq("w"),
        s"$dir/wzone")
    }
    assert(e.getMessage.contains("UNSCALED"),
      s"the refusal must name the lesson, got: ${e.getMessage}")
  }

  test("IS NULL answers from metadata as the complement count: " +
    "boundary merge holds, edge files resolve exactly, two proper " +
    "subsets refuse, and min/max under an active IS NULL scans") {
    val dir = tmp("metanull")
    // file i spans a in [32i, 32i+31]; k null every 4th row, k2 null
    // every 3rd (a second, differently-patterned nullable), z all-null
    val base = spark.range(0, 1024).select(
      (col("id") % 256).cast("long").as("a"),
      when(col("id") % 4 === 0, lit(null).cast("long"))
        .otherwise(col("id")).as("k"),
      when(col("id") % 3 === 0, lit(null).cast("long"))
        .otherwise(col("id")).as("k2"),
      lit(null).cast("long").as("z"))
    (0 until 8).foreach(i => base
      .filter(col("a") >= i * 32 && col("a") < (i + 1) * 32)
      .coalesce(1).write.mode("append").parquet(s"$dir/data"))
    operators.ZoneMap.buildZoneMap(spark, s"$dir/data",
      Seq("a", "k", "k2", "z"), s"$dir/zone")
    def cntOf(df: org.apache.spark.sql.DataFrame): Long =
      df.agg(count(lit(1)).as("n")).collect().head.getLong(0)
    def isLocal(df: org.apache.spark.sql.DataFrame): Boolean =
      df.agg(count(lit(1)).as("n")).queryExecution.optimizedPlan
        .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical
          .LocalRelation]
    val raw = spark.read.parquet(s"$dir/data")
    val direct = Map(
      "k" -> cntOf(raw.filter(col("k").isNull)),
      "mix" -> cntOf(raw.filter(col("k").isNull &&
        col("a").between(10L, 120L))),
      "z" -> cntOf(raw.filter(col("z").isNull)),
      "a" -> cntOf(raw.filter(col("a").isNull)),
      "kk2" -> cntOf(raw.filter(col("k").isNull && col("k2").isNull)))
    val dMin = raw.filter(col("k").isNull).agg(min(col("a")).as("m"))
      .collect().head
    val dSumK = raw.filter(col("k").isNull).agg(sum(col("k")).as("s"))
      .collect().head
    val prev = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations =
      prev :+ graft.plans.ZoneMapPrune(spark)
    try {
      graft.plans.ZoneMapCatalog.register(spark, s"$dir/data",
        s"$dir/zone", Seq("a", "k", "k2", "z"))
      def q = spark.read.parquet(s"$dir/data")
      // (1) pure IS NULL: n − cnt_k per file, zero scan
      assert(isLocal(q.filter(col("k").isNull)),
        "a pure IS NULL count must fold to metadata")
      assert(cntOf(q.filter(col("k").isNull)) == direct("k"))
      // (2) mixed with a range: covered files serve n − cnt_k (the one
      // proper subset), the two boundary files scan
      val mix = q.filter(col("k").isNull && col("a").between(10L, 120L))
        .agg(count(lit(1)).as("n"))
      assert(mix.collect().head.getLong(0) == direct("mix"))
      assert(mix.inputFiles.length == 2,
        s"only the boundary files may open (${mix.inputFiles.length})")
      // (3) all-null column: every row matches, still pure metadata
      assert(isLocal(q.filter(col("z").isNull)))
      assert(cntOf(q.filter(col("z").isNull)) == direct("z") &&
        direct("z") == 1024L)
      // (4) null-free column: every file provably disjoint, count 0
      assert(isLocal(q.filter(col("a").isNull)))
      assert(cntOf(q.filter(col("a").isNull)) == direct("a") &&
        direct("a") == 0L)
      // (5) TWO proper subsets cannot compose from counts: refuse,
      // scan, stay exact
      assert(cntOf(q.filter(col("k").isNull && col("k2").isNull)) ==
        direct("kk2"))
      // (6) min over ANOTHER column under an active IS NULL: the
      // survivor subset is not the stats' domain — scan, stay exact
      val qMin = q.filter(col("k").isNull).agg(min(col("a")).as("m"))
      assert(!qMin.queryExecution.optimizedPlan
        .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical
          .LocalRelation], "min under an active IS NULL must scan")
      assert(qMin.collect().head == dMin)
      // (7) sum over the IS NULL column ITSELF: survivors are all null
      // in it — NULL from pure metadata, never 0
      val qSum = q.filter(col("k").isNull).agg(sum(col("k")).as("s"))
      assert(qSum.queryExecution.optimizedPlan
        .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical
          .LocalRelation], "sum of the IS NULL column folds to metadata")
      assert(qSum.collect().head == dSumK && dSumK.isNullAt(0))
    } finally {
      spark.experimental.extraOptimizations = prev
      graft.plans.ZoneMapCatalog.clear()
    }
  }

  test("grouped aggregates answer from metadata on clustered layouts: " +
    "single-valued files serve their group's count/sum/avg, mixed " +
    "files scan, the all-covered case folds to zero jobs, and " +
    "refusals stay exact") {
    val dir = tmp("metagrp")
    // files 0..7: single-valued grp = i, a in [32i, 32i+31], 128 rows,
    // w a NON-stat column; file 8: MIXED grp (with NULLs — the null
    // group) and a in [256, 287], disjoint from the others' a-spans
    (0 until 8).foreach(i => spark.range(0, 128).select(
      lit(i.toLong).as("grp"),
      (lit(i * 32) + col("id") % 32).cast("long").as("a"),
      (col("id") * 3).as("w"))
      .coalesce(1).write.mode("append").parquet(s"$dir/data"))
    spark.range(0, 96).select(
      when(col("id") % 8 === 7, lit(null).cast("long"))
        .otherwise(col("id") % 8).as("grp"),
      (lit(256) + col("id") % 32).cast("long").as("a"),
      (col("id") * 3).as("w"))
      .coalesce(1).write.mode("append").parquet(s"$dir/data")
    operators.ZoneMap.buildZoneMap(spark, s"$dir/data", Seq("grp", "a"),
      s"$dir/zone")
    def grouped(df: org.apache.spark.sql.DataFrame) =
      df.groupBy(col("grp")).agg(count(lit(1)).as("n"),
        sum(col("a")).as("s"), avg(col("a")).as("v"))
    val raw = spark.read.parquet(s"$dir/data")
    val dAll = grouped(raw).collect().map(_.toSeq).toSet
    val dCov = grouped(raw.filter(col("a") <= 255L))
      .collect().map(_.toSeq).toSet
    val dW = raw.groupBy(col("grp")).agg(sum(col("w")).as("sw"))
      .collect().map(_.toSeq).toSet
    val prev = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations =
      prev :+ graft.plans.ZoneMapPrune(spark)
    try {
      graft.plans.ZoneMapCatalog.register(spark, s"$dir/data",
        s"$dir/zone", Seq("grp", "a"))
      def q = spark.read.parquet(s"$dir/data")
      // (1) unfiltered count+sum+avg: the 8 single-valued files serve
      // every slot from metadata, ONLY the mixed file scans (its null
      // rows land in the null group through the scan leg, exactly as
      // the direct aggregate; its sums merge by per-group addition)
      val q1 = grouped(q)
      val (rows1, q1Jobs) = jobsDuring(q1.collect())
      assert(rows1.map(_.toSeq).toSet == dAll,
        "merged grouped count/sum/avg must equal the direct aggregate")
      assert(q1.inputFiles.length == 1,
        s"only the mixed file may open (${q1.inputFiles.length})")
      // the grouped boundary merge (scan partials ∪ metadata rows, one
      // per-group aggregate) has its job count pinned
      assert(q1Jobs == 4,
        s"a grouped boundary merge ran $q1Jobs Spark jobs")
      // (2) a bound excluding the mixed file: every surviving file is
      // single-valued and covered — the whole grouped aggregate folds
      // to a LocalRelation, sums and averages included
      val q2 = grouped(q.filter(col("a") <= 255L))
      assert(q2.queryExecution.optimizedPlan
        .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical
          .LocalRelation],
        "an all-covered grouped aggregate must fold to metadata")
      assert(q2.collect().map(_.toSeq).toSet == dCov)
      // (2b) every file provably disjoint: a GROUPED aggregate over zero
      // rows is zero rows (no group exists), folded to metadata
      val qNone = grouped(q.filter(col("a") > 1000L))
      qNone.queryExecution.optimizedPlan match {
        case lr: org.apache.spark.sql.catalyst.plans.logical.LocalRelation =>
          assert(lr.data.isEmpty,
            s"an all-disjoint grouped aggregate has no rows, got ${lr.data}")
        case other => fail(s"an all-disjoint filter must fold to metadata:\n$other")
      }
      assert(qNone.collect().isEmpty)
      // (3) refusal: a grouped sum over a NON-stat column — the
      // manifest has no slot for it; unrewritten, exact
      val q3 = q.groupBy(col("grp")).agg(sum(col("w")).as("sw"))
      assert(!q3.queryExecution.optimizedPlan
        .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical
          .LocalRelation])
      assert(q3.collect().map(_.toSeq).toSet == dW)
      // (4) refusal: grouping by a NON-stat column — unrewritten, exact
      val dfExpr = q.select(col("grp"), (col("a") % 2).as("par"))
      val dPar = dfExpr.groupBy(col("par")).agg(count(lit(1)).as("n"))
        .collect().map(_.toSeq).toSet
      val q4 = dfExpr.groupBy(col("par")).agg(count(lit(1)).as("n"))
      assert(q4.collect().map(_.toSeq).toSet == dPar)
    } finally {
      spark.experimental.extraOptimizations = prev
      graft.plans.ZoneMapCatalog.clear()
    }
  }

  test("DECIMAL bounds prune files in the planner (v6 unscaled stats): " +
    "range/strict/IN/coerced-int literals extract at the column scale, " +
    "the aggregate gate composes, and an inexact scale refuses") {
    import org.apache.spark.sql.types.DecimalType
    val dir = tmp("decprune")
    def d2(cents: Long) = lit(java.math.BigDecimal.valueOf(cents, 2))
    // file i: price in [100·i, 100·i + 99.75] (quarter steps), 8 files
    (0 until 8).foreach(i => spark.range(0, 400).select(
      ((lit(10000 * i) + (col("id") % 400) * 25) / 100.0)
        .cast(DecimalType(12, 2)).as("price"),
      col("id").as("v"))
      .coalesce(1).write.mode("append").parquet(s"$dir/data"))
    operators.ZoneMap.buildZoneMap(spark, s"$dir/data", Seq("price", "v"),
      s"$dir/zone")
    val raw = spark.read.parquet(s"$dir/data")
    val prev = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations =
      prev :+ graft.plans.ZoneMapPrune(spark)
    try {
      graft.plans.ZoneMapCatalog.register(spark, s"$dir/data",
        s"$dir/zone", Seq("price", "v"))
      def q = spark.read.parquet(s"$dir/data")
      // (1) a decimal range opens only the intersecting files
      val r1 = q.filter(col("price") >= d2(25000) &&
        col("price") <= d2(45000))
      val e1 = raw.filter(col("price") >= d2(25000) &&
        col("price") <= d2(45000)).collect().map(_.toSeq).toSet
      assert(r1.collect().map(_.toSeq).toSet == e1)
      assert(r1.inputFiles.length == 3,
        s"250.00..450.00 spans files 2,3,4 (${r1.inputFiles.length})")
      // (2) strict bounds are exact in unscaled space (±1 on cents):
      // > 199.75 excludes file 1 entirely
      val r2 = q.filter(col("price") > d2(19975) &&
        col("price") < d2(30000))
      val e2 = raw.filter(col("price") > d2(19975) &&
        col("price") < d2(30000)).collect().map(_.toSeq).toSet
      assert(r2.collect().map(_.toSeq).toSet == e2)
      assert(r2.inputFiles.length == 1,
        s"strict bounds must open exactly file 2 (${r2.inputFiles.length})")
      // (3) a coerced INT literal (scale 0 → rescales exactly)
      val r3 = q.filter(col("price") >= lit(700))
      val e3 = raw.filter(col("price") >= lit(700))
        .collect().map(_.toSeq).toSet
      assert(r3.collect().map(_.toSeq).toSet == e3)
      assert(r3.inputFiles.length == 1)
      // (4) sparse IN: the per-literal union opens one file per value
      val r4 = q.filter(col("price").isin(
        java.math.BigDecimal.valueOf(25025, 2),
        java.math.BigDecimal.valueOf(61250, 2)))
      val e4 = raw.filter(col("price").isin(
        java.math.BigDecimal.valueOf(25025, 2),
        java.math.BigDecimal.valueOf(61250, 2)))
        .collect().map(_.toSeq).toSet
      assert(r4.collect().map(_.toSeq).toSet == e4)
      assert(r4.inputFiles.length == 2,
        s"two sparse values open two files (${r4.inputFiles.length})")
      // (5) the aggregate gate composes: a file-aligned decimal range
      // folds count+sum(price) to a zero-scan LocalRelation
      val r5 = q.filter(col("price").between(d2(20000), d2(39975)))
        .agg(count(lit(1)).as("n"), sum(col("price")).as("sp"))
      val e5 = raw.filter(col("price").between(d2(20000), d2(39975)))
        .agg(count(lit(1)).as("n"), sum(col("price")).as("sp"))
        .collect().head
      assert(r5.queryExecution.optimizedPlan
        .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical
          .LocalRelation],
        "a file-aligned decimal range must fold the aggregate")
      assert(r5.collect().head == e5)
      // (6) a FINER-scaled literal: Spark's own
      // UnwrapCastInBinaryComparison resolves the cast-wrapped column
      // BEFORE this rule runs (a provably-false equality folds to an
      // empty relation; a finer bound rounds to the column's scale) —
      // the two rules COMPOSE, and whatever shape survives unwrapping
      // either extracts at the column scale or stays in the residual
      val r6 = q.filter(col("price") ===
        lit(new java.math.BigDecimal("250.005")))
      assert(r6.count() == 0L,
        "an unrepresentable equality is provably empty")
      val r7 = q.filter(col("price") >=
        lit(new java.math.BigDecimal("699.995")))
      val e7 = raw.filter(col("price") >=
        lit(new java.math.BigDecimal("699.995")))
        .collect().map(_.toSeq).toSet
      assert(r7.collect().map(_.toSeq).toSet == e7)
      assert(r7.inputFiles.length <= 1,
        s"the unwrapped rounded bound still prunes " +
          s"(${r7.inputFiles.length})")
    } finally {
      spark.experimental.extraOptimizations = prev
      graft.plans.ZoneMapCatalog.clear()
    }
  }

  test("multi-key grouped metadata aggregates (the TPC-H Q1 shape): " +
    "string pair keys, grouped min/max, decimal sum/avg, the NULL " +
    "group from an all-null-key file, and the refusals") {
    import org.apache.spark.sql.types.DecimalType
    val dir = tmp("metaq1")
    val flags = Seq("A", "N", "R")
    val stats = Seq("F", "O")
    def block(f: String, st: Option[String], n: Int, odBase: String) =
      spark.range(0, n).select(
        lit(f).as("flag"),
        st.map(lit(_)).getOrElse(lit(null).cast("string")).as("st"),
        (col("id") % 50 + 1).cast("long").as("qty"),
        ((col("id") % 400) * 25 / 100.0).cast(DecimalType(12, 2))
          .as("price"),
        date_add(lit(java.sql.Date.valueOf(odBase)),
          (col("id") % 20).cast("int")).as("od"))
    // one file per (flag, st) pair — single-valued in BOTH keys
    for (f <- flags; st <- stats)
      block(f, Some(st), 96, "1995-03-01")
        .coalesce(1).write.mode("append").parquet(s"$dir/data")
    // an ALL-null-st file: its rows belong to (A, NULL) — served
    block("A", None, 64, "1995-06-01")
      .coalesce(1).write.mode("append").parquet(s"$dir/data")
    // a MIXED file (several flags, some null st), od in 1999: boundary
    spark.range(0, 80).select(
      element_at(array(lit("A"), lit("N"), lit("R")),
        (col("id") % 3 + 1).cast("int")).as("flag"),
      when(col("id") % 7 === 0, lit(null).cast("string"))
        .otherwise(element_at(array(lit("F"), lit("O")),
          (col("id") % 2 + 1).cast("int"))).as("st"),
      (col("id") % 50 + 1).cast("long").as("qty"),
      ((col("id") % 400) * 25 / 100.0).cast(DecimalType(12, 2))
        .as("price"),
      date_add(lit(java.sql.Date.valueOf("1999-01-01")),
        (col("id") % 20).cast("int")).as("od"))
      .coalesce(1).write.mode("append").parquet(s"$dir/data")
    operators.ZoneMap.buildZoneMap(spark, s"$dir/data",
      Seq("flag", "st", "qty", "price", "od"), s"$dir/zone")
    def q1(df: org.apache.spark.sql.DataFrame) =
      df.groupBy(col("flag"), col("st")).agg(count(lit(1)).as("n"),
        sum(col("qty")).as("sq"), sum(col("price")).as("sp"),
        avg(col("price")).as("vp"), min(col("od")).as("mnd"),
        max(col("price")).as("mxp"))
    val raw = spark.read.parquet(s"$dir/data")
    val dAll = q1(raw).collect().map(_.toSeq).toSet
    val dCov = q1(raw.filter(col("od") < lit(java.sql.Date
      .valueOf("1999-01-01")))).collect().map(_.toSeq).toSet
    val prev = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations =
      prev :+ graft.plans.ZoneMapPrune(spark)
    try {
      graft.plans.ZoneMapCatalog.register(spark, s"$dir/data",
        s"$dir/zone", Seq("flag", "st", "qty", "price", "od"))
      def q = spark.read.parquet(s"$dir/data")
      // (1) unfiltered: the 6 pair files AND the all-null-st file serve
      // every slot (count, long sum, decimal sum/avg through Spark's
      // own division, date min, decimal max); only the mixed file scans
      val r1 = q1(q)
      assert(r1.collect().map(_.toSeq).toSet == dAll,
        "multi-key grouped metadata must equal the direct aggregate")
      assert(r1.inputFiles.length == 1,
        s"only the mixed file may open (${r1.inputFiles.length})")
      // (2) excluding the mixed file by its od span: zero-scan fold,
      // with the (A, NULL) group served purely from metadata
      val r2 = q1(q.filter(col("od") < lit(java.sql.Date
        .valueOf("1999-01-01"))))
      assert(r2.queryExecution.optimizedPlan
        .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical
          .LocalRelation],
        "all-covered multi-key grouping must fold to metadata")
      assert(r2.collect().map(_.toSeq).toSet == dCov)
      assert(r2.collect().exists(r => r.getString(0) == "A" && r.isNullAt(1)),
        "the all-null-key file must serve the NULL group")
      // (3) refusal: grouped min over a column under an ACTIVE IS NULL
      // on another column forces the file to prove the other column
      // all-null — mixed files scan, result stays exact
      val dIs = raw.filter(col("st").isNull).groupBy(col("flag"))
        .agg(count(lit(1)).as("n"), min(col("qty")).as("mq"))
        .collect().map(_.toSeq).toSet
      val r3 = q.filter(col("st").isNull).groupBy(col("flag"))
        .agg(count(lit(1)).as("n"), min(col("qty")).as("mq"))
      assert(r3.collect().map(_.toSeq).toSet == dIs,
        "IS NULL + grouped min must stay exact")
    } finally {
      spark.experimental.extraOptimizations = prev
      graft.plans.ZoneMapCatalog.clear()
    }
  }

  test("monotone expression group keys: trunc/date_trunc/year serve " +
    "from mapped bounds, month refuses the 13-month wrap, and a " +
    "non-whitelisted expression refuses") {
    val dir = tmp("metamonth")
    // one file per month for 1995-01..1995-06 (od spans stay INSIDE
    // the month: day 3 + id%20 ≤ day 22), plus a WRAP file whose od
    // runs 1995-03-15..1996-03-10 — month(od) is 3 at BOTH ends but
    // not constant, so the (year, month) witness must boundary-scan
    // it; ts is od's midnight timestamp twin (UTC session)
    def block(base: String, spanDays: Int, n: Int) =
      spark.range(0, n).select(
        date_add(lit(java.sql.Date.valueOf(base)),
          (col("id") % spanDays).cast("int")).as("od"),
        (col("id") % 100).cast("long").as("v"))
        .select(col("od"), col("od").cast("timestamp").as("ts"), col("v"))
    (1 to 6).foreach(m => block(f"1995-$m%02d-03", 20, 64)
      .coalesce(1).write.mode("append").parquet(s"$dir/data"))
    block("1995-03-15", 361, 64)
      .coalesce(1).write.mode("append").parquet(s"$dir/data")
    val dir3 = s"$dir/data"
    operators.ZoneMap.buildZoneMap(spark, dir3, Seq("od", "ts", "v"),
      s"$dir/zone3")
    val raw = spark.read.parquet(dir3)
    def byTrunc(df: org.apache.spark.sql.DataFrame) =
      df.groupBy(trunc(col("od"), "mm").as("m"))
        .agg(count(lit(1)).as("n"), sum(col("v")).as("sv"))
    def byYear(df: org.apache.spark.sql.DataFrame) =
      df.groupBy(year(col("od")).as("y")).agg(count(lit(1)).as("n"))
    def byDt(df: org.apache.spark.sql.DataFrame) =
      df.groupBy(date_trunc("month", col("ts")).as("m"))
        .agg(sum(col("v")).as("sv"))
    def byDom(df: org.apache.spark.sql.DataFrame) =
      df.groupBy(dayofmonth(col("od")).as("d"))
        .agg(count(lit(1)).as("n"))
    val (dT, dY, dD, dDom) = (
      byTrunc(raw).collect().map(_.toSeq).toSet,
      byYear(raw).collect().map(_.toSeq).toSet,
      byDt(raw).collect().map(_.toSeq).toSet,
      byDom(raw).collect().map(_.toSeq).toSet)
    val prev = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations =
      prev :+ graft.plans.ZoneMapPrune(spark)
    try {
      graft.plans.ZoneMapCatalog.register(spark, dir3, s"$dir/zone3",
        Seq("od", "ts", "v"))
      def q = spark.read.parquet(dir3)
      // (1) trunc(od, 'mm'): the month files serve, the wrap/tail file
      // scans; values equal the direct aggregate
      val r1 = byTrunc(q)
      assert(r1.collect().map(_.toSeq).toSet == dT,
        "trunc-month grouping must equal the direct aggregate")
      assert(r1.inputFiles.length < raw.inputFiles.length,
        "single-month files must serve from metadata (strict subset)")
      // (2) year(od) and date_trunc('month', ts) both rewrite
      assert(byYear(q).collect().map(_.toSeq).toSet == dY)
      assert(byDt(q).collect().map(_.toSeq).toSet == dD)
      // (3) dayofmonth is NOT a whitelisted mapping (not constant on
      // any month span): unrewritten, exact
      val r4 = byDom(q)
      assert(!r4.queryExecution.optimizedPlan
        .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical
          .LocalRelation])
      assert(r4.inputFiles.length == raw.inputFiles.length,
        "a non-whitelisted expression key must scan everything")
      assert(r4.collect().map(_.toSeq).toSet == dDom)
    } finally {
      spark.experimental.extraOptimizations = prev
      graft.plans.ZoneMapCatalog.clear()
    }
  }

  test("a recognized-but-unmaterializable bound refuses the metadata " +
    "answer: the strict Long.MaxValue edge never mis-counts") {
    // the r18 ADVICE medium: `a > Long.MaxValue` passes the gate's
    // shape recognition but the harvest has no v+1 to emit — the
    // column lands UNCONSTRAINED in the coverage test, so every file
    // read as "covered" and the metadata count served cnt_a (1024)
    // where the true answer is 0. The harvest-derived `dropped` bit
    // now refuses the arm; the unrewritten scan stays exact.
    val dir = tmp("metadrop")
    val base = spark.range(0, 1024).select(col("id").as("a"))
    (0 until 4).foreach(i => base
      .filter(col("a") >= i * 256 && col("a") < (i + 1) * 256)
      .coalesce(1).write.mode("append").parquet(s"$dir/data"))
    operators.ZoneMap.buildZoneMap(spark, s"$dir/data", Seq("a"),
      s"$dir/zone")
    val prev = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations =
      prev :+ graft.plans.ZoneMapPrune(spark)
    try {
      graft.plans.ZoneMapCatalog.register(spark, s"$dir/data",
        s"$dir/zone", Seq("a"))
      val strict = spark.read.parquet(s"$dir/data")
        .filter(col("a") > lit(Long.MaxValue)).agg(count(lit(1)).as("n"))
      assert(strict.collect().head.getLong(0) == 0L,
        "a dropped strict edge bound must refuse the metadata count")
      // the materializable twin still serves: >= MaxValue lands a real
      // bound, every file is provably disjoint, zero-row LocalRelation
      val incl = spark.read.parquet(s"$dir/data")
        .filter(col("a") >= lit(Long.MaxValue)).agg(count(lit(1)).as("n"))
      assert(incl.queryExecution.optimizedPlan
        .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical
          .LocalRelation], "an all-disjoint bound must fold to metadata")
      assert(incl.collect().head.getLong(0) == 0L)
      // and the strict edge must not have poisoned file PRUNING either
      // (drops only widen there): a normal strict bound still answers
      val mid = spark.read.parquet(s"$dir/data")
        .filter(col("a") > lit(511L)).agg(count(lit(1)).as("n"))
      assert(mid.collect().head.getLong(0) == 512L)
    } finally {
      spark.experimental.extraOptimizations = prev
      graft.plans.ZoneMapCatalog.clear()
    }
  }

  test("a held append claim fails a concurrent append loudly") {
    val dir = tmp("claim")
    val half1 = spark.range(0, 64).select(
      col("id").as("a"), (col("id") * 2).as("b"))
    ZoneMap.writeZOrdered(half1, s"$dir/data", s"$dir/zone", "a", "b",
      bits = 8, partitions = 2)
    // simulate a concurrent (or crashed) appender's claim
    val claim = new java.io.File(s"$dir/data/_zm_append.lock")
    assert(claim.createNewFile())
    val err = intercept[IllegalStateException] {
      ZoneMap.appendWithStats(half1, s"$dir/data", Seq("a", "b"),
        s"$dir/zone")
    }
    assert(err.getMessage.contains("claim already held"),
      "an interleaved append must fail loudly, never mis-attribute files")
    // releasing the claim lets the append proceed, and it cleans up after
    assert(claim.delete())
    ZoneMap.appendWithStats(half1, s"$dir/data", Seq("a", "b"), s"$dir/zone")
    assert(!claim.exists(), "the append must release its claim")
    val full = spark.read.parquet(s"$dir/data").count()
    assert(full == 128L, "both halves must have landed")
  }
}
