package graft

import org.apache.spark.sql.catalyst.expressions.{AttributeReference, In}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.plans.logical.Filter
import org.apache.spark.sql.functions._

import graft.operators.ZoneMap
import graft.plans.{RuntimeFilterJoin, ZoneMapCatalog, ZoneMapPrune}

/** Pins the planner-injected runtime filter ([[RuntimeFilterJoin]]):
  * (1) the law — the reduced join EQUALS the unreduced join, both for
  * the exact IN injection and the false-positive-only bloom injection;
  * (2) the plan shape — the predicate lands in a Filter directly above
  * the fact side, where the parquet translation and [[ZoneMapPrune]]
  * read it, and composes into FILE skipping on a registered layout;
  * (3) the measured reduction at the fact scan; (4) the refusals
  * (disabled, unfiltered dim, oversized dim); (5) plan-time cost —
  * the dim harvest is one job, memoized across plans.
  */
class RuntimeFilterSpec extends SparkSpec {

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_rf_$tag").toString

  /** fact: 8 files, file i holds k in [32i, 32i+31], 16 rows per k;
    * dim: one row per key 0..255 with band = key % 64. */
  private def fixture(dir: String): Unit = {
    val fact = spark.range(0, 4096).select(
      (col("id") % 256).cast("long").as("k"), col("id").as("v"))
    (0 until 8).foreach(i => fact
      .filter(col("k") >= i * 32 && col("k") < (i + 1) * 32)
      .coalesce(1).write.mode("append").parquet(s"$dir/fact"))
    ZoneMap.buildZoneMap(spark, s"$dir/fact", Seq("k"), s"$dir/zone")
    spark.range(0, 256).select(col("id").as("dk"),
      (col("id") % 64).as("band")).coalesce(1).write.parquet(s"$dir/dim")
  }

  private def withRules[T](extra: Boolean = true)(body: => T): T = {
    val prev = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations =
      prev :+ RuntimeFilterJoin(spark) :+ ZoneMapPrune(spark)
    spark.conf.set("spark.graft.runtimeFilters.enabled", "true")
    try body
    finally {
      spark.experimental.extraOptimizations = prev
      spark.conf.unset("spark.graft.runtimeFilters.enabled")
      spark.conf.unset("spark.graft.runtimeFilters.maxInKeys")
      spark.conf.unset("spark.graft.runtimeFilters.maxDimBytes")
      ZoneMapCatalog.clear()
    }
  }

  test("IN injection: reduced join equals plain join, the predicate " +
    "reaches the fact scan, and zone-map FILE skipping composes") {
    val dir = tmp("in")
    fixture(dir)
    // band 7 keeps dk in {7, 71, 135, 199} -> fact files 0, 2, 4, 6
    def query() = spark.read.parquet(s"$dir/fact")
      .join(spark.read.parquet(s"$dir/dim").filter(col("band") === 7),
        col("k") === col("dk"))
      .groupBy(col("dk"))
      .agg(sum(col("v")).as("sv"), count(lit(1)).as("n"))
    val plain = query().collect().map(_.toSeq).toSet
    withRules() {
      ZoneMapCatalog.register(spark, s"$dir/fact", s"$dir/zone", Seq("k"))
      val q = query()
      assert(q.collect().map(_.toSeq).toSet == plain,
        "the reduced join must equal the unreduced join")
      // the injected IN sits in a Filter on the fact side (4 literals)
      val ins = q.queryExecution.optimizedPlan.collect {
        case f: Filter => f.condition.collect {
          case In(a: AttributeReference, vs) if a.name == "k" => vs.length
        }
      }.flatten
      assert(ins == Seq(4),
        s"expected one injected 4-key IN on the fact side, got $ins")
      // composition: the per-literal survivor union opens the 4 files
      val factFiles = q.inputFiles.count(_.contains("/fact/"))
      assert(factFiles == 4,
        s"IN + zone map must open only the keys' files ($factFiles of 8)")
    }
  }

  test("BLOOM injection (forced): equality law, the single-md5 probe in the " +
    "plan, measured row reduction at the fact side") {
    val dir = tmp("bloom")
    fixture(dir)
    def query() = spark.read.parquet(s"$dir/fact")
      .join(spark.read.parquet(s"$dir/dim").filter(col("band") === 7),
        col("k") === col("dk"))
      .groupBy(col("dk"))
      .agg(sum(col("v")).as("sv"), count(lit(1)).as("n"))
    val plain = query().collect().map(_.toSeq).toSet
    withRules() {
      spark.conf.set("spark.graft.runtimeFilters.maxInKeys", "0")
      val q = query()
      assert(q.collect().map(_.toSeq).toSet == plain,
        "false positives only: the bloom-reduced join must equal the " +
          "plain join")
      val bloomFilter = q.queryExecution.optimizedPlan.collectFirst {
        case f: Filter if f.condition.exists {
          case si: StaticInvoke => si.functionName == "probe"
          case _ => false
        } => f
      }
      assert(bloomFilter.isDefined,
        "the bloom predicate must land in a Filter (the BloomKm probe)")
      // measured reduction: re-execute exactly the injected filter
      // fragment — of 4096 fact rows only the 64 true matches (plus
      // any bloom false positives) survive
      val kept = spark.sessionState.executePlan(bloomFilter.get)
        .executedPlan.executeCollect().length
      assert(kept >= 64 && kept <= 128,
        s"the bloom must keep the 64 joining rows and little else ($kept)")
    }
  }

  test("LEFT SEMI reduces the probe side; null fact keys drop exactly " +
    "as the join drops them") {
    val dir = tmp("semi")
    fixture(dir)
    // fact twin with a null-keyed row (null never joins; the injected
    // IN evaluates null -> filter drops it, same as the semi join)
    spark.sql("SELECT CAST(NULL AS BIGINT) AS k, CAST(-1 AS BIGINT) AS v")
      .coalesce(1).write.mode("append").parquet(s"$dir/fact2")
    spark.read.parquet(s"$dir/fact").write.mode("append")
      .parquet(s"$dir/fact2")
    def query() = spark.read.parquet(s"$dir/fact2")
      .join(spark.read.parquet(s"$dir/dim").filter(col("band") === 7),
        col("k") === col("dk"), "left_semi")
    val plain = query().collect().map(_.toSeq).toSet
    withRules() {
      val q = query()
      assert(q.collect().map(_.toSeq).toSet == plain,
        "the reduced semi join must equal the plain semi join")
      val hasIn = q.queryExecution.optimizedPlan.exists {
        case f: Filter => f.condition.exists {
          case In(a: AttributeReference, _) => a.name == "k"
          case _ => false
        }
        case _ => false
      }
      assert(hasIn, "the semi join's probe side must carry the IN")
    }
  }

  test("a composite equi-key injects one predicate per column, and a " +
    "star join lands one filter per dim") {
    val dir = tmp("multi")
    spark.range(0, 4096).select((col("id") % 256).cast("long").as("k"),
      (col("id") % 13).cast("long").as("k2"), col("id").as("v"))
      .coalesce(2).write.parquet(s"$dir/fact")
    spark.range(0, 256).select(col("id").as("dk"),
      (col("id") % 13).as("dk2"), (col("id") % 64).as("band"))
      .coalesce(1).write.parquet(s"$dir/dim")
    spark.range(0, 13).select(col("id").as("dk2b"),
      (col("id") % 4).as("band2")).coalesce(1).write.parquet(s"$dir/dim2")
    def ins(df: org.apache.spark.sql.DataFrame): Set[(String, Int)] =
      df.queryExecution.optimizedPlan.collect {
        case f: Filter => f.condition.collect {
          case In(a: AttributeReference, vs) => (a.name, vs.length)
        }
      }.flatten.toSet
    // composite key: band 7 keeps dk {7,71,135,199}, whose dk2 images
    // {7,6,5,4} — BOTH columns' key sets inject
    def comp() = spark.read.parquet(s"$dir/fact")
      .join(spark.read.parquet(s"$dir/dim").filter(col("band") === 7),
        col("k") === col("dk") && col("k2") === col("dk2"))
    val plainComp = comp().collect().map(_.toSeq).toSet
    withRules() {
      val q = comp()
      assert(q.collect().map(_.toSeq).toSet == plainComp,
        "the doubly-reduced composite join must equal the plain join")
      assert(ins(q) == Set(("k", 4), ("k2", 4)),
        s"both key columns must inject their key sets, got ${ins(q)}")
    }
    // star: each dim contributes its own filter onto the same fact
    def star() = spark.read.parquet(s"$dir/fact")
      .join(spark.read.parquet(s"$dir/dim").filter(col("band") === 7),
        col("k") === col("dk"))
      .join(spark.read.parquet(s"$dir/dim2").filter(col("band2") === 3),
        col("k2") === col("dk2b"))
    val plainStar = star().collect().map(_.toSeq).toSet
    withRules() {
      val q = star()
      assert(q.collect().map(_.toSeq).toSet == plainStar,
        "the star-reduced join must equal the plain join")
      // band2 = 3 keeps dim2 keys {3, 7, 11}
      assert(ins(q) == Set(("k", 4), ("k2", 3)),
        s"each dim must land its filter, got ${ins(q)}")
    }
  }

  test("refusals: disabled by default, unfiltered dim, oversized dim — " +
    "and a filtered-to-EMPTY dim injects false (exact)") {
    val dir = tmp("refuse")
    fixture(dir)
    def q(dimFilter: Option[org.apache.spark.sql.Column]) = {
      val dim = spark.read.parquet(s"$dir/dim")
      spark.read.parquet(s"$dir/fact")
        .join(dimFilter.map(dim.filter).getOrElse(dim),
          col("k") === col("dk"))
    }
    def injectedIn(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.optimizedPlan.exists {
        case f: Filter => f.condition.exists {
          case In(a: AttributeReference, _) => a.name == "k"
          case _ => false
        }
        case _ => false
      }
    // disabled: the rule is registered but the conf gate is off
    val prev = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations =
      prev :+ RuntimeFilterJoin(spark)
    try assert(!injectedIn(q(Some(col("band") === 7))),
      "without the conf opt-in the rule must be inert")
    finally spark.experimental.extraOptimizations = prev
    withRules() {
      // a dim with no real filter (IsNotNull does not count) reduces
      // nothing worth a plan-time job
      assert(!injectedIn(q(None)), "an unfiltered dim must not inject")
      // oversized dim refuses
      spark.conf.set("spark.graft.runtimeFilters.maxDimBytes", "1")
      assert(!injectedIn(q(Some(col("band") === 7))),
        "an oversized dim must not inject")
      spark.conf.unset("spark.graft.runtimeFilters.maxDimBytes")
      // a NON-DETERMINISTIC dim refuses: the plan-time harvest and the
      // runtime execution could see DIFFERENT rows, and a key set
      // missing a runtime key would wrongly drop its fact rows
      assert(!injectedIn(q(Some(col("band") === 7 && rand(42) < 0.9999))),
        "a non-deterministic dim must not inject")
      // a filtered-to-empty dim is an exact empty join: literal false
      val empty = q(Some(col("band") === 999))
      assert(empty.count() == 0L)
    }
  }

  test("the BLOOM path composes with zone-map FILE skipping: the key " +
    "set hands to the manifest directly, survivors only open, the " +
    "residual stays, and an unregistered fact is predicate-only") {
    val dir = tmp("bloomzm")
    fixture(dir)
    def query() = spark.read.parquet(s"$dir/fact")
      .join(spark.read.parquet(s"$dir/dim").filter(col("band") === 7),
        col("k") === col("dk"))
      .groupBy(col("dk"))
      .agg(sum(col("v")).as("sv"), count(lit(1)).as("n"))
    val plain = query().collect().map(_.toSeq).toSet
    withRules() {
      spark.conf.set("spark.graft.runtimeFilters.maxInKeys", "0")
      // registered layout: band 7's keys {7,71,135,199} live in files
      // 0,2,4,6 — the bloom path must open exactly those
      ZoneMapCatalog.register(spark, s"$dir/fact", s"$dir/zone", Seq("k"))
      val q = query()
      assert(q.collect().map(_.toSeq).toSet == plain,
        "the file-skipped bloom join must equal the plain join")
      val hasProbe = q.queryExecution.optimizedPlan.exists {
        case f: Filter => f.condition.exists {
          case si: StaticInvoke => si.functionName == "probe"
          case _ => false
        }
        case _ => false
      }
      assert(hasProbe, "the probe residual must stay above the pruned scan")
      val factFiles = q.inputFiles.count(_.contains("/fact/"))
      assert(factFiles == 4,
        s"bloom + zone map must open only the keys' files ($factFiles of 8)")
    }
    // unregistered: the predicate still injects, every file opens
    withRules() {
      spark.conf.set("spark.graft.runtimeFilters.maxInKeys", "0")
      val q = query()
      assert(q.collect().map(_.toSeq).toSet == plain)
      assert(q.inputFiles.count(_.contains("/fact/")) == 8,
        "without a registration the bloom path is predicate-only")
    }
    // an EMPTY intersection (dim keys outside every file's span) swaps
    // the scan for an empty relation — zero fact files open
    spark.sql("SELECT CAST(9999 AS BIGINT) AS dk, CAST(7 AS BIGINT) AS band")
      .coalesce(1).write.mode("append").parquet(s"$dir/dim")
    def miss() = spark.read.parquet(s"$dir/fact")
      .join(spark.read.parquet(s"$dir/dim")
        .filter(col("band") === 7 && col("dk") > 5000),
        col("k") === col("dk"))
    val plainMiss = miss().count()
    withRules() {
      spark.conf.set("spark.graft.runtimeFilters.maxInKeys", "0")
      ZoneMapCatalog.register(spark, s"$dir/fact", s"$dir/zone", Seq("k"))
      val q = miss()
      assert(q.count() == plainMiss && plainMiss == 0L)
      assert(q.inputFiles.count(_.contains("/fact/")) == 0,
        "a keyless span set must open zero fact files")
    }
  }

  test("an IN past ZoneMapPrune's per-literal cap still FILE-skips " +
    "via the direct hand-off (the 257..maxInKeys band)") {
    val dir = tmp("bigin")
    // 16 files, file i holds k in [64i, 64i+63]; the dim filter keeps
    // 320 keys in four bands — (k % 256) < 80 — whose [min,max]
    // ENVELOPE spans 14 of 16 files while the true per-key survivor
    // set is 8: only the direct hand-off (sorted keys + binary search)
    // can tell them apart, because 320 literals exceed InUnionCap
    val fact = spark.range(0, 4096).select(
      (col("id") % 1024).cast("long").as("k"), col("id").as("v"))
    (0 until 16).foreach(i => fact
      .filter(col("k") >= i * 64 && col("k") < (i + 1) * 64)
      .coalesce(1).write.mode("append").parquet(s"$dir/fact"))
    ZoneMap.buildZoneMap(spark, s"$dir/fact", Seq("k"), s"$dir/zone")
    spark.range(0, 1024).select(col("id").as("dk"),
      ((col("id") % 256) < 80).as("sel"))
      .coalesce(1).write.parquet(s"$dir/dim")
    def query() = spark.read.parquet(s"$dir/fact")
      .join(spark.read.parquet(s"$dir/dim").filter(col("sel")),
        col("k") === col("dk"))
      .groupBy(col("dk")).agg(sum(col("v")).as("sv"))
    val plain = query().collect().map(_.toSeq).toSet
    withRules() {
      ZoneMapCatalog.register(spark, s"$dir/fact", s"$dir/zone", Seq("k"))
      val q = query()
      assert(q.collect().map(_.toSeq).toSet == plain,
        "the file-skipped big-IN join must equal the plain join")
      val factFiles = q.inputFiles.count(_.contains("/fact/"))
      assert(factFiles == 8,
        s"the hand-off must open the 8 true survivor files, not the " +
          s"14-file envelope ($factFiles of 16)")
    }
  }

  test("widening-cast equi-pairs inject on the BARE fact column: keys " +
    "render through the cast inverse, unmatchable keys drop, dim-side " +
    "casts widen forward, lossy casts refuse") {
    val dir = tmp("cast")
    // INT fact key — the real-schema norm `cast(ki as bigint) = dk`
    spark.range(0, 4096).select(
      (col("id") % 256).cast("int").as("ki"), col("id").as("v"))
      .coalesce(2).write.parquet(s"$dir/fact")
    // LONG dim keys; band 7 keeps {7, 71, 135, 199} PLUS a value
    // outside int range — unmatchable through the widening, dropped
    spark.range(0, 256).select(col("id").as("dk"),
      (col("id") % 64).as("band"))
      .union(spark.sql(
        "SELECT CAST(5000000000 AS BIGINT), CAST(7 AS BIGINT)"))
      .coalesce(1).write.parquet(s"$dir/dim")
    def ins(df: org.apache.spark.sql.DataFrame)
        : Seq[(String, org.apache.spark.sql.types.DataType, Int)] =
      df.queryExecution.optimizedPlan.collect {
        case f: Filter => f.condition.collect {
          case In(a: AttributeReference, vs) => (a.name, a.dataType, vs.length)
        }
      }.flatten
    def query() = spark.read.parquet(s"$dir/fact")
      .join(spark.read.parquet(s"$dir/dim").filter(col("band") === 7),
        col("ki") === col("dk")) // coercion casts the INT fact side up
    val plain = query().collect().map(_.toSeq).toSet
    withRules() {
      val q = query()
      assert(q.collect().map(_.toSeq).toSet == plain,
        "the cast-unwrapped reduction must equal the plain join")
      assert(ins(q) ==
        Seq(("ki", org.apache.spark.sql.types.IntegerType, 4)),
        s"expected a 4-key INT IN on the bare fact column, got ${ins(q)}")
    }
    // dim-side cast: a SHORT dim key widens FORWARD onto the long fact
    spark.range(0, 4096).select((col("id") % 256).as("k"),
      col("id").as("v")).coalesce(2).write.parquet(s"$dir/fact2")
    spark.range(0, 64).select(col("id").cast("short").as("dks"),
      (col("id") % 16).as("band")).coalesce(1).write.parquet(s"$dir/dim2")
    def query2() = spark.read.parquet(s"$dir/fact2")
      .join(spark.read.parquet(s"$dir/dim2").filter(col("band") === 3),
        col("k") === col("dks")) // coercion casts the SHORT dim side up
    val plain2 = query2().collect().map(_.toSeq).toSet
    withRules() {
      val q = query2()
      assert(q.collect().map(_.toSeq).toSet == plain2)
      assert(ins(q) == Seq(("k", org.apache.spark.sql.types.LongType, 4)),
        s"the dim keys must widen onto the bare fact key, got ${ins(q)}")
    }
    // date fact key = timestamp dim key (UTC session): midnight dim
    // keys render back to days, non-midnight ones are unmatchable
    spark.range(0, 1024).select(
      expr("date_from_unix_date(cast(id % 32 as int))").as("d"),
      col("id").as("v")).coalesce(2).write.parquet(s"$dir/fact3")
    spark.sql(
      """SELECT * FROM VALUES
        |  (TIMESTAMP '1970-01-03 00:00:00', 1),
        |  (TIMESTAMP '1970-01-05 00:00:00', 1),
        |  (TIMESTAMP '1970-01-05 12:30:00', 1),
        |  (TIMESTAMP '1975-01-01 00:00:00', 2)
        |AS t(dts, band)""".stripMargin)
      .coalesce(1).write.parquet(s"$dir/dim3")
    def query3() = spark.read.parquet(s"$dir/fact3")
      .join(spark.read.parquet(s"$dir/dim3").filter(col("band") === 1),
        col("d") === col("dts")) // coercion casts the DATE side up
    val plain3 = query3().collect().map(_.toSeq).toSet
    withRules() {
      val q = query3()
      assert(q.collect().map(_.toSeq).toSet == plain3)
      assert(ins(q) == Seq(("d", org.apache.spark.sql.types.DateType, 2)),
        s"midnight keys render to days, the 12:30 one drops, got ${ins(q)}")
    }
    // LOSSY refusal: a hand-built NARROWING cast never unwraps — the
    // user asked for a truncating join and the rule must leave it alone
    val f2 = spark.read.parquet(s"$dir/fact2")
    val d1 = spark.read.parquet(s"$dir/dim2")
      .filter(col("band") === 3).select(col("dks").cast("int").as("dki"))
    def lossy() = f2.join(d1, f2("k").cast("int") === d1("dki"))
    val plainLossy = lossy().count()
    withRules() {
      val q = lossy()
      assert(q.count() == plainLossy)
      assert(ins(q).isEmpty,
        s"a narrowing cast must refuse injection, got ${ins(q)}")
    }
  }

  test("a single-pair LEFT SEMI with an exact IN harvest ELIMINATES " +
    "the join, the metadata-aggregate arm answers above it, and the " +
    "bloom / multi-conjunct shapes keep the join") {
    val dir = tmp("semielim")
    fixture(dir)
    def hasJoin(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.optimizedPlan.exists {
        case _: org.apache.spark.sql.catalyst.plans.logical.Join => true
        case _ => false
      }
    // (1) spanning files: elimination leaves an aggregate over
    // Filter(IN, scan), and the per-literal file skipping opens only
    // the 4 files whose span holds a dim key (sum(v) is not a stat
    // column here, so the aggregate itself stays a scan — the
    // metadata-served variant is section 2)
    def semiAgg() = spark.read.parquet(s"$dir/fact")
      .join(spark.read.parquet(s"$dir/dim").filter(col("band") === 7),
        col("k") === col("dk"), "left_semi")
      .agg(count(lit(1)).as("n"), sum(col("v")).as("sv"))
    val plain = semiAgg().collect().head
    withRules() {
      ZoneMapCatalog.register(spark, s"$dir/fact", s"$dir/zone", Seq("k"))
      val q = semiAgg()
      assert(!hasJoin(q), "the exact-IN semi join must be eliminated")
      assert(q.collect().head == plain,
        "the eliminated semi must equal the real semi join")
      assert(q.inputFiles.count(_.contains("/fact/")) == 4,
        "only files whose span holds a dim key may open")
    }
    // (2) single-valued files: every file either serves (its one key
    // is a member) or is per-literal disjoint — the whole aggregate
    // over what WAS a join folds to a zero-scan LocalRelation
    val f2 = spark.range(0, 512).select(
      (col("id") % 8).cast("long").as("k"), col("id").as("v"))
    (0 until 8).foreach(i => f2.filter(col("k") === i)
      .coalesce(1).write.mode("append").parquet(s"$dir/fact2"))
    ZoneMap.buildZoneMap(spark, s"$dir/fact2", Seq("k", "v"),
      s"$dir/zone2")
    spark.range(0, 16).select(col("id").as("dk"),
      (col("id") % 4).as("band")).coalesce(1).write.parquet(s"$dir/dim2")
    def semiAgg2() = spark.read.parquet(s"$dir/fact2")
      .join(spark.read.parquet(s"$dir/dim2").filter(col("band") === 3),
        col("k") === col("dk"), "left_semi")
      .agg(count(lit(1)).as("n"), sum(col("v")).as("sv"),
        min(col("v")).as("mnv"), max(col("k")).as("mxk"))
    val plain2 = semiAgg2().collect().head
    withRules() {
      ZoneMapCatalog.register(spark, s"$dir/fact2", s"$dir/zone2",
        Seq("k", "v"))
      val q2 = semiAgg2()
      assert(q2.queryExecution.optimizedPlan
        .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical
          .LocalRelation],
        "single-valued member files + disjoint rest must fold the " +
          "post-elimination aggregate to metadata")
      assert(q2.collect().head == plain2)
    }
    // (3) a second conjunct keeps the join (the filter alone is not
    // the semi semantics), and the bloom path keeps it (false
    // positives would add rows with no join to re-check)
    def semiTwo() = spark.read.parquet(s"$dir/fact")
      .join(spark.read.parquet(s"$dir/dim").filter(col("band") === 7),
        col("k") === col("dk") && col("v") >= col("dk"), "left_semi")
      .agg(count(lit(1)).as("n"))
    val plainTwo = semiTwo().collect().head
    withRules() {
      val qt = semiTwo()
      assert(hasJoin(qt), "a multi-conjunct semi must keep the join")
      assert(qt.collect().head == plainTwo)
      spark.conf.set("spark.graft.runtimeFilters.maxInKeys", "0")
      val qb = semiAgg()
      assert(hasJoin(qb), "the bloom path must keep the join")
      assert(qb.collect().head == plain)
    }
  }

  test("a date→timestamp equi-cast carrying a NON-UTC zone refuses " +
    "injection even after the session moves to UTC (ADVICE r19: the " +
    "cast node's own timeZoneId is resolved at analysis and may " +
    "disagree with the session the rule runs under)") {
    val dir = tmp("casttz")
    spark.range(0, 1024).select(
      expr("date_from_unix_date(cast(id % 32 as int))").as("d"),
      col("id").as("v")).coalesce(2).write.parquet(s"$dir/fact")
    spark.sql(
      """SELECT * FROM VALUES
        |  (TIMESTAMP '1970-01-03 00:00:00', 1),
        |  (TIMESTAMP '1975-01-01 00:00:00', 2)
        |AS t(dts, band)""".stripMargin)
      .coalesce(1).write.parquet(s"$dir/dim")
    def query() = spark.read.parquet(s"$dir/fact")
      .join(spark.read.parquet(s"$dir/dim").filter(col("band") === 1),
        col("d") === col("dts")) // coercion casts the DATE side up
    def ins(df: org.apache.spark.sql.DataFrame): Seq[Int] =
      df.queryExecution.optimizedPlan.collect {
        case f: Filter => f.condition.collect {
          case In(a: AttributeReference, vs) if a.name == "d" => vs.length
        }
      }.flatten
    val prevTz = spark.conf.get("spark.sql.session.timeZone")
    try {
      // ANALYZE under a non-UTC zone: the Cast(d as timestamp) node
      // pins timeZoneId = LA at construction (Datasets analyze eagerly)
      spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
      val q = query()
      // ... then OPTIMIZE under UTC: the session gate alone would now
      // pass, but the cast's own zone says its semantics are not the
      // days·MICROS_PER_DAY mapping convertKeys inverts — refuse
      spark.conf.set("spark.sql.session.timeZone", prevTz)
      withRules() {
        assert(ins(q).isEmpty,
          s"a non-UTC cast must refuse injection, got ${ins(q)}")
        // and a UTC-analyzed twin of the same query still injects
        val ok = query()
        assert(ins(ok) == Seq(1),
          s"the UTC-analyzed twin must inject its one key, got ${ins(ok)}")
      }
    } finally spark.conf.set("spark.sql.session.timeZone", prevTz)
  }

  test("the dim harvest is ONE plan-time job, memoized: a repeated " +
    "plan optimizes with zero jobs") {
    val dir = tmp("memo")
    fixture(dir)
    withRules() {
      def query() = spark.read.parquet(s"$dir/fact")
        .join(spark.read.parquet(s"$dir/dim").filter(col("band") === 9),
          col("k") === col("dk"))
      RuntimeFilterJoin.harvestRuns.set(0)
      query().queryExecution.optimizedPlan // first plan: pays the job
      assert(RuntimeFilterJoin.harvestRuns.get() == 1,
        s"first plan must harvest once, ran ${RuntimeFilterJoin.harvestRuns.get()}")
      // build the frame BEFORE the window: spark.read.parquet runs
      // schema-inference jobs that are not the planner's to answer for
      val q2 = query()
      val (injected, replanJobs) = jobsDuring {
        q2.queryExecution.optimizedPlan.exists {
          case f: Filter => f.condition.exists {
            case In(a: AttributeReference, _) => a.name == "k"
            case _ => false
          }
          case _ => false
        }
      }
      assert(injected, "the repeated plan must still get the filter")
      assert(RuntimeFilterJoin.harvestRuns.get() == 1,
        s"the re-plan must hit the memo, ran " +
          s"${RuntimeFilterJoin.harvestRuns.get()} harvests")
      assert(replanJobs == 0,
        s"a memoized harvest must re-plan with zero jobs, saw $replanJobs")
    }
  }
}
