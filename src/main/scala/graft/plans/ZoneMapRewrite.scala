package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Add, Alias, Attribute, AttributeReference, Cast, CheckOverflow, Coalesce, Divide, EqualTo, EvalMode, Expression, GreaterThan, GreaterThanOrEqual, If, In, InSet, IsNotNull, LessThan, LessThanOrEqual, Literal, NamedExpression, Or}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Average, Count, Sum}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, LocalRelation, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.types.{ByteType, DateType, Decimal, DecimalType, DoubleType, IntegerType, LongType, ShortType, StringType, TimestampType}

import graft.operators.{ZoneMap, ZoneMapMeta}

/** PLANNER-INTEGRATED ZONE-MAP PRUNING — the q322 rewrite pattern one
  * operator down the stack: [[ZoneMap.prunedRead]] skips files, but
  * only when called explicitly; a plain `spark.read.parquet(path)
  * .filter(range)` over the same data scanned everything. This rule
  * makes the engine's best scan primitive something users get FOR
  * FREE: register `(dataPath, zonePath, statCols)` once, and every
  * `Filter(range-conjunction, scan)` over that path rewrites to a scan
  * of only the files whose min/max stats intersect the range — the
  * file-skipping every lakehouse planner does from its table format's
  * stats (Delta/Iceberg data skipping), expressed over the engine's own
  * zone-map table.
  *
  * CONSERVATIVE, like the MV rewrites — a rewrite must never change
  * semantics:
  *  - only bounds derivable from top-level CONJUNCTS of the filter are
  *    used for pruning (`>=`, `>`, `<=`, `<`, `=` against integral
  *    literals, either operand order, with at most a widening cast on
  *    the column; `IN` lists — and their `InSet` lowering — by their
  *    [min, max] envelope; STRING stat columns by binary-collation
  *    bounds, inclusive on strict comparisons); every OTHER conjunct
  *    is simply not a pruning bound — dropping conjuncts only WIDENS
  *    the surviving file set, so partial extraction stays sound;
  *  - when the `_ZMMETA` manifest validates, the envelope decision is
  *    REFINED by per-disjunct and per-IN-literal survivor-set UNIONS
  *    ([[survivorSet]]): `d BETWEEN jan OR d BETWEEN dec` opens the
  *    two seasons' files (not everything between), and a sparse
  *    `k IN (...)` over a clustered key opens ~|literals| files — each
  *    union of false-positive-only sets is false-positive-only, and
  *    legs compose by intersection, so the law below is unchanged;
  *  - BLOOM columns ([[ZoneMap.buildZoneMap]]'s `bloomCols`,
  *    discovered from the map's own `_ZMMETA` manifest) additionally
  *    drop files whose per-file filter proves an equality/IN value
  *    ABSENT — the skipping min/max structurally cannot express (a
  *    value inside a file's span but not in the file); false-positive
  *    only, so pruned + residual stays ≡ full scan + filter;
  *  - the ORIGINAL filter is kept above the pruned scan as the
  *    residual (file stats admit false positives, never false
  *    negatives — the [[ZoneMap]] law, so pruned + residual ≡ full
  *    scan + filter, which is exactly what the q329 oracle hash-proves);
  *  - FRESHNESS: every file the relation would scan must be DESCRIBED
  *    by the zone map ([[ZoneMap.appendWithStats]] keeps it so); a
  *    landed file the map has never seen refuses the rewrite (logged) —
  *    skipping an undescribed file would be a wrong answer, the same
  *    reachable-stale window the MV rewrites guard with [[graft
  *    .operators.BaseFiles]];
  *  - output attribute ids are PRESERVED via aliases, so parents (the
  *    residual filter included) resolve unchanged.
  *
  * Cost at plan time: ONE cached metadata read — the [[graft.operators
  * .ZoneMapMeta]] `_ZMMETA` manifest, validated by directory signature
  * and held in a process-wide cache, answers freshness AND pruning with
  * zero Spark jobs (pre-manifest maps fall back to the zone-table scan,
  * authoritative either way). At 100 TB the win is the scan itself: a
  * 2-D range over a z-ordered layout opens ~the answer's worth of files
  * instead of the corpus's.
  */
object ZoneMapCatalog {

  case class ZmEntry(dataPaths: Set[String], zonePath: String,
                     statCols: Seq[String])

  private val reg = scala.collection.mutable.ArrayBuffer.empty[ZmEntry]

  /** Register the zone map at `zonePath` (built by
    * [[ZoneMap.buildZoneMap]] / [[ZoneMap.writeZOrdered]] over
    * `dataPath` with `statCols`) for automatic filter-time pruning.
    * Loud when `dataPath` is not a readable parquet relation.
    */
  def register(spark: SparkSession, dataPath: String, zonePath: String,
               statCols: Seq[String]): Unit = {
    require(statCols.nonEmpty, "register needs at least one stat column")
    val paths = AggStoreRewrite.relationPaths(
      spark.read.parquet(dataPath).queryExecution.analyzed)
      .getOrElse(throw new IllegalArgumentException(
        s"not a readable parquet relation: $dataPath"))
    synchronized { reg += ZmEntry(paths, zonePath, statCols) }
  }

  def clear(): Unit = synchronized { reg.clear() }

  def entries: Seq[ZmEntry] = synchronized { reg.toList }

  /** A planner registration doubles as the SWEEP registry: every entry
    * with at least two stat columns becomes a [[graft.operators
    * .Maintenance.ZoneMapT]] recluster target (the drift statistic is
    * 2-D — the first two stat columns are the cluster pair, matching
    * [[graft.operators.ZoneMap.writeZOrdered]]'s signature). Skipped —
    * a registry must never enroll a target whose inspection would
    * throw: single-column registrations (pruning-only), multi-root
    * ones (a recluster overwrites ONE directory), entries whose first
    * two stat columns are not both integer-image (string stats are
    * prune-only — no span arithmetic, no cluster dimension), and
    * entries whose manifest does not currently validate (the column
    * TYPES are only knowable from it; the next mutation restores the
    * manifest and the entry re-enrolls). Register those with the sweep
    * explicitly if they need a cadence.
    */
  def zoneTargetsFromCatalog(spark: SparkSession)
      : Seq[graft.operators.Maintenance.ZoneMapT] =
    entries.collect {
      case e if e.statCols.length >= 2 && e.dataPaths.size == 1 &&
          graft.operators.ZoneMapMeta.load(spark, e.zonePath).exists(m =>
            !m.strCols.contains(e.statCols(0)) &&
              !m.strCols.contains(e.statCols(1))) =>
        graft.operators.Maintenance.ZoneMapT(PathNorm.norm(e.dataPaths.head),
          e.zonePath, e.statCols(0), e.statCols(1))
    }.distinct
}

object ZoneMapPrune {
  /** Per-literal IN refinement cap: past this the union is
    * O(|literals|·|files|) driver compute for a list whose envelope is
    * near-exact anyway (sparse lists are the win; dense runs of
    * adjacent values ARE their envelope). */
  private[plans] val InUnionCap = 256

  /** IN-conjunct cap for the metadata-AGGREGATE gate — higher than
    * [[InUnionCap]] because the per-file test here is one binary
    * search over the sorted literals (O(|files|·log|literals|)), not a
    * per-literal prune pass; sized to [[RuntimeFilterJoin]]'s default
    * `maxInKeys`, whose injected (and semi-join-eliminating) IN is
    * exactly the conjunct this gate exists to answer through. */
  private[plans] val AggInCap = 4096
}

case class ZoneMapPrune(spark: SparkSession) extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (ZoneMapCatalog.entries.isEmpty) return plan
    // a REWRITE must never fail a query that would succeed unrewritten:
    // any contract violation the prune path surfaces loudly when called
    // explicitly (pruneTyped's described/typed requires) degrades HERE
    // to "no rewrite" — the unpruned scan is always correct, and the
    // warning keeps the refusal observable instead of silent.
    // metadata AGGREGATES rewrite top-DOWN first (the Aggregate must be
    // seen while its child Filter is still the raw scan shape — after
    // the bottom-up file-prune pass the child is already rewritten and
    // the strictly-better metadata answer would be lost); whatever the
    // aggregate arm leaves alone still gets file pruning below.
    val counted = plan.transformDown {
      case agg @ Aggregate(gs, outs, child, _) =>
        try aggFromMeta(gs, outs, child).getOrElse(agg)
        catch {
          case scala.util.control.NonFatal(e) =>
            log.warn(s"zone-map metadata aggregate skipped (rewrite must " +
              s"not fail the query): ${e.getMessage}")
            agg
        }
    }
    counted.transformUp {
      case f @ Filter(cond, rel: LogicalRelation) =>
        try prune(cond, rel).getOrElse(f)
        catch {
          case scala.util.control.NonFatal(e) =>
            log.warn(s"zone-map prune skipped (rewrite must not fail " +
              s"the query): ${e.getMessage}")
            f
        }
    }
  }

  /** The first FRESH path-matching registration for `rel`, its
    * (possibly absent) validated manifest, and the relation's landed
    * files — the shared entry-resolution for the filter-prune and
    * metadata-aggregate arms. ONE manifest load per candidate path (each a
    * cache hit after the first query): freshness, bloom columns, and
    * pruning all read it. Freshness = every landed file is DESCRIBED
    * (an undescribed file would be silently skipped), answered from the
    * manifest when one validates, the zone TABLE otherwise.
    */
  private def freshEntry(rel: LogicalRelation)
      : Option[(ZoneMapCatalog.ZmEntry, Option[ZoneMapMeta.Meta],
                Seq[String])] = {
    val relPaths = AggStoreRewrite.pathsOf(rel)
    val candidates = ZoneMapCatalog.entries.distinct.filter(e =>
      PathNorm.pathsEqual(relPaths, e.dataPaths))
    if (candidates.isEmpty) return None
    val relFiles = rel.relation match {
      case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
        fs.location.inputFiles.toSeq
      case _ => Seq.empty
    }
    val metaCache = scala.collection.mutable.Map
      .empty[String, Option[ZoneMapMeta.Meta]]
    def metaOf(e: ZoneMapCatalog.ZmEntry): Option[ZoneMapMeta.Meta] =
      metaCache.getOrElseUpdate(e.zonePath,
        ZoneMapMeta.load(spark, e.zonePath))
    def isFresh(e: ZoneMapCatalog.ZmEntry): Boolean = {
      val described = metaOf(e) match {
        case Some(meta) => meta.files.map(f => PathNorm.norm(f.file)).toSet
        case None => spark.read.parquet(e.zonePath)
          .select(org.apache.spark.sql.functions.col("file"))
          .collect().map(r => PathNorm.norm(r.getString(0))).toSet
      }
      relFiles.nonEmpty &&
        relFiles.forall(f => described.contains(PathNorm.norm(f)))
    }
    candidates.find(isFresh) match {
      case Some(e) => Some((e, metaOf(e), relFiles))
      case None =>
        log.warn(
          s"zone-map rewrite refused: ${relPaths.mkString(",")} has " +
            s"landed files not described by any of ${candidates
              .map(_.zonePath).mkString(",")} — scanning all; " +
            "appendWithStats the new files (or register the rebuilt " +
            "map) to restore skipping")
        None
    }
  }

  /** The rewritten Filter (residual kept, scan pruned), or None when the
    * shape, freshness, or skipping potential says leave it alone.
    * Candidate resolution iterates ALL path-matching registrations and
    * takes the first FRESH one (the [[JoinViewRewrite]] house gotcha:
    * a rebuilt zone map registered without clearing must not let the
    * stale registration pin a refusal forever). The manifest is loaded
    * ONCE per candidate (memoized below — it answers freshness, bloom
    * discovery, and every survivor evaluation); when it validates the
    * whole decision is driver-side metadata, ZERO zone-table scans per
    * planned query, and the survivor set composes the envelope with
    * per-disjunct and per-IN-literal UNION refinements
    * ([[survivorSet]]). The zone TABLE is the authoritative fallback
    * for pre-manifest maps — envelope-only there (the refinements need
    * the cached per-file stats; a table scan per disjunct would be
    * plan-time jobs, the very cost the manifest removed).
    */
  private def prune(cond: Expression,
                    rel: LogicalRelation): Option[LogicalPlan] = {
    val (entry, meta, _) = freshEntry(rel).getOrElse(return None)
    meta match {
      case Some(meta) =>
        survivorSet(cond, rel, entry.statCols, meta).flatMap { surv =>
          if (surv.size >= meta.files.size) None // nothing skipped
          else if (surv.isEmpty)
            Some(LocalRelation(rel.output)) // provably empty, no read
          else rebuild(rel, surv.toSeq.sorted).map(Filter(cond, _))
        }
      case None =>
        // pre-manifest (or crash-degraded) map: the zone-TABLE path —
        // envelope bounds only; blooms live only in the manifest, so
        // none apply here (widening-only degradation, never wrong).
        // Dropped bounds are fine HERE: pruning only widens on a drop.
        val hb = extractBounds(cond, rel, entry.statCols)
        val (bounds, sBounds) = (hb.longB, hb.strB)
        if (bounds.isEmpty && sBounds.isEmpty) return None
        val preds = bounds.toSeq.map { case (c, (lo, hi)) => (c, lo, hi) }
        val strPreds = sBounds.toSeq.map { case (c, (lo, hi)) =>
          (c, lo, hi) }
        val (survivors, total) =
          ZoneMap.pruneFilesTyped(spark, entry.zonePath, preds, strPreds)
        if (survivors.size >= total) None // nothing skipped: no churn
        else if (survivors.isEmpty)
          Some(LocalRelation(rel.output)) // provably empty, no read
        else rebuild(rel, survivors).map(Filter(cond, _)) // residual kept
    }
  }

  /** The bounds [[aggGate]] accepted, per stat column. `inSets`
    * carries each long-image column's IN-conjunct literal
    * sets (sorted, stat unit, intersected when a column has several):
    * the per-file refinement a span test cannot make — a single-valued
    * file whose value is NOT a member is provably disjoint even when
    * the value sits inside the list's envelope. This is what lets an
    * aggregate above a [[RuntimeFilterJoin]]-eliminated semi join
    * ("sum of revenue for these 39 parts") answer from metadata. */
  private case class AggGate(
      bounds: Map[String, (Long, Long)],
      sBounds: Map[String, (Option[String], Option[String])],
      notNullCols: Set[String], isNullCols: Set[String],
      inSets: Map[String, Array[Long]] = Map.empty)

  /** The metadata-aggregate arm's conjunct gate: EVERY filter
    * conjunct must be a recognized bound (range/equality on a stat
    * column, `IsNotNull` as the full-range bound, `IsNull` as the
    * complement conjunct) AND every recognized bound must have
    * MATERIALIZED in the harvest ([[Harvested.dropped]]) — one opaque
    * or dropped conjunct and a covered file can no longer be proven
    * all-match. None = refuse the whole metadata answer.
    */
  private def aggGate(condOpt: Option[Expression], rel: LogicalRelation,
                      ex: Extract, statCols: Seq[String]): Option[AggGate] = {
    val conjs = condOpt.map(conjunctsOf).getOrElse(Seq.empty)
    val notNullCols = scala.collection.mutable.Set.empty[String]
    // `c IS NULL` conjuncts — answerable from the manifest COUNTS
    // alone: a file's matching rows w.r.t. the conjunct are its
    // `n − cnt_c` null rows (no span arithmetic involved); cnt == n is
    // a provably-disjoint file, unknown counts boundary-scan
    val isNullCols = scala.collection.mutable.Set.empty[String]
    def longBound(x: Expression, l: Expression): Boolean =
      ex.statName(x).exists(cd => ex.litVal(l, cd._2).isDefined)
    def strBound(x: Expression, l: Expression): Boolean =
      ex.sStatName(x).isDefined && ex.sLitVal(l).isDefined
    def anyBound(a: Expression, b: Expression): Boolean =
      longBound(a, b) || longBound(b, a) || strBound(a, b) || strBound(b, a)
    // IN/InSet conjuncts on long-image stat columns (identity unit
    // only — a cross-unit point set's per-literal ceil/floor emptiness
    // is not worth the subtlety): the sorted literal set refines the
    // per-file coverage test; several sets on one column intersect
    val inSets = scala.collection.mutable.Map.empty[String, Array[Long]]
    def addIn(c: String, vals: Seq[Long]): Unit = {
      val sorted = vals.distinct.sorted.toArray
      inSets(c) = inSets.get(c) match {
        case Some(prev) => // both conjuncts must hold: intersect
          val p = prev.toSet
          sorted.filter(p.contains)
        case None => sorted
      }
    }
    val allRecognized = conjs.forall {
      case IsNotNull(a: AttributeReference) =>
        ex.statName(a).map(_._1).orElse(ex.sStatName(a)) match {
          case Some(c) => notNullCols += c; true
          case None => false
        }
      case org.apache.spark.sql.catalyst.expressions
          .IsNull(a: AttributeReference) =>
        ex.statName(a).map(_._1).orElse(ex.sStatName(a)) match {
          case Some(c) => isNullCols += c; true
          case None => false
        }
      case GreaterThanOrEqual(a, b) => anyBound(a, b)
      case LessThanOrEqual(a, b) => anyBound(a, b)
      case EqualTo(a, b) => anyBound(a, b)
      // STRICT comparisons: exact on integers (±1), but a string
      // strict bound widens to inclusive in the envelope — a widened
      // bound may claim full coverage a strict predicate does not have
      case GreaterThan(a, b) =>
        longBound(a, b) || longBound(b, a)
      case LessThan(a, b) =>
        longBound(a, b) || longBound(b, a)
      case In(a, vs) if vs.nonEmpty &&
          vs.length <= ZoneMapPrune.AggInCap &&
          vs.forall(_.isInstanceOf[Literal]) =>
        ex.statName(a) match {
          case Some((c, cc)) if ex.identityConv(cc) &&
              vs.forall(l => ex.litVal(l, cc).isDefined) =>
            addIn(c, vs.map(l => ex.litVal(l, cc).get)); true
          case _ => false
        }
      case InSet(a, hset) if hset.nonEmpty &&
          hset.size <= ZoneMapPrune.AggInCap =>
        ex.statName(a) match {
          case Some((c, cc)) if ex.identityConv(cc) &&
              hset.forall(v => ex.rawVal(v, cc).isDefined) =>
            addIn(c, hset.toSeq.map(v => ex.rawVal(v, cc).get)); true
          case _ => false
        }
      case _ => false
    }
    if (!allRecognized) return None
    val hb = condOpt
      .map(extractBounds(_, rel, statCols))
      .getOrElse(Harvested(Map.empty, Map.empty, dropped = false))
    // the honesty bit: a conjunct the gate above RECOGNIZED but the
    // harvest could not MATERIALIZE (strict bound at the Long edge,
    // cross-unit conversion overflow) leaves its column unconstrained
    // in the coverage test — a "covered" file could then contribute
    // rows the dropped conjunct actually excludes. Refuse the whole
    // metadata answer; the unrewritten aggregate is always correct.
    if (hb.dropped) None
    else Some(AggGate(hb.longB, hb.strB, notNullCols.toSet,
      isNullCols.toSet, inSets.toMap))
  }

  /** The stat-unit long back to the column's ORIGINAL internal value
    * (epoch days stay int, micros stay long, integrals narrow,
    * decimals reconstruct from the unscaled long — all lossless, the
    * values came from that very column under a ver ≥ 6 manifest). */
  private def internalOf(v: Long,
                         dt: org.apache.spark.sql.types.DataType): Any =
    dt match {
      case ByteType => v.toByte
      case ShortType => v.toShort
      case IntegerType | DateType => v.toInt
      case d: DecimalType =>
        Decimal(BigDecimal(java.math.BigDecimal.valueOf(v, d.scale)),
          d.precision, d.scale)
      case _ => v
    }

  /** `Sum(decimal(p, s))`'s result type — Spark's
    * `DecimalType.bounded(p + 10, s)`, the type the merge legs and
    * reconstructed metadata sums must carry. */
  private def sumDecType(d: DecimalType): DecimalType =
    DecimalType(math.min(38, d.precision + 10), d.scale)

  /** The exact [[Decimal]] for `unscaled` at `scale`, carried at the
    * (wider) target precision — scales equal by construction, so the
    * conversion never rounds. */
  private def decOf(unscaled: Long, scale: Int, t: DecimalType): Decimal =
    Decimal(BigDecimal(java.math.BigDecimal.valueOf(unscaled, scale)),
      t.precision, t.scale)

  /** Spark's OWN final-average computation over externally-merged
    * (sum, count) legs: [[Average.evaluateExpression]] with its two
    * buffer attributes substituted for the merged totals. Whatever
    * divide/rounding/overflow shape the running Spark version uses for
    * the input type — the decimal path's precision-adjusted HALF_UP
    * division included — this reproduces it BY CONSTRUCTION: there is
    * no hand-built division twin to drift from Spark's semantics
    * (the same no-twin discipline as the [[graft.operators.BloomKm]]
    * shared probe). `totS` must carry the buffer sum's dataType and
    * `totC` the count's (asserted loudly — a type drift here would be
    * a silent semantics change). */
  private def avgEval(a: AttributeReference, em: EvalMode.Value,
                      totS: Expression, totC: Expression): Expression = {
    val avg = Average(a, em)
    val Seq(sumA, cntA) = avg.aggBufferAttributes
    require(sumA.name == "sum" && cntA.name == "count",
      s"Average buffer layout drifted: ${avg.aggBufferAttributes}")
    require(totS.dataType == sumA.dataType,
      s"avg sum-leg type drift: ${totS.dataType} vs ${sumA.dataType}")
    require(totC.dataType == cntA.dataType,
      s"avg count-leg type drift: ${totC.dataType} vs ${cntA.dataType}")
    avg.evaluateExpression.transformUp {
      case att: AttributeReference if att.exprId == sumA.exprId => totS
      case att: AttributeReference if att.exprId == cntA.exprId => totC
    }
  }

  /** Min/max (and group-key) columns for the metadata-aggregate arms:
    * described stat columns whose ORIGINAL type reconstructs
    * losslessly from the stat unit — the long image for
    * integrals/date/timestamp, the unscaled long for ver ≥ 6 decimals
    * (min/max of unscaled values at one fixed scale ARE the unscaled
    * min/max; a pre-v6 manifest's decimal image is lossy and refuses),
    * the raw string for string stat columns. ONE law for min/max
    * outputs and group keys alike. */
  private def mmColFor(ex: Extract, meta: ZoneMapMeta.Meta,
                       a: AttributeReference): Option[String] =
    a.dataType match {
      case ByteType | ShortType | IntegerType | LongType | DateType |
           TimestampType =>
        ex.statName(a).collect { case (c, ex.Same) => c }
          .filterNot(meta.strCols.contains)
      case d: DecimalType if d.precision <= 18 && meta.ver >= 6 =>
        ex.statName(a).collect { case (c, ex.DecCol(_)) => c }
          .filterNot(meta.strCols.contains)
      case StringType =>
        ex.sStatName(a).filter(meta.strCols.contains)
      case _ => None
    }

  /** Sum/avg columns for the metadata-aggregate arms: described
    * INTEGRAL stat columns (identity stat unit — the long image IS the
    * value, so the manifest sum is the value sum) and, under a ver ≥ 6
    * manifest, DECIMAL(p ≤ 18) ones (unscaled-long stat unit — the
    * manifest sum is the unscaled value sum at the column's fixed
    * scale, exact; a pre-v6 manifest's decimal slots are a TRUNCATED
    * image and refuse). Date/timestamp sums are not valid SQL; strings
    * have none; float/double refuse — their sum is addition-order-
    * dependent, and a metadata answer must never serve a value a
    * recompute could legitimately contradict ([[ZoneMap.summable]]). */
  private def sumColFor(ex: Extract, meta: ZoneMapMeta.Meta,
                        a: AttributeReference): Option[String] =
    a.dataType match {
      case ByteType | ShortType | IntegerType | LongType =>
        ex.statName(a).collect { case (c, ex.Same) => c }
          .filterNot(meta.strCols.contains)
      case d: DecimalType if d.precision <= 18 && meta.ver >= 6 =>
        ex.statName(a).collect { case (c, ex.DecCol(_)) => c }
          .filterNot(meta.strCols.contains)
      case _ => None
    }

  /** The PER-FILE answerability law of the metadata-aggregate arm —
    * ONE implementation for every output and every grouping (the r18
    * gate/harvest-drift lesson applied to this code itself):
    *  - [[covs]]: per bounded column 0 = provably disjoint, 2 = fully
    *    covered, 1 = partial (all-null columns are 0 for range bounds
    *    — no row passes a range or IsNotNull on them); IS NULL columns
    *    decide on counts alone (cnt == n → 0, unknown → 1, else 2 =
    *    ACTIVE, the null rows being the survivors w.r.t. it); columns
    *    under an IN conjunct additionally refine through the sorted
    *    literal set ([[covIn]]) — no member in the span is disjoint,
    *    single-valued-member is covered, anything else boundary;
    *  - [[cntAnswer]]: each conjunct's survivor set w.r.t. the file is
    *    a COUNTED subset — non-null(d) for a covered range bound,
    *    null(c) for IS NULL — and the matching rows are their
    *    intersection: exactly n when every subset is full, exactly the
    *    one proper subset's size when a single conjunct filters,
    *    unknowable (None → boundary-scan) when two or more do;
    *  - [[mmAnswerable]]: min/max/sum over c is the file's own stat
    *    iff no OTHER conjunct excludes rows — every other
    *    range-bounded column null-free, every other IS NULL column
    *    all-null;
    *  - [[sumPair]]: (value-sum-or-NULL, non-null count) of a sum
    *    column over the file's MATCHING rows — a column itself under
    *    IS NULL contributes NO values (its survivors are all null in
    *    it), an unknown cnt/sum (pre-v5 carry, build-time overflow)
    *    is unanswerable.
    */
  private final class FileLaw(gate: AggGate, meta: ZoneMapMeta.Meta) {
    val allBound: Set[String] =
      gate.bounds.keySet ++ gate.sBounds.keySet ++ gate.notNullCols
    val isNullCols: Set[String] = gate.isNullCols
    private val cmp = graft.operators.ZoneMapMeta.cmpUtf8 _

    private def covLong(f: ZoneMapMeta.FileStat, c: String): Int =
      f.stats.getOrElse(c, None) match {
        case None => 0
        case Some((mn, mx)) =>
          val (lo, hi) =
            gate.bounds.getOrElse(c, (Long.MinValue, Long.MaxValue))
          if (mx < lo || mn > hi) 0
          else if (lo <= mn && mx <= hi) 2
          else 1
      }

    private def covStr(f: ZoneMapMeta.FileStat, c: String): Int =
      f.sstats.getOrElse(c, None) match {
        case None => 0
        case Some((mn, mx)) =>
          val (lo, hi) = gate.sBounds.getOrElse(c,
            (Option.empty[String], Option.empty[String]))
          if (hi.exists(h => cmp(mn, h) > 0) ||
            lo.exists(l => cmp(mx, l) < 0)) 0
          else if (lo.forall(l => cmp(l, mn) <= 0) &&
            hi.forall(h => cmp(mx, h) <= 0)) 2
          else 1
      }

    /** IN-set coverage for a long-image column: 0 when NO member lies
      * in the file's span (one binary search — the per-literal
      * disjointness a span test cannot see), 2 when the file is
      * single-valued AND the value is a member (every non-null row
      * passes, same counted subset as a covered range bound), 1
      * otherwise (boundary). An intersected-to-empty set matches
      * nothing, provably. */
    private def covIn(f: ZoneMapMeta.FileStat, c: String): Int =
      f.stats.getOrElse(c, None) match {
        case None => 0
        case Some((mn, mx)) =>
          val s = gate.inSets(c)
          var lo = 0
          var hi = s.length
          while (lo < hi) {
            val mid = (lo + hi) >>> 1
            if (s(mid) < mn) lo = mid + 1 else hi = mid
          }
          if (!(lo < s.length && s(lo) <= mx)) 0
          else if (mn == mx) 2
          else 1
      }

    private def covOf(f: ZoneMapMeta.FileStat, c: String): Int = {
      val base =
        if (gate.bounds.contains(c)) covLong(f, c)
        else if (gate.sBounds.contains(c)) covStr(f, c)
        else if (meta.strCols.contains(c)) covStr(f, c) else covLong(f, c)
      gate.inSets.get(c) match {
        case None => base
        case Some(_) => // every test must hold: disjoint wins, full
          // coverage needs both, anything else is boundary
          val ic = covIn(f, c)
          if (base == 0 || ic == 0) 0 else math.min(base, ic)
      }
    }

    private def nullCov(f: ZoneMapMeta.FileStat, c: String): Int =
      f.cnts.getOrElse(c, None) match {
        case None => 1
        case Some(ct) if ct == f.n => 0
        case _ => 2
      }

    def covs(f: ZoneMapMeta.FileStat): Seq[Int] =
      allBound.toSeq.map(covOf(f, _)) ++
        isNullCols.toSeq.map(nullCov(f, _))

    def cntAnswer(f: ZoneMapMeta.FileStat): Option[Long] = {
      val contribs: Seq[Option[Long]] =
        allBound.toSeq.map(c => f.cnts.getOrElse(c, None)) ++
          isNullCols.toSeq.map(c => f.cnts.getOrElse(c, None).map(f.n - _))
      if (contribs.isEmpty) Some(f.n)
      else if (contribs.exists(_.isEmpty)) None
      else {
        val filtering = contribs.flatten.filter(_ != f.n)
        filtering.length match {
          case 0 => Some(f.n)
          case 1 => Some(filtering.head)
          case _ => None
        }
      }
    }

    def mmAnswerable(f: ZoneMapMeta.FileStat, c: String): Boolean =
      (allBound - c).forall(d =>
        f.cnts.getOrElse(d, None).contains(f.n)) &&
        (isNullCols - c).forall(d =>
          f.cnts.getOrElse(d, None).contains(0L))

    def sumPair(f: ZoneMapMeta.FileStat,
                c: String): Option[(Option[Long], Long)] =
      if (isNullCols.contains(c)) Some((None, 0L))
      else if (!mmAnswerable(f, c)) None
      else (f.cnts.getOrElse(c, None), f.sums.getOrElse(c, None)) match {
        case (Some(0L), _) => Some((None, 0L)) // all-null: no values
        case (Some(ct), Some(sm)) => Some((Some(sm), ct))
        case _ => None // unknown cnt or sum (pre-v5 / overflow): scan
      }
  }

  /** `count(*)` / `min` / `max` / `sum` / `avg` ANSWERED FROM METADATA,
    * with or without `GROUP BY` — the Iceberg/Delta aggregate-from-
    * manifest optimization over the engine's own zone map. An UNGROUPED
    * aggregate is the zero-key case: every answered file folds into the
    * one group `()`. With keys the layout must be CLUSTERED — files
    * SINGLE-VALUED in every group key (date-clustered,
    * per-partition-written, or z-ordered narrow spans) answer their
    * group's contribution from the manifest and only mixed files scan:
    * TPC-H Q1 (`GROUP BY l_returnflag, l_linestatus` with sum/avg/count
    * over a flag-clustered layout) is a manifest read, and so is the
    * year-range count over a date-clustered 100 TB corpus.
    *
    * The described files — intersected with the relation's landed
    * files, so a stale extra in the manifest can never over-count —
    * partition three ways against the v5 manifest's `min:max:cnt:sum`
    * slots, per file (the shared [[FileLaw]]):
    *  - DISJOINT w.r.t. the gate-recognized filter (span outside some
    *    bound, or all-null in a bounded column) — contributes ZERO
    *    rows, provably; an EMPTY file (n = 0) contributes nothing;
    *  - COVERED (every bounded column's span inside its bound) + every
    *    key RESOLVED + every output answerable — contributes its slots
    *    to the driver-side group map. A count is the bounded column's
    *    NON-NULL count when one column is bounded (nulls fail the
    *    predicate, everything else passes), the file's row count when
    *    several are and none has nulls (`cnt == n` for each — with
    *    nulls the per-column counts cannot compose, so the file
    *    boundary-scans);
    *  - everything else BOUNDARY-scans with the filter intact.
    * A key RESOLVES per file three ways:
    *  - a BARE stat-column attribute ([[mmColFor]] law — a group VALUE
    *    is served, so the type must reconstruct losslessly: integer-
    *    image, ver ≥ 6 decimal, or string), single-valued
    *    (`min == max`, null-free `cnt == n`);
    *  - ALL-NULL in the key (`cnt == 0`): the file's rows belong to
    *    SQL's NULL group — served, composing with the complement-count
    *    law (the whitelisted date mappings below are null-intolerant,
    *    so their NULL group is exactly the column's);
    *  - a WHITELISTED date mapping over a date/timestamp stat column —
    *    `year(d)`, `quarter(d)`, `month(d)`, `trunc(d, 'mm'|…)`,
    *    `date_trunc('month'|…, ts)` — whose per-file CONSTANCY is
    *    provable from the bounds alone: monotone truncations are
    *    constant iff they agree on min and max; the periodic
    *    year-resetting extractions (month, quarter) iff min and max
    *    share the truncated (year, period) — `month(d)` equal at the
    *    ends of a 13-month span is NOT constant, and the witness
    *    refuses it. The group VALUE evaluates the query's OWN
    *    expression over the bound (no reimplementation to drift);
    *    timestamp mappings gate on a UTC session AND a UTC cast/trunc
    *    zone, the same discipline as every timestamp rendering here.
    *  Mixed-null keys (0 < cnt < n) boundary-scan: their rows split
    *  between the value group and the NULL group, and two proper
    *  subsets are unknowable from counts.
    * Every output owns partial SLOTS — count: matching rows; sum: the
    * exact integer (or unscaled-decimal) value-sum or NULL for "no
    * values"; avg: the value-sum plus the non-null count (DOUBLE sums
    * for integral inputs, exactly like Spark's own Average; DECIMAL
    * sums at Sum's (p+10, s) type with the final division evaluated
    * through Spark's OWN average expression, [[avgEval]]); min/max:
    * the file's own stat under [[FileLaw.mmAnswerable]]. A column
    * asked for by both sum and avg fills each output's own slots, so
    * it is never counted twice. A covered file's `sum(c)` is its
    * manifest `sum_c` under the SAME other-columns-null-free condition
    * as min/max (sum's own nulls are excluded on both sides),
    * accumulated exactly (`addExact` — a long overflow aborts the
    * rewrite, degrading to the unrewritten aggregate whose own
    * overflow behavior then applies untouched); files with unknown
    * sums (pre-v5 carries, build-time `try_sum` overflow, non-summable
    * types — float/double NEVER have a sum slot, their addition is
    * order-dependent) boundary-scan.
    *
    * The rewrite, when no boundary remains, is a zero-job
    * `LocalRelation` of the group map: SQL's one-row rule seeds the
    * zero-key group, so a global aggregate over zero matching rows is
    * ONE row (count 0, NULL sum/avg/min/max) while a grouped one is
    * zero rows. Otherwise the boundary scan's partial aggregates merge
    * with the metadata slots: keyed, over a UNION with the metadata
    * rows (`unionMerge`); with zero keys, as literals in ONE aggregate
    * over the boundary scan (`literalMerge`).
    * Driver cost: O(|files| · |outputs|) manifest folds and a group
    * map bounded by |served files| — the manifest's own magnitude, the
    * bounded driver artifact this subsystem already holds.
    *
    * CONSERVATIVE gates, every one sound-by-refusal: outputs limited to
    * group keys, non-distinct unfiltered `count(<non-null literal>)`s,
    * non-TRY `sum`/`avg` over [[sumColFor]] columns, and `min`/`max`
    * over a BARE [[mmColFor]] column (a covered file's min(c) is its
    * manifest `min_c` — min/max ignore c's own nulls, and any OTHER
    * bounded column with nulls shrinks the survivor set unpredictably,
    * so such files boundary-scan). EVERY filter conjunct must be a
    * recognized bound ([[aggGate]] — one opaque conjunct and a covered
    * file can no longer be proven all-match): strict string
    * comparisons refuse (their envelope widening would claim false
    * coverage; integer strict bounds are exact via ±1),
    * `IsNotNull(statCol)` is accepted as the full-range bound (its
    * matching rows ARE the non-null count), and `IsNull(statCol)` as
    * the COMPLEMENT conjunct — a file's matching rows w.r.t. it are its
    * `n − cnt` null rows (cnt == n is provably disjoint), so `count(*)
    * WHERE c IS NULL` is a pure manifest read. The general count law is
    * per-conjunct survivor subsets composing only when at most ONE is
    * proper (two proper subsets' intersection is unknowable from
    * counts — boundary-scan); a min/max/sum column that is ITSELF
    * under IS NULL contributes nothing (its survivors are all null in
    * it), and any OTHER active IS NULL column forces mm/sum files to
    * scan unless it is all-null; files with UNKNOWN counts (carried
    * from pre-v4 zone tables) boundary-scan, never guess. A non-stat
    * key, a float sum, a non-whitelisted expression key — refuse, the
    * unrewritten aggregate is always correct.
    */
  private def aggFromMeta(gs: Seq[Expression],
                          outs: Seq[NamedExpression],
                          child: LogicalPlan): Option[LogicalPlan] = {
    // the child shapes: a bare scan, optionally under a Filter and/or a
    // plain-attribute Project, plus the analyzer's own
    // PullOutGroupingExpressions form — a Project carrying `<expr> AS
    // _groupingexpression#N` aliases (every expression group key reaches
    // the optimizer THIS way, the bare expression never does) — whose
    // aliases substitute back into the grouping keys below; an alias
    // referenced by anything the stats cannot answer (an aggregate over
    // it, an unrecognized expression) refuses downstream through the
    // same column-resolution gates
    def shape(c: LogicalPlan)
        : Option[(Option[Expression], LogicalRelation,
          Map[Long, Expression])] = {
      def split(pl: Seq[NamedExpression]): Option[Map[Long, Expression]] =
        if (pl.forall(p => p.isInstanceOf[AttributeReference] ||
          p.isInstanceOf[Alias]))
          Some(pl.collect { case al @ Alias(e, _) =>
            al.exprId.id -> e }.toMap)
        else None
      c match {
        case rel: LogicalRelation => Some((None, rel, Map.empty))
        case Filter(cnd, rel: LogicalRelation) =>
          Some((Some(cnd), rel, Map.empty))
        case Project(pl, rel: LogicalRelation) =>
          split(pl).map(m => (None, rel, m))
        case Project(pl, Filter(cnd, rel: LogicalRelation)) =>
          split(pl).map(m => (Some(cnd), rel, m))
        case Filter(cnd, Project(pl, rel: LogicalRelation))
            if pl.forall(_.isInstanceOf[AttributeReference]) =>
          Some((Some(cnd), rel, Map.empty))
        case _ => None
      }
    }
    val (condOpt, rel, pulled) = shape(child).getOrElse(return None)
    def unPull(e: Expression): Expression = e match {
      case a: AttributeReference => pulled.getOrElse(a.exprId.id, a)
      case other => other
    }
    // ---- outputs ----
    // parsed before any manifest is read: an output the stats cannot
    // answer refuses without a freshness check
    sealed trait GOut
    case class GKeyOut(i: Int) extends GOut
    case object GCnt extends GOut
    // sum/avg carry the query's own eval MODE (ANSI throw vs legacy
    // null-on-overflow) so the merge legs reproduce exactly the
    // overflow behavior the direct aggregate would have had
    case class GSum(a: AttributeReference, em: EvalMode.Value) extends GOut
    case class GAvg(a: AttributeReference, em: EvalMode.Value) extends GOut
    case class GMin(a: AttributeReference) extends GOut
    case class GMax(a: AttributeReference) extends GOut
    // an output IS key i when it equals the grouping expression as the
    // Aggregate lists it or as substituted back
    def keyIdx(ne: NamedExpression): Option[Int] = {
      val e = ne match { case Alias(ch, _) => ch; case other => other }
      gs.zipWithIndex.collectFirst {
        case (g, i) if e.semanticEquals(g) ||
          e.semanticEquals(unPull(g)) => i
      }
    }
    val parsed: Seq[Option[(NamedExpression, GOut)]] = outs.map { ne =>
      keyIdx(ne).map(i => (ne, GKeyOut(i): GOut)).orElse(ne match {
        case al @ Alias(AggregateExpression(
          Count(Seq(Literal(v, _))), _, false, None, _), _) if v != null =>
          Some((al, GCnt))
        // TRY-mode sum/avg refuse: try_sum turns overflow into null while
        // the merge's Add follows plain session semantics — the shapes
        // would disagree exactly where it matters
        case al @ Alias(AggregateExpression(
          Sum(a: AttributeReference, ctx), _, false, None, _), _)
            if ctx.evalMode != EvalMode.TRY =>
          Some((al, GSum(a, ctx.evalMode)))
        case al @ Alias(AggregateExpression(
          Average(a: AttributeReference, em), _, false, None, _), _)
            if em != EvalMode.TRY =>
          Some((al, GAvg(a, em)))
        case al @ Alias(AggregateExpression(
          org.apache.spark.sql.catalyst.expressions.aggregate
            .Min(a: AttributeReference), _, false, None, _), _) =>
          Some((al, GMin(a)))
        case al @ Alias(AggregateExpression(
          org.apache.spark.sql.catalyst.expressions.aggregate
            .Max(a: AttributeReference), _, false, None, _), _) =>
          Some((al, GMax(a)))
        case _ => None
      })
    }
    if (parsed.exists(_.isEmpty)) return None
    val gOuts = parsed.flatten
    if (!gOuts.exists(o => !o._2.isInstanceOf[GKeyOut])) return None

    val (entry, metaOpt, relFiles) = freshEntry(rel).getOrElse(return None)
    val meta = metaOpt.getOrElse(return None)
    val ex = new Extract(rel, entry.statCols, utcSession)
    val cmpS = graft.operators.ZoneMapMeta.cmpUtf8 _

    // ---- group keys ----
    /** One grouping key: `gOrig` as the Aggregate's grouping list has
      * it (possibly a pulled `_groupingexpression` attribute), `g` the
      * substituted-back expression the stats reason about, the stat
      * column it reads, and (for expression keys) the constancy
      * witness over the file's [min, max] in the stat unit. */
    case class GKey(gOrig: Expression, g: Expression,
                    a: AttributeReference, c: String,
                    isStr: Boolean,
                    witness: Option[(Long, Long) => Boolean]) {
      /** The group value when the file is provably constant: the
        * query's OWN expression evaluated at the bound (internal
        * form) — for a bare attribute this is the reconstructed stat
        * value itself. */
      def valueAt(unit: Long): Any = g.transform {
        case att: AttributeReference if att.exprId == a.exprId =>
          Literal(internalOf(unit, a.dataType), a.dataType)
      }.eval()
    }
    def keyCol(a: AttributeReference): Option[(String, Boolean)] =
      mmColFor(ex, meta, a).map(c => (c, meta.strCols.contains(c)))
    // the date source under a whitelisted mapping: the bare attr of the
    // wanted type, or the analyzer's own date↔timestamp cast — UTC
    // session AND UTC cast zone only (the same two-sided gate as
    // [[RuntimeFilterJoin]]'s unwrap: a non-UTC cast's mapping is not
    // the one the driver-side witness inverts)
    def dateSrc(e: Expression,
                want: org.apache.spark.sql.types.DataType)
        : Option[AttributeReference] = e match {
      case a: AttributeReference if a.dataType == want => Some(a)
      case Cast(a: AttributeReference, t, tz, _)
          if t == want &&
            (a.dataType == DateType || a.dataType == TimestampType) &&
            utcSession && tz.forall(_ == "UTC") => Some(a)
      case _ => None
    }
    def ldOf(unit: Long,
             dt: org.apache.spark.sql.types.DataType): java.time.LocalDate =
      dt match {
        case DateType => java.time.LocalDate.ofEpochDay(unit)
        case _ => // TimestampType epoch micros, rendered in UTC (gated)
          java.time.LocalDateTime.ofEpochSecond(
            Math.floorDiv(unit, 1000000L), 0,
            java.time.ZoneOffset.UTC).toLocalDate
      }
    // trunc formats that are MONOTONE over time (constant-iff-equal-at-
    // the-ends); `day`/`dd` additionally for date_trunc (a date's trunc
    // to day is the identity — listed for the timestamp form only)
    val monotoneFmts =
      Set("year", "yyyy", "yy", "quarter", "month", "mon", "mm", "week")
    def fmtOf(e: Expression): Option[String] = e match {
      case Literal(u: org.apache.spark.unsafe.types.UTF8String,
        StringType) =>
        Option(u).map(_.toString.toLowerCase(java.util.Locale.ROOT))
      case _ => None
    }
    def exprKey(gOrig: Expression, g: Expression): Option[GKey] = {
      def mk(a: AttributeReference,
             w: (Long, Long) => Boolean): Option[GKey] =
        keyCol(a).collect { case (c, false) =>
          GKey(gOrig, g, a, c, isStr = false, Some(w)) }
      import org.apache.spark.sql.catalyst.expressions.{Month, Quarter, TruncDate, TruncTimestamp, Year}
      g match {
        case Year(ch) => dateSrc(ch, DateType).flatMap(a =>
          mk(a, (lo, hi) =>
            ldOf(lo, a.dataType).getYear == ldOf(hi, a.dataType).getYear))
        case Quarter(ch) => dateSrc(ch, DateType).flatMap { a =>
          def q(u: Long) = {
            val d = ldOf(u, a.dataType)
            (d.getYear, (d.getMonthValue - 1) / 3)
          }
          mk(a, (lo, hi) => q(lo) == q(hi))
        }
        case Month(ch) => dateSrc(ch, DateType).flatMap { a =>
          // month RESETS yearly: equal month values 13 months apart are
          // not constancy — the witness is the full (year, month) pair
          def m(u: Long) = {
            val d = ldOf(u, a.dataType)
            (d.getYear, d.getMonthValue)
          }
          mk(a, (lo, hi) => m(lo) == m(hi))
        }
        case td @ TruncDate(ch, fmt)
            if fmtOf(fmt).exists(monotoneFmts.contains) =>
          dateSrc(ch, DateType).flatMap { a =>
            def v(u: Long) =
              GKey(td, td, a, "", isStr = false, None).valueAt(u)
            mk(a, (lo, hi) => v(lo) == v(hi))
          }
        case tt @ TruncTimestamp(fmt, ch, tz)
            if fmtOf(fmt).exists(f =>
              monotoneFmts.contains(f) || f == "day" || f == "dd") &&
              utcSession && tz.forall(_ == "UTC") =>
          dateSrc(ch, TimestampType).flatMap { a =>
            def v(u: Long) =
              GKey(tt, tt, a, "", isStr = false, None).valueAt(u)
            mk(a, (lo, hi) => v(lo) == v(hi))
          }
        case _ => None
      }
    }
    val keysOpt: Seq[Option[GKey]] = gs.map { gOrig =>
      unPull(gOrig) match {
        case a: AttributeReference =>
          keyCol(a).map { case (c, isStr) =>
            GKey(gOrig, a, a, c, isStr, None) }
        case g => exprKey(gOrig, g)
      }
    }
    if (keysOpt.exists(_.isEmpty)) return None
    val keys = keysOpt.flatten

    def sumColOf(a: AttributeReference): Option[String] =
      sumColFor(ex, meta, a)
    def mmColOf(a: AttributeReference): Option[String] =
      mmColFor(ex, meta, a)
    val colsOk = gOuts.forall {
      case (_, GSum(a, _)) => sumColOf(a).isDefined
      case (_, GAvg(a, _)) => sumColOf(a).isDefined
      case (_, GMin(a)) => mmColOf(a).isDefined
      case (_, GMax(a)) => mmColOf(a).isDefined
      case _ => true
    }
    if (!colsOk) return None
    val gate = aggGate(condOpt, rel, ex, entry.statCols)
      .getOrElse(return None)
    val law = new FileLaw(gate, meta)
    val relSet = relFiles.map(PathNorm.norm).toSet
    val files = meta.files.filter(f => relSet.contains(PathNorm.norm(f.file)))

    // ---- per-file fold ----
    /** Key state per file: Some(value) = every row belongs to ONE group
      * in this key (value may be [[NullGroup]] — the file is ALL-null
      * and its rows belong to SQL's null group); None = mixed/unknown,
      * the file boundary-scans. */
    case object NullGroup
    def keyState(f: ZoneMapMeta.FileStat, k: GKey): Option[Any] =
      f.cnts.getOrElse(k.c, None) match {
        case Some(0L) => Some(NullGroup)
        case Some(ct) if ct == f.n =>
          if (k.isStr)
            f.sstats.getOrElse(k.c, None).collect {
              case (mn, mx) if mn == mx =>
                org.apache.spark.unsafe.types.UTF8String.fromString(mn)
            }
          else f.stats.getOrElse(k.c, None).flatMap { case (mn, mx) =>
            k.witness match {
              case None => if (mn == mx) Option(k.valueAt(mn)) else None
              case Some(w) => if (w(mn, mx)) Option(k.valueAt(mn)) else None
            }
          }
        case _ => None // mixed nulls or unknown count: boundary
      }
    def mmContrib(f: ZoneMapMeta.FileStat, a: AttributeReference,
                  isMin: Boolean): Option[Seq[Option[Any]]] = {
      val c = mmColOf(a).get
      if (law.isNullCols.contains(c)) Some(Seq(None)) // all-null survivors
      else if (!law.mmAnswerable(f, c)) None
      else if (meta.strCols.contains(c))
        Some(Seq(f.sstats.getOrElse(c, None)
          .map(p => if (isMin) p._1 else p._2)))
      else Some(Seq(f.stats.getOrElse(c, None)
        .map(p => if (isMin) p._1 else p._2)))
    }
    def answerOf(f: ZoneMapMeta.FileStat,
                 o: GOut): Option[Seq[Option[Any]]] = o match {
      case GCnt => law.cntAnswer(f).map(ct => Seq(Some(ct)))
      case GSum(a, _) =>
        law.sumPair(f, sumColOf(a).get).map { case (sm, _) => Seq(sm) }
      case GAvg(a, _) =>
        law.sumPair(f, sumColOf(a).get).map { case (sm, ct) =>
          Seq(sm, Some(ct)) }
      case GMin(a) => mmContrib(f, a, isMin = true)
      case GMax(a) => mmContrib(f, a, isMin = false)
      case _ => None // GKeyOut filtered out below
    }
    val aggOuts = gOuts.filter(!_._2.isInstanceOf[GKeyOut])
    def slotsOf(o: GOut): Int = o match {
      case GAvg(_, _) => 2
      case _ => 1
    }
    val slotOffs = aggOuts.scanLeft(0)((off, p) => off + slotsOf(p._2))
    val nSlots = slotOffs.last
    /** Slot values are raw stat-unit longs (counts, value sums,
      * extrema) or raw strings; None = "no values yet". Adds merge by
      * `addExact` (overflow aborts the rewrite via the NonFatal catch),
      * extrema by min/max in the stat order. */
    def foldSlot(o: GOut, acc: Option[Any],
                 v: Option[Any]): Option[Any] = (acc, v) match {
      case (a, None) => a
      case (None, s) => s
      case (Some(x), Some(y)) => o match {
        case GMin(a) if a.dataType == StringType =>
          Some(if (cmpS(x.asInstanceOf[String],
            y.asInstanceOf[String]) <= 0) x else y)
        case GMax(a) if a.dataType == StringType =>
          Some(if (cmpS(x.asInstanceOf[String],
            y.asInstanceOf[String]) >= 0) x else y)
        case GMin(_) =>
          Some(math.min(x.asInstanceOf[Long], y.asInstanceOf[Long]))
        case GMax(_) =>
          Some(math.max(x.asInstanceOf[Long], y.asInstanceOf[Long]))
        case _ =>
          Some(Math.addExact(x.asInstanceOf[Long], y.asInstanceOf[Long]))
      }
    }
    val metaGroups =
      scala.collection.mutable.LinkedHashMap
        .empty[Seq[Any], Array[Option[Any]]]
    // SQL's one-row rule: a global aggregate over zero matching rows is
    // ONE row — count 0, NULL sum/avg/min/max, exactly what empty slots
    // emit — so the zero-key group exists before any file folds into it;
    // a grouped aggregate over zero rows has no group and no row
    if (keys.isEmpty)
      metaGroups(Seq.empty) = Array.fill[Option[Any]](nSlots)(None)
    val boundary = Seq.newBuilder[String]
    var nBoundary = 0
    files.foreach { f =>
      if (f.n == 0L) () // an empty file has no rows and no groups
      else {
        val covs = law.covs(f)
        if (covs.contains(0)) () // provably zero matching rows: no group
        else {
          val kvs = keys.map(keyState(f, _))
          val contribs: Option[Seq[Seq[Option[Any]]]] =
            if (!(covs.forall(_ == 2) && kvs.forall(_.isDefined))) None
            else {
              val per = aggOuts.map { case (_, o) => answerOf(f, o) }
              if (per.exists(_.isEmpty)) None else Some(per.map(_.get))
            }
          contribs match {
            case Some(vals) =>
              val acc = metaGroups.getOrElseUpdate(kvs.map(_.get),
                Array.fill[Option[Any]](nSlots)(None))
              var off = 0
              aggOuts.zip(vals).foreach { case ((_, o), vs) =>
                vs.zipWithIndex.foreach { case (v, j) =>
                  acc(off + j) = foldSlot(o, acc(off + j), v)
                }
                off += slotsOf(o)
              }
            case None => boundary += f.file; nBoundary += 1
          }
        }
      }
    }

    // ---- emit ----
    def keyInternal(v: Any): Any = v match {
      case NullGroup => null
      case other => other
    }
    def sumTypeOf(a: AttributeReference)
        : org.apache.spark.sql.types.DataType = a.dataType match {
      case d: DecimalType => sumDecType(d)
      case _ => LongType
    }
    /** The metadata row's slot values for one output (raw-partial
      * form — shared verbatim between the LocalRelation fold's final
      * values and the Union leg's partial rows for adds/extrema; avg
      * finalizes separately). */
    def slotValues(o: GOut, acc: Array[Option[Any]],
                   off: Int): Seq[Any] = o match {
      case GCnt => Seq(acc(off).map(_.asInstanceOf[Long])
        .getOrElse(0L))
      case GSum(a, _) => a.dataType match {
        case d: DecimalType => Seq(acc(off)
          .map(u => decOf(u.asInstanceOf[Long], d.scale, sumDecType(d)))
          .orNull)
        case _ => Seq(acc(off).map(u => Long.box(u.asInstanceOf[Long]))
          .orNull)
      }
      case GAvg(a, _) =>
        val cnt = acc(off + 1).map(_.asInstanceOf[Long]).getOrElse(0L)
        val sm = a.dataType match {
          case d: DecimalType => acc(off)
            .map(u => decOf(u.asInstanceOf[Long], d.scale, sumDecType(d)))
            .orNull
          case _ => acc(off)
            .map(u => Double.box(u.asInstanceOf[Long].toDouble)).orNull
        }
        Seq(sm, cnt)
      case GMin(a) => Seq(mmInternal(a, acc(off)))
      case GMax(a) => Seq(mmInternal(a, acc(off)))
      case _ => Seq.empty
    }
    def mmInternal(a: AttributeReference, v: Option[Any]): Any =
      if (a.dataType == StringType)
        v.map(s => org.apache.spark.unsafe.types.UTF8String
          .fromString(s.asInstanceOf[String])).orNull
      else v.map(l => internalOf(l.asInstanceOf[Long], a.dataType)).orNull
    /** The ZERO-key boundary merge keeps the global-aggregate plan: ONE
      * Aggregate over the boundary scan, the metadata row's values
      * merged in as literals — count `part + n`; sum
      * `coalesce(part, 0) + s`, guarded by the zero-values witness (sum
      * over no values is NULL, not 0); avg as one division over the
      * merged exact (sum, count) pair; min/max via `Least`/`Greatest`.
      * Routing it through
      * the Union of `unionMerge` would put an Aggregate(Nil) over a
      * Union — an Exchange SinglePartition and one more Spark job per
      * query — for a metadata leg of at most one row. */
    def literalMerge(scan: LogicalPlan): LogicalPlan = {
      val acc = metaGroups(Seq.empty)
      def metaL(off: Int): Long =
        acc(off).map(_.asInstanceOf[Long]).getOrElse(0L)
      val inner = condOpt.map(Filter(_, scan)).getOrElse(scan)
      // the boundary-scan aggregate's part list: one part per output,
      // except AVG which decomposes into its (sum, count) pair — an
      // Average part cannot merge with a metadata leg, but its exact
      // pieces can (avg = (metaSum + partSum) / (metaCnt + partCnt))
      val partsBuf =
        scala.collection.mutable.ArrayBuffer.empty[NamedExpression]
      def addPart(e: Expression): Attribute = {
        val al = Alias(e, s"part_${partsBuf.size}")()
        partsBuf += al
        al.toAttribute
      }
      val projected = aggOuts.zip(slotOffs).map { case ((ne, o), off) =>
        val al = ne.asInstanceOf[Alias] // aggregates parse as aliases only
        val merged: Expression = o match {
          case GCnt => Add(addPart(al.child), Literal(metaL(off)))
          case GSum(a, em) =>
            val part = addPart(al.child)
            if (acc(off).isEmpty)
              part // no covered values: the boundary leg IS the sum
            else a.dataType match {
              case d: DecimalType =>
                // the merge mirrors Sum's own merge+evaluate: decimal
                // Add computes exactly (Decimal arithmetic is BigDecimal
                // under the hood; the node's declared wider type never
                // rounds the value) and CheckOverflow enforces the
                // Sum(p+10, s) result type with the query's own mode —
                // ANSI throws, legacy nulls — exactly where the direct
                // aggregate's final CheckOverflowInSum would. (A
                // boundary-SUBSET sum overflowing where the total does
                // not — sign cancellation across legs — surfaces the
                // mode's overflow behavior one merge early; Spark's own
                // per-partition partials carry the same exposure shape,
                // partition-boundary-dependently.)
                val sumT = sumDecType(d)
                CheckOverflow(
                  Add(Coalesce(Seq(part, Literal(decOf(0L, d.scale, sumT),
                    sumT))), Literal(decOf(metaL(off), d.scale, sumT), sumT)),
                  sumT, nullOnOverflow = em == EvalMode.LEGACY)
              case _ =>
                // an empty boundary leg is NULL ("no values"), which
                // must act as zero against a real metadata sum —
                // coalesce, never bare Add (null + x = null would erase
                // the sum)
                Add(Coalesce(Seq(part, Literal(0L))), Literal(metaL(off)))
            }
          case GAvg(a, em) =>
            a.dataType match {
              case d: DecimalType =>
                // DECIMAL averages merge exactly: the boundary leg is a
                // native decimal Sum partial plus its non-null Count,
                // the metadata leg the exact unscaled-sum literal, and
                // the final division is Spark's OWN average expression
                // over the merged (sum, count) pair ([[avgEval]] — no
                // division twin to drift). Zero total values short-
                // circuit to NULL before any division evaluates.
                val sumT = sumDecType(d)
                val sPart = addPart(Sum(a).toAggregateExpression())
                val cPart = addPart(Count(a).toAggregateExpression())
                val totC = Add(cPart, Literal(metaL(off + 1)))
                val totS = CheckOverflow(
                  Add(Coalesce(Seq(sPart, Literal(decOf(0L, d.scale, sumT),
                    sumT))), Literal(decOf(metaL(off), d.scale, sumT), sumT)),
                  sumT, nullOnOverflow = em == EvalMode.LEGACY)
                val rt = Average(a, em).dataType
                If(EqualTo(totC, Literal(0L)), Literal(null, rt),
                  avgEval(a, em, totS, totC))
              case _ =>
                // the boundary sum part accumulates in DOUBLE, exactly
                // like Spark's own integral Average — a LongType Sum
                // part would THROW under ANSI on a > 2^63 boundary
                // total where the direct (unrewritten) average
                // succeeds, and a rewrite must never fail a query that
                // would succeed unrewritten; within double's 2^53
                // integer range (every sum a double can hold
                // losslessly) the double path is exact and bit-identical
                val sPart = addPart(
                  Sum(Cast(a, DoubleType)).toAggregateExpression())
                val cPart = addPart(Count(a).toAggregateExpression())
                val totC = Add(cPart, Literal(metaL(off + 1)))
                val totS = Add(Coalesce(Seq(sPart, Literal(0.0d))),
                  Literal(metaL(off).toDouble))
                // zero total values → NULL (Average's own empty
                // semantics), guarded explicitly so ANSI sessions never
                // divide by zero
                If(EqualTo(totC, Literal(0L)), Literal(null, DoubleType),
                  Divide(totS, Cast(totC, DoubleType)))
            }
          case mm =>
            // Least/Greatest skip nulls, so an empty boundary-scan leg
            // (null) yields the metadata value and vice versa — the
            // exact null semantics of the direct aggregate
            val part = addPart(al.child)
            slotValues(mm, acc, off).head match {
              case null => part
              case v =>
                val lit = Literal(v, al.child.dataType)
                if (mm.isInstanceOf[GMin])
                  org.apache.spark.sql.catalyst.expressions
                    .Least(Seq(part, lit))
                else org.apache.spark.sql.catalyst.expressions
                  .Greatest(Seq(part, lit))
            }
        }
        Alias(merged, al.name)(exprId = al.exprId)
      }
      Project(projected, Aggregate(Nil, partsBuf.toSeq, inner))
    }
    /** The KEYED boundary merge: scan partials ∪ metadata rows, one
      * per-group aggregate per slot. */
    def unionMerge(scan: LogicalPlan): LogicalPlan = {
      // the scan leg keeps the ORIGINAL child plan (its filter, and
      // the analyzer's pulled-grouping Project when present) with only
      // the relation swapped for its survivor projection — exprIds are
      // preserved by rebuild, so everything above resolves unchanged
      val inner = child.transformUp {
        case r: LogicalRelation if r eq rel => scan
      }
      // scan-leg key outputs: the attr itself for bare/pulled keys
      // (Union keeps the FIRST child's ids, so the final aggregate
      // groups by the original attributes), an alias for direct
      // expression keys
      val keyOuts: Seq[NamedExpression] = keys.zipWithIndex.map {
        case (k, i) => k.gOrig match {
          case a: AttributeReference => a
          case g => Alias(g, s"gk_$i")()
        }
      }
      // scan-leg partials in the exact slot layout the metadata rows
      // use — count partials as longs, integral sum partials long
      // (ANSI parity with the direct grouped sum), decimal sums at
      // Sum's own (p+10, s), avg value-sums DOUBLE for integral inputs
      // exactly like Average itself, extrema as native Min/Max
      val partExprs =
        scala.collection.mutable.ArrayBuffer.empty[NamedExpression]
      def addPart(e: Expression): Unit =
        partExprs += Alias(e, s"part_${partExprs.size}")()
      aggOuts.foreach {
        case (_, GCnt) => addPart(Count(Literal(1)).toAggregateExpression())
        case (_, GSum(a, _)) => addPart(Sum(a).toAggregateExpression())
        case (_, GAvg(a, _)) =>
          a.dataType match {
            case _: DecimalType => addPart(Sum(a).toAggregateExpression())
            case _ =>
              addPart(Sum(Cast(a, DoubleType)).toAggregateExpression())
          }
          addPart(Count(a).toAggregateExpression())
        case (_, GMin(a)) => addPart(
          org.apache.spark.sql.catalyst.expressions.aggregate.Min(a)
            .toAggregateExpression())
        case (_, GMax(a)) => addPart(
          org.apache.spark.sql.catalyst.expressions.aggregate.Max(a)
            .toAggregateExpression())
        case _ => ()
      }
      val scanAgg = Aggregate(gs, keyOuts ++ partExprs.toSeq, inner)
      // the metadata leg: same arity and types, one row per group
      val metaKeyAttrs = keys.zipWithIndex.map { case (k, i) =>
        AttributeReference(s"g_meta_$i", k.g.dataType)()
      }
      val metaSlotAttrs = aggOuts.flatMap {
        case (_, GCnt) =>
          Seq(AttributeReference("m_cnt", LongType, nullable = false)())
        case (_, GSum(a, _)) =>
          Seq(AttributeReference("m_sum", sumTypeOf(a))())
        case (_, GAvg(a, _)) => Seq(
          AttributeReference("m_asum", sumTypeOf(a) match {
            case d: DecimalType => d
            case _ => DoubleType
          })(),
          AttributeReference("m_acnt", LongType, nullable = false)())
        case (_, GMin(a)) => Seq(AttributeReference("m_mm", a.dataType)())
        case (_, GMax(a)) => Seq(AttributeReference("m_mx", a.dataType)())
        case _ => Seq.empty
      }
      val metaRel = LocalRelation(metaKeyAttrs ++ metaSlotAttrs,
        metaGroups.toSeq.map { case (gvs, acc) =>
          var ai = 0
          InternalRow.fromSeq(gvs.map(keyInternal) ++ aggOuts.flatMap {
            case (_, o) =>
              val off = slotOffs(ai); ai += 1
              slotValues(o, acc, off)
          })
        })
      // Union keeps the FIRST child's attr ids, so the final aggregate
      // groups by the scan leg's keys and every slot composes by a
      // per-group aggregate — Sum for adds (null slots are "no values"
      // and Sum skips them, so a group whose every leg had no values
      // stays NULL, never 0), Min/Max for extrema (a min of partial
      // mins IS the min, with exactly the right null skipping)
      val u = org.apache.spark.sql.catalyst.plans.logical
        .Union(Seq(scanAgg, metaRel))
      val gUs = u.output.take(keys.length)
      val partsU = u.output.drop(keys.length)
      var ai = 0
      val finalOuts = gOuts.map {
        case (ne, GKeyOut(i)) =>
          val gU = gUs(i)
          if (ne.exprId == gU.exprId) gU
          else Alias(gU, ne.name)(exprId = ne.exprId)
        case (ne, o) =>
          val off = slotOffs(ai); ai += 1
          val merged: Expression = o match {
            case GCnt =>
              // every union group has ≥ 1 row with a non-null count
              // part; the coalesce keeps the attr non-nullable like
              // the count it replaces
              Coalesce(Seq(Sum(partsU(off)).toAggregateExpression(),
                Literal(0L)))
            case GSum(a, em) => a.dataType match {
              case d: DecimalType =>
                // Sum over the (p+10, s) partials widens to (p+20, s);
                // CheckOverflow enforces the original result type with
                // the query's own overflow mode, exactly where the
                // direct sum's final check sits
                CheckOverflow(Sum(partsU(off)).toAggregateExpression(),
                  sumDecType(d), nullOnOverflow = em == EvalMode.LEGACY)
              case _ => Sum(partsU(off)).toAggregateExpression()
            }
            case GAvg(a, em) =>
              // ONE AggregateExpression instance referenced twice —
              // PhysicalAggregation dedups by identity (resultId), so
              // a second instance would compute the sum twice per group
              val totC = Coalesce(Seq(
                Sum(partsU(off + 1)).toAggregateExpression(),
                Literal(0L)))
              val totS = Sum(partsU(off)).toAggregateExpression()
              a.dataType match {
                case d: DecimalType =>
                  val rt = Average(a, em).dataType
                  If(EqualTo(totC, Literal(0L)), Literal(null, rt),
                    avgEval(a, em,
                      CheckOverflow(totS, sumDecType(d),
                        nullOnOverflow = em == EvalMode.LEGACY),
                      totC))
                case _ =>
                  If(EqualTo(totC, Literal(0L)),
                    Literal(null, DoubleType),
                    Divide(totS, Cast(totC, DoubleType)))
              }
            case GMin(_) =>
              org.apache.spark.sql.catalyst.expressions.aggregate
                .Min(partsU(off)).toAggregateExpression()
            case GMax(_) =>
              org.apache.spark.sql.catalyst.expressions.aggregate
                .Max(partsU(off)).toAggregateExpression()
            case GKeyOut(_) => gUs.head // unreachable
          }
          Alias(merged, ne.name)(exprId = ne.exprId)
      }
      Aggregate(gUs, finalOuts, u)
    }
    val bFiles = boundary.result()
    if (bFiles.isEmpty)
      // the whole aggregate is a metadata read: one LocalRelation row
      // per group, zero Spark jobs when nothing scans
      Some(LocalRelation(outs.map(_.toAttribute),
        metaGroups.toSeq.map { case (gvs, acc) =>
          var ai = 0
          InternalRow.fromSeq(gOuts.map {
            case (_, GKeyOut(i)) => keyInternal(gvs(i))
            case (_, o) =>
              val off = slotOffs(ai); ai += 1
              o match {
                // the served average is the EXACT integer sum over the
                // count — bit-identical to Spark's Average (which
                // accumulates its sum in a double for integral inputs)
                // whenever the exact sum is within double's 2^53 integer
                // range, and the DETERMINISTIC value beyond it, where
                // Spark's own double accumulation becomes partial-
                // aggregation-order-dependent (run-to-run
                // nondeterministic — an impossible and pointless target
                // to replicate; serving the exact quotient is the same
                // determinism argument as refusing float sums outright)
                case GAvg(a, em) =>
                  val cnt =
                    acc(off + 1).map(_.asInstanceOf[Long]).getOrElse(0L)
                  if (cnt == 0L) null
                  else a.dataType match {
                    case d: DecimalType =>
                      // Spark's OWN average expression over the exact
                      // (sum, count) pair, evaluated on the driver — the
                      // precision-adjusted HALF_UP division included, by
                      // construction, zero Spark jobs
                      val sumT = sumDecType(d)
                      avgEval(a, em,
                        Literal(decOf(acc(off).get.asInstanceOf[Long],
                          d.scale, sumT), sumT),
                        Literal(cnt)).eval()
                    case _ => acc(off)
                      .map(u => Double
                        .box(u.asInstanceOf[Long].toDouble / cnt.toDouble))
                      .orNull
                  }
                case other => slotValues(other, acc, off).head
              }
          })
        }))
    else if (nBoundary >= files.size) None // nothing answered: no churn
    else rebuild(rel, bFiles.sorted).map(scan =>
      if (keys.isEmpty) literalMerge(scan) else unionMerge(scan))
  }

  /** The survivor FILE set for `e` over the cached manifest — pure
    * driver compute, zero Spark jobs — or None when no sub-expression
    * contributes any pruning information (no churn: leave the filter
    * alone). Three kinds of legs, every one a false-positive-only
    * SUPERSET of the files truly containing a matching row, so they
    * compose by INTERSECTION and the kept residual restores exactness:
    *  - the ENVELOPE leg: the conjunct harvest ([[extractBounds]] —
    *    tightest one interval per column — plus the bloom predicates)
    *    evaluated in one [[ZoneMapMeta.pruneTyped]] pass;
    *  - one leg per top-level OR conjunct: the UNION of the disjuncts'
    *    survivor sets, each side evaluated RECURSIVELY through this
    *    same method (a row matching the disjunction matches some side,
    *    whose survivor leg keeps its file — per-side false-positive-
    *    only ∪ is false-positive-only). This is strictly tighter than
    *    the per-column union ENVELOPE the harvest also emits: the
    *    seasonal `d BETWEEN jan OR d BETWEEN dec` opens the two
    *    seasons' files, not everything between. A side contributing
    *    NO information admits every file — the union is the universe,
    *    the leg is skipped;
    *  - one leg per top-level IN/InSet conjunct on a stat column: the
    *    per-literal survivor union ([[inUnion]]) — a sparse list over
    *    a clustered key opens ~|literals| files, not the envelope.
    */
  private def survivorSet(e: Expression, rel: LogicalRelation,
                          statCols: Seq[String],
                          meta: ZoneMapMeta.Meta): Option[Set[String]] = {
    val hb = extractBounds(e, rel, statCols)
    val (bounds, sBounds) = (hb.longB, hb.strB)
    val bloomPreds = extractBloomValues(e, rel, meta.bloomCols)
    val envelope: Option[Set[String]] =
      if (bounds.isEmpty && sBounds.isEmpty && bloomPreds.isEmpty) None
      else Some(ZoneMapMeta.pruneTyped(meta,
        bounds.toSeq.map { case (c, (lo, hi)) => (c, lo, hi) },
        sBounds.toSeq.map { case (c, (lo, hi)) => (c, lo, hi) },
        bloomPreds)._1.toSet)
    val refinements: Seq[Set[String]] = conjunctsOf(e).flatMap {
      case o: Or =>
        val sides =
          disjunctsOf(o).map(d => survivorSet(d, rel, statCols, meta))
        if (sides.exists(_.isEmpty)) None
        else Some(sides.flatten.reduce(_ union _))
      case other => inUnion(other, rel, statCols, meta)
    }
    val legs = envelope.toSeq ++ refinements
    if (legs.isEmpty) None else Some(legs.reduce(_ intersect _))
  }

  /** Per-literal survivor UNION for an IN/InSet conjunct on a stat
    * column — each literal prunes as its own point interval (through
    * the SAME [[ZoneMapMeta.pruneTyped]] law as every decision here)
    * and the file sets union. None (no refinement, the envelope still
    * applies) when the conjunct is not an extractable IN on a stat
    * column, when the list is over [[ZoneMapPrune.InUnionCap]] (a
    * dense list's envelope is already near-exact, and this union is
    * O(|literals|·|files|) driver compute), or when ANY literal fails
    * extraction or unit conversion — dropping one literal from a
    * union would OVER-prune, the one direction this subsystem must
    * never err in.
    */
  private def inUnion(e: Expression, rel: LogicalRelation,
                      statCols: Seq[String],
                      meta: ZoneMapMeta.Meta): Option[Set[String]] = {
    val ex = new Extract(rel, statCols, utcSession)
    def longUnion(c: String, cc: ex.Conv,
                  vals: Seq[Long]): Option[Set[String]] = {
      val ivs = vals.map(v =>
        for (lo <- ex.conv(cc, v, isLo = true);
             hi <- ex.conv(cc, v, isLo = false)) yield (lo, hi))
      if (ivs.exists(_.isEmpty)) None // a dropped literal would over-prune
      else Some(ivs.flatten.foldLeft(Set.empty[String]) { case (acc, (lo, hi)) =>
        acc union ZoneMapMeta.pruneTyped(meta,
          Seq((c, lo, hi)), Seq.empty)._1.toSet
      })
    }
    def strUnion(c: String, vals: Seq[String]): Set[String] =
      vals.foldLeft(Set.empty[String])((acc, v) =>
        acc union ZoneMapMeta.pruneTyped(meta, Seq.empty,
          Seq((c, Some(v), Some(v))))._1.toSet)
    e match {
      case In(a, vs) if vs.nonEmpty && vs.length <= ZoneMapPrune.InUnionCap &&
          vs.forall(_.isInstanceOf[Literal]) =>
        val lits = vs.map(_.asInstanceOf[Literal])
        ex.statName(a) match {
          case Some((c, cc))
              if lits.forall(l => ex.litVal(l, cc).isDefined) =>
            longUnion(c, cc, lits.map(l => ex.litVal(l, cc).get))
          case _ => ex.sStatName(a) match {
            case Some(c) if lits.forall(l => ex.sLitVal(l).isDefined) =>
              Some(strUnion(c, lits.map(l => ex.sLitVal(l).get)))
            case _ => None
          }
        }
      case InSet(a, hset)
          if hset.nonEmpty && hset.size <= ZoneMapPrune.InUnionCap =>
        ex.statName(a) match {
          case Some((c, cc))
              if hset.forall(v => ex.rawVal(v, cc).isDefined) =>
            longUnion(c, cc, hset.toSeq.map(v => ex.rawVal(v, cc).get))
          case _ => ex.sStatName(a) match {
            case Some(c) if hset.forall(_.isInstanceOf[
                org.apache.spark.unsafe.types.UTF8String]) =>
              Some(strUnion(c, hset.toSeq.map(_.toString)))
            case _ => None
          }
        }
      case _ => None
    }
  }

  /** FILE SKIPPING FOR A BOUNDED KEY SET — the [[RuntimeFilterJoin]]
    * bloom-path composition: past `maxInKeys` the injected predicate is
    * the md5 expression, which the filter-prune arm cannot harvest, so
    * the rule hands its already-bounded harvested key set here instead.
    * The survivor law is the per-literal IN union's ([[inUnion]]) — a
    * file survives iff SOME key lies within its span, a false-positive-
    * only superset of the files holding a joinable row — computed as
    * one sorted array + binary search per file (O(|files|·log|keys|)
    * driver compute, manifest-cached, zero Spark jobs; the naive
    * per-literal loop would be O(|keys|·|files|), unaffordable at the
    * 100 TB file counts this exists for). Span-only by design: the
    * per-file bloom refinement would be O(|keys|·k) per file, and the
    * row-level bloom predicate already handles in-span non-members.
    * None (no skipping, predicate-only) when the relation has no fresh
    * manifest-backed registration, the key column is not a stat column
    * of the matching type, or any key fails unit conversion — a
    * dropped key would OVER-skip, the direction this subsystem must
    * never err in. Returns (survivors, total landed+described).
    */
  private[plans] def keySkipSurvivors(rel: LogicalRelation,
                                      key: AttributeReference,
                                      keys: Seq[Any])
      : Option[(Seq[String], Int)] = {
    val (entry, metaOpt, relFiles) = freshEntry(rel).getOrElse(return None)
    val meta = metaOpt.getOrElse(return None)
    val c = rel.output.find(_.exprId == key.exprId).map(_.name)
      .filter(entry.statCols.contains).getOrElse(return None)
    val relSet = relFiles.map(PathNorm.norm).toSet
    val files = meta.files.filter(f => relSet.contains(PathNorm.norm(f.file)))
    if (key.dataType == StringType) {
      if (!meta.strCols.contains(c)) return None // mistyped: refuse
      val vals = keys.map {
        case u: org.apache.spark.unsafe.types.UTF8String => Some(u.toString)
        case s: String => Some(s)
        case _ => None
      }
      if (vals.exists(_.isEmpty)) return None
      val cmp = ZoneMapMeta.cmpUtf8 _
      val sorted = vals.flatten.distinct
        .sortWith((a, b) => cmp(a, b) < 0).toArray
      def anyIn(mn: String, mx: String): Boolean = {
        var lo = 0; var hi = sorted.length
        while (lo < hi) {
          val mid = (lo + hi) >>> 1
          if (cmp(sorted(mid), mn) < 0) lo = mid + 1 else hi = mid
        }
        lo < sorted.length && cmp(sorted(lo), mx) <= 0
      }
      val surv = files.filter(f =>
        f.sstats.getOrElse(c, None).exists { case (mn, mx) => anyIn(mn, mx) })
      Some((surv.map(_.file).sorted, files.size))
    } else {
      if (meta.strCols.contains(c)) return None // mistyped: refuse
      def toUnit(v: Any): Option[Long] = (v, key.dataType) match {
        case (b: Byte, ByteType) => Some(b.toLong)
        case (s: Short, ShortType) => Some(s.toLong)
        case (i: Int, IntegerType) => Some(i.toLong)
        case (i: Int, DateType) => Some(i.toLong) // epoch days, the stat unit
        case (l: Long, LongType) => Some(l)
        case (l: Long, TimestampType) => Some(l) // epoch micros, ditto
        case _ => None
      }
      val ls = keys.map(toUnit)
      if (ls.exists(_.isEmpty)) return None // a dropped key would over-skip
      val sorted = ls.flatten.distinct.sorted.toArray
      def anyIn(mn: Long, mx: Long): Boolean = {
        var lo = 0; var hi = sorted.length
        while (lo < hi) {
          val mid = (lo + hi) >>> 1
          if (sorted(mid) < mn) lo = mid + 1 else hi = mid
        }
        lo < sorted.length && sorted(lo) <= mx
      }
      val surv = files.filter(f =>
        f.stats.getOrElse(c, None).exists { case (mn, mx) => anyIn(mn, mx) })
      Some((surv.map(_.file).sorted, files.size))
    }
  }

  /** [[rebuild]] for the cross-rule composition above — same exprId-
    * preserving survivor projection. */
  private[plans] def rebuildFor(rel: LogicalRelation,
                                survivors: Seq[String]): Option[LogicalPlan] =
    rebuild(rel, survivors)

  private def utcSession: Boolean =
    spark.sessionState.conf.sessionLocalTimeZone == "UTC"

  /** Flattened OR sides — shared by the harvest's union-envelope case
    * and [[survivorSet]]'s per-disjunct refinement. */
  private def disjunctsOf(e: Expression): Seq[Expression] = e match {
    case Or(l, r) => disjunctsOf(l) ++ disjunctsOf(r)
    case other => Seq(other)
  }

  /** The conjunct harvest's result: per-column long and string bounds,
    * plus the honesty bit the metadata-AGGREGATE arms gate on.
    * `dropped` is true when a conjunct whose SHAPE the harvest
    * recognizes failed to MATERIALIZE its bound — a strict comparison
    * at the Long edge (`c > Long.MaxValue` has no `v+1`), a cross-unit
    * conversion that overflowed in [[Extract.conv]], or a literal that
    * would not extract after the shape matched. For FILE PRUNING a
    * dropped bound is harmless (fewer bounds only widen the survivor
    * set; the residual keeps exactness), but for a COVERAGE claim it is
    * fatal: a "fully covered" file would contribute counts/min/max
    * although the dropped conjunct may match zero rows. The r18 gate
    * re-implemented recognition separately from the harvest and the two
    * disagreed on exactly these edges — deriving the bit from the
    * harvest itself closes the window for good (ADVICE r18, medium).
    */
  private case class Harvested(
      longB: Map[String, (Long, Long)],
      strB: Map[String, (Option[String], Option[String])],
      dropped: Boolean)

  /** Per stat column: the tightest `[lo, hi]` derivable from the
    * filter's conjuncts, in the STAT unit ([[ZoneMap.statExpr]]: epoch
    * days for dates, epoch micros for timestamps, the long image else)
    * — plus, separately, STRING bounds for string stat columns
    * (binary-collation order, inclusive on both strict and non-strict
    * comparisons, each side optional). Integer semantics make strict
    * bounds exact (`c > v` ⟺ `c ≥ v+1` in the literal's unit), with
    * overflow guarded by dropping the bound (sound: fewer bounds =
    * wider file set) — every such drop is reported via
    * [[Harvested.dropped]] so coverage-claiming consumers can refuse.
    *
    * DATE/TIMESTAMP literals carry the SAME integers Catalyst stores —
    * `Literal(days: Int, DateType)` / `Literal(micros: Long,
    * TimestampType)` — so they feed the integer-exact machinery
    * unchanged. TWO cross-unit cast shapes are accepted, both only
    * under a UTC session (any other timezone skips the conjunct —
    * sound, it stays in the residual):
    *  - `Cast(dateCol, TimestampType) ⋈ Literal(micros)` (a date
    *    column compared against a timestamp — the cast is exactly
    *    `days * MICROS_PER_DAY`): the micros bound converts to an
    *    inclusive DAY bound by ceil/floor division. An equality on a
    *    non-midnight micros value yields `ceil > floor`, an empty day
    *    range — correctly pruning everything, since no date cast to
    *    timestamp can hit it.
    *  - `Cast(tsCol, DateType) ⋈ Literal(days)` (the
    *    `to_date(ts) BETWEEN …` warehouse filter — the cast is exactly
    *    `floorDiv(micros, MICROS_PER_DAY)`): day `d` covers micros
    *    `[d·U, (d+1)·U − 1]`, so a lower day bound becomes `d·U` and
    *    an upper one `(d+1)·U − 1`; a multiplication that would
    *    overflow Long drops the bound (sound — fewer bounds only
    *    widen the file set).
    */
  private def extractBounds(cond: Expression, rel: LogicalRelation,
                            statCols: Seq[String]): Harvested = {
    val ex = new Extract(rel, statCols, utcSession)
    import ex.{conv, litVal, rawVal, sLitVal, sStatName, statName, Conv, Same}
    val utf8Ord: Ordering[String] =
      (a, b) => graft.operators.ZoneMapMeta.cmpUtf8(a, b)
    // one bound set (long + string, lower + upper); conjuncts compose
    // by INTERSECTION (greatest lower / least upper). `dropped` records
    // a recognized shape that landed no bound ([[Harvested]]).
    class Bounds {
      val lows = scala.collection.mutable.Map.empty[String, Long]
      val highs = scala.collection.mutable.Map.empty[String, Long]
      val slows = scala.collection.mutable.Map.empty[String, String]
      val shighs = scala.collection.mutable.Map.empty[String, String]
      var dropped = false
    }
    /** Harvest `cs` (a conjunction) into `b` — recursive so a
      * disjunction's sides reuse the identical case analysis. */
    def harvest(b: Bounds, cs: Seq[Expression]): Unit = {
      def lo(cd: (String, Conv), v: Long): Unit =
        conv(cd._2, v, isLo = true) match {
          case Some(x) => b.lows(cd._1) =
            math.max(b.lows.getOrElse(cd._1, Long.MinValue), x)
          case None => b.dropped = true // conv overflow: bound lost
        }
      def hi(cd: (String, Conv), v: Long): Unit =
        conv(cd._2, v, isLo = false) match {
          case Some(x) => b.highs(cd._1) =
            math.min(b.highs.getOrElse(cd._1, Long.MaxValue), x)
          case None => b.dropped = true // conv overflow: bound lost
        }
      // a recognized comparison whose literal fails to extract (the
      // attr side matched, the value side did not) lands no bound —
      // report it, same as a conv drop
      def emitL(cOpt: Option[(String, Conv)], vOpt: Option[Long])(
          f: ((String, Conv), Long) => Unit): Unit = (cOpt, vOpt) match {
        case (Some(c), Some(v)) => f(c, v)
        case _ => b.dropped = true
      }
      def emitS(cOpt: Option[String], vOpt: Option[String])(
          f: (String, String) => Unit): Unit = (cOpt, vOpt) match {
        case (Some(c), Some(v)) => f(c, v)
        case _ => b.dropped = true
      }
      def slo(c: String, v: String): Unit = // keep the GREATER lower bound
        b.slows(c) = b.slows.get(c)
          .filter(x => graft.operators.ZoneMapMeta.cmpUtf8(x, v) >= 0)
          .getOrElse(v)
      def shi(c: String, v: String): Unit = // keep the SMALLER upper bound
        b.shighs(c) = b.shighs.get(c)
          .filter(x => graft.operators.ZoneMapMeta.cmpUtf8(x, v) <= 0)
          .getOrElse(v)
      // conv-aware literal readers for the attr's own column (the
      // DecCol scale travels with the column, so decimal literals
      // rescale exactly or refuse)
      def lvFor(a: Expression, l: Expression): Option[Long] =
        statName(a).flatMap(cd => litVal(l, cd._2))
      def rvFor(a: Expression, v: Any): Option[Long] =
        statName(a).flatMap(cd => rawVal(v, cd._2))
      // guard each attr-first case on the ATTR side actually resolving,
      // or it would swallow the literal-first shape before its mirrored
      // case can run (a completeness miss, never a correctness one --
      // missing bounds only widen the file set)
      cs.foreach {
        case GreaterThanOrEqual(a, l) if statName(a).isDefined =>
          emitL(statName(a), lvFor(a, l))((c, v) => lo(c, v))
        case LessThanOrEqual(a, l) if statName(a).isDefined =>
          emitL(statName(a), lvFor(a, l))((c, v) => hi(c, v))
        case GreaterThan(a, l) if statName(a).isDefined =>
          emitL(statName(a), lvFor(a, l))((c, v) =>
            if (v < Long.MaxValue) lo(c, v + 1)
            else b.dropped = true) // no v+1 at the edge: bound lost
        case LessThan(a, l) if statName(a).isDefined =>
          emitL(statName(a), lvFor(a, l))((c, v) =>
            if (v > Long.MinValue) hi(c, v - 1)
            else b.dropped = true)
        case EqualTo(a, l) if statName(a).isDefined =>
          emitL(statName(a), lvFor(a, l))((c, v) => { lo(c, v); hi(c, v) })
        // mirrored literal-first forms
        case GreaterThanOrEqual(l, a) if statName(a).isDefined =>
          emitL(statName(a), lvFor(a, l))((c, v) => hi(c, v))
        case LessThanOrEqual(l, a) if statName(a).isDefined =>
          emitL(statName(a), lvFor(a, l))((c, v) => lo(c, v))
        case GreaterThan(l, a) if statName(a).isDefined =>
          emitL(statName(a), lvFor(a, l))((c, v) =>
            if (v > Long.MinValue) hi(c, v - 1)
            else b.dropped = true)
        case LessThan(l, a) if statName(a).isDefined =>
          emitL(statName(a), lvFor(a, l))((c, v) =>
            if (v < Long.MaxValue) lo(c, v + 1)
            else b.dropped = true)
        case EqualTo(l, a) if statName(a).isDefined &&
            lvFor(a, l).isDefined =>
          emitL(statName(a), lvFor(a, l))((c, v) => { lo(c, v); hi(c, v) })
        // IN lists prune by their ENVELOPE [min, max] -- the exact
        // per-literal file union would prune sparse lists tighter, but
        // the envelope composes with the one-interval-per-column prune
        // machinery unchanged and the residual keeps exactness either
        // way (the common warehouse shape is a run of adjacent days,
        // where the envelope IS exact). A list with any non-extractable
        // element (null, a fractional literal) is skipped whole --
        // sound. Both the literal form and the optimizer's hash-set
        // lowering (OptimizeIn rewrites lists past the conversion
        // threshold to InSet over INTERNAL values -- the same integers
        // litVal reads out of Literal: int days, long micros) extract
        // identically.
        case In(a, vs) if statName(a).isDefined && vs.nonEmpty &&
            vs.forall { case l: Literal => lvFor(a, l).isDefined
              case _ => false } =>
          for (c <- statName(a)) {
            val ls = vs.map { case l: Literal => lvFor(a, l).get }
            lo(c, ls.min); hi(c, ls.max)
          }
        case InSet(a, hset) if statName(a).isDefined && hset.nonEmpty &&
            hset.forall(rvFor(a, _).isDefined) =>
          for (c <- statName(a)) {
            val ls = hset.toSeq.map(rvFor(a, _).get)
            lo(c, ls.min); hi(c, ls.max)
          }
        // ---- STRING stat columns: the same shapes, inclusive bounds ----
        case GreaterThanOrEqual(a, l) if sStatName(a).isDefined =>
          emitS(sStatName(a), sLitVal(l))((c, v) => slo(c, v))
        case GreaterThan(a, l) if sStatName(a).isDefined =>
          emitS(sStatName(a), sLitVal(l))((c, v) => slo(c, v))
        case LessThanOrEqual(a, l) if sStatName(a).isDefined =>
          emitS(sStatName(a), sLitVal(l))((c, v) => shi(c, v))
        case LessThan(a, l) if sStatName(a).isDefined =>
          emitS(sStatName(a), sLitVal(l))((c, v) => shi(c, v))
        case EqualTo(a, l) if sStatName(a).isDefined =>
          emitS(sStatName(a), sLitVal(l))((c, v) => { slo(c, v); shi(c, v) })
        // mirrored literal-first forms
        case GreaterThanOrEqual(l, a) if sStatName(a).isDefined =>
          emitS(sStatName(a), sLitVal(l))((c, v) => shi(c, v))
        case GreaterThan(l, a) if sStatName(a).isDefined =>
          emitS(sStatName(a), sLitVal(l))((c, v) => shi(c, v))
        case LessThanOrEqual(l, a) if sStatName(a).isDefined =>
          emitS(sStatName(a), sLitVal(l))((c, v) => slo(c, v))
        case LessThan(l, a) if sStatName(a).isDefined =>
          emitS(sStatName(a), sLitVal(l))((c, v) => slo(c, v))
        case EqualTo(l, a) if sStatName(a).isDefined && sLitVal(l).isDefined =>
          emitS(sStatName(a), sLitVal(l))((c, v) => { slo(c, v); shi(c, v) })
        case In(a, vs) if sStatName(a).isDefined && vs.nonEmpty &&
            vs.forall { case l: Literal => sLitVal(l).isDefined
              case _ => false } =>
          for (c <- sStatName(a)) {
            val ls = vs.map { case l: Literal => sLitVal(l).get }
            slo(c, ls.min(utf8Ord)); shi(c, ls.max(utf8Ord))
          }
        case InSet(a, hset) if sStatName(a).isDefined && hset.nonEmpty &&
            hset.forall(_.isInstanceOf[
              org.apache.spark.unsafe.types.UTF8String]) =>
          for (c <- sStatName(a)) {
            val ls = hset.toSeq.map(_.toString)
            slo(c, ls.min(utf8Ord)); shi(c, ls.max(utf8Ord))
          }
        // ---- a DISJUNCTION prunes by the per-column UNION envelope of
        // its sides (`d BETWEEN a AND b OR d BETWEEN c AND e`, the
        // seasonal shape): each side harvests recursively, and a column
        // contributes a lower bound only when EVERY side bounds it
        // below (one unbounded side makes the union unbounded below --
        // emitting min over a subset would over-prune), symmetrically
        // above. The envelope is a SUPERSET of the disjunction's true
        // region -- per-column independence only widens further -- and
        // the kept residual restores exactness, the same
        // false-positive-only law as every bound here.
        case o: Or =>
          val sides = disjunctsOf(o).map { d =>
            val sb = new Bounds; harvest(sb, conjunctsOf(d)); sb
          }
          if (sides.exists(_.dropped)) b.dropped = true
          sides.map(_.lows.keySet).reduce(_ & _).foreach(c =>
            lo((c, Same), sides.map(_.lows(c)).min))
          sides.map(_.highs.keySet).reduce(_ & _).foreach(c =>
            hi((c, Same), sides.map(_.highs(c)).max))
          sides.map(_.slows.keySet).reduce(_ & _).foreach(c =>
            slo(c, sides.map(_.slows(c)).min(utf8Ord)))
          sides.map(_.shighs.keySet).reduce(_ & _).foreach(c =>
            shi(c, sides.map(_.shighs(c)).max(utf8Ord)))
        case _ => () // not a pruning bound -- stays in the residual
      }
    }
    val top = new Bounds
    harvest(top, conjunctsOf(cond))
    Harvested(
      (top.lows.keySet ++ top.highs.keySet).map { c =>
        c -> (top.lows.getOrElse(c, Long.MinValue),
          top.highs.getOrElse(c, Long.MaxValue))
      }.toMap,
      (top.slows.keySet ++ top.shighs.keySet).map { c =>
        c -> (top.slows.get(c), top.shighs.get(c))
      }.toMap,
      top.dropped)
  }

  /** Top-level AND conjuncts — shared by the bound and bloom
    * extractors so the one split can never drift between them. */
  private def conjunctsOf(e: Expression): Seq[Expression] = e match {
    case org.apache.spark.sql.catalyst.expressions.And(l, r) =>
      conjunctsOf(l) ++ conjunctsOf(r)
    case other => Seq(other)
  }

  /** Candidate value renderings per BLOOM column from equality/IN
    * conjuncts (`In`'s `InSet` lowering included) — exactly the
    * `cast(value as string)` the build hashed: decimal for integral
    * columns, the raw string for string ones, the ISO forms for DATE
    * and TIMESTAMP columns ([[ZoneMapRender]] — the driver twins of
    * the cast's own formatters, parity-pinned in `ZoneMapSpec` against
    * Spark's cast over a value matrix, because a mismatched rendering
    * would wrongly DROP files). A date/timestamp InSet element is a
    * bare int/long (epoch days/micros) routed through the ATTRIBUTE's
    * type, never its decimal rendering. Timestamp columns participate
    * only under a UTC session — cast(ts as string) is session-zone
    * text, and [[graft.operators.ZoneMap.buildZoneMap]] refuses to
    * build a timestamp bloom under anything else, so build and probe
    * agree by construction; any out-of-range or unrecognized value
    * contributes nothing (blooms only ever drop provable non-matches,
    * partial extraction is sound). Each conjunct is its own predicate
    * (AND across conjuncts); a file passes one when ANY of its
    * candidate values might be present (IN semantics).
    */
  private def extractBloomValues(cond: Expression, rel: LogicalRelation,
                                 bloomCols: Seq[String])
      : Seq[(String, Seq[String])] = {
    if (bloomCols.isEmpty) return Seq.empty
    val relIds = rel.output.map(a => a.exprId -> a.name).toMap
    val utc = utcSession
    def bAttr(e: Expression): Option[AttributeReference] = e match {
      case a: AttributeReference
          if relIds.get(a.exprId).exists(bloomCols.contains) &&
            (a.dataType match {
              case StringType | DateType => true
              case TimestampType => utc
              case ByteType | ShortType | IntegerType | LongType => true
              case _ => false
            }) =>
        Some(a)
      case _ => None
    }
    def render(e: Expression): Option[String] = e match {
      case Literal(v: Byte, ByteType) => Some(v.toString)
      case Literal(v: Short, ShortType) => Some(v.toString)
      case Literal(v: Int, IntegerType) => Some(v.toString)
      case Literal(v: Long, LongType) => Some(v.toString)
      case Literal(v: Int, DateType) => ZoneMapRender.date(v)
      case Literal(v: Long, TimestampType) => ZoneMapRender.timestampUtc(v)
      case Literal(v, StringType) if v != null => Some(v.toString)
      case _ => None
    }
    // InSet elements are bare internal values — the attribute's type
    // decides the rendering (an Int is a DAY NUMBER on a date column,
    // a decimal string would never match the build's ISO hash)
    def renderRaw(v: Any, dt: org.apache.spark.sql.types.DataType)
        : Option[String] = (v, dt) match {
      case (i: Int, DateType) => ZoneMapRender.date(i)
      case (l: Long, TimestampType) => ZoneMapRender.timestampUtc(l)
      case (b: Byte, _) => Some(b.toString)
      case (s: Short, _) => Some(s.toString)
      case (i: Int, _) => Some(i.toString)
      case (l: Long, _) => Some(l.toString)
      case (u: org.apache.spark.unsafe.types.UTF8String, _) =>
        Some(u.toString)
      case _ => None
    }
    conjunctsOf(cond).flatMap {
      case EqualTo(a, l) if bAttr(a).isDefined =>
        for (c <- bAttr(a); v <- render(l)) yield (c.name, Seq(v))
      case EqualTo(l, a) if bAttr(a).isDefined && render(l).isDefined =>
        for (c <- bAttr(a); v <- render(l)) yield (c.name, Seq(v))
      case In(a, vs) if bAttr(a).isDefined && vs.nonEmpty &&
          vs.forall { case l: Literal => render(l).isDefined
            case _ => false } =>
        bAttr(a).map(c =>
          (c.name, vs.map { case l: Literal => render(l).get }))
      case InSet(a, hset) if bAttr(a).isDefined && hset.nonEmpty &&
          hset.forall(renderRaw(_, bAttr(a).get.dataType).isDefined) =>
        bAttr(a).map(c =>
          (c.name, hset.toSeq.flatMap(renderRaw(_, c.dataType))))
      case _ => None
    }
  }

  /** Shared bound-extraction helpers for one (relation, statCols) pair
    * — the single case analysis both the conjunct harvest
    * ([[extractBounds]]) and the per-literal IN refinement
    * ([[inUnion]]) read, so the two can never drift on which shapes
    * extract or how a literal's unit converts to the stat unit.
    */
  private final class Extract(rel: LogicalRelation, statCols: Seq[String],
                              utc: Boolean) {
    private val relIds = rel.output.map(a => a.exprId -> a.name).toMap
    private val MicrosPerDay = 86400000000L

    // how an inclusive bound in the LITERAL's unit converts to an
    // inclusive bound in the STAT unit — identity except for the two
    // cross-unit cast shapes (finer literal: ceil/floor division;
    // coarser literal: day-start/day-end multiplication). DecCol marks
    // a DECIMAL stat column (p ≤ 18 — unscaled-long stat unit): the
    // conversion itself is identity, but the LITERAL extraction is
    // scale-aware ([[litVal]] rescales exactly or refuses), and the
    // identity-unit consumers (sum/min-max/group-key columns, IN sets)
    // accept it alongside [[Same]] via [[identityConv]]
    sealed trait Conv
    case object Same extends Conv
    case class DecCol(scale: Int) extends Conv // decimal col, unscaled unit
    case object MicrosOverDays extends Conv // micros literal, day stats
    case object DaysOverMicros extends Conv // day literal, micros stats

    /** The convs whose stat unit maps values 1:1 (the long image IS the
      * value, or its unscaled image at one fixed scale). */
    def identityConv(cc: Conv): Boolean = cc match {
      case Same | DecCol(_) => true
      case _ => false
    }

    def isStat(a: AttributeReference): Boolean =
      relIds.get(a.exprId).exists(statCols.contains)

    def statName(e: Expression): Option[(String, Conv)] = e match {
      // bare STRING attrs route to the string machinery ([[sStatName]];
      // casts only ever target the integer-image types). DECIMAL attrs
      // carry their scale (p ≤ 18 only — a wider unscaled value
      // exceeds the long stat unit and such columns refuse at build
      // anyway); comparisons whose coercion CASTS the decimal column
      // (a finer-scaled literal) fall through unrecognized — sound,
      // the conjunct stays in the residual
      case a: AttributeReference if isStat(a) => a.dataType match {
        case StringType => None
        case d: DecimalType =>
          if (d.precision <= 18) Some((a.name, DecCol(d.scale))) else None
        case _ => Some((a.name, Same))
      }
      // the widening cast is only identity-in-the-stat-unit when the
      // SOURCE is an integral type: cast(strStatCol as long) would put
      // a long-image bound on a STRING stat column (mistyped prune —
      // and the zone-table fallback's implicit cast nulls non-numeric
      // strings, wrongly DROPPING files), and cast(ts as long) yields
      // epoch SECONDS, not the micros the stats store — an upper bound
      // in seconds would over-prune. Both skip the conjunct (sound: it
      // stays in the residual).
      case Cast(a: AttributeReference, LongType, _, _)
          if isStat(a) && (a.dataType match {
            case ByteType | ShortType | IntegerType | LongType => true
            case _ => false
          }) =>
        Some((a.name, Same))
      case Cast(a: AttributeReference, TimestampType, _, _)
          if a.dataType == DateType && isStat(a) && utc =>
        Some((a.name, MicrosOverDays))
      case Cast(a: AttributeReference, DateType, _, _)
          if a.dataType == TimestampType && isStat(a) && utc =>
        Some((a.name, DaysOverMicros))
      case _ => None
    }

    def litVal(e: Expression): Option[Long] = e match {
      case Literal(v: Byte, ByteType) => Some(v.toLong)
      case Literal(v: Short, ShortType) => Some(v.toLong)
      case Literal(v: Int, IntegerType) => Some(v.toLong)
      case Literal(v: Long, LongType) => Some(v)
      case Literal(v: Int, DateType) => Some(v.toLong) // epoch days
      case Literal(v: Long, TimestampType) => Some(v) // epoch micros
      case _ => None
    }

    /** Conv-aware literal extraction: a [[DecCol]] column's literal is
      * a Decimal whose value rescales EXACTLY to the column's scale
      * (coercion usually equalizes the scales already — a coarser
      * literal like the folded `price >= 500` rescales up exactly; a
      * finer one would have CAST the column and never reaches here),
      * yielding the unscaled long that IS the stat unit; anything
      * inexact or out of long range refuses, the conjunct stays in
      * the residual. Every other conv reads the integral forms. */
    def litVal(e: Expression, cc: Conv): Option[Long] = cc match {
      case DecCol(s) => e match {
        case Literal(d: Decimal, _) if d != null => rescaleDec(d, s)
        case _ => None
      }
      case _ => litVal(e)
    }

    def rawVal(v: Any, cc: Conv): Option[Long] = cc match {
      case DecCol(s) => v match {
        case d: Decimal => rescaleDec(d, s)
        case _ => None
      }
      case _ => rawVal(v)
    }

    private def rescaleDec(d: Decimal, s: Int): Option[Long] =
      try {
        val bd = d.toJavaBigDecimal.setScale(s) // throws if it would round
        val u = bd.unscaledValue()
        if (u.bitLength() <= 63) Some(u.longValueExact()) else None
      } catch { case _: ArithmeticException => None }

    // InSet elements are bare INTERNAL values (no Literal wrapper, no
    // dataType to hand) — but for every type statName admits, the
    // internal rep is exactly one of these integrals (int days for
    // dates, long micros for timestamps); a fractional/decimal/string
    // element returns None and skips its conjunct
    def rawVal(v: Any): Option[Long] = v match {
      case b: Byte => Some(b.toLong)
      case s: Short => Some(s.toLong)
      case i: Int => Some(i.toLong)
      case l: Long => Some(l)
      case _ => None
    }

    // STRING stat columns: binary-collation bounds, INCLUSIVE on both
    // strict and non-strict comparisons (there is no "+1" on strings;
    // widening a strict bound to inclusive is sound — the residual
    // keeps strictness) — compared in UTF-8 byte order, the order the
    // stats were aggregated under ([[graft.operators.ZoneMapMeta
    // .cmpUtf8]])
    def sStatName(e: Expression): Option[String] = e match {
      case a: AttributeReference
          if isStat(a) && a.dataType == StringType => Some(a.name)
      case _ => None
    }

    def sLitVal(e: Expression): Option[String] = e match {
      case Literal(v, StringType) if v != null => Some(v.toString)
      case _ => None
    }

    // inclusive literal-unit bound -> inclusive stat-unit bound:
    //  - MicrosOverDays: day*U >= v <=> day >= ceil(v/U); day*U <= v <=>
    //    day <= floor(v/U) (Math.floorDiv is exact floor, no overflow)
    //  - DaysOverMicros: floorDiv(m,U) >= d <=> m >= d*U; floorDiv(m,U)
    //    <= d <=> m <= (d+1)*U - 1 (exact-arithmetic overflow drops the
    //    bound -- sound, the conjunct stays in the residual)
    def conv(cc: Conv, v: Long, isLo: Boolean): Option[Long] = cc match {
      case Same | DecCol(_) => Some(v) // litVal already rescaled exactly
      case MicrosOverDays =>
        Some(if (isLo) Math.floorDiv(v, MicrosPerDay) +
          (if (Math.floorMod(v, MicrosPerDay) == 0) 0 else 1)
        else Math.floorDiv(v, MicrosPerDay))
      case DaysOverMicros =>
        try Some(
          if (isLo) Math.multiplyExact(v, MicrosPerDay)
          else Math.subtractExact(
            Math.multiplyExact(Math.addExact(v, 1L), MicrosPerDay), 1L))
        catch { case _: ArithmeticException => None } // overflow: drop
    }
  }

  /** The survivor-file relation, projected back to the original
    * attribute names AND ids so the residual filter and everything
    * above resolve unchanged; None if the survivor schema ever fails to
    * line up (never expected — same parquet files).
    */
  private def rebuild(rel: LogicalRelation,
                      survivors: Seq[String]): Option[LogicalPlan] = {
    val fresh = spark.read.parquet(survivors: _*).queryExecution.analyzed
    val byName = fresh.output.map(a => a.name -> a).toMap
    val aliases = rel.output.map { old =>
      byName.get(old.name).filter(_.dataType == old.dataType)
        .map(na => Alias(na, old.name)(exprId = old.exprId))
    }
    if (aliases.exists(_.isEmpty)) None
    else Some(Project(aliases.flatten, fresh))
  }
}

/** Driver-side twins of `cast(value as string)` for DATE and TIMESTAMP
  * — the renderings [[graft.operators.Bloom.posLocal]] must hash to
  * reproduce the executor-side [[graft.operators.Bloom.pos]] positions
  * bit for bit. Spark renders dates as proleptic-Gregorian ISO
  * `yyyy-MM-dd` and timestamps as session-zone
  * `yyyy-MM-dd HH:mm:ss[.f…]` with the microsecond fraction's trailing
  * zeros trimmed (absent when zero). Both twins return None OUTSIDE
  * years 1–9999 — Spark pads/signs wider years differently, and a
  * wrong rendering would wrongly DROP files, so out-of-range values
  * simply decline to participate (sound: the bloom predicate is pure
  * selectivity). `ZoneMapSpec` pins both against Spark's actual cast
  * over a value matrix.
  */
private[graft] object ZoneMapRender {

  private val MinDay = java.time.LocalDate.of(1, 1, 1).toEpochDay
  private val MaxDay = java.time.LocalDate.of(9999, 12, 31).toEpochDay

  /** ISO `yyyy-MM-dd` for an epoch day, years 1–9999. */
  def date(days: Int): Option[String] =
    if (days < MinDay || days > MaxDay) None
    else Some(java.time.LocalDate.ofEpochDay(days.toLong).toString)

  /** `yyyy-MM-dd HH:mm:ss[.f…]` for epoch micros rendered in UTC —
    * only valid when the session zone IS UTC (callers gate on it). */
  def timestampUtc(micros: Long): Option[String] = {
    val secs = Math.floorDiv(micros, 1000000L)
    val frac = Math.floorMod(micros, 1000000L).toInt
    val ldt = java.time.LocalDateTime.ofEpochSecond(secs, frac * 1000,
      java.time.ZoneOffset.UTC)
    if (ldt.getYear < 1 || ldt.getYear > 9999) None
    else {
      val base = f"${ldt.getYear}%04d-${ldt.getMonthValue}%02d-" +
        f"${ldt.getDayOfMonth}%02d ${ldt.getHour}%02d:" +
        f"${ldt.getMinute}%02d:${ldt.getSecond}%02d"
      val trimmed = f"$frac%06d".reverse.dropWhile(_ == '0').reverse
      Some(if (trimmed.isEmpty) base else s"$base.$trimmed")
    }
  }
}
