package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** INCREMENTAL MATERIALIZED JOIN-VIEW STORE — the view
  * `V = SELECT grp, count(*), sum(v) FROM A JOIN B USING (key) GROUP BY
  * grp` maintained as a lakehouse table under INSERT-ONLY increments to
  * BOTH sides, the join member of the increment discipline (aggregate:
  * [[AggStore]]; clusters: q284; ANN: q275): at 100 TB "revenue per
  * customer across orders ⋈ lineitems" re-derived daily should pay the
  * DAY's join, not the corpus's join.
  *
  * THE DELTA RULE, factored per join key. A pair (a-row, b-row)
  * contributes `(1, v_b)` to its a-row's group, so per `(key, grp)` the
  * view's contribution is `na(key, grp) · (nb(key), vb(key))` where
  * `na` counts a-rows and `(nb, vb)` aggregate b-rows of that key. An
  * increment changes only the keys it touches, so
  *
  *   ΔV(grp) = Σ_touched-keys  na_new·nb_new − na_old·nb_old   (counts)
  *             Σ_touched-keys  na_new·vb_new − na_old·vb_old   (sums)
  *
  * — algebraically identical to the textbook three-term rule
  * `ΔA⋈B ∪ A⋈ΔB ∪ ΔA⋈ΔB` (expand the products), but computed as ONE
  * join of the touched keys' old+new side states instead of three. All
  * arithmetic is the exact integer monoid, so increment-merge equals
  * the full recompute bit-for-bit in any merge order (q312's oracle
  * hash-proves it; `ViewStoreSpec` pins the laws).
  *
  * STATE. Three [[GenStore]] substores under one root, each with its
  * own manifest, history, and applied-id ledger:
  *  - `path/a`:    `(key, grp, na)` — a-side tuple counts, bucketed by
  *    `pmod(xxhash64(key), nBuckets)` (the JOIN key: a merge reads only
  *    the buckets holding incremented keys);
  *  - `path/b`:    `(key, nb, vb)` — b-side per-key count/sum, same
  *    bucketing (the compressed b-state: the view never needs b rows,
  *    only their per-key aggregates);
  *  - `path/view`: `(key, cnt, total)` with `key` = the GROUP value,
  *    bucketed by it (maintenance rewrites rows by which group
  *    changed).
  * A merge READS ≤ |increment keys| side buckets (the pre-increment
  * states the delta rule needs) and WRITES only the increment itself:
  * deltas land as LSM SEGMENTS under their buckets
  * ([[GenStore.mergeAdditive]]), folded at read time by the same exact
  * monoid, auto-compacted past a segment threshold and on demand by
  * [[compactJoinView]] — so a hot group's bucket is never rewritten
  * wholesale per batch, the write amplification that would kill a
  * streaming feed into a 100 TB view. Untouched buckets are never
  * read, listed, or rewritten, and readers holding a previous manifest
  * keep scanning byte-identical files. Time travel, retention vacuum,
  * audit diff, and pointer-only rollback come from [[GenStore]] per
  * substore.
  *
  * EXACTLY-ONCE ACROSS THREE MANIFESTS. A join-view increment is not
  * idempotent (a replayed batch double-counts), and one call commits
  * three stores — so each substore's ledger carries the `appliedId`,
  * and the VIEW leg commits FIRST; the two side legs then commit
  * CONCURRENTLY ([[GenStore.inParallel]] — each is a deterministic
  * function of the increment and its OWN ledger, so they are
  * order-free between themselves). The view delta is a function of
  * the increment and the PRE-increment side states, and sides mutate
  * only after the view committed; so a crash replay at any point is
  * safe: legs whose ledger already holds the id skip (their inputs
  * are gone from the others' perspective only AFTER their own
  * commit), legs that never committed recompute from side states
  * that are still pre-increment — and any committed SUBSET of the two
  * sides replays identically (committed side skips, the other
  * recomputes the same increment-only delta). Between a view commit and the
  * b commit the view is ahead of the side states by one batch — the
  * sides are maintenance-internal state, not a user surface, and the
  * single-maintenance-writer contract means the retry completes before
  * the next batch.
  *
  * PURGE + SUPPRESSION (the [[Purge]] contract on a three-store view):
  * erasing a GROUP must erase its view row, its a-rows, and the b-rows
  * of join keys that become ORPHANED (no surviving a-row — for
  * orders ⋈ lineitems per customer, exactly the subject's lineitems; a
  * key shared with a surviving group keeps its b-rows, which are that
  * group's data too). Because the merge treats absent keys as new, a
  * replayed committed batch or an upstream re-send would re-ingest the
  * purged subject from its own payload — the r14 log-merge-store
  * lesson — so the purge writes SUPPRESSION LISTS first
  * (`_purged/groups`, `_purged/keys`), which every merge anti-joins
  * before touching state; [[readmitJoinViewGroups]] reverses the group
  * suppression on re-consent (erased KEYS stay suppressed: their
  * orphanhood was computed at erasure and cannot be re-derived).
  *
  * Ref: the reference joins fetched papers to their extracted metrics
  * and aggregates per run (airflow/dags/zara_hybrid_etl.py:211-258);
  * re-expressed as a maintained join view rather than a per-run dict.
  */
object ViewStore {

  /** EXTREMA views additionally serve `min(v)`/`max(v)` per group —
    * exact long min/max, valid under the store's existing INSERT-ONLY
    * contract (the [[AggStore]] extrema argument pushed through a
    * join): a group's min over A⋈B is the min over its join keys k
    * (with `na(k, grp) ≥ 1`) of the b-side per-key min — multiplicity
    * never moves an extremum — and under insert-only increments both
    * levels are least/greatest monoids, folded by [[GenStore.FoldMin]]/
    * [[GenStore.FoldMax]] across LSM segments. Marked by a one-file
    * manifest written BEFORE the first build commit (idempotent
    * re-mark on a crashed build; a merge can never mis-detect the
    * schema).
    */
  def hasExtrema(spark: SparkSession, path: String): Boolean =
    Snapshot.dirExists(spark, s"$path/EXTREMA")

  private def bFolds(extrema: Boolean): Seq[(String, GenStore.Fold)] =
    GenStore.sums(Seq("nb", "vb")) ++
      (if (extrema) Seq("vmin" -> (GenStore.FoldMin: GenStore.Fold),
        "vmax" -> (GenStore.FoldMax: GenStore.Fold)) else Seq.empty)

  private def viewFolds(extrema: Boolean): Seq[(String, GenStore.Fold)] =
    GenStore.sums(Seq("cnt", "total")) ++
      (if (extrema) Seq("vmin" -> (GenStore.FoldMin: GenStore.Fold),
        "vmax" -> (GenStore.FoldMax: GenStore.Fold)) else Seq.empty)

  /** `(key, grp, na)` from raw a-side rows. */
  private def aggA(rows: DataFrame, keyCol: String, grpCol: String): DataFrame =
    rows.select(col(keyCol).as("key"),
        when(col(grpCol).isNull, raise_error(lit(
          "join-view groups must be non-null")).cast("long"))
          .otherwise(col(grpCol).cast("long")).as("grp"))
      .groupBy(col("key"), col("grp"))
      .agg(count(lit(1)).as("na"))

  /** `(key, nb, vb)` — plus `(vmin, vmax)` for extrema stores — from
    * raw b-side rows. */
  private def aggB(rows: DataFrame, keyCol: String, valCol: String,
                   extrema: Boolean): DataFrame = {
    val g = rows
      .select(col(keyCol).as("key"), col(valCol).cast("long").as("__v"))
      .groupBy(col("key"))
    if (!extrema) g.agg(count(lit(1)).as("nb"), sum(col("__v")).as("vb"))
    else g.agg(count(lit(1)).as("nb"), sum(col("__v")).as("vb"),
      min(col("__v")).as("vmin"), max(col("__v")).as("vmax"))
  }

  // ---- substore plumbing (one bucket convention for all three: hash of
  // the substore's own `key` column) ----

  /** The FOLDED state of a substore ([[GenStore.foldRead]] — merges
    * land as LSM segments, so a key's state is the sum over them);
    * empty-with-schema when the substore has no entries yet (a
    * legitimately empty side or view).
    */
  private def readSub(spark: SparkSession, subPath: String,
                      idCols: Seq[String], sumCols: Seq[String],
                      template: DataFrame): DataFrame = {
    val m = GenStore.read(spark, subPath).getOrElse(
      throw new IllegalArgumentException(s"not a join-view substore: $subPath"))
    if (m.entries.isEmpty)
      template.select((idCols ++ sumCols).map(col): _*).limit(0)
    else GenStore.foldRead(spark, subPath, m.entries, idCols, sumCols)
  }

  /** The per-(key, grp) view contribution of one side-state pair —
    * extrema stores also carry the b-side per-key min/max through
    * (null when the key has no b rows; min/max aggregation skips it). */
  private def contributions(aState: DataFrame, bState: DataFrame,
                            extrema: Boolean): DataFrame = {
    val base = Seq(col("key"), col("grp"),
      (col("na") * coalesce(col("nb"), lit(0L))).as("cnt"),
      (col("na") * coalesce(col("vb"), lit(0L))).as("total"))
    val ext = if (extrema) Seq(col("vmin"), col("vmax")) else Seq.empty
    aState.join(bState, Seq("key"), "left").select(base ++ ext: _*)
  }

  /** Per-group view rows from contributions: counts/sums add, extrema
    * fold by min/max over the group's keys. */
  private def viewOf(contrib: DataFrame, extrema: Boolean): DataFrame = {
    val aggs = Seq(sum(col("cnt")).as("cnt"), sum(col("total")).as("total")) ++
      (if (extrema) Seq(min(col("vmin")).as("vmin"),
        max(col("vmax")).as("vmax")) else Seq.empty)
    contrib.filter(col("cnt") =!= 0L)
      .groupBy(col("grp").as("key"))
      .agg(aggs.head, aggs.tail: _*)
  }

  /** Build (or rebuild) the view store from full sides. A rebuild over
    * an existing store is a mutation like any other per substore —
    * fresh generations, manifest swaps, ledgers carried forward.
    */
  def buildJoinView(a: DataFrame, b: DataFrame, path: String,
                    aKeyCol: String, aGrpCol: String,
                    bKeyCol: String, bValCol: String,
                    nBuckets: Int = 16,
                    appliedId: Option[String] = None,
                    extrema: Boolean = false): Unit = {
    require(nBuckets >= 1, s"nBuckets must be positive, got $nBuckets")
    val spark = a.sparkSession
    // a rebuild must not silently change the store's shape
    require(!joinViewExists(spark, path) ||
      extrema == hasExtrema(spark, path),
      s"view store at $path is ${if (hasExtrema(spark, path)) "" else "not "}" +
        "an extrema store — rebuild with the matching flag or use a new path")
    if (extrema) Snapshot.writeLines(spark, s"$path/EXTREMA", Seq("v1"))
    // each side's aggregate state materializes ONCE (eager checkpoint):
    // the view commit reads BOTH (the contributions join) and each side
    // commit reads its own — a lazy aSt/bSt made the three commitGen
    // writes re-run aggA twice and aggB twice from the raw sides
    // (guide §1.2: remove the wasted passes before anything else).
    // Bounded: the per-key aggregated side states, not the raw sides.
    // The two materializations are independent aggregations of
    // different inputs and OVERLAP ([[GenStore.inParallel]], §2.6).
    val sts = GenStore.inParallel(Seq(
      () => aggA(a, aKeyCol, aGrpCol).localCheckpoint(true),
      () => aggB(b, bKeyCol, bValCol, extrema).localCheckpoint(true)))
    val (aSt, bSt) = (sts(0), sts(1))
    try {
      {
        val view = viewOf(contributions(aSt, bSt, extrema), extrema)
        def commit(sub: String, rows: DataFrame): Unit = {
          val p = GenStore.read(spark, s"$path/$sub")
          GenStore.commitGen(spark, s"$path/$sub", rows, nBuckets,
            p.map(_.applied).getOrElse(Seq.empty), p.map(_.gen).getOrElse(0L),
            Seq.empty, appliedId)
        }
        // view FIRST (the merge-path ordering invariant, kept for the
        // build too); the side commits are independent writes of the
        // two checkpointed states and overlap ([[GenStore.inParallel]]
        // — a crash leaves a subset, joinViewExists probes all three,
        // and the idempotent re-build heals any subset)
        commit("view", view)
        GenStore.inParallel(Seq(
          () => commit("a", aSt), () => commit("b", bSt)))
      }
    } finally { GenStore.freeLocal(aSt); GenStore.freeLocal(bSt) }
    // freshness fingerprint for the MV rewrite — both bases' files,
    // strictly AFTER the commits ([[BaseFiles]] ordering argument); a
    // build RESETS it (stale names would trip the shrinkage check
    // after a legitimate base compaction)
    BaseFiles.reset(spark, path,
      a.inputFiles.toSeq ++ b.inputFiles.toSeq)
  }

  /** Is there a committed view store at `path`? ALL THREE substores
    * must have manifests — a crash mid-build leaves a prefix of the
    * view → a → b sequence, and the streaming sink's replay must then
    * re-BUILD (idempotent by content: same first batch, fresh
    * generations), not merge against missing sides.
    */
  def joinViewExists(spark: SparkSession, path: String): Boolean =
    Seq("view", "a", "b").forall(sub =>
      GenStore.read(spark, s"$path/$sub").isDefined)

  private def suppressed(df: DataFrame, spark: SparkSession,
                         listPath: String, onCol: String): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(listPath)
    if (!p.getFileSystem(spark.sessionState.newHadoopConf()).exists(p)) df
    else df.join(
      broadcast(spark.read.parquet(listPath).select(col(onCol)).distinct()),
      Seq(onCol), "left_anti")
  }

  /** Merge one increment — new a-rows AND new b-rows in the same batch
    * (either may be empty) — by the factored delta rule. Cost ∝ the
    * increment plus the side/view buckets it touches, never the store.
    * `appliedId` is the exactly-once handle; see the class doc for the
    * three-ledger crash-replay argument. Purged subjects are filtered
    * against the suppression lists BEFORE any state is read.
    */
  def mergeIntoJoinView(da: DataFrame, db: DataFrame, path: String,
                        aKeyCol: String, aGrpCol: String,
                        bKeyCol: String, bValCol: String,
                        appliedId: Option[String] = None): Unit = {
    val spark = da.sparkSession
    val mView = GenStore.read(spark, s"$path/view").getOrElse(
      throw new IllegalArgumentException(s"not a join-view store: $path"))
    val mA = GenStore.read(spark, s"$path/a").getOrElse(
      throw new IllegalArgumentException(s"join-view a-substore missing: $path"))
    val mB = GenStore.read(spark, s"$path/b").getOrElse(
      throw new IllegalArgumentException(s"join-view b-substore missing: $path"))
    if (appliedId.exists(id => mView.applied.contains(id) &&
      mA.applied.contains(id) && mB.applied.contains(id))) return // replay
    val nBuckets = mView.nBuckets
    val extrema = hasExtrema(spark, path)

    val daS = suppressed(
      da.select(col(aKeyCol).as("key"), col(aGrpCol).cast("long").as("grp")),
      spark, s"$path/_purged/groups", "grp")
    val dbS = suppressed(
      db.select(col(bKeyCol).as("key"), col(bValCol).as(bValCol)),
      spark, s"$path/_purged/keys", "key")
    // independent delta aggregations of different inputs — overlapped
    // like the build's side states ([[GenStore.inParallel]], §2.6)
    val ds = GenStore.inParallel(Seq(
      () => aggA(daS, "key", "grp").localCheckpoint(true),
      () => aggB(dbS, "key", bValCol, extrema).localCheckpoint(true)))
    val (dA, dB) = (ds(0), ds(1))
    try {
      val touchedKeys = dA.select(col("key"))
        .union(dB.select(col("key"))).distinct().localCheckpoint(true)
      try {
        // one bucket set serves both sides (same hash, same nBuckets)
        val touched = touchedKeys.select(GenStore.bucketOfKey(nBuckets).as("bucket"))
          .distinct().collect().map(_.getLong(0)).toSet // ≤ nBuckets
        // a side's PRE-increment state: touched buckets only, semi-join
        // FIRST (rows ∝ the increment's keys), then fold the LSM
        // segments to per-identity state ([[GenStore.foldRead]])
        def oldSide(m: GenStore.Manifest, sub: String, idCols: Seq[String],
                    folds: Seq[(String, GenStore.Fold)],
                    template: DataFrame): DataFrame = {
          val cols = idCols ++ folds.map(_._1)
          val es = m.entries.filter(e => touched.contains(e._1))
          if (es.isEmpty) template.select(cols.map(col): _*).limit(0)
          else {
            val aggs = folds.map { case (c, f) => f.agg(col(c)).as(c) }
            // the semi-join probe stays UNHINTED: since Spark 3.4
            // (SPARK-39834) the checkpoint's LogicalRDD keeps the origin
            // plan's stats, so the planner sizes the increment-bounded
            // key set itself (broadcast when small, shuffle past the
            // comfort bound). Forcing broadcast(touchedKeys) behind a
            // counted row gate was tried and REVERTED: the extra count
            // job + hint measured q343 ~15% slower in 4/4 interleaved
            // A/Bs at sf0.1 while buying nothing the stats don't already
            GenStore.readBucketDirs(spark, s"$path/$sub", es)
              .select(cols.map(col): _*)
              .join(touchedKeys, Seq("key"), "left_semi")
              .groupBy(idCols.map(col): _*)
              .agg(aggs.head, aggs.tail: _*)
          }
        }
        if (appliedId.forall(id => !mView.applied.contains(id))) {
          // leg 1 — the VIEW, from the PRE-increment side states
          val aOld = oldSide(mA, "a", Seq("key", "grp"),
            GenStore.sums(Seq("na")), dA)
          val bOld = oldSide(mB, "b", Seq("key"), bFolds(extrema), dB)
          val aPair = aOld
            .join(dA.select(col("key"), col("grp"), col("na").as("dna")),
              Seq("key", "grp"), "full_outer")
            .select(col("key"), col("grp"),
              coalesce(col("na"), lit(0L)).as("na_old"),
              (coalesce(col("na"), lit(0L)) + coalesce(col("dna"), lit(0L)))
                .as("na_new"))
          // extrema fold POST-increment: least/greatest are null-skipping,
          // so a one-sided key takes the present side — the per-key
          // min/max AFTER this batch, which is what the group candidates
          // below must see (the insert-only monoid argument: the key's
          // LAST touch emits its final extrema for every group it is in)
          val bExtCols =
            if (!extrema) Seq.empty
            else Seq(least(col("vmin"), col("dvmin")).as("vmin_new"),
              greatest(col("vmax"), col("dvmax")).as("vmax_new"))
          val dbCols = Seq(col("key"), col("nb").as("dnb"),
            col("vb").as("dvb")) ++
            (if (extrema) Seq(col("vmin").as("dvmin"),
              col("vmax").as("dvmax")) else Seq.empty)
          val bPair = bOld
            .join(dB.select(dbCols: _*), Seq("key"), "full_outer")
            .select(Seq(col("key"),
              coalesce(col("nb"), lit(0L)).as("nb_old"),
              coalesce(col("vb"), lit(0L)).as("vb_old"),
              (coalesce(col("nb"), lit(0L)) + coalesce(col("dnb"), lit(0L)))
                .as("nb_new"),
              (coalesce(col("vb"), lit(0L)) + coalesce(col("dvb"), lit(0L)))
                .as("vb_new")) ++ bExtCols: _*)
          // every aPair row has na_new >= 1, so each is an extrema
          // candidate for its group: min/max over candidates folds with
          // the stored segments by the same least/greatest monoid
          val deltaAggs =
            Seq(sum(col("dcnt")).as("cnt"), sum(col("dtot")).as("total")) ++
              (if (extrema) Seq(min(col("vmin_new")).as("vmin"),
                max(col("vmax_new")).as("vmax")) else Seq.empty)
          val deltaSel = Seq(col("grp"),
            (col("na_new") * coalesce(col("nb_new"), lit(0L)) -
              col("na_old") * coalesce(col("nb_old"), lit(0L))).as("dcnt"),
            (col("na_new") * coalesce(col("vb_new"), lit(0L)) -
              col("na_old") * coalesce(col("vb_old"), lit(0L))).as("dtot")) ++
            (if (extrema) Seq(col("vmin_new"), col("vmax_new"))
            else Seq.empty)
          val viewDelta = aPair.join(bPair, Seq("key"), "left")
            .select(deltaSel: _*)
            .groupBy(col("grp").as("key"))
            .agg(deltaAggs.head, deltaAggs.tail: _*)
            .filter(col("cnt") =!= 0L || col("total") =!= 0L)
          GenStore.mergeAdditiveWith(spark, s"$path/view", viewDelta,
            Seq("key"), viewFolds(extrema), appliedId)
        }
        // legs 2/3 — the sides, from the increment alone. They commit
        // strictly AFTER the view leg (which read their PRE-increment
        // state) but are independent of EACH OTHER — each is a
        // deterministic function of the increment and its OWN ledger —
        // so they overlap ([[GenStore.inParallel]]): a crash leaving
        // either subset committed replays exactly like the old
        // sequential order's crash states (committed legs skip via
        // their ledger, uncommitted legs recompute the same delta).
        GenStore.inParallel(Seq(
          () => GenStore.mergeAdditive(spark, s"$path/a",
            dA.select(col("key"), col("grp"), col("na")),
            Seq("key", "grp"), Seq("na"), appliedId),
          () => GenStore.mergeAdditiveWith(spark, s"$path/b", dB, Seq("key"),
            bFolds(extrema), appliedId)))
      } finally GenStore.freeLocal(touchedKeys)
    } finally { GenStore.freeLocal(dA); GenStore.freeLocal(dB) }
    // freshness fingerprint AFTER all three legs ([[BaseFiles]])
    BaseFiles.record(spark, path,
      da.inputFiles.toSeq ++ db.inputFiles.toSeq)
  }

  /** The materialized view, `(key, cnt, total)` — `key` is the group;
    * folded over the LSM segments ([[GenStore.foldRead]]). Works on an
    * extrema store too (the extra columns are simply not selected). */
  def readJoinView(spark: SparkSession, path: String): DataFrame = {
    val m = GenStore.read(spark, s"$path/view").getOrElse(
      throw new IllegalArgumentException(s"not a join-view store: $path"))
    if (m.entries.isEmpty)
      spark.range(0).select(col("id").as("key"), col("id").as("cnt"),
        col("id").as("total")).limit(0)
    else GenStore.foldRead(spark, s"$path/view", m.entries,
      Seq("key"), Seq("cnt", "total"))
  }

  /** The extrema view, `(key, cnt, total, vmin, vmax)` — loud on a
    * store built without `extrema = true`. `vmin`/`vmax` are null for
    * a group none of whose keys ever had b rows (no joined rows — such
    * groups are filtered at build/merge, so in practice non-null). */
  def readJoinViewExtrema(spark: SparkSession, path: String): DataFrame = {
    require(hasExtrema(spark, path),
      s"view store at $path was not built with extrema = true")
    val m = GenStore.read(spark, s"$path/view").getOrElse(
      throw new IllegalArgumentException(s"not a join-view store: $path"))
    if (m.entries.isEmpty)
      spark.range(0).select(col("id").as("key"), col("id").as("cnt"),
        col("id").as("total"), col("id").as("vmin"), col("id").as("vmax"))
        .limit(0)
    else GenStore.foldReadWith(spark, s"$path/view", m.entries,
      Seq("key"), viewFolds(extrema = true))
  }

  /** POINT LOOKUP ([[GenStore.lookupKeys]]): the groups' view rows,
    * reading only the view buckets the groups hash to — "these
    * customers' joined totals" costs ≤ |groups| bucket dirs, never the
    * view, let alone the join.
    */
  def lookupJoinViewGroups(groups: DataFrame, path: String,
                           grpCol: String = "key"): DataFrame =
    GenStore.lookupKeys(groups.sparkSession, s"$path/view",
      Seq("key"), Seq("cnt", "total"),
      groups.select(col(grpCol).cast("long").as("key")))

  /** Point lookup on an extrema store, `(key, cnt, total, vmin, vmax)`
    * — the same ≤ |groups| bucket reads, extrema folded by their own
    * monoid. Loud on a plain store. */
  def lookupJoinViewGroupsExtrema(groups: DataFrame, path: String,
                                  grpCol: String = "key"): DataFrame = {
    require(hasExtrema(groups.sparkSession, path),
      s"view store at $path was not built with extrema = true")
    GenStore.lookupKeysWith(groups.sparkSession, s"$path/view",
      Seq("key"), viewFolds(extrema = true),
      groups.select(col(grpCol).cast("long").as("key")))
  }

  /** TIME-TRAVEL read of the view as of one of ITS generations (each
    * merge advances every substore by exactly one generation, so the
    * view's history is the batch history).
    */
  def readJoinViewAsOf(spark: SparkSession, path: String,
                       gen: Long): DataFrame =
    GenStore.foldRead(spark, s"$path/view",
      GenStore.at(spark, s"$path/view", gen).entries,
      Seq("key"), Seq("cnt", "total"))

  /** Retention GC across all three substores ([[GenStore.vacuum]]) —
    * independent per substore, overlapped ([[GenStore.inParallel]]). */
  def vacuumJoinView(spark: SparkSession, path: String,
                     keepGens: Int = 1): Seq[String] =
    GenStore.inParallel(Seq("view", "a", "b").map(sub => () =>
      GenStore.vacuum(spark, s"$path/$sub", keepGens).map(n => s"$sub/$n")))
      .flatten

  /** LSM compaction across the three substores ([[GenStore
    * .compactAdditive]]): every bucket holding more than `maxSegments`
    * delta segments folds into one. Each substore advances exactly one
    * generation (pointer-only when it has nothing to fold), keeping the
    * batch-relative rollback alignment. Run on a cadence, then [[
    * vacuumJoinView]] reclaims the superseded segments past retention.
    * Returns buckets compacted per substore.
    */
  def compactJoinView(spark: SparkSession, path: String,
                      maxSegments: Int = 1): Seq[(String, Int)] = {
    val extrema = hasExtrema(spark, path)
    // each substore's compaction is content-neutral and touches only
    // its own manifest/directories — the three fold-commits overlap
    // ([[GenStore.inParallel]]; end state identical, pinned by
    // ViewStoreSpec's compaction laws)
    GenStore.inParallel(
      Seq(("view", Seq("key"), viewFolds(extrema)),
          ("a", Seq("key", "grp"), GenStore.sums(Seq("na"))),
          ("b", Seq("key"), bFolds(extrema))).map { case (sub, ids, folds) =>
        () => sub -> GenStore.compactAdditiveWith(spark, s"$path/$sub", ids,
          folds, maxSegments)
      })
  }

  /** The view substore's resolvable snapshots, newest first. */
  def joinViewHistory(spark: SparkSession,
                      path: String): Seq[(Long, Int, Int, Int)] =
    GenStore.history(spark, s"$path/view")

  /** COMPLIANCE PURGE of whole GROUPS (the subject = the group value):
    * erases the groups' view rows, their a-rows, and the b-rows of join
    * keys left with NO surviving a-row (their data existed only as the
    * subject's) — from live state AND time-travel history
    * ([[GenStore.purgeCommitted]] per substore). SUPPRESSION LISTS land
    * FIRST — groups, then the orphaned keys (computed from the
    * pre-purge a-state, PERSISTED before any rewrite so a crash between
    * sweeps cannot lose them; each sweep re-reads its list, making the
    * whole purge re-runnable from any point). A key shared with a
    * surviving group keeps its b-rows — they are the surviving group's
    * data too (the documented shared-key trade). Locating a group's
    * keys costs ONE full a-substore scan (the store is bucketed by join
    * key for increment locality, not by group): batch purge requests on
    * a cadence to amortize it. Returns `(aRows, bRows, viewRows)`
    * deleted.
    */
  def purgeJoinViewGroups(groups: DataFrame, path: String,
                          grpCol: String = "key"): (Long, Long, Long) = {
    val spark = groups.sparkSession
    val g = groups.select(col(grpCol).cast("long").as("grp")).distinct()
      .localCheckpoint(true)
    try {
      require(!g.isEmpty, "purge needs at least one group")
      // (1) suppression lists BEFORE any sweep: groups now, orphaned keys
      // as soon as they are derivable from the still-intact a-state
      g.write.mode("append").parquet(s"$path/_purged/groups")
      val mA = GenStore.read(spark, s"$path/a").getOrElse(
        throw new IllegalArgumentException(s"not a join-view store: $path"))
      val aAll = readSub(spark, s"$path/a", Seq("key", "grp"), Seq("na"),
        spark.range(0).select(col("id").as("key"), col("id").as("grp"),
          col("id").as("na")))
      val subjectRows = aAll.join(g, Seq("grp"), "left_semi")
        .localCheckpoint(true)
      try {
        val orphanKeys = subjectRows.select(col("key")).distinct()
          .join(aAll.join(g, Seq("grp"), "left_anti").select(col("key")),
            Seq("key"), "left_anti")
          .localCheckpoint(true)
        try {
          if (!orphanKeys.isEmpty)
            orphanKeys.write.mode("append").parquet(s"$path/_purged/keys")

          // (2) sweeps, each keyed off its PERSISTED list (re-runnable);
          // fold-spec'd so an extrema store's min/max columns survive
          // the survivor fold intact, never mis-summed or dropped
          val extrema = hasExtrema(spark, path)
          val vDel = GenStore.sweepKeysWith(spark, s"$path/view",
            Seq("key"), viewFolds(extrema), g.select(col("grp").as("key")))
          val aDel = sweepA(spark, s"$path/a", g)
          val keysP = new org.apache.hadoop.fs.Path(s"$path/_purged/keys")
          val bDel =
            if (!keysP.getFileSystem(spark.sessionState.newHadoopConf())
              .exists(keysP)) 0L
            else GenStore.sweepKeysWith(spark, s"$path/b",
              Seq("key"), bFolds(extrema),
              spark.read.parquet(s"$path/_purged/keys")
                .select(col("key")).distinct())
          (aDel, bDel, vDel)
        } finally GenStore.freeLocal(orphanKeys)
      } finally GenStore.freeLocal(subjectRows)
    } finally GenStore.freeLocal(g)
  }

  /** The a-substore sweep deletes by GROUP, which any bucket may hold —
    * a full-store rewrite is avoided by still only rewriting the
    * buckets that actually contain subject rows.
    */
  private def sweepA(spark: SparkSession, subPath: String,
                     g: DataFrame): Long = {
    val m = GenStore.read(spark, subPath).getOrElse(
      throw new IllegalArgumentException(s"not a join-view substore: $subPath"))
    if (m.entries.isEmpty) return 0L
    val all = GenStore.readRaw(spark, subPath, m)
      .select(col("key"), col("grp"), col("na"))
    val touched = all.join(g, Seq("grp"), "left_semi")
      .select(GenStore.bucketOfKey(m.nBuckets).as("bucket")).distinct()
      .collect().map(_.getLong(0)).toSet
    if (touched.isEmpty) { GenStore.purgeCommitted(spark, subPath); return 0L }
    val existing = m.entries.filter(e => touched.contains(e._1))
    // folded, so survivors land as one segment and counts are logical
    val cur = GenStore.foldRead(spark, subPath, existing,
      Seq("key", "grp"), Seq("na"))
    val keep = cur.join(g, Seq("grp"), "left_anti").localCheckpoint(true)
    try {
      val deleted = cur.count() - keep.count()
      if (deleted > 0L)
        GenStore.commitGen(spark, subPath, keep, m.nBuckets, m.applied, m.gen,
          m.entries.filterNot(e => touched.contains(e._1)), None)
      GenStore.purgeCommitted(spark, subPath)
      deleted
    } finally GenStore.freeLocal(keep)
  }

  /** Manifest-pruned AUDIT diff of the served view between two of its
    * committed generations ([[GenStore.diff]]): which groups a batch
    * added or changed, reading only entry-differing view buckets.
    */
  def diffJoinView(spark: SparkSession, path: String,
                   genA: Long, genB: Long): DataFrame =
    GenStore.diffWith(spark, s"$path/view", genA, genB, "key",
      viewFolds(hasExtrema(spark, path)), "changed")

  /** Pointer-only ROLLBACK of the LAST `batchesBack` batches — "undo
    * yesterday's bad two-sided load". Addressed RELATIVELY, not by
    * absolute generation: every build/merge advances all three
    * substores by exactly one generation (pointer-only for an empty
    * leg), but purge sweeps advance only the substores that lost rows,
    * so absolute generations drift apart across a purge — while "N
    * mutations ago" stays aligned within the window since the last
    * purge (which truncated the rollback history anyway; [[GenStore
    * .at]] is loud past it). State and applied ledgers revert together
    * per substore ([[GenStore.rollback]]), so the reverted batches
    * re-apply on a re-feed instead of being refused.
    */
  def rollbackJoinView(spark: SparkSession, path: String,
                       batchesBack: Int): Unit = {
    require(batchesBack >= 1,
      s"batchesBack must be positive, got $batchesBack")
    Seq("view", "a", "b").foreach { sub =>
      val cur = GenStore.read(spark, s"$path/$sub").getOrElse(
        throw new IllegalArgumentException(s"not a join-view store: $path"))
      GenStore.rollback(spark, s"$path/$sub", cur.gen - batchesBack)
    }
  }

  /** UN-SUPPRESSION on re-consent: re-admit groups so their NEW data
    * ingests again. Reverses policy, not erasure — purged history is
    * gone, and erased JOIN KEYS stay suppressed (their orphanhood was
    * computed against the erased state; a re-sent payload for them must
    * still be refused).
    */
  def readmitJoinViewGroups(groups: DataFrame, path: String,
                            grpCol: String = "key"): Long =
    graft.streaming.Suppression.clear(
      groups.select(col(grpCol).cast("long").as("grp")),
      s"$path/_purged/groups", "grp")
}
