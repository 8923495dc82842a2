package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** INCREMENTAL AGGREGATE STORE — exact per-key `(count, sum)` state
  * maintained as a lakehouse table, the incremental-view-maintenance
  * member of the increment discipline (pairs: q112; ANN: q275; cluster
  * store: q284): a corpus-wide statistic (tokens per domain, rows per
  * customer, bytes per source) that a 100 TB pipeline re-derives daily
  * should pay the DAY's scan, not the corpus's. Counts and sums form a
  * commutative monoid over exact integers, so folding increments in any
  * order equals the full recompute bit-for-bit (q298 hash-proves it) —
  * no merge-order caveats, no floating-point drift (the house
  * integer-exact convention; `sum` overflow at ~9.2e18 is the caller's
  * unit choice, same as every long-summing aggregate here).
  *
  * Layout and snapshot semantics are the shared [[GenStore]] machinery:
  * immutable `path/d<G>/bucket=N/` data directories holding rows
  * `(key, cnt, total)` with `bucket = pmod(xxhash64(key), nBuckets)` —
  * partitioned by the KEY's hash, because maintenance rewrites rows by
  * which KEY changed — plus the one-file `CURRENT` manifest committed by
  * write-tmp + atomic rename. A merge aggregates the increment, collects
  * its ≤ nBuckets touched bucket ids, rewrites ONLY those buckets
  * (carrying their untouched keys along) into a fresh generation
  * directory, and remaps them in the manifest swap — untouched buckets
  * are never read, never listed, never rewritten; a reader holding the
  * previous manifest keeps scanning byte-identical files; and a crash
  * anywhere before the swap leaves the store bit-identical. Time travel
  * ([[readAggStoreAsOf]]), retention ([[vacuumAggStore]]), and the
  * manifest-pruned audit diff ([[diffAggStore]]) come from [[GenStore]]
  * unchanged. The bucket is a pure function of the key, so the diff's
  * pruning is complete (the [[GenStore.diff]] soundness requirement).
  *
  * EXACTLY-ONCE for streaming writers: unlike the cluster store's
  * quotient merge, an aggregate increment is NOT idempotent — replaying
  * a batch double-counts — so the manifest carries an applied-id LEDGER
  * (the [[Similarity]] codes-catalog discipline): a merge called with an
  * `appliedId` already in the ledger is a detected no-op, and the ledger
  * entry commits atomically WITH the merged state in the same manifest
  * rename, so there is no window where the state landed but the ledger
  * missed it. `StreamingAggStore.aggStoreSink` keys the id by the
  * microbatch id.
  *
  * Ref: the reference accumulates run-level aggregate summaries as it
  * processes each batch of articles (airflow/dags/zara_hybrid_etl.py:
  * 259-287, save_final_outputs); re-expressed as a maintained snapshot
  * store rather than a driver-side summary dict.
  */
object AggStore {

  /** Null keys are rejected LOUDLY inside the write job (zero extra
    * passes): a null key could never fold — SQL null does not join to
    * itself, so every merge would insert a fresh null row instead of
    * adding to the old one — and its null bucket would land in the HIVE
    * default partition, poisoning the manifest's numeric bucket list.
    */
  private def bucketOf(nBuckets: Int) =
    when(col("key").isNull, raise_error(lit(
        "agg-store keys must be non-null (a null key can never fold: " +
          "null does not join to itself)")).cast("long"))
      .otherwise(pmod(xxhash64(col("key")), lit(nBuckets.toLong)))

  /** Per-key `(cnt, total)` — plus `(vmin, vmax)` for EXTREMA stores:
    * min/max over exact longs form a commutative monoid too, but only
    * under INSERT-ONLY increments (a retraction cannot lower a max —
    * which is exactly the contract this store already has: keys never
    * leave, counts only grow; deletes are a rebuild).
    */
  private def aggregated(rows: DataFrame, keyCol: String, valCol: String,
                         extrema: Boolean): DataFrame = {
    val g = rows
      .select(col(keyCol).as("key"), col(valCol).cast("long").as("__v"))
      .groupBy(col("key"))
    if (!extrema) g.agg(count(lit(1)).as("cnt"), sum(col("__v")).as("total"))
    else g.agg(count(lit(1)).as("cnt"), sum(col("__v")).as("total"),
      min(col("__v")).as("vmin"), max(col("__v")).as("vmax"))
  }

  /** Does the store at `path` carry the extrema columns? Marked by a
    * one-file manifest written BEFORE the first build write, so a
    * crashed build re-run re-marks idempotently and a merge can never
    * mis-detect the schema.
    */
  def hasExtrema(spark: org.apache.spark.sql.SparkSession,
                 path: String): Boolean =
    Snapshot.dirExists(spark, s"$path/EXTREMA")

  private def storeCols(extrema: Boolean): Seq[String] =
    if (extrema) Seq("key", "cnt", "total", "vmin", "vmax")
    else Seq("key", "cnt", "total")

  /** Build (or fully rebuild) the store from scratch. On an existing
    * store this is a mutation like any other: it lands in a fresh
    * generation directory and commits via the manifest swap (the
    * [[Dedup.buildClusterStore]] reader-isolation argument). `appliedId`
    * stamps the ledger when a streaming writer's FIRST batch creates the
    * store, so its replay is detected by the merge path. A rebuild over
    * an existing store CARRIES the ledger forward — the rebuild source
    * is assumed to already reflect every applied batch (it is the full
    * dataset those batches fed); a rebuild from a source that does NOT
    * is a different store and belongs at a different path.
    */
  def buildAggStore(rows: DataFrame, path: String, keyCol: String,
                    valCol: String, nBuckets: Int = 16,
                    appliedId: Option[String] = None,
                    extrema: Boolean = false): Unit = {
    require(nBuckets >= 1, s"nBuckets must be positive, got $nBuckets")
    val spark = rows.sparkSession
    val prev = GenStore.read(spark, path)
    // a rebuild must not silently change the store's shape
    require(prev.isEmpty || extrema == hasExtrema(spark, path),
      s"store at $path is ${if (hasExtrema(spark, path)) "" else "not "}an " +
        "extrema store — rebuild with the matching flag or use a new path")
    if (extrema && prev.isEmpty)
      Snapshot.writeLines(spark, s"$path/EXTREMA", Seq("v1"))
    val gen = prev.map(_.gen + 1).getOrElse(1L)
    val dir = s"d$gen"
    aggregated(rows, keyCol, valCol, extrema)
      .withColumn("bucket", bucketOf(nBuckets))
      .write.partitionBy("bucket").mode("overwrite").parquet(s"$path/$dir")
    require(Snapshot.dirExists(spark, s"$path/$dir"),
      s"build staging $dir vanished before commit — a concurrent vacuum " +
        "ran during the build (one maintenance writer at a time)")
    GenStore.write(spark, path, GenStore.Manifest(gen, nBuckets,
      prev.map(_.applied).getOrElse(Seq.empty) ++ appliedId.toSeq,
      Snapshot.listKvDirs(spark, s"$path/$dir", "bucket").map((_, dir))))
    // freshness fingerprint for the MV rewrite — strictly AFTER the
    // commit ([[BaseFiles]] ordering argument); a build RESETS it (the
    // rebuilt state derives from exactly these files, and stale names
    // would trip the shrinkage check after a legitimate base compaction)
    BaseFiles.reset(spark, path, rows.inputFiles.toSeq)
  }

  /** Merge an increment: per-key counts/sums ADD (exact integer monoid,
    * so increment-merge == full recompute in any order). Only the
    * buckets holding incremented keys are read and rewritten — their
    * untouched keys carry along — into a fresh `d<gen+1>` directory,
    * committed by the manifest swap. Work ∝ the increment plus the rows
    * of the buckets it touches, never the store.
    *
    * `appliedId` is the exactly-once handle for replaying callers
    * (streaming microbatches, retried orchestrator tasks): an id already
    * in the manifest's ledger returns as a detected no-op without
    * touching a file; otherwise the id commits atomically with the
    * merged state. Crash replay is safe in both halves: a retry after a
    * lost commit rewrites the SAME `d<gen+1>` staging directory in
    * overwrite mode (the manifest still names gen, so the name and the
    * content — derived from the committed state plus the same increment
    * — are identical) and commits once. Keys never leave the store and
    * counts only grow; retractions are not a merge (model deletes as a
    * rebuild, the q281 rebuild-cadence argument).
    */
  def mergeIntoAggStore(increment: DataFrame, path: String, keyCol: String,
                        valCol: String,
                        appliedId: Option[String] = None): Unit = {
    val spark = increment.sparkSession
    val manifest = GenStore.read(spark, path).getOrElse(
      throw new IllegalArgumentException(s"not an aggregate store: $path"))
    if (appliedId.exists(manifest.applied.contains)) return // replay: no-op
    val nBuckets = manifest.nBuckets
    val extrema = hasExtrema(spark, path)
    val cols = storeCols(extrema)
    val delta = aggregated(increment, keyCol, valCol, extrema)
      .withColumn("bucket", bucketOf(nBuckets))
      .localCheckpoint(true) // bounded: the increment's distinct keys
    try {
      // the touched PARTITION set is what collects — ≤ nBuckets longs
      val touched = delta.select(col("bucket")).distinct()
        .collect().map(_.getLong(0))
      if (touched.isEmpty) return // empty increment: nothing to commit
      val existing = manifest.entries.filter(e => touched.contains(e._1))
      val cur =
        if (existing.isEmpty) // every touched bucket is brand new
          delta.select(cols.map(col): _*).limit(0)
        else GenStore.readBucketDirs(spark, path, existing)
          .select(cols.map(col): _*)
      val dir = s"d${manifest.gen + 1}"
      // counts/sums ADD; extrema fold by least/greatest (null-skipping,
      // so a one-sided key takes the present side) — the insert-only
      // min/max monoid
      val folded = Seq(
        (coalesce(col("cnt"), lit(0L)) + coalesce(col("dcnt"), lit(0L)))
          .as("cnt"),
        (coalesce(col("total"), lit(0L)) + coalesce(col("dtotal"), lit(0L)))
          .as("total")) ++
        (if (extrema) Seq(least(col("vmin"), col("dvmin")).as("vmin"),
          greatest(col("vmax"), col("dvmax")).as("vmax"))
        else Seq.empty)
      cur.join(delta
          .select(col("key") +: cols.tail.map(c => col(c).as(s"d$c")): _*),
          Seq("key"), "full_outer")
        .select(col("key") +: folded: _*)
        .withColumn("bucket", bucketOf(nBuckets))
        .write.mode("overwrite").partitionBy("bucket").parquet(s"$path/$dir")
      require(Snapshot.dirExists(spark, s"$path/$dir"),
        s"merge staging $dir vanished before commit — a concurrent vacuum " +
          "ran during the merge (one maintenance writer at a time)")
      // the COMMIT: untouched buckets keep their entries, touched buckets
      // remap to the new generation, the applied id lands atomically with
      // them (no state-without-ledger window)
      GenStore.write(spark, path,
        GenStore.Manifest(manifest.gen + 1, nBuckets,
          manifest.applied ++ appliedId.toSeq,
          manifest.entries.filterNot(e => touched.contains(e._1)) ++
            Snapshot.listKvDirs(spark, s"$path/$dir", "bucket").map((_, dir))))
      // freshness fingerprint AFTER the commit ([[BaseFiles]])
      BaseFiles.record(spark, path, increment.inputFiles.toSeq)
    } finally GenStore.freeLocal(delta)
  }

  /** Is there a committed store at `path`? (The streaming sink's
    * first-batch build-vs-merge probe.)
    */
  def aggStoreExists(spark: org.apache.spark.sql.SparkSession,
                     path: String): Boolean =
    GenStore.read(spark, path).isDefined

  /** The stored per-key state, `(key, cnt, total)`. */
  def readAggStore(spark: org.apache.spark.sql.SparkSession,
                   path: String): DataFrame =
    GenStore.readRaw(spark, path,
        GenStore.read(spark, path).getOrElse(
          throw new IllegalArgumentException(s"not an aggregate store: $path")))
      .select(col("key"), col("cnt"), col("total"))

  /** The extrema store's full state, `(key, cnt, total, vmin, vmax)` —
    * loud on a store built without extrema.
    */
  def readAggStoreExtrema(spark: org.apache.spark.sql.SparkSession,
                          path: String): DataFrame = {
    require(hasExtrema(spark, path),
      s"store at $path was not built with extrema = true")
    GenStore.readRaw(spark, path,
        GenStore.read(spark, path).getOrElse(
          throw new IllegalArgumentException(s"not an aggregate store: $path")))
      .select(col("key"), col("cnt"), col("total"),
        col("vmin"), col("vmax"))
  }

  /** POINT LOOKUP ([[GenStore.lookupKeys]]): the keys' `(key, cnt,
    * total)` rows, reading only the buckets the keys hash to — "these
    * customers' aggregates" costs ≤ |keys| bucket dirs, never the
    * store. The serving-path complement of the maintenance verbs.
    */
  def lookupAggStoreKeys(keys: DataFrame, path: String,
                         keyCol: String = "key"): DataFrame =
    GenStore.lookupKeys(keys.sparkSession, path,
      Seq("key"), Seq("cnt", "total"),
      keys.select(col(keyCol).as("key")))

  /** Point lookup on an EXTREMA store: the keys' full five-column rows
    * `(key, cnt, total, vmin, vmax)` through the same manifest-pruned
    * bucket read as [[lookupAggStoreKeys]], each column folded by its
    * own monoid ([[GenStore.FoldMin]]/[[GenStore.FoldMax]] for the
    * extrema — this store's merges rewrite buckets wholesale so a key
    * occupies one segment and the fold is the identity, but the spec'd
    * read keeps the lookup correct if the write path ever tiers). Loud
    * on a store built without `extrema = true` — the columns would not
    * resolve, and a silent three-column fallback would mis-serve the
    * caller that asked for extrema.
    */
  def lookupAggStoreKeysExtrema(keys: DataFrame, path: String,
                                keyCol: String = "key"): DataFrame = {
    require(hasExtrema(keys.sparkSession, path),
      s"store at $path was not built with extrema = true")
    GenStore.lookupKeysWith(keys.sparkSession, path, Seq("key"),
      GenStore.sums(Seq("cnt", "total")) ++
        Seq("vmin" -> (GenStore.FoldMin: GenStore.Fold),
          "vmax" -> (GenStore.FoldMax: GenStore.Fold)),
      keys.select(col(keyCol).as("key")))
  }

  /** TIME-TRAVEL read: the state exactly as generation `gen` committed
    * it, through the archived manifest ([[GenStore.at]]); loud past the
    * retention window.
    */
  def readAggStoreAsOf(spark: org.apache.spark.sql.SparkSession,
                       path: String, gen: Long): DataFrame =
    GenStore.readRaw(spark, path, GenStore.at(spark, path, gen))
      .select(col("key"), col("cnt"), col("total"))

  /** Manifest-pruned audit diff of two committed generations:
    * `(key, cnt_a, total_a, cnt_b, total_b, change)` with `change` ∈
    * `added` | `removed` | `changed` — reads only the buckets whose
    * manifest entries differ ([[GenStore.diff]]); at 100 TB, "what did
    * yesterday's loads change" costs the changed buckets, not the store.
    */
  def diffAggStore(spark: org.apache.spark.sql.SparkSession,
                   path: String, genA: Long, genB: Long): DataFrame =
    GenStore.diff(spark, path, genA, genB, "key", Seq("cnt", "total"),
      "changed")

  /** Retention GC ([[GenStore.vacuum]]): keep CURRENT plus the newest
    * `keepGens − 1` snapshots, reclaim unreferenced generation dirs and
    * retired manifests. Same contract as [[Dedup.vacuumClusterStore]].
    */
  def vacuumAggStore(spark: org.apache.spark.sql.SparkSession,
                     path: String, keepGens: Int = 1): Seq[String] =
    GenStore.vacuum(spark, path, keepGens)

  /** The resolvable snapshots, newest first ([[GenStore.history]]):
    * `(gen, nBuckets, nEntries, nApplied)` — what can still be read,
    * diffed, or rolled back to. Manifest reads only.
    */
  def aggStoreHistory(spark: org.apache.spark.sql.SparkSession,
                      path: String): Seq[(Long, Int, Int, Int)] =
    GenStore.history(spark, path)

  /** COMPLIANCE PURGE: physically remove the keys' aggregate rows from
    * every file under `path` — live state AND time-travel history
    * ([[GenStore.purgeCommitted]]; the [[Purge]] contract on a snapshot
    * store: erasure trumps reader isolation, and the call truncates the
    * archive because a resolvable pre-purge snapshot is exactly what
    * compliance forbids). The surviving state lands as a normal
    * mutation first — only the keys' buckets are read and rewritten,
    * carrying their untouched keys — then history truncates and the
    * remapped-away bucket dirs are surgically deleted. The applied
    * ledger survives (the remaining state still reflects every applied
    * batch, minus the erased subject). Re-run to completion after a
    * crash (idempotent: already-purged keys anti-join to the same keep
    * set). Returns the number of rows deleted.
    */
  def purgeAggStoreKeys(keys: DataFrame, path: String,
                        keyCol: String = "key"): Long = {
    val spark = keys.sparkSession
    val manifest = GenStore.read(spark, path).getOrElse(
      throw new IllegalArgumentException(s"not an aggregate store: $path"))
    val k = keys.select(col(keyCol).as("key")).distinct().localCheckpoint(true)
    try {
      val touched = k.select(bucketOf(manifest.nBuckets).as("bucket"))
        .distinct().collect().map(_.getLong(0)).toSet // ≤ nBuckets
      val existing = manifest.entries.filter(e => touched.contains(e._1))
      if (existing.isEmpty) return 0L // none of the keys ever stored
      val cur = GenStore.readBucketDirs(spark, path, existing)
        .select(storeCols(hasExtrema(spark, path)).map(col): _*)
      val keep = cur.join(k, Seq("key"), "left_anti").localCheckpoint(true)
      try {
        val deleted = cur.count() - keep.count()
        if (deleted == 0L) return 0L // keys absent: nothing to erase
        val dir = s"d${manifest.gen + 1}"
        keep.withColumn("bucket", bucketOf(manifest.nBuckets))
          .write.mode("overwrite").partitionBy("bucket").parquet(s"$path/$dir")
        require(Snapshot.dirExists(spark, s"$path/$dir"),
          s"purge staging $dir vanished before commit — a concurrent " +
            "vacuum ran during the purge (one maintenance writer at a time)")
        GenStore.write(spark, path,
          GenStore.Manifest(manifest.gen + 1, manifest.nBuckets,
            manifest.applied,
            manifest.entries.filterNot(e => touched.contains(e._1)) ++
              Snapshot.listKvDirs(spark, s"$path/$dir", "bucket")
                .map((_, dir))))
        GenStore.purgeCommitted(spark, path)
        deleted
      } finally GenStore.freeLocal(keep)
    } finally GenStore.freeLocal(k)
  }

  /** Pointer-only ROLLBACK to an archived generation ([[GenStore
    * .rollback]]): "undo yesterday's bad load" — the state AND the
    * applied ledger revert together, so the reverted batches re-apply
    * on a re-feed instead of being refused by a stale ledger; the bad
    * state stays archived (diffable) until retention retires it.
    */
  def rollbackAggStore(spark: org.apache.spark.sql.SparkSession,
                       path: String, gen: Long): Unit =
    GenStore.rollback(spark, path, gen)
}
