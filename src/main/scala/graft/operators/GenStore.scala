package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The GENERATION-MANIFEST store machinery shared by every
  * bucket-partitioned snapshot store in this engine — the dedup cluster
  * store ([[Dedup.buildClusterStore]]) and the incremental aggregate
  * store ([[AggStore]]). One store = immutable data directories
  * `path/d<G>/bucket=N/` plus the one-file `path/CURRENT` manifest
  * (generation counter, bucket count, an applied-batch ledger for
  * streaming writers, and the live `bucket → directory` map), committed
  * by [[Snapshot.writeLines]]'s write-tmp + atomic rename. Factored here
  * so the snapshot semantics — archive-on-replace manifest history,
  * time-travel resolution, retention-windowed vacuum, manifest-pruned
  * generation diff — are ONE implementation, not per-store copies that
  * can drift (the [[Snapshot]] rationale, one level up).
  *
  * Inherits [[Snapshot]]'s concurrency contract: any number of readers,
  * ONE maintenance writer at a time; readers resolve a manifest once and
  * scan immutable directories, so they are isolated from every in-flight
  * mutation and from the manifest history itself.
  */
private[graft] object GenStore {

  /** A committed snapshot: generation counter, bucket count, the
    * applied-batch ledger (streaming exactly-once; empty for
    * batch-only stores), and the live `bucket → data directory` map.
    */
  case class Manifest(gen: Long, nBuckets: Int, applied: Seq[String],
                      entries: Seq[(Long, String)])

  def parse(where: String, lines: List[String]): Manifest = {
    require(lines.length >= 2 && lines.head.startsWith("gen=") &&
      lines(1).startsWith("buckets="),
      s"corrupt store manifest at $where")
    // `applied=` is optional for manifests written before the ledger
    val hasApplied = lines.length > 2 && lines(2).startsWith("applied=")
    val applied =
      if (!hasApplied) Seq.empty
      else lines(2).stripPrefix("applied=").split(",").toSeq.filter(_.nonEmpty)
    val entries = lines.drop(if (hasApplied) 3 else 2)
      .filter(_.nonEmpty).map { l =>
        val t = l.split("\t", 2)
        (t(0).toLong, t(1))
      }
    Manifest(lines.head.stripPrefix("gen=").toLong,
      lines(1).stripPrefix("buckets=").toInt, applied, entries)
  }

  def render(m: Manifest): Seq[String] =
    Seq(s"gen=${m.gen}", s"buckets=${m.nBuckets}",
      s"applied=${m.applied.distinct.sorted.mkString(",")}") ++
      m.entries.sortBy(_._1).map { case (b, d) => s"$b\t$d" }

  def read(spark: org.apache.spark.sql.SparkSession,
           path: String): Option[Manifest] =
    Snapshot.readLines(spark, s"$path/CURRENT").map(parse(path, _))

  /** Commit a new manifest — and BACKFILL the one being replaced into
    * the `manifests/<gen>` history first, so every committed generation
    * stays resolvable for time-travel reads until [[vacuum]] retires
    * it. Only the OLD (committed) manifest is ever copied — the new one
    * exists solely as `CURRENT` until the NEXT mutation archives it —
    * so a crash anywhere in here can never mint a history snapshot of a
    * mutation that did not commit, and the backfill is idempotent
    * (derived from the committed file) so a retried mutation heals a
    * half-done one.
    */
  def write(spark: org.apache.spark.sql.SparkSession,
            path: String, m: Manifest): Unit = {
    read(spark, path).foreach { prev =>
      val hist = s"$path/manifests/${prev.gen}"
      if (!Snapshot.dirExists(spark, hist))
        Snapshot.writeLines(spark, hist, render(prev))
    }
    Snapshot.writeLines(spark, s"$path/CURRENT", render(m))
  }

  /** The numeric history manifests under `path/manifests`, sorted. */
  def listHistoryGens(spark: org.apache.spark.sql.SparkSession,
                      path: String): Seq[Long] = {
    val p = new org.apache.hadoop.fs.Path(s"$path/manifests")
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).filter(_.isFile).map(_.getPath.getName)
      .filter(_.matches("\\d+")).map(_.toLong).toSeq.sorted
  }

  /** Resolve the manifest of one committed generation: the live CURRENT
    * when `gen` is the current generation, the `manifests/<gen>`
    * archive otherwise; loud on the future and on vacuumed history.
    */
  def at(spark: org.apache.spark.sql.SparkSession,
         path: String, gen: Long): Manifest = {
    val cur = read(spark, path).getOrElse(
      throw new IllegalArgumentException(s"not a manifested store: $path"))
    if (gen == cur.gen) cur
    else {
      require(gen < cur.gen,
        s"generation $gen of $path is in the future (current is ${cur.gen})")
      parse(s"$path@$gen",
        Snapshot.readLines(spark, s"$path/manifests/$gen").getOrElse(
          throw new IllegalArgumentException(
            s"generation $gen of $path is not retained — vacuumed, or " +
              "the store predates manifest history")))
    }
  }

  /** The store rows of one snapshot, resolved through its manifest: each
    * generation directory is read restricted to the buckets still
    * mapped to it (a superseded generation physically retains its old
    * bucket dirs for in-flight readers — an unmapped read would
    * resurrect them). Returns all data columns plus `bucket`.
    */
  def readRaw(spark: org.apache.spark.sql.SparkSession,
              path: String, m: Manifest): DataFrame = {
    require(m.entries.nonEmpty, s"store at $path has no buckets")
    m.entries.groupBy(_._2).toSeq.sortBy(_._1).map { case (dir, es) =>
      spark.read.option("basePath", s"$path/$dir").parquet(s"$path/$dir")
        .where(col("bucket").isin(es.map(_._1).map(Long.box): _*))
    }.reduce(_.unionByName(_))
  }

  /** Explicit bucket-directory read of a subset of entries — the diff
    * shape: the file LISTING itself is proportional to the entries
    * passed, so the stable majority of a store costs zero metadata ops.
    */
  def readBucketDirs(spark: org.apache.spark.sql.SparkSession,
                     path: String, entries: Seq[(Long, String)]): DataFrame =
    entries.groupBy(_._2).toSeq.sortBy(_._1).map { case (dir, bs) =>
      spark.read.option("basePath", s"$path/$dir")
        .parquet(bs.map(b => s"$path/$dir/bucket=${b._1}"): _*)
    }.reduce(_.unionByName(_))

  /** Retention GC: keep the CURRENT snapshot plus the newest
    * `keepGens − 1` archived manifests, then delete every generation
    * directory (`d<G>`) none of the RETAINED snapshots references — and
    * the retired manifests themselves, in that order (data first, so a
    * crash mid-vacuum can only leave a still-resolvable manifest over
    * still-present dirs, never a manifest whose dirs are gone).
    * Retention and reachability compose: a generation directory stays
    * alive as long as ANY retained snapshot's bucket still maps to it,
    * so `keepGens = 1` is CURRENT-only behavior plus history trimming,
    * and a larger `keepGens` is the time-travel window — the Iceberg
    * expire-snapshots trade. Run on a cadence that covers the longest
    * concurrent read, and NEVER concurrently with a mutation (the
    * [[Snapshot]] single-maintenance-writer contract: it would reclaim
    * the mutation's not-yet-committed generation; the mutation's
    * staging guard turns that into a loud failure rather than silent
    * loss, but the schedule is the caller's). No-op on a manifest-less
    * path. Returns the deleted names (data dirs, then
    * `manifests/<gen>` entries).
    */
  def vacuum(spark: org.apache.spark.sql.SparkSession,
             path: String, keepGens: Int): Seq[String] = {
    require(keepGens >= 1, s"keepGens must be positive, got $keepGens")
    read(spark, path) match {
      case None => Seq.empty
      case Some(m) =>
        val hist = listHistoryGens(spark, path).filter(_ < m.gen)
        val retainedHist = hist.takeRight(keepGens - 1)
        val retired = hist.dropRight(keepGens - 1)
        val live = (m.entries.map(_._2) ++ retainedHist.flatMap { g =>
          Snapshot.readLines(spark, s"$path/manifests/$g")
            .map(parse(s"$path@$g", _).entries.map(_._2))
            .getOrElse(Seq.empty)
        }).toSet
        val p = new org.apache.hadoop.fs.Path(path)
        val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
        val deadDirs = fs.listStatus(p).filter(_.isDirectory)
          .map(_.getPath.getName)
          .filter(n => n.matches("d\\d+") && !live.contains(n))
          .sorted.toSeq
        deadDirs.foreach(d =>
          fs.delete(new org.apache.hadoop.fs.Path(s"$path/$d"), true))
        val deadManifests = retired.map { g =>
          fs.delete(new org.apache.hadoop.fs.Path(s"$path/manifests/$g"), false)
          s"manifests/$g"
        }
        deadDirs ++ deadManifests
    }
  }

  /** The committed generations still resolvable at `path` — CURRENT plus
    * every retained archive — newest first, as
    * `(gen, nBuckets, nEntries, nApplied)`: the audit surface for "what
    * snapshots can I still read/diff/roll back to". Manifest reads only;
    * zero data listing.
    */
  def history(spark: org.apache.spark.sql.SparkSession,
              path: String): Seq[(Long, Int, Int, Int)] = {
    val cur = read(spark, path).getOrElse(
      throw new IllegalArgumentException(s"not a manifested store: $path"))
    val archived = listHistoryGens(spark, path).filter(_ < cur.gen)
      .map(g => at(spark, path, g))
    (archived :+ cur).sortBy(-_.gen)
      .map(m => (m.gen, m.nBuckets, m.entries.size, m.applied.size))
  }

  /** ROLLBACK: make an archived generation the live state again — the
    * "undo yesterday's bad load" verb that [[diff]]'s audit naturally
    * leads to. A rollback is a first-class MUTATION, not history
    * surgery: the generation counter advances and the rolled-back-from
    * manifest archives like any other (so the bad state stays
    * diffable/auditable until retention retires it), while the commit
    * itself is POINTER-ONLY — data directories are immutable, so
    * reverting is committing a manifest that references the target's
    * directories again, zero data copies at any store size (the Iceberg
    * rollback shape). The applied LEDGER reverts WITH the state: batches
    * applied after the target are no longer reflected in the rows, so
    * their ids must be re-appliable — a post-rollback re-feed of those
    * batches folds them again instead of being refused by a ledger that
    * outlived the state it described (exactly-once is a property of
    * state+ledger as one atomic unit, which is why they share the
    * manifest). Loud when the target is vacuumed or in the future.
    * Returns the committed manifest.
    */
  def rollback(spark: org.apache.spark.sql.SparkSession,
               path: String, gen: Long): Manifest = {
    val cur = read(spark, path).getOrElse(
      throw new IllegalArgumentException(s"not a manifested store: $path"))
    require(gen < cur.gen,
      s"rollback target $gen of $path must precede the current " +
        s"generation ${cur.gen}")
    val target = at(spark, path, gen)
    val next = Manifest(cur.gen + 1, target.nBuckets, target.applied,
      target.entries)
    write(spark, path, next)
    next
  }

  /** The compliance tail of a PURGE — the one verb that violates the
    * snapshot contract ON PURPOSE (the [[Purge]] trade, applied to a
    * snapshot store): right-to-be-forgotten means the purged bytes must
    * be physically GONE from every file under `path` when the call
    * returns, including time-travel history. The caller has already
    * landed the surviving state as a normal mutation (fresh generation
    * dir + manifest swap — crash-safe on its own); this completes it:
    * (1) history TRUNCATES — `vacuum(keepGens = 1)` retires every
    * archived manifest and drops fully-unreferenced generation dirs
    * (an archived snapshot that can resolve the purged rows is exactly
    * what compliance forbids); (2) ORPHAN-BUCKET SCRUB — every
    * `bucket=` subdirectory inside a still-live generation dir whose
    * `(bucket → dir)` entry is NOT in the current manifest is deleted,
    * because whole-dir reclaim cannot reach a purged bucket inside a
    * generation dir that other buckets keep alive. The scrub is derived
    * entirely from the CURRENT manifest and a per-dir listing (not from
    * the caller's pre-purge entry snapshot, which a crash would lose) —
    * so a re-run from ANY crash point, including after the survivor
    * commit already landed, still completes the erasure. The deliberate
    * trade is an in-flight reader holding a pre-purge manifest, which
    * breaks — compliance wants the bytes gone NOW, not at a vacuum
    * cadence. Returns the deleted names.
    */
  def purgeCommitted(spark: org.apache.spark.sql.SparkSession,
                     path: String): Seq[String] = {
    val truncated = vacuum(spark, path, keepGens = 1)
    val m = read(spark, path).getOrElse(return truncated)
    val owned = m.entries.map { case (b, d) => (d, b) }.toSet
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val surgical = m.entries.map(_._2).distinct.sorted.flatMap { d =>
      Snapshot.listKvDirs(spark, s"$path/$d", "bucket")
        .filterNot(b => owned.contains((d, b)))
        .map(b => s"$d/bucket=$b")
    }
    surgical.foreach(sub =>
      fs.delete(new org.apache.hadoop.fs.Path(s"$path/$sub"), true))
    truncated ++ surgical
  }

  // ---- shared substore plumbing: stores whose rows carry a `key`
  // column (any hashable type) bucketed by `pmod(xxhash64(key), n)`,
  // with additive long-monoid value columns. One implementation of the
  // commit/merge/sweep verbs, used by the join-view substores
  // ([[ViewStore]]) and the inverted text index ([[TextIndex]]) — the
  // same no-per-store-copies rationale as the manifest machinery above.

  /** Per-column SEGMENT FOLD of a keyed substore: how one key's rows
    * combine across LSM segments. SUM is the additive default (exact
    * long monoid); MIN/MAX are the extrema monoids, commutative too but
    * only under INSERT-ONLY increments — a retraction cannot raise a
    * min, which is exactly the contract these stores already carry
    * (the [[AggStore]] extrema argument at substore level). `agg` folds
    * many segments at read; `pair` folds one delta row against the
    * folded state (both null-skipping: a one-sided key takes the
    * present side — coalesce for sums, least/greatest's null-skip for
    * extrema).
    */
  sealed trait Fold {
    def agg(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column
    def pair(a: org.apache.spark.sql.Column,
             b: org.apache.spark.sql.Column): org.apache.spark.sql.Column
  }
  case object FoldSum extends Fold {
    def agg(c: org.apache.spark.sql.Column) = sum(c)
    def pair(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      coalesce(a, lit(0L)) + coalesce(b, lit(0L))
  }
  case object FoldMin extends Fold {
    def agg(c: org.apache.spark.sql.Column) = min(c)
    def pair(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      least(a, b)
  }
  case object FoldMax extends Fold {
    def agg(c: org.apache.spark.sql.Column) = max(c)
    def pair(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      greatest(a, b)
  }
  /** The all-additive spec the sum-only signatures delegate through. */
  def sums(cols: Seq[String]): Seq[(String, Fold)] =
    cols.map(_ -> (FoldSum: Fold))

  /** Null keys are rejected LOUDLY inside the write job: a null key can
    * never fold (SQL null does not join to itself) and its null bucket
    * would land in the Hive default partition, poisoning the manifest's
    * numeric bucket list.
    */
  def bucketOfKey(nBuckets: Int): org.apache.spark.sql.Column =
    when(col("key").isNull, raise_error(lit(
        "store keys must be non-null (a null key can never fold)"))
      .cast("long"))
      .otherwise(pmod(xxhash64(col("key")), lit(nBuckets.toLong)))

  /** Land `rows` (plus their `bucket`) as generation `prevGen + 1` and
    * commit the manifest: `keepEntries` stay mapped where they were,
    * the fresh directory's buckets remap, `appliedId` joins the ledger
    * atomically with the state.
    */
  def commitGen(spark: org.apache.spark.sql.SparkSession, subPath: String,
                rows: DataFrame, nBuckets: Int, prevApplied: Seq[String],
                prevGen: Long, keepEntries: Seq[(Long, String)],
                appliedId: Option[String]): Unit = {
    val gen = prevGen + 1
    val dir = s"d$gen"
    rows.withColumn("bucket", bucketOfKey(nBuckets))
      .write.mode("overwrite").partitionBy("bucket").parquet(s"$subPath/$dir")
    require(Snapshot.dirExists(spark, s"$subPath/$dir"),
      s"staging $dir vanished before commit — a concurrent vacuum ran " +
        "(one maintenance writer at a time)")
    write(spark, subPath, Manifest(gen, nBuckets,
      prevApplied ++ appliedId.toSeq,
      keepEntries ++
        Snapshot.listKvDirs(spark, s"$subPath/$dir", "bucket").map((_, dir))))
  }

  /** FOLDED read of a keyed additive substore: the per-identity sums
    * across every segment the entries name — `sum` over the exact long
    * monoid, so folding one segment is the identity and folding many
    * equals the eager merge bit-for-bit (the LSM read path; see
    * [[mergeAdditive]]). The aggregation runs over ONLY the buckets
    * passed, so serve-path folds cost the touched buckets, never the
    * store.
    */
  def foldRead(spark: org.apache.spark.sql.SparkSession, subPath: String,
               entries: Seq[(Long, String)], idCols: Seq[String],
               sumCols: Seq[String]): DataFrame =
    foldReadWith(spark, subPath, entries, idCols, sums(sumCols))

  /** Fold-spec form: each value column folds by its own monoid
    * ([[Fold]]) — what the extrema-carrying substores read through. */
  def foldReadWith(spark: org.apache.spark.sql.SparkSession, subPath: String,
                   entries: Seq[(Long, String)], idCols: Seq[String],
                   folds: Seq[(String, Fold)]): DataFrame = {
    require(entries.nonEmpty, s"substore at $subPath has no buckets")
    val aggs = folds.map { case (c, f) => f.agg(col(c)).as(c) }
    readBucketDirs(spark, subPath, entries)
      .groupBy(idCols.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
  }

  /** Additive merge of a pre-aggregated delta — LSM-TIERED: the delta
    * lands as a per-batch SEGMENT under its touched buckets (a fresh
    * `d<gen+1>` whose bucket dirs JOIN the manifest alongside the
    * buckets' existing entries, rather than replacing them), so a
    * merge's write cost is ∝ the INCREMENT, never the touched buckets'
    * volume — the classic LSM trade for a hot-key streaming feed into
    * a 100 TB store, where rewriting a hot bucket wholesale per
    * microbatch is the write amplification that kills the shape.
    * Readers fold segments through [[foldRead]] (the exact long monoid
    * makes fold-at-read == eager-merge bit-for-bit, in any order); a
    * bucket whose segment count would exceed `maxSegments` is COMPACTED
    * in the same commit — its segments fold with the delta into the new
    * directory and its old entries drop — bounding every bucket's read
    * fan-out. A ledger hit is a detected no-op; an EMPTY delta commits
    * POINTER-ONLY (same entries, next generation, ledger stamped when
    * an id is present) UNCONDITIONALLY, so multi-substore callers'
    * generations advance in lockstep even for a one-sided batch and a
    * crash replay finds every ledger stamped. Crash-replay safe like
    * every mutation here: the staging dir rewrites deterministically
    * (committed state + same increment) and the manifest swap is the
    * only commit point.
    */
  def mergeAdditive(spark: org.apache.spark.sql.SparkSession,
                    subPath: String, delta: DataFrame, idCols: Seq[String],
                    sumCols: Seq[String], appliedId: Option[String],
                    maxSegments: Int = 8): Unit =
    mergeAdditiveWith(spark, subPath, delta, idCols, sums(sumCols),
      appliedId, maxSegments)

  /** Fold-spec form of the LSM merge: segments still land per batch and
    * compact past `maxSegments`, but each value column folds by its own
    * monoid ([[Fold]] — extrema columns by least/greatest). */
  def mergeAdditiveWith(spark: org.apache.spark.sql.SparkSession,
                        subPath: String, delta: DataFrame,
                        idCols: Seq[String], folds: Seq[(String, Fold)],
                        appliedId: Option[String],
                        maxSegments: Int = 8): Unit = {
    require(maxSegments >= 1, s"maxSegments must be positive, got $maxSegments")
    val m = read(spark, subPath).getOrElse(
      throw new IllegalArgumentException(s"not a keyed substore: $subPath"))
    if (appliedId.exists(m.applied.contains)) return // replay: no-op
    val cols = idCols ++ folds.map(_._1)
    // The delta rows are consumed TWICE — the touched-bucket collect and
    // the segment write (three times when a bucket compacts) — and
    // callers hand arbitrarily expensive pipelines here (the join-view
    // delta rule is a two-sided bucket read + three joins + an
    // aggregate; the positional-index delta re-tokenizes its batch), so
    // a lazy delta re-ran its whole pipeline per consumer. Materialize
    // it ONCE (eager localCheckpoint, bounded like [[AggStore
    // .mergeIntoAggStore]]'s delta: the increment's rows) — UNLESS the
    // plan is already checkpoint-rooted narrow work (the ViewStore side
    // legs pass projections of their own checkpoints), where a second
    // materialization would only add a copy.
    def cheap(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
        : Boolean = p match {
      case _: org.apache.spark.sql.execution.LogicalRDD => true
      case _: org.apache.spark.sql.catalyst.plans.logical.LocalRelation => true
      case pr: org.apache.spark.sql.catalyst.plans.logical.Project =>
        cheap(pr.child)
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
        cheap(f.child)
      case _ => false
    }
    val reuse = cheap(delta.queryExecution.analyzed)
    val deltaCols =
      if (reuse) delta.select(cols.map(col): _*)
      else delta.select(cols.map(col): _*).localCheckpoint(true)
    try {
      val touched = deltaCols.select(bucketOfKey(m.nBuckets).as("bucket"))
        .distinct().collect().map(_.getLong(0)).toSet // ≤ nBuckets
      if (touched.isEmpty) {
        // nothing to fold: advance pointer-only — ALWAYS, id or not, so
        // sibling substores sharing a batch cadence stay gen-aligned
        write(spark, subPath,
          Manifest(m.gen + 1, m.nBuckets, m.applied ++ appliedId.toSeq,
            m.entries))
        return
      }
      val segCount = m.entries.groupBy(_._1).view.mapValues(_.size).toMap
      val compact = touched.filter(b => segCount.getOrElse(b, 0) + 1 > maxSegments)
      val appendRows = // under-threshold buckets: the delta IS the segment
        if (compact.isEmpty) deltaCols
        else deltaCols.where(!bucketOfKey(m.nBuckets).isin(
          compact.toSeq.map(Long.box): _*))
      val rows =
        if (compact.isEmpty) appendRows
        else { // over-threshold buckets: fold their segments WITH the delta
          val folded = foldReadWith(spark, subPath,
              m.entries.filter(e => compact.contains(e._1)), idCols, folds)
            .join(deltaCols.where(bucketOfKey(m.nBuckets).isin(
                compact.toSeq.map(Long.box): _*))
              .select(idCols.map(col) ++
                folds.map { case (c, _) => col(c).as(s"__d$c") }: _*),
              idCols, "full_outer")
            .select(idCols.map(col) ++ folds.map { case (c, f) =>
              f.pair(col(c), col(s"__d$c")).as(c) }: _*)
          appendRows.unionByName(folded)
        }
      // compacted buckets REMAP to the new dir alone; appended buckets
      // keep their old segments and gain the new one; untouched buckets
      // carry verbatim
      commitGen(spark, subPath, rows, m.nBuckets, m.applied, m.gen,
        m.entries.filterNot(e => compact.contains(e._1)), appliedId)
    } finally if (!reuse) freeLocal(deltaCols)
  }

  /** Explicit compaction of a keyed additive substore: every bucket
    * with more than `maxSegments` segments folds into one, committed as
    * a normal mutation (fresh generation, manifest swap, history
    * archived). `maxSegments = 1` is the full fold. Run on a cadence,
    * like any LSM's background compaction; [[vacuum]] then reclaims the
    * superseded segment dirs past retention. Returns the number of
    * buckets compacted.
    */
  def compactAdditive(spark: org.apache.spark.sql.SparkSession,
                      subPath: String, idCols: Seq[String],
                      sumCols: Seq[String], maxSegments: Int = 1): Int =
    compactAdditiveWith(spark, subPath, idCols, sums(sumCols), maxSegments)

  /** Fold-spec form ([[Fold]] per value column). */
  def compactAdditiveWith(spark: org.apache.spark.sql.SparkSession,
                          subPath: String, idCols: Seq[String],
                          folds: Seq[(String, Fold)],
                          maxSegments: Int = 1): Int = {
    require(maxSegments >= 1, s"maxSegments must be positive, got $maxSegments")
    val m = read(spark, subPath).getOrElse(
      throw new IllegalArgumentException(s"not a keyed substore: $subPath"))
    val over = m.entries.groupBy(_._1).filter(_._2.size > maxSegments).keySet
    if (over.isEmpty) {
      // still a mutation: advance pointer-only so store-level compaction
      // verbs keep sibling substores gen-aligned (the batch-relative
      // rollback invariant — every mutation advances every substore by
      // exactly one)
      write(spark, subPath,
        Manifest(m.gen + 1, m.nBuckets, m.applied, m.entries))
      return 0
    }
    val rows = foldReadWith(spark, subPath,
      m.entries.filter(e => over.contains(e._1)), idCols, folds)
    commitGen(spark, subPath, rows, m.nBuckets, m.applied, m.gen,
      m.entries.filterNot(e => over.contains(e._1)), None)
    over.size
  }

  /** POINT LOOKUP on a keyed substore: the rows whose `key` is in
    * `keys`, reading ONLY the buckets those keys hash to — the
    * manifest IS the index, so "these customers' state" costs
    * ≤ min(|keys|, nBuckets) bucket directories of I/O and listing,
    * never the store. The exact-match filter re-applies as a semi-join
    * (hash buckets admit co-resident keys — false positives at bucket
    * granularity, never false negatives, the zone-map argument at hash
    * granularity).
    */
  def lookupKeys(spark: org.apache.spark.sql.SparkSession, subPath: String,
                 idCols: Seq[String], sumCols: Seq[String],
                 keys: DataFrame): DataFrame =
    lookupKeysWith(spark, subPath, idCols, sums(sumCols), keys)

  /** Fold-spec form ([[Fold]] per value column). */
  def lookupKeysWith(spark: org.apache.spark.sql.SparkSession,
                     subPath: String, idCols: Seq[String],
                     folds: Seq[(String, Fold)],
                     keys: DataFrame): DataFrame = {
    require(idCols.contains("key"), "lookupKeys needs `key` among idCols")
    val m = read(spark, subPath).getOrElse(
      throw new IllegalArgumentException(s"not a keyed substore: $subPath"))
    val k = keys.select(col("key")).distinct()
    val touched = k.select(bucketOfKey(m.nBuckets).as("bucket"))
      .distinct().collect().map(_.getLong(0)).toSet // ≤ nBuckets
    val existing = m.entries.filter(e => touched.contains(e._1))
    val cols = idCols ++ folds.map(_._1)
    if (existing.isEmpty) {
      val tmpl =
        if (m.entries.isEmpty)
          throw new IllegalArgumentException(s"store at $subPath is empty")
        else readBucketDirs(spark, subPath, m.entries.take(1))
      return tmpl.select(cols.map(col): _*).limit(0)
    }
    // semi-join FIRST (rows ∝ the keys), fold second — LSM segments of
    // a key fold to its state ([[foldRead]])
    val aggs = folds.map { case (c, f) => f.agg(col(c)).as(c) }
    readBucketDirs(spark, subPath, existing)
      .select(cols.map(col): _*)
      .join(broadcast(k), Seq("key"), "left_semi")
      .groupBy(idCols.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
  }

  /** Purge-sweep of a keyed substore: delete the rows whose `key` is in
    * `keys` — land survivors as a normal mutation over the touched
    * buckets only, then truncate history and scrub orphan bucket dirs
    * ([[purgeCommitted]] runs even when nothing is deleted NOW, so a
    * crash re-run after the survivor commit landed still completes the
    * erasure). Returns the rows deleted.
    */
  def sweepKeys(spark: org.apache.spark.sql.SparkSession, subPath: String,
                idCols: Seq[String], sumCols: Seq[String],
                keys: DataFrame): Long =
    sweepKeysWith(spark, subPath, idCols, sums(sumCols), keys)

  /** Fold-spec form ([[Fold]] per value column). */
  def sweepKeysWith(spark: org.apache.spark.sql.SparkSession,
                    subPath: String, idCols: Seq[String],
                    folds: Seq[(String, Fold)], keys: DataFrame): Long = {
    val m = read(spark, subPath).getOrElse(
      throw new IllegalArgumentException(s"not a keyed substore: $subPath"))
    val k = keys.localCheckpoint(true)
    try {
      val touched = k.select(bucketOfKey(m.nBuckets).as("bucket"))
        .distinct().collect().map(_.getLong(0)).toSet
      val existing = m.entries.filter(e => touched.contains(e._1))
      if (existing.isEmpty) { purgeCommitted(spark, subPath); return 0L }
      // fold the touched buckets so survivors land as ONE segment and
      // the deleted count is LOGICAL rows, not segment rows
      val cur = foldReadWith(spark, subPath, existing, idCols, folds)
      val keep = cur.join(k, Seq("key"), "left_anti").localCheckpoint(true)
      try {
        val deleted = cur.count() - keep.count()
        if (deleted > 0L)
          commitGen(spark, subPath, keep, m.nBuckets, m.applied, m.gen,
            m.entries.filterNot(e => touched.contains(e._1)), None)
        purgeCommitted(spark, subPath)
        deleted
      } finally freeLocal(keep)
    } finally freeLocal(k)
  }

  /** Run INDEPENDENT store mutations concurrently (guide §2.6 "overlap
    * independent jobs"): each thunk mutates a DIFFERENT substore — its
    * own manifest file, its own generation directories, no shared
    * mutable state beyond the thread-safe SparkSession — so
    * overlapping them changes wall-clock (the slowest commit instead
    * of the sum of commit latencies), never the committed end state.
    * Callers stay responsible for any load-bearing ORDER: the
    * join-view VIEW leg must commit before either side mutates (its
    * delta reads the PRE-increment side state), the text index's pos
    * leg must commit first and stats last (the existence-probe
    * implication) — only provably order-free groups go through here.
    * A failure propagates after the group settles; a crash mid-group
    * leaves a SUBSET of substores committed, which is exactly the
    * state a crash mid-sequence leaves — every caller's replay
    * argument already covers arbitrary committed subsets (each leg is
    * a deterministic function of its inputs and its OWN ledger).
    * Results return in input order.
    */
  private[operators] def inParallel[T](thunks: Seq[() => T]): Seq[T] = {
    if (thunks.size <= 1) return thunks.map(_())
    // bounded DAEMON pool: call sites today pass ≤4 thunks, but a future
    // large group must not get one thread each (guide §2.6: 2-3 jobs in
    // flight fill a tail; more just contend), and a hung thunk must not
    // pin a non-daemon thread that blocks JVM exit after shutdown()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(thunks.size, 4),
      new java.util.concurrent.ThreadFactory {
        private val n = new java.util.concurrent.atomic.AtomicInteger(0)
        def newThread(r: Runnable): Thread = {
          val t = new Thread(r, s"genstore-par-${n.getAndIncrement()}")
          t.setDaemon(true)
          t
        }
      })
    try {
      import scala.concurrent.{Await, ExecutionContext, Future}
      import scala.util.{Failure, Success}
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      // settle EVERY thunk before propagating a failure: a fail-fast
      // Future.sequence would return control (and run the callers'
      // finally blocks, which unpersist localCheckpoints) while sibling
      // commits still read those blocks, and let a zombie commit land
      // after the caller already propagated failure — racing any retry
      // under the single-maintenance-writer contract
      val settled = Await.result(
        Future.sequence(thunks.map(t => Future(t()).transform(Success(_)))),
        scala.concurrent.duration.Duration.Inf)
      settled.find(_.isFailure).foreach { f =>
        // free checkpoints the SUCCEEDED siblings produced: the caller
        // only ever frees results it received, and it receives none
        settled.foreach {
          case Success(df: DataFrame) => freeLocal(df)
          case _ => ()
        }
        throw f.failed.get
      }
      settled.map(_.get)
    } finally pool.shutdown()
  }

  /** Free a DEAD localCheckpoint's blocks now. Spark reclaims them only
    * when driver GC collects the Dataset, which on a long suite or loop
    * leaves block sets pinned in executor storage. Frees ONLY when the frame's
    * whole plan IS one checkpoint materialization (a bare LogicalRDD —
    * exactly what `localCheckpoint(true)` returns), so a call on a lazy
    * frame is a no-op even when its input holds upstream checkpoints
    * the caller still reads. Callers must only pass frames with no live
    * lazy readers.
    */
  private[graft] def freeLocal(df: DataFrame): Unit =
    df.queryExecution.analyzed match {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        l.rdd.unpersist(false)
      case _ => ()
    }

  /** AUDIT diff of two committed generations — `(key, <v>_a..., <v>_b...,
    * change)` with `change` ∈ `added` (only in `genB`) | `removed` (only
    * in `genA`) | `movedTag` (any value column changed) — resolved
    * entirely through the manifests, MANIFEST-PRUNED: generation data
    * directories are immutable once committed, so a bucket whose
    * `(bucket → directory)` entry is identical in both snapshots is
    * byte-identical and provably contributes nothing; only
    * entry-DIFFERING buckets are read, each side from its own directory,
    * via [[readBucketDirs]] so the file listing is also proportional to
    * the change. SOUNDNESS REQUIREMENT on the store: a row's bucket must
    * be a pure function of columns that determine its diff identity —
    * then every changed row lands in an entry-differing bucket (its
    * content change routed that bucket through a fresh generation
    * directory at commit) and the pruning is complete, not approximate.
    * Rows read from a changed bucket whose values agree (carried along
    * by the bucket rewrite) drop out in the final filter. Cost at
    * 100 TB: two manifest reads plus one full-outer join over ONLY the
    * touched buckets — zero data read when the snapshots are equal.
    */
  def diff(spark: org.apache.spark.sql.SparkSession, path: String,
           genA: Long, genB: Long, keyCol: String, valCols: Seq[String],
           movedTag: String): DataFrame =
    diffWith(spark, path, genA, genB, keyCol, sums(valCols), movedTag)

  /** Fold-spec form ([[Fold]] per value column — a segmented extrema
    * side folds by its own monoid, never a mis-sum). */
  def diffWith(spark: org.apache.spark.sql.SparkSession, path: String,
               genA: Long, genB: Long, keyCol: String,
               foldSpec: Seq[(String, Fold)], movedTag: String): DataFrame = {
    val valCols = foldSpec.map(_._1)
    val (ma, mb) = (at(spark, path, genA), at(spark, path, genB))
    // a bucket may map to SEVERAL segment dirs (the LSM tier) — compare
    // segment SETS: equal sets ⇒ byte-identical content, prune; a plain
    // toMap would collapse segments and mis-prune
    def segs(m: Manifest): Map[Long, Set[String]] =
      m.entries.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val (ea, eb) = (segs(ma), segs(mb))
    val changed = (ea.keySet ++ eb.keySet)
      .filter(b => ea.getOrElse(b, Set.empty) != eb.getOrElse(b, Set.empty))
    // segmentation is a PER-MANIFEST property: a content-changed bucket
    // maps to different dirs ACROSS the two snapshots (the normal diff
    // case), which says nothing about either side needing a fold —
    // only a bucket with >1 segment within ITS OWN manifest does. A
    // combined check would flip every real diff to the folded path,
    // silently requiring summable valCols of single-segment stores and
    // paying an unnecessary per-side shuffle.
    def segmented(e: Map[Long, Set[String]]): Boolean =
      e.exists(_._2.size > 1)
    def side(m: Manifest, tag: String, seg: Boolean): DataFrame = {
      val es = m.entries.filter(e => changed.contains(e._1))
      // schema from a live entry when this side has no changed buckets
      // (limit(0) folds to an empty relation — zero data read)
      val df0 = readBucketDirs(spark, path,
        if (es.nonEmpty) es else m.entries.take(1))
      // fold segments per key when THIS side has any — only additive
      // stores grow segments ([[mergeAdditive]]), so summing is their
      // own read semantics; single-segment sides take the raw path
      // unchanged (their valCols need not be summable)
      val df =
        if (!seg) df0
        else {
          val aggs = foldSpec.map { case (v, f) => f.agg(col(v)).as(v) }
          df0.groupBy(col(keyCol)).agg(aggs.head, aggs.tail: _*)
        }
      val named = (if (es.nonEmpty) df else df.limit(0))
        .select(col(keyCol) +:
          valCols.map(v => col(v).as(s"${v}_$tag")): _*)
      named.withColumn(s"__p$tag", lit(true))
    }
    side(ma, "a", segmented(ea)).join(side(mb, "b", segmented(eb)),
        Seq(keyCol), "full_outer")
      .filter(col("__pa").isNull || col("__pb").isNull ||
        valCols.map(v => col(s"${v}_a") =!= col(s"${v}_b")).reduce(_ || _))
      .withColumn("change",
        when(col("__pa").isNull, lit("added"))
          .when(col("__pb").isNull, lit("removed"))
          .otherwise(lit(movedTag)))
      .drop("__pa", "__pb")
  }
}
