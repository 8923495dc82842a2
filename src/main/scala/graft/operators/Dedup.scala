package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.functions.{TextFns, VectorFns}

/** Deduplication operators for large text corpora (BASELINE.json north star).
  *
  * Everything here avoids the O(n^2) all-pairs comparison that kills at
  * 100 TB: exact dedup is a hash groupBy (one shuffle on the digest);
  * near-dup detection generates candidate pairs through locality-sensitive
  * *blocking* (MinHash bands / SimHash blocks / hyperplane buckets) so the
  * pairwise verification only runs inside small buckets. Pathologically hot
  * buckets are capped (`maxBucket`) — the standard guard against a single
  * popular band hash degenerating back to quadratic work.
  */
object Dedup {

  /** Exact dedup: keep the lowest id per identical value of `cols`.
    * Plain hash groupBy — partial aggregation makes the shuffle proportional
    * to distinct values, not rows.
    */
  def exact(df: DataFrame, idCol: String, cols: Seq[String]): DataFrame =
    df.groupBy(cols.map(c => md5(to_json(struct(col(c))))).reduce((a, b) => md5(concat(a, b))).as("h"))
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("n_dupes"))

  /** MinHash signature as an array<long> column over pre-hashed shingles.
    *
    * Each shingle is hashed ONCE (xxhash64 -> 31-bit); the k minhash slots
    * come from a universal hash family h_i(x) = (a_i*x + b_i) mod p with
    * driver-side deterministic constants — k cheap arithmetic passes instead
    * of k string-hash passes (this is what makes the signature ~30x cheaper
    * at corpus scale). Constants are bounded so no ANSI overflow: x < 2^31,
    * a_i < 2^20 => a_i*x + b_i < 2^52.
    */
  private val MersennePrime = 2147483647L // 2^31 - 1

  def shingleHashes(shingles: Column): Column =
    transform(shingles, x => pmod(xxhash64(x), lit(MersennePrime)))

  /** Declarative form of the portable (md5/60-bit) shingle hash — the
    * reference formulation for MinHashSig's portableHash mode and the exact
    * arithmetic the q92 DuckDB oracle replays.
    */
  def shingleHashesPortable(shingles: Column): Column =
    transform(shingles, x =>
      pmod(conv(substring(md5(x), 1, 15), 16, 10).cast("long"), lit(MersennePrime)))

  def minhashSignature(hashedShingles: Column, numHashes: Int, seed: Int = 7): Column = {
    val rnd = new java.util.Random(seed)
    val ab = Array.fill(numHashes)((1L + rnd.nextInt((1 << 20) - 1).toLong, rnd.nextInt(1 << 20).toLong))
    array(ab.map { case (a, b) =>
      array_min(transform(hashedShingles, h => pmod(h * a + b, lit(MersennePrime))))
    }: _*)
  }

  /** LSH band keys for a signature: `bands` hashes, each over an equal slice
    * of the signature. Two docs sharing any band key become a candidate pair.
    * Portable mode hashes the comma-joined slice with md5 (replayable as
    * `md5(array_to_string(sig[a:b], ','))` in the DuckDB oracle) instead of
    * xxhash64; the banding semantics are identical.
    */
  def bandKeys(sig: Column, numHashes: Int, bands: Int,
               portableHash: Boolean = false): Column = {
    val rows = numHashes / bands
    transform(
      sequence(lit(0), lit(bands - 1)),
      b => {
        val joined = concat_ws(",", slice(sig, b * rows + 1, lit(rows)))
        val key = if (portableHash) md5(joined.cast("binary")) else xxhash64(joined)
        struct(b.as("band"), key.as("key"))
      })
  }

  /** Near-duplicate pairs via MinHash + LSH banding, verified with exact
    * Jaccard over the shingle sets.
    *
    * Pipeline: shingle -> signature -> explode band keys -> bucket-join ->
    * distinct candidate pairs -> fetch shingles per side -> Jaccard filter.
    * Only the banded explode (bands x n rows) and the bucket-local join
    * shuffle; verification joins are by id.
    */
  def minhashPairs(df: DataFrame, idCol: String, textCol: String,
                   numHashes: Int = 32, bands: Int = 8, shingleK: Int = 3,
                   threshold: Double = 0.5, maxBucket: Int = 1000,
                   portableHash: Boolean = false): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    // one implementation with the pre-signed path (r20): tokenize + sign
    // through [[signedSide]], pair through [[pairsFromSigned]] — a caller
    // that already holds a signed side (a persisted signature store, or a
    // corpus shared between a full build and an incremental pass, the
    // q284 lifecycle) skips the per-document text work entirely, and the
    // two paths cannot drift because they ARE one path.
    pairsFromSigned(
      signedSide(df, idCol, textCol, numHashes, bands, shingleK, portableHash),
      threshold, maxBucket)
  }

  /** Self-pairs over a PRE-SIGNED side (the [[signedSide]] schema) — the
    * [[minhashPairs]] pipeline minus every tokenize/shingle/signature
    * expression, so feeding a materialized signed side pays zero text
    * processing (the production shape: signatures are written at ingest
    * and every later pairing reads them).
    */
  def pairsFromSigned(signed: DataFrame, threshold: Double = 0.5,
                      maxBucket: Int = 1000): DataFrame = {
    // Persist: the shingle sets feed both sides of the candidate
    // verification join, the band keys both sides of the self-join —
    // recomputing a text-fed side's tokenization+hashing per consumer
    // would multiply the dominant cost 4-6x.
    val base = signed.select(col("__id"), col("__sh"), col("__bk")).persist()
    // Materialize the cache BEFORE fan-out: the hot-bucket count, the banded
    // cache fill and the candidate pipeline otherwise launch as concurrent
    // AQE stage jobs that each recompute the (dominant) shingle+signature
    // work while the cache is still cold.
    base.count()
    // The banded projection is consumed three times (hot-bucket counts and
    // both sides of the candidate self-join). It is tiny — (id, band, key),
    // bands rows per doc, no shingle payload — so cache it instead of
    // re-running the explode over the (much wider) cached base per consumer.
    val banded = base
      .select(col("__id"), explode(col("__bk")).as("__b"))
      .select(col("__id"), col("__b.band").as("band"), col("__b.key").as("key"))
      .persist()

    // Hot-bucket cap: a band key shared by k docs yields k^2/2 candidates.
    // Shape: partial-aggregated counts (tiny — one row per distinct band
    // key) -> keep only the hot ones -> broadcast anti-join. This avoids
    // the window formulation's full shuffle+sort of every banded row just
    // to count bucket sizes.
    val hot = banded.groupBy(col("band"), col("key"))
      .agg(count(lit(1)).as("__cnt"))
      .filter(col("__cnt") > maxBucket)
      .select(col("band"), col("key"))
    val bucketed = banded.join(broadcast(hot), Seq("band", "key"), "left_anti")

    // Pair generation: one shuffle groups each surviving bucket's ids, then
    // pairs expand bucket-locally. Because the hot anti-join above already
    // removed every bucket larger than maxBucket, the collected id list is
    // BOUNDED (<= maxBucket) — this is what makes the collect_list safe at
    // corpus scale, and it replaces the previous two-sided self-join (two
    // full exchanges + join) with a single exchange.
    val ids = col("ids")
    val pairsOf = flatten(transform(ids, (x, i) =>
      transform(slice(ids, i + lit(2), size(ids)),
        y => struct(x.as("id_a"), y.as("id_b")))))
    val cand = bucketed.groupBy(col("band"), col("key"))
      .agg(sort_array(collect_list(col("__id"))).as("ids"))
      .filter(size(ids) >= 2)
      .select(explode(pairsOf).as("p"))
      .select(col("p.id_a"), col("p.id_b"))
      .distinct()

    val withSets = cand
      .join(base.select(col("__id").as("id_a"), col("__sh").as("sh_a")), "id_a")
      .join(base.select(col("__id").as("id_b"), col("__sh").as("sh_b")), "id_b")
    val jac = size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
      size(array_union(col("sh_a"), col("sh_b"))).cast("double")
    // Materialize the (small) verified pair set so the two caches above can
    // be released HERE instead of leaking for the session lifetime — repeated
    // minhashPairs/dedupCorpus calls previously accumulated storage. The
    // result is near-dup pairs only, orders of magnitude smaller than the
    // corpus, so the eager localCheckpoint is cheap and also cuts lineage
    // for downstream iteration (connectedComponents).
    val out = withSets
      .select(col("id_a"), col("id_b"), round(jac, 4).as("jaccard"))
      .filter(col("jaccard") >= threshold)
      .localCheckpoint(true)
    base.unpersist(false)
    banded.unpersist(false)
    out
  }

  /** Incremental near-dup — the production dedup mode: flag NEW documents
    * that near-duplicate the EXISTING corpus or each other, WITHOUT
    * re-pairing the historical corpus against itself. A daily increment is
    * a sliver of the corpus; regenerating old-vs-old pairs every run would
    * dominate the cost for zero information.
    *
    * Same banded-LSH machinery as `minhashPairs` (hot-bucket cap,
    * bucket-local bounded pair expansion, Jaccard verification), with the
    * side carried through banding and the expansion lambda dropping
    * old-old pairs INSIDE the codegen'd per-bucket loop — they never reach
    * the shuffle. In production the existing side's signatures are a
    * stored table; recomputing them from text here is the same plan minus
    * that scan.
    *
    * Output: new_id (always the new doc), dup_id, dup_is_existing,
    * jaccard. New-new pairs appear once (smaller id as new_id).
    */
  def incrementalMinhashPairs(newDocs: DataFrame, existing: DataFrame,
                              idCol: String, textCol: String,
                              numHashes: Int = 32, bands: Int = 8, shingleK: Int = 3,
                              threshold: Double = 0.5, maxBucket: Int = 1000,
                              portableHash: Boolean = false): DataFrame =
    incrementalPairsSigned(
      signedSide(newDocs, idCol, textCol, numHashes, bands, shingleK, portableHash),
      signedSide(existing, idCol, textCol, numHashes, bands, shingleK, portableHash),
      threshold, maxBucket, cacheExisting = true)

  /** One side of an incremental pairing with every per-document computation
    * done ONCE: `(__id, __sh shingle set, __sig signature, __bk band keys)`.
    * This is also the persisted-store schema for continuously-running dedup
    * ([[graft.streaming.StreamingDedup]]): signatures and band keys are
    * written at ingest/merge time, so later increments feed
    * [[incrementalPairsSigned]] straight from storage and history is never
    * re-tokenized.
    */
  def signedSide(df: DataFrame, idCol: String, textCol: String,
                 numHashes: Int = 32, bands: Int = 8, shingleK: Int = 3,
                 portableHash: Boolean = false): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    graft.Tables.spread(df)
      .select(col(idCol).as("__id"),
        array_distinct(TextFns.wordShingles(TextFns.tokens(col(textCol)), shingleK))
          .as("__sh"))
      .filter(size(col("__sh")) > 0)
      .withColumn("__sig",
        graft.expressions.MinHashSig(col("__sh"), numHashes, 7, portableHash))
      .withColumn("__bk", bandKeys(col("__sig"), numHashes, bands, portableHash))
  }

  /** Candidate generation over an already-banded union of sides:
    * `(__id, __new, band, key)` rows in, oriented candidate pairs
    * `(new_id, dup_id, dup_is_existing)` out. Hot-bucket cap, bounded
    * bucket-local pair expansion (old–old pairs dropped INSIDE the
    * codegen'd lambda — they never reach the shuffle), id-pair dedup
    * across blocking buckets, then orientation (new_id is always a
    * new-side id; new-new pairs appear once with the smaller id as
    * new_id). Exposed separately from [[incrementalPairsSigned]] so a
    * caller with a PARTITIONED band index ([[graft.streaming.StreamingDedup]])
    * can feed a bucket-pruned history scan straight in.
    */
  private[graft] def orientedCandidates(banded: DataFrame, maxBucket: Int): DataFrame = {
    val hot = banded.groupBy(col("band"), col("key"))
      .agg(count(lit(1)).as("__cnt"))
      .filter(col("__cnt") > maxBucket)
      .select(col("band"), col("key"))
    val bucketed = banded.join(broadcast(hot), Seq("band", "key"), "left_anti")

    val ids = col("ids")
    val pairsOf = filter(
      flatten(transform(ids, (x, i) =>
        transform(slice(ids, i + lit(2), size(ids)), y =>
          struct(x.getField("id").as("id_a"), x.getField("n").as("na"),
            y.getField("id").as("id_b"), y.getField("n").as("nb"))))),
      p => p.getField("na") || p.getField("nb"))
    bucketed.groupBy(col("band"), col("key"))
      .agg(sort_array(collect_list(struct(col("__id").as("id"), col("__new").as("n"))))
        .as("ids"))
      .filter(size(ids) >= 2)
      .select(explode(pairsOf).as("p"))
      .select(col("p.id_a"), col("p.na"), col("p.id_b"), col("p.nb"))
      .distinct()
      .select(
        when(col("na"), col("id_a")).otherwise(col("id_b")).as("new_id"),
        when(col("na"), col("id_b")).otherwise(col("id_a")).as("dup_id"),
        (!(col("na") && col("nb"))).as("dup_is_existing"))
  }

  /** Jaccard verification of oriented candidates. `newShingles` serves the
    * new_id join-back (new_id is a new-side id by construction — probing a
    * wider set would re-scan history shingles for rows that can never
    * match); `dupShingles` must cover every possible dup_id (both sides for
    * the generic path; new side + a candidate-bucket-pruned store scan for
    * the streaming path). Both in the `(__id, __sh)` projection.
    */
  private[graft] def verifyOriented(cand: DataFrame, newShingles: DataFrame,
                                    dupShingles: DataFrame,
                                    threshold: Double): DataFrame = {
    val jac = size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
      size(array_union(col("sh_a"), col("sh_b"))).cast("double")
    cand
      .join(newShingles.select(col("__id").as("new_id"), col("__sh").as("sh_a")), "new_id")
      .join(dupShingles.select(col("__id").as("dup_id"), col("__sh").as("sh_b")), "dup_id")
      .select(col("new_id"), col("dup_id"), col("dup_is_existing"),
        round(jac, 4).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Core of the incremental pairing, fed with PRE-SIGNED sides (the
    * [[signedSide]] schema; `__sig` is optional — banding consumes the
    * stored `__bk` directly). Contains NO tokenize/shingle/signature
    * expression: a caller whose existing side is a persisted
    * signature-bearing store pays zero per-batch text processing for
    * history — the store contributes a column-pruned `(__id, __bk)` scan
    * to the banding stage and a `(__id, __sh)` scan to the verification
    * join-backs, and nothing else.
    *
    * `cacheExisting` trades memory for scan reuse: text-fed batch callers
    * (where re-deriving the side means re-tokenizing) cache it; store-fed
    * streaming callers leave it false so history is only ever re-SCANNED
    * (pruned parquet columns), never held corpus-sized in executor memory
    * per microbatch.
    *
    * `eager = false` skips caching, the disjointness action, and the final
    * materialization and returns the raw lazy plan — for plan-shape
    * assertions (StreamingSpec pins that a store-fed pairing contains no
    * tokenizer anywhere); production callers keep the default.
    */
  def incrementalPairsSigned(newSigned: DataFrame, existingSigned: DataFrame,
                             threshold: Double, maxBucket: Int,
                             cacheExisting: Boolean = false,
                             eager: Boolean = true,
                             checkDisjoint: Boolean = true): DataFrame = {
    def sel(df: DataFrame, isNew: Boolean): DataFrame =
      df.select(col("__id"), col("__sh"), col("__bk"), lit(isNew).as("__new"))
    val newSide0 = sel(newSigned, isNew = true)
    val exSide0 = sel(existingSigned, isNew = false)

    def pipeline(newSide: DataFrame, exSide: DataFrame,
                 banded: DataFrame): DataFrame =
      verifyOriented(orientedCandidates(banded, maxBucket),
        newShingles = newSide,
        dupShingles = newSide.unionByName(exSide).select(col("__id"), col("__sh")),
        threshold = threshold)

    def bandedOf(newSide: DataFrame, exSide: DataFrame): DataFrame =
      newSide.unionByName(exSide)
        .select(col("__id"), col("__new"), explode(col("__bk")).as("__b"))
        .select(col("__id"), col("__new"),
          col("__b.band").as("band"), col("__b.key").as("key"))

    if (!eager)
      return pipeline(newSide0, exSide0, bandedOf(newSide0, exSide0))

    val newSide = newSide0.persist()
    val exSide = if (cacheExisting) exSide0.persist() else exSide0
    // tiny per row (id, flag, band, key) and consumed by both the hot-bucket
    // count and the candidate pipeline — cached instead of re-running the
    // explode (and, for text-fed sides, the signature work) per consumer
    val banded = bandedOf(newSide, exSide).persist()
    try {
      if (checkDisjoint) {
        // Materialize caches BEFORE the AQE fan-out (concurrent stage jobs
        // would otherwise each recompute the sides while the cache is
        // cold), and guard the contract in the same pass: the two sides'
        // ids must be DISJOINT — the output schema carries bare
        // new_id/dup_id, so an id on both sides (plausible for daily
        // increments with per-day sequence ids) would conflate two
        // documents in the shingle join-backs and emit wrong
        // pairs/jaccards. Failing loudly is the only correct behavior. The
        // probe broadcasts the (bounded, by the incremental premise)
        // new-id set against the existing side — a groupBy-all-ids guard
        // would shuffle one row per corpus document, the exact old-corpus-
        // proportional cost this mode exists to avoid. A caller that
        // GUARANTEES disjointness structurally (StreamingDedup's anti-join
        // against the store) passes checkDisjoint = false and skips this
        // corpus-proportional probe per batch.
        val overlap = exSide
          .join(broadcast(newSide.select(col("__id"))), Seq("__id"), "left_semi")
          .count()
        require(overlap == 0,
          "incrementalPairsSigned: newDocs and existing share document ids — " +
            "the sides must be disjoint (key increments globally, e.g. date-prefixed ids)")
      } else newSide.count() // still materialize the bounded new side first
      pipeline(newSide, exSide, banded).localCheckpoint(true)
    } finally {
      banded.unpersist(false)
      newSide.unpersist(false)
      if (cacheExisting) exSide.unpersist(false)
    }
  }

  /** Driver-side union-find over an edge list: every node that touches an
    * edge, mapped to the lowest id of its component.
    */
  private def unionFind(edges: Iterable[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
      var c = x
      while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    edges.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { val (lo, hi) = if (ra < rb) (ra, rb) else (rb, ra); parent(hi) = lo }
    }
    parent.keys.map(k => k -> find(k)).toMap
  }

  /** Connected components over a pair graph by iterative min-label
    * propagation PLUS pointer jumping (each round every node adopts the
    * smallest label in its neighborhood, then compresses one level:
    * label := label(label)). The jump doubles the distance a small label
    * travels per round, so convergence is O(log diameter) — a path graph
    * of length 1000 converges in ~10 rounds, not 1000. The loop runs to
    * CONVERGENCE (no label changed), bounded by `maxIters` as a hard cap
    * that FAILS LOUDLY — returning silently-unconverged (wrong) components
    * is never an option. maxIters = 64 is unreachable for any graph
    * (pointer jumping covers diameter 2^64); it guards logic bugs only.
    * Each round is a bounded number of shuffles; lineage is cut per round
    * (localCheckpoint) so iteration count doesn't compound plan depth.
    */
  def connectedComponents(pairs: DataFrame, maxIters: Int = 64,
                          smallGraphThreshold: Long = 2000000L): DataFrame = {
    val edges = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
      .unionByName(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
      .distinct()
      .localCheckpoint()

    // Two-regime design: LSH-verified duplicate pairs are RARE relative to
    // the corpus (that is the point of blocking), so the pair graph usually
    // fits on the driver even at 100 TB corpus scale — exact union-find
    // there beats ~2*maxIters distributed jobs. The distributed
    // label-propagation below is the fallback for pathological graphs.
    val nEdges = edges.count()
    if (nEdges == 0) {
      val spark = pairs.sparkSession
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("label", org.apache.spark.sql.types.LongType))))
    }
    if (nEdges <= smallGraphThreshold) {
      val spark = pairs.sparkSession
      import spark.implicits._
      return unionFind(edges.collect().map(r => (r.getLong(0), r.getLong(1))))
        .toSeq.toDF("id", "label")
    }
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("label", col("id"))
      .localCheckpoint()
    var iter = 0
    var changed = true
    while (changed) {
      if (iter >= maxIters)
        throw new IllegalStateException(
          s"connectedComponents did not converge in $maxIters rounds — " +
            "refusing to return unconverged (wrong) component labels")
      val nbrMin = edges
        .join(labels.withColumnRenamed("id", "src"), "src")
        .groupBy(col("dst").as("id"))
        .agg(min(col("label")).as("nbr_label"))
      val propagated = labels.join(nbrMin, Seq("id"), "left")
        .select(col("id"),
          least(col("label"), coalesce(col("nbr_label"), col("label"))).as("label"))
      // pointer jump: label := label(label). Every label value IS a node id
      // (labels start as ids and only ever adopt other nodes' labels), so the
      // self-join always finds the parent row; the left join is belt-and-
      // braces. This is what turns O(diameter) propagation into O(log d).
      val parents = propagated
        .select(col("id").as("p_id"), col("label").as("p_label"))
      val updated = propagated.join(parents, col("label") === col("p_id"), "left")
        .select(col("id"),
          least(col("label"), coalesce(col("p_label"), col("label"))).as("label"))
        .localCheckpoint()
      changed = updated.join(labels.withColumnRenamed("label", "old"), "id")
        .filter(col("label") =!= col("old")).limit(1).count() > 0
      labels = updated
      iter += 1
    }
    labels
  }

  /** PERSISTED cluster store — the [[connectedComponents]] labels as a
    * maintained lakehouse table, so a continuously-running dedup pipeline
    * stops recomputing the closure from ALL pairs every day. Layout:
    * immutable data directories `path/d<G>/bucket=N/` holding rows
    * `(id, label)` with `bucket = label mod nBuckets` — PARTITIONED BY
    * THE LABEL'S BUCKET, because maintenance rewrites rows by which
    * COMPONENT changed — plus the one-file `path/CURRENT` manifest
    * (generation, bucket count, and the live `bucket → directory` map),
    * committed by write-tmp + atomic rename. A merge writes ONLY its
    * touched buckets into a fresh generation directory and remaps them
    * in the manifest swap: every other bucket's files are never read,
    * never rewritten (the q275 touched-partition discipline,
    * PlanSpec-pinned), a reader that resolved the previous manifest
    * keeps scanning exactly the previous files (never a half-committed
    * mixture), and a crash anywhere before the swap leaves the store
    * bit-identical. Superseded generation directories stay on disk for
    * in-flight readers; reclaiming them is the caller's retention
    * cadence, as with any snapshot store.
    */
  def buildClusterStore(pairs: DataFrame, path: String,
                        nBuckets: Int = 16): Unit = {
    require(nBuckets >= 1, s"nBuckets must be positive, got $nBuckets")
    val spark = pairs.sparkSession
    // a re-build over an EXISTING store (periodic full recompute) is a
    // mutation like any other: it lands in a fresh generation directory
    // and commits via the manifest swap — writing into d1 in place would
    // tear the very readers the manifest isolates (d1 may still carry
    // live entries for never-touched buckets)
    val gen = readStoreManifest(spark, path).map(_.gen + 1).getOrElse(1L)
    val dir = s"d$gen"
    connectedComponents(pairs)
      .withColumn("bucket", pmod(col("label"), lit(nBuckets.toLong)))
      .write.partitionBy("bucket").mode("overwrite").parquet(s"$path/$dir")
    require(Snapshot.dirExists(spark, s"$path/$dir"),
      s"build staging $dir vanished before commit — a concurrent vacuum " +
        "ran during the build (one maintenance writer at a time)")
    GenStore.write(spark, path, GenStore.Manifest(gen, nBuckets, Seq.empty,
      listBucketDirs(spark, s"$path/$dir").map((_, dir))))
  }

  /** The live manifest of a cluster store: generation counter, bucket
    * count, and the `bucket → data directory` map. One text file
    * (`CURRENT`), swapped atomically — the snapshot-store machinery is
    * the shared [[GenStore]] (manifest history, time travel, retention
    * vacuum, manifest-pruned diff), the same one-file-commit primitive
    * as the IVF-PQ codes catalog.
    */
  private[graft] def readStoreManifest(spark: org.apache.spark.sql.SparkSession,
                                       path: String): Option[GenStore.Manifest] =
    GenStore.read(spark, path)

  private def listBucketDirs(spark: org.apache.spark.sql.SparkSession,
                             dir: String): Seq[Long] =
    Snapshot.listKvDirs(spark, dir, "bucket")

  /** The stored component labels, `(id, label)`. The manifest-less
    * fallback reads the legacy flat layout via the EXPLICIT bucket-dir
    * list, so it stays readable even beside a half-written migration
    * generation (a recursive read over two partition depths would fail
    * discovery).
    */
  def readClusterStore(spark: org.apache.spark.sql.SparkSession,
                       path: String): DataFrame =
    readStoreManifest(spark, path) match {
      case Some(m) =>
        GenStore.readRaw(spark, path, m).select(col("id"), col("label"))
      case None =>
        val bks = listBucketDirs(spark, path)
        require(bks.nonEmpty, s"not a cluster store: $path")
        spark.read.option("basePath", path)
          .parquet(bks.map(b => s"$path/bucket=$b"): _*)
          .select(col("id"), col("label"))
    }

  /** TIME-TRAVEL read: the store's labels exactly as generation `gen`
    * committed them. Every mutation archives the manifest it replaces
    * into `manifests/<gen>` ([[GenStore.write]]) and generation
    * data directories are immutable once committed, so resolving the
    * historical manifest reproduces the old snapshot byte-for-byte —
    * the Iceberg/Delta snapshot-read shape, manifest-pointer-only, zero
    * data copies. Retention is [[vacuumClusterStore]]'s `keepGens`: a
    * vacuumed generation fails LOUDLY at manifest resolution (the
    * manifest is deleted together with the data directories it pinned),
    * never by silently scanning half-reclaimed buckets. Audit shape at
    * 100 TB: diffing two generations' labels is two manifest reads and
    * a join over only the buckets whose entries differ.
    */
  def readClusterStoreAsOf(spark: org.apache.spark.sql.SparkSession,
                           path: String, gen: Long): DataFrame =
    GenStore.readRaw(spark, path, GenStore.at(spark, path, gen))
      .select(col("id"), col("label"))

  /** AUDIT diff of two committed generations — `(id, label_a, label_b,
    * change)` with `change` ∈ `added` (only in `genB`) | `removed` (only
    * in `genA`) | `moved` (label changed) — resolved entirely through the
    * manifests, MANIFEST-PRUNED: generation data directories are
    * immutable once committed, so a bucket whose `(bucket → directory)`
    * entry is identical in both snapshots is byte-identical and provably
    * contributes nothing; only entry-DIFFERING buckets are read, each
    * side from its own directory. The pruning is complete, not
    * approximate: a row's bucket is a pure function of its label
    * ([[mergeIntoClusterStore]]'s `pmod(label, nBuckets)`), so a relabel
    * changes the contents of both the moved-from and moved-to buckets,
    * an insert changes its label's bucket, and every content change
    * routes that bucket through a fresh generation directory at commit —
    * a changed row can never hide in an entry-equal bucket. Cost at
    * 100 TB: two manifest reads plus one full-outer join over ONLY the
    * touched buckets — zero data read when the snapshots are equal, and
    * an audit of "what did yesterday's merges move" never rescans the
    * corpus-sized stable majority. Rows read from a changed bucket whose
    * labels agree (carried along by the bucket rewrite) drop out in the
    * final filter.
    */
  def diffClusterStore(spark: org.apache.spark.sql.SparkSession,
                       path: String, genA: Long, genB: Long): DataFrame =
    GenStore.diff(spark, path, genA, genB, "id", Seq("label"), "moved")

  /** One-time crash-safe migration of a pre-manifest flat store into the
    * generation layout: land the rows as `d1` (skipped when a prior
    * attempt already left a complete `_SUCCESS`-marked d1), validate
    * that the caller's `nBuckets` really is the layout's modulus BEFORE
    * stamping it into the manifest (a wrong value would silently
    * mis-route every future touched-bucket computation — the guard makes
    * it loud instead), then commit the manifest. Re-runnable from any
    * crash point: the flat source is always read via the explicit
    * bucket-dir list, never a recursive discovery that a half-written d1
    * would break.
    */
  private def migrateFlatStore(spark: org.apache.spark.sql.SparkSession,
                               path: String, nBuckets: Int): Unit = {
    val flatBuckets = listBucketDirs(spark, path)
    require(flatBuckets.nonEmpty, s"not a cluster store: $path")
    val d1 = s"$path/d1"
    val landed = Snapshot.dirExists(spark, s"$d1/_SUCCESS")
    val src =
      if (landed) spark.read.option("basePath", d1).parquet(d1)
      else spark.read.option("basePath", path)
        .parquet(flatBuckets.map(b => s"$path/bucket=$b"): _*)
    require(src.filter(
        pmod(col("label"), lit(nBuckets.toLong)) =!= col("bucket")).isEmpty,
      s"cluster store at $path is not bucketed label mod $nBuckets — " +
        "pass the store's original nBuckets")
    if (!landed) {
      val snap = src.localCheckpoint(true)
      try snap.write.partitionBy("bucket").mode("overwrite").parquet(d1)
      finally GenStore.freeLocal(snap)
    }
    GenStore.write(spark, path, GenStore.Manifest(1L, nBuckets, Seq.empty,
      listBucketDirs(spark, d1).map((_, "d1"))))
  }

  /** INCREMENTAL cluster maintenance: merge a day's new duplicate pairs
    * into a persisted [[buildClusterStore]] — the connected-components
    * member of the increment discipline (pairs: q112; ANN: q275;
    * streaming stores: q137/q148). Without it, day N pays a closure over
    * N days of pairs; with it, the day pays work proportional to ITS OWN
    * pairs plus the rows of the components it actually touches.
    *
    * The algebra that makes this exact: component labels are component
    * MINIMA, and merging is associative — so the new pairs only need the
    * QUOTIENT graph over current labels (endpoint label vs endpoint
    * label, fresh nodes labeling themselves; ≤ one edge per new pair).
    * [[connectedComponents]] on that bounded graph yields old-label →
    * merged-label (the merged min is the min over member ids, exactly
    * what a full recompute produces — q284 hash-proves the equivalence).
    * Then: store rows in AFFECTED label-buckets are relabeled through
    * the mapping, fresh endpoints insert with their merged label, and
    * the dynamic partition overwrite rewrites ONLY the buckets holding
    * moved-from or moved-to labels; a bucket whose every row migrated
    * out is deleted explicitly (dynamic overwrite cannot replace a
    * partition the write produces no rows for — the q148 emptied-bucket
    * rule).
    *
    * Scale shape: the endpoint-label lookup is ONE read-only scan of the
    * store (id is not the partition key — the lookup joins, it cannot
    * prune; everything after prunes: the touched-bucket set collects as
    * ≤ nBuckets ints and pushes down as a static partition filter). The
    * quotient CC is increment-bounded and takes the same two-regime
    * path as any pair graph.
    *
    * CRASH/READER SAFETY: the merge mutates nothing in place. Touched
    * buckets' new rows land in a fresh `d<gen+1>` generation directory,
    * and the one-file manifest rename is the commit — remapping moved
    * buckets, keeping untouched entries, and simply dropping a bucket
    * whose every row migrated out. A crash anywhere before the rename
    * leaves the previous store bit-identical (the retried merge rewrites
    * the same generation directory); a reader that resolved the previous
    * manifest mid-merge keeps scanning entirely-previous files.
    */
  def mergeIntoClusterStore(newPairs: DataFrame, path: String,
                            nBuckets: Int = 16): Unit = {
    require(nBuckets >= 1, s"nBuckets must be positive, got $nBuckets")
    val spark = newPairs.sparkSession
    // one-time migration of a pre-manifest flat store: rewrite it as
    // generation d1 so the snapshot discipline covers it from here on
    if (readStoreManifest(spark, path).isEmpty)
      migrateFlatStore(spark, path, nBuckets)
    val manifest = readStoreManifest(spark, path).get
    require(manifest.nBuckets == nBuckets,
      s"cluster store at $path was built with ${manifest.nBuckets} buckets, " +
        s"merge called with $nBuckets")
    val store = GenStore.readRaw(spark, path, manifest)
    val np = newPairs
      .select(col("id_a").cast("long").as("id_a"),
        col("id_b").cast("long").as("id_b"))
      .filter(col("id_a") =!= col("id_b"))
      .distinct()
      .localCheckpoint(true)
    try {
      val ends = np.select(col("id_a").as("id"))
        .unionByName(np.select(col("id_b").as("id"))).distinct()
      val lab = ends.join(store.select(col("id"), col("label")), Seq("id"), "left")
        .select(col("id"), coalesce(col("label"), col("id")).as("lbl"))
      val quotient = np
        .join(lab.select(col("id").as("id_a"), col("lbl").as("la")), "id_a")
        .join(lab.select(col("id").as("id_b"), col("lbl").as("lb")), "id_b")
        .filter(col("la") =!= col("lb"))
        .select(col("la").as("id_a"), col("lb").as("id_b"))
      if (quotient.isEmpty) return // every pair lands inside one component
      // (old label | fresh id) -> merged component minimum
      val merged = connectedComponents(quotient).localCheckpoint(true)
      try {
        val mapping = merged.filter(col("id") =!= col("label"))
          .select(col("id").as("old"), col("label").as("nw"))
        val inserts = ends
          .join(store.select(col("id")), Seq("id"), "left_anti")
          .join(merged.withColumnRenamed("id", "__q"),
            col("id") === col("__q"), "left")
          .select(col("id"), coalesce(col("label"), col("id")).as("label"))
        // the touched PARTITION set is what collects — ≤ nBuckets ints,
        // never labels: buckets losing rows (old labels) plus buckets
        // gaining them (merged labels, insert labels)
        val touched = mapping
          .select(pmod(col("old"), lit(nBuckets.toLong)).as("b"))
          .unionByName(mapping
            .select(pmod(col("nw"), lit(nBuckets.toLong)).as("b")))
          .unionByName(inserts
            .select(pmod(col("label"), lit(nBuckets.toLong)).as("b")))
          .distinct().collect().map(_.getLong(0))
        // touched buckets' new state lands in a FRESH generation
        // directory — the old files are never read-while-replaced (no
        // checkpoint barrier needed) and never mutated at all
        val dir = s"d${manifest.gen + 1}"
        store
          .where(col("bucket").isin(touched.map(Long.box): _*))
          .join(mapping.withColumnRenamed("old", "label"), Seq("label"), "left")
          .select(col("id"), coalesce(col("nw"), col("label")).as("label"))
          .unionByName(inserts)
          .withColumn("bucket", pmod(col("label"), lit(nBuckets.toLong)))
          .write.mode("overwrite").partitionBy("bucket").parquet(s"$path/$dir")
        // staging-vanished guard: never commit a manifest that drops the
        // touched buckets because a concurrent vacuum (a violation of
        // the single-maintenance-writer contract) deleted the freshly
        // written generation
        require(Snapshot.dirExists(spark, s"$path/$dir"),
          s"merge staging $dir vanished before commit — a concurrent " +
            "vacuum ran during the merge (one maintenance writer at a time)")
        // the COMMIT: untouched buckets keep their entries, moved buckets
        // remap to the new generation, emptied buckets leave the manifest
        GenStore.write(spark, path,
          GenStore.Manifest(manifest.gen + 1, nBuckets, manifest.applied,
            manifest.entries.filterNot(e => touched.contains(e._1)) ++
              listBucketDirs(spark, s"$path/$dir").map((_, dir))))
      } finally GenStore.freeLocal(merged)
    } finally GenStore.freeLocal(np)
  }

  /** Retention GC for the cluster store: keep the CURRENT snapshot plus
    * the newest `keepGens − 1` archived manifests, then delete every
    * generation directory (`d<G>`) none of the RETAINED snapshots
    * references — and the retired manifests themselves, in that order
    * (data first, so a crash mid-vacuum can only leave a still-
    * resolvable manifest over still-present dirs, never a manifest
    * whose dirs are gone). Retention and reachability compose: a
    * generation directory stays alive as long as ANY retained
    * snapshot's bucket still maps to it, so `keepGens = 1` is exactly
    * the old CURRENT-only behavior plus history trimming, and a larger
    * `keepGens` is the time-travel window ([[readClusterStoreAsOf]]) —
    * the Iceberg expire-snapshots trade. Run on a cadence that covers
    * the longest concurrent read (a reader still holding a pre-merge
    * manifest is exactly what this breaks), and NEVER concurrently
    * with a merge or rebuild (the Snapshot single-maintenance-writer
    * contract: it would reclaim the mutation's not-yet-committed
    * generation; the mutation's staging guard turns that into a loud
    * failure rather than silent loss, but the schedule is the
    * caller's). No-op on a legacy flat store. Returns the deleted
    * names (data dirs, then `manifests/<gen>` entries).
    */
  def vacuumClusterStore(spark: org.apache.spark.sql.SparkSession,
                         path: String, keepGens: Int = 1): Seq[String] =
    GenStore.vacuum(spark, path, keepGens)

  /** The resolvable snapshots, newest first ([[GenStore.history]]):
    * `(gen, nBuckets, nEntries, nApplied)` — what can still be read,
    * diffed, or rolled back to. Manifest reads only.
    */
  def clusterStoreHistory(spark: org.apache.spark.sql.SparkSession,
                          path: String): Seq[(Long, Int, Int, Int)] =
    GenStore.history(spark, path)

  /** COMPLIANCE PURGE: physically remove the ids' rows from every file
    * under `path` — live state AND time-travel history ([[GenStore
    * .purgeCommitted]]; the [[Purge]] contract on a snapshot store). The
    * closure subtlety a plain row-delete would miss: a component LABEL
    * is its minimum member id, so erasing that member would leave every
    * other row carrying the erased subject's id as its label — the purge
    * therefore RELABELS each touched component to its surviving minimum
    * (survivors keep their membership: the store is a closure
    * accumulator and components never split retroactively — the pairs
    * that bridged them were observed, erasing a document does not
    * un-observe its duplicates' mutual similarity; a component purged to
    * one member stays as that singleton row). Work: one read-only store
    * scan to find the affected labels (the id is not the partition key —
    * same lookup shape as [[mergeIntoClusterStore]]), then everything
    * prunes: affected rows live in the affected labels' buckets, new
    * labels land in the survivors' buckets, and only that touched union
    * is rewritten into the fresh generation before history truncates and
    * the remapped-away bucket dirs are surgically deleted. Re-run to
    * completion after a crash (idempotent: already-purged ids anti-join
    * to the same survivors, already-relabeled components relabel to the
    * same minima). Returns the number of rows deleted.
    */
  def purgeClusterStoreIds(ids: DataFrame, path: String): Long = {
    val spark = ids.sparkSession
    val manifest = readStoreManifest(spark, path).getOrElse(
      throw new IllegalArgumentException(s"not a manifested cluster store: $path"))
    val n = manifest.nBuckets
    val idsd = ids.select(col("id").cast("long").as("id")).distinct()
      .localCheckpoint(true)
    try {
      // the affected COMPONENTS: labels of any component holding a
      // purged id (bounded by |ids|) — one read-only scan, then pruned
      val affected = GenStore.readRaw(spark, path, manifest)
        .join(idsd, Seq("id"), "left_semi")
        .select(col("label")).distinct().localCheckpoint(true)
      try {
        if (affected.isEmpty) return 0L // none of the ids ever stored
        val oldBuckets = affected
          .select(pmod(col("label"), lit(n.toLong)).as("b"))
          .distinct().collect().map(_.getLong(0)).toSet // ≤ nBuckets
        val compRows = GenStore.readBucketDirs(spark, path,
            manifest.entries.filter(e => oldBuckets.contains(e._1)))
          .join(affected, Seq("label"), "left_semi")
          .select(col("id"), col("label"))
          .localCheckpoint(true)
        try {
          val surv = compRows.join(idsd, Seq("id"), "left_anti")
          // relabel each touched component to its SURVIVING minimum
          val relabeled = surv
            .join(surv.groupBy(col("label"))
                .agg(min(col("id")).as("__new")), Seq("label"))
            .select(col("id"), col("__new").as("label"))
            .localCheckpoint(true)
          try {
            val deleted = compRows.count() - relabeled.count()
            if (deleted == 0L) return 0L // ids absent: nothing to erase
            val newBuckets = relabeled
              .select(pmod(col("label"), lit(n.toLong)).as("b"))
              .distinct().collect().map(_.getLong(0)).toSet
            val touched = oldBuckets ++ newBuckets
            val dir = s"d${manifest.gen + 1}"
            // rows of the touched buckets, minus every affected-component
            // row (purged AND survivors), plus the relabeled survivors
            GenStore.readBucketDirs(spark, path,
                manifest.entries.filter(e => touched.contains(e._1)))
              .join(affected, Seq("label"), "left_anti")
              .select(col("id"), col("label"))
              .unionByName(relabeled)
              .withColumn("bucket", pmod(col("label"), lit(n.toLong)))
              .write.mode("overwrite").partitionBy("bucket")
              .parquet(s"$path/$dir")
            require(Snapshot.dirExists(spark, s"$path/$dir"),
              s"purge staging $dir vanished before commit — a concurrent " +
                "vacuum ran during the purge (one maintenance writer at a time)")
            GenStore.write(spark, path,
              GenStore.Manifest(manifest.gen + 1, n, manifest.applied,
                manifest.entries.filterNot(e => touched.contains(e._1)) ++
                  listBucketDirs(spark, s"$path/$dir").map((_, dir))))
            GenStore.purgeCommitted(spark, path)
            deleted
          } finally GenStore.freeLocal(relabeled)
        } finally GenStore.freeLocal(compRows)
      } finally GenStore.freeLocal(affected)
    } finally GenStore.freeLocal(idsd)
  }

  /** Pointer-only ROLLBACK to an archived generation ([[GenStore
    * .rollback]]): undo a bad merge — zero data copies (immutable
    * generation dirs), the rolled-back-from state stays archived and
    * diffable until retention retires it, and a re-merge of the
    * reverted day's pairs reconverges to the same labels (q284's
    * associative-minima algebra makes the cluster merge insensitive to
    * replay order — hash-pinned by the rollback lifecycle query).
    */
  def rollbackClusterStore(spark: org.apache.spark.sql.SparkSession,
                           path: String, gen: Long): Unit =
    GenStore.rollback(spark, path, gen)

  /** Largest plan-estimated input (`optimizedPlan.stats.sizeInBytes`)
    * that [[dedupCorpus]] dedups on the driver: 4 MiB. The driver holds
    * roughly 20 bytes per byte of text (each word recurs in three 3-word
    * shingles, and each shingle is a JVM string plus a hash-set entry), so
    * the bound implies about 80 MiB of driver heap for an uncompressed
    * estimate, and about 250 MiB when the estimate is compressed parquet
    * (about a third of the text).
    */
  private val LocalDedupMaxBytes: Long = 4L * 1024 * 1024

  /** [[pairsFromSigned]] on the driver over collected `(__id, __sh, __bk)`
    * rows: bucket by (band, key), drop buckets over `maxBucket`, expand
    * the distinct pairs, verify Jaccard over the shingle sets and keep
    * those at or above `threshold`. The Jaccard rounds as Spark's
    * `round(x, 4)` does (HALF_UP on the double's decimal form), so the
    * pairs are the distributed path's.
    */
  private def localPairs(signed: Array[Row], threshold: Double,
                         maxBucket: Int): Iterable[(Long, Long)] = {
    val shingles = signed.map(r => r.getLong(0) -> r.getSeq[String](1).toSet).toMap
    val buckets = signed.toSeq.flatMap { r =>
      r.getSeq[Row](2).map { bk =>
        // a portable band key is an md5 binary: bucket by its bytes, not
        // by the array's identity
        val key = bk.get(1) match {
          case b: Array[Byte] => b.toSeq
          case k => k
        }
        (bk.getInt(0), key) -> r.getLong(0)
      }
    }.groupMap(_._1)(_._2).values
    val cand = buckets.iterator.filter(ids => ids.size >= 2 && ids.size <= maxBucket)
      .flatMap(ids => ids.sorted.combinations(2).map(p => (p(0), p(1))))
      .toSet
    cand.filter { case (a, b) =>
      val (sa, sb) = (shingles(a), shingles(b))
      val inter = sa.count(sb.contains)
      val jac = inter.toDouble / (sa.size + sb.size - inter).toDouble
      java.math.BigDecimal.valueOf(jac).setScale(4, java.math.RoundingMode.HALF_UP)
        .doubleValue() >= threshold
    }
  }

  /** End-to-end corpus dedup: MinHash-LSH candidate pairs -> transitive
    * clusters -> keep one representative (lowest id) per cluster. Documents
    * not in any near-dup cluster survive untouched.
    *
    * An input the plan estimates at most [[LocalDedupMaxBytes]] (no count
    * job decides) is signed in one collect job and paired, clustered and
    * resolved on the driver ([[localPairs]], the union-find), which skips
    * the distributed path's caches, checkpoints and per-exchange jobs; the
    * answer is the same.
    */
  def dedupCorpus(df: DataFrame, idCol: String, textCol: String,
                  numHashes: Int = 32, bands: Int = 8, shingleK: Int = 3,
                  threshold: Double = 0.8, portableHash: Boolean = false): DataFrame = {
    val signed = signedSide(df, idCol, textCol, numHashes, bands, shingleK, portableHash)
    val losers =
      if (df.queryExecution.optimizedPlan.stats.sizeInBytes <= LocalDedupMaxBytes) {
        val rows = signed.select(col("__id"), col("__sh"), col("__bk")).collect()
        val spark = df.sparkSession
        import spark.implicits._
        unionFind(localPairs(rows, threshold, maxBucket = 1000))
          .collect { case (id, label) if id != label => id }.toSeq.toDF(idCol)
      } else {
        connectedComponents(pairsFromSigned(signed, threshold))
          .filter(col("id") =!= col("label"))
          .select(col("id").as(idCol))
      }
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** LEAKAGE-SAFE train/validation split: near-duplicate CLUSTERS land
    * whole on one side. A plain per-doc holdout (q124) leaks through
    * near-duplicates — a training doc's 0.9-Jaccard twin in the eval set
    * inflates every metric. Here each document maps to its transitive
    * near-dup cluster label (min-id representative; singletons label
    * themselves) and the side is the deterministic md5-bucket rule
    * applied to the LABEL, so two near-dups can never straddle the
    * split. Same reproducibility contract as the other samplers: a pure
    * function of (seed, corpus), no RNG. Keeps `trainOutOf - 1` of
    * `trainOutOf` buckets for train.
    */
  def leakageSafeSplit(df: DataFrame, idCol: String, textCol: String,
                       numHashes: Int = 32, bands: Int = 8, shingleK: Int = 3,
                       threshold: Double = 0.8, portableHash: Boolean = false,
                       trainOutOf: Int = 10, seed: String = "s"): DataFrame = {
    require(trainOutOf >= 2, s"need trainOutOf >= 2, got $trainOutOf")
    val pairs = minhashPairs(df, idCol, textCol, numHashes, bands, shingleK,
      threshold, portableHash = portableHash)
    val comps = connectedComponents(pairs)
    val bucket = conv(substring(md5(concat(lit(s"$seed:"),
      col("label").cast("string")).cast("binary")), 1, 8), 16, 10)
      .cast("long") % trainOutOf
    df.join(comps.withColumnRenamed("id", idCol), Seq(idCol), "left")
      .withColumn("label", coalesce(col("label"), col(idCol)))
      .withColumn("split",
        when(bucket < trainOutOf - 1, lit("train")).otherwise(lit("val")))
  }

  /** SimHash per document: per-bit vote of token hashes (explode + `bits`
    * partial-aggregated sums, then bit reassembly — one shuffle on id).
    * The token hash is pluggable: xxhash64/64-bit is the production default;
    * an md5-derived 60-bit hash makes the whole signature replayable in the
    * DuckDB oracle (q51) since the vote/reassembly is plain integer math.
    */
  def simhash(df: DataFrame, idCol: String, textCol: String,
              tokHash: Column => Column = xxhash64(_), bits: Int = 64): DataFrame = {
    require(bits >= 16 && bits <= 64, "simhash supports 16..64 bits")
    val tok = df.select(col(idCol).as("__id"),
      explode(TextFns.tokens(col(textCol))).as("__t"))
      .withColumn("__h", tokHash(col("__t")))
    val votes = (0 until bits).map { i =>
      sum(when(shiftright(col("__h"), i).bitwiseAND(1) === 1, 1L).otherwise(-1L)).as(s"v$i")
    }
    val agg = tok.groupBy(col("__id")).agg(votes.head, votes.tail: _*)
    val sig = (0 until bits).map { i =>
      when(col(s"v$i") > 0, lit(1L << i)).otherwise(0L)
    }.reduce(_ + _)
    agg.select(col("__id").as(idCol), sig.as("simhash"))
  }

  /** md5-derived 60-bit token hash shared with the q51 oracle formulation. */
  def portableTokHash(t: Column): Column =
    conv(substring(md5(t), 1, 15), 16, 10).cast("long")

  /** Near-dup pairs among precomputed 64-bit signatures by Hamming
    * distance <= maxHamming, blocked on four exact 16-bit signature
    * blocks — pigeonhole guarantees any pair within distance 3 shares at
    * least one block; maxHamming <= 3 therefore has FULL recall, and
    * callers may raise it (<= 8) for best-effort recall at the same scan
    * cost (standard SimHash/pHash practice; the oracle replays blocking
    * + distance exactly, so the semantics stay hash-provable either
    * way). The shifted-then-masked block key is identical under
    * arithmetic or logical shift, so any engine replays it.
    */
  def hammingPairs(sig: DataFrame, idCol: String, sigCol: String,
                   maxHamming: Int = 3): DataFrame = {
    require(maxHamming <= 8,
      "hammingPairs blocks on 4×16-bit blocks: full recall to distance 3, " +
        "best-effort above; > 8 needs a different block split")
    // BOTH sides of the blocked self-join read the signatures, and
    // callers hand arbitrarily expensive signature pipelines here (the
    // q142 pHash side decodes and DCTs every image; simhash tokenizes
    // the corpus) — a lazy side re-ran that pipeline per join side
    // (the planner broadcasts one side, and a broadcast build is a
    // second execution). Materialize the (id, sig) sliver once (guide
    // §1.2); measured against both the lazy twin (1.01 s) and a
    // persist+count variant (1.03 s), the eager checkpoint won (0.76 s
    // on the q142 image corpus at sf0.1) because the signature pipeline
    // (image decode + DCT) dwarfs the join machinery. The block explode
    // stays lazy — it is trivial over the checkpointed rows.
    val s0 = sig.select(col(idCol).as("__id"), col(sigCol).as("__sig"))
      .localCheckpoint(true)
    val blocked = s0.select(
      col("__id"), col("__sig"),
      explode(array((0 until 4).map(b => struct(lit(b).as("blk"),
        shiftright(col("__sig"), b * 16).bitwiseAND(0xFFFFL).as("key"))): _*)).as("__b"))
      .select(col("__id"), col("__sig"), col("__b.blk").as("blk"), col("__b.key").as("key"))
    val out = blocked.as("a").join(blocked.as("b"),
        col("a.blk") === col("b.blk") && col("a.key") === col("b.key") &&
          col("a.__id") < col("b.__id"))
      .select(col("a.__id").as("id_a"), col("b.__id").as("id_b"),
        bit_count(col("a.__sig").bitwiseXOR(col("b.__sig"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
      // verified pairs only — frees the signature blocks at a defined
      // point instead of leaking for the session lifetime
      .localCheckpoint(true)
    GenStore.freeLocal(s0)
    out
  }

  /** Near-dup pairs by SimHash Hamming distance <= maxHamming over a text
    * column ([[hammingPairs]] on [[simhash]] signatures).
    */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 3): DataFrame = {
    require(maxHamming <= 3, "4 blocks of 16 bits guarantee recall only to distance 3")
    hammingPairs(simhash(df, idCol, textCol), idCol, "simhash", maxHamming)
  }

  /** Embedding near-duplicates: hyperplane-LSH bucket blocking + exact
    * cosine verification inside buckets.
    */
  def embeddingPairs(df: DataFrame, idCol: String, vecCol: String,
                     threshold: Double = 0.95, nBits: Int = 8): DataFrame = {
    val b = df.select(col(idCol).as("__id"), col(vecCol).as("__v"),
      VectorFns.lshBucket(col(vecCol), nBits).as("__bkt"))
    b.as("a").join(b.as("b"),
        col("a.__bkt") === col("b.__bkt") && col("a.__id") < col("b.__id"))
      .select(col("a.__id").as("id_a"), col("b.__id").as("id_b"),
        round(VectorFns.cosine(col("a.__v"), col("b.__v")), 4).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** BIPARTITE embedding matches — [[embeddingPairs]] across two corpora:
    * every (left, right) pair sharing a hyperplane-LSH bucket with exact
    * cosine ≥ threshold. The SEMANTIC decontamination primitive: n-gram
    * decontamination (q101) misses a paraphrased benchmark answer whose
    * surface tokens all changed; the embedding space catches it. Both
    * sides bucket under the SAME planes (one broadcast-free scan each),
    * the join is bucket-blocked so candidate work is ∝ per-bucket
    * cross-products — at 100 TB the benchmark side is tiny, so its
    * bucketed form broadcasts and the corpus never shuffles. Ids may
    * collide across corpora; the pair key is (id_l, id_r).
    */
  def crossCorpusEmbeddingMatches(left: DataFrame, leftId: String,
                                  right: DataFrame, rightId: String,
                                  vecCol: String, threshold: Double = 0.95,
                                  nBits: Int = 8): DataFrame = {
    val bl = left.select(col(leftId).as("id_l"), col(vecCol).as("__vl"),
      VectorFns.lshBucket(col(vecCol), nBits).as("__bkt"))
    val br = right.select(col(rightId).as("id_r"), col(vecCol).as("__vr"),
      VectorFns.lshBucket(col(vecCol), nBits).as("__bkt"))
    bl.join(br, "__bkt")
      .select(col("id_l"), col("id_r"),
        round(VectorFns.cosine(col("__vl"), col("__vr")), 4).as("cosine"))
      .filter(col("cosine") >= threshold)
  }
}
