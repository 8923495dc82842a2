package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StructField, StructType}

import graft.functions.TextFns
import graft.operators.{Dedup, GenStore}

/** Continuous corpus ingestion with near-dup detection — the production
  * shape for a training-data pipeline that receives documents as a stream:
  * each microbatch is checked against the ever-growing persisted corpus
  * (and itself), verified pairs land in a per-batch shard, and the batch
  * then merges into the corpus store. Old–old pairs are never recomputed —
  * each arriving document is paired against history exactly once, which is
  * what keeps a continuously-running dedup affordable at 100 TB (cost per
  * day ∝ increment × bands, not corpus²).
  *
  * The store is TWO bucket-partitioned parquet tables under `storePath`,
  * so every per-batch history probe prunes to the partitions the batch
  * actually touches (the [[StreamingScd]] `__bucket=` discipline) instead
  * of scanning the whole corpus:
  *
  *   docs/__bucket=B/  — one row per document `(id, text, __th, __sh,
  *     __sig)`, hash-bucketed by id. The text digest `__th`, shingle set,
  *     and MinHash signature are computed exactly ONCE, at merge time.
  *     A batch's ids land in a bounded set of buckets, so the (single)
  *     `(id, __th)` probe that feeds the stale-text check, the replay
  *     anti-join, and the merge anti-join lists only those partitions.
  *   bands/__bbk=K/    — the LSH band index `(id, band, key)`, bucketed
  *     by a hash of the band KEY. A batch's band keys are bounded
  *     (increment × bands) and every history row sharing a key hashes to
  *     the same `__bbk`, so the candidate-pairing stage reads exactly the
  *     partitions the batch's keys touch — with the FULL membership of
  *     each touched key, which keeps hot-bucket counts (and therefore the
  *     emitted pairs) identical to an unpruned scan. Keys the batch does
  *     not touch can only produce old–old pairs, which are dropped anyway.
  *
  * Shingle sets (`__sh`, the heaviest stored column) stay OUT of the
  * banding scan entirely: the Jaccard verification joins them back from
  * `docs/` only for the buckets that candidate-matched dup ids hash to —
  * candidates are bounded, so that scan is bounded too. `__sig` is not
  * read on the hot path (banding consumes the persisted index) but is
  * what allows re-banding the corpus under a different bands/rows split
  * without re-tokenizing it. History is never re-tokenized at all:
  * StreamingSpec pins that the store-fed pairing plan contains no
  * tokenizer and never reads the text column, and that every store scan
  * in the batch plan carries partition filters.
  *
  * The signature parameters (including both bucket counts) are pinned in
  * `_graft_dedup_meta.json` beside the stores; every batch requires a
  * match, so a redeploy under different banding fails loudly instead of
  * silently never matching history. The meta is written BEFORE the first
  * merge: a crash between the two leaves meta-without-data, which replays
  * cleanly — the reverse order had a window where a crash-then-redeploy
  * could pin NEW parameters over a store signed with the old ones.
  *
  * Exactly-once under microbatch replay, by construction, in two layers:
  *
  *  1. The pairs shard for batch b is written only if its committed
  *     `_SUCCESS` marker is absent (torn shards from a mid-write crash are
  *     overwritten on retry — same rule as `Sketches.streamingCountMin`).
  *  2. Batch documents whose ids are already in the store are dropped
  *     before pairing (`left_anti` on the pruned docs probe), so a batch
  *     redelivered after its store merge committed generates ZERO pairs;
  *     both store merges are per-row anti-join idempotent.
  *
  * The pairs write runs BEFORE the store merges: a crash between the two
  * replays the batch with its ids not yet merged, so the shard is
  * recomputed against the same store state; the reverse order would lose
  * the batch's pairs forever (ids in store ⇒ nothing new on replay). The
  * band index merges BEFORE the docs table: pairing requires every docs
  * row to be banded, so the index must never lag the docs store across a
  * crash (index rows whose doc row hasn't landed yet heal on replay and
  * are invisible to verification until it does; the reverse order would
  * leave documents that silently never pair).
  */
object StreamingDedup {

  private def bucketOf(c: Column, n: Int): Column =
    pmod(xxhash64(c), lit(n.toLong)).cast("int")

  private[graft] def docsPath(storePath: String): String = s"$storePath/docs"
  private[graft] def bandsPath(storePath: String): String = s"$storePath/bands"
  private[graft] def purgedPath(storePath: String): String = s"$storePath/_purged"

  /** The batch enriched with the store columns: text digest, shingles,
    * signature, band keys — the single per-document text-processing pass
    * of the whole pipeline. Documents whose text yields no shingles keep
    * null `__sig`/`__bk` (they are corpus rows but can never pair).
    */
  private def enrich(batch: DataFrame, idCol: String, textCol: String,
                     numHashes: Int, bands: Int, shingleK: Int,
                     portableHash: Boolean): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    batch.select(col(idCol), col(textCol))
      // thin text digest for the cross-batch conflict probe: comparing
      // redelivered texts against history must not re-read the (wide)
      // text column per batch
      .withColumn("__th", md5(col(textCol).cast("binary")))
      .withColumn("__sh",
        array_distinct(TextFns.wordShingles(TextFns.tokens(col(textCol)), shingleK)))
      .withColumn("__sig", when(size(col("__sh")) > 0,
        graft.expressions.MinHashSig(col("__sh"), numHashes, 7, portableHash)))
      .withColumn("__bk", when(size(col("__sh")) > 0,
        Dedup.bandKeys(col("__sig"), numHashes, bands, portableHash)))
  }

  /** The stored columns and partition layout are a function of these
    * parameters: a store written under one (numHashes, bands, shingleK,
    * portableHash, nBuckets, nBandBuckets) silently never matches batches
    * signed under another (band keys from different slicings are never
    * equal; partition pruning under a different bucket count reads the
    * wrong partitions). They are pinned in `_graft_dedup_meta.json` beside
    * the stores (underscore-prefixed, so scans ignore it); every batch
    * requires a match.
    */
  private def checkOrWriteMeta(fs: org.apache.hadoop.fs.FileSystem,
                               storePath: String, numHashes: Int, bands: Int,
                               shingleK: Int, portableHash: Boolean,
                               nBuckets: Int, nBandBuckets: Int,
                               write: Boolean): Unit = {
    val meta = new org.apache.hadoop.fs.Path(storePath, "_graft_dedup_meta.json")
    val expected = s"""{"numHashes":$numHashes,"bands":$bands,""" +
      s""""shingleK":$shingleK,"portableHash":$portableHash,""" +
      s""""nBuckets":$nBuckets,"nBandBuckets":$nBandBuckets}"""
    if (fs.exists(meta)) {
      val in = fs.open(meta)
      val found =
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      require(found == expected,
        s"StreamingDedup: store at $storePath was built with $found — " +
          s"refusing to pair against it with $expected (rebuild the store " +
          "or match the parameters)")
    } else if (write) {
      val out = fs.create(meta, true)
      try out.write(expected.getBytes("UTF-8")) finally out.close()
    }
  }

  /** Bucket-pruned band-index scan, as a pairing side (`__new = false`).
    * Explicit schema so a crash-window or signature-free store never
    * trips schema inference.
    */
  private[graft] def bandsSide(spark: SparkSession, storePath: String,
                               idCol: String, bbks: Seq[Int],
                               schema: StructType): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(bandsPath(storePath))
    val exists = p.getFileSystem(spark.sessionState.newHadoopConf()).exists(p)
    val src =
      if (exists)
        spark.read.schema(schema).parquet(bandsPath(storePath))
          .where(col("__bbk").isin(bbks.map(Int.box): _*))
      else
        spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    src.select(col(idCol).as("__id"), lit(false).as("__new"),
      col("band"), col("key"))
  }

  /** Bucket-pruned `(__id, __sh)` scan of the docs table — the dup-side
    * shingle join-back, read only for the buckets candidate-matched dup
    * ids hash to.
    */
  private[graft] def docsShingles(spark: SparkSession, storePath: String,
                                  idCol: String, buckets: Seq[Int],
                                  schema: StructType): DataFrame =
    spark.read.schema(schema).parquet(docsPath(storePath))
      .where(col("__bucket").isin(buckets.map(Int.box): _*))
      .select(col(idCol).as("__id"), col("__sh"))

  /** One microbatch step. Exposed (rather than inlined in the foreachBatch
    * closure) so replay semantics are unit-testable without checkpoint
    * machinery: calling it twice with the same batch must be a no-op.
    */
  def processBatch(batch: DataFrame, idCol: String, textCol: String,
                   storePath: String, pairsPath: String, batchId: Long,
                   numHashes: Int = 32, bands: Int = 8, shingleK: Int = 3,
                   threshold: Double = 0.5, maxBucket: Int = 1000,
                   portableHash: Boolean = false,
                   nBuckets: Int = 16, nBandBuckets: Int = 16): Unit = {
    val spark = batch.sparkSession
    val conf = spark.sessionState.newHadoopConf()
    val pairsDir = s"$pairsPath/batch=$batchId"
    val docsP = new org.apache.hadoop.fs.Path(docsPath(storePath))
    val fs = docsP.getFileSystem(conf)
    val storeExists = fs.exists(docsP)
    checkOrWriteMeta(fs, storePath, numHashes, bands, shingleK, portableHash,
      nBuckets, nBandBuckets, write = false)
    // an at-least-once source can redeliver a record INSIDE one batch:
    // collapse exact (id, text) duplicates (a duplicated row would
    // otherwise pair with itself through the bucket expansion and land in
    // the store twice)
    val arrived = batch.select(col(idCol), col(textCol)).distinct()
    // the SUPPRESSION LIST ([[purgeDocs]]): a purged subject must never
    // re-enter the store — not from a replayed committed batch (whose
    // shard guard skips the pairs but whose store merge would otherwise
    // see the purged doc as "new"), and not from an upstream re-send.
    // The list is purge-sized and the anti-join broadcasts.
    val supP = new org.apache.hadoop.fs.Path(purgedPath(storePath))
    val deduped =
      if (!supP.getFileSystem(conf).exists(supP)) arrived
      else arrived.join(
        broadcast(spark.read.parquet(purgedPath(storePath))
          .select(col(idCol)).distinct()),
        Seq(idCol), "left_anti")
    // an empty microbatch (recovery, no-data trigger) must not create
    // empty store directories or probe anything
    if (deduped.isEmpty) return
    // increment-sized; cached because it feeds the pairing (inside the
    // shard guard) AND both store merges — one tokenize pass per batch, ever
    val enriched = enrich(deduped, idCol, textCol,
        numHashes, bands, shingleK, portableHash)
      .withColumn("__bucket", bucketOf(col(idCol), nBuckets))
      .persist()
    try {
      // fail loudly on conflicting texts under one id — the batch is
      // increment-sized, so the check is bounded
      val conflicts = enriched.groupBy(col(idCol))
        .agg(count(lit(1)).as("__n")).filter(col("__n") > 1).count()
      require(conflicts == 0,
        s"StreamingDedup: $conflicts id(s) arrive with conflicting texts " +
          "in one batch — upstream must version or de-conflict ids")

      val touchedBuckets = enriched.select(col("__bucket")).distinct()
        .collect().map(_.getInt(0))
      val docsSchema = StructType(enriched.drop("__bk").schema.fields)
      // ONE pruned `(id, __th)` scan of the docs store feeds all three
      // history-id probes of the batch — the stale-text check, the replay
      // anti-join, and the merge anti-join. A batch id's bucket is touched
      // by construction, so pruning to the batch's buckets loses nothing.
      val probe =
        if (storeExists)
          spark.read.schema(docsSchema).parquet(docsPath(storePath))
            .where(col("__bucket").isin(touchedBuckets.map(Int.box): _*))
            .select(col(idCol), col("__th"))
            .persist()
        else enriched.select(col(idCol), col("__th")).limit(0)
      try {
        // a redelivered id whose TEXT differs from the store is an upstream
        // bug the anti-join below would silently bury (the stale text would
        // keep representing the document forever) — fail loudly instead.
        // This count also materializes the probe cache, so the merge's
        // append never reads the parquet it is writing to.
        if (storeExists) {
          val stale = probe
            .join(broadcast(enriched.select(col(idCol), col("__th").as("__bth"))),
              Seq(idCol))
            .filter(!(col("__th") <=> col("__bth"))).count()
          require(stale == 0,
            s"StreamingDedup: $stale id(s) redelivered with DIFFERENT text " +
              "than the store holds — upstream must version corrections as " +
              "new document ids")
        }
        // replay guard: ids already merged into the store are not "new"
        val newDocs = enriched
          .join(probe.select(col(idCol)), Seq(idCol), "left_anti")
        val newSigned = newDocs.filter(col("__sig").isNotNull)
          .select(col(idCol).as("__id"), col("__sh"), col("__bk"))
        val newBanded = newSigned
          .select(col("__id"), lit(true).as("__new"), explode(col("__bk")).as("__b"))
          .select(col("__id"), col("__new"),
            col("__b.band").as("band"), col("__b.key").as("key"))
        // the band-key buckets this batch touches — bounded (≤ nBandBuckets),
        // shared by the pairing scan and the band-index merge below
        val touchedBbk = newBanded
          .select(bucketOf(col("key"), nBandBuckets).as("__bbk"))
          .distinct().collect().map(_.getInt(0))
        val bandsSchema = StructType(Seq(
          StructField(idCol, batch.schema(idCol).dataType),
          StructField("band", enriched.schema("__bk").dataType
            .asInstanceOf[org.apache.spark.sql.types.ArrayType].elementType
            .asInstanceOf[StructType]("band").dataType),
          StructField("key", enriched.schema("__bk").dataType
            .asInstanceOf[org.apache.spark.sql.types.ArrayType].elementType
            .asInstanceOf[StructType]("key").dataType),
          StructField("__bbk", IntegerType)))

        Streams.idempotentShardWrite(spark, pairsDir) {
          val pairs =
            if (touchedBbk.isEmpty) {
              // fully-redelivered (or signature-free) batch: emit the empty
              // shard without touching the band index at all
              val schema = StructType(Seq(
                StructField("new_id", batch.schema(idCol).dataType),
                StructField("dup_id", batch.schema(idCol).dataType),
                StructField("dup_is_existing",
                  org.apache.spark.sql.types.BooleanType),
                StructField("jaccard",
                  org.apache.spark.sql.types.DoubleType)))
              spark.createDataFrame(
                spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
            } else {
              // the anti-join keeps the sides structurally disjoint even in
              // the crash-plus-lost-checkpoint corner where the band index
              // holds this batch's ids but the docs table does not yet (the
              // bands-before-docs merge order): without it a replayed batch
              // under a NEW batch id could pair a document with itself.
              // The new-id set is increment-bounded, so it broadcasts.
              val exBanded =
                (if (storeExists)
                  bandsSide(spark, storePath, idCol, touchedBbk.toSeq, bandsSchema)
                else newBanded.limit(0))
                  .join(broadcast(newSigned.select(col("__id"))), Seq("__id"), "left_anti")
              // candidates are near-dup-pair-bounded: materialize them so
              // the dup-side buckets can collect and prune the shingle scan
              val cand = Dedup.orientedCandidates(
                  newBanded.unionByName(exBanded), maxBucket)
                .localCheckpoint(true)
              val dupBuckets = cand.filter(col("dup_is_existing"))
                .select(bucketOf(col("dup_id"), nBuckets).as("__bucket"))
                .distinct().collect().map(_.getInt(0))
              val newSh = newSigned.select(col("__id"), col("__sh"))
              val dupSh =
                if (storeExists && dupBuckets.nonEmpty)
                  newSh.unionByName(docsShingles(spark, storePath, idCol,
                    dupBuckets.toSeq, docsSchema))
                else newSh
              Dedup.verifyOriented(cand, newSh, dupSh, threshold)
            }
          pairs.write.mode("overwrite").parquet(pairsDir)
        }

        // parameters are pinned BEFORE the store gains rows (see scaladoc)
        checkOrWriteMeta(fs, storePath, numHashes, bands, shingleK,
          portableHash, nBuckets, nBandBuckets, write = true)
        // band index first (see scaladoc), idempotent per (id, band) so a
        // torn append that split one id across partitions heals row-wise;
        // the localCheckpoint decouples the pruned read from the append to
        // the same path
        if (touchedBbk.nonEmpty) {
          val exBandKeys = bandsSide(spark, storePath, idCol,
              touchedBbk.toSeq, bandsSchema)
            .select(col("__id").as(idCol), col("band"))
          val bandAppend = newBanded
            .select(col("__id").as(idCol), col("band"), col("key"))
            .join(exBandKeys, Seq(idCol, "band"), "left_anti")
            .withColumn("__bbk", bucketOf(col("key"), nBandBuckets))
            .localCheckpoint(true)
          bandAppend.write.mode("append").partitionBy("__bbk")
            .parquet(bandsPath(storePath))
        }
        val docsAppend = newDocs.drop("__bk").localCheckpoint(true)
        docsAppend.write.mode("append").partitionBy("__bucket")
          .parquet(docsPath(storePath))
      } finally probe.unpersist(false)
    } finally enriched.unpersist(false)
  }

  /** Attach the per-batch step to a streaming DataFrame of documents. */
  def sink(stream: DataFrame, idCol: String, textCol: String,
           storePath: String, pairsPath: String, checkpoint: String,
           numHashes: Int = 32, bands: Int = 8, shingleK: Int = 3,
           threshold: Double = 0.5, maxBucket: Int = 1000,
           portableHash: Boolean = false,
           nBuckets: Int = 16, nBandBuckets: Int = 16): org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processBatch(batch, idCol, textCol, storePath, pairsPath, batchId,
          numHashes, bands, shingleK, threshold, maxBucket, portableHash,
          nBuckets, nBandBuckets)
      }
      .option("checkpointLocation", checkpoint)
      .start()

  /** Fold one batch's committed pairs shard into a persisted cluster
    * store ([[graft.operators.Dedup.mergeIntoClusterStore]]) — the
    * STREAMING maintenance of the transitive-closure labels, so a
    * continuously-ingesting dedup pipeline carries its component
    * assignment forward instead of recomputing the closure from all
    * pairs ever emitted. Exactly-once without a marker, by algebra:
    * merging an already-merged shard finds every pair's endpoints in one
    * component (empty quotient graph → zero writes), and a batch
    * replayed after its store merge emits an empty shard anyway. Reads
    * the SHARD, not the in-flight batch — a crash between the pairs
    * write and this merge replays into the same shard-driven fold.
    */
  def mergeBatchClusters(spark: SparkSession, pairsPath: String,
                         clustersPath: String, batchId: Long,
                         clusterBuckets: Int = 16): Unit = {
    val shard = s"$pairsPath/batch=$batchId"
    val ok = new org.apache.hadoop.fs.Path(s"$shard/_SUCCESS")
    val fs = ok.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(ok)) return
    val p = spark.read.parquet(shard)
      .select(col("new_id").as("id_a"), col("dup_id").as("id_b"))
    if (p.isEmpty) return
    if (!fs.exists(new org.apache.hadoop.fs.Path(clustersPath)))
      Dedup.buildClusterStore(p, clustersPath, clusterBuckets)
    else
      Dedup.mergeIntoClusterStore(p, clustersPath, clusterBuckets)
  }

  /** [[sink]] plus per-batch cluster-store maintenance: each microbatch
    * pairs against history, lands its shard, merges into the corpus
    * store, and then folds its OWN pairs into the persisted component
    * labels — the labels at any instant equal a from-scratch closure
    * over every pair emitted so far (the q284 equivalence, applied one
    * increment at a time; q288 hash-proves the composition).
    */
  def clusteredSink(stream: DataFrame, idCol: String, textCol: String,
                    storePath: String, pairsPath: String,
                    clustersPath: String, checkpoint: String,
                    numHashes: Int = 32, bands: Int = 8, shingleK: Int = 3,
                    threshold: Double = 0.5, maxBucket: Int = 1000,
                    portableHash: Boolean = false,
                    nBuckets: Int = 16, nBandBuckets: Int = 16,
                    clusterBuckets: Int = 16): org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processBatch(batch, idCol, textCol, storePath, pairsPath, batchId,
          numHashes, bands, shingleK, threshold, maxBucket, portableHash,
          nBuckets, nBandBuckets)
        mergeBatchClusters(batch.sparkSession, pairsPath, clustersPath,
          batchId, clusterBuckets)
      }
      .option("checkpointLocation", checkpoint)
      .start()

  /** The persisted corpus (docs table; bucket column dropped). */
  def corpus(spark: SparkSession, storePath: String): DataFrame =
    spark.read.parquet(docsPath(storePath)).drop("__bucket")

  /** All pairs emitted so far, across every batch shard. */
  def pairs(spark: SparkSession, pairsPath: String): DataFrame =
    spark.read.parquet(pairsPath)
      .select(col("new_id"), col("dup_id"), col("dup_is_existing"), col("jaccard"))

  /** COMPLIANCE PURGE of the dedup working stores: physically erase the
    * documents' rows — text, digest, shingles, signature, band keys, and
    * every emitted pair naming them — from `docs/`, `bands/`, and
    * (optionally) the pairs ledger (the [[graft.operators.Purge]]
    * contract; the downstream cluster store has its own
    * [[graft.operators.Dedup.purgeClusterStoreIds]]). Pruning is
    * layout-honest: `docs/` is id-bucketed, so its rewrite prunes to the
    * subjects' buckets; `bands/` is bucketed by BAND KEY, so the
    * subjects' rows are findable only by id — ONE read-only scan of the
    * band index collects the touched `__bbk` buckets (the same
    * unprunable-lookup cost the cluster-store merge pays), and only
    * those are rewritten; pairs shards are found by the same scan shape
    * and rewritten IN PLACE per `batch=` directory — the overwrite
    * re-mints the shard's `_SUCCESS`, so the exactly-once replay guard
    * survives the purge (a replayed batch still detects its committed
    * shard; it just no longer names the subject). Emptied bucket
    * partitions drop explicitly (dynamic overwrite cannot replace a
    * partition the write produces no rows for).
    *
    * THE SUPPRESSION LIST: erasing the rows is not enough for this
    * store, because the store merge treats any absent id as NEW — a
    * committed batch replayed after the purge (the crash-recovery
    * window) would re-ingest the subject from the batch's own payload,
    * and so would an upstream re-send. The purge therefore records the
    * ids under `_purged/` FIRST (so even a purge torn mid-sweep already
    * suppresses), and every future batch anti-joins its arrivals against
    * the list — a purged subject never re-enters, which is the
    * right-to-be-forgotten semantics: continued processing must not
    * re-ingest the subject it just erased. In-place by design; re-run to
    * completion after a crash (idempotent). Returns the number of
    * document rows erased from `docs/`.
    */
  def purgeDocs(ids: DataFrame, storePath: String, idCol: String = "doc_id",
                pairsPath: Option[String] = None): Long = {
    val spark = ids.sparkSession
    val conf = spark.sessionState.newHadoopConf()
    val fs = new org.apache.hadoop.fs.Path(storePath).getFileSystem(conf)
    val metaP = new org.apache.hadoop.fs.Path(storePath, "_graft_dedup_meta.json")
    require(fs.exists(metaP), s"not a dedup store: $storePath (no meta)")
    val metaS = {
      val in = fs.open(metaP)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    }
    val nBuckets = s""""nBuckets":(\\d+)""".r
      .findFirstMatchIn(metaS).get.group(1).toInt
    def dropEmptied(path: String, pCol: String, touched: Set[Int],
                    nonEmpty: Set[Int]): Unit =
      touched.filterNot(nonEmpty).foreach(b => fs.delete(
        new org.apache.hadoop.fs.Path(s"$path/$pCol=$b"), true))
    val k = ids.select(col(idCol)).distinct().localCheckpoint(true)
    try {
      // docs/ — id-bucketed: prune to the subjects' buckets
      val touched = k.select(bucketOf(col(idCol), nBuckets).as("__bucket"))
        .distinct().collect().map(_.getInt(0)).toSet
      if (touched.isEmpty) return 0L // no keys at all
      // suppression list BEFORE any sweep: a purge torn anywhere after
      // this line already blocks re-ingestion (duplicate appends are
      // harmless — the consumer is an anti-join; never written for an
      // empty key set, whose part-less parquet dir would break readers)
      k.write.mode("append").parquet(purgedPath(storePath))
      val docsT = spark.read.parquet(docsPath(storePath))
        .where(col("__bucket").isin(touched.map(Int.box).toSeq: _*))
      val keep = docsT.join(k, Seq(idCol), "left_anti").localCheckpoint(true)
      val deleted =
        try {
          val d = docsT.count() - keep.count()
          if (d > 0L) {
            keep.write.mode("overwrite")
              .option("partitionOverwriteMode", "dynamic")
              .partitionBy("__bucket").parquet(docsPath(storePath))
            dropEmptied(docsPath(storePath), "__bucket", touched,
              keep.select(col("__bucket")).distinct()
                .collect().map(_.getInt(0)).toSet)
          }
          d
        } finally GenStore.freeLocal(keep)
      // NO early-out on deleted == 0: the bands-before-docs merge order
      // means a crash window can leave band rows whose docs row never
      // landed — a compliance purge must sweep bands and pairs regardless
      // bands/ — key-bucketed: one read-only scan finds the buckets that
      // actually hold the subjects' band rows, then only those rewrite
      val bandsP = new org.apache.hadoop.fs.Path(bandsPath(storePath))
      if (fs.exists(bandsP)) {
        val tb = spark.read.parquet(bandsPath(storePath))
          .join(k, Seq(idCol), "left_semi")
          .select(col("__bbk")).distinct().collect().map(_.getInt(0)).toSet
        if (tb.nonEmpty) {
          val bandsT = spark.read.parquet(bandsPath(storePath))
            .where(col("__bbk").isin(tb.map(Int.box).toSeq: _*))
          val keepB = bandsT.join(k, Seq(idCol), "left_anti")
            .localCheckpoint(true)
          try {
            keepB.write.mode("overwrite")
              .option("partitionOverwriteMode", "dynamic")
              .partitionBy("__bbk").parquet(bandsPath(storePath))
            dropEmptied(bandsPath(storePath), "__bbk", tb,
              keepB.select(col("__bbk")).distinct()
                .collect().map(_.getInt(0)).toSet)
          } finally GenStore.freeLocal(keepB)
        }
      }
      // pairs ledger — per-batch shard dirs; rewrite only shards naming a
      // subject, preserving each shard's existence (= the replay guard)
      pairsPath.foreach { pp =>
        val ppP = new org.apache.hadoop.fs.Path(pp)
        if (fs.exists(ppP)) {
          val all = spark.read.parquet(pp)
          val hit = all
            .join(k.select(col(idCol).as("new_id")), Seq("new_id"), "left_semi")
            .select(col("batch"))
            .unionByName(all
              .join(k.select(col(idCol).as("dup_id")), Seq("dup_id"), "left_semi")
              .select(col("batch")))
            .distinct().collect().map(_.get(0).toString)
          hit.foreach { b =>
            val dir = s"$pp/batch=$b"
            val keepP = spark.read.parquet(dir)
              .join(k.select(col(idCol).as("new_id")), Seq("new_id"), "left_anti")
              .join(k.select(col(idCol).as("dup_id")), Seq("dup_id"), "left_anti")
              .localCheckpoint(true)
            try keepP.write.mode("overwrite").parquet(dir)
            finally GenStore.freeLocal(keepP)
          }
        }
      }
      deleted
    } finally GenStore.freeLocal(k)
  }

  /** Re-admit re-consented subjects: remove them from the suppression
    * list so their NEW documents ingest normally ([[Suppression.clear]];
    * the erased history stays erased — re-admission re-opens the door,
    * it does not restore what the purge destroyed). Returns the number
    * of listed ids cleared.
    */
  def unsuppressDocs(ids: DataFrame, storePath: String,
                     idCol: String = "doc_id"): Long =
    Suppression.clear(ids, purgedPath(storePath), idCol)
}
