package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.operators.{GenStore, Scd}

/** Streaming SCD Type-2 maintenance — the warehouse production shape:
  * observations arrive as a stream, and a persisted dimension table of
  * `[valid_from, valid_to)` version rows is kept current by re-versioning
  * the key-hash BUCKETS each microbatch touches. Late/out-of-order
  * arrivals are first-class: versions are recomputed from the full merged
  * observation log, so an observation that lands between two existing
  * versions rewrites that key's history to what a batch run over all
  * observations would produce (q137 pins exactly that batch-equivalence).
  *
  * Two stores, BOTH hash-partitioned by `__bucket=` of the key:
  *
  *   obsPath — append-only observation log, idempotent on `tieCol` (the
  *     unique observation id): a redelivered batch anti-joins to nothing,
  *     and a redelivered id whose payload DIFFERS from the log fails
  *     loudly instead of being silently dropped. Every per-batch probe of
  *     the log prunes to the touched buckets (a redelivered id's key is
  *     in the batch, so its bucket is always touched).
  *   dimPath — the dimension. Per batch, the touched buckets are
  *     recomputed WHOLE from the log and replaced via dynamic partition
  *     overwrite; untouched buckets' files are not even listed.
  *
  * The dimension write is a PURE FUNCTION of the log for the touched
  * buckets — there is no read-modify-write of the dimension at all. That
  * is what makes the module crash-safe at every point: a torn dynamic
  * overwrite (some bucket partitions replaced, some not, some half-
  * staged) heals on replay, because the replayed batch merges nothing
  * into the log and regenerates the same buckets from the same log
  * state. A carried-over-rows design (untouched keys read from the old
  * dimension) would instead LOSE those keys forever if the crash landed
  * between a partition delete and its rename.
  *
  * Cost per batch ∝ the touched buckets (log scan + re-version compute +
  * dimension rewrite) — bucket-bounded, never corpus-proportional; size
  * `nBuckets` so one bucket's rows fit a task comfortably. This is the
  * file-granular-rewrite trade every warehouse MERGE makes.
  */
object StreamingScd {

  private def bucketOf(c: Column, nBuckets: Int): Column =
    pmod(xxhash64(c), lit(nBuckets.toLong)).cast("int")

  /** One microbatch step (exposed for replay-semantics tests, the
    * [[StreamingDedup.processBatch]] convention).
    */
  def processBatch(batch: DataFrame, keyCol: String, attrCols: Seq[String],
                   tsCol: String, tieCol: String,
                   obsPath: String, dimPath: String,
                   nBuckets: Int = 16): Unit = {
    val spark = batch.sparkSession
    val obsCols = (Seq(keyCol) ++ attrCols ++ Seq(tsCol, tieCol)).map(col)
    // the SUPPRESSION LIST ([[purgeKeys]]): the log merge is idempotent
    // on tie ids, and a purge just ERASED the subject's tie ids — so a
    // committed batch replayed after the purge would re-ingest the
    // subject from its own payload. The list blocks that, and upstream
    // re-sends with it.
    val arrived = batch.select(obsCols: _*).distinct()
    val supP = new org.apache.hadoop.fs.Path(s"$obsPath/_purged")
    val conf0 = spark.sessionState.newHadoopConf()
    val suppressed =
      if (!supP.getFileSystem(conf0).exists(supP)) arrived
      else arrived.join(
        broadcast(spark.read.parquet(s"$obsPath/_purged")
          .select(col(keyCol)).distinct()),
        Seq(keyCol), "left_anti")
    // an at-least-once source can duplicate a row INSIDE one batch;
    // conflicting payloads under one observation id are upstream bugs and
    // fail loudly (the check is increment-sized)
    val obs = suppressed
      .withColumn("__bucket", bucketOf(col(keyCol), nBuckets))
      .persist()
    // an empty microbatch (recovery, no-data trigger) touches no buckets
    // and must not create an empty log dir a later read would fail
    // schema inference on
    if (obs.isEmpty) { obs.unpersist(false); return }
    try {
      val conflicts = obs.groupBy(col(tieCol))
        .agg(count(lit(1)).as("__n")).filter(col("__n") > 1).count()
      require(conflicts == 0,
        s"StreamingScd: $conflicts observation id(s) arrive with conflicting " +
          "payloads in one batch — upstream must de-conflict")

      val obsP = new org.apache.hadoop.fs.Path(obsPath)
      val logExists =
        obsP.getFileSystem(spark.sessionState.newHadoopConf()).exists(obsP)
      val touchedBuckets = obs.select(col("__bucket")).distinct()
        .collect().map(_.getInt(0))
      val bucketFilter = col("__bucket").isin(touchedBuckets.map(Int.box): _*)
      def logTouched(): DataFrame =
        spark.read.parquet(obsPath).where(bucketFilter)

      if (logExists) {
        // ...and across batches: a redelivered observation id whose
        // PAYLOAD differs from what the log already holds would be
        // silently dropped by the idempotent merge, burying the same
        // upstream bug the in-batch check surfaces. Bounded: the log scan
        // prunes to the touched buckets, the increment broadcasts.
        val payload = struct((Seq(keyCol) ++ attrCols ++ Seq(tsCol)).map(col): _*)
        val crossBatch = logTouched()
          .select(col(tieCol), payload.as("__logged"))
          .join(broadcast(obs.select(col(tieCol), payload.as("__incoming"))),
            Seq(tieCol))
          .filter(!(col("__incoming") <=> col("__logged"))).count()
        require(crossBatch == 0,
          s"StreamingScd: $crossBatch observation id(s) redelivered with a " +
            "DIFFERENT payload than the log holds — upstream must version " +
            "corrections as new observation ids")
      }

      // idempotent, bucket-partitioned log append. The appended rows are
      // materialized (localCheckpoint) BEFORE the write so the job never
      // reads obsPath while appending to it — Spark only rejects that
      // self-read for overwrite mode, and relying on planning-time file
      // listing to make it safe is committer-implementation-dependent.
      val existingTies =
        if (logExists) logTouched().select(col(tieCol))
        else obs.select(col(tieCol)).limit(0)
      val logAppend = obs.join(existingTies, Seq(tieCol), "left_anti")
        .localCheckpoint(true)
      logAppend.write.mode("append").partitionBy("__bucket").parquet(obsPath)

      // re-version the touched buckets WHOLE from the merged log and
      // replace exactly those dimension partitions
      val reversioned = Scd.scd2(
          spark.read.parquet(obsPath).where(bucketFilter),
          keyCol, attrCols, tsCol, tieCol)
        .withColumn("__bucket", bucketOf(col(keyCol), nBuckets))
      reversioned.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("__bucket")
        .parquet(dimPath)
    } finally obs.unpersist(false)
  }

  /** Attach the per-batch step to a streaming DataFrame of observations. */
  def sink(stream: DataFrame, keyCol: String, attrCols: Seq[String],
           tsCol: String, tieCol: String,
           obsPath: String, dimPath: String, checkpoint: String,
           nBuckets: Int = 16): org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        processBatch(batch, keyCol, attrCols, tsCol, tieCol,
          obsPath, dimPath, nBuckets)
      }
      .option("checkpointLocation", checkpoint)
      .start()

  /** The dimension as a DataFrame (bucket column dropped). */
  def dim(spark: org.apache.spark.sql.SparkSession, dimPath: String): DataFrame =
    spark.read.parquet(dimPath).drop("__bucket")

  /** COMPLIANCE PURGE of the SCD pair: physically erase every
    * observation AND every dimension version of the keys from both
    * stores when the call returns (the [[graft.operators.Purge]]
    * contract). The dimension needs no purge logic of its own — it is a
    * PURE FUNCTION of the log per bucket (this module's crash-safety
    * argument, cashed in a second time): rewrite the touched LOG buckets
    * without the subject's observations, then regenerate exactly those
    * dimension buckets from the purged log — a key with no observations
    * simply produces no versions, and co-bucketed survivors re-version
    * to byte-what-a-batch-run-would-produce. Both rewrites are dynamic
    * partition overwrites with the emptied-bucket drop (a bucket whose
    * every row was purged produces no partition, so its stale dir is
    * dropped explicitly — the q148 rule; without it the purged bytes
    * would survive in the un-replaced files). In-place by design, like
    * every purge: re-run to completion after a crash (idempotent —
    * already-purged keys anti-join to the same keep set and the same
    * regeneration), and in-flight readers of the touched buckets break.
    * Returns the number of observations deleted.
    */
  def purgeKeys(keys: DataFrame, keyCol: String, attrCols: Seq[String],
                tsCol: String, tieCol: String,
                obsPath: String, dimPath: String,
                nBuckets: Int = 16): Long = {
    val spark = keys.sparkSession
    val k = keys.select(col(keyCol)).distinct().localCheckpoint(true)
    try {
      val touched = k
        .select(bucketOf(col(keyCol), nBuckets).as("__bucket"))
        .distinct().collect().map(_.getInt(0)).toSet // ≤ nBuckets
      if (touched.isEmpty) return 0L
      // suppression list BEFORE any sweep (see [[processBatch]]): the log
      // merge is idempotent on the very tie ids this purge erases, so a
      // committed batch replayed after the purge would otherwise
      // re-ingest the subject; a torn purge already suppresses from here
      // on (never written for an empty key set — a part-less parquet dir
      // would break the reader's schema inference)
      k.write.mode("append").parquet(s"$obsPath/_purged")
      val bucketFilter = col("__bucket").isin(touched.map(Int.box).toSeq: _*)
      val logT = spark.read.parquet(obsPath).where(bucketFilter)
      val keep = logT.join(k, Seq(keyCol), "left_anti").localCheckpoint(true)
      try {
        val deleted = logT.count() - keep.count()
        if (deleted == 0L) return 0L // keys absent: nothing to erase
        val fs = new org.apache.hadoop.fs.Path(obsPath)
          .getFileSystem(spark.sessionState.newHadoopConf())
        def dropEmptied(path: String, nonEmpty: Set[Int]): Unit =
          touched.filterNot(nonEmpty).foreach(b => fs.delete(
            new org.apache.hadoop.fs.Path(s"$path/__bucket=$b"), true))
        keep.write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("__bucket").parquet(obsPath)
        dropEmptied(obsPath, keep.select(col("__bucket")).distinct()
          .collect().map(_.getInt(0)).toSet)
        // regenerate the touched dimension buckets purely from the
        // purged log (fresh read — the overwrite above has committed);
        // a log left with no bucket dirs at all (every key purged) has
        // nothing to regenerate FROM, so every touched dim dir drops
        val logHasData = fs.exists(new org.apache.hadoop.fs.Path(obsPath)) &&
          fs.listStatus(new org.apache.hadoop.fs.Path(obsPath))
            .exists(_.getPath.getName.startsWith("__bucket="))
        if (!logHasData) dropEmptied(dimPath, Set.empty)
        else {
          val reversioned = Scd.scd2(
              spark.read.parquet(obsPath).where(bucketFilter),
              keyCol, attrCols, tsCol, tieCol)
            .withColumn("__bucket", bucketOf(col(keyCol), nBuckets))
            .localCheckpoint(true)
          try {
            reversioned.write.mode("overwrite")
              .option("partitionOverwriteMode", "dynamic")
              .partitionBy("__bucket").parquet(dimPath)
            dropEmptied(dimPath, reversioned.select(col("__bucket")).distinct()
              .collect().map(_.getInt(0)).toSet)
          } finally GenStore.freeLocal(reversioned)
        }
        deleted
      } finally GenStore.freeLocal(keep)
    } finally GenStore.freeLocal(k)
  }

  /** Re-admit re-consented subjects ([[Suppression.clear]]): the erased
    * history stays erased; new observations ingest normally again.
    */
  def unsuppressKeys(keys: DataFrame, keyCol: String,
                     obsPath: String): Long =
    Suppression.clear(keys, s"$obsPath/_purged", keyCol)
}
