package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Cdc, GenStore}

/** Streaming CDC apply — a continuously-merged warehouse snapshot: change
  * records (upserts + delete tombstones) arrive as a stream and a
  * persisted current-state table stays equal to what the batch MERGE
  * ([[Cdc.applyDeltas]]) over base-snapshot + all-changes-so-far would
  * produce. Resolution is latest-`seqCols`-wins, which is COMMUTATIVE
  * over batches — so out-of-order arrival (the CDC norm: a partitioned
  * change feed has no global order) needs no special casing: the winner
  * is recomputed from the full per-key log slice, and a tombstone that
  * arrives before an older update still wins when that update lands.
  *
  * Store layout (the [[StreamingScd]] discipline): the base snapshot is
  * folded INTO the append-only change log at bootstrap as `__src = 0`
  * rows with null seq columns (they lose to any real change on the
  * `__src` flag, never on null ordering), so the snapshot table is a
  * PURE FUNCTION of the log. Both dirs are hash-partitioned by
  * `__bucket=` of the key:
  *
  *   logPath — append-only tagged change log, idempotent on `tieCol`
  *     (the unique change id; base rows carry null and are written once,
  *     guarded by the dir's existence). A redelivered change id with a
  *     DIFFERENT payload fails loudly — silently dropping it would bury
  *     an upstream bug.
  *   snapPath — the merged snapshot. Per batch the touched buckets are
  *     resolved WHOLE from the log and replaced via dynamic partition
  *     overwrite; untouched buckets are never listed, so a torn
  *     overwrite heals on replay and per-batch cost stays bucket-
  *     bounded, never corpus-proportional.
  */
object StreamingCdc {

  private def bucketOf(c: Column, nBuckets: Int): Column =
    pmod(xxhash64(c), lit(nBuckets.toLong)).cast("int")

  /** Write the base snapshot into the log as `__src = 0` rows AND seed
    * the snapshot table with every base bucket (a bucket no change ever
    * touches is never rewritten, so its keys must be present from day
    * one) — once: bootstrap is guarded by the LOG dir, which is written
    * LAST, so a bootstrap torn between the two writes re-runs whole on
    * restart and the dynamic snapshot overwrite heals.
    */
  def bootstrap(snapshot: DataFrame, keyCol: String, seqCols: Seq[String],
                seqTypes: Seq[String], opCol: String, tieCol: String,
                logPath: String, snapPath: String, nBuckets: Int = 16,
                tieType: String = "long"): Unit = {
    val spark = snapshot.sparkSession
    val p = new org.apache.hadoop.fs.Path(logPath)
    if (p.getFileSystem(spark.sessionState.newHadoopConf()).exists(p)) return
    val payload = snapshot.columns.filterNot(_ == keyCol).toSeq
    val bucketed = snapshot
      .select(col(keyCol) +: payload.map(col): _*)
      .withColumn("__bucket", bucketOf(col(keyCol), nBuckets))
      .localCheckpoint(true)
    bucketed.write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("__bucket").parquet(snapPath)
    val base0 = bucketed
      .withColumn("__src", lit(0))
      .withColumn(opCol, lit(null).cast("string"))
      .withColumn(tieCol, lit(null).cast(tieType))
    val base = seqCols.zip(seqTypes).foldLeft(base0) {
      case (df, (c, tpe)) => df.withColumn(c, lit(null).cast(tpe))
    }
    base.write.mode("append").partitionBy("__bucket").parquet(logPath)
  }

  /** One microbatch step (exposed for replay-semantics tests). `batch`:
    * `(key, payload..., op, seqCols..., tie)` change records.
    */
  def processBatch(batch: DataFrame, keyCol: String, seqCols: Seq[String],
                   opCol: String, tieCol: String,
                   logPath: String, snapPath: String,
                   nBuckets: Int = 16, deleteOp: String = "D"): Unit = {
    val spark = batch.sparkSession
    // the SUPPRESSION LIST ([[purgeKeys]]): the log merge is idempotent
    // on change ids, and a purge just ERASED the subject's change ids —
    // so a committed batch replayed after the purge would re-ingest the
    // subject from its own payload. The list blocks that, and upstream
    // re-sends with it.
    val arrived = batch.distinct()
    val supP = new org.apache.hadoop.fs.Path(s"$logPath/_purged")
    val suppressed =
      if (!supP.getFileSystem(spark.sessionState.newHadoopConf()).exists(supP))
        arrived
      else arrived.join(
        broadcast(spark.read.parquet(s"$logPath/_purged")
          .select(col(keyCol)).distinct()),
        Seq(keyCol), "left_anti")
    val changes = suppressed
      .withColumn("__src", lit(1))
      .withColumn("__bucket", bucketOf(col(keyCol), nBuckets))
      .persist()
    // empty microbatch (recovery, no-data trigger): nothing to merge, and
    // an empty append must not create dirs a later read would choke on
    if (changes.isEmpty) { changes.unpersist(false); return }
    try {
      val conflicts = changes.groupBy(col(tieCol))
        .agg(count(lit(1)).as("__n")).filter(col("__n") > 1).count()
      require(conflicts == 0,
        s"StreamingCdc: $conflicts change id(s) arrive with conflicting " +
          "payloads in one batch — upstream must de-conflict")

      val logP = new org.apache.hadoop.fs.Path(logPath)
      val logExists =
        logP.getFileSystem(spark.sessionState.newHadoopConf()).exists(logP)
      val touchedBuckets = changes.select(col("__bucket")).distinct()
        .collect().map(_.getInt(0))
      val bucketFilter = col("__bucket").isin(touchedBuckets.map(Int.box): _*)
      def logTouched(): DataFrame =
        spark.read.parquet(logPath).where(bucketFilter)

      if (logExists) {
        // cross-batch redelivery with a mutated payload fails loudly (the
        // log scan prunes to touched buckets; the increment broadcasts);
        // base rows' null tie ids fall out of the inner join
        val payloadCols = changes.columns
          .filterNot(c => c == tieCol || c == "__bucket").sorted
        val pay = struct(payloadCols.map(col): _*)
        val crossBatch = logTouched()
          .filter(col(tieCol).isNotNull)
          .select(col(tieCol), pay.as("__logged"))
          .join(broadcast(changes.select(col(tieCol), pay.as("__incoming"))),
            Seq(tieCol))
          .filter(!(col("__incoming") <=> col("__logged"))).count()
        require(crossBatch == 0,
          s"StreamingCdc: $crossBatch change id(s) redelivered with a " +
            "DIFFERENT payload than the log holds — upstream must version " +
            "corrections as new change ids")
      }

      // idempotent bucket-partitioned append, materialized before the
      // write so the job never reads logPath while appending to it
      val existingTies =
        if (logExists) logTouched().select(col(tieCol))
        else changes.select(col(tieCol)).limit(0)
      val logAppend = changes.join(existingTies, Seq(tieCol), "left_anti")
        .localCheckpoint(true)
      logAppend.write.mode("append").partitionBy("__bucket").parquet(logPath)

      // resolve the touched buckets WHOLE from the merged log — the same
      // winner-per-key recipe as the batch MERGE — and replace exactly
      // those snapshot partitions; materialized once so the bucket roll
      // call below never recomputes the resolve
      val resolved = Cdc.resolveLog(
          spark.read.parquet(logPath).where(bucketFilter)
            .drop("__bucket", tieCol),
          keyCol, seqCols, opCol, deleteOp)
        .withColumn("__bucket", bucketOf(col(keyCol), nBuckets))
        .localCheckpoint(true)
      resolved.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("__bucket")
        .parquet(snapPath)
      // dynamic overwrite only replaces partitions the write PRODUCES: a
      // touched bucket whose every key resolved to a tombstone yields no
      // rows, so its stale partition must be dropped explicitly. Crash
      // between the write and this delete heals on replay — the batch
      // re-resolves the same touched buckets from the log.
      val nonEmpty = resolved.select(col("__bucket")).distinct()
        .collect().map(_.getInt(0)).toSet
      val fs = new org.apache.hadoop.fs.Path(snapPath)
        .getFileSystem(spark.sessionState.newHadoopConf())
      touchedBuckets.filterNot(nonEmpty).foreach { b =>
        fs.delete(
          new org.apache.hadoop.fs.Path(s"$snapPath/__bucket=$b"), true)
      }
    } finally changes.unpersist(false)
  }

  /** Attach the per-batch step to a streaming DataFrame of changes. */
  def sink(stream: DataFrame, keyCol: String, seqCols: Seq[String],
           opCol: String, tieCol: String,
           logPath: String, snapPath: String, checkpoint: String,
           nBuckets: Int = 16): org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        processBatch(batch, keyCol, seqCols, opCol, tieCol,
          logPath, snapPath, nBuckets)
      }
      .option("checkpointLocation", checkpoint)
      .start()

  /** The maintained snapshot as a DataFrame (bucket column dropped). */
  def snapshot(spark: SparkSession, snapPath: String): DataFrame =
    spark.read.parquet(snapPath).drop("__bucket")

  /** COMPLIANCE PURGE of the CDC pair: physically erase every change
    * record AND the snapshot row of the keys from both stores (the
    * [[graft.operators.Purge]] contract; the [[StreamingScd.purgeKeys]]
    * argument verbatim, because the two modules share the
    * pure-function-of-the-log design): rewrite the touched LOG buckets
    * without the subject's rows — base-snapshot `__src = 0` rows
    * included, they carry the subject's payload too — then re-resolve
    * exactly those snapshot buckets from the purged log. A tombstoned
    * (op = delete) subject is erased from the log as well: a CDC delete
    * record still CONTAINS the subject's key and last payload, which is
    * precisely what a compliance purge must not retain. Emptied buckets
    * drop explicitly in both stores (dynamic overwrite cannot replace a
    * partition the write produces no rows for). In-place by design;
    * re-run to completion after a crash (idempotent). Returns the number
    * of log rows deleted.
    */
  def purgeKeys(keys: DataFrame, keyCol: String, seqCols: Seq[String],
                opCol: String, tieCol: String,
                logPath: String, snapPath: String,
                nBuckets: Int = 16, deleteOp: String = "D"): Long = {
    val spark = keys.sparkSession
    val k = keys.select(col(keyCol)).distinct().localCheckpoint(true)
    try {
      val touched = k
        .select(bucketOf(col(keyCol), nBuckets).as("__bucket"))
        .distinct().collect().map(_.getInt(0)).toSet // ≤ nBuckets
      if (touched.isEmpty) return 0L
      // suppression list BEFORE any sweep (see [[processBatch]]): the log
      // merge is idempotent on the very change ids this purge erases, so
      // a committed batch replayed after the purge would otherwise
      // re-ingest the subject; never written for an empty key set
      k.write.mode("append").parquet(s"$logPath/_purged")
      val bucketFilter = col("__bucket").isin(touched.map(Int.box).toSeq: _*)
      val logT = spark.read.parquet(logPath).where(bucketFilter)
      val keep = logT.join(k, Seq(keyCol), "left_anti").localCheckpoint(true)
      try {
        val deleted = logT.count() - keep.count()
        if (deleted == 0L) return 0L // keys absent: nothing to erase
        val fs = new org.apache.hadoop.fs.Path(logPath)
          .getFileSystem(spark.sessionState.newHadoopConf())
        def dropEmptied(path: String, nonEmpty: Set[Int]): Unit =
          touched.filterNot(nonEmpty).foreach(b => fs.delete(
            new org.apache.hadoop.fs.Path(s"$path/__bucket=$b"), true))
        keep.write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("__bucket").parquet(logPath)
        dropEmptied(logPath, keep.select(col("__bucket")).distinct()
          .collect().map(_.getInt(0)).toSet)
        // re-resolve the touched snapshot buckets purely from the purged
        // log (fresh read — the overwrite above has committed); a log
        // left with no bucket dirs at all has nothing to resolve FROM
        val logHasData = fs.exists(new org.apache.hadoop.fs.Path(logPath)) &&
          fs.listStatus(new org.apache.hadoop.fs.Path(logPath))
            .exists(_.getPath.getName.startsWith("__bucket="))
        if (!logHasData) dropEmptied(snapPath, Set.empty)
        else {
          val resolved = Cdc.resolveLog(
              spark.read.parquet(logPath).where(bucketFilter)
                .drop("__bucket", tieCol),
              keyCol, seqCols, opCol, deleteOp)
            .withColumn("__bucket", bucketOf(col(keyCol), nBuckets))
            .localCheckpoint(true)
          try {
            resolved.write.mode("overwrite")
              .option("partitionOverwriteMode", "dynamic")
              .partitionBy("__bucket").parquet(snapPath)
            dropEmptied(snapPath, resolved.select(col("__bucket")).distinct()
              .collect().map(_.getInt(0)).toSet)
          } finally GenStore.freeLocal(resolved)
        }
        deleted
      } finally GenStore.freeLocal(keep)
    } finally GenStore.freeLocal(k)
  }

  /** Re-admit re-consented subjects ([[Suppression.clear]]): the erased
    * history stays erased; new change records ingest normally again.
    */
  def unsuppressKeys(keys: DataFrame, keyCol: String,
                     logPath: String): Long =
    Suppression.clear(keys, s"$logPath/_purged", keyCol)
}
