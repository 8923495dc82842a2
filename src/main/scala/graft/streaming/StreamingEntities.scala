package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}

import graft.operators.{Entities, GenStore}

/** Continuous entity resolution — the streaming form of
  * [[Entities.incrementalPairs]]: names arrive as a stream, each
  * microbatch is fuzzy-matched against the ever-growing persisted corpus
  * (and itself) through the FastSS deletion-neighborhood index, verified
  * pairs land in a per-batch shard, and the batch then merges into the
  * store. Old–old pairs are never recomputed, and — the point of the
  * persisted index — history is never RE-EXPLODED: an increment's cost is
  * increment × len^k variant rows plus bucket-pruned scans of the stored
  * index, never corpus-proportional compute.
  *
  * Store layout (the [[StreamingDedup]] two-table discipline):
  *
  *   names/__bucket=B/ — one row per entity `(id, name)`, hash-bucketed
  *     by id. Feeds the (single, pruned) probe behind the payload-drift
  *     check, the replay anti-join, and the merge anti-join.
  *   vars/__vbk=K/     — the variant index `(id, name, variant)`,
  *     bucketed by a hash of the VARIANT. An increment's variants are a
  *     deterministic function of its own names, so the pairing (and the
  *     index merge) prune to the variant buckets the batch touches — with
  *     the full membership of each touched variant, which keeps emitted
  *     pairs identical to an unpruned join. Carrying the name on the
  *     index row makes verification join-free on the history side (the
  *     ~len× storage-for-CPU trade [[StreamingDedup]] makes for `__sh`).
  *
  * Parameters (maxDist and the RESOLVED length cap, plus both bucket
  * counts) are pinned in `_graft_entities_meta.json` before the first
  * merge: an index exploded at depth k silently cannot serve depth-k+1
  * queries (FastSS's theorem needs both sides at the same depth), so a
  * redeploy under different parameters must fail loudly.
  *
  * Exactly-once under replay: per-batch `_SUCCESS`-guarded pair shards
  * (torn shards overwritten on retry), replay anti-join against the names
  * store, per-row idempotent merges. The pairs write runs BEFORE the
  * merges and the variant index merges BEFORE the names table — the
  * [[StreamingDedup]] crash-ordering argument verbatim (an index row
  * whose name row hasn't landed heals on replay; the pairing-side
  * anti-join on the increment's ids covers the lost-checkpoint corner).
  */
object StreamingEntities {

  private def bucketOf(c: Column, n: Int): Column =
    pmod(xxhash64(c), lit(n.toLong)).cast("int")

  private[graft] def namesPath(storePath: String): String = s"$storePath/names"
  private[graft] def varsPath(storePath: String): String = s"$storePath/vars"
  private[graft] def purgedPath(storePath: String): String = s"$storePath/_purged"

  private def checkOrWriteMeta(fs: org.apache.hadoop.fs.FileSystem,
                               storePath: String, maxDist: Int, cap: Int,
                               nBuckets: Int, nVarBuckets: Int,
                               write: Boolean): Unit = {
    val meta = new org.apache.hadoop.fs.Path(storePath, "_graft_entities_meta.json")
    val expected = s"""{"maxDist":$maxDist,"maxLen":$cap,""" +
      s""""nBuckets":$nBuckets,"nVarBuckets":$nVarBuckets}"""
    if (fs.exists(meta)) {
      val in = fs.open(meta)
      val found =
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      require(found == expected,
        s"StreamingEntities: store at $storePath was built with $found — " +
          s"refusing to match against it with $expected (rebuild the store " +
          "or match the parameters)")
    } else if (write) {
      val out = fs.create(meta, true)
      try out.write(expected.getBytes("UTF-8")) finally out.close()
    }
  }

  /** Bucket-pruned variant-index scan in the [[Entities.variantSide]]
    * projection (explicit schema — empty/torn dirs must not trip schema
    * inference).
    */
  private[graft] def varsSide(spark: SparkSession, storePath: String,
                              idCol: String, nameCol: String,
                              vbks: Seq[Int], schema: StructType): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(varsPath(storePath))
    val exists = p.getFileSystem(spark.sessionState.newHadoopConf()).exists(p)
    val src =
      if (exists)
        spark.read.schema(schema).parquet(varsPath(storePath))
          .where(col("__vbk").isin(vbks.map(Int.box): _*))
      else
        spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    src.select(col(idCol).as("__id"), col(nameCol).as("__nm"), col("__v"))
  }

  /** One microbatch step (exposed for replay-semantics tests — the
    * [[StreamingDedup.processBatch]] convention).
    */
  def processBatch(batch: DataFrame, idCol: String, nameCol: String,
                   storePath: String, pairsPath: String, batchId: Long,
                   maxDist: Int = 1, maxLen: Int = -1,
                   nBuckets: Int = 16, nVarBuckets: Int = 16): Unit = {
    val spark = batch.sparkSession
    val conf = spark.sessionState.newHadoopConf()
    val cap = Entities.effectiveMaxLen(maxDist, maxLen)
    val pairsDir = s"$pairsPath/batch=$batchId"
    val namesP = new org.apache.hadoop.fs.Path(namesPath(storePath))
    val fs = namesP.getFileSystem(conf)
    val storeExists = fs.exists(namesP)
    checkOrWriteMeta(fs, storePath, maxDist, cap, nBuckets, nVarBuckets,
      write = false)
    val arrived = batch.select(col(idCol), col(nameCol)).distinct()
    // the SUPPRESSION LIST ([[purgeIds]]): a purged subject must never
    // re-enter — not from a replayed committed batch (the merge treats
    // absent ids as new), not from an upstream re-send
    val supP = new org.apache.hadoop.fs.Path(purgedPath(storePath))
    val deduped =
      if (!supP.getFileSystem(conf).exists(supP)) arrived
      else arrived.join(
        broadcast(spark.read.parquet(purgedPath(storePath))
          .select(col(idCol)).distinct()),
        Seq(idCol), "left_anti")
    if (deduped.isEmpty) return
    val withBucket = deduped
      .withColumn("__bucket", bucketOf(col(idCol), nBuckets))
      .persist()
    try {
      val conflicts = withBucket.groupBy(col(idCol))
        .agg(count(lit(1)).as("__n")).filter(col("__n") > 1).count()
      require(conflicts == 0,
        s"StreamingEntities: $conflicts id(s) arrive with conflicting names " +
          "in one batch — upstream must version or de-conflict ids")

      val touchedBuckets = withBucket.select(col("__bucket")).distinct()
        .collect().map(_.getInt(0))
      val namesSchema = StructType(withBucket.schema.fields)
      // ONE pruned (id, name) scan feeds the drift check, the replay
      // anti-join, and the merge anti-join (a batch id's bucket is
      // touched by construction)
      val probe =
        if (storeExists)
          spark.read.schema(namesSchema).parquet(namesPath(storePath))
            .where(col("__bucket").isin(touchedBuckets.map(Int.box): _*))
            .select(col(idCol), col(nameCol))
            .persist()
        else withBucket.select(col(idCol), col(nameCol)).limit(0)
      try {
        // a redelivered id with a DIFFERENT name is an upstream bug the
        // replay anti-join would silently bury — fail loudly (and
        // materialize the probe cache in the same pass, decoupling the
        // merge append from the parquet it writes to)
        if (storeExists) {
          val drift = probe
            .join(broadcast(withBucket.select(col(idCol),
              col(nameCol).as("__bnm"))), Seq(idCol))
            .filter(!(col(nameCol) <=> col("__bnm"))).count()
          require(drift == 0,
            s"StreamingEntities: $drift id(s) redelivered with a DIFFERENT " +
              "name than the store holds — upstream must version " +
              "corrections as new ids")
        }
        val newNames = withBucket
          .join(probe.select(col(idCol)), Seq(idCol), "left_anti")
        // bounded: increment × len^k; consumed by the pairing (three
        // scans) and the index merge
        val newVars = Entities.variantSide(newNames, idCol, nameCol,
            maxDist, cap)
          .localCheckpoint(true)
        val touchedVbk = newVars
          .select(bucketOf(col("__v"), nVarBuckets).as("__vbk"))
          .distinct().collect().map(_.getInt(0))
        val varsSchema = StructType(Seq(
          StructField(idCol, batch.schema(idCol).dataType),
          StructField(nameCol, StringType),
          StructField("__v", StringType),
          StructField("__vbk", IntegerType)))

        Streams.idempotentShardWrite(spark, pairsDir) {
          val pairs =
            if (touchedVbk.isEmpty) {
              val schema = StructType(Seq(
                StructField("new_id", batch.schema(idCol).dataType),
                StructField("peer_id", batch.schema(idCol).dataType),
                StructField("peer_is_existing",
                  org.apache.spark.sql.types.BooleanType),
                StructField("dist", org.apache.spark.sql.types.LongType)))
              spark.createDataFrame(
                spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
            } else {
              // the anti-join keeps the sides structurally disjoint even
              // in the crash-plus-lost-checkpoint corner where the index
              // holds this batch's ids but the names table does not yet
              val exVars = varsSide(spark, storePath, idCol, nameCol,
                  touchedVbk.toSeq, varsSchema)
                .join(broadcast(newVars.select(col("__id"))), Seq("__id"),
                  "left_anti")
              Entities.incrementalPairs(newVars, exVars, maxDist)
            }
          pairs.write.mode("overwrite").parquet(pairsDir)
        }

        // parameters pinned BEFORE the store gains rows; index before
        // names (see scaladoc)
        checkOrWriteMeta(fs, storePath, maxDist, cap, nBuckets, nVarBuckets,
          write = true)
        if (touchedVbk.nonEmpty) {
          val exVarKeys = varsSide(spark, storePath, idCol, nameCol,
              touchedVbk.toSeq, varsSchema)
            .select(col("__id").as(idCol), col("__v"))
          val varAppend = newVars
            .select(col("__id").as(idCol), col("__nm").as(nameCol), col("__v"))
            .join(exVarKeys, Seq(idCol, "__v"), "left_anti")
            .withColumn("__vbk", bucketOf(col("__v"), nVarBuckets))
            .localCheckpoint(true)
          varAppend.write.mode("append").partitionBy("__vbk")
            .parquet(varsPath(storePath))
        }
        val nameAppend = newNames.localCheckpoint(true)
        nameAppend.write.mode("append").partitionBy("__bucket")
          .parquet(namesPath(storePath))
      } finally probe.unpersist(false)
    } finally withBucket.unpersist(false)
  }

  /** Attach the per-batch step to a streaming DataFrame of entities. */
  def sink(stream: DataFrame, idCol: String, nameCol: String,
           storePath: String, pairsPath: String, checkpoint: String,
           maxDist: Int = 1, maxLen: Int = -1,
           nBuckets: Int = 16, nVarBuckets: Int = 16): org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processBatch(batch, idCol, nameCol, storePath, pairsPath, batchId,
          maxDist, maxLen, nBuckets, nVarBuckets)
      }
      .option("checkpointLocation", checkpoint)
      .start()

  /** The persisted entity corpus (names table; bucket column dropped). */
  def names(spark: SparkSession, storePath: String): DataFrame =
    spark.read.parquet(namesPath(storePath)).drop("__bucket")

  /** All pairs emitted so far, across every batch shard. */
  def pairs(spark: SparkSession, pairsPath: String): DataFrame =
    spark.read.parquet(pairsPath)
      .select(col("new_id"), col("peer_id"), col("peer_is_existing"), col("dist"))

  /** COMPLIANCE PURGE of the ER working stores — [[StreamingDedup
    * .purgeDocs]]'s argument on the entity layout, teeth included: the
    * subject's `(id, name)` row leaves the id-bucketed names table
    * (pruned rewrite); its variant rows — each carrying the NAME — leave
    * the variant-bucketed index, found by ONE read-only scan (the rows
    * are findable only by id) and rewritten only in the touched
    * `__vbk=` buckets; every pairs-shard row naming the subject is
    * rewritten in place with `_SUCCESS` re-minted (the replay guard
    * survives); and the ids land on the SUPPRESSION LIST (`_purged/`,
    * written FIRST) because the merge treats absent ids as new — a
    * committed batch replayed after the purge, or an upstream re-send,
    * would otherwise re-ingest the subject from its own payload.
    * Emptied bucket partitions drop explicitly. In-place; re-run to
    * completion after a crash (idempotent). Returns the names rows
    * erased.
    */
  def purgeIds(ids: DataFrame, storePath: String, idCol: String = "id",
               pairsPath: Option[String] = None): Long = {
    val spark = ids.sparkSession
    val conf = spark.sessionState.newHadoopConf()
    val fs = new org.apache.hadoop.fs.Path(storePath).getFileSystem(conf)
    val metaP = new org.apache.hadoop.fs.Path(storePath, "_graft_entities_meta.json")
    require(fs.exists(metaP), s"not an entity store: $storePath (no meta)")
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
      val touched = k.select(bucketOf(col(idCol), nBuckets).as("__bucket"))
        .distinct().collect().map(_.getInt(0)).toSet
      if (touched.isEmpty) return 0L // no keys at all
      // suppression list BEFORE any sweep (never for an empty key set —
      // a part-less parquet dir would break the reader)
      k.write.mode("append").parquet(purgedPath(storePath))
      val namesT = spark.read.parquet(namesPath(storePath))
        .where(col("__bucket").isin(touched.map(Int.box).toSeq: _*))
      val keep = namesT.join(k, Seq(idCol), "left_anti").localCheckpoint(true)
      val deleted =
        try {
          val d = namesT.count() - keep.count()
          if (d > 0L) {
            keep.write.mode("overwrite")
              .option("partitionOverwriteMode", "dynamic")
              .partitionBy("__bucket").parquet(namesPath(storePath))
            dropEmptied(namesPath(storePath), "__bucket", touched,
              keep.select(col("__bucket")).distinct()
                .collect().map(_.getInt(0)).toSet)
          }
          d
        } finally GenStore.freeLocal(keep)
      // no early-out: the vars-before-names merge order means a crash
      // window can leave variant rows whose names row never landed
      val varsP = new org.apache.hadoop.fs.Path(varsPath(storePath))
      if (fs.exists(varsP)) {
        val tv = spark.read.parquet(varsPath(storePath))
          .join(k, Seq(idCol), "left_semi")
          .select(col("__vbk")).distinct().collect().map(_.getInt(0)).toSet
        if (tv.nonEmpty) {
          val varsT = spark.read.parquet(varsPath(storePath))
            .where(col("__vbk").isin(tv.map(Int.box).toSeq: _*))
          val keepV = varsT.join(k, Seq(idCol), "left_anti")
            .localCheckpoint(true)
          try {
            keepV.write.mode("overwrite")
              .option("partitionOverwriteMode", "dynamic")
              .partitionBy("__vbk").parquet(varsPath(storePath))
            dropEmptied(varsPath(storePath), "__vbk", tv,
              keepV.select(col("__vbk")).distinct()
                .collect().map(_.getInt(0)).toSet)
          } finally GenStore.freeLocal(keepV)
        }
      }
      pairsPath.foreach { pp =>
        val ppP = new org.apache.hadoop.fs.Path(pp)
        if (fs.exists(ppP)) {
          val all = spark.read.parquet(pp)
          val hit = all
            .join(k.select(col(idCol).as("new_id")), Seq("new_id"), "left_semi")
            .select(col("batch"))
            .unionByName(all
              .join(k.select(col(idCol).as("peer_id")), Seq("peer_id"), "left_semi")
              .select(col("batch")))
            .distinct().collect().map(_.get(0).toString)
          hit.foreach { b =>
            val dir = s"$pp/batch=$b"
            val keepP = spark.read.parquet(dir)
              .join(k.select(col(idCol).as("new_id")), Seq("new_id"), "left_anti")
              .join(k.select(col(idCol).as("peer_id")), Seq("peer_id"), "left_anti")
              .localCheckpoint(true)
            try keepP.write.mode("overwrite").parquet(dir)
            finally GenStore.freeLocal(keepP)
          }
        }
      }
      deleted
    } finally GenStore.freeLocal(k)
  }

  /** Re-admit re-consented subjects ([[Suppression.clear]]): the erased
    * history stays erased; new arrivals ingest normally again.
    */
  def unsuppressIds(ids: DataFrame, storePath: String,
                    idCol: String = "id"): Long =
    Suppression.clear(ids, purgedPath(storePath), idCol)
}
