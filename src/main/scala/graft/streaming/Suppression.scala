package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Maintenance of the purge suppression lists (`_purged/`) the four
  * log-merge stores carry (dedup docs/bands, ER names/vars, SCD pair,
  * CDC pair): suppression is REVERSIBLE policy — a subject who
  * re-consents may be re-admitted, after which their NEW data ingests
  * normally — while the erasure itself is not (the purged bytes are
  * gone; re-admission does not restore history, it re-opens the door).
  * One implementation because the list layout is identical everywhere:
  * a parquet directory of bare keys, consumed by a per-batch anti-join.
  */
private[graft] object Suppression {

  /** Remove `keys` from the list at `listPath`. Returns how many listed
    * keys were actually cleared. An emptied list DELETES the directory
    * (a part-less parquet dir would break the reader); a missing list
    * clears nothing. Same single-maintenance-writer contract as every
    * store mutation here.
    */
  def clear(keys: DataFrame, listPath: String, keyCol: String): Long = {
    val spark = keys.sparkSession
    val p = new org.apache.hadoop.fs.Path(listPath)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) return 0L
    val cur = spark.read.parquet(listPath)
    val k = keys.select(col(keyCol)).distinct()
    val removed = cur.select(col(keyCol)).distinct()
      .join(k, Seq(keyCol), "left_semi").count()
    if (removed == 0L) return 0L
    // materialize BEFORE overwriting the path being read
    val keep = cur.join(k, Seq(keyCol), "left_anti").localCheckpoint(true)
    try {
      if (keep.isEmpty) fs.delete(p, true)
      else keep.write.mode("overwrite").parquet(listPath)
      removed
    } finally graft.operators.GenStore.freeLocal(keep)
  }
}
