package graft

import org.apache.spark.sql.SparkSession

import graft.operators.GenStore

/** Read-only probes of store manifests for the benchmark. `GenStore` is
  * package-private to `graft`, so the probe lives in that package.
  */
object PerfbenchProbe {

  /** Live LSM segments per bucket of the generation store at `path`
    * (1.0 right after a build or a compaction; each merge that touches a
    * bucket adds one). 0 when no store is there.
    */
  def segmentsPerBucket(spark: SparkSession, path: String): Double =
    GenStore.read(spark, path) match {
      case Some(m) if m.entries.nonEmpty =>
        m.entries.size.toDouble / m.entries.map(_._1).distinct.size
      case _ => 0.0
    }
}
