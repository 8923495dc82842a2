package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession builder: every main and the test suite run under
  * the conf that [[Bench]] measures with — `local[cpus]` with as many
  * shuffle partitions, UI off, UTC, AQE on, and `events.parquet`'s
  * TIMESTAMP(NANOS) read as a long that [[Tables]] converts (no NTZ
  * inference).
  */
object Sessions {
  /** Mains take their parallelism from `SPARK_GRAFT_CPUS` (default 4). */
  def local(cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
      : SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
