package graft

/** Smoke-run of the driver contract: SparkEntry.entry must return rows>0 on
  * sf0.001. Mirrors the driver's t1 check.
  */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = Sessions.local()
    val df = SparkEntry.entry(spark)
    val n = df.count()
    df.show(5, truncate = false)
    println(s"[smoke] entry rows=$n " + (if (n > 0) "OK" else "EMPTY"))
    spark.stop()
    if (n == 0) sys.exit(1)
  }
}
