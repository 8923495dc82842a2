package graft

/** Dev tool: time ONE OR MORE registry queries at the Bench harness's
  * settings (both build their session through [[Sessions]], so the two
  * tools never silently disagree on conf or parallelism — pass
  * `SPARK_GRAFT_CPUS=32` to match the official sf0.1 capture
  * convention) without paying the full headline sweep — the
  * iterate-on-one-query loop the README's capture convention assumes.
  * Run:
  *   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_CPUS=32 \
  *     sbt "runMain graft.BenchOne q356_runtime_filter_bloom[,q355_...]"
  * Prints per-query `[bench-one] name runs=[a,b,c] min=x` lines; the
  * official per-round numbers stay [[Bench]]'s (quiet, min-of-three,
  * recorded in README round notes).
  */
object BenchOne {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: BenchOne <query>[,<query>...]")
    val names = args(0).split(',').toSeq.filter(_.nonEmpty)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.local()
    val registry = SparkEntry.queries
    val missing = names.filterNot(registry.contains)
    require(missing.isEmpty, s"unknown queries: ${missing.mkString(",")}")
    Seq("lineitem", "orders", "customer", "events", "documents",
      "embeddings").foreach(t => Tables(spark, sfDir, t).count())
    names.foreach(n => registry(n)(spark, sfDir).count()) // untimed warmup
    names.foreach { n =>
      val runs = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        registry(n)(spark, sfDir).count()
        (System.nanoTime() - t0) / 1e9
      }
      println(f"[bench-one] $n runs=[${runs.map(r => f"$r%.2f")
        .mkString(",")}] min=${runs.min}%.2f")
    }
    spark.stop()
  }
}
