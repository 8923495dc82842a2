package perfbench

import java.nio.file.Paths

/** Prints the doc_pipeline pins: for each seed in [from, to], the
  * (articles, dead letters, content hash) of the warm-up batch and of
  * batch 0, as the tab-separated lines of `doc_pipeline_pins.tsv`.
  * Run through `run.py --pins FROM-TO`.
  */
object Pins {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val Array(from, to) = opts("pins").split("-").map(_.toLong)
    val work = Paths.get(opts("work")).toAbsolutePath
    val spark = Session.create(DocPipeline, work)
    try {
      println("# seed\tbatch\tarticles\tdead_letters\tcontent_hash")
      for (seed <- from to to) {
        val report = new Report(DocPipeline.name, traced = false)
        val ctx = new Ctx(spark, DocPipeline, new Trace(spark.sparkContext, false, "pins"),
          seed, 0, work, report)
        for (b <- Seq(-1, 0)) {
          val o = DocPipeline.runBatch(ctx, b)
          require(report.failed == 0, s"seed $seed batch $b fails its checks: ${report.failures}")
          println(s"$seed\t$b\t${o.articles}\t${o.dead}\t${o.hash}")
        }
      }
    } finally spark.stop()
  }
}
