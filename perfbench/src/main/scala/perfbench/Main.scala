package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Everything a workload needs: the session, the tracer, its seed and time
  * budget, and a scratch directory inside the checkout. */
final class Ctx(val spark: SparkSession, val workload: Workload, val trace: Trace,
                val seed: Long, val seconds: Double, val work: Path,
                val report: Report) {
  val nproc: Int = spark.sparkContext.defaultParallelism

  def span[T](name: String)(body: => T): T = trace.span(name)(body)

  /** The benchmark's own work inside a round: generating and landing
    * inputs, building input frames, recomputing expected answers,
    * checking outputs. Its Spark jobs stay out of the per-layer `spark.*`
    * and layer counts. */
  def harness[T](body: => T): T = span("harness")(body)

  /** Runs `prepare` `times` times and keeps the last result. The median
    * of the timed repeats goes into `setup_s`, so one slow set-up (a cold
    * JIT, a page-cache miss) does not decide the figure. */
  def repeatedSetup[S](times: Int)(prepare: Int => S): S = {
    var last: Option[S] = None
    val secs = (0 until times).map { i =>
      val t0 = System.nanoTime()
      last = Some(span("setup")(prepare(i)))
      (System.nanoTime() - t0) / 1e9
    }
    report.setupRepeats = secs
    last.get
  }

  /** Times one untimed-for-metrics warm-up (first calls into a cold JVM
    * run far slower than later ones); its time counts into `setup_s`. */
  def warmup[T](body: => T): T = {
    val t0 = System.nanoTime()
    try span("warmup")(body)
    finally report.warmupS += (System.nanoTime() - t0) / 1e9
  }

  /** The closed loop: runs round after round until `seconds` have passed,
    * at least one. In a traced run every other round is untraced, and
    * there are at least two, so the run measures its own tracing
    * overhead. No round after the first starts when it would likely end
    * past [[Main.deadlineS]], so the run always gets to print its result. */
  def rounds(body: Int => Unit): Unit = {
    val t0 = System.nanoTime()
    var r = 0
    def fits: Boolean = report.roundTimes.isEmpty ||
      Main.elapsedS + 1.2 * report.roundTimes.last < Main.deadlineS
    while ((r == 0 || (trace.enabled && r < 2) || (System.nanoTime() - t0) / 1e9 < seconds) &&
           (r == 0 || fits)) {
      val traced = r % 2 == 0
      trace.beginRound(r, traced)
      val s = System.nanoTime()
      span("round")(body(r))
      report.roundTimes += (System.nanoTime() - s) / 1e9
      report.roundTraced += traced
      r += 1
    }
    report.measuredS = (System.nanoTime() - t0) / 1e9
  }

  /** Records one operation's outcome; a failed check counts as failed. */
  def check(ok: Boolean, what: => String): Unit = {
    report.attempted += 1
    if (!ok) {
      report.failed += 1
      if (report.failures.size < 20) report.failures += what
    }
  }
}

/** What a run prints. The last stdout line is the official result. */
final class Report(val workload: String, val traced: Boolean) {
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]
  var setupRepeats: Seq[Double] = Nil
  var sessionS = 0.0
  var warmupS = 0.0
  var measuredS = 0.0
  val roundTimes = mutable.ArrayBuffer.empty[Double]
  val roundTraced = mutable.ArrayBuffer.empty[Boolean]
  var spansFile = ""
  /** Gated end-to-end metrics (untraced runs). */
  val endToEnd = mutable.LinkedHashMap.empty[String, (Double, String)]
  /** The workload's own named figures, printed on the detail line. */
  val detail = mutable.LinkedHashMap.empty[String, (Double, String, Int)]
  /** Per-layer metrics (traced runs). */
  val layer = mutable.LinkedHashMap.empty[String, (Double, String)]

  def e2e(name: String, v: Double, unit: String): Unit = endToEnd(name) = (v, unit)
  def named(name: String, v: Double, unit: String, samples: Int): Unit =
    detail(name) = (v, unit, samples)
  def perLayer(name: String, v: Double, unit: String): Unit = layer(name) = (v, unit)
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (the "inclusive" method). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def fmt(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString
}

object Main {
  private val startNs = System.nanoTime()
  def elapsedS: Double = (System.nanoTime() - startNs) / 1e9
  /** Seconds after JVM start by which the rounds should be over; `run.py`
    * kills the JVM at 170 s, and the final checks need some of the rest. */
  val deadlineS = 150.0

  val workloads: Map[String, Workload] = Seq[Workload](
    DocPipeline, StoreCycle).map(w => w.name -> w).toMap

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val wl = workloads.getOrElse(opts.getOrElse("workload", ""),
      sys.error(s"--workload must be one of ${workloads.keys.toSeq.sorted.mkString(", ")}"))
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts.getOrElse("trace", "0") == "1"
    val work = Paths.get(opts("work")).toAbsolutePath
    val report = new Report(wl.name, traced)
    val runId = s"${wl.name}-s$seed-${ProcessHandle.current().pid()}"
    var spark: SparkSession = null
    var ctx: Ctx = null
    try {
      val t0 = System.nanoTime()
      spark = Session.create(wl, work)
      report.sessionS = (System.nanoTime() - t0) / 1e9
      ctx = new Ctx(spark, wl, new Trace(spark.sparkContext, traced, runId), seed,
        seconds, work, report)
      Calibration.probe(spark) // untimed: the first Spark job of a JVM is cold
      val calib0 = Calibration.probe(spark)
      wl.run(ctx)
      val calib1 = Calibration.probe(spark)
      report.named("env.calib_s", (calib0 + calib1) / 2, "s", 2)
      report.named("env.calib_drift", calib1 / calib0 - 1, "ratio", 2)
    } catch {
      case t: Throwable => failedWith(report, t)
    } finally {
      // the result line is printed whatever happened: a throw is one
      // failed operation, and what was measured before it still prints
      try {
        if (report.setupRepeats.nonEmpty)
          report.e2e("setup_s",
            report.sessionS + Stats.median(report.setupRepeats) + report.warmupS, "s")
        report.named("peak_rss_mb", Calibration.peakRssMb(), "MB", 1)
        if (traced && ctx != null) Layers.summarize(ctx, Paths.get(opts("spans")))
      } catch { case t: Throwable => failedWith(report, t) }
      try if (spark != null) spark.stop()
      catch { case t: Throwable => t.printStackTrace() }
      print(report)
    }
    System.exit(0)
  }

  private def failedWith(report: Report, t: Throwable): Unit = {
    report.attempted += 1
    report.failed += 1
    report.failures += s"${t.getClass.getSimpleName}: ${t.getMessage}"
    t.printStackTrace()
  }

  /** The gated metrics every untraced run prints: name, unit, and the
    * value printed when a failure cut the run short before measuring it,
    * the worst one for its direction, so a failed run never reads as a
    * gain. */
  val endToEnd: Seq[(String, String, Double)] = Seq(
    ("setup_s", "s", Unmeasured.lower), ("throughput", "op/s", Unmeasured.higher),
    ("latency_ms", "ms", Unmeasured.lower))

  object Unmeasured {
    val lower = 1e9
    val higher = 0.0
  }

  private def print(r: Report): Unit = {
    val errorRate = if (r.attempted == 0) 1.0 else r.failed.toDouble / r.attempted
    r.named("error_rate", errorRate, "fraction", r.attempted.toInt)
    val detail = r.detail.map { case (k, (v, u, n)) =>
      s""""$k":{"value":${Stats.fmt(v)},"unit":"$u","samples":$n}"""
    }
    val fails = r.failures.map(f => "\"" + Json.esc(f) + "\"")
    println(s"""{"workload":"${r.workload}","traced":${r.traced},""" +
      s""""session_s":${Stats.fmt(r.sessionS)},"warmup_s":${Stats.fmt(r.warmupS)},"setup_repeats_s":[${r.setupRepeats.map(Stats.fmt).mkString(",")}],""" +
      s""""measured_s":${Stats.fmt(r.measuredS)},"rounds":${r.roundTimes.size},""" +
      s""""spans_file":"${Json.esc(r.spansFile)}","detail":{${detail.mkString(",")}},""" +
      s""""failures":[${fails.mkString(",")}]}""")
    val names =
      if (r.traced) Layers.all.map { case (k, u) => (k, u, 0.0) } else endToEnd
    val ms = if (r.traced) r.layer else r.endToEnd
    val metrics = names.map { case (k, u, missing) =>
      s""""$k":{"value":${Stats.fmt(ms.get(k).map(_._1).getOrElse(missing))},"unit":"$u"}"""
    }
    println(s"""{"correct":${r.failed == 0 && r.attempted > 0},"attempted":${r.attempted},""" +
      s""""failed":${r.failed},"metrics":{${metrics.mkString(",")}}}""")
    System.out.flush()
  }
}

object Json {
  def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => " "
    case c => c.toString
  }
}

/** One workload: its session settings and its run. */
trait Workload {
  def name: String
  /** Extra session settings on top of [[Session.create]]'s. */
  def conf: Map[String, String] = Map.empty
  def run(ctx: Ctx): Unit
  /** Workload-specific per-layer metrics from the traced spans;
    * `round0(names)` sums the Spark counts of round 0's spans whose name
    * passes `names`. */
  def layers(ctx: Ctx, spans: Seq[Span], counts: Map[Int, Counts],
             round0: (String => Boolean) => Counts): Unit = ()
}

object Session {
  /** The `graft.Bench` session: local[nproc], as many shuffle partitions,
    * AQE on, UTC, nanosecond parquet timestamps as longs. Spark's scratch
    * space stays under `work`. */
  def create(wl: Workload, work: Path): SparkSession = {
    val n = Runtime.getRuntime.availableProcessors()
    Files.createDirectories(work)
    val b = SparkSession.builder()
      .master(s"local[$n]")
      .appName(s"perfbench-${wl.name}")
      .config("spark.sql.shuffle.partitions", n.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
    wl.conf.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}

object Calibration {
  /** A fixed CPU-bound Spark job: hashing 20M longs on every core. Its
    * time tracks the machine's speed at that moment, not the engine. */
  def probe(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    spark.range(0L, 20000000L, 1L, spark.sparkContext.defaultParallelism)
      .selectExpr("sum(hash(id) % 1000) AS s").collect()
    (System.nanoTime() - t0) / 1e9
  }

  /** VmHWM of this JVM, in MB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024).getOrElse(0.0)
    finally src.close()
  }
}
