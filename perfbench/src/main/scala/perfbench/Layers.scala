package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

/** The per-layer metrics a traced run prints, and how they are derived.
  *
  * Counts come from round 0, which every run completes, so a count that
  * depends only on the seed repeats exactly from run to run. Times are
  * means over all rounds. Every run prints every metric; a layer the
  * workload does not exercise reads 0.
  */
object Layers {
  val all: Seq[(String, String)] = Seq(
    "semantic.calls" -> "count", "semantic.prompts" -> "count",
    "semantic.prompts_per_doc" -> "prompt/doc", "semantic.retried_prompts" -> "count",
    "semantic.model_wait_s" -> "s", "semantic.useful_ratio" -> "ratio",
    "operators.chunker_s" -> "s", "operators.chunks" -> "count",
    "operators.dedup_s" -> "s", "operators.dedup_removed" -> "count",
    "pipeline.compile_s" -> "s", "pipeline.dead_letter_rows" -> "count",
    "sinks.write_s" -> "s", "sinks.files" -> "count", "sinks.bytes" -> "bytes",
    "store.merge_s" -> "s", "store.merge_jobs" -> "count",
    "store.merge_stages" -> "count", "store.merge_shuffle_bytes" -> "bytes",
    "store.merge_files_written" -> "count", "store.sweep_s" -> "s",
    "store.bytes_rewritten" -> "bytes", "store.segments_per_bucket" -> "segments",
    "plans.plan_ms" -> "ms", "plans.exec_ms" -> "ms",
    "plans.rewrite_hit_ratio" -> "ratio", "plans.files_scanned_per_query" -> "files",
    "graph.ppr_s" -> "s", "graph.jobs" -> "count",
    "sources.load_s" -> "s", "sources.input_bytes" -> "bytes",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.task_cpu_s" -> "s", "spark.shuffle_write_bytes" -> "bytes",
    "spark.shuffle_read_bytes" -> "bytes", "spark.spill_bytes" -> "bytes",
    "spark.input_bytes" -> "bytes", "spark.rdd_blocks_stored" -> "count",
    "spark.gc_s" -> "s",
    "self.sources_s" -> "s", "self.operators.dedup_s" -> "s",
    "self.operators.chunker_s" -> "s", "self.pipeline_s" -> "s",
    "self.sinks_s" -> "s", "self.operators.store_s" -> "s",
    "self.plans_s" -> "s", "self.operators.graph_s" -> "s",
    "trace.overhead_pct" -> "%")
  private val unitOf = all.toMap

  private def isTime(name: String): Boolean = Set("s", "ms")(unitOf.getOrElse(name, ""))

  /** Folds one value map per round into the report: counts from round 0,
    * times as the mean over rounds. */
  def roundValues(ctx: Ctx, rounds: Seq[Map[String, Double]]): Unit =
    if (rounds.nonEmpty) rounds.flatMap(_.keys).distinct.filter(unitOf.contains).foreach { k =>
      val v =
        if (isTime(k)) { val xs = rounds.flatMap(_.get(k)); xs.sum / xs.size }
        else rounds.head.getOrElse(k, 0.0)
      ctx.report.perLayer(k, v, unitOf(k))
    }

  /** Span-derived metrics: Spark counts per round, self time per layer,
    * and the tracing overhead; then writes the spans file. The Spark
    * counts leave out every `harness` span and the spans below it (the
    * benchmark's own input landing and checks), so they are the
    * program's. */
  def summarize(ctx: Ctx, spansFile: Path): Unit = {
    val trace = ctx.trace
    val counts = trace.counts()
    val inRounds = trace.spans.filter(_.round >= 0)
    val harness = inRounds.filter(_.name == "harness")
      .flatMap(h => descendants(inRounds, h.id)).map(_.id).toSet
    val spans = inRounds.filterNot(s => harness(s.id))
    val r = ctx.report
    def round0(names: String => Boolean): Counts =
      spans.filter(s => s.round == 0 && names(s.name)).map(s => counts.getOrElse(s.id, Counts()))
        .foldLeft(Counts())(_ + _)
    val byRound = spans.groupBy(_.round).map { case (k, ss) =>
      k -> ss.map(s => counts.getOrElse(s.id, Counts())).foldLeft(Counts())(_ + _)
    }
    val c0 = byRound.getOrElse(0, Counts())
    val traced = byRound.values.toSeq
    def meanOf(f: Counts => Double): Double =
      if (traced.isEmpty) 0.0 else traced.map(f).sum / traced.size
    Seq("spark.jobs" -> c0.jobs, "spark.stages" -> c0.stages, "spark.tasks" -> c0.tasks,
      "spark.shuffle_write_bytes" -> c0.shuffleWrite,
      "spark.shuffle_read_bytes" -> c0.shuffleRead, "spark.spill_bytes" -> c0.spill,
      "spark.input_bytes" -> c0.input, "spark.rdd_blocks_stored" -> c0.rddBlocks)
      .foreach { case (k, v) => r.perLayer(k, v.toDouble, unitOf(k)) }
    r.perLayer("spark.task_cpu_s", meanOf(_.cpuNs / 1e9), "s")
    r.perLayer("spark.gc_s", meanOf(_.gcMs / 1e3), "s")
    ctx.workload.layers(ctx, spans, counts, round0)

    // self time per layer, a mean over traced rounds; a layer call the
    // harness makes for a measurement of its own (the chunker run on its
    // own) counts here
    val nTraced = math.max(1, inRounds.map(_.round).distinct.size)
    val self = trace.selfSeconds(inRounds)
    def layerSelf(prefix: String): Double =
      self.collect { case (n, v) if n == prefix || n.startsWith(prefix + ".") => v }.sum / nTraced
    Seq("sources", "operators.dedup", "operators.chunker", "pipeline", "sinks",
      "operators.store", "plans", "operators.graph").foreach { l =>
      r.perLayer(s"self.${l}_s", layerSelf(l), "s")
    }

    // traced over untraced; round 0, the first after the warm-up, is
    // traced, so any warm-up left over counts as overhead, never hides it
    val (on, off) = r.roundTimes.zip(r.roundTraced).partition(_._2)
    val overhead =
      if (on.isEmpty || off.isEmpty) 0.0
      else (Stats.median(on.map(_._1).toSeq) / Stats.median(off.map(_._1).toSeq) - 1) * 100
    r.perLayer("trace.overhead_pct", overhead, "%")
    r.named("trace.rounds_traced", on.size, "rounds", on.size)
    r.named("trace.rounds_untraced", off.size, "rounds", off.size)

    trace.write(spansFile, counts)
    r.spansFile = spansFile.toString
  }

  /** `root` and every span below it. */
  def descendants(spans: Seq[Span], root: Int): Seq[Span] = {
    val kids = spans.groupBy(_.parent)
    def go(id: Int): Seq[Span] = kids.getOrElse(id, Nil).flatMap(s => s +: go(s.id))
    spans.filter(_.id == root) ++ go(root)
  }

  /** Data files (not `_`/`.` marker or checksum files) under `dir`, and
    * their bytes. */
  def filesUnder(dir: Path): (Long, Long) =
    if (!Files.exists(dir)) (0L, 0L)
    else {
      val s = Files.walk(dir)
      try {
        val fs = s.iterator().asScala.filter(Files.isRegularFile(_))
          .filterNot { p => val n = p.getFileName.toString; n.startsWith("_") || n.startsWith(".") }
          .toSeq
        (fs.size.toLong, fs.map(Files.size).sum)
      } finally s.close()
    }

  def filesUnder(dir: String): (Long, Long) = filesUnder(Paths.get(dir))

  def deleteTree(dir: Path): Unit =
    if (Files.exists(dir)) {
      val s = Files.walk(dir)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
      finally s.close()
    }
}
