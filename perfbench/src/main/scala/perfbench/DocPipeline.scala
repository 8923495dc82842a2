package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Flagship
import graft.functions.TextFns
import graft.operators.{Chunker, Dedup}
import graft.pipeline.{Compiler, Rewriter, SplitOp}
import graft.semantic.{ModelClient, SemanticOps, StubModelClient}
import graft.sinks.Sinks
import graft.sources.Sources

/** Model calls seen by [[SimulatedModel]] in this JVM (local mode runs the
  * executors in the driver's JVM, so one set of counters sees every task).
  * `distinct` holds a hash of every prompt text seen since the last
  * [[reset]]: a prompt sent again with the same text (a task Spark
  * recomputed, a chunk two documents share) is a repeat, not a new
  * output.
  */
object ModelStats {
  val calls = new AtomicLong
  val prompts = new AtomicLong
  val waitNs = new AtomicLong
  val distinct: java.util.Set[Long] = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
  def reset(): Unit = distinct.clear()
  def snapshot(): Seq[Long] = Seq(calls.get, prompts.get, waitNs.get)
  def seen(prompt: String): Unit =
    distinct.add((prompt.hashCode.toLong << 32) ^ (MurmurHash3.stringHash(prompt) & 0xffffffffL))
}

/** The benchmark's model: the engine's deterministic stub behind a fixed
  * latency per request, as a remote model would answer. Its answers are
  * the stub's, unchanged.
  */
final class SimulatedModel(latencyMs: Long) extends ModelClient {
  private val stub = new StubModelClient()

  private def request[T](prompts: Seq[String])(body: => T): T = {
    val t0 = System.nanoTime()
    Thread.sleep(latencyMs)
    val out = body
    ModelStats.calls.incrementAndGet()
    ModelStats.prompts.addAndGet(prompts.size)
    prompts.foreach(ModelStats.seen)
    ModelStats.waitNs.addAndGet(System.nanoTime() - t0)
    out
  }

  override def complete(prompt: String, schemaDdl: String): String =
    request(Seq(prompt))(stub.complete(prompt, schemaDdl))

  override def completeBatch(prompts: Seq[String], schemaDdl: String): Seq[String] =
    request(prompts)(stub.completeBatch(prompts, schemaDdl))
}

/** doc_pipeline: the paper's path. Each round is one new batch of
  * documents landing as a JSON file: source read, corpus dedup, the
  * Flagship spec through the Rewriter and Compiler (split, chunk-map,
  * hierarchical reduce, generate), the quality score, and the sinks.
  */
object DocPipeline extends Workload {
  val name = "doc_pipeline"
  val batchDocs = 40
  val modelLatencyMs = 20L
  val chunkSize = 120
  val overlap = 20
  private val threshold = 0.7

  final case class Doc(id: Long, text: String, lang: String)
  /** A batch and the duplicates it planted (ids above their originals). */
  final case class Batch(docs: Seq[Doc], exactDups: Set[Long], nearDups: Set[Long])

  /** Batch `b` of seed `seed`: four fifths originals whose lengths span 1
    * to 15 chunks (the same multiset in every batch, in seeded order), each
    * a concatenation of short documents; one fifth exact or near copies
    * (last word replaced) of seeded originals. */
  def batch(seed: Long, b: Int): Batch = {
    val r = new Gen.Rng(seed * 1000003L + b)
    val nOrig = batchDocs * 4 / 5
    val base = (b + 1000L) * 1000L
    val targets = r.shuffle((0 until nOrig).map(i => 1 + i * 15 / nOrig))
    val langs = Seq("en", "zh", "de")
    val originals = targets.zipWithIndex.map { case (chunks, i) =>
      // words for `chunks` windows of chunkSize with `overlap` shared
      val want = if (chunks == 1) 1 else (chunkSize - overlap) * (chunks - 1) + overlap + 1
      val words = mutable.ArrayBuffer.empty[String]
      while (words.isEmpty || words.size < want) words ++= Gen.shortDoc(r)
      Doc(base + i, words.mkString(" "), langs(r.below(3).toInt))
    }
    val dups = (0 until batchDocs - nOrig).map { j =>
      val o = originals(r.below(nOrig).toInt)
      val text = if (j % 2 == 0) o.text else o.text.replaceFirst("\\S+$", "zzz")
      Doc(base + nOrig + j, text, o.lang)
    }
    Batch(r.shuffle(originals ++ dups),
      dups.zipWithIndex.collect { case (d, j) if j % 2 == 0 => d.id }.toSet,
      dups.zipWithIndex.collect { case (d, j) if j % 2 == 1 => d.id }.toSet)
  }

  /** Pinned (articles, dead letters, content hash) per (seed, batch), from
    * `doc_pipeline_pins.tsv` (written by [[Pins]]). A batch with a pin must
    * reproduce it exactly. */
  lazy val pins: Map[(Long, Int), (Long, Long, Int)] =
    Option(getClass.getResourceAsStream("/perfbench/doc_pipeline_pins.tsv")).map { in =>
      val src = scala.io.Source.fromInputStream(in, "UTF-8")
      try src.getLines().filterNot(_.startsWith("#")).map(_.split("\t")).collect {
        case Array(seed, b, n, dead, hash) =>
          (seed.toLong, b.toInt) -> (n.toLong, dead.toLong, hash.toInt)
      }.toMap
      finally src.close()
    }.getOrElse(Map.empty)

  private val docSchema = StructType(Seq(StructField("doc_id", LongType),
    StructField("text", StringType), StructField("lang", StringType),
    StructField("source", StringType)))

  private def free(df: DataFrame): Unit = df.queryExecution.analyzed match {
    case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.unpersist(false)
    case _ => ()
  }

  /** What one batch produced, for the checks and the layer metrics. */
  final case class Outcome(latencyS: Double, articles: Long, dead: Long, hash: Int,
                           layer: Map[String, Double])

  /** Writes batch `b` as the JSON-lines file the pipeline reads. */
  def land(ctx: Ctx, b: Int): Path = {
    val dir = ctx.work.resolve(s"docs/b$b")
    Files.createDirectories(dir)
    val file = dir.resolve("batch.json")
    Files.write(file, batch(ctx.seed, b).docs.map { d =>
      s"""{"doc_id":${d.id},"text":"${d.text}","lang":"${d.lang}","source":"src${d.id % 5}"}"""
    }.mkString("\n").getBytes(UTF_8))
    file
  }

  /** One batch, timed: the source read, dedup, the rewritten Flagship
    * spec in one `Compiler.run` (as `Flagship.run` runs it), the quality
    * score and the sinks. Nothing is cached or checkpointed beyond what
    * the engine does itself. The checks, and a run of the chunker on its
    * own, follow in the harness, untimed. */
  def runBatch(ctx: Ctx, b: Int): Outcome = {
    val spark = ctx.spark
    val in = batch(ctx.seed, b)
    val file = ctx.work.resolve(s"docs/b$b/batch.json")
    if (!Files.exists(file)) ctx.harness(land(ctx, b))
    val client = new SimulatedModel(modelLatencyMs)
    ModelStats.reset()
    val m0 = ModelStats.snapshot()
    val retried0 = SemanticOps.metrics(spark).retriedRows.sum
    val lay = mutable.LinkedHashMap.empty[String, Double]
    def timed[T](key: String, span: String)(body: => T): T = {
      val t0 = System.nanoTime()
      try ctx.span(span)(body)
      finally lay(key) = lay.getOrElse(key, 0.0) + (System.nanoTime() - t0) / 1e9
    }
    val out = ctx.work.resolve(s"sinks/b$b")
    val held = mutable.ArrayBuffer.empty[DataFrame]
    val t0 = System.nanoTime()
    try {
      // the source layer caches its read and routes malformed lines to a
      // dead-letter frame; counting that frame is what reads the file
      val (docs, malformed) = timed("sources.load_s", "sources") {
        val read = Sources.jsonDataset(spark, file.toString, docSchema, multiLine = false)
        (read.ok, read.dead.count())
      }
      val deduped = timed("operators.dedup_s", "operators.dedup")(
        Dedup.dedupCorpus(docs, "doc_id", "text"))
      val (spec, compiled) = timed("pipeline.compile_s", "pipeline") {
        val spec = Rewriter.rewrite(Flagship.spec, textCol = "text",
          chunkSize = chunkSize, overlap = overlap, docKeys = Seq("doc_id"))
        (spec, Compiler.run(deduped, spec, client))
      }
      val scored = compiled.result
        .withColumn("quality_score", round(TextFns.qualityScore(col("headline"),
          col("subtitle"), col("article_body"), col("meta_description"),
          col("pull_quotes"), col("key_takeaways")), 4))
        .withColumn("bucket", when(col("quality_score") >= threshold, "high")
          .otherwise("failed"))
        .orderBy(col("doc_id"))
      timed("sinks.write_s", "sinks") {
        Sinks.thresholdJson(scored, "quality_score", threshold, s"$out/articles")
        val md = Sinks.markdownColumn(col("headline"), col("subtitle"),
          col("key_takeaways"), array(lit(spec.name)), col("doc_id"),
          col("word_count"), col("meta_description"), col("article_body"),
          col("pull_quotes"), col("key_takeaways"))
        Sinks.writeMarkdown(scored.filter(col("bucket") === "high"), "headline", md,
          s"$out/markdown")
        val stats = Sinks.qualityStats(scored, "quality_score", threshold)
        Sinks.writeManifest(stats, stats.columns.toSeq, s"$out/summary")
      }
      val latency = (System.nanoTime() - t0) / 1e9
      val m1 = ModelStats.snapshot()
      val distinctPrompts = ModelStats.distinct.size

      ctx.harness {
        val survivorRows = deduped.select("doc_id", "text").collect()
        val survivors = survivorRows.map(_.getLong(0)).toSet
        val removed = in.docs.map(_.id).toSet -- survivors
        val rows = scored.select(col("doc_id"), col("headline"), col("word_count"),
          col("quality_score"), col("bucket")).collect().sortBy(_.getLong(0))
        val deadIds = compiled.deadLetter.map(_.select(
          get_json_object(col("record"), "$.doc_id").cast("long")).collect()
          .map(_.getLong(0)).toSeq).getOrElse(Nil)
        val articleIds = rows.map(_.getLong(0)).toSet
        val summary = spark.read.json(s"$out/summary").select("total_articles")
          .collect().map(_.getLong(0)).headOption.getOrElse(-1L)
        val (files, bytes) = Layers.filesUnder(out)

        // the chunker is fused into the chunk-map's stage, so a span cannot
        // time it there: run the spec's split on its own over the same
        // (checkpointed) survivors, forcing every chunk's text
        val split = spec.ops.collectFirst { case s: SplitOp => s }.get
        val input = deduped.localCheckpoint(true)
        held += input
        val c0 = System.nanoTime()
        val Row(chunks: Long, _) = ctx.span("operators.chunker")(
          Chunker.split(input, split.textCol, split.chunkSize, split.overlap,
            neighbors = split.neighbors)
            .agg(count(lit(1)), sum(length(col("chunk_text")))).head())
        lay("operators.chunker_s") = (System.nanoTime() - c0) / 1e9
        val step = chunkSize - overlap
        val expectedChunks = survivorRows.map { r =>
          val n = r.getString(1).split("\\s+").count(_.nonEmpty)
          if (n <= chunkSize) 1L else math.ceil((n - overlap).toDouble / step).toLong
        }.sum

        val problems = Seq(
          "malformed source lines" -> (malformed == 0),
          "source rows" -> (docs.count() == in.docs.size),
          "dedup removed a document that is not a planted duplicate" ->
            removed.subsetOf(in.exactDups ++ in.nearDups),
          "dedup kept an exact duplicate" -> in.exactDups.forall(removed.contains),
          "chunk count differs from the token-window count" -> (chunks == expectedChunks),
          "article for a document dedup removed" -> articleIds.subsetOf(survivors),
          "document lost without a dead letter" ->
            (survivors -- articleIds).subsetOf(deadIds.toSet),
          "article fails the spec's validations" -> rows.forall(r =>
            r.getString(1) != null && r.getString(1).nonEmpty && r.getLong(2) >= 0),
          "quality score out of range or bucket mismatch" -> rows.forall { r =>
            val q = r.getDouble(3)
            q >= 0 && q <= 1 && (r.getString(4) == "high") == (q >= threshold)
          },
          "summary sink disagrees with the result" -> (summary == rows.length))
        val hash = MurmurHash3.orderedHash(rows.map(r =>
          (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3))))
        val pinned = pins.get((ctx.seed, b))
          .forall(_ == ((rows.length.toLong, deadIds.size.toLong, hash)))
        val checked = problems :+
          ("articles, dead letters or content hash differ from the pin" -> pinned)
        checked.filterNot(_._2).foreach { case (what, _) =>
          ctx.report.failures += s"batch $b: $what" }
        ctx.check(checked.forall(_._2), s"batch $b")

        val Seq(calls, prompts, waitNs) = m1.zip(m0).map { case (a, z) => a - z }
        val retried = SemanticOps.metrics(spark).retriedRows.sum - retried0
        // every rejected answer is either asked again or dead-lettered
        val accepted = distinctPrompts - retried - deadIds.size
        lay ++= Seq(
          "semantic.calls" -> calls.toDouble,
          "semantic.prompts" -> prompts.toDouble,
          "semantic.prompts_per_doc" -> prompts.toDouble / in.docs.size,
          "semantic.retried_prompts" -> retried.toDouble,
          "semantic.model_wait_s" -> waitNs / 1e9,
          "semantic.useful_ratio" -> (if (prompts == 0) 0.0 else accepted.toDouble / prompts),
          "operators.chunks" -> chunks.toDouble,
          "operators.dedup_removed" -> removed.size.toDouble,
          "pipeline.dead_letter_rows" -> deadIds.size.toDouble,
          "sinks.files" -> files.toDouble,
          "sinks.bytes" -> bytes.toDouble,
          "sources.input_bytes" -> Files.size(file).toDouble)
        Outcome(latency, rows.length, deadIds.size, hash, lay.toMap)
      }
    } finally {
      held.foreach(free)
      spark.catalog.clearCache()
      Layers.deleteTree(out)
      Layers.deleteTree(file.getParent)
    }
  }

  def run(ctx: Ctx): Unit = {
    // set-up repeats land the inputs of the first batches; one batch with
    // its own index is the warm-up
    ctx.repeatedSetup(3)(_ => (0 until 4).foreach(land(ctx, _)))
    ctx.warmup(runBatch(ctx, -1))
    val outcomes = mutable.ArrayBuffer.empty[Outcome]
    ctx.rounds(r => outcomes += runBatch(ctx, r))
    val lat = outcomes.map(_.latencyS)
    val docs = outcomes.size * batchDocs
    val r = ctx.report
    r.e2e("throughput", docs / lat.sum, "op/s")
    r.e2e("latency_ms", lat.sum / lat.size * 1000, "ms")
    r.named("docs_per_s", docs / lat.sum, "docs/s", docs)
    r.named("batch_p50_s", Stats.median(lat.toSeq), "s", lat.size)
    r.named("doc.articles", outcomes.map(_.articles).sum.toDouble, "count", outcomes.size)
    r.named("doc.dead_letters", outcomes.map(_.dead).sum.toDouble, "count", outcomes.size)
    r.named("doc.batch0_hash", outcomes.head.hash.toDouble, "hash", 1)
    Layers.roundValues(ctx, outcomes.map(_.layer).toSeq)
  }
}
