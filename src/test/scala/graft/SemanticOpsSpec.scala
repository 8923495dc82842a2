package graft

import java.net.InetSocketAddress
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import com.sun.net.httpserver.HttpServer

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.pipeline._
import graft.semantic.{HttpModelClient, ModelClient, SemanticOps, StubModelClient}

class SemanticOpsSpec extends SparkSpec with org.scalatest.BeforeAndAfterAll {
  import spark.implicits._

  private var server: HttpServer = _
  private var port: Int = _
  private val chatRequests = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
  private val chatHits = new AtomicInteger(0)
  private val flakyModelHits = new AtomicInteger(0)

  private def jstr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c => c.toString
    } + "\""

  private def envelope(content: String): Array[Byte] =
    s"""{"id":"chatcmpl-test","choices":[{"index":0,
       |"message":{"role":"assistant","content":${jstr(content)}}}]}"""
      .stripMargin.getBytes("UTF-8")

  override def beforeAll(): Unit = {
    super.beforeAll()
    server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/v1/chat/completions", { ex =>
      val req = new String(ex.getRequestBody.readAllBytes(), "UTF-8")
      chatRequests.add((Option(ex.getRequestHeaders.getFirst("Authorization")).getOrElse(""), req))
      // first call returns a verdict that FAILS the SQL validation, every
      // later call a passing one — so semanticMap's attempt-salt retry loop
      // is exercised through the HTTP boundary, not just the HTTP retry.
      val content =
        if (chatHits.incrementAndGet() == 1) """{"verdict": "no"}"""
        else """{"verdict": "a sufficiently long verdict"}"""
      val body = envelope(content)
      ex.sendResponseHeaders(200, body.length.toLong)
      ex.getResponseBody.write(body); ex.close()
    })
    server.createContext("/flaky-model", { ex =>
      // transient 503 first, then healthy — the client-level retry path
      if (flakyModelHits.incrementAndGet() == 1) {
        ex.sendResponseHeaders(503, -1); ex.close()
      } else {
        val body = envelope("""{"verdict": "recovered"}""")
        ex.sendResponseHeaders(200, body.length.toLong)
        ex.getResponseBody.write(body); ex.close()
      }
    })
    server.createContext("/rate-limited", { ex =>
      // 429 + Retry-After: 1 first, then healthy — the header must govern
      // the backoff instead of the 50ms linear default
      if (rateLimitHits.incrementAndGet() == 1) {
        ex.getResponseHeaders.set("Retry-After", "1")
        ex.sendResponseHeaders(429, -1); ex.close()
      } else {
        val body = envelope("""{"verdict": "after the wait"}""")
        ex.sendResponseHeaders(200, body.length.toLong)
        ex.getResponseBody.write(body); ex.close()
      }
    })
    server.createContext("/huge-model", { ex =>
      val body = envelope("x" * 65536)
      ex.sendResponseHeaders(200, body.length.toLong)
      ex.getResponseBody.write(body); ex.close()
    })
    server.start()
    port = server.getAddress.getPort
  }

  private val rateLimitHits = new AtomicInteger(0)

  override def afterAll(): Unit = {
    if (server != null) server.stop(0)
    super.afterAll()
  }

  private val client = new StubModelClient()
  private val docs = Seq(
    (1L, "alpha beta gamma delta epsilon zeta"),
    (2L, "one two three four five six seven"),
    (3L, "red green blue cyan magenta yellow")).toDF("doc_id", "text")

  private val schema = StructType(Seq(
    StructField("summary", StringType),
    StructField("n", LongType)))

  test("semanticMap output conforms to the declared schema and is deterministic") {
    def run() = SemanticOps.semanticMap(docs, "Summarize: {{ input.text }}",
      schema, client).ok.orderBy("doc_id").collect().toSeq
    val a = run(); val b = run()
    assert(a == b, "stub-backed semantic map must be deterministic")
    assert(a.size == 3)
    val out = SemanticOps.semanticMap(docs, "Summarize: {{ input.text }}", schema, client).ok
    assert(out.columns.toSet == Set("doc_id", "text", "summary", "n"))
    assert(out.schema("summary").dataType == StringType)
  }

  test("retries recover rows the first attempt fails; dead-letter catches the rest") {
    // n is in [0, 1000); demand a narrow band so attempt salts matter.
    val lax = SemanticOps.semanticMap(docs, "S: {{ input.text }}", schema, client,
      validations = Seq("n >= 0"), retries = 0)
    assert(lax.ok.count() == 3 && lax.dead.count() == 0)

    val impossible = SemanticOps.semanticMap(docs, "S: {{ input.text }}", schema, client,
      validations = Seq("n < 0"), retries = 1)
    assert(impossible.ok.count() == 0)
    assert(impossible.dead.count() == 3)
    assert(impossible.dead.columns.contains("__error"))

    // a band some attempt satisfies: more retries -> no fewer successes
    def okAt(r: Int) = SemanticOps.semanticMap(docs, "S: {{ input.text }}", schema, client,
      validations = Seq("n % 2 = 0"), retries = r).ok.count()
    assert(okAt(4) >= okAt(0))
  }

  test("a row whose validation evaluates to null is retried, then dead-lettered") {
    // malformed JSON parses to null fields, so "n >= 0" is null, not false
    val res = SemanticOps.semanticMap(docs, "S: {{ input.text }}", schema,
      new MalformedFor("gamma"), validations = Seq("n >= 0"), retries = 1)
    val (ok, dead) = (res.ok.count(), res.dead.count())
    assert(ok + dead == docs.count(), s"rows lost: ok=$ok dead=$dead")
    assert(res.dead.select("doc_id").as[Long].collect().toSeq == Seq(1L))
    assert(res.dead.columns.contains("__error"))
  }

  test("semanticReduce folds each group to one schema-conformant row, fanIn-invariant determinism") {
    val grouped = Seq((1L, "g1", "aa"), (2L, "g1", "bb"), (3L, "g2", "cc"))
      .toDF("doc_id", "grp", "text")
    val out = SemanticOps.semanticReduce(grouped, Seq("grp"), "Synthesize:",
      schema, client, fanIn = 8)
    assert(out.count() == 2)
    assert(out.columns.toSet == Set("grp", "summary", "n"))
    // hierarchical path (fanIn=2 forces a multi-level fold) still yields one row per group
    val deep = SemanticOps.semanticReduce(grouped, Seq("grp"), "Synthesize:",
      schema, client, fanIn = 2)
    assert(deep.count() == 2)
    intercept[IllegalArgumentException] {
      SemanticOps.semanticReduce(grouped, Seq("grp"), "S:", schema, client, fanIn = 1)
    }
  }

  test("semanticMap over an empty frame returns the output columns and calls no model") {
    val counting = new CountingClient("empty-map")
    val res = SemanticOps.semanticMap(docs.filter(lit(false)), "Summarize: {{ input.text }}",
      schema, counting)
    assert(res.ok.columns.toSet == Set("doc_id", "text", "summary", "n"))
    assert(res.ok.count() == 0 && res.dead.count() == 0)
    assert(counting.requests.isEmpty)
  }

  test("a multi-level reduce sends one request per level, with the per-prompt recursion's answers") {
    // g1 folds 5 -> 3 -> 2 -> 1 at fanIn 2, g2 3 -> 2 -> 1, g3 1 -> 1:
    // ten prompts over three levels
    val rows = Seq((1L, "g1", "aa"), (2L, "g1", "bb"), (3L, "g1", "cc"), (4L, "g1", "dd"),
      (5L, "g1", "ee"), (6L, "g2", "ff"), (7L, "g2", "gg"), (8L, "g2", "hh"), (9L, "g3", "ii"))
      .toDF("doc_id", "grp", "text")
    val instruction = "Synthesize:"
    val counting = new CountingClient("reduce-levels")
    val m = SemanticOps.metrics(spark)
    val (calls0, rows0) = (m.calls.sum, m.rows.sum)
    val prior = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "1")
    val out = try {
      SemanticOps.semanticReduce(rows, Seq("grp"), instruction, schema, counting, fanIn = 2)
        .as[(String, String, Long)].collect().toSet
    } finally spark.conf.set("spark.sql.shuffle.partitions", prior)
    assert(counting.requests == Seq(6, 3, 1), "one request per level, not one per prompt")
    assert((m.calls.sum - calls0, m.rows.sum - rows0) == ((3L, 10L)))

    val ddl = schema.toDDL
    def fold(items: Seq[String]): String =
      if (items.size <= 2) client.complete(s"$instruction\n" + items.mkString("\n"), ddl)
      else fold(items.grouped(2).map(g =>
        client.complete(s"$instruction\n" + g.mkString("\n"), ddl)).toSeq)
    val docsOf = rows.as[(Long, String, String)].collect().toSeq.groupMap(_._2) {
      case (id, _, text) => s"""{"doc_id":$id,"text":"$text"}""" }
    val expected = docsOf.toSeq.map { case (g, ds) => (g, fold(ds.sorted)) }
      .toDF("grp", "resp")
      .select(col("grp"), from_json(col("resp"), schema).as("o"))
      .select(col("grp"), col("o.summary"), col("o.n"))
      .as[(String, String, Long)].collect().toSet
    assert(out == expected)
  }

  test("semanticMap keeps several requests of one task in flight, with the serial answers") {
    val rows = (1L to 8L).map(i => (i, s"document $i words here")).toDF("doc_id", "text")
      .repartition(1)
    val counting = new CountingClient("overlap", sleepMs = 50)
    val out = SemanticOps.semanticMap(rows, "Summarize: {{ input.text }}", schema, counting,
      batchSize = 2).ok.orderBy("doc_id").collect().toSeq
    assert(counting.requests == Seq(2, 2, 2, 2))
    assert(counting.peak > 1, "a one-task map must overlap its requests")
    val serial = SemanticOps.semanticMap(rows, "Summarize: {{ input.text }}", schema, client,
      batchSize = 100).ok.orderBy("doc_id").collect().toSeq
    assert(out == serial)
  }

  test("a request that throws fails the action with its exception, and no request outlives it") {
    val rows = (1L to 8L).map(i => (i, s"document $i words here")).toDF("doc_id", "text")
      .repartition(1).sortWithinPartitions("doc_id")
    // the poisoned first request fails at once, while the other seven
    // still wait for the model
    val counting = new CountingClient("failing", sleepMs = 200, poison = Some("document 1 "))
    val e = intercept[Exception] {
      SemanticOps.semanticMap(rows, "Summarize: {{ input.text }}", schema, counting,
        batchSize = 1).ok.collect()
    }
    val causes = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq
    assert(causes.exists(c => c.isInstanceOf[IllegalStateException] &&
      c.getMessage == "model refused: document 1 "), s"unexpected failure: $e")
    assert(counting.active == 0, "a request still ran after the action returned")
  }

  test("cancelling a job cancels its model requests in flight") {
    val rows = (1L to 8L).map(i => (i, s"document $i words here")).toDF("doc_id", "text")
      .repartition(1)
    // each request would wait far longer than the test allows
    val counting = new CountingClient("cancelled", sleepMs = 60000)
    val sc = spark.sparkContext
    val failure = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val action = new Thread(() => {
      // a job group cancelled without interrupting the task thread
      sc.setJobGroup("graft-cancelled-model", "slow model requests")
      try SemanticOps.semanticMap(rows, "Summarize: {{ input.text }}", schema, counting,
        batchSize = 1).ok.collect()
      catch { case e: Throwable => failure.set(e) }
      finally sc.clearJobGroup()
    })
    def within(ms: Long)(done: => Boolean): Boolean = {
      val end = System.currentTimeMillis() + ms
      while (!done && System.currentTimeMillis() < end) Thread.sleep(20)
      done
    }
    action.start()
    assert(within(60000)(counting.active == 8), s"${counting.active} requests in flight")
    sc.cancelJobGroup("graft-cancelled-model")
    action.join(60000)
    assert(failure.get != null, "the cancelled action returned rows")
    assert(within(5000)(counting.active == 0),
      s"${counting.active} requests still ran 5 s after the cancel")
  }

  test("folding many groups in one task adds no task-completion listener per group") {
    import graft.semantic.{DocBuf, SemanticAgg}
    val agg = SemanticAgg("Synthesize:", schema.toDDL, client, fanIn = 2)
    val added = spark.sparkContext.parallelize(Seq(0), 1).map { _ =>
      val ctx = org.apache.spark.TaskContext.get()
      val callbacks = ctx.getClass.getDeclaredField("onCompleteCallbacks")
      callbacks.setAccessible(true)
      def listeners: Int = callbacks.get(ctx).asInstanceOf[java.util.Stack[_]].size
      val before = listeners
      // two reduce levels per group
      (1 to 200).foreach(g => agg.finish(DocBuf(List(s"a$g", s"b$g", s"c$g"))))
      listeners - before
    }.collect()
    assert(added.toSeq == Seq(0))
  }

  test("semanticReduceAgg counts its requests in the session metrics") {
    import graft.semantic.SemanticAgg
    val rows = Seq((1L, "g1", "aa"), (2L, "g1", "bb"), (3L, "g1", "cc"), (4L, "g2", "dd"))
      .toDF("doc_id", "grp", "text")
    val counting = new CountingClient("reduce-agg")
    val m = SemanticOps.metrics(spark)
    val (calls0, rows0) = (m.calls.sum, m.rows.sum)
    assert(SemanticAgg.semanticReduceAgg(rows, Seq("grp"), "Synthesize:", schema, counting,
      fanIn = 2).collect().length == 2)
    assert(counting.requests.nonEmpty)
    assert((m.calls.sum - calls0, m.rows.sum - rows0) ==
      ((counting.requests.size.toLong, counting.requests.sum.toLong)))
  }

  test("pipeline spec: validator rejects bad specs, rewriter decomposes optimized maps") {
    val bad = PipelineSpec("p", Seq(MapOp("m", "", Map("a" -> "string"))))
    intercept[IllegalArgumentException](Validator.validate(bad))

    val spec = PipelineSpec("p", Seq(
      MapOp("extract", "E {{ input.text }}", Map("s" -> "string"), optimize = true)))
    val rw = Rewriter.rewrite(spec, textCol = "text", chunkSize = 10, overlap = 2)
    assert(rw.ops.map(_.getClass.getSimpleName) ==
      Seq("SplitOp", "MapOp", "ReduceOp"))
    val m = rw.ops(1).asInstanceOf[MapOp]
    assert(m.prompt.contains("{{ input.chunk_text }}"))
    Validator.validate(rw)
  }

  test("schema compiler maps docetl type strings") {
    assert(SchemaCompiler.toDataType("list[string]") == ArrayType(StringType))
    assert(SchemaCompiler.toDataType("number") == DoubleType)
    assert(SchemaCompiler.toDataType("integer") == LongType)
    assert(SchemaCompiler.toDataType(Map("a" -> "string", "b" -> "list[integer]")) ==
      StructType(Seq(StructField("a", StringType), StructField("b", ArrayType(LongType)))))
    intercept[IllegalArgumentException](SchemaCompiler.toDataType("tensor"))
  }

  test("judge filter keeps a deterministic subset") {
    val criteria = "Is this document high quality? {{ input.text }}"
    def keptIds(kept: org.apache.spark.sql.DataFrame): Seq[Long] =
      kept.select("doc_id").as[Long].collect().sorted.toSeq
    val kept = SemanticOps.semanticFilter(docs, criteria, client).ok
    assert(kept.columns.toSet == Set("doc_id", "text"))
    val ids = keptIds(kept)
    assert(keptIds(SemanticOps.semanticFilter(docs, criteria, client).ok) == ids,
      "two runs must keep the same rows")
    // the stub's own verdict on each row's first-attempt prompt
    val ddl = StructType(Seq(StructField("passed", BooleanType),
      StructField("rationale", StringType))).toDDL
    val passing = docs.as[(Long, String)].collect().toSeq.collect {
      case (id, text) if client.complete(
          s"Is this document high quality? $text\n#attempt=0", ddl)
          .contains("\"passed\": true") => id
    }.sorted
    assert(passing.nonEmpty && passing.size < docs.count(),
      s"the fixture must draw both verdicts, got passing=$passing")
    assert(ids == passing, s"kept $ids, but the judge passed $passing")
  }

  test("a judge filter's unparseable verdict reaches the pipeline dead letter") {
    // malformed JSON leaves `passed` null: the row is neither a "yes"
    // nor a "no", so it must not vanish from both the result and the
    // dead letter
    val spec = PipelineSpec("judge",
      Seq(JudgeFilterOp("judge", "Good? {{ input.text }}")))
    val out = Compiler.run(docs, spec, new MalformedFor("gamma"))
    val dead = out.deadLetter.map(_.collect().toSeq).getOrElse(Seq.empty)
    assert(dead.size == 1 && dead.head.getString(0).contains("gamma"),
      s"the malformed verdict's row must be dead-lettered, got $dead")
    assert(!out.result.select("doc_id").as[Long].collect().contains(1L))
  }

  test("Aggregator-based semantic reduce equals mapPartitions semanticReduce") {
    import graft.semantic.SemanticAgg
    val ev = Tables(spark, sfDir, "documents")
      .select(col("lang"), col("doc_id"), col("text")).limit(200)
    val schema = StructType(Seq(
      StructField("summary", StringType), StructField("themes", ArrayType(StringType))))
    val viaAgg = SemanticAgg.semanticReduceAgg(ev, Seq("lang"),
        "Synthesize a summary of these documents:", schema, client, fanIn = 4)
      .select(col("lang"), col("summary"), size(col("themes")).as("nt"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSet
    val viaMap = SemanticOps.semanticReduce(ev, Seq("lang"),
        "Synthesize a summary of these documents:", schema, client, fanIn = 4)
      .select(col("lang"), col("summary"), size(col("themes")).as("nt"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSet
    assert(viaAgg == viaMap)
  }

  test("semanticMap through the HTTP client: OpenAI wire shape, validation retry, bearer auth") {
    chatHits.set(0); chatRequests.clear()
    val httpClient = new HttpModelClient(
      s"http://127.0.0.1:$port/v1/chat/completions", "graft-test-model",
      apiKey = Some("sk-test-key"))
    val one = Seq((1L, "judge this document")).toDF("doc_id", "text")
    val vSchema = StructType(Seq(StructField("verdict", StringType)))

    val res = SemanticOps.semanticMap(one, "Verdict for: {{ input.text }}",
      vSchema, httpClient, validations = Seq("length(verdict) >= 10"), retries = 2)
    val ok = res.ok.select("doc_id", "verdict").as[(Long, String)].collect()

    assert(ok.toSeq == Seq((1L, "a sufficiently long verdict")),
      "the failing first response must be retried through the validation loop")
    assert(res.dead.isEmpty)
    assert(chatHits.get() == 2, "attempt 0 invalid + attempt 1 valid = exactly 2 model calls")

    val (auth, req) = chatRequests.asScala.head
    assert(auth == "Bearer sk-test-key", "api key must travel as a bearer header")
    assert(req.contains("\"model\":\"graft-test-model\""))
    assert(req.contains("\"response_format\":{\"type\":\"json_object\"}"))
    assert(req.contains("Verdict for: judge this document"))
    assert(req.contains("verdict STRING"), "schema DDL must reach the system message")
    // the retried prompt carries a different attempt salt than the first
    val prompts = chatRequests.asScala.map(_._2).toSeq
    assert(prompts.exists(_.contains("#attempt=0")) && prompts.exists(_.contains("#attempt=1")))
  }

  test("HTTP model client retries a transient 503 to success") {
    flakyModelHits.set(0)
    val httpClient = new HttpModelClient(s"http://127.0.0.1:$port/flaky-model", "m")
    val out = httpClient.complete("p", "verdict STRING")
    assert(out == """{"verdict": "recovered"}""")
    assert(flakyModelHits.get() >= 2)
  }

  test("HTTP model client honors Retry-After on 429") {
    rateLimitHits.set(0)
    val httpClient = new HttpModelClient(s"http://127.0.0.1:$port/rate-limited", "m")
    val t0 = System.nanoTime()
    val out = httpClient.complete("p", "verdict STRING")
    val elapsedMs = (System.nanoTime() - t0) / 1000000L
    assert(out == """{"verdict": "after the wait"}""")
    assert(rateLimitHits.get() == 2)
    assert(elapsedMs >= 900,
      s"Retry-After: 1 must govern the wait (default backoff is 50ms), got ${elapsedMs}ms")

    // header parsing edges: clamp, garbage, HTTP-date form
    import graft.semantic.HttpBodies
    assert(HttpBodies.retryAfterMs("1") == Some(1000L))
    assert(HttpBodies.retryAfterMs("999") == Some(30000L), "clamped to 30s")
    assert(HttpBodies.retryAfterMs("Wed, 21 Oct 2026 07:28:00 GMT").isEmpty)
    assert(HttpBodies.retryAfterMs("-5").isEmpty)
    assert(HttpBodies.retryAfterMs(null).isEmpty)
  }

  test("HTTP model client rejects an oversized response body") {
    val httpClient = new HttpModelClient(s"http://127.0.0.1:$port/huge-model", "m",
      maxBodyBytes = 1024)
    val e = intercept[java.io.IOException](httpClient.complete("p", "verdict STRING"))
    assert(e.getMessage.contains("exceeds 1024 bytes"), e.getMessage)
  }

  test("semantic UDAF through spark.sql groups and synthesizes") {
    import graft.semantic.SemanticAgg
    val schema = StructType(Seq(StructField("summary", StringType)))
    SemanticAgg.register(spark, "semantic_synthesize",
      "Summarize:", schema, client, fanIn = 4)
    Tables(spark, sfDir, "documents").limit(50).createOrReplaceTempView("docs_udaf")
    val out = spark.sql(
      """SELECT lang, count(*) AS n, semantic_synthesize(text) AS resp
        |FROM docs_udaf GROUP BY lang ORDER BY lang""".stripMargin)
    assert(out.count() > 0)
    assert(out.filter(col("resp").isNull || length(col("resp")) === 0).count() == 0)
  }
}

/** Answers truncated JSON to every prompt containing `marker`, and the
  * stub's answer to the rest. */
private class MalformedFor(marker: String) extends ModelClient {
  private val stub = new StubModelClient()
  override def complete(prompt: String, schemaDdl: String): String =
    if (prompt.contains(marker)) """{"summary": "trunc"""
    else stub.complete(prompt, schemaDdl)
}

/** The stub's answers, recording under `tag` the size of every request and
  * how many ran at once at the peak (tasks run a deserialized copy, so the
  * log lives in the companion). A request with a prompt containing
  * `poison` throws at once; any other takes `sleepMs`.
  */
private class CountingClient(tag: String, sleepMs: Long = 0, poison: Option[String] = None)
    extends ModelClient {
  private val stub = new StubModelClient()
  CountingClient.log.put(tag, CountingClient.Log())
  private def log: CountingClient.Log = CountingClient.log.get(tag)
  def requests: Seq[Int] = log.sizes.asScala.toSeq
  def active: Int = log.active.get
  def peak: Int = log.peak.get
  override def complete(prompt: String, schemaDdl: String): String =
    completeBatch(Seq(prompt), schemaDdl).head
  override def completeBatch(prompts: Seq[String], schemaDdl: String): Seq[String] = {
    log.sizes.add(prompts.size)
    log.peak.accumulateAndGet(log.active.incrementAndGet(), (a, b) => math.max(a, b))
    try {
      poison.filter(p => prompts.exists(_.contains(p))).foreach { p =>
        throw new IllegalStateException(s"model refused: $p") }
      Thread.sleep(sleepMs)
      prompts.map(stub.complete(_, schemaDdl))
    } finally log.active.decrementAndGet()
  }
}

private object CountingClient {
  final case class Log(
      sizes: java.util.concurrent.ConcurrentLinkedQueue[Int] =
        new java.util.concurrent.ConcurrentLinkedQueue[Int](),
      active: AtomicInteger = new AtomicInteger,
      peak: AtomicInteger = new AtomicInteger)
  val log = new java.util.concurrent.ConcurrentHashMap[String, Log]()
}
