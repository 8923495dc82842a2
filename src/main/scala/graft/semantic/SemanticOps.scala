package graft.semantic

import java.util.concurrent.{Callable, CancellationException, ExecutionException, ExecutorService,
  Executors, Future, TimeUnit, TimeoutException}
import java.util.concurrent.atomic.AtomicInteger

import scala.util.matching.Regex

import org.apache.spark.{TaskContext, TaskKilledException}
import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Semantic (LLM) operators — the reference's workhorse ops (SURVEY.md
  * §2.11: M1-M10, A1, P6) re-expressed for distributed execution.
  *
  * Shape: render prompt as a Column (template compiled once at plan time,
  * per-row binding is pure codegen) -> mapPartitions with a batched
  * ModelClient -> from_json against the declared output schema -> SQL
  * validation predicates -> bounded distributed retry (re-prompt only the
  * failing rows with an attempt salt) -> dead-letter channel for rows that
  * never validate (K5: failures must not kill the job).
  *
  * The retry loop is DataFrame-level: each attempt is one distributed pass
  * over only the still-invalid rows (the reference retries per record in a
  * Python loop — same semantics, but here attempt k is a narrow pass over a
  * shrinking DataFrame instead of a per-row blocking loop).
  *
  * Within a task, model requests overlap: a map keeps up to
  * [[RequestsInFlight]] requests out at once, and a reduce level sends its
  * requests the same way (levels stay in order, since each folds the
  * last one's answers). Answers are consumed in request order, so every
  * prompt and answer is the serial one's. A failed request fails its task
  * with its own exception; the requests still out then are cancelled
  * ([[ModelRequests]]), as they are when the task is killed.
  */
object SemanticOps extends Serializable {

  /** ok = validated rows (input columns merged with parsed output columns,
    * output wins on name collision); dead = rows exhausting retries, with a
    * `__error` column.
    */
  case class SemanticResult(ok: DataFrame, dead: DataFrame)

  private val Placeholder: Regex = "\\{\\{\\s*input\\.([A-Za-z0-9_]+)\\s*\\}\\}".r

  /** Compile a "{{ input.field }}" template into a concat Column.
    * (The reference's two-level Jinja templating collapses to this one
    * row-binding level — SURVEY §7.4 item 3.)
    */
  def renderTemplate(tmpl: String): Column = {
    val parts = scala.collection.mutable.ArrayBuffer[Column]()
    var last = 0
    for (m <- Placeholder.findAllMatchIn(tmpl)) {
      if (m.start > last) parts += lit(tmpl.substring(last, m.start))
      parts += coalesce(col(m.group(1)).cast("string"), lit(""))
      last = m.end
    }
    if (last < tmpl.length) parts += lit(tmpl.substring(last))
    if (parts.isEmpty) lit(tmpl) else concat(parts.toSeq: _*)
  }

  /** Per-session model-call accounting (A3/§4.1: accumulators instead of
    * the reference's stdout scraping; driver-readable after any action).
    * `calls` counts model invocations (one per request batch — the unit API
    * cost scales with), from semantic maps, reduce levels and
    * [[SemanticAgg]] alike, on the task thread that sends them; `rows`
    * counts prompts sent through those calls; `retriedRows` counts rows
    * re-sent on retry attempts.
    */
  case class Metrics(calls: org.apache.spark.util.LongAccumulator,
                     rows: org.apache.spark.util.LongAccumulator,
                     retriedRows: org.apache.spark.util.LongAccumulator) {
    /** Counts one request of `prompts` prompts. */
    def request(prompts: Int, retry: Boolean = false): Unit = {
      calls.add(1)
      rows.add(prompts.toLong)
      if (retry) retriedRows.add(prompts.toLong)
    }
  }

  private val metricsBySession =
    new java.util.concurrent.ConcurrentHashMap[org.apache.spark.SparkContext, Metrics]()

  def metrics(spark: org.apache.spark.sql.SparkSession): Metrics =
    metricsBySession.computeIfAbsent(spark.sparkContext, sc => Metrics(
      sc.longAccumulator("graft.model.calls"),
      sc.longAccumulator("graft.model.rows"),
      sc.longAccumulator("graft.model.retried_rows")))

  /** One model pass: adds a `__resp` string column via batched client calls. */
  private def callModel(in: DataFrame, promptCol: Column, client: ModelClient,
                        schemaDdl: String, batchSize: Int, isRetry: Boolean = false): DataFrame = {
    val withPrompt = in.withColumn("__prompt", promptCol)
    val outSchema = StructType(withPrompt.schema.fields :+ StructField("__resp", StringType))
    val idx = withPrompt.schema.fieldIndex("__prompt")
    val m = metrics(in.sparkSession)
    withPrompt.mapPartitions { rows =>
      val batches = rows.grouped(batchSize).map { batch => m.request(batch.size, isRetry); batch }
      ModelRequests.forTask(RequestsInFlight).inOrder(batches) { batch =>
        val resps = client.completeBatch(batch.map(_.getString(idx)), schemaDdl)
        batch.lazyZip(resps).map((r, resp) => Row.fromSeq(r.toSeq :+ resp))
      }.flatten
    }(Encoders.row(outSchema)).drop("__prompt")
  }

  /** Prompts per model request: `semanticMap`'s default batch and the
    * request size of every reduce level. */
  private val DefaultBatchSize = 16

  /** Model requests one task keeps in flight at once, so a map task holds
    * at most this many batches of rows, plus the one it is handing on. */
  private val RequestsInFlight = 8

  /** Schema-constrained map with validate/retry/dead-letter. `validations`
    * are SQL boolean expressions over the *output* fields (P4 style, e.g.
    * "size(split(abstract_summary, '\\s+')) >= 25").
    */
  def semanticMap(df: DataFrame, template: String, outputSchema: StructType,
                  client: ModelClient, validations: Seq[String] = Nil,
                  retries: Int = 2, batchSize: Int = DefaultBatchSize): SemanticResult = {
    val ddl = outputSchema.toDDL
    val inCols = df.columns
    val keepCols = inCols.filterNot(outputSchema.fieldNames.contains)
    // a predicate that evaluates to null (malformed model JSON parses to
    // null fields) counts as failed, so the row is retried and then
    // dead-lettered instead of slipping past both filters below
    val validExpr = coalesce(
      validations.map(expr).reduceOption(_ && _).getOrElse(lit(true)), lit(false))
    val sc = df.sparkSession.sparkContext

    var pending = df
    var ok: Option[DataFrame] = None
    var attempt = 0
    var invalidRows = 0L
    do {
      // the attempt's own checkpoint job counts its invalid rows, so no
      // probe job decides whether another attempt is needed
      val invalid = sc.longAccumulator
      val countInvalid = udf { (valid: Boolean) => if (!valid) invalid.add(1L); valid }
        .asNondeterministic()
      val salted = concat(renderTemplate(template), lit(s"\n#attempt=$attempt"))
      val parsed = callModel(pending, salted, client, ddl, batchSize, isRetry = attempt > 0)
        .withColumn("__out", from_json(col("__resp"), outputSchema))
        .drop("__resp")
      // Checkpoint each attempt: without this the retry chain's lineage
      // grows multiplicatively (attempt k replays every earlier model pass
      // on re-execution) — and model passes are the expensive stage by far.
      val flat = parsed.select(
        (keepCols.map(col) ++ outputSchema.fieldNames.map(n => col(s"__out.$n").as(n))): _*)
        .withColumn("__valid", countInvalid(validExpr))
        .localCheckpoint()
      val good = flat.filter(col("__valid")).drop("__valid")
      ok = Some(ok.map(_.unionByName(good)).getOrElse(good))
      pending = flat.filter(!col("__valid")).select(inCols.map(col): _*)
      invalidRows = invalid.value
      attempt += 1
    } while (attempt <= retries && invalidRows > 0)
    val dead = pending.withColumn("__error",
      lit(s"validation failed after ${retries + 1} attempts"))
    SemanticResult(ok.get, dead)
  }

  /** Groups one reduce task folds together, level by level: it bounds the
    * doc lists and answers a task holds at once to 256 groups. */
  private val ReduceWindowRows = 256

  /** The hierarchical fold of each of `groups` (one list of serialized
    * documents per group), run one level at a time across all of them: a
    * group of at most `fanIn` items folds to its answer, a larger one to a
    * summary per `fanIn` slice, which the next level folds again. Each
    * level's prompts go out in requests of [[DefaultBatchSize]], up to
    * [[RequestsInFlight]] of them at once; `request` sees the size of each,
    * on the calling thread. The prompts are exactly those of the per-group
    * recursion, so the answers are too.
    */
  private[semantic] def foldLevels(groups: IndexedSeq[Seq[String]], instruction: String,
                                   ddl: String, client: ModelClient, fanIn: Int,
                                   request: Int => Unit = _ => ()): IndexedSeq[String] = {
    val answers = new Array[String](groups.size)
    var live = groups.indices.map(i => (i, groups(i)))
    while (live.nonEmpty) {
      val prompts = live.map { case (_, items) =>
        if (items.isEmpty) Seq(s"$instruction\n(no documents)")
        else items.grouped(fanIn).map(g => s"$instruction\n" + g.mkString("\n")).toSeq
      }
      val batches = prompts.flatten.grouped(DefaultBatchSize).map { batch =>
        request(batch.size); batch }
      val requests = new ModelRequests(RequestsInFlight)
      val resps = try requests.inOrder(batches)(client.completeBatch(_, ddl)).flatten.toIndexedSeq
        finally requests.cancel()
      var next = 0
      live = live.zip(prompts).flatMap { case ((i, items), ps) =>
        val out = resps.slice(next, next + ps.size)
        next += ps.size
        if (items.size <= fanIn) { answers(i) = out.head; None } else Some((i, out))
      }
    }
    answers.toIndexedSeq
  }

  /** Semantic reduce (A1): fold all records of a group into one synthesized
    * record with a declared (possibly nested) output schema.
    *
    * Distribution shape: records serialize to JSON, collect_list per key
    * (partial aggregation applies), then a hierarchical fold inside the
    * executor — batches of `fanIn` docs are synthesized, then the summaries
    * are synthesized again until one remains. This is the distributed analog
    * of DocETL's optimizer decomposing a too-large reduce (SURVEY §4.1), and
    * it bounds every single model call to fanIn documents regardless of
    * group size. The fold runs level by level across a window of up to
    * [[ReduceWindowRows]] groups ([[foldLevels]]), so a level costs one
    * batched request per [[DefaultBatchSize]] prompts, not one per prompt,
    * and those requests overlap.
    */
  def semanticReduce(df: DataFrame, keyCols: Seq[String], instruction: String,
                     outputSchema: StructType, client: ModelClient,
                     fanIn: Int = 8): DataFrame = {
    require(fanIn >= 2, "fanIn < 2 cannot converge (n items fold to n summaries)")
    val ddl = outputSchema.toDDL
    val payload = df.columns.filterNot(keyCols.contains)
    val grouped = df
      .withColumn("__doc", to_json(struct(payload.map(col): _*)))
      .groupBy(keyCols.map(col): _*)
      .agg(sort_array(collect_list(col("__doc"))).as("__docs"))

    val outSchema = StructType(grouped.schema.fields.dropRight(1) :+ StructField("__resp", StringType))
    val docsIdx = grouped.schema.fieldIndex("__docs")
    val m = metrics(df.sparkSession)
    val folded = grouped.mapPartitions { rows =>
      rows.grouped(ReduceWindowRows).flatMap { window =>
        val answers = foldLevels(window.map(_.getSeq[String](docsIdx)).toIndexedSeq,
          instruction, ddl, client, fanIn, m.request(_))
        window.lazyZip(answers).map((r, resp) => Row.fromSeq(r.toSeq.dropRight(1) :+ resp))
      }
    }(Encoders.row(outSchema))

    folded
      .withColumn("__out", from_json(col("__resp"), outputSchema))
      .select((keyCols.map(col) ++ outputSchema.fieldNames.map(n => col(s"__out.$n").as(n))): _*)
  }

  /** Semantic (LLM-judge) filter (P6): boolean verdict + rationale per row;
    * `ok` keeps the input rows the judge passes. Judge output is
    * schema-constrained like any other semantic map: a verdict that does
    * not parse (null `passed`) is retried, then dead-lettered — never
    * dropped as if the judge had said no.
    */
  def semanticFilter(df: DataFrame, criteria: String, client: ModelClient,
                     batchSize: Int = DefaultBatchSize): SemanticResult = {
    val schema = StructType(Seq(
      StructField("passed", BooleanType), StructField("rationale", StringType)))
    val res = semanticMap(df, criteria, schema, client,
      validations = Seq("passed IS NOT NULL"), batchSize = batchSize)
    res.copy(ok = res.ok.filter(col("passed")).drop("passed", "rationale"))
  }
}

/** The model requests one consumer has out at once, at most `width` of
  * them, run off the task thread on one daemon pool per JVM, so they wait
  * for the model side by side, not one after another. Kept apart from the
  * serializable [[SemanticOps]] so the pool never rides along in a closure.
  *
  * Ending early: [[cancel]] cancels the requests still out, interrupting
  * those already running, and returns once none is inside its call any
  * more, so no request outlives its consumer. A task's consumer gets it
  * from [[ModelRequests.forTask]]'s completion listener; a consumer that
  * reads its answers out at once calls it in a `finally`.
  */
private[semantic] final class ModelRequests(width: Int) {
  private val inFlight = new java.util.ArrayDeque[Future[_]](width)
  // calls between their start and their end, on the pool's threads
  private val running = new AtomicInteger
  @volatile private var cancelled = false

  /** `call` over `items`, up to `width` calls out at once; the results
    * come back in the order of `items`. `items` is read on the calling
    * thread, one item ahead of each call going out. A failed call fails
    * the iterator with its own exception; a killed task stops waiting.
    */
  def inOrder[A, B](items: Iterator[A])(call: A => B): Iterator[B] = new Iterator[B] {
    override def hasNext: Boolean = {
      while (inFlight.size < width && items.hasNext) send(items.next(), call)
      !inFlight.isEmpty
    }

    override def next(): B = {
      if (!hasNext) throw new NoSuchElementException("no model requests left")
      // the request stays in flight, for `cancel` to find, until it is done
      val out = await(inFlight.peek()).asInstanceOf[B]
      inFlight.poll()
      out
    }
  }

  private def send[A, B](item: A, call: A => B): Unit = {
    val request: Callable[B] = () => {
      running.incrementAndGet()
      // `cancel` sets the flag before it reads `running`, so a call either
      // counts as running there or sees the flag here
      try {
        if (cancelled) throw new CancellationException("model requests cancelled")
        call(item)
      } finally if (running.decrementAndGet() == 0) synchronized { notifyAll() }
    }
    inFlight.add(ModelRequests.pool.submit(request))
  }

  /** The call's result. Inside a task, the wait checks every
    * [[ModelRequests.KillCheckMs]] whether the task was killed, since a kill
    * need not interrupt the task thread. */
  private def await(f: Future[_]): Any = {
    val task = TaskContext.get()
    try {
      if (task == null) f.get()
      else {
        var out: Option[Any] = None
        while (out.isEmpty) {
          if (task.isInterrupted()) throw new TaskKilledException("killed awaiting a model request")
          try out = Some(f.get(ModelRequests.KillCheckMs, TimeUnit.MILLISECONDS))
          catch { case _: TimeoutException => }
        }
        out.get
      }
    } catch { case e: ExecutionException => throw e.getCause }
  }

  /** Cancels the requests still out and waits until none is running. */
  def cancel(): Unit = {
    cancelled = true
    inFlight.forEach(f => f.cancel(true))
    inFlight.clear()
    var interrupted = false
    synchronized {
      while (running.get > 0)
        try wait() catch { case _: InterruptedException => interrupted = true }
    }
    if (interrupted) Thread.currentThread().interrupt()
  }
}

private[semantic] object ModelRequests {

  private lazy val pool: ExecutorService = {
    val ids = new AtomicInteger
    Executors.newCachedThreadPool { r =>
      val t = new Thread(r, s"graft-model-request-${ids.incrementAndGet()}")
      t.setDaemon(true)
      t
    }
  }

  private val KillCheckMs = 50L

  /** Requests for the running task, cancelled when it completes: after a
    * failure, a kill or a consumer that stopped reading early. The
    * listener holds only this window of at most `width` requests, not the
    * input they are read from. */
  def forTask(width: Int): ModelRequests = {
    val requests = new ModelRequests(width)
    TaskContext.get().addTaskCompletionListener[Unit](_ => requests.cancel())
    requests
  }
}
