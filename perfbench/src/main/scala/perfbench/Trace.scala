package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.storage.RDDBlockId

/** One timed call from the benchmark into a layer. `parent` is the id of
  * the enclosing span (-1 at the top); `round` is the workload round the
  * span belongs to (-1 during set-up).
  */
final case class Span(id: Int, name: String, parent: Int, round: Int,
                      startMs: Long, endMs: Long, durNs: Long)

/** Spark's own counts for one span. */
final case class Counts(jobs: Long = 0, stages: Long = 0, tasks: Long = 0,
                        cpuNs: Long = 0, shuffleWrite: Long = 0,
                        shuffleRead: Long = 0, spill: Long = 0,
                        input: Long = 0, output: Long = 0, gcMs: Long = 0,
                        rddBlocks: Long = 0) {
  def +(o: Counts): Counts = Counts(jobs + o.jobs, stages + o.stages,
    tasks + o.tasks, cpuNs + o.cpuNs, shuffleWrite + o.shuffleWrite,
    shuffleRead + o.shuffleRead, spill + o.spill, input + o.input,
    output + o.output, gcMs + o.gcMs, rddBlocks + o.rddBlocks)
}

/** Collects Spark job, stage and block events. Attribution happens later,
  * in [[Trace.counts]]: a job belongs to the innermost span open at its
  * submission time, its stages follow the job, and a stored RDD block
  * follows the first stage that computed that RDD.
  */
final class SpanListener extends SparkListener {
  private[perfbench] val jobTime = mutable.Map.empty[Int, Long]
  private[perfbench] val stageJob = mutable.Map.empty[Int, Int]
  private[perfbench] val stageCounts = mutable.Map.empty[Int, Counts]
  private[perfbench] val rddStage = mutable.Map.empty[Int, Int]
  private[perfbench] val blocks = mutable.Set.empty[(Int, Int)]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobTime(e.jobId) = e.time
    e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val i = e.stageInfo
      i.rddInfos.foreach(r => rddStage.getOrElseUpdate(r.id, i.stageId))
      val m = i.taskMetrics
      if (m != null) stageCounts(i.stageId) = Counts(
        stages = 1, tasks = i.numTasks, cpuNs = m.executorCpuTime,
        shuffleWrite = m.shuffleWriteMetrics.bytesWritten,
        shuffleRead = m.shuffleReadMetrics.totalBytesRead,
        spill = m.memoryBytesSpilled + m.diskBytesSpilled,
        input = m.inputMetrics.bytesRead,
        output = m.outputMetrics.bytesWritten, gcMs = m.jvmGCTime)
    }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit =
    synchronized {
      val info = e.blockUpdatedInfo
      info.blockId match {
        case RDDBlockId(rdd, split) if info.storageLevel.isValid =>
          blocks += ((rdd, split))
        case _ => ()
      }
    }
}

/** Span recorder. Spans are kept in memory and written to one file when
  * the run ends. Recording is switched per round, so a traced run can
  * alternate traced and untraced rounds and measure its own overhead;
  * the listener is attached only while a traced round runs.
  */
final class Trace(sc: SparkContext, val enabled: Boolean, val runId: String) {
  private val done = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[(Int, Long, Long)]
  private var nextId = 0
  private var round = -1
  private var recording = enabled
  private val listener = new SpanListener
  if (enabled) sc.addSparkListener(listener)

  def spans: Seq[Span] = done.toSeq

  /** Starts round `r`; `traced` says whether its spans and Spark events
    * are recorded. */
  def beginRound(r: Int, traced: Boolean): Unit = if (enabled) {
    round = r
    if (traced != recording) {
      org.apache.spark.PerfbenchBus.drain(sc)
      if (traced) sc.addSparkListener(listener)
      else sc.removeSparkListener(listener)
      recording = traced
    }
  }

  def span[T](name: String)(body: => T): T =
    if (!recording) body
    else {
      val id = nextId
      nextId += 1
      stack.push((id, System.currentTimeMillis(), System.nanoTime()))
      try body
      finally {
        val (_, ms, ns) = stack.pop()
        val parent = if (stack.isEmpty) -1 else stack.top._1
        done += Span(id, name, parent, round, ms, System.currentTimeMillis(),
          System.nanoTime() - ns)
      }
    }

  /** Spark counts per span id, attributed as [[SpanListener]] describes.
    * Drains the listener bus first. */
  def counts(): Map[Int, Counts] = {
    if (!enabled) return Map.empty
    org.apache.spark.PerfbenchBus.drain(sc)
    listener.synchronized {
      // innermost = latest-starting span that contains the time; spans of
      // one driver thread nest, so containment by time is unambiguous
      // except at a shared millisecond, where the later span wins (the
      // earlier one's jobs all finished before it ended)
      val parentOf = done.map(s => s.id -> s.parent).toMap
      def depth(id: Int): Int = {
        var d = 0
        var p = parentOf.getOrElse(id, -1)
        while (p >= 0) { d += 1; p = parentOf.getOrElse(p, -1) }
        d
      }
      val ordered = done.sortBy(s => (s.startMs, s.id))
      def owner(t: Long): Option[Int] =
        ordered.filter(s => s.startMs <= t && t <= s.endMs)
          .sortBy(s => (s.startMs, depth(s.id)))
          .lastOption.map(_.id)
      val jobSpan = listener.jobTime.flatMap { case (j, t) => owner(t).map(j -> _) }
      val stageSpan = listener.stageJob.flatMap { case (s, j) => jobSpan.get(j).map(s -> _) }
      val out = mutable.Map.empty[Int, Counts].withDefaultValue(Counts())
      jobSpan.values.foreach(s => out(s) = out(s) + Counts(jobs = 1))
      listener.stageCounts.foreach { case (st, c) =>
        stageSpan.get(st).foreach(s => out(s) = out(s) + c)
      }
      listener.blocks.foreach { case (rdd, _) =>
        listener.rddStage.get(rdd).flatMap(stageSpan.get)
          .foreach(s => out(s) = out(s) + Counts(rddBlocks = 1))
      }
      out.toMap
    }
  }

  /** Self time per span name: its duration minus the time its child spans
    * cover (children of one thread never overlap). */
  def selfSeconds(spans: Seq[Span]): Map[String, Double] = {
    val childNs = spans.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.durNs).sum }
    spans.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map(s => s.durNs - childNs.getOrElse(s.id, 0L)).sum / 1e9
    }
  }

  /** Writes every span, with its Spark counts, as JSON lines. */
  def write(path: java.nio.file.Path, c: Map[Int, Counts]): Unit = {
    val lines = done.sortBy(_.id).map { s =>
      val k = c.getOrElse(s.id, Counts())
      s"""{"run":"$runId","id":${s.id},"name":"${s.name}","parent":${s.parent},""" +
        s""""round":${s.round},"start_ms":${s.startMs},"end_ms":${s.endMs},""" +
        s""""dur_s":${s.durNs / 1e9},"jobs":${k.jobs},"stages":${k.stages},""" +
        s""""tasks":${k.tasks},"cpu_s":${k.cpuNs / 1e9},""" +
        s""""shuffle_write_bytes":${k.shuffleWrite},"shuffle_read_bytes":${k.shuffleRead},""" +
        s""""spill_bytes":${k.spill},"input_bytes":${k.input},""" +
        s""""output_bytes":${k.output},"gc_s":${k.gcMs / 1e3},"rdd_blocks":${k.rddBlocks}}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}
