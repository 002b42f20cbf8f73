package perfbench

import scala.collection.mutable
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval. Harness spans (operation, build, action, Medallion
  * stage) are opened by the harness thread; job, stage and stream-batch
  * spans come from listener events and get their parent after the run, as
  * the innermost harness span (or job) whose interval holds their start. */
final case class Span(id: Int, var parent: Int, var op: Int, kind: String,
    name: String, start: Long, var end: Long)

/** The traced run's instruments: a [[SparkListener]], a
  * [[QueryExecutionListener]], a [[StreamingQueryListener]] and the
  * [[CodegenMetrics]] counters, all feeding cumulative counters that the
  * harness reads before and after each operation. With `enabled` false
  * nothing is registered and every call is a pass-through; the stream
  * failure record is kept in both modes because it is an output check. */
final class Trace(spark: SparkSession, val enabled: Boolean) {
  private val sums = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val jobStages = mutable.Map.empty[Int, Int] // stage id -> job span id
  private val jobSpan = mutable.Map.empty[Int, Int]   // job id -> span id
  private var open = List.empty[Span]
  val streamFailures = new java.util.concurrent.ConcurrentLinkedQueue[String]()

  private def add(k: String, v: Double): Unit = sums.synchronized { sums(k) += v }
  private def newSpan(kind: String, name: String, start: Long, end: Long,
      parent: Int = -1): Span = spans.synchronized {
    val s = Span(spans.size, parent, -1, kind, name, start, end)
    spans += s
    s
  }

  spark.streams.addListener(new StreamingQueryListener {
    import StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
      e.exception.foreach(streamFailures.add)
    override def onQueryProgress(e: QueryProgressEvent): Unit = if (enabled) {
      val p = e.progress
      def ms(k: String): Double =
        Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
      add("stream.batches", 1)
      add("stream.add_batch_s", ms("addBatch") / 1e3)
      add("stream.wal_commit_s", ms("walCommit") / 1e3)
      add("stream.commit_offsets_s", ms("commitOffsets") / 1e3)
      add("stream.input_rows", p.numInputRows.toDouble)
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli
      newSpan("batch", s"${p.name}#${p.batchId}", start,
        start + ms("triggerExecution").toLong)
    }
  })

  if (enabled) {
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        add("sched.jobs", 1)
        val s = newSpan("job", s"job${e.jobId}", e.time, e.time)
        spans.synchronized {
          jobSpan(e.jobId) = s.id
          e.stageIds.foreach(st => jobStages.getOrElseUpdate(st, s.id))
        }
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = spans.synchronized {
        jobSpan.get(e.jobId).foreach(i => spans(i).end = e.time)
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val i = e.stageInfo
        add("sched.stages", 1)
        val parent = spans.synchronized(jobStages.getOrElse(i.stageId, -1))
        newSpan("stage", s"stage${i.stageId}.${i.attemptNumber()}",
          i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L), parent)
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        add("sched.tasks", 1)
        val m = e.taskMetrics
        if (m != null) {
          add("exec.run_s", m.executorRunTime / 1e3)
          add("exec.cpu_s", m.executorCpuTime / 1e9)
          add("exec.gc_s", m.jvmGCTime / 1e3)
          add("exec.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
          add("exec.shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
          add("exec.fetch_wait_s", m.shuffleReadMetrics.fetchWaitTime / 1e3)
          add("exec.spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
          add("sources.input_bytes", m.inputMetrics.bytesRead.toDouble)
          add("sources.input_records", m.inputMetrics.recordsRead.toDouble)
          add("engine.bytes_written", m.outputMetrics.bytesWritten.toDouble)
        }
      }
    })
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = plan(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = plan(qe)
      private def plan(qe: QueryExecution): Unit = {
        val ph = qe.tracker.phases
        add("driver.plan_s", Seq("analysis", "optimization", "planning")
          .flatMap(ph.get).map(_.durationMs).sum / 1e3)
        add("driver.executions", 1)
      }
    })
  }

  /** Cumulative counters after draining the listener bus. */
  def snapshot(): Map[String, Double] =
    if (!enabled) Map.empty
    else {
      org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
      val codegen = Map(
        "codegen.compiles" -> CodegenMetrics.METRIC_COMPILATION_TIME.getCount.toDouble,
        "codegen.compile_s" -> CodeGenerator.compileTime / 1e9)
      sums.synchronized(sums.toMap) ++ codegen
    }

  /** Runs `body` inside a harness span; with tracing off, just runs it. */
  def span[T](kind: String, name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = newSpan(kind, name, System.currentTimeMillis(), 0L,
        open.headOption.map(_.id).getOrElse(-1))
      open ::= s
      try body finally { s.end = System.currentTimeMillis(); open = open.tail }
    }

  /** Wall time in [from, to] covered by the union of job intervals. */
  def jobCoverMs(from: Long, to: Long): Long = spans.synchronized {
    union(spans.iterator.filter(_.kind == "job")
      .map(s => (math.max(s.start, from), math.min(s.end, to)))
      .filter { case (a, b) => b > a }.toSeq)
  }

  private def union(iv: Seq[(Long, Long)]): Long = {
    var covered, curS, curE = 0L
    var first = true
    iv.sortBy(_._1).foreach { case (a, b) =>
      if (first || a > curE) {
        if (!first) covered += curE - curS
        curS = a; curE = b; first = false
      } else curE = math.max(curE, b)
    }
    if (!first) covered += curE - curS
    covered
  }

  /** Links listener spans to harness spans, then returns every span with
    * its self time (duration minus the part its children cover). */
  def finish(): Seq[(Span, Long)] = spans.synchronized {
    val harness = spans.filter(s => s.kind != "job" && s.kind != "stage" && s.kind != "batch")
    def innermost(t: Long): Option[Span] =
      harness.filter(h => h.start <= t && t <= h.end).sortBy(h => h.end - h.start).headOption
    spans.foreach { s =>
      if ((s.kind == "job" || s.kind == "batch") && s.parent < 0)
        innermost(s.start).foreach(h => s.parent = h.id)
    }
    def opOf(s: Span): Int =
      if (s.kind == "op") s.id else if (s.parent < 0) -1 else opOf(spans(s.parent))
    spans.foreach(s => s.op = opOf(s))
    val children = spans.groupBy(_.parent)
    spans.toSeq.map { s =>
      val kids = children.getOrElse(s.id, Nil)
        .map(k => (math.max(k.start, s.start), math.min(k.end, s.end)))
        .filter { case (a, b) => b > a }
      (s, (s.end - s.start) - union(kids.toSeq))
    }
  }
}
