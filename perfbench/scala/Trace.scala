package perfbench

import scala.collection.mutable.ArrayBuffer

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ArrayNode
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan, WholeStageCodegenExec, InputAdapter}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory span recorder. Spans are taken from the benchmark's own
  * code around calls into the program, plus job, stage, query-phase and
  * micro-batch spans reported by Spark's public listener APIs. Times are
  * epoch microseconds so listener timestamps (epoch milliseconds) and
  * `System.nanoTime` spans share one axis. Parents of listener spans are
  * assigned later by interval containment (see stats.py).
  */
final class Tracer(val enabled: Boolean) {
  final case class Span(id: Int, parent: Int, layer: String, name: String,
                        startUs: Long, endUs: Long)

  private val spans = ArrayBuffer.empty[Span]
  private val stack = new ThreadLocal[List[Int]] { override def initialValue() = Nil }
  private val offsetUs = System.currentTimeMillis() * 1000L - System.nanoTime() / 1000L

  def nowUs(): Long = System.nanoTime() / 1000L + offsetUs

  def span[T](layer: String, name: String)(body: => T): T =
    if (!enabled) body
    else {
      val parents = stack.get
      val id = synchronized { spans += null; spans.size - 1 }
      stack.set(id :: parents)
      val t0 = nowUs()
      try body
      finally {
        val t1 = nowUs()
        stack.set(parents)
        synchronized { spans(id) = Span(id, parents.headOption.getOrElse(-1), layer, name, t0, t1) }
      }
    }

  /** A span whose interval was measured elsewhere (a listener event). */
  def record(layer: String, name: String, startUs: Long, endUs: Long): Unit =
    if (enabled) synchronized {
      spans += Span(spans.size, -2, layer, name, startUs, math.max(startUs, endUs))
    }

  def toJson(m: ObjectMapper): ArrayNode = synchronized {
    val arr = m.createArrayNode()
    spans.filter(_ != null).foreach { s =>
      val o = arr.addObject()
      o.put("id", s.id); o.put("parent", s.parent)
      o.put("layer", s.layer); o.put("name", s.name)
      o.put("start_us", s.startUs); o.put("end_us", s.endUs)
    }
    arr
  }
}

/** Counters from Spark's scheduler, SQL and streaming listeners. Only
  * installed on traced runs.
  */
final class Listeners(tr: Tracer) extends SparkListener with QueryExecutionListener {
  val jobs = new java.util.concurrent.atomic.AtomicLong
  val jobsEnded = new java.util.concurrent.atomic.AtomicLong
  val stages = new java.util.concurrent.atomic.AtomicLong
  val tasks = new java.util.concurrent.atomic.AtomicLong
  // summed task metrics (ms / bytes)
  var taskRunMs, taskCpuMs, gcMs, schedDelayMs = 0L
  var shuffleWrite, shuffleRead, spill = 0L
  // per-stage task durations, for skew in the dominant stage
  val stageTaskMs = scala.collection.mutable.HashMap.empty[Int, ArrayBuffer[Long]]
  // catalyst
  var analysisMs, optimizationMs, planningMs = 0.0
  var exprNodes, interpretedOps = 0L
  val events = new java.util.concurrent.atomic.AtomicLong

  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, Long]

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.incrementAndGet(); events.incrementAndGet()
    jobStart.put(e.jobId, e.time)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    jobsEnded.incrementAndGet(); events.incrementAndGet()
    Option(jobStart.remove(e.jobId)).foreach(t0 =>
      tr.record("exec", "job", t0 * 1000L, e.time * 1000L))
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stages.incrementAndGet(); events.incrementAndGet()
    val si = e.stageInfo
    for (s <- si.submissionTime; c <- si.completionTime)
      tr.record("exec", "stage", s * 1000L, c * 1000L)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks.incrementAndGet(); events.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      taskRunMs += m.executorRunTime
      taskCpuMs += m.executorCpuTime / 1000000L
      gcMs += m.jvmGCTime
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      shuffleRead += m.shuffleReadMetrics.totalBytesRead
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
      val info = e.taskInfo
      val dur = info.finishTime - info.launchTime
      // the scheduler-delay formula Spark's own UI uses
      schedDelayMs += math.max(0L, dur - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime -
        (if (info.gettingResult) info.finishTime - info.gettingResultTime else 0L))
      stageTaskMs.getOrElseUpdate(e.stageId, ArrayBuffer.empty) += m.executorRunTime
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized {
      events.incrementAndGet()
      qe.tracker.phases.foreach { case (phase, p) =>
        val ms = (p.endTimeMs - p.startTimeMs).toDouble
        phase match {
          case "analysis" => analysisMs += ms
          case "optimization" => optimizationMs += ms
          case "planning" => planningMs += ms
          case _ => ()
        }
        tr.record("catalyst", phase, p.startTimeMs * 1000L, p.endTimeMs * 1000L)
      }
      exprNodes += qe.optimizedPlan.collect { case n =>
        n.expressions.map(_.collect { case x => x }.size).sum }.sum
      interpretedOps += Listeners.interpreted(qe.executedPlan)
    }
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  /** Cumulative counters; a window's values are the difference of two
    * snapshots (each taken after [[settle]]). Also restarts the task-time
    * record behind [[skew]]. */
  def snapshot(): Map[String, Double] = synchronized {
    stageTaskMs.clear()
    Map("exec.jobs" -> jobs.get.toDouble, "exec.stages" -> stages.get.toDouble,
      "exec.tasks" -> tasks.get.toDouble, "exec.task_run_ms" -> taskRunMs.toDouble,
      "exec.task_cpu_ms" -> taskCpuMs.toDouble, "exec.gc_ms" -> gcMs.toDouble,
      "exec.sched_delay_ms" -> schedDelayMs.toDouble,
      "exec.shuffle_write_bytes" -> shuffleWrite.toDouble,
      "exec.shuffle_read_bytes" -> shuffleRead.toDouble,
      "exec.spill_bytes" -> spill.toDouble,
      "catalyst.analysis_ms" -> analysisMs, "catalyst.optimization_ms" -> optimizationMs,
      "catalyst.planning_ms" -> planningMs, "catalyst.expr_nodes" -> exprNodes.toDouble,
      "catalyst.interpreted_ops" -> interpretedOps.toDouble)
  }

  /** Max over median task run time in the stage with the most task time
    * since the last [[snapshot]]. */
  def skew: Double = synchronized {
    if (stageTaskMs.isEmpty) 1.0
    else {
      val dominant = stageTaskMs.values.maxBy(_.sum)
      val sorted = dominant.sorted
      val med = sorted(sorted.size / 2).max(1L)
      sorted.last.toDouble / med
    }
  }

  /** Block until the listener bus has caught up: no new event for
    * `quietMs`, and every started job has ended. */
  def settle(quietMs: Long = 300L, maxMs: Long = 10000L): Unit = {
    val deadline = System.currentTimeMillis() + maxMs
    var last = -1L
    while (System.currentTimeMillis() < deadline &&
           (events.get != last || jobs.get != jobsEnded.get)) {
      last = events.get
      Thread.sleep(quietMs)
    }
  }
}

object Listeners {
  /** Physical operators that run outside whole-stage codegen. */
  def interpreted(plan: SparkPlan): Long = {
    def walk(p: SparkPlan, inCodegen: Boolean): Long = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan, inCodegen)
      case q: QueryStageExec => walk(q.plan, inCodegen)
      case w: WholeStageCodegenExec => walk(w.child, inCodegen = true)
      case i: InputAdapter => walk(i.child, inCodegen = false)
      case other =>
        val self = if (inCodegen) 0L else 1L
        self + other.children.map(walk(_, inCodegen)).sum +
          other.subqueries.map(walk(_, inCodegen = false)).sum
    }
    walk(plan, inCodegen = false)
  }
}

/** Micro-batch progress: one record per batch, plus batch and phase
  * spans. Phase spans are laid out in MicroBatchExecution's order from
  * the trigger start, since progress reports durations only.
  */
final class StreamListener(tr: Tracer) extends StreamingQueryListener {
  final case class Batch(id: Long, rows: Long, startMs: Long, durations: Map[String, Long],
                         reportedAtMs: Long)
  val batches = ArrayBuffer.empty[Batch]
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = synchronized {
    val p = e.progress
    val start = java.time.Instant.parse(p.timestamp).toEpochMilli
    val d = scala.jdk.CollectionConverters.MapHasAsScala(p.durationMs).asScala
      .map { case (k, v) => k -> v.longValue }.toMap
    batches += Batch(p.batchId, p.numInputRows, start, d, System.currentTimeMillis())
    val total = d.getOrElse("triggerExecution", 0L)
    tr.record("stream", "micro_batch", start * 1000L, (start + total) * 1000L)
    var t = start
    for (ph <- Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")) {
      val ms = d.getOrElse(ph, 0L)
      if (ms > 0) tr.record("stream", ph, t * 1000L, (t + ms) * 1000L)
      t += ms
    }
  }
}
