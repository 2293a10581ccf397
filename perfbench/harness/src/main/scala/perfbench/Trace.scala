package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.util.QueryExecutionListener

/** One clock for harness spans and Spark's own event timestamps:
  * microseconds since the epoch, from the monotonic clock after start.
  * Spark stamps jobs and planning phases in epoch milliseconds, so
  * those convert with `fromMs`.
  */
object Clock {
  private val baseUs = System.currentTimeMillis() * 1000L
  private val baseNs = System.nanoTime()
  def us(): Long = baseUs + (System.nanoTime() - baseNs) / 1000L
  def fromMs(ms: Long): Long = ms * 1000L
}

final case class Span(id: Long, parent: Long, op: Long, name: String, t0: Long, t1: Long)

/** In-memory span store. Spans nest by an explicit parent stack; the
  * op id is shared by every span of one op. Disabled tracers run the
  * body and record nothing.
  */
final class Tracer(val enabled: Boolean) {
  val spans = ArrayBuffer.empty[Span]
  private var nextId = 1L
  private var stack: List[Long] = Nil
  private var opId = 0L

  private def newId(): Long = { val i = nextId; nextId += 1; i }

  def op[T](id: Long)(body: => T): T = {
    opId = id
    span("op")(body)
  }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = newId()
      val parent = stack.headOption.getOrElse(0L)
      val t0 = Clock.us()
      stack = id :: stack
      try body
      finally {
        stack = stack.tail
        spans += Span(id, parent, opId, name, t0, Clock.us())
      }
    }

  /** Spans whose start and end were stamped elsewhere (listener jobs,
    * planning phases), attached under the innermost harness span of
    * the same op that contains their start.
    */
  def attach(op: Long, name: String, t0: Long, t1: Long): Unit =
    if (enabled) {
      val host = spans.filter(s => s.op == op && s.t0 <= t0 && t0 <= s.t1)
        .sortBy(s => s.t1 - s.t0).headOption
      spans += Span(newId(), host.map(_.id).getOrElse(0L), op, name, t0, t1)
    }
}

/** Untraced runs install only this: Σ executor CPU of completed tasks. */
final class CpuCounter extends SparkListener {
  @volatile var cpuNs = 0L
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (e.taskMetrics != null) cpuNs += e.taskMetrics.executorCpuTime
}

/** Per-op totals of everything the traced run reads from Spark's
  * listener bus. Summed by the listener thread; read by the harness
  * only after draining the bus.
  */
final class LayerCounts {
  var jobs = 0L; var stages = 0L; var tasks = 0L
  var schedulerDelayMs = 0L
  var runMs = 0L; var cpuNs = 0L; var gcMs = 0L; var deserializeMs = 0L
  var peakMemBytes = 0L
  var shuffleWriteBytes = 0L; var shuffleWriteRecords = 0L; var shuffleWriteNs = 0L
  var shuffleReadBytes = 0L; var fetchWaitMs = 0L
  var spillMemBytes = 0L; var spillDiskBytes = 0L
  var inputBytes = 0L; var inputRecords = 0L
  var outputBytes = 0L; var outputRecords = 0L
  var worstSkew = 1.0
  var analysisMs = 0L; var optimizationMs = 0L; var planningMs = 0L
  var exchanges = 0L; var filesRead = 0L

  def json: String = Json.obj(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
    "scheduler_delay_ms" -> schedulerDelayMs, "run_ms" -> runMs,
    "cpu_ns" -> cpuNs, "gc_ms" -> gcMs, "deserialize_ms" -> deserializeMs,
    "peak_mem_bytes" -> peakMemBytes,
    "shuffle_write_bytes" -> shuffleWriteBytes,
    "shuffle_write_records" -> shuffleWriteRecords,
    "shuffle_write_ns" -> shuffleWriteNs,
    "shuffle_read_bytes" -> shuffleReadBytes, "fetch_wait_ms" -> fetchWaitMs,
    "spill_memory_bytes" -> spillMemBytes, "spill_disk_bytes" -> spillDiskBytes,
    "input_bytes" -> inputBytes, "input_records" -> inputRecords,
    "output_bytes" -> outputBytes, "output_records" -> outputRecords,
    "skew" -> worstSkew, "analysis_ms" -> analysisMs,
    "optimization_ms" -> optimizationMs, "planning_ms" -> planningMs,
    "exchanges" -> exchanges, "files_read" -> filesRead)
}

/** The traced run's listener: job intervals, stage and task metrics,
  * and — through the [[QueryExecutionListener]] face — the planning
  * phases and final (AQE) plan of every query that executed. Nothing
  * is re-planned; the plan read is the one that ran.
  */
final class LayerListener extends SparkListener with QueryExecutionListener {
  final case class Job(id: Int, t0: Long, t1: Long)
  final case class Phase(name: String, t0: Long, t1: Long)

  private var counts = new LayerCounts
  private val jobStart = collection.mutable.Map.empty[Int, Long]
  private val stageTaskMs = collection.mutable.Map.empty[Int, ArrayBuffer[Long]]
  private val jobs = ArrayBuffer.empty[Job]
  private val phases = ArrayBuffer.empty[Phase]

  /** Hand back everything recorded since the last call and start over. */
  def take(): (LayerCounts, Seq[Job], Seq[Phase]) = synchronized {
    val out = (counts, jobs.toList, phases.toList)
    counts = new LayerCounts; jobs.clear(); phases.clear(); stageTaskMs.clear()
    out
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobStart(e.jobId) = Clock.fromMs(e.time)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    val t0 = jobStart.remove(e.jobId).getOrElse(Clock.fromMs(e.time))
    jobs += Job(e.jobId, t0, Clock.fromMs(e.time))
    counts.jobs += 1
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    counts.stages += 1
    stageTaskMs.remove(e.stageInfo.stageId).filter(_.size >= 2).foreach { ms =>
      val sorted = ms.sorted
      val median = math.max(1L, sorted(sorted.size / 2))
      counts.worstSkew = math.max(counts.worstSkew, sorted.last.toDouble / median)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val c = counts
      c.tasks += 1
      c.runMs += m.executorRunTime
      c.cpuNs += m.executorCpuTime
      c.gcMs += m.jvmGCTime
      c.deserializeMs += m.executorDeserializeTime
      c.peakMemBytes = math.max(c.peakMemBytes, m.peakExecutionMemory)
      c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      c.shuffleWriteRecords += m.shuffleWriteMetrics.recordsWritten
      c.shuffleWriteNs += m.shuffleWriteMetrics.writeTime
      c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      c.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      c.spillMemBytes += m.memoryBytesSpilled
      c.spillDiskBytes += m.diskBytesSpilled
      c.inputBytes += m.inputMetrics.bytesRead
      c.inputRecords += m.inputMetrics.recordsRead
      c.outputBytes += m.outputMetrics.bytesWritten
      c.outputRecords += m.outputMetrics.recordsWritten
      val info = e.taskInfo
      // Spark UI's scheduler delay: task wall not spent deserializing,
      // running, serializing the result or shipping it back.
      val gettingResult =
        if (info.gettingResultTime > 0) info.finishTime - info.gettingResultTime else 0L
      c.schedulerDelayMs += math.max(0L, (info.finishTime - info.launchTime) -
        m.executorRunTime - m.executorDeserializeTime - m.resultSerializationTime -
        gettingResult)
      stageTaskMs.getOrElseUpdate(e.stageId, ArrayBuffer.empty) += m.executorRunTime
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
    record(qe)

  private def record(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases
    val nodes = LayerListener.nodes(qe.executedPlan)
    synchronized {
      def add(k: String): Long = ph.get(k).map { p =>
        phases += Phase(k, Clock.fromMs(p.startTimeMs), Clock.fromMs(p.endTimeMs))
        p.durationMs
      }.getOrElse(0L)
      counts.analysisMs += add("analysis")
      counts.optimizationMs += add("optimization")
      counts.planningMs += add("planning")
      counts.exchanges += nodes.count(_.isInstanceOf[Exchange])
      counts.filesRead += nodes.collect { case s: FileSourceScanExec =>
        s.metrics.get("numFiles").map(_.value).getOrElse(0L)
      }.sum
    }
  }
}

object LayerListener {
  /** Every node of the plan that ran: AQE's final plan, query stages
    * unwrapped, subqueries included.
    */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => nodes(s.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }
}

/** Minimal JSON writer for the harness's record stream. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case raw: Raw => raw.json
    case xs: Seq[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  final case class Raw(json: String)

  def obj(kv: (String, Any)*): String =
    kv.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")
}
