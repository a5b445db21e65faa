package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Spark work counted over one scope (the whole run, or one span). */
final class Totals {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var singleTaskStages = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var inputBytes = 0L
  var outputBytes = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var spillBytes = 0L
  var planNs = 0L

  def add(o: Totals): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    singleTaskStages += o.singleTaskStages; runMs += o.runMs; cpuNs += o.cpuNs
    gcMs += o.gcMs; inputBytes += o.inputBytes; outputBytes += o.outputBytes
    shuffleWriteBytes += o.shuffleWriteBytes
    shuffleReadBytes += o.shuffleReadBytes; spillBytes += o.spillBytes
    planNs += o.planNs
  }

  def toJson: Map[String, Any] = Map(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
    "single_task_stages" -> singleTaskStages, "executor_run_ms" -> runMs,
    "executor_cpu_ms" -> cpuNs / 1e6, "gc_ms" -> gcMs,
    "input_bytes" -> inputBytes, "output_bytes" -> outputBytes,
    "shuffle_write_bytes" -> shuffleWriteBytes,
    "shuffle_read_bytes" -> shuffleReadBytes, "spill_bytes" -> spillBytes,
    "plan_ms" -> planNs / 1e6)
}

/** The benchmark's own Spark listener and query-execution listener.
  *
  * Jobs and stages are attributed to the span named by the
  * [[Probe.SpanKey]] local property at submission. Query executions carry
  * no local properties, so their optimizer and planning phases are
  * attributed to the innermost span open at the phase's start
  * ([[Tracer.spanAt]]); the benchmark drives Spark from one thread, so
  * spans never overlap. */
final class Probe extends SparkListener with QueryExecutionListener {
  val total = new Totals
  private val bySpan = mutable.Map.empty[Long, Totals]
  private val stageSpan = mutable.Map.empty[Int, Long]
  private val checkStages = mutable.Set.empty[Int]
  /** (phase start wall-clock ms, phase duration ns) per query execution */
  private val planPhases = mutable.ArrayBuffer.empty[(Long, Long)]

  private def scope(span: Option[Long]): Seq[Totals] =
    total +: span.map(s => bySpan.getOrElseUpdate(s, new Totals)).toSeq

  private def spanOf(props: java.util.Properties): Option[Long] =
    Option(props).flatMap(p => Option(p.getProperty(Probe.SpanKey)))
      .map(_.toLong)

  private def isCheck(props: java.util.Properties): Boolean =
    props != null && props.getProperty(Probe.CheckKey) != null

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    if (!isCheck(e.properties)) scope(spanOf(e.properties)).foreach(_.jobs += 1)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized {
      val id = e.stageInfo.stageId
      if (isCheck(e.properties)) checkStages += id
      else spanOf(e.properties).foreach(stageSpan(id) = _)
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val info = e.stageInfo
      val m = info.taskMetrics
      val span = stageSpan.remove(info.stageId)
      if (!checkStages.remove(info.stageId)) scope(span).foreach { t =>
        t.stages += 1
        t.tasks += info.numTasks
        if (info.numTasks == 1) t.singleTaskStages += 1
        if (m != null) {
          t.runMs += m.executorRunTime
          t.cpuNs += m.executorCpuTime
          t.gcMs += m.jvmGCTime
          t.inputBytes += m.inputMetrics.bytesRead
          t.outputBytes += m.outputMetrics.bytesWritten
          t.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          t.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
          t.spillBytes += m.diskBytesSpilled
        }
      }
    }

  private def recordPlan(qe: QueryExecution): Unit = synchronized {
    val phases = qe.tracker.phases
    Seq("optimization", "planning").flatMap(phases.get).foreach { p =>
      total.planNs += p.durationMs * 1000000L
      planPhases += ((p.startTimeMs, p.durationMs * 1000000L))
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = recordPlan(qe)

  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = recordPlan(qe)

  /** Spark totals per span id, plan phases attributed by time. */
  def spanTotals(tracer: Tracer): Map[Long, Totals] = synchronized {
    val out = bySpan.map { case (k, v) => k -> { val t = new Totals; t.add(v); t } }
    planPhases.foreach { case (startMs, ns) =>
      tracer.spanAt(startMs).foreach { s =>
        out.getOrElseUpdate(s, new Totals).planNs += ns
      }
    }
    out.toMap
  }

  def snapshot(): Totals = synchronized { val t = new Totals; t.add(total); t }
}

object Probe {
  val SpanKey = "perfbench.span"
  /** Set while the benchmark checks outputs: that work is not counted. */
  val CheckKey = "perfbench.check"
}

/** Peak post-GC heap: in traced runs, after each op (outside its timing)
  * the benchmark drains the listener bus, forces a full collection and
  * reads the heap memory pools' usage. */
final class HeapPeak {
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).toSeq
  /** Post-GC heap (MB) after each op. */
  val samples = scala.collection.mutable.ArrayBuffer.empty[Double]

  def sample(): Unit = {
    System.gc()
    samples += heapPools.map(_.getUsage.getUsed).sum / 1048576.0
  }

  def peakMb: Double = samples.maxOption.getOrElse(0.0)
}
