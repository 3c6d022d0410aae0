package graft.perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark engine counters gathered over one measured unit (a gate pass or a
  * block of serve requests). */
final class EngineCounters {
  var jobs, stages, tasks = 0L
  var taskRunMs, taskCpuNs, taskGcMs = 0L
  var shuffleWriteBytes, shuffleReadBytes, spillBytes = 0L
  var inputBytes, outputBytes = 0L
  var analysisMs, optimizationMs, planningMs = 0L
  val jobIntervals: ArrayBuffer[(Long, Long)] = ArrayBuffer.empty

  /** Adds `o`'s counts to these (per-op counters summed into a unit's). */
  def +=(o: EngineCounters): this.type = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    taskRunMs += o.taskRunMs; taskCpuNs += o.taskCpuNs; taskGcMs += o.taskGcMs
    shuffleWriteBytes += o.shuffleWriteBytes; shuffleReadBytes += o.shuffleReadBytes
    spillBytes += o.spillBytes
    inputBytes += o.inputBytes; outputBytes += o.outputBytes
    analysisMs += o.analysisMs; optimizationMs += o.optimizationMs; planningMs += o.planningMs
    jobIntervals ++= o.jobIntervals
    this
  }

  /** Milliseconds covered by at least one job. */
  def jobUnionMs: Long = {
    var total, end = 0L
    var start = Long.MinValue
    jobIntervals.sortBy(_._1).foreach { case (s, e) =>
      if (start == Long.MinValue || s > end) {
        if (start != Long.MinValue) total += end - start
        start = s; end = e
      } else end = math.max(end, e)
    }
    if (start != Long.MinValue) total += end - start
    total
  }
}

/** The scheduler, task and Catalyst view of the benchmark's own session: a
  * SparkListener plus a QueryExecutionListener. Installed only for traced
  * runs, and removed again after them. */
final class EngineTrace(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  private var cur = new EngineCounters
  private val jobStarts = mutable.Map.empty[Int, Long]
  /** Running totals, for per-request ratios read around single calls. */
  var jobsTotal, recordsReadTotal = 0L

  def install(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def remove(): Unit = {
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  def drain(): Unit = org.apache.spark.BusDrain(spark.sparkContext)

  /** The counters since the previous call, once the listener bus is drained. */
  def take(): EngineCounters = {
    drain()
    synchronized { val c = cur; cur = new EngineCounters; c }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    cur.jobs += 1
    jobsTotal += 1
    jobStarts(e.jobId) = e.time
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStarts.remove(e.jobId).foreach(s => cur.jobIntervals += ((s, e.time)))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { cur.stages += 1 }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    cur.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      cur.taskRunMs += m.executorRunTime
      cur.taskCpuNs += m.executorCpuTime
      cur.taskGcMs += m.jvmGCTime
      cur.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      cur.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      cur.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      cur.inputBytes += m.inputMetrics.bytesRead
      recordsReadTotal += m.inputMetrics.recordsRead
      cur.outputBytes += m.outputMetrics.bytesWritten
    }
  }

  private def phases(qe: QueryExecution): Unit = synchronized {
    qe.tracker.phases.foreach { case (phase, summary) =>
      phase match {
        case "analysis" => cur.analysisMs += summary.durationMs
        case "optimization" => cur.optimizationMs += summary.durationMs
        case "planning" => cur.planningMs += summary.durationMs
        case _ =>
      }
    }
  }

  override def onSuccess(fn: String, qe: QueryExecution, ns: Long): Unit = phases(qe)
  override def onFailure(fn: String, qe: QueryExecution, e: Exception): Unit = phases(qe)
}

/** One timed call into a library module. `unit` is the pass or request
  * block it belongs to; `parent` is the span that caused it (-1 for none). */
final case class Span(id: Int, parent: Int, unit: Int, name: String,
                      startNs: Long, endNs: Long)

/** Spans around the benchmark's calls into graft's public functions. Kept
  * in memory and written once when the run ends; a disabled recorder runs
  * the body and records nothing. */
final class Spans(var enabled: Boolean) {
  private val buf = ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  var unit = 0

  def apply[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = buf.size
      val parent = stack.headOption.getOrElse(-1)
      buf += null
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        buf(id) = Span(id, parent, unit, name, t0, System.nanoTime())
        stack = stack.tail
      }
    }

  def all: Seq[Span] = buf.toSeq.filter(_ != null)

  /** Milliseconds per span name, one sample per span. */
  def msByName: Map[String, Seq[Double]] =
    all.groupBy(_.name).map { case (k, v) => k -> v.map(s => (s.endNs - s.startNs) / 1e6) }

  def json: String = all.map { s =>
    s"""{"id":${s.id},"parent":${s.parent},"unit":${s.unit},"name":"${s.name}",""" +
      s""""start_ns":${s.startNs},"end_ns":${s.endNs}}"""
  }.mkString("[\n", ",\n", "\n]")
}

/** JVM state: GC time, heap peak and JIT code-cache occupancy. */
object Jvm {
  private def pools = ManagementFactory.getMemoryPoolMXBeans.asScala.toSeq

  def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  /** Milliseconds the JIT compilers have spent compiling so far. */
  def jitMs: Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  /** Classes Spark's whole-stage codegen has compiled with Janino so far. */
  def codegenCompiles: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  def resetPeaks(): Unit = pools.foreach(_.resetPeakUsage())

  def heapPeakMb: Double =
    pools.filter(_.getType == MemoryType.HEAP).map(_.getPeakUsage.getUsed).sum / 1048576.0

  def codeCacheMb: Double =
    pools.filter(_.getName.startsWith("CodeHeap")).map(_.getUsage.getUsed).sum / 1048576.0
}

/** Host context that code does not move: CPU steal and a fixed
  * single-thread integer loop, read at the start and end of a run. */
object Host {
  def stealJiffies(): Long =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try {
        val f = src.getLines().next().trim.split("\\s+")
        if (f.length > 8) f(8).toLong else 0L
      } finally src.close()
    } catch { case _: Exception => 0L }

  def calibrate(): Double = {
    var acc = 0x9e3779b97f4a7c15L
    val t0 = System.nanoTime()
    var i = 0L
    while (i < 100000000L) {
      acc ^= i; acc *= 0xff51afd7ed558ccdL; acc ^= (acc >>> 33)
      i += 1
    }
    val dt = (System.nanoTime() - t0) / 1e9
    if (acc == 42L) System.err.println("calibration sentinel")
    dt
  }
}
