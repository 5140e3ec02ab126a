package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call: `op` is shared by every span of one benchmark op,
  * `parent` is the enclosing span (-1 at an op's root). */
final case class Span(id: Int, parent: Int, op: Int, name: String, startNs: Long, endNs: Long)

/** Span recorder for the traced run. Spans are kept in memory and
  * written out when the run ends. With tracing off, [[span]] only runs
  * its body. The benchmark drives the engine from one thread, so a
  * plain stack tracks nesting. */
final class Tracer(val enabled: Boolean) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[(Int, Long)] = Nil
  private var nextId = 0
  private var currentOp = -1

  def op[T](opId: Int, name: String)(body: => T): T = {
    val saved = currentOp
    currentOp = opId
    try span(name)(body) finally currentOp = saved
  }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.map(_._1).getOrElse(-1)
      val t0 = System.nanoTime()
      stack = (id, t0) :: stack
      try body
      finally {
        stack = stack.tail
        spans += Span(id, parent, currentOp, name, t0, System.nanoTime())
      }
    }

  /** Self time of every span: its duration minus the time its direct
    * children cover (children never overlap: one thread). */
  def selfSeconds: Seq[(Span, Double)] = {
    val childNs = mutable.HashMap.empty[Int, Long].withDefaultValue(0L)
    spans.foreach(s => if (s.parent >= 0) childNs(s.parent) += s.endNs - s.startNs)
    spans.toSeq.map(s => s -> (s.endNs - s.startNs - childNs(s.id)) / 1e9)
  }

  /** Mean self time per distinct op of the spans called `name` in ops
    * passing `ops` (0 when no such span ran). */
  def meanSelf(name: String, ops: Int => Boolean): Double = {
    val xs = selfSeconds.filter(x => x._1.name == name && ops(x._1.op))
    if (xs.isEmpty) 0.0 else xs.map(_._2).sum / xs.map(_._1.op).distinct.size
  }

  def write(path: Path): Unit = {
    val self = selfSeconds.map { case (s, t) => s.id -> t }.toMap
    val lines = spans.map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"name":"${s.name}",""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs},"self_s":${self(s.id)}}"""
    }
    Files.createDirectories(path.getParent)
    Files.write(path, (lines.mkString("\n") + "\n").getBytes(StandardCharsets.UTF_8))
  }
}

/** What Spark did during one op, as the benchmark's own listener saw it. */
final case class OpCounts(jobs: Long, stages: Long, tasks: Long, taskBusyS: Double,
                          taskCpuS: Double, gcS: Double, scanBytes: Long,
                          shuffleBytes: Long, driverS: Double, wallS: Double)

/** SparkListener counting jobs, stages, tasks and task metrics, plus a
  * query-execution listener summing the file bytes each finished query
  * scanned (the scans' "size of files read" metric: task input metrics
  * miss bytes the parquet reader fetches off the task thread). `measure`
  * brackets one op: it drains the listener bus after the op so every
  * event of the op has arrived, then reports the deltas. Driver time is
  * the op's wall time minus the time at least one of its tasks was
  * running: planning, codegen compile, scheduling and collect. */
final class SparkCounters(spark: SparkSession) extends SparkListener {
  private val sc = spark.sparkContext
  private var jobs, stages, tasks, scanBytes, shuffleBytes = 0L
  private var busyMs, gcMs = 0L
  private var cpuNs = 0L
  private val intervals = mutable.ArrayBuffer.empty[(Long, Long)]

  private val scans = new QueryExecutionListener with AdaptiveSparkPlanHelper {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val bytes = collectWithSubqueries(qe.executedPlan) { case s: FileSourceScanExec =>
        s.metrics.get("filesSize").map(_.value).getOrElse(0L)
      }.sum
      SparkCounters.this.synchronized { scanBytes += bytes }
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  sc.addSparkListener(this)
  spark.listenerManager.register(scans)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { jobs += 1 }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized { stages += 1 }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    intervals += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
    val m = e.taskMetrics
    if (m != null) {
      busyMs += m.executorRunTime
      cpuNs += m.executorCpuTime
      gcMs += m.jvmGCTime
      shuffleBytes += m.shuffleWriteMetrics.bytesWritten
    }
  }

  def measure[T](body: => T): (T, OpCounts) = {
    org.apache.spark.PerfbenchBus.drain(sc)
    val (j0, s0, t0, b0, c0, g0, sb0, sh0) = synchronized {
      intervals.clear()
      (jobs, stages, tasks, busyMs, cpuNs, gcMs, scanBytes, shuffleBytes)
    }
    val w0 = System.currentTimeMillis()
    val n0 = System.nanoTime()
    val out = body
    val wallS = (System.nanoTime() - n0) / 1e9
    val w1 = System.currentTimeMillis()
    org.apache.spark.PerfbenchBus.drain(sc)
    synchronized {
      val covered = unionMs(intervals.toSeq.map { case (a, b) => (math.max(a, w0), math.min(b, w1)) })
      (out, OpCounts(jobs - j0, stages - s0, tasks - t0, (busyMs - b0) / 1e3,
        (cpuNs - c0) / 1e9, (gcMs - g0) / 1e3, scanBytes - sb0, shuffleBytes - sh0,
        math.max(0.0, wallS - covered / 1e3), wallS))
    }
  }

  private def unionMs(xs: Seq[(Long, Long)]): Long = {
    var total = 0L
    var end = Long.MinValue
    xs.filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
      if (a >= end) { total += b - a; end = b }
      else if (b > end) { total += b - end; end = b }
    }
    total
  }

  def stop(): Unit = {
    sc.removeSparkListener(this)
    spark.listenerManager.unregister(scans)
  }
}

object SparkCounters {
  /** Per-op means of the `spark.*` per-layer metrics. */
  def metrics(ops: Seq[OpCounts]): Map[String, Double] = {
    def mean(f: OpCounts => Double) = if (ops.isEmpty) 0.0 else ops.map(f).sum / ops.size
    Map(
      "spark.jobs_per_op" -> mean(_.jobs.toDouble),
      "spark.stages_per_op" -> mean(_.stages.toDouble),
      "spark.tasks_per_op" -> mean(_.tasks.toDouble),
      "spark.task_busy_s_per_op" -> mean(_.taskBusyS),
      "spark.task_cpu_s_per_op" -> mean(_.taskCpuS),
      "spark.gc_s_per_op" -> mean(_.gcS),
      "spark.scan_bytes_per_op" -> mean(_.scanBytes.toDouble),
      "spark.shuffle_bytes_per_op" -> mean(_.shuffleBytes.toDouble),
      "spark.driver_s_per_op" -> mean(_.driverS))
  }
}
