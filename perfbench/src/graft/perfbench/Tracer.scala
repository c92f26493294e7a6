package graft.perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.{FileSourceScanLike, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

/** The traced run's recorder, attached from outside the engine: one
  * `SparkListener` (jobs, stages, tasks, RDD blocks) and one
  * `QueryExecutionListener` (Catalyst phases, scanned files). Spans are
  * kept in memory and written out when the run ends. They nest as
  * workload → pass or request → query or serve call → job → stage, each
  * carrying its parent's id; a job finds its parent through a local
  * property set by the driver thread that opened the span.
  *
  * A unit (one pass, one read, one write) is closed with `unit`, which
  * drains the listener bus and sums every layer over the unit's
  * interval. Units run one at a time, so anything with a timestamp in a
  * unit's interval belongs to it.
  */
final class Tracer(spark: SparkSession, cores: Int) {
  import Tracer._

  private val sc = spark.sparkContext
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  /** Milliseconds since the epoch at nanosecond resolution, the clock
    * Spark's events use.
    */
  def nowMs(): Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  private val lock = new Object
  private val spans = ArrayBuffer.empty[Span]
  private val jobs = ArrayBuffer.empty[(Double, Double, Long)] // start, end, parent span
  private val jobStart = mutable.Map.empty[Int, (Double, Long)]
  private val stages = ArrayBuffer.empty[StageRec]
  private val tasks = ArrayBuffer.empty[(Double, Double, Boolean)]
  private val blocks = ArrayBuffer.empty[(Double, Long)]
  private val qes = ArrayBuffer.empty[(Double, QeRec)]
  private var nextId = 1L
  private var stack: List[Long] = Nil
  @volatile private var storagePeak = 0L

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      val parent = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProp)))
        .map(_.toLong).getOrElse(0L)
      jobStart(e.jobId) = (e.time.toDouble, parent)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      jobStart.remove(e.jobId).foreach { case (t0, parent) =>
        jobs += ((t0, e.time.toDouble, parent))
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      val m = si.taskMetrics
      if (m != null) lock.synchronized {
        stages += StageRec(si.stageId,
          si.submissionTime.getOrElse(0L).toDouble, si.completionTime.getOrElse(0L).toDouble,
          si.failureReason.isDefined,
          m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
          m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
          m.shuffleReadMetrics.fetchWaitTime, m.diskBytesSpilled,
          m.inputMetrics.bytesRead, m.inputMetrics.recordsRead)
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      val ti = e.taskInfo
      tasks += ((ti.launchTime.toDouble, ti.finishTime.toDouble, e.reason != Success))
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
      val b = e.blockUpdatedInfo
      if (b.blockId.isRDD && b.storageLevel.isValid) lock.synchronized {
        blocks += ((System.currentTimeMillis().toDouble, b.memSize + b.diskSize))
      }
    }
  }

  private val qeListener = new QueryExecutionListener with AdaptiveSparkPlanHelper {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = {
      val phases = qe.tracker.phases.toSeq.collect {
        case (name, p) if CatalystPhases.contains(name) =>
          (name, p.startTimeMs.toDouble, p.endTimeMs.toDouble)
      }
      val files = try collectWithSubqueries(qe.executedPlan) {
        case s: FileSourceScanLike => s.metrics.get("numFiles").map(_.value).getOrElse(0L)
      }.sum catch { case _: Throwable => 0L }
      val t = if (phases.nonEmpty) phases.map(_._2).min else System.currentTimeMillis().toDouble
      lock.synchronized { qes += ((t, QeRec(phases, files))) }
    }
  }

  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).toSeq
  private val jit = ManagementFactory.getCompilationMXBean
  private val sampler = new Thread(() => {
    try while (true) {
      if (attached) {
        val used = sc.getExecutorMemoryStatus.values.map { case (max, rem) => max - rem }.sum
        if (used > storagePeak) storagePeak = used
      }
      Thread.sleep(20)
    } catch { case _: InterruptedException => () }
  }, "perfbench-storage-sampler")
  sampler.setDaemon(true)

  @volatile private var attached = false

  /** Attach both listeners (idempotent). */
  def on(): Unit = if (!attached) {
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    if (!sampler.isAlive) sampler.start()
    attached = true
  }

  /** Detach both listeners, so untraced units run with no listener. */
  def off(): Unit = if (attached) {
    org.apache.spark.perfbench.Bus.drain(sc)
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
    attached = false
  }

  def close(): Unit = { off(); sampler.interrupt(); sampler.join() }

  /** Open a span under the current one for the duration of `body`. */
  def span[A](kind: String, name: String)(body: => A): A = spanned(kind, name)(_ => body)

  private def spanned[A](kind: String, name: String)(body: Span => A): A = {
    val sp = lock.synchronized {
      val s = Span(nextId, stack.headOption.getOrElse(0L), kind, name, nowMs(), Double.NaN)
      nextId += 1
      spans += s
      s
    }
    stack = sp.id :: stack
    sc.setLocalProperty(SpanProp, sp.id.toString)
    try body(sp)
    finally {
      sp.end = nowMs()
      stack = stack.tail
      sc.setLocalProperty(SpanProp, stack.headOption.map(_.toString).orNull)
    }
  }

  /** Run `body` as one traced unit (a pass, a read or a write) and
    * return its result with the unit's per-layer sums.
    */
  def unit[A](kind: String, name: String)(body: => A): (A, Map[String, Double]) = {
    heapPools.foreach(_.resetPeakUsage())
    storagePeak = 0L
    val cg0 = CodeGenerator.compileTime
    val cls0 = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val jit0 = jitMs()
    var unitSpan: Span = null
    val r = spanned(kind, name) { sp => unitSpan = sp; body }
    org.apache.spark.perfbench.Bus.drain(sc)
    val heapPeak = heapPools.map(_.getPeakUsage.getUsed).sum
    val layers = lock.synchronized(sumLayers(unitSpan)) ++ Map(
      "codegen.compile_s" -> (CodeGenerator.compileTime - cg0) / 1e9,
      "codegen.classes" -> (org.apache.spark.metrics.source.CodegenMetrics
        .METRIC_COMPILATION_TIME.getCount - cls0).toDouble,
      "jit.compile_s" -> (jitMs() - jit0) / 1e3,
      "mem.heap_peak_mb" -> heapPeak / 1048576.0,
      "mem.storage_peak_mb" -> storagePeak / 1048576.0)
    (r, layers)
  }

  private def jitMs(): Double =
    if (jit != null && jit.isCompilationTimeMonitoringSupported)
      jit.getTotalCompilationTime.toDouble else 0.0

  private def descendants(root: Span): Seq[Span] = {
    val kids = spans.groupBy(_.parent)
    def walk(s: Span): Seq[Span] = kids.getOrElse(s.id, Nil).toSeq.flatMap(k => k +: walk(k))
    walk(root)
  }

  /** Per-layer sums over one unit span (callers hold `lock`). */
  private def sumLayers(u: Span): Map[String, Double] = {
    val (t0, t1) = (u.start, u.end)
    def in(t: Double) = t >= t0 && t <= t1
    val wallS = (t1 - t0) / 1e3
    val sub = descendants(u)
    val construct = sub.filter(_.kind == "construct")
    val constructIds = construct.map(_.id).toSet
    val uJobs = jobs.filter(j => in(j._1))
    val uStages = stages.filter(s => in(s.end))
    val uTasks = tasks.filter(t => in(t._2))
    val uQes = qes.filter(q => in(q._1)).map(_._2)
    val uBlocks = blocks.filter(b => in(b._1))
    val phase = uQes.flatMap(_.phases)
    def phaseS(n: String) = phase.filter(_._1 == n).map(p => p._3 - p._2).sum / 1e3
    val runS = uStages.map(_.run).sum / 1e3
    val taskIv = uTasks.map(t => (math.max(t._1, t0), math.min(t._2, t1)))
    val attributed = construct.map(s => (s.start, s.end)) ++
      uJobs.map(j => (j._1, j._2)) ++ phase.map(p => (p._2, p._3))
    val nTasks = uTasks.size
    Map(
      "driver.construct_s" -> construct.map(s => s.end - s.start).sum / 1e3,
      "driver.eager_jobs" -> uJobs.count(j => constructIds.contains(j._3)).toDouble,
      "catalyst.analysis_s" -> phaseS("analysis"),
      "catalyst.optimization_s" -> phaseS("optimization"),
      "catalyst.planning_s" -> phaseS("planning"),
      "sched.jobs" -> uJobs.size.toDouble,
      "sched.stages" -> uStages.size.toDouble,
      "sched.tasks" -> nTasks.toDouble,
      "sched.idle_s" -> math.max(0.0, wallS - unionMs(taskIv) / 1e3),
      "sched.retry_ratio" -> (if (nTasks == 0) 0.0
        else (uTasks.count(_._3) + uStages.count(_.failed)).toDouble / nTasks),
      "exec.run_s" -> runS,
      "exec.cpu_s" -> uStages.map(_.cpu).sum / 1e9,
      "exec.gc_s" -> uStages.map(_.gc).sum / 1e3,
      "exec.busy_ratio" -> (if (wallS <= 0) 0.0 else runS / (wallS * cores)),
      "shuffle.write_bytes" -> uStages.map(_.shufW).sum.toDouble,
      "shuffle.read_bytes" -> uStages.map(_.shufR).sum.toDouble,
      "shuffle.fetch_wait_s" -> uStages.map(_.fetchWait).sum / 1e3,
      "spill.disk_bytes" -> uStages.map(_.spillDisk).sum.toDouble,
      "scan.bytes" -> uStages.map(_.inBytes).sum.toDouble,
      "scan.rows" -> uStages.map(_.inRows).sum.toDouble,
      "scan.files" -> uQes.map(_.files).sum.toDouble,
      "ckpt.blocks" -> uBlocks.size.toDouble,
      "ckpt.bytes" -> uBlocks.map(_._2).sum.toDouble,
      "trace.unattributed_s" -> math.max(0.0,
        wallS - unionMs(attributed.map { case (a, b) => (math.max(a, t0), math.min(b, t1)) }) / 1e3)
    ) ++ selfTimes(u, sub)
  }

  /** Self time per span kind: each span's duration minus the union of its
    * children's intervals (jobs and stages included as children).
    */
  private def selfTimes(u: Span, sub: Seq[Span]): Map[String, Double] = {
    val all = u +: sub
    val ids = all.map(_.id).toSet
    val jobKids = jobs.filter(j => ids.contains(j._3)).groupBy(_._3)
    val kids = sub.groupBy(_.parent)
    val spanSelf = all.map { s =>
      val iv = kids.getOrElse(s.id, Nil).map(k => (k.start, k.end)) ++
        jobKids.getOrElse(s.id, Nil).map(j => (j._1, j._2))
      SelfKind(s.kind) -> math.max(0.0, (s.end - s.start) - unionMs(iv.map {
        case (a, b) => (math.max(a, s.start), math.min(b, s.end)) })) / 1e3
    }
    // a job's self time is the part of it with no stage running
    val (t0, t1) = (u.start, u.end)
    val uJobs = jobs.filter(j => ids.contains(j._3))
    val uStages = stages.filter(s => s.end >= t0 && s.end <= t1)
    val jobSelf = uJobs.map { j =>
      val iv = uStages.filter(s => s.start >= j._1 && s.end <= j._2).map(s => (s.start, s.end))
      math.max(0.0, (j._2 - j._1) - unionMs(iv)) / 1e3
    }.sum
    val stageSelf = uStages.map(s => s.end - s.start).sum / 1e3
    val base = SelfKind.values.map(k => k -> 0.0).toMap
    base ++ spanSelf.groupBy(_._1).map { case (k, xs) => k -> xs.map(_._2).sum } ++
      Map("self.job_s" -> jobSelf, "self.stage_s" -> stageSelf)
  }

  /** Every span recorded so far, for the trace file. */
  def dump(path: String): Unit = lock.synchronized {
    Json.write(path, Map(
      "spans" -> spans.map(s => Map("id" -> s.id, "parent" -> s.parent, "kind" -> s.kind,
        "name" -> s.name, "start_ms" -> s.start, "end_ms" -> s.end)),
      "jobs" -> jobs.map(j => Map("parent" -> j._3, "start_ms" -> j._1, "end_ms" -> j._2)),
      "stages" -> stages.map(s => Map("stage" -> s.stageId, "start_ms" -> s.start,
        "end_ms" -> s.end, "run_ms" -> s.run, "failed" -> s.failed))))
  }
}

object Tracer {
  final case class Span(id: Long, parent: Long, kind: String, name: String,
      start: Double, var end: Double)
  final case class StageRec(stageId: Int, start: Double, end: Double,
      failed: Boolean, run: Long, cpu: Long, gc: Long, shufW: Long, shufR: Long,
      fetchWait: Long, spillDisk: Long, inBytes: Long, inRows: Long)
  final case class QeRec(phases: Seq[(String, Double, Double)], files: Long)

  val SpanProp = "perfbench.span"
  val CatalystPhases = Set("analysis", "optimization", "planning")
  /** Span kinds and the self-time metric each is summed into. */
  val SelfKind: Map[String, String] = Map(
    "pass" -> "self.unit_s", "read" -> "self.unit_s", "write" -> "self.unit_s",
    "query" -> "self.query_s", "call" -> "self.query_s",
    "construct" -> "self.construct_s", "action" -> "self.action_s")

  /** Total length of the union of [a, b] intervals. */
  def unionMs(iv: Iterable[(Double, Double)]): Double = {
    var total = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    iv.filter { case (a, b) => b > a }.toSeq.sortBy(_._1).foreach { case (a, b) =>
      if (curB.isNaN || a > curB) {
        if (!curB.isNaN) total += curB - curA
        curA = a; curB = b
      } else if (b > curB) curB = b
    }
    if (!curB.isNaN) total += curB - curA
    total
  }
}
