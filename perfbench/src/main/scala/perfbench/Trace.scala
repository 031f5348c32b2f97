package perfbench

import scala.collection.mutable

import org.apache.spark.{PerfbenchAccess, Success => TaskSuccess}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval of the traced run. `layer` names the graft module
  * (or Spark layer) the interval is spent in; times are epoch µs. */
final case class Span(id: Long, parent: Long, op: Long, layer: String, name: String,
    startUs: Long, endUs: Long)

/** Counters of one op, summed from the listener events it caused. */
final class OpCounters {
  val m: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  def add(k: String, v: Double): Unit = m(k) = m.getOrElse(k, 0.0) + v
  def max(k: String, v: Double): Unit = m(k) = math.max(m.getOrElse(k, 0.0), v)
}

/** Benchmark-side tracing: a SparkListener for jobs, stages and tasks, a
  * QueryExecutionListener for Catalyst phase times and plan shape, and an
  * in-memory span list. Events are buffered and claimed by the op that
  * caused them once the listener bus has drained (the loop is closed, so
  * every event between two drains belongs to the op between them). */
final class Trace(spark: SparkSession) extends AdaptiveSparkPlanHelper {
  private val baseNs = System.nanoTime()
  private val baseUs = System.currentTimeMillis() * 1000L
  def nowUs: Long = baseUs + (System.nanoTime() - baseNs) / 1000L

  val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 1L
  private def newId(): Long = { val i = nextId; nextId += 1; i }

  private final case class JobEv(id: Int, startMs: Long, var endMs: Long, stages: Seq[Int])
  private final case class StageEv(id: Int, startMs: Long, endMs: Long, inputBytes: Long,
      taskTimes: Seq[Long])
  private final case class TaskEv(stage: Int, durMs: Long, runMs: Long, cpuNs: Long, gcMs: Long,
      schedMs: Long, peakMem: Long, inBytes: Long, inRecs: Long, shWBytes: Long, shWRecs: Long,
      shRBytes: Long, fetchWaitMs: Long, spillMem: Long, spillDisk: Long, failed: Boolean)
  private final case class QeEv(analysisMs: Double, optimizationMs: Double,
      planningMs: Double, phases: Seq[(String, Long, Long)], exchanges: Int)

  private val jobs = mutable.LinkedHashMap.empty[Int, JobEv]
  private val stages = mutable.ArrayBuffer.empty[StageEv]
  private val tasks = mutable.ArrayBuffer.empty[TaskEv]
  private val qes = mutable.ArrayBuffer.empty[QeEv]

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = jobs.synchronized {
      jobs(e.jobId) = JobEv(e.jobId, e.time, -1L, e.stageIds)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = jobs.synchronized {
      jobs.get(e.jobId).foreach(_.endMs = e.time)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = jobs.synchronized {
      val si = e.stageInfo
      val ts = tasks.filter(_.stage == si.stageId).map(_.durMs).toSeq
      stages += StageEv(si.stageId, si.submissionTime.getOrElse(0L),
        si.completionTime.getOrElse(0L), si.taskMetrics.inputMetrics.bytesRead, ts)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = jobs.synchronized {
      val tm = e.taskMetrics
      val ti = e.taskInfo
      val dur = ti.finishTime - ti.launchTime
      if (tm == null) {
        tasks += TaskEv(e.stageId, dur, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, failed = true)
      } else {
        val sched = math.max(0L, dur - tm.executorRunTime - tm.executorDeserializeTime -
          tm.resultSerializationTime - ti.gettingResultTime)
        val sr = tm.shuffleReadMetrics
        val sw = tm.shuffleWriteMetrics
        tasks += TaskEv(e.stageId, dur, tm.executorRunTime, tm.executorCpuTime, tm.jvmGCTime,
          sched, tm.peakExecutionMemory, tm.inputMetrics.bytesRead, tm.inputMetrics.recordsRead,
          sw.bytesWritten, sw.recordsWritten, sr.remoteBytesRead + sr.localBytesRead,
          sr.fetchWaitTime, tm.memoryBytesSpilled, tm.diskBytesSpilled,
          failed = e.reason != TaskSuccess)
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      def ms(p: String): Double = ph.get(p).map(s => (s.endTimeMs - s.startTimeMs).toDouble).getOrElse(0.0)
      val exch = try collectWithSubqueries(qe.executedPlan) { case s: ShuffleExchangeLike => s }.size
        catch { case _: Throwable => 0 }
      jobs.synchronized {
        qes += QeEv(ms("analysis"), ms("optimization"), ms("planning"),
          ph.toSeq.map { case (n, s) => (n, s.startTimeMs, s.endTimeMs) }, exch)
      }
    }
  }

  private var attached = false
  def attach(): Unit = if (!attached) {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    attached = true
  }
  def detach(): Unit = if (attached) {
    drain()
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
    attached = false
  }

  def drain(): Unit = PerfbenchAccess.drainListeners(spark.sparkContext)

  /** Open a harness span; returns its id. Closed by [[end]]. */
  private val open = mutable.HashMap.empty[Long, (Long, Long, String, String, Long)]
  def begin(op: Long, parent: Long, layer: String, name: String): Long = {
    val id = newId()
    open(id) = (parent, op, layer, name, nowUs)
    id
  }
  def end(id: Long): Unit = open.remove(id).foreach { case (parent, op, layer, name, s) =>
    spans += Span(id, parent, op, layer, name, s, nowUs)
  }
  def timed[T](op: Long, parent: Long, layer: String, name: String)(f: Long => T): T = {
    val id = begin(op, parent, layer, name)
    try f(id) finally end(id)
  }

  /** Claim every event since the previous claim for op `op` (root span
    * `root`): turn jobs, stages and plan phases into child spans of the
    * innermost harness span that contains them, and return the op's
    * counters. */
  def claim(op: Long, root: Long, cores: Int): OpCounters = {
    drain()
    val (js, ss, ts, qs) = jobs.synchronized {
      val r = (jobs.values.toSeq, stages.toSeq, tasks.toSeq, qes.toSeq)
      jobs.clear(); stages.clear(); tasks.clear(); qes.clear()
      r
    }
    val c = new OpCounters
    val mine = spans.filter(_.op == op)
    val rootSpan = mine.find(_.id == root)
    def parentFor(startUs: Long): Long =
      mine.filter(s => s.startUs <= startUs && startUs <= s.endUs)
        .sortBy(s => s.endUs - s.startUs).headOption.map(_.id).getOrElse(root)
    def clampUs(ms: Long): Long = {
      val us = ms * 1000L
      rootSpan.map(r => math.min(math.max(us, r.startUs), r.endUs)).getOrElse(us)
    }
    for (q <- qs; (ph, s, e) <- q.phases if e > s)
      spans += Span(newId(), parentFor(clampUs(s)), op, "plans", ph, clampUs(s), clampUs(e))
    val stageSpan = mutable.HashMap.empty[Int, Long]
    for (j <- js) {
      val sUs = clampUs(j.startMs)
      val eUs = clampUs(if (j.endMs < 0) j.startMs else j.endMs)
      val jid = newId()
      spans += Span(jid, parentFor(sUs), op, "exec.scheduler", s"job ${j.id}", sUs, eUs)
      j.stages.foreach(st => stageSpan(st) = jid)
    }
    for (st <- ss if st.endMs >= st.startMs && st.startMs > 0)
      spans += Span(newId(), stageSpan.getOrElse(st.id, parentFor(clampUs(st.startMs))), op,
        "exec.tasks", s"stage ${st.id}", clampUs(st.startMs), clampUs(st.endMs))

    c.add("exec.jobs", js.size)
    c.add("exec.stages", ss.size)
    c.add("exec.tasks", ts.size)
    c.add("exec.failed_tasks", ts.count(_.failed))
    c.add("exec.task_run_s", ts.map(_.runMs).sum / 1e3)
    c.add("exec.task_cpu_s", ts.map(_.cpuNs).sum / 1e9)
    c.add("exec.gc_s", ts.map(_.gcMs).sum / 1e3)
    c.add("exec.sched_delay_s", ts.map(_.schedMs).sum / 1e3)
    c.max("exec.peak_mem_bytes", if (ts.isEmpty) 0.0 else ts.map(_.peakMem).max.toDouble)
    c.add("scan.input_bytes", ts.map(_.inBytes).sum.toDouble)
    c.add("scan.input_records", ts.map(_.inRecs).sum.toDouble)
    val scanStages = ss.filter(_.inputBytes > 0).map(_.id).toSet
    c.add("scan.stage_task_s", ts.filter(t => scanStages(t.stage)).map(_.durMs).sum / 1e3)
    c.add("shuffle.write_bytes", ts.map(_.shWBytes).sum.toDouble)
    c.add("shuffle.write_records", ts.map(_.shWRecs).sum.toDouble)
    c.add("shuffle.read_bytes", ts.map(_.shRBytes).sum.toDouble)
    c.add("shuffle.fetch_wait_s", ts.map(_.fetchWaitMs).sum / 1e3)
    c.add("shuffle.spill_mem_bytes", ts.map(_.spillMem).sum.toDouble)
    c.add("shuffle.spill_disk_bytes", ts.map(_.spillDisk).sum.toDouble)
    // Skew of a stage: its longest task over its mean task, weighted by
    // the stage's task time so one-task metadata stages do not dominate.
    val weighted = ss.filter(_.taskTimes.size > 1).map { st =>
      val tot = st.taskTimes.sum.toDouble
      val mean = tot / st.taskTimes.size
      (if (mean > 0) st.taskTimes.max / mean else 1.0, tot)
    }
    val wSum = weighted.map(_._2).sum
    c.add("exec.task_skew_num", weighted.map { case (k, w) => k * w }.sum)
    c.add("exec.task_skew_den", wSum)
    c.add("plans.analysis_ms", qs.map(_.analysisMs).sum)
    c.add("plans.optimization_ms", qs.map(_.optimizationMs).sum)
    c.add("plans.planning_ms", qs.map(_.planningMs).sum)
    c.add("plans.exchanges", qs.map(_.exchanges).sum.toDouble)
    // Time inside the op with no job running: driver-side work.
    rootSpan.foreach { r =>
      val iv = js.map(j => (clampUs(j.startMs), clampUs(if (j.endMs < 0) j.startMs else j.endMs)))
      c.add("exec.driver_gap_s", (r.endUs - r.startUs - Trace.covered(iv)) / 1e6)
      c.add("exec.wall_core_s", (r.endUs - r.startUs) / 1e6 * cores)
    }
    c
  }

  /** Jobs that started inside the span `id` (already claimed). */
  def jobsUnder(id: Long): Int = spans.count(s => s.parent == id && s.layer == "exec.scheduler")
}

object Trace {
  /** Length of the union of [start, end) intervals. */
  def covered(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    for ((s, e) <- iv.filter { case (s, e) => e > s }.sortBy(_._1)) {
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Self time of every span: its duration minus the part its children
    * cover. Summed per layer. */
  def selfByLayer(spans: Seq[Span]): Map[String, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val ch = kids.getOrElse(s.id, Nil).map(k =>
        (math.max(k.startUs, s.startUs), math.min(k.endUs, s.endUs)))
      (s.layer, math.max(0L, s.endUs - s.startUs - covered(ch)) / 1e6)
    }.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).sum }
  }
}
