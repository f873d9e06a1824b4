package graftbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.{SparkContext, Success}
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.PerfbenchAccess
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** Spans and counters of one traced run, recorded from outside the program.
  *
  * The harness opens run → pass → query → {construct, action} spans around
  * its own calls ([[open]]/[[close]]). One `SparkListener` adds job, stage
  * and micro-batch spans plus task, Catalyst and streaming counters. It
  * reads Catalyst phases from SQL-execution end events and micro-batches
  * from streaming progress events, not through a `QueryExecutionListener`
  * or `StreamingQueryListener`: those see one session only, and the program
  * runs its stateful streams on sessions of their own. A job whose job
  * group the harness set names its parent span in the group's description;
  * any other job (a micro-batch's, say) and every micro-batch gets the
  * construct/action span whose interval holds its start. All of it stays
  * in memory until [[metrics]] and [[spansJson]] read it at the end.
  */
final class Tracer(sc: SparkContext, groupPrefix: String) {
  import Tracer._

  private val ids = new AtomicLong(0L)
  // Listener events carry epoch milliseconds; harness spans use nanoTime.
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  private def nsOf(epochMs: Long): Long = baseNs + (epochMs - baseMs) * 1000000L

  // Harness-thread state.
  private val harness = ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var storagePeakBytes = 0L

  // Listener-thread state, read after [[finish]] drained the bus.
  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val stages = mutable.LinkedHashMap.empty[(Int, Int), Stage]
  private val batches = ArrayBuffer.empty[Batch]
  private val phaseMs = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private var executions = 0
  @volatile private var on = false

  def open(kind: String, name: String): Span = {
    val s = new Span(ids.incrementAndGet(), stack.headOption.fold(0L)(_.id), kind, name,
      System.nanoTime())
    harness += s
    stack = s :: stack
    s
  }

  def close(s: Span): Unit = {
    s.end = System.nanoTime()
    stack = stack.dropWhile(_ ne s).drop(1)
  }

  /** Job group for calls made inside `s`: `<prefix>/<query>/<phase>`, with
    * the span id as the group description so jobs find their parent. */
  def group(s: Span): (String, String) = (s"$groupPrefix/${s.name}/${s.kind}", s.id.toString)

  /** RDD storage right now; called before each `releaseTransients()`. */
  def sampleStorage(): Unit = {
    val bytes = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
    storagePeakBytes = math.max(storagePeakBytes, bytes)
  }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = if (on) {
      val props = Option(e.properties)
      def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
      val parent = prop("spark.jobGroup.id").filter(_.startsWith(groupPrefix + "/"))
        .flatMap(_ => prop("spark.job.description")).flatMap(_.toLongOption).getOrElse(-1L)
      // Every stage of a job carries the call site of the action that made
      // it; the newest stage is the job's own result stage.
      val site = e.stageInfos.sortBy(_.stageId).lastOption.fold("")(_.name)
      e.stageIds.foreach(id => if (!stageJob.contains(id)) stageJob(id) = e.jobId)
      jobs(e.jobId) = new Job(ids.incrementAndGet(), parent, site, nsOf(e.time))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobs.get(e.jobId).foreach(_.end = nsOf(e.time))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      stages.get((i.stageId, i.attemptNumber())).foreach { s =>
        s.start = i.submissionTime.map(nsOf).getOrElse(-1L)
        s.end = i.completionTime.map(nsOf).getOrElse(-1L)
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = if (on) e match {
      case end: SparkListenerSQLExecutionEnd =>
        PerfbenchAccess.queryExecution(end).foreach { qe =>
          executions += 1
          qe.tracker.phases.foreach { case (phase, p) => phaseMs(phase) += p.durationMs.toDouble }
        }
      case p: StreamingQueryListener.QueryProgressEvent => batch(p.progress)
      case _ =>
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (on) {
      val s = stages.getOrElseUpdate((e.stageId, e.stageAttemptId),
        new Stage(ids.incrementAndGet(), e.stageId))
      val t = e.taskInfo
      s.tasks += 1
      if (e.reason != Success) s.failed += 1
      Option(e.taskMetrics).foreach { m =>
        s.runMs += m.executorRunTime
        s.cpuNs += m.executorCpuTime
        s.gcMs += m.jvmGCTime
        s.schedMs += math.max(0L, t.duration - m.executorRunTime - m.executorDeserializeTime -
          m.resultSerializationTime - t.gettingResultTime)
        s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        s.rowsRead += m.inputMetrics.recordsRead
        s.bytesOut += m.outputMetrics.bytesWritten
      }
    }
  }

  private def batch(p: StreamingQueryProgress): Unit = {
    def d(k: String): Long = Option(p.durationMs.get(k)).fold(0L)(_.longValue)
    val start = nsOf(java.time.Instant.parse(p.timestamp).toEpochMilli)
    batches += new Batch(ids.incrementAndGet(), s"${p.name}#${p.batchId}", start,
      start + d("triggerExecution") * 1000000L, d("triggerExecution"), d("addBatch"),
      d("walCommit"), d("queryPlanning"), d("latestOffset") + d("getBatch") + d("commitOffsets"),
      p.numInputRows, p.stateOperators.map(_.numRowsTotal).sum,
      p.stateOperators.map(_.memoryUsedBytes).sum)
  }

  def install(): Unit = sc.addSparkListener(sparkListener)

  /** Starts recording, once every earlier event has been seen unrecorded. */
  def resume(): Unit = { PerfbenchAccess.drain(sc); on = true }

  /** Stops recording, once every event so far has been recorded. */
  def pause(): Unit = { PerfbenchAccess.drain(sc); on = false }

  /** Stops recording and removes the listener. */
  def finish(): Unit = {
    pause()
    sc.removeSparkListener(sparkListener)
  }

  private lazy val phases: Vector[Span] =
    harness.filter(s => s.kind == "construct" || s.kind == "action").toVector.sortBy(_.start)

  /** Innermost construct/action span whose interval holds `t`, or 0. */
  private def phaseAt(t: Long): Long = {
    var lo = 0
    var hi = phases.length - 1
    var hit = 0L
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      val s = phases(mid)
      if (t < s.start) hi = mid - 1
      else { if (t <= s.end) hit = s.id; lo = mid + 1 }
    }
    hit
  }

  private lazy val jobParents: Map[Int, Long] =
    jobs.map { case (id, j) => id -> (if (j.parent >= 0) j.parent else phaseAt(j.start)) }.toMap

  private def isCheckpoint(site: String): Boolean =
    site.contains("Materialize.scala") || site.toLowerCase.contains("checkpoint at")

  /** Per-layer metrics, each per traced pass (counts and seconds summed over
    * the traced window and divided by `passes`), except peaks, quantiles,
    * rates and ratios, which cover the whole window. `wallS` is the summed
    * construct+action wall of the traced passes. */
  def metrics(passes: Int, cpus: Int, wallS: Double): Seq[(String, Double)] = {
    val kindOf = harness.map(s => s.id -> s.kind).toMap
    val perPass = 1.0 / passes
    val constructJobs = jobs.filter { case (id, _) => kindOf.get(jobParents(id)).contains("construct") }
    val childJobs = jobs.toSeq.groupBy { case (id, _) => jobParents(id) }
    val entrySelfNs = harness.filter(_.kind == "construct").map { s =>
      val kids = childJobs.getOrElse(s.id, Nil).map(_._2).filter(_.end >= 0)
        .map(j => (math.max(j.start, s.start), math.min(j.end, s.end))).filter(iv => iv._2 > iv._1)
      s.dur - covered(kids)
    }.sum
    val st = stages.values
    def sumL(f: Stage => Long): Double = st.iterator.map(f).sum.toDouble
    val mb = 1.0 / (1 << 20)
    val trig = batches.map(_.triggerMs.toDouble).toVector.sorted
    val trigS = trig.sum / 1000
    Seq(
      "entry.jobs" -> constructJobs.size * perPass,
      "entry.self_s" -> entrySelfNs / 1e9 * perPass,
      "materialize.jobs" -> jobs.values.count(j => isCheckpoint(j.site)) * perPass,
      "materialize.storage_peak_mb" -> storagePeakBytes * mb,
      "catalyst.analysis_s" -> phaseMs("analysis") / 1000 * perPass,
      "catalyst.optimization_s" -> phaseMs("optimization") / 1000 * perPass,
      "catalyst.planning_s" -> phaseMs("planning") / 1000 * perPass,
      "catalyst.executions" -> executions * perPass,
      "exec.jobs" -> jobs.size * perPass,
      "exec.stages" -> st.size * perPass,
      "exec.tasks" -> sumL(_.tasks) * perPass,
      "exec.run_s" -> sumL(_.runMs) / 1000 * perPass,
      "exec.cpu_s" -> sumL(_.cpuNs) / 1e9 * perPass,
      "exec.gc_s" -> sumL(_.gcMs) / 1000 * perPass,
      "exec.cpu_util" -> (if (wallS > 0) sumL(_.cpuNs) / 1e9 / (wallS * cpus) else 0.0),
      "exec.sched_delay_s" -> sumL(_.schedMs) / 1000 * perPass,
      "exec.shuffle_read_mb" -> sumL(_.shuffleRead) * mb * perPass,
      "exec.shuffle_write_mb" -> sumL(_.shuffleWrite) * mb * perPass,
      "exec.spill_mb" -> sumL(_.spill) * mb * perPass,
      "exec.rows_read" -> sumL(_.rowsRead) * perPass,
      "exec.failed_tasks" -> sumL(_.failed) * perPass,
      "stream.batches" -> batches.size * perPass,
      "stream.batch_p50_ms" -> quantile(trig, 0.5),
      "stream.batch_p90_ms" -> quantile(trig, 0.9),
      "stream.add_batch_s" -> batches.map(_.addBatchMs).sum / 1000.0 * perPass,
      "stream.wal_commit_s" -> batches.map(_.walCommitMs).sum / 1000.0 * perPass,
      "stream.query_planning_s" -> batches.map(_.planningMs).sum / 1000.0 * perPass,
      "stream.offsets_s" -> batches.map(_.offsetsMs).sum / 1000.0 * perPass,
      "stream.input_rows_per_s" -> (if (trigS > 0) batches.map(_.inputRows).sum / trigS else 0.0),
      "stream.state_rows" -> batches.map(_.stateRows).maxOption.getOrElse(0L).toDouble,
      "stream.state_mem_mb" -> batches.map(_.stateBytes).maxOption.getOrElse(0L) * mb,
      "storage.output_mb" -> sumL(_.bytesOut) * mb * perPass)
  }

  /** Every span as JSON: id, parent, kind, name, start and end in ms since
    * the tracer started. */
  def spansJson(): String = {
    def ms(ns: Long) = Json.num((ns - baseNs) / 1e6)
    def one(id: Long, parent: Long, kind: String, name: String, start: Long, end: Long) =
      Json.obj(Seq("id" -> id.toString, "parent" -> parent.toString, "kind" -> Json.str(kind),
        "name" -> Json.str(name), "start_ms" -> ms(start), "end_ms" -> ms(end)))
    val jobSpan = jobs.map { case (id, j) => id -> j.id }
    Json.arr(
      harness.map(s => one(s.id, s.parent, s.kind, s.name, s.start, s.end)) ++
        jobs.map { case (id, j) => one(j.id, jobParents(id), "job", s"$id ${j.site}", j.start, j.end) } ++
        stages.values.filter(_.end >= 0).map(s => one(s.id,
          stageJob.get(s.stageId).flatMap(jobSpan.get).getOrElse(0L), "stage", s.stageId.toString,
          s.start, s.end)) ++
        batches.map(b => one(b.id, phaseAt(b.start), "batch", b.name, b.start, b.end)))
  }
}

object Tracer {
  final class Span(val id: Long, val parent: Long, val kind: String, val name: String,
      val start: Long) {
    var end: Long = -1L
    def dur: Long = end - start
  }

  private final class Job(val id: Long, val parent: Long, val site: String, val start: Long) {
    var end: Long = -1L
  }

  private final class Stage(val id: Long, val stageId: Int) {
    var start = -1L
    var end = -1L
    var tasks, failed, runMs, cpuNs, gcMs, schedMs = 0L
    var shuffleRead, shuffleWrite, spill, rowsRead, bytesOut = 0L
  }

  private final class Batch(val id: Long, val name: String, val start: Long, val end: Long,
      val triggerMs: Long, val addBatchMs: Long, val walCommitMs: Long, val planningMs: Long,
      val offsetsMs: Long, val inputRows: Long, val stateRows: Long, val stateBytes: Long)

  /** Length of the union of half-open intervals. */
  def covered(ivs: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    for ((s, e) <- ivs.sortBy(_._1)) {
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Linear-interpolated quantile of sorted values; 0 when empty. */
  def quantile(sorted: Seq[Double], q: Double): Double =
    if (sorted.isEmpty) 0.0
    else {
      val pos = q * (sorted.length - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, sorted.length - 1)
      sorted(lo) + (sorted(hi) - sorted(lo)) * (pos - lo)
    }
}
