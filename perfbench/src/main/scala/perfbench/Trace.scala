package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan,
  SparkPlanInfo}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.V2TableWriteExec
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.execution.joins.{BaseJoinExec,
  BroadcastHashJoinExec, ShuffledHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.execution.ui.{SparkListenerDriverAccumUpdates,
  SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionEnd,
  SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One span: a named interval on the driver clock (epoch ms) with the span
  * that caused it. Every span of one op carries that op's id. Kinds: op →
  * execution (a SQL execution) → job → stage, and per execution a catalyst
  * span (its planning phases) under the op. */
final case class Span(op: Int, kind: String, id: String, parent: String,
                      startMs: Long, endMs: Long, attrs: Map[String, Double])

/** Collects spans and counters from Spark's three public listener
  * interfaces. Everything is kept in memory: [[take]] hands over what one op
  * produced (after the listener bus drained), and the harness writes all
  * spans out when the run ends. Callbacks arrive on several listener-bus
  * threads, hence the locking. */
final class Trace extends AdaptiveSparkPlanHelper {
  private val lock = new Object
  private var op = -1
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val jobs = mutable.Map.empty[Int, (Long, Seq[Int], Int, String)]
  private val sqlStart = mutable.Map.empty[Long, Long]
  private val stageSubmit = mutable.Map.empty[Int, Long]
  private val stageRunTimes = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  private val sums = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private val blocks = mutable.Map.empty[String, Long]
  // accumulator ids of the scans' "size of files read" metric, from every
  // plan (initial and AQE-updated) posted for the op's executions, and the
  // driver-side metric values posted for them
  private val filesSizeIds = mutable.Set.empty[Long]
  private val driverAccums = mutable.Map.empty[Long, Long].withDefaultValue(0L)
  private var storagePeak = 0L

  private def add(k: String, v: Double): Unit = sums(k) += v
  private def max(k: String, v: Double): Unit = sums(k) = math.max(sums(k), v)

  /** Starts collecting for op `id`. */
  def begin(id: Int): Unit = lock.synchronized {
    op = id
    storagePeak = blocks.values.sum
  }

  /** Everything collected since [[begin]]: the op's spans and its summed
    * counters. Call only after the listener bus drained. */
  def take(): (Seq[Span], Map[String, Double]) = lock.synchronized {
    val s = spans.toList
    val filesMb = filesSizeIds.toSeq.map(driverAccums).sum / 1e6
    val c = sums.toMap + ("caching.peak_mb" -> storagePeak / 1e6) +
      ("scan.input_mb" -> filesMb)
    spans.clear(); jobs.clear(); stageSubmit.clear(); stageRunTimes.clear()
    sums.clear(); filesSizeIds.clear(); driverAccums.clear()
    (s, c)
  }

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      // the harness tags every job of an op with the op id; a job run for
      // a SQL execution names it as its parent
      def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
      val jobOp = prop("perfbench.op").map(_.toInt).getOrElse(op)
      val parent = prop("spark.sql.execution.id")
        .map("sql" + _).getOrElse(s"op$jobOp")
      jobs(e.jobId) = (e.time, e.stageIds, jobOp, parent)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      jobs.remove(e.jobId).foreach { case (start, stages, jobOp, parent) =>
        spans += Span(jobOp, "job", s"job${e.jobId}", parent, start, e.time,
          Map("stages" -> stages.size.toDouble))
      }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      lock.synchronized {
        stageSubmit(e.stageInfo.stageId) =
          e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      lock.synchronized {
        val si = e.stageInfo
        val start = si.submissionTime.orElse(stageSubmit.get(si.stageId))
          .getOrElse(0L)
        val runs = stageRunTimes.getOrElse(si.stageId, mutable.ArrayBuffer())
          .sorted
        val skew = if (runs.isEmpty || runs(runs.size / 2) <= 0) 1.0
          else runs.last.toDouble / runs(runs.size / 2)
        val job = jobs.collectFirst {
          case (id, (_, ids, _, _)) if ids.contains(si.stageId) => s"job$id"
        }
        spans += Span(op, "stage", s"stage${si.stageId}.${si.attemptNumber()}",
          job.getOrElse(""), start, si.completionTime.getOrElse(start),
          Map("tasks" -> si.numTasks.toDouble, "skew" -> skew))
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      val info = e.taskInfo
      add("scheduler.tasks", 1)
      if (!info.successful) add("task.failed", 1)
      stageSubmit.get(e.stageId).foreach(s =>
        add("scheduler.task_wait_s", math.max(0L, info.launchTime - s) / 1e3))
      val m = e.taskMetrics
      if (m != null) {
        stageRunTimes.getOrElseUpdate(e.stageId, mutable.ArrayBuffer()) +=
          m.executorRunTime
        add("task.run_s", m.executorRunTime / 1e3)
        add("task.cpu_s", m.executorCpuTime / 1e9)
        add("task.gc_s", m.jvmGCTime / 1e3)
        max("task.peak_exec_mb", m.peakExecutionMemory / 1e6)
        add("scan.input_rows", m.inputMetrics.recordsRead.toDouble)
        add("shuffle.write_mb", m.shuffleWriteMetrics.bytesWritten / 1e6)
        add("shuffle.records", m.shuffleWriteMetrics.recordsWritten.toDouble)
        add("shuffle.write_s", m.shuffleWriteMetrics.writeTime / 1e9)
        add("shuffle.read_mb", m.shuffleReadMetrics.totalBytesRead / 1e6)
        add("shuffle.fetch_wait_s", m.shuffleReadMetrics.fetchWaitTime / 1e3)
        add("shuffle.spill_mb", m.diskBytesSpilled / 1e6)
        add("sink.output_mb", m.outputMetrics.bytesWritten / 1e6)
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = lock.synchronized {
      e match {
        case s: SparkListenerSQLExecutionStart =>
          sqlStart(s.executionId) = s.time
          noteScans(s.sparkPlanInfo)
        case u: SparkListenerSQLAdaptiveExecutionUpdate =>
          noteScans(u.sparkPlanInfo)
        case u: SparkListenerDriverAccumUpdates =>
          u.accumUpdates.foreach { case (id, v) => driverAccums(id) += v }
        case end: SparkListenerSQLExecutionEnd =>
          sqlStart.remove(end.executionId).foreach { start =>
            spans += Span(op, "execution", s"sql${end.executionId}", s"op$op",
              start, end.time, Map.empty)
          }
        case _ =>
      }
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit =
      lock.synchronized {
        val b = e.blockUpdatedInfo
        if (b.blockId.isRDD) {
          if (b.storageLevel.isValid && b.memSize > 0)
            blocks(b.blockId.name) = b.memSize
          else blocks.remove(b.blockId.name)
          storagePeak = math.max(storagePeak, blocks.values.sum)
        }
      }
  }

  /** Records the accumulator ids of every "size of files read" metric
    * (the file scans' `filesSize`) in `plan`. Called under `lock`. */
  private def noteScans(plan: SparkPlanInfo): Unit = {
    plan.metrics.foreach { m =>
      if (m.name == "size of files read") filesSizeIds += m.accumulatorId
    }
    plan.children.foreach(noteScans)
  }

  val executionListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      record(qe)
  }

  /** Catalyst phase times from the execution's planning tracker, and the
    * physical shape of its final (post-AQE) plan: one "catalyst" span per
    * execution, covering its planning phases. */
  private def record(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases
    def secs(p: String) = phases.get(p).map(_.durationMs / 1e3).getOrElse(0.0)
    val plan = qe.executedPlan
    val joins = collect(plan) { case j: BaseJoinExec => rows(j) }
    val attrs = Map(
      "analysis_s" -> secs("analysis"),
      "optimization_s" -> secs("optimization"),
      "planning_s" -> secs("planning"),
      "exchanges" -> collect(plan) { case _: Exchange => 1 }.size.toDouble,
      "reused_exchanges" ->
        collect(plan) { case _: ReusedExchangeExec => 1 }.size.toDouble,
      "bhj" -> collect(plan) { case _: BroadcastHashJoinExec => 1 }.size.toDouble,
      "shj" -> collect(plan) { case _: ShuffledHashJoinExec => 1 }.size.toDouble,
      "smj" -> collect(plan) { case _: SortMergeJoinExec => 1 }.size.toDouble,
      "max_join_rows" -> (if (joins.isEmpty) 0.0 else joins.max.toDouble),
      "result_rows" -> collectFirst(plan) {
        case w: V2TableWriteExec => firstRows(w.query)
      }.getOrElse(-1L).toDouble)
    val starts = phases.values.map(_.startTimeMs)
    val ends = phases.values.map(_.endTimeMs)
    lock.synchronized {
      spans += Span(op, "catalyst", s"qe${qe.id}", s"op$op",
        if (starts.isEmpty) 0L else starts.min,
        if (ends.isEmpty) 0L else ends.max, attrs)
    }
  }

  private def rows(p: SparkPlan): Long =
    p.metrics.get("numOutputRows").map(_.value).getOrElse(0L)

  /** Rows out of the topmost operator that counts them: the op's result. */
  private def firstRows(p: SparkPlan): Long =
    find(p)(_.metrics.contains("numOutputRows")).map(rows).getOrElse(-1L)

  val streamingListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent)
      : Unit = ()
    override def onQueryTerminated(
        e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent)
      : Unit = lock.synchronized {
      val p = e.progress
      def d(k: String) = Option(p.durationMs.get(k)).map(_.toLong / 1e3)
        .getOrElse(0.0)
      val ops = p.stateOperators.toSeq
      add("streaming.batches", 1)
      add("streaming.trigger_s", d("triggerExecution"))
      add("streaming.add_batch_s", d("addBatch"))
      add("streaming.wal_commit_s", d("walCommit"))
      add("streaming.commit_offsets_s", d("commitOffsets"))
      add("streaming.state_commit_s", ops.map(_.commitTimeMs).sum / 1e3)
      max("streaming.state_rows", ops.map(_.numRowsTotal).sum.toDouble)
      max("streaming.state_mb", ops.map(_.memoryUsedBytes).sum / 1e6)
      max("streaming.state_partitions",
        ops.map(_.numShufflePartitions).sum.toDouble)
    }
  }
}

object Trace {
  /** Total length of the union of intervals, each clipped to [lo, hi]. */
  def unionMs(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var total, curS, curE = 0L
    var open = false
    clipped.foreach { case (s, e) =>
      if (open && s <= curE) curE = math.max(curE, e)
      else {
        if (open) total += curE - curS
        curS = s; curE = e; open = true
      }
    }
    if (open) total += curE - curS
    total
  }

  /** The per-op layer metrics of one traced op, from its spans and
    * counters; `cpus` is the number of task slots. */
  def layers(opStartMs: Long, opEndMs: Long, buildS: Double, releaseS: Double,
             spans: Seq[Span], counters: Map[String, Double], cpus: Int)
    : Map[String, Double] = {
    val wallMs = math.max(1L, opEndMs - opStartMs)
    val qes = spans.filter(_.kind == "catalyst")
    val jobs = spans.filter(_.kind == "job")
    val stages = spans.filter(_.kind == "stage")
    val busyMs = unionMs(jobs.map(j => (j.startMs, j.endMs)), opStartMs, opEndMs)
    def sumE(k: String) = qes.map(_.attrs(k)).sum
    val c = counters.withDefaultValue(0.0)
    val longest = if (stages.isEmpty) None
      else Some(stages.maxBy(s => s.endMs - s.startMs))
    val maxJoin = if (qes.isEmpty) 0.0 else qes.map(_.attrs("max_join_rows")).max
    val result = qes.map(_.attrs("result_rows")).filter(_ >= 0)
    Map(
      "build.s" -> buildS,
      "catalyst.executions" -> qes.size.toDouble,
      "catalyst.analysis_s" -> sumE("analysis_s"),
      "catalyst.optimization_s" -> sumE("optimization_s"),
      "catalyst.planning_s" -> sumE("planning_s"),
      "scheduler.jobs" -> jobs.size.toDouble,
      "scheduler.stages" -> stages.size.toDouble,
      "scheduler.tasks" -> c("scheduler.tasks"),
      "scheduler.driver_only_s" -> (wallMs - busyMs) / 1e3,
      "scheduler.task_wait_s" -> c("scheduler.task_wait_s"),
      "scheduler.slot_busy_ratio" ->
        (if (busyMs > 0) c("task.run_s") * 1e3 / (busyMs * cpus) else 0.0),
      "task.run_s" -> c("task.run_s"),
      "task.cpu_s" -> c("task.cpu_s"),
      "task.gc_s" -> c("task.gc_s"),
      "task.peak_exec_mb" -> c("task.peak_exec_mb"),
      "task.failed" -> c("task.failed"),
      "task.skew" -> longest.map(_.attrs("skew")).getOrElse(1.0),
      "scan.input_mb" -> c("scan.input_mb"),
      "scan.input_rows" -> c("scan.input_rows"),
      "shuffle.write_mb" -> c("shuffle.write_mb"),
      "shuffle.read_mb" -> c("shuffle.read_mb"),
      "shuffle.records" -> c("shuffle.records"),
      "shuffle.write_s" -> c("shuffle.write_s"),
      "shuffle.fetch_wait_s" -> c("shuffle.fetch_wait_s"),
      "shuffle.spill_mb" -> c("shuffle.spill_mb"),
      "shuffle.combine_ratio" ->
        (if (c("scan.input_rows") > 0) c("shuffle.records") / c("scan.input_rows")
         else 0.0),
      "plan.exchanges" -> sumE("exchanges"),
      "plan.reused_exchanges" -> sumE("reused_exchanges"),
      "plan.bhj" -> sumE("bhj"),
      "plan.shj" -> sumE("shj"),
      "plan.smj" -> sumE("smj"),
      "plan.join_yield" ->
        (if (maxJoin > 0 && result.nonEmpty) result.last / maxJoin else 0.0),
      "caching.release_s" -> releaseS,
      "caching.peak_mb" -> c("caching.peak_mb"),
      "streaming.batches" -> c("streaming.batches"),
      "streaming.trigger_s" -> c("streaming.trigger_s"),
      "streaming.add_batch_s" -> c("streaming.add_batch_s"),
      "streaming.wal_commit_s" -> c("streaming.wal_commit_s"),
      "streaming.commit_offsets_s" -> c("streaming.commit_offsets_s"),
      "streaming.state_commit_s" -> c("streaming.state_commit_s"),
      "streaming.state_rows" -> c("streaming.state_rows"),
      "streaming.state_mb" -> c("streaming.state_mb"),
      "streaming.state_partitions" -> c("streaming.state_partitions"),
      "sink.output_mb" -> c("sink.output_mb"))
  }
}
