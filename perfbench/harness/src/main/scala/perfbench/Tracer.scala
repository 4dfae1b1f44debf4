package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.PerfbenchAccess
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Collects the per-layer record of traced passes from Spark's public
  * listeners: `SparkListener` (jobs, stages, task metrics),
  * `QueryExecutionListener` (planning phases and executed-plan metrics of
  * every action an op issues), `StreamingQueryListener` (micro-batch
  * phases and state store) and the JVM's GC notifications.
  *
  * Every record carries the sequence number of the op it belongs to. Jobs
  * are scoped by the op's Spark job tag; the other events by the op that
  * was current when they were delivered, which is exact because the
  * harness runs one op at a time and drains the listener bus before the
  * next op starts. Records stay in memory until the run ends.
  */
final class Tracer(spark: SparkSession) extends AdaptiveSparkPlanHelper {
  import Tracer._

  @volatile private var currentOp: Long = -1L
  val jobs = mutable.ArrayBuffer.empty[Map[String, Any]]
  val stages = mutable.ArrayBuffer.empty[Map[String, Any]]
  val queries = mutable.ArrayBuffer.empty[Map[String, Any]]
  val progress = mutable.ArrayBuffer.empty[Map[String, Any]]
  val gcs = mutable.ArrayBuffer.empty[Map[String, Any]]

  private val jobOp = mutable.Map.empty[Int, Long]
  private val jobStart = mutable.Map.empty[Int, (Long, Seq[Int])]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val submitted = mutable.Set.empty[Int]
  private val taskAcc = mutable.Map.empty[(Int, Int), TaskAcc]

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val tags = Option(e.properties).flatMap(p => Option(p.getProperty(JobTagsKey)))
        .toSeq.flatMap(_.split(",")).filter(_.startsWith(OpTagPrefix))
      val op = tags.headOption.map(_.stripPrefix(OpTagPrefix).toLong).getOrElse(currentOp)
      jobOp(e.jobId) = op
      jobStart(e.jobId) = (e.time, e.stageIds)
      e.stageIds.foreach(s => stageJob(s) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      val (start, stageIds) = jobStart.remove(e.jobId).getOrElse((e.time, Nil))
      jobs += Map("op" -> jobOp.getOrElse(e.jobId, currentOp), "job" -> e.jobId,
        "start_ms" -> start, "end_ms" -> e.time, "stages" -> stageIds.size,
        "skipped" -> stageIds.count(s => !submitted(s)),
        "ok" -> (e.jobResult == JobSucceeded))
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = Tracer.this.synchronized {
      submitted += e.stageInfo.stageId
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val acc = taskAcc.getOrElseUpdate((e.stageId, e.stageAttemptId), new TaskAcc)
      acc.add(e)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Tracer.this.synchronized {
      val info = e.stageInfo
      val acc = taskAcc.remove((info.stageId, info.attemptNumber())).getOrElse(new TaskAcc)
      val job = stageJob.getOrElse(info.stageId, -1)
      stages += acc.record ++ Map("op" -> jobOp.getOrElse(job, currentOp),
        "stage" -> info.stageId, "attempt" -> info.attemptNumber(), "job" -> job,
        "submit_ms" -> info.submissionTime.getOrElse(-1L),
        "end_ms" -> info.completionTime.getOrElse(-1L),
        "num_tasks" -> info.numTasks, "ok" -> info.failureReason.isEmpty)
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(queries, queryRecord(currentOp, funcName, qe, durationNs, ok = true))
    override def onFailure(funcName: String, qe: QueryExecution, error: Exception): Unit =
      record(queries, queryRecord(currentOp, funcName, qe, 0L, ok = false))
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      record(progress, Map("op" -> currentOp, "query" -> p.id.toString,
        "batch" -> p.batchId, "input_rows" -> p.numInputRows, "duration_ms" -> d,
        "state_rows" -> p.stateOperators.map(_.numRowsTotal).sum,
        "state_bytes" -> p.stateOperators.map(_.memoryUsedBytes).sum,
        "state_commit_ms" -> p.stateOperators.map(_.commitTimeMs).sum))
    }
  }

  private val heapPools: Set[String] = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet

  private val gcListener = new NotificationListener {
    override def handleNotification(n: Notification, handback: Any): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val after = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        record(gcs, Map("op" -> currentOp, "gc" -> info.getGcName,
          "duration_ms" -> info.getGcInfo.getDuration, "heap_after_mb" -> after / MiB))
      }
  }

  private def gcEmitters = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .collect { case e: NotificationEmitter => e }

  private def record(buf: mutable.ArrayBuffer[Map[String, Any]], r: Map[String, Any]): Unit =
    synchronized { buf += r }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
    gcEmitters.foreach(_.addNotificationListener(gcListener, null, null))
  }

  def detach(): Unit = {
    PerfbenchAccess.drainListenerBus(spark.sparkContext)
    gcEmitters.foreach(e => try e.removeNotificationListener(gcListener)
      catch { case _: javax.management.ListenerNotFoundException => () })
    spark.streams.removeListener(streamListener)
    spark.listenerManager.unregister(queryListener)
    spark.sparkContext.removeSparkListener(sparkListener)
  }

  def beginOp(seq: Long): Unit = currentOp = seq

  /** Called after the op's timed region: delivers its pending events. */
  def endOp(seq: Long): Unit = {
    PerfbenchAccess.drainListenerBus(spark.sparkContext)
    currentOp = -1L
  }

  /** The op's own final action is consumed through `toRdd`, which no
    * `QueryExecutionListener` sees; record it the same way.
    */
  def mainQuery(seq: Long, qe: QueryExecution, durationNs: Long): Unit =
    record(queries, queryRecord(seq, "op", qe, durationNs, ok = true))

  private def queryRecord(op: Long, func: String, qe: QueryExecution,
                          durationNs: Long, ok: Boolean): Map[String, Any] = {
    val phases = qe.tracker.phases
    def phase(n: String) = phases.get(n).map(_.durationMs).getOrElse(0L)
    Map("op" -> op, "func" -> func, "ok" -> ok,
      "end_ms" -> System.currentTimeMillis(), "duration_ms" -> durationNs / 1e6,
      "analysis_ms" -> phase("analysis"), "optimization_ms" -> phase("optimization"),
      "planning_ms" -> phase("planning"),
      "join_rows_out" -> (if (ok) sumMetric(qe.executedPlan, isJoin, "numOutputRows") else 0L),
      "scan_bytes" -> (if (ok) sumMetric(qe.executedPlan, isScan, "filesSize") else 0L))
  }

  private def isJoin(node: SparkPlan) =
    node.nodeName.endsWith("Join") || node.nodeName == "CartesianProduct"
  private def isScan(node: SparkPlan) = node.nodeName.startsWith("Scan")

  /** Σ of one SQL metric over the matching nodes of an executed plan,
    * descending into adaptive query stages.
    */
  private def sumMetric(plan: SparkPlan, matches: SparkPlan => Boolean, metric: String): Long = {
    var total = 0L
    foreach(plan) { node =>
      if (matches(node)) total += node.metrics.get(metric).map(_.value).getOrElse(0L)
    }
    total
  }
}

object Tracer {
  val JobTagsKey = "spark.job.tags"
  val OpTagPrefix = "perfbench-op-"
  val MiB: Double = 1024.0 * 1024.0

  /** Task metrics of one stage attempt, summed as tasks end. */
  final class TaskAcc {
    var tasks = 0
    var runMs, deserMs, gcMs, schedDelayMs = 0L
    var cpuNs, shuffleWriteNs = 0L
    var peakMem = 0L
    var shuffleWriteBytes, shuffleWriteRecords = 0L
    var shuffleReadBytes, shuffleReadRecords, fetchWaitMs = 0L
    var inputRecords = 0L
    var spillBytes = 0L
    val taskReadBytes = mutable.ArrayBuffer.empty[Long]

    def add(e: SparkListenerTaskEnd): Unit = {
      tasks += 1
      val m = e.taskMetrics
      if (m == null) return
      val info = e.taskInfo
      runMs += m.executorRunTime
      deserMs += m.executorDeserializeTime
      gcMs += m.jvmGCTime
      cpuNs += m.executorCpuTime
      peakMem = math.max(peakMem, m.peakExecutionMemory)
      val duration = if (info != null && info.finishTime > 0) info.finishTime - info.launchTime else 0L
      schedDelayMs += math.max(0L, duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime)
      val w = m.shuffleWriteMetrics
      shuffleWriteBytes += w.bytesWritten
      shuffleWriteRecords += w.recordsWritten
      shuffleWriteNs += w.writeTime
      val r = m.shuffleReadMetrics
      shuffleReadBytes += r.totalBytesRead
      shuffleReadRecords += r.recordsRead
      fetchWaitMs += r.fetchWaitTime
      if (r.totalBytesRead > 0) taskReadBytes += r.totalBytesRead
      inputRecords += m.inputMetrics.recordsRead
      spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }

    def record: Map[String, Any] = Map(
      "tasks" -> tasks, "run_ms" -> runMs, "cpu_ns" -> cpuNs, "deser_ms" -> deserMs,
      "gc_ms" -> gcMs, "sched_delay_ms" -> schedDelayMs, "peak_mem_bytes" -> peakMem,
      "shuffle_write_bytes" -> shuffleWriteBytes, "shuffle_write_records" -> shuffleWriteRecords,
      "shuffle_write_ns" -> shuffleWriteNs, "shuffle_read_bytes" -> shuffleReadBytes,
      "shuffle_read_records" -> shuffleReadRecords, "fetch_wait_ms" -> fetchWaitMs,
      "input_records" -> inputRecords,
      "spill_bytes" -> spillBytes, "task_read_bytes" -> taskReadBytes.toList)
  }
}
