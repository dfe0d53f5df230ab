package perfbench

import java.lang.management.{ManagementFactory, MemoryType}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBridge
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Layer tracing from outside graft: a SparkListener (jobs, stages, tasks,
  * task metrics, SQL execution starts), a QueryExecutionListener (planning
  * phases and plan size per Dataset action) and a StreamingQueryListener
  * (micro-batch progress). Events are kept in memory; [[Tracer.window]]
  * reduces the ones inside a wall-clock interval to per-layer numbers.
  * All times are epoch milliseconds, the clock Spark stamps events with.
  */
final class Tracer extends SparkListener with QueryExecutionListener {
  import Tracer._

  private val jobStarts = scala.collection.mutable.Map.empty[Int, Long]
  val jobs = ArrayBuffer.empty[(Long, Long)] // (start, end)
  val stages = ArrayBuffer.empty[StageEv]
  val tasks = ArrayBuffer.empty[TaskEv]
  val sqlStarts = ArrayBuffer.empty[Long]
  val actions = ArrayBuffer.empty[ActionEv]
  val batches = ArrayBuffer.empty[BatchEv]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobStarts(e.jobId) = e.time
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStarts.remove(e.jobId).foreach(s => jobs += ((s, e.time)))
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    stages += StageEv(i.completionTime.getOrElse(System.currentTimeMillis()),
      PerfbenchBridge.isShuffleMap(i))
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) tasks += TaskEv(e.stageId, e.taskInfo.finishTime, e.taskInfo.duration,
      m.executorRunTime, m.executorCpuTime / 1000000L, m.jvmGCTime,
      m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
      m.memoryBytesSpilled + m.diskBytesSpilled, m.inputMetrics.bytesRead)
  }
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    // top-level SQL executions only: a write command's nested query is one
    // user-visible execution, not two
    case s: SparkListenerSQLExecutionStart
        if s.rootExecutionId.forall(_ == s.executionId) => synchronized { sqlStarts += s.time }
    case _ =>
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val phases = qe.tracker.phases
    val planMs = Seq("analysis", "optimization", "planning").flatMap(phases.get).map(_.durationMs).sum
    val nodes = qe.optimizedPlan.collect { case _ => 1 }.size
    val end = System.currentTimeMillis()
    synchronized { actions += ActionEv(funcName, end - durationNs / 1000000L, end, planMs, nodes) }
  }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  val streaming: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.withDefaultValue(0L)
      val st = p.stateOperators.headOption
      Tracer.this.synchronized {
        batches += BatchEv(System.currentTimeMillis(), p.numInputRows,
          d("triggerExecution"), d("queryPlanning"), d("addBatch"),
          d("walCommit") + d("commitOffsets"),
          st.map(_.numRowsTotal).getOrElse(0L), st.map(_.memoryUsedBytes).getOrElse(0L))
      }
    }
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  }

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
    spark.streams.addListener(streaming)
  }
  def detach(spark: SparkSession): Unit = {
    drain(spark)
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
    spark.streams.removeListener(streaming)
  }
  def drain(spark: SparkSession): Unit = PerfbenchBridge.drainListenerBus(spark.sparkContext)

  /** Reduce the events inside [a, b] (epoch ms) to engine counters. */
  def window(a: Long, b: Long): Window = synchronized {
    val js = jobs.filter { case (s, e) => e >= a && s <= b }
      .map { case (s, e) => (math.max(s, a), math.min(e, b)) }
    val ts = tasks.filter(t => t.finish >= a && t.finish <= b)
    val ss = stages.filter(s => s.completed >= a && s.completed <= b)
    val skew = ts.groupBy(_.stageId).values.filter(_.size >= 2).map { g =>
      val d = g.map(_.duration.toDouble).sorted
      val med = d(d.size / 2)
      if (med <= 0) 1.0 else d.last / med
    }
    Window(
      wallMs = b - a,
      busyMs = unionLength(js.toSeq),
      jobs = js.size,
      stages = ss.size,
      tasks = ts.size,
      exchanges = ss.count(_.shuffleMap),
      taskRunMs = ts.map(_.runMs).sum,
      taskCpuMs = ts.map(_.cpuMs).sum,
      gcMs = ts.map(_.gcMs).sum,
      shuffleWrite = ts.map(_.shuffleWrite).sum,
      shuffleRead = ts.map(_.shuffleRead).sum,
      spill = ts.map(_.spill).sum,
      inputBytes = ts.map(_.input).sum,
      skewMax = if (skew.isEmpty) 1.0 else skew.max,
      sqlExecs = sqlStarts.count(t => t >= a && t <= b),
      actions = actions.filter(x => x.start >= a - 5 && x.end <= b + 5).toSeq)
  }
}

object Tracer {
  final case class StageEv(completed: Long, shuffleMap: Boolean)
  final case class TaskEv(stageId: Int, finish: Long, duration: Long, runMs: Long, cpuMs: Long,
                          gcMs: Long, shuffleWrite: Long, shuffleRead: Long, spill: Long,
                          input: Long)
  final case class ActionEv(funcName: String, start: Long, end: Long, planMs: Long, nodes: Int)
  final case class BatchEv(committed: Long, rows: Long, triggerMs: Long,
                           planningMs: Long, addBatchMs: Long, commitMs: Long,
                           stateRows: Long, stateBytes: Long)
  final case class Window(wallMs: Long, busyMs: Long, jobs: Int, stages: Int, tasks: Int,
                          exchanges: Int, taskRunMs: Long, taskCpuMs: Long, gcMs: Long,
                          shuffleWrite: Long, shuffleRead: Long, spill: Long,
                          inputBytes: Long, skewMax: Double,
                          sqlExecs: Int, actions: Seq[ActionEv])

  /** Total length covered by possibly overlapping intervals. */
  def unionLength(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    for ((s, e) <- iv.sortBy(_._1)) {
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Codegen compile count and (approximate, reservoir-sampled) time. */
  def codegen(): (Long, Double) = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    (h.getCount, h.getSnapshot.getMean)
  }

  def jvmGcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ > 0).sum

  def resetHeapPeak(): Unit =
    ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)
      .foreach(_.resetPeakUsage())

  def heapPeakMb(): Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0
}
