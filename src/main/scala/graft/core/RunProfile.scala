package graft.core

import scala.collection.mutable

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** Where one run's Spark-side time and rows went: jobs, stages and tasks,
  * executor run/CPU/GC time, shuffle bytes and records, spill, per-stage
  * task skew, and per SQL execution its Catalyst phase times, output rows,
  * per-operator rows and `observe()` metrics.
  *
  * One SparkListener plus one QueryExecutionListener, scoped to the run by
  * a job tag on the starting thread (`SparkContext.addJobTag`, which leaves
  * a caller's job group alone). Jobs carry the tag in their properties,
  * broadcast-exchange jobs included (they capture the caller's local
  * properties), and so do the SQL execution start events; a job from a
  * thread without the tag is not counted. Both listeners sit on the
  * listener bus's shared queue, the session's query-execution bus ahead of
  * this SparkListener, so a query's `onSuccess`/`onFailure` is delivered
  * right before this listener sees the same execution's end event: the
  * query is kept only if its execution started under the tag. Numbers are
  * copied out inside the callbacks; no QueryExecution or SparkPlan is kept
  * (a final AQE plan holds its broadcast relations).
  *
  * Usage: [[RunProfile.start]] on the thread that runs the work,
  * [[summary]] (drains the listener bus) when it is done, [[close]] in a
  * `finally`; or [[RunProfile.record]] for a block.
  */
final class RunProfile private (spark: SparkSession)
    extends SparkListener with QueryExecutionListener with AutoCloseable {
  import RunProfile._

  private val tag = TagPrefix + java.util.UUID.randomUUID().toString
  private val sc = spark.sparkContext
  private val codegen0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  // listener-bus state, read by summary() after a drain
  private val executions = mutable.Set.empty[Long]
  private val stageIds = mutable.Set.empty[Int]
  private val taskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  private val stages = mutable.ArrayBuffer.empty[Stage]
  private val queries = mutable.ArrayBuffer.empty[Query]
  private var pending: Option[Query] = None
  private var jobs, tasks = 0
  private var runMs, cpuNs, gcMs, readBytes, readRecords, writeBytes, writeRecords, spill = 0L

  spark.listenerManager.register(this) // first: the session's bus must precede this listener
  sc.addSparkListener(this)
  sc.addJobTag(tag)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val tags = Option(e.properties).flatMap(p => Option(p.getProperty(JobTagsKey))).getOrElse("")
    if (tags.split(',').contains(tag)) synchronized { jobs += 1; stageIds ++= e.stageIds }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (stageIds(e.stageId)) {
      tasks += 1
      taskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration
      Option(e.taskMetrics).foreach { m =>
        runMs += m.executorRunTime
        cpuNs += m.executorCpuTime
        gcMs += m.jvmGCTime
        readBytes += m.shuffleReadMetrics.totalBytesRead
        readRecords += m.shuffleReadMetrics.recordsRead
        writeBytes += m.shuffleWriteMetrics.bytesWritten
        writeRecords += m.shuffleWriteMetrics.recordsWritten
        spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val id = e.stageInfo.stageId
    if (stageIds(id)) {
      val ms = taskMs.remove(id).map(_.sorted).getOrElse(mutable.ArrayBuffer.empty[Long])
      stages += Stage(id, e.stageInfo.numTasks,
        ms.lastOption.getOrElse(0L), if (ms.isEmpty) 0L else ms(ms.size / 2))
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      if (s.jobTags.contains(tag)) synchronized { executions += s.executionId }
    case end: SparkListenerSQLExecutionEnd => synchronized {
      if (executions.remove(end.executionId)) queries ++= pending
      pending = None
    }
    case _ => ()
  }

  override def onSuccess(action: String, qe: QueryExecution, durationNs: Long): Unit = {
    val plan = qe.executedPlan
    val q = Query(action, durationNs, failed = false,
      qe.tracker.phases.map { case (k, p) => k -> p.durationMs },
      outputRows(plan), operators(plan), qe.observedMetrics)
    synchronized { pending = Some(q) }
  }

  override def onFailure(action: String, qe: QueryExecution, ex: Exception): Unit =
    synchronized { pending = Some(Query(action, -1L, failed = true, Map.empty, -1L, Nil, Map.empty)) }

  /** What the run has done so far, after every event posted before this
    * call has reached the listeners. */
  def summary(): Summary = {
    // a bus that cannot drain (a stopped context) leaves what arrived so far
    try org.apache.spark.sql.GraftColumnBridge.drainListeners(spark)
    catch { case scala.util.control.NonFatal(_) => () }
    synchronized {
      Summary(jobs, stages.size, tasks, runMs, cpuNs / 1000000L, gcMs,
        readBytes, readRecords, writeBytes, writeRecords, spill,
        CodegenMetrics.METRIC_COMPILATION_TIME.getCount - codegen0,
        stages.toSeq, queries.toSeq)
    }
  }

  /** Stop listening and untag the thread; call on the thread that started
    * the profile. */
  def close(): Unit = {
    sc.removeJobTag(tag)
    sc.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }
}

object RunProfile {

  /** Every profile's job tag starts with this. */
  val TagPrefix = "graft-run-"
  private val JobTagsKey = "spark.job.tags" // SparkContext.SPARK_JOB_TAGS

  /** Profile `body`, run on this thread. A body that throws loses its
    * profile: catch inside the body to keep it. */
  def record[T](spark: SparkSession)(body: => T): (T, Summary) = {
    val p = start(spark)
    try { val t = body; (t, p.summary()) } finally p.close()
  }

  def start(spark: SparkSession): RunProfile = new RunProfile(spark)

  /** One completed stage: its task count and task-time spread. */
  final case class Stage(stageId: Int, tasks: Int, maxTaskMs: Long, medianTaskMs: Long)

  /** One SQL execution: the Dataset action that ran it, its duration,
    * Catalyst phase times, the rows it produced (-1 when its plan has no
    * row metric), rows per physical operator (final AQE plan, query
    * stages included) and its `observe()` metrics. */
  final case class Query(action: String, durationNs: Long, failed: Boolean,
                         phaseMs: Map[String, Long], outputRows: Long,
                         operators: Seq[(String, Long)], observed: Map[String, Row])

  /** A run's profile. `codegenClasses` counts the classes compiled in the
    * JVM while the run was profiled, whoever asked for them. */
  final case class Summary(jobs: Int, stages: Int, tasks: Int,
                           executorRunMs: Long, executorCpuMs: Long, gcMs: Long,
                           shuffleReadBytes: Long, shuffleReadRecords: Long,
                           shuffleWriteBytes: Long, shuffleWriteRecords: Long,
                           spillBytes: Long, codegenClasses: Long,
                           stageList: Seq[Stage], queries: Seq[Query]) {

    /** Max over stages of max/median task time (1.0 when no stage ran). */
    def skewRatioMax: Double =
      stageList.map(s => s.maxTaskMs.toDouble / math.max(1L, s.medianTaskMs)).maxOption.getOrElse(1.0)

    /** Catalyst phase times summed over the run's queries. */
    def phaseMs: Map[String, Long] =
      queries.flatMap(_.phaseMs).groupMapReduce(_._1)(_._2)(_ + _)

    /** Per observed-metrics name, the row of the LAST query that ran it:
      * eager actions inside ops run upstream nodes too, and a query whose
      * plan dropped a node does not report it. */
    def observed: Map[String, Row] = queries.foldLeft(Map.empty[String, Row])(_ ++ _.observed)

    /** The run's totals, flat. */
    def totals: Seq[(String, Any)] = Seq(
      "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks, "queries" -> queries.size,
      "executor_run_ms" -> executorRunMs, "executor_cpu_ms" -> executorCpuMs, "gc_ms" -> gcMs,
      "shuffle_read_bytes" -> shuffleReadBytes, "shuffle_read_records" -> shuffleReadRecords,
      "shuffle_write_bytes" -> shuffleWriteBytes, "shuffle_write_records" -> shuffleWriteRecords,
      "spill_bytes" -> spillBytes, "codegen_classes" -> codegenClasses,
      "skew_ratio_max" -> skewRatioMax)

    /** Totals, phase times and per query its rows out and rows per
      * operator, as one JSON object. */
    def toJson: String = Json.value((totals ++ Seq(
      "phase_ms" -> phaseMs,
      "query_rows" -> queries.map(q => Map("action" -> q.action, "rows" -> q.outputRows,
        "operators" -> q.operators.map { case (op, n) => Seq(op, n) })))).toMap)

    /** Pour the run's queries into the observability registry: per action a
      * duration histogram, an output-rows counter and a failure counter. */
    def exportTo(registry: Metrics.Collector): Unit = queries.foreach { q =>
      val tags = Map("action" -> q.action)
      if (q.failed) registry.recordCounter("query_failures", 1.0, tags)
      else {
        registry.recordHistogram("query_duration_seconds", q.durationNs / 1e9, tags)
        if (q.outputRows >= 0) registry.recordCounter("query_output_rows", q.outputRows.toDouble, tags)
      }
    }
  }

  val empty: Summary = Summary(0, 0, 0, 0L, 0L, 0L, 0L, 0L, 0L, 0L, 0L, 0L, Nil, Nil)

  /** Rows a query produced: `numOutputRows` of the topmost node that
    * defines it. Write, `collect` and `count` roots carry no such metric,
    * so this looks down single-child chains, through AQE's final plan,
    * query stages and codegen wrappers; -1 when that chain has none. */
  private[core] def outputRows(plan: SparkPlan): Long = plan match {
    case a: AdaptiveSparkPlanExec => outputRows(a.executedPlan)
    case s: QueryStageExec => outputRows(s.plan)
    case _ => plan.metrics.get("numOutputRows").map(_.value).getOrElse(plan.children match {
      case Seq(only) => outputRows(only)
      case _ => -1L
    })
  }

  /** (operator, rows out) for every node of the final plan that counts its
    * output rows, top down. */
  private[core] def operators(plan: SparkPlan): Seq[(String, Long)] = plan match {
    case a: AdaptiveSparkPlanExec => operators(a.executedPlan)
    case s: QueryStageExec => operators(s.plan)
    case _ => plan.metrics.get("numOutputRows").map(m => plan.nodeName -> m.value).toSeq ++
      plan.children.flatMap(operators)
  }
}
