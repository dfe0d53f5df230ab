package graft.core

import scala.collection.mutable

/** Structured JSON event logging — graft's equivalent of the reference's
  * `monitoring/structured_logging.py` (StructuredLogger / ContextualLogger /
  * PipelineLogger / LogAnalyzer). Closes the last monitoring-directory
  * surface: metrics_collector → [[Metrics]], health_check →
  * [[Metrics.HealthChecker]] (round 6), structured_logging → here.
  *
  * Every event is ONE JSON line: `timestamp` (ISO-8601), `logger`, `level`,
  * `event` (the message), then the logger's persistent context and the
  * call's fields (keys sorted — the reference's JSONRenderer sorts too, so
  * lines diff stably). The sink is injectable (stdout by default; tests
  * capture, production points at a rotated file); the clock is injectable
  * for deterministic tests (the Metrics precedent).
  *
  * Domain events carry the reference's exact field names
  * (`event_type=pipeline_start/pipeline_end/data_quality_check/
  * performance_metric/data_transformation/data_lineage/data_load/
  * data_write`, derived `records_per_second`, success→info failure→error
  * level routing), so a LogAnalyzer written against the reference's logs
  * reads these unchanged.
  *
  * DRIVER-side orchestration logging — nothing here touches executors.
  * [[PipelineLogger]] optionally bridges durations/record counts into a
  * [[Metrics.Collector]] (the Spark-metrics bridge pattern), so threshold
  * alerting and Prometheus export see pipeline activity for free.
  */
object StructuredLog {

  /** structured_logging.py:16-182. `sink` receives one JSON line per event. */
  final class StructuredLogger(val name: String,
                               sink: String => Unit = println(_),
                               clock: () => Long = () => System.currentTimeMillis()) {
    private val context = mutable.LinkedHashMap.empty[String, Any]

    def setContext(kvs: (String, Any)*): Unit = synchronized { context ++= kvs }
    def clearContext(): Unit = synchronized { context.clear() }
    private[core] def snapshotContext: Map[String, Any] = synchronized { context.toMap }
    private[core] def restoreContext(saved: Map[String, Any]): Unit = synchronized {
      context.clear(); context ++= saved
    }

    private def iso(ms: Long): String =
      java.time.Instant.ofEpochMilli(ms).toString

    // the four head keys are RESERVED: a context/field under one of these
    // names would emit a duplicate JSON member, and last-wins parsers
    // (Json.parse included) would read the caller's value as the event's
    // level/identity — e.g. an error event re-leveled by a context field
    private val ReservedKeys = Set("timestamp", "logger", "level", "event")

    @volatile private var sinkBroken = false

    private def emit(level: String, message: String, fields: Seq[(String, Any)]): Unit = {
      val merged = synchronized { (context.toSeq ++ fields) }
      val head = Seq(
        s"${Json.str("timestamp")}:${Json.str(iso(clock()))}",
        s"${Json.str("logger")}:${Json.str(name)}",
        s"${Json.str("level")}:${Json.str(level)}",
        s"${Json.str("event")}:${Json.str(message)}")
      val body = merged.toMap.toSeq
        .filterNot { case (k, _) => ReservedKeys(k) }
        .sortBy(_._1)
        .map { case (k, v) => s"${Json.str(k)}:${Json.value(v)}" }
      // observability must never take the pipeline down: a failing sink
      // (unwritable --log-file path, disk full) drops events with ONE
      // stderr warning instead of throwing into the caller — an exception
      // here would otherwise re-throw from the pipeline's own error
      // handler (which logs) and mask the real Result
      try {
        sink((head ++ body).mkString("{", ",", "}"))
        sinkBroken = false
      } catch {
        case e: Exception =>
          if (!sinkBroken) System.err.println(
            s"[structured-log] sink failed (${e.getClass.getSimpleName}: ${e.getMessage}) — dropping events")
          sinkBroken = true
      }
    }

    def debug(message: String, fields: (String, Any)*): Unit = emit("debug", message, fields)
    def info(message: String, fields: (String, Any)*): Unit = emit("info", message, fields)
    def warning(message: String, fields: (String, Any)*): Unit = emit("warning", message, fields)
    def error(message: String, fields: (String, Any)*): Unit = emit("error", message, fields)
    def critical(message: String, fields: (String, Any)*): Unit = emit("critical", message, fields)

    /** error + captured stack trace (the reference's `exception`). */
    def exception(message: String, t: Throwable, fields: (String, Any)*): Unit = {
      val sw = new java.io.StringWriter
      t.printStackTrace(new java.io.PrintWriter(sw))
      emit("error", message, fields :+ ("traceback" -> sw.toString))
    }

    // ---- domain events (structured_logging.py:97-182) ----

    def logPipelineStart(pipelineName: String, config: Map[String, Any],
                         runId: String = java.util.UUID.randomUUID().toString): Unit =
      info("Pipeline started",
        "event_type" -> "pipeline_start", "pipeline_name" -> pipelineName,
        "pipeline_config" -> config, "run_id" -> runId)

    def logPipelineEnd(pipelineName: String, status: String, durationSeconds: Double,
                       recordsProcessed: Long = 0L,
                       errorMessage: Option[String] = None,
                       extra: Seq[(String, Any)] = Nil): Unit = {
      val base = Seq[(String, Any)](
        "event_type" -> "pipeline_end", "pipeline_name" -> pipelineName,
        "status" -> status, "duration_seconds" -> durationSeconds,
        "records_processed" -> recordsProcessed) ++
        errorMessage.map("error_message" -> _) ++ extra
      if (status == "success") info("Pipeline completed successfully", base: _*)
      else error("Pipeline failed", base: _*)
    }

    def logDataQualityCheck(tableName: String, metricName: String, value: Double,
                            threshold: Double, status: String): Unit =
      info("Data quality check completed",
        "event_type" -> "data_quality_check", "table_name" -> tableName,
        "metric_name" -> metricName, "metric_value" -> value,
        "threshold" -> threshold, "status" -> status)

    def logPerformanceMetric(operation: String, durationSeconds: Double,
                             recordsCount: Option[Long] = None,
                             memoryUsageMb: Option[Double] = None): Unit = {
      val extra = recordsCount.toSeq.flatMap(n => Seq[(String, Any)](
        "records_count" -> n,
        "records_per_second" -> (if (durationSeconds > 0) n / durationSeconds else 0.0))) ++
        memoryUsageMb.map("memory_usage_mb" -> _)
      info("Performance metric",
        (Seq[(String, Any)]("event_type" -> "performance_metric",
          "operation" -> operation, "duration_seconds" -> durationSeconds) ++ extra): _*)
    }

    def logTransformation(transformationType: String, inputRecords: Long,
                          outputRecords: Long, durationSeconds: Double): Unit =
      info("Data transformation completed",
        "event_type" -> "data_transformation", "transformation_type" -> transformationType,
        "input_records" -> inputRecords, "output_records" -> outputRecords,
        "duration_seconds" -> durationSeconds,
        "records_per_second" -> (if (durationSeconds > 0) inputRecords / durationSeconds else 0.0))

    def logDataLineage(sourceTable: String, targetTable: String,
                       transformationType: String, pipelineName: String): Unit =
      info("Data lineage tracked",
        "event_type" -> "data_lineage", "source_table" -> sourceTable,
        "target_table" -> targetTable, "transformation_type" -> transformationType,
        "pipeline_name" -> pipelineName)
  }

  /** ContextualLogger (structured_logging.py:215-244) as a loan pattern:
    * temporary context for the block, restored on exit; a throw logs the
    * reference's exception event (type + message + traceback) and
    * propagates.
    */
  def withContext[T](logger: StructuredLogger, kvs: (String, Any)*)(f: StructuredLogger => T): T = {
    val saved = logger.snapshotContext
    logger.setContext(kvs: _*)
    try f(logger)
    catch {
      case e: Throwable =>
        logger.exception("Exception occurred in contextual logger", e,
          "exception_type" -> e.getClass.getSimpleName,
          "exception_message" -> String.valueOf(e.getMessage))
        throw e
    } finally logger.restoreContext(saved)
  }

  /** PipelineLogger (structured_logging.py:247-335): run-scoped logger
    * whose every event carries (pipeline_name, run_id); step timers;
    * load/write events. `metrics` bridges durations and record counts into
    * the observability registry (pipeline_duration_seconds,
    * step_duration_seconds{step=...}, pipeline_records_processed) so the
    * AlertManager/Prometheus surface sees pipeline activity.
    */
  final class PipelineLogger(val pipelineName: String,
                             runId: String = java.util.UUID.randomUUID().toString,
                             sink: String => Unit = println(_),
                             clock: () => Long = () => System.currentTimeMillis(),
                             metrics: Option[Metrics.Collector] = None) {
    val logger = new StructuredLogger(s"pipeline.$pipelineName", sink, clock)
    logger.setContext("pipeline_name" -> pipelineName, "run_id" -> runId)

    private var startMs: Option[Long] = None
    private val stepTimers = mutable.LinkedHashMap.empty[String, Long]

    def startPipeline(config: Map[String, Any]): Unit = {
      startMs = Some(clock())
      logger.logPipelineStart(pipelineName, config, runId)
    }

    /** `profile`: the run's [[RunProfile]], whose totals (jobs, stages,
      * tasks, shuffle, ...) the pipeline_end event carries. */
    def endPipeline(status: String, recordsProcessed: Long = 0L,
                    errorMessage: Option[String] = None,
                    profile: Option[RunProfile.Summary] = None): Unit =
      startMs.foreach { t0 =>
        val dur = (clock() - t0) / 1000.0
        logger.logPipelineEnd(pipelineName, status, dur, recordsProcessed, errorMessage,
          profile.toSeq.flatMap(_.totals))
        metrics.foreach { c =>
          val tags = Map("pipeline" -> pipelineName, "status" -> status)
          c.recordHistogram("pipeline_duration_seconds", dur, tags)
          c.recordCounter("pipeline_records_processed", recordsProcessed.toDouble, tags)
        }
      }

    def startStep(stepName: String): Unit = {
      stepTimers(stepName) = clock()
      logger.info(s"Starting step: $stepName", "step" -> stepName)
    }

    def endStep(stepName: String, recordsProcessed: Option[Long] = None): Unit =
      stepTimers.remove(stepName).foreach { t0 =>
        val dur = (clock() - t0) / 1000.0
        val extra = recordsProcessed.toSeq.flatMap(n => Seq[(String, Any)](
          "records_processed" -> n,
          "records_per_second" -> (if (dur > 0) n / dur else 0.0)))
        logger.info(s"Completed step: $stepName",
          (Seq[(String, Any)]("step" -> stepName, "duration_seconds" -> dur) ++ extra): _*)
        metrics.foreach(_.recordHistogram("step_duration_seconds", dur,
          Map("pipeline" -> pipelineName, "step" -> stepName)))
      }

    def logStepError(stepName: String, error: Throwable): Unit = {
      val sw = new java.io.StringWriter
      error.printStackTrace(new java.io.PrintWriter(sw))
      logger.error(s"Error in step: $stepName",
        "step" -> stepName, "error_type" -> error.getClass.getSimpleName,
        "error_message" -> String.valueOf(error.getMessage), "traceback" -> sw.toString)
    }

    def logDataLoad(source: String, recordsLoaded: Long, durationSeconds: Double): Unit =
      logger.info("Data loaded",
        "event_type" -> "data_load", "source" -> source, "records_loaded" -> recordsLoaded,
        "duration_seconds" -> durationSeconds,
        "records_per_second" -> (if (durationSeconds > 0) recordsLoaded / durationSeconds else 0.0))

    def logDataWrite(destination: String, recordsWritten: Long, durationSeconds: Double): Unit =
      logger.info("Data written",
        "event_type" -> "data_write", "destination" -> destination,
        "records_written" -> recordsWritten, "duration_seconds" -> durationSeconds,
        "records_per_second" -> (if (durationSeconds > 0) recordsWritten / durationSeconds else 0.0))
  }

  /** LogAnalyzer (structured_logging.py:367-462) over captured lines —
    * junk/non-JSON lines skip silently (the reference's JSONDecodeError
    * path).
    */
  final class LogAnalyzer(lines: Seq[String]) {

    def parseLogs: Seq[Map[String, Any]] = lines.flatMap { raw =>
      val line = raw.trim
      if (line.isEmpty) None
      else try {
        Json.parse(line) match {
          case m: Map[_, _] => Some(m.map { case (k, v) => k.toString -> v })
          case _            => None
        }
      } catch { case _: IllegalArgumentException => None }
    }

    private def num(v: Any): Double = v match {
      case d: Double => d
      case l: Long   => l.toDouble
      case _         => 0.0
    }

    /** get_pipeline_metrics: run counts, success rate, average duration,
      * total records — empty map when the pipeline never logged.
      */
    def pipelineMetrics(pipelineName: String): Map[String, Any] = {
      val logs = parseLogs.filter(_.get("pipeline_name").contains(pipelineName))
      if (logs.isEmpty) Map.empty
      else {
        val starts = logs.count(_.get("event_type").contains("pipeline_start"))
        val ends = logs.filter(_.get("event_type").contains("pipeline_end"))
        val ok = ends.count(_.get("status").contains("success"))
        val failed = ends.size - ok
        val durations = ends.map(l => num(l.getOrElse("duration_seconds", 0.0)))
        Map(
          "pipeline_name" -> pipelineName,
          "total_runs" -> starts.toLong,
          "successful_runs" -> ok.toLong,
          "failed_runs" -> failed.toLong,
          "success_rate" -> (if (starts > 0) ok.toDouble / starts else 0.0),
          "average_duration_seconds" ->
            (if (durations.nonEmpty) durations.sum / durations.size else 0.0),
          "total_records_processed" ->
            ends.map(l => num(l.getOrElse("records_processed", 0L)).toLong).sum)
      }
    }

    /** get_error_summary: error-level events bucketed by error_type. */
    def errorSummary: Map[String, Int] =
      parseLogs.filter(_.get("level").contains("error"))
        .groupBy(l => l.getOrElse("error_type", "Unknown").toString)
        .map { case (k, v) => k -> v.size }
  }

  object LogAnalyzer {
    /** File-backed constructor (the reference's shape); missing file → no logs. */
    def fromFile(path: String): LogAnalyzer = {
      val p = java.nio.file.Paths.get(path)
      val lines =
        if (java.nio.file.Files.exists(p))
          scala.jdk.CollectionConverters.ListHasAsScala(
            java.nio.file.Files.readAllLines(p)).asScala.toSeq
        else Seq.empty
      new LogAnalyzer(lines)
    }
  }
}
