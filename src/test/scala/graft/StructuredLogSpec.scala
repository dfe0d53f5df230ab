package graft

import java.nio.file.Files
import graft.core.{Json, Metrics, Pipeline, StructuredLog}
import graft.core.StructuredLog._

/** Structured JSON event logging — mirrors the reference's
  * monitoring/structured_logging.py behaviors: event shape, persistent and
  * temporary context, domain events with derived fields, the run-scoped
  * PipelineLogger with step timers, the LogAnalyzer reductions, and the
  * Pipeline.execute integration (a full correlated run).
  */
class StructuredLogSpec extends SparkSpec {
  import spark.implicits._

  private def capture(): (scala.collection.mutable.ArrayBuffer[String], String => Unit) = {
    val buf = scala.collection.mutable.ArrayBuffer.empty[String]
    (buf, (line: String) => buf.synchronized { buf += line })
  }

  private def fixedClock(t0: Long): (() => Long, Long => Unit) = {
    var now = t0
    (() => now, (t: Long) => { now = t })
  }

  private def parsed(line: String): Map[String, Any] =
    Json.parse(line).asInstanceOf[Map[String, Any]]

  test("event lines are parseable JSON with timestamp/logger/level/event + context + fields") {
    val (buf, sink) = capture()
    val (clock, _) = fixedClock(1700000000000L)
    val log = new StructuredLogger("etl", sink, clock)
    log.setContext("env" -> "test", "zone" -> "eu")
    log.info("hello", "rows" -> 42L, "ratio" -> 0.5, "ok" -> true, "note" -> "a \"b\"\nc")
    val m = parsed(buf.head)
    assert(m("timestamp") == "2023-11-14T22:13:20Z")
    assert(m("logger") == "etl" && m("level") == "info" && m("event") == "hello")
    assert(m("env") == "test" && m("zone") == "eu")
    assert(m("rows") == 42L && m("ratio") == 0.5 && m("ok") == true)
    assert(m("note") == "a \"b\"\nc", "hostile strings round-trip")
    log.clearContext()
    log.warning("later")
    assert(!parsed(buf(1)).contains("env"), "clearContext drops persistent context")
    assert(parsed(buf(1))("level") == "warning")
  }

  test("withContext adds temporary context, restores on exit, and logs the exception event on throw") {
    val (buf, sink) = capture()
    val log = new StructuredLogger("ctx", sink)
    log.setContext("base" -> "yes")
    StructuredLog.withContext(log, "batch" -> 7L) { l => l.info("inside") }
    log.info("outside")
    assert(parsed(buf(0))("batch") == 7L && parsed(buf(0))("base") == "yes")
    assert(!parsed(buf(1)).contains("batch"), "temporary context restored")
    val boom = intercept[RuntimeException] {
      StructuredLog.withContext(log, "batch" -> 8L) { _ => throw new RuntimeException("nope") }
    }
    assert(boom.getMessage == "nope", "exception propagates")
    val ex = parsed(buf(2))
    assert(ex("level") == "error" && ex("exception_type") == "RuntimeException")
    assert(ex("exception_message") == "nope")
    assert(ex("traceback").toString.contains("RuntimeException"), "traceback captured")
  }

  test("domain events: end status routes level, performance metric derives records_per_second") {
    val (buf, sink) = capture()
    val log = new StructuredLogger("dom", sink)
    log.logPipelineEnd("p1", "success", 2.0, recordsProcessed = 10L)
    log.logPipelineEnd("p1", "failed", 1.0, errorMessage = Some("disk full"))
    log.logPerformanceMetric("scan", 2.0, recordsCount = Some(100L))
    log.logTransformation("dedup", 100L, 80L, 4.0)
    log.logDataLineage("raw.docs", "clean.docs", "near_dedup", "p1")
    val (ok, bad, perf, tr, lin) =
      (parsed(buf(0)), parsed(buf(1)), parsed(buf(2)), parsed(buf(3)), parsed(buf(4)))
    assert(ok("level") == "info" && ok("event_type") == "pipeline_end" &&
      ok("records_processed") == 10L)
    assert(bad("level") == "error" && bad("error_message") == "disk full")
    assert(perf("records_per_second") == 50.0)
    assert(tr("records_per_second") == 25.0 && tr("output_records") == 80L)
    assert(lin("event_type") == "data_lineage" && lin("target_table") == "clean.docs")
  }

  test("PipelineLogger: correlated run id, step timers, metrics bridge") {
    val (buf, sink) = capture()
    val (clock, setTime) = fixedClock(0L)
    val collector = new Metrics.Collector(clock = clock)
    val p = new PipelineLogger("curation", runId = "run-1", sink = sink,
      clock = clock, metrics = Some(collector))
    p.startPipeline(Map("sources" -> 1))
    p.startStep("dedup")
    setTime(1500L)
    p.endStep("dedup", recordsProcessed = Some(3000L))
    p.logDataLoad("s3://in", 5000L, 2.0)
    p.logDataWrite("parquet:/out", 3000L, 1.0)
    setTime(4000L)
    p.endPipeline("success", recordsProcessed = 3000L)
    val lines = buf.map(parsed)
    assert(lines.forall(m => m("pipeline_name") == "curation" && m("run_id") == "run-1"),
      "every event carries the run context")
    val step = lines.find(m => m.get("step").contains("dedup") && m.contains("duration_seconds")).get
    assert(step("duration_seconds") == 1.5 && step("records_per_second") == 2000.0)
    val end = lines.last
    assert(end("event_type") == "pipeline_end" && end("duration_seconds") == 4.0)
    // metrics bridge: durations + counters landed in the registry
    assert(collector.aggregated("pipeline_duration_seconds", "1h")("latest") == 4.0)
    assert(collector.aggregated("step_duration_seconds", "1h")("latest") == 1.5)
    assert(collector.aggregated("pipeline_records_processed", "1h")("sum") == 3000.0)
    // ending an unknown step is a no-op, not a crash
    p.endStep("never_started")
  }

  test("reserved head keys can't be shadowed; arrays render as JSON; broken sink degrades") {
    val (buf, sink) = capture()
    val log = new StructuredLogger("res", sink)
    // round-7 review: a context field named `level` produced duplicate JSON
    // members and last-wins parsers re-leveled the event
    log.setContext("level" -> "audit", "event" -> "shadow")
    log.error("real failure", "timestamp" -> "fake", "ids" -> Array(1L, 2L, 3L))
    val m = parsed(buf.head)
    assert(m("level") == "error" && m("event") == "real failure",
      s"reserved keys must win: $m")
    assert(m("ids") == List(1L, 2L, 3L), s"array field renders as a JSON array: $m")
    // a throwing sink must not propagate into the caller (observability
    // never takes the pipeline down) — events drop with a stderr warning
    val broken = new StructuredLogger("bad", _ => throw new RuntimeException("disk full"))
    broken.info("lost")
    broken.error("also lost") // and no exception on repeat
  }

  test("LogAnalyzer: pipeline metrics + error summary; junk lines skipped") {
    val (buf, sink) = capture()
    val log = new StructuredLogger("an", sink)
    log.setContext("pipeline_name" -> "p1")
    log.logPipelineStart("p1", Map.empty, runId = "r1")
    log.logPipelineEnd("p1", "success", 2.0, recordsProcessed = 100L)
    log.logPipelineStart("p1", Map.empty, runId = "r2")
    log.logPipelineEnd("p1", "failed", 4.0, recordsProcessed = 10L,
      errorMessage = Some("boom"))
    log.error("step died", "error_type" -> "IOException")
    log.error("step died again", "error_type" -> "IOException")
    log.error("mystery")
    buf += "not json at all"
    buf += ""
    val an = new LogAnalyzer(buf.toSeq)
    val m = an.pipelineMetrics("p1")
    assert(m("total_runs") == 2L && m("successful_runs") == 1L && m("failed_runs") == 1L)
    assert(m("success_rate") == 0.5)
    assert(m("average_duration_seconds") == 3.0)
    assert(m("total_records_processed") == 110L)
    assert(an.pipelineMetrics("nope").isEmpty, "unknown pipeline → empty map")
    assert(an.errorSummary == Map("IOException" -> 2, "Unknown" -> 2),
      s"got ${an.errorSummary}") // the failed pipeline_end is error-level too
  }

  test("Pipeline.execute emits a full correlated structured run") {
    val in = Files.createTempDirectory("graft_slog_in").toString
    Seq((1L, "alpha", 30), (2L, "beta", 10)).toDF("id", "name", "age")
      .coalesce(1).write.mode("overwrite").parquet(in + "/t")
    val out = Files.createTempDirectory("graft_slog_out").toString + "/res"
    val yaml =
      s"""name: slog_demo
         |source: { type: parquet, path: "$in/t" }
         |operations:
         |  - { type: filter, condition: "age >= 20" }
         |validation:
         |  expectations:
         |    - { name: adult, expression: "age >= 20", min_ratio: 1.0 }
         |storage: { type: parquet, path: "$out", mode: overwrite }
         |""".stripMargin
    val (buf, sink) = capture()
    val plog = new PipelineLogger("slog_demo", runId = "run-x", sink = sink)
    val res = Pipeline.execute(spark, Pipeline.fromYaml(yaml), Some(plog))
    assert(res.status == "success", res.errors.mkString("; "))
    val lines = buf.map(parsed)
    assert(lines.forall(_("run_id") == "run-x"), "all events share the run id")
    val types = lines.flatMap(_.get("event_type")).toSeq
    assert(types.contains("pipeline_start") && types.contains("pipeline_end"))
    assert(types.contains("data_quality_check") && types.contains("data_write"))
    val dq = lines.find(_.get("event_type").contains("data_quality_check")).get
    assert(dq("metric_name") == "adult" && dq("status") == "pass" && dq("metric_value") == 1.0)
    val steps = lines.flatMap(_.get("step")).distinct
    assert(steps == Seq("load", "process", "validate", "store"), steps)
    // validate runs the result's one aggregate and store the write: both
    // take real time, and both know the rows they handled
    Seq("validate", "store").foreach { st =>
      val done = lines.find(m => m.get("step").contains(st) && m.contains("duration_seconds")).get
      assert(done("duration_seconds").asInstanceOf[Double] > 0.0 && done("records_processed") == 1L, done)
    }
    val end = lines.find(_.get("event_type").contains("pipeline_end")).get
    assert(end("status") == "success" && end("records_processed") == 1L)
    // the run profile's totals ride the end event: the validation aggregate
    // shuffles its partial counts, the write is one more job
    assert(end("jobs") == res.profile.jobs.toLong && res.profile.jobs >= 2, end)
    assert(end("stages") == res.profile.stages.toLong && end("tasks") == res.profile.tasks.toLong, end)
    assert(end("shuffle_write_records").asInstanceOf[Long] > 0L &&
      end("shuffle_read_bytes") == res.profile.shuffleReadBytes, end)

    // failure path: a broken op logs a step error and a failed end event
    val (buf2, sink2) = capture()
    val badYaml =
      s"""name: slog_bad
         |source: { type: parquet, path: "$in/t" }
         |operations:
         |  - { type: filter, condition: "no_such_column >= 20" }
         |storage: { type: noop, path: "x", mode: overwrite }
         |""".stripMargin
    val plog2 = new PipelineLogger("slog_bad", runId = "run-y", sink = sink2)
    val res2 = Pipeline.execute(spark, Pipeline.fromYaml(badYaml), Some(plog2))
    assert(res2.status == "failed")
    val lines2 = buf2.map(parsed)
    assert(lines2.exists(m => m("level") == "error" && m.get("error_type").nonEmpty),
      "step error event present")
    val end2 = lines2.find(_.get("event_type").contains("pipeline_end")).get
    assert(end2("status") == "failed" && end2("level") == "error")
    assert(end2("jobs") == res2.profile.jobs.toLong, end2)
  }
}
