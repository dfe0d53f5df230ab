package perfbench

import java.security.MessageDigest

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{OpCompiler, Pipeline, PipelineConfig}
import Main._

/** Closed-loop batch workloads (one client): `Pipeline.fromYaml` then
  * `Pipeline.execute` again and again for the run's seconds; every
  * execution's output is checked outside its timed region. */
object BatchBench {

  /** Set-ups per run; the median is reported. */
  val SetupReps = 5
  /** Timed executions per run at the least, however long they take: the JVM
    * is still warming up over the first few, so a count that varied with
    * speed would move the median. */
  val MinExecutions = 3

  /** What differs between the two batch workloads. */
  trait Workload {
    def yamlFile: String
    /** Runs once per JVM, after setup and before any timed execution. */
    def prepare(spark: SparkSession): Unit = ()
    /** Throws or returns a failure description; None means the output is right. */
    def check(spark: SparkSession, r: Pipeline.Result): Option[String]
    /** Per-layer extras of the traced run. */
    def traceLayers(spark: SparkSession, conf: PipelineConfig.PipelineConf,
                    tr: Tracer, rep: Report): Unit
  }

  def run(o: Opts, rep: Report): Unit = {
    val w: Workload = o.workload match {
      case "curate"    => new Curate(o)
      case "analytics" => new Analytics(o)
    }
    val yaml = yamlText(w.yamlFile, Map("PB_DATA" -> o.data, "PB_OUT" -> s"${o.work}/out"))
    // set-up: session + registrations + YAML parse, several times, median
    var spark: SparkSession = null
    var conf: PipelineConfig.PipelineConf = null
    val setups = (1 to SetupReps).map { _ =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = newSession(o)
      conf = Pipeline.fromYaml(yaml)
      ms(t0) / 1000.0
    }
    info(f"setup_s reps: ${setups.map(s => f"$s%.3f").mkString(" ")}")
    w.prepare(spark)

    def execOnce(): (Double, Pipeline.Result) = {
      val t0 = System.nanoTime()
      val r = Pipeline.execute(spark, conf)
      (ms(t0) / 1000.0, r)
    }
    def checked(r: Pipeline.Result): Boolean = {
      val problem =
        if (r.status != "success") Some(s"status ${r.status}: ${r.errors.mkString("; ")}")
        else try w.check(spark, r) catch { case t: Throwable => Some(s"check threw: $t") }
      problem.foreach(p => info(s"${o.workload}: $p"))
      problem.isEmpty
    }

    // two untimed executions first, the cold one over a tenth-size copy of
    // the inputs: the JVM keeps warming up (JIT, codegen cache) over the
    // first few executions, which would otherwise dominate the spread
    val small = Pipeline.fromYaml(yamlText(w.yamlFile,
      Map("PB_DATA" -> s"${o.data}/warm", "PB_OUT" -> s"${o.work}/warm")))
    val warm = Seq(small, conf).map { c =>
      val t0 = System.nanoTime()
      val r = Pipeline.execute(spark, c)
      rep.op(r.status == "success", s"warm-up execution: ${r.status} ${r.errors.mkString("; ")}")
      ms(t0) / 1000.0
    }
    info(s"warm-up executions: ${warm.map(t => f"$t%.3f").mkString(" ")}")

    if (!o.trace) {
      val times = ArrayBuffer.empty[Double]
      val t0 = System.nanoTime()
      while (times.size < MinExecutions || System.nanoTime() - t0 < o.seconds * 1e9) {
        val (s, r) = execOnce()
        times += s
        rep.op(checked(r), s"${o.workload} execution ${times.size}")
      }
      info(s"run_s samples: ${times.map(t => f"$t%.3f").mkString(" ")}")
      val runS = medianOf(times.toSeq)
      rep.put("setup_s", medianOf(setups), "s")
      rep.put("run_s", runS, "s")
      rep.put("rows_per_s", o.inputRows / runS, "rows/s")
      rep.put("latency_p50_ms", runS * 1000, "ms")
      rep.put("latency_p95_ms", pct(times.toSeq, 95) * 1000, "ms")
      rep.notes("executions") = times.size.toString
    } else {
      traced(o, rep, spark, yaml, conf, w, () => execOnce(), checked)
    }
  }

  def traced(o: Opts, rep: Report, spark: SparkSession, yaml: String,
             conf: PipelineConfig.PipelineConf, w: Workload,
             execOnce: () => (Double, Pipeline.Result),
             checked: Pipeline.Result => Boolean): Unit = {
    val parses = (1 to 20).map { _ => val t0 = System.nanoTime(); Pipeline.fromYaml(yaml); ms(t0) }

    val (untraced, ru) = execOnce()
    rep.op(checked(ru), "untraced execution")

    val tr = new Tracer
    tr.attach(spark)
    Tracer.resetHeapPeak()
    val gc0 = Tracer.jvmGcMs()
    val (cg0, _) = Tracer.codegen()
    val a = System.currentTimeMillis()
    val (tracedS, r) = execOnce()
    val b = System.currentTimeMillis()
    tr.drain(spark)
    val gc1 = Tracer.jvmGcMs()
    val heapPeak = Tracer.heapPeakMb()
    val (cg1, cgMean) = Tracer.codegen()
    rep.op(checked(r), "traced execution")
    if (conf.attrition.nonEmpty) {
      val failed = Seq(ru, r).filter(_.status != "success")
      rep.put("core.attrition_failures", failed.size.toDouble, "count")
      if (failed.nonEmpty) rep.notes("core.attrition_failures") = failed.flatMap(_.errors).mkString("; ").take(300)
    }
    val win = tr.window(a, b)

    // core: split the execution at its validation and store actions
    val acts = win.actions.sortBy(_.start)
    val storeIdx = acts.lastIndexWhere(_.funcName == "count")
    val storeStart = if (storeIdx >= 0) acts(storeIdx).start else b
    val validate = if (conf.expectations.nonEmpty && storeIdx > 0) Some(acts(storeIdx - 1)) else None
    val compileEnd = validate.map(_.start).getOrElse(storeStart)
    // an action's start is its end minus its whole-ms duration, so its own
    // SQL execution may start a millisecond or two earlier
    val slack = 5
    val sqlIn = (x: Long, y: Long) =>
      tr.synchronized(tr.sqlStarts.count(t => t >= x - slack && t < y - slack))
    rep.put("core.parse_ms", medianOf(parses), "ms")
    rep.put("core.compile_ms", (compileEnd - a).toDouble, "ms")
    rep.put("core.eager_queries", sqlIn(a, compileEnd).toDouble, "count")
    rep.put("core.driver_only_ms", (win.wallMs - win.busyMs).toDouble, "ms")
    rep.put("core.plan_ms", acts.map(_.planMs).sum.toDouble, "ms")
    rep.put("core.plan_nodes_max", if (acts.isEmpty) 0.0 else acts.map(_.nodes).max.toDouble, "count")
    rep.put("core.validate_ms", validate.map(v => (v.end - v.start).toDouble).getOrElse(0.0), "ms")
    rep.put("core.store_ms", (b - storeStart).toDouble, "ms")
    rep.put("core.store_queries", sqlIn(storeStart, b + slack + 1).toDouble, "count")
    rep.notes("core.compile_ms") = "execute entry to the start of the validation query: load + OpCompiler with its eager actions"
    rep.notes("core.driver_only_ms") = "traced execution wall time minus the union of its Spark job intervals (spark.job_busy_ms)"

    putSpark(rep, win, cg1 - cg0, cgMean)
    rep.put("jvm.gc_ms", (gc1 - gc0).toDouble, "ms")
    rep.put("jvm.heap_peak_mb", heapPeak, "MB")
    rep.put("trace.run_s", tracedS, "s")
    rep.put("trace.untraced_run_s", untraced, "s")
    rep.put("trace.overhead_s", tracedS - untraced, "s")
    info(f"traced execution: wall ${b - a} ms, job-busy ${win.busyMs} ms, driver-only ${win.wallMs - win.busyMs} ms, " +
      s"${win.jobs} jobs, ${win.stages} stages, ${win.tasks} tasks, ${win.sqlExecs} SQL executions")

    info("traced actions (name@start+duration ms): " + acts.map(x => s"${x.funcName}@${x.start - a}+${x.end - x.start}").mkString(" ") +
      "; SQL execution starts at " + tr.synchronized(tr.sqlStarts.filter(t => t >= a && t <= b).map(_ - a)).mkString(" "))
    sourcesLayer(spark, conf, rep, o)
    w.traceLayers(spark, conf, tr, rep)
    tr.detach(spark)
  }

  def putSpark(rep: Report, win: Tracer.Window, codegenClasses: Long, codegenMean: Double): Unit = {
    rep.put("spark.jobs", win.jobs.toDouble, "count")
    rep.put("spark.stages", win.stages.toDouble, "count")
    rep.put("spark.tasks", win.tasks.toDouble, "count")
    rep.put("spark.exchanges", win.exchanges.toDouble, "count")
    rep.put("spark.job_busy_ms", win.busyMs.toDouble, "ms")
    rep.put("spark.task_run_ms", win.taskRunMs.toDouble, "ms")
    rep.put("spark.task_cpu_ms", win.taskCpuMs.toDouble, "ms")
    rep.put("spark.gc_ms", win.gcMs.toDouble, "ms")
    rep.put("spark.shuffle_write_bytes", win.shuffleWrite.toDouble, "bytes")
    rep.put("spark.shuffle_read_bytes", win.shuffleRead.toDouble, "bytes")
    rep.put("spark.spill_bytes", win.spill.toDouble, "bytes")
    rep.put("spark.skew_ratio_max", win.skewMax, "ratio")
    rep.put("spark.codegen_classes", codegenClasses.toDouble, "count")
    rep.put("spark.codegen_ms", codegenClasses * codegenMean, "ms")
    rep.put("spark.sql_executions", win.sqlExecs.toDouble, "count")
  }

  /** sources: scan every declared source on its own (noop sink), then write
    * the pipeline's own output again through the same storage settings. */
  def sourcesLayer(spark: SparkSession, conf: PipelineConfig.PipelineConf, rep: Report,
                   o: Opts): Unit = {
    val (_, catalog) = Pipeline.load(spark, conf)
    val t0 = System.nanoTime()
    conf.sources.foreach(s => catalog(s.table).write.format("noop").mode("overwrite").save())
    val scanMs = ms(t0)
    val scanBytes = conf.sources.flatMap(s => listFiles(s.path)).map(java.nio.file.Files.size).sum
    rep.put("sources.scan_ms", scanMs, "ms")
    rep.put("sources.scan_bytes", scanBytes.toDouble, "bytes")
    val st = conf.storage.get
    val (written, _) = persistCount(spark.read.parquet(st.path))
    val dest = s"${o.work}/out/sink_probe"
    val t1 = System.nanoTime()
    if (st.partitionBy.nonEmpty) graft.sources.Sinks.parquetPartitioned(written, dest, st.partitionBy, st.mode)
    else written.write.mode(st.mode).parquet(dest)
    val writeMs = ms(t1)
    written.unpersist()
    val files = listFiles(dest)
    val bytes = files.map(java.nio.file.Files.size).sum
    rep.put("sources.write_ms", writeMs, "ms")
    rep.put("sources.write_bytes", bytes.toDouble, "bytes")
    rep.put("sources.write_files", files.size.toDouble, "count")
    rep.put("sources.write_per_input_byte", bytes.toDouble / math.max(1L, scanBytes), "ratio")
  }

  /** Time each segment of an op list over its own materialized input:
    * compile (eager actions included) + persist + count. */
  def segments(spark: SparkSession, input: DataFrame, catalog: String => DataFrame,
               ops: Seq[graft.core.OpSpec], segs: Seq[(String, Int)], prefix: String,
               rep: Report, onSegment: ((String, DataFrame)) => Unit = _ => ()): DataFrame = {
    val caches = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    var (cur, _) = persistCount(input)
    var at = 0
    for ((name, n) <- segs) {
      val t0 = System.nanoTime()
      val out = ops.slice(at, at + n).foldLeft(cur)((d, op) => OpCompiler.applyOp(d, op, catalog, caches))
      val (p, rows) = persistCount(out)
      val t = ms(t0)
      rep.put(s"$prefix.${name}_ms", t, "ms")
      rep.put(s"$prefix.${name}_rows_out", rows.toDouble, "count")
      info(f"segment $name: $t%.0f ms, $rows rows out")
      onSegment((name, p))
      cur.unpersist()
      cur = p
      at += n
    }
    caches.foreach(_.unpersist())
    cur
  }

  def sha256(lines: Iterator[String]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    lines.foreach(l => md.update((l + "\n").getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }
}
