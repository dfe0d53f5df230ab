package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}
import org.apache.spark.sql.types.StructType

import graft.streaming.StreamPipeline
import Main._

/** stream_window, open loop: one writer thread moves one pre-generated JSON
  * file into the watched directory every 1/rate seconds (atomic rename);
  * each file's latency runs from its rename to the commit of the
  * micro-batch that consumed it. A drain of a fixed backlog follows. */
object StreamBench {

  /** Set-ups per run (each starts a query and waits for its first batch). */
  val SetupReps = 3
  /** Open-loop rate: about a quarter of the drain capacity measured at seed
    * 1 on 4 cores (~105 files/s). */
  val RateFilesPerS = 25.0
  /** Seconds of the open-loop schedule run, unmeasured, before the measured part. */
  val WarmupSeconds = 4
  /** Files drained after the open loop, in [[Drains]] equal parts; run_s is
    * the median part's drain time. */
  val BacklogFiles = 900
  val Drains = 3

  val yamlFile = "perfbench/pipelines/stream_window.yaml"
  val sinkName = "events_stream_out"

  /** Commit clock: per micro-batch, when its progress event arrived (after
    * the commit) and how many input rows it carried. */
  final class Commits extends StreamingQueryListener {
    val batches = ArrayBuffer.empty[(Long, Long)] // (nanoTime at commit, rows)
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      synchronized { batches += ((System.nanoTime(), e.progress.numInputRows)) }
    def rows: Long = synchronized(batches.map(_._2).sum)
    def snapshot: Seq[(Long, Long)] = synchronized(batches.toList)
  }

  def stage(o: Opts, i: Int): Path = Paths.get(o.data, "stage", f"$i%06d.json")

  def run(o: Opts, rep: Report): Unit = {
    val inDir = Paths.get(o.work, "stream_in")
    Files.createDirectories(inDir)
    // the schedule: file 0 for set-up, the warm-up and measured open-loop
    // stretches, then the backlog; every staged file holds the same rows
    val nWarm = math.ceil(RateFilesPerS * WarmupSeconds).toInt
    val nOpen = math.ceil(RateFilesPerS * o.seconds).toInt
    val needed = 1 + nWarm + nOpen + BacklogFiles
    val staged = listFiles(Paths.get(o.data, "stage").toString).size
    require(staged >= needed,
      s"${o.seconds} s of the schedule need $needed staged files, the generator wrote $staged")
    val rpf = Files.readAllLines(stage(o, 0)).size

    // set-up: session + registrations + parse + start, up to the first
    // committed batch; earlier reps prime a scratch dir with a copy of file 0
    var spark: SparkSession = null
    var q: StreamingQuery = null
    var commits: Commits = null
    var tracer: Tracer = null
    val setups = (1 to SetupReps).map { k =>
      if (q != null) { q.stop(); spark.stop() }
      val last = k == SetupReps
      val dir = if (last) inDir else Files.createDirectories(Paths.get(o.work, s"prime$k"))
      if (last) moveAtomic(stage(o, 0), inDir.resolve(stage(o, 0).getFileName))
      else Files.copy(stage(o, 0), dir.resolve(stage(o, 0).getFileName))
      val t0 = System.nanoTime()
      spark = newSession(o)
      // a fresh checkpoint per rep: the named query must not resume rep k-1
      spark.conf.set("spark.sql.streaming.checkpointLocation", s"${o.work}/checkpoints/rep$k")
      commits = new Commits
      spark.streams.addListener(commits)
      if (last && o.trace) { tracer = new Tracer; tracer.attach(spark) }
      val conf = StreamPipeline.fromYaml(yamlText(yamlFile, Map("PB_STREAM_IN" -> dir.toString)))
      q = StreamPipeline.startWithAttrition(spark, conf)._1
      while (commits.rows < rpf) {
        if (q.exception.isDefined) throw q.exception.get
        Thread.sleep(1)
      }
      ms(t0) / 1000.0
    }
    info(f"setup_s reps: ${setups.map(s => f"$s%.3f").mkString(" ")}")

    // open loop: move files from..until-1 in on the schedule; returns each
    // file's rename time and how late the writer was for it
    def openLoop(from: Int, until: Int): (Map[Int, Long], Double) = {
      val renames = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
      var lateMax = 0.0
      val intervalNs = (1e9 / RateFilesPerS).toLong
      val start = System.nanoTime()
      val writer = new Thread(() => {
        for (i <- from until until) {
          val due = start + (i - from) * intervalNs
          val wait = due - System.nanoTime()
          if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
          lateMax = math.max(lateMax, (System.nanoTime() - due) / 1e6)
          moveAtomic(stage(o, i), inDir.resolve(stage(o, i).getFileName))
          renames.put(i, System.nanoTime())
        }
      }, "perfbench-writer")
      writer.start()
      writer.join()
      awaitRows(q, commits, until.toLong * rpf, 60)
      (renames.asScala.toMap, lateMax)
    }
    // an unmeasured stretch of the same schedule first: the JVM keeps warming
    // up over the first few dozen micro-batches
    openLoop(1, 1 + nWarm)
    val first = 1 + nWarm
    val before = commits.snapshot.size

    Tracer.resetHeapPeak()
    val gc0 = Tracer.jvmGcMs()
    val (cg0, _) = Tracer.codegen()
    val openA = System.currentTimeMillis()
    val (renames, lateMax) = openLoop(first, first + nOpen)
    val openB = System.currentTimeMillis()
    val allBatches = commits.snapshot

    // latency: file i is committed by the first batch whose cumulative rows
    // cover files 0..i
    val cum = allBatches.scanLeft(0L)(_ + _._2).tail
    val latencies = (first until first + nOpen).map { i =>
      val k = cum.indexWhere(_ >= (i + 1L) * rpf)
      (allBatches(k)._1 - renames(i)) / 1e6
    }
    info(f"open loop: $nOpen files at $RateFilesPerS%.1f/s, ${allBatches.size - before} batches, " +
      f"p50 ${medianOf(latencies)}%.1f ms, p95 ${pct(latencies, 95)}%.1f ms, generator late max $lateMax%.2f ms")

    // drain: move n backlog files at once, time until their last row commits
    def drain(from: Int, n: Int): Double = {
      val before = commits.rows
      val t0 = System.nanoTime()
      for (i <- from until from + n) moveAtomic(stage(o, i), inDir.resolve(stage(o, i).getFileName))
      awaitRows(q, commits, before + n.toLong * rpf, 120)
      (commits.snapshot.last._1 - t0) / 1e9
    }
    val firstBacklog = first + nOpen
    val part = BacklogFiles / Drains
    val drains =
      if (!o.trace) (0 until Drains).map(k => drain(firstBacklog + k * part, part))
      else {
        // streaming layer from the open loop, then an untraced and a traced
        // drain for the tracing overhead
        traceLayers(spark, tracer, inDir.toString, openA, openB, lateMax, rpf, gc0, cg0, rep)
        tracer.detach(spark)
        val untraced = drain(firstBacklog, part)
        tracer.attach(spark)
        val traced = drain(firstBacklog + part, part)
        tracer.detach(spark)
        rep.put("trace.untraced_run_s", untraced, "s")
        rep.put("trace.run_s", traced, "s")
        rep.put("trace.overhead_s", traced - untraced, "s")
        Seq(untraced, traced)
      }
    info(s"drains of $part files: ${drains.map(d => f"$d%.3f").mkString(" ")} s")
    // check: the final windows equal a batch recomputation over every file
    val ok = try check(spark, inDir.toString) catch { case t: Throwable => Some(s"check threw: $t") }
    ok.foreach(p => info(s"stream_window: $p"))
    q.stop()
    // operations: every generated file; one that is not committed, or a
    // wrong final result, fails
    val files = firstBacklog + drains.size * part
    (1 to files).foreach(i => rep.op(ok.isEmpty, s"stream file $i"))

    if (!o.trace) {
      rep.put("setup_s", medianOf(setups), "s")
      val runS = medianOf(drains)
      rep.put("run_s", runS, "s")
      rep.put("rows_per_s", part.toDouble * rpf / runS, "rows/s")
      rep.put("latency_p50_ms", medianOf(latencies), "ms")
      rep.put("latency_p95_ms", pct(latencies, 95), "ms")
      rep.notes("latency_samples") = latencies.size.toString
    }
  }

  def awaitRows(q: StreamingQuery, c: Commits, rows: Long, timeoutS: Int): Unit = {
    val deadline = System.nanoTime() + timeoutS * 1000000000L
    while (c.rows < rows) {
      if (q.exception.isDefined) throw q.exception.get
      if (System.nanoTime() > deadline)
        throw new IllegalStateException(s"only ${c.rows} of $rows rows committed after $timeoutS s")
      Thread.sleep(1)
    }
  }

  def check(spark: SparkSession, inDir: String): Option[String] = {
    val schema = StructType.fromDDL("ts TIMESTAMP, user STRING, v DOUBLE")
    val expected = spark.read.schema(schema).json(inDir)
      .withColumn("v_taxed", expr("v * 1.08")).filter("v > 0")
      .groupBy(window(col("ts"), "5 minutes"), col("user"))
      .agg(sum("v_taxed").as("s"), count("v_taxed").as("c"))
      .select(col("window.start").cast("long").as("ws"), col("user"), col("s"), col("c"))
      .collect().map(r => (r.getLong(0), r.getString(1)) -> (r.getDouble(2), r.getLong(3))).toMap
    val got = spark.table(sinkName)
      .select(col("window_start").cast("long"), col("user"), col("v_taxed_sum"), col("v_taxed_count"))
      .collect().map(r => (r.getLong(0), r.getString(1)) -> (r.getDouble(2), r.getLong(3))).toMap
    val bad = expected.keySet.union(got.keySet).filterNot { k =>
      (expected.get(k), got.get(k)) match {
        case (Some((s1, c1)), Some((s2, c2))) => c1 == c2 && math.abs(s1 - s2) <= 1e-9 * math.max(1.0, math.abs(s1))
        case _ => false
      }
    }
    if (bad.isEmpty) { info(s"stream output ok: ${got.size} windows"); None }
    else Some(s"${bad.size} of ${expected.size} windows differ from the batch recomputation")
  }

  /** streaming (and spark/core/jvm) layers over the open-loop phase. */
  def traceLayers(spark: SparkSession, tr: Tracer, inDir: String, a: Long, b: Long, lateMax: Double,
                  rpf: Int, gc0: Long, cg0: Long, rep: Report): Unit = {
    tr.drain(spark)
    val gcMs = Tracer.jvmGcMs() - gc0
    val heapPeak = Tracer.heapPeakMb()
    val (cg1, cgMean) = Tracer.codegen()
    val win = tr.window(a, b)
    val bs = tr.synchronized(tr.batches.filter(x => x.committed >= a && x.committed <= b).toList)
    val p50 = (f: Tracer.BatchEv => Long) => medianOf(bs.map(f(_).toDouble))
    rep.put("streaming.batches", bs.size.toDouble, "count")
    rep.put("streaming.batch_ms_p50", p50(_.triggerMs), "ms")
    rep.put("streaming.planning_ms_p50", p50(_.planningMs), "ms")
    rep.put("streaming.add_batch_ms_p50", p50(_.addBatchMs), "ms")
    rep.put("streaming.commit_ms_p50", p50(_.commitMs), "ms")
    rep.put("streaming.tasks_per_batch", win.tasks.toDouble / math.max(1, bs.size), "count")
    rep.put("streaming.state_rows", bs.lastOption.map(_.stateRows.toDouble).getOrElse(0.0), "count")
    rep.put("streaming.state_bytes", bs.lastOption.map(_.stateBytes.toDouble).getOrElse(0.0), "bytes")
    rep.put("streaming.backlog_files_max", bs.map(_.rows).foldLeft(0L)(math.max) / rpf.toDouble, "count")
    rep.put("streaming.gen_late_ms_max", lateMax, "ms")
    BatchBench.putSpark(rep, win, cg1 - cg0, cgMean)
    rep.put("core.driver_only_ms", (win.wallMs - win.busyMs).toDouble, "ms")
    rep.put("core.plan_ms", bs.map(_.planningMs).sum.toDouble, "ms")
    rep.put("sources.scan_bytes", win.inputBytes.toDouble, "bytes")
    val yaml = yamlText(yamlFile, Map("PB_STREAM_IN" -> inDir))
    val parses = (1 to 20).map { _ => val t0 = System.nanoTime(); StreamPipeline.fromYaml(yaml); ms(t0) }
    rep.put("core.parse_ms", medianOf(parses), "ms")
    // compile: source -> transforms -> window agg as a streaming plan, unstarted
    val sql0 = tr.synchronized(tr.sqlStarts.size)
    val t0 = System.nanoTime()
    StreamPipeline.build(spark, StreamPipeline.fromYaml(yaml))
    rep.put("core.compile_ms", ms(t0), "ms")
    tr.drain(spark)
    rep.put("core.eager_queries", (tr.synchronized(tr.sqlStarts.size) - sql0).toDouble, "count")
    rep.put("jvm.gc_ms", gcMs.toDouble, "ms")
    rep.put("jvm.heap_peak_mb", heapPeak, "MB")
    info(s"open loop traced: ${bs.size} batches, ${win.jobs} jobs, ${win.tasks} tasks, " +
      s"job-busy ${win.busyMs} of ${win.wallMs} ms")
  }
}
