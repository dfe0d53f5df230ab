package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.streaming.StreamOps

case class Ev(ts: Timestamp, user: String, v: Double)
case class Doc(ts: Timestamp, id: Long, text: String)

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def t(s: String) = Timestamp.valueOf(s)

  test("tumbling window over a real stream aggregates by event time") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Ev]
    val agg = StreamOps.tumbling(input.toDF(), "ts", "5 minutes", "10 minutes",
      Seq("user"), Seq("v" -> "sum", "v" -> "count"))
    val q = agg.writeStream.format("memory").queryName("tumb").outputMode("complete").start()
    try {
      input.addData(
        Ev(t("2024-01-01 00:01:00"), "a", 1.0),
        Ev(t("2024-01-01 00:02:00"), "a", 2.0),
        Ev(t("2024-01-01 00:07:00"), "a", 5.0),
        Ev(t("2024-01-01 00:01:30"), "b", 10.0))
      q.processAllAvailable()
      val rows = spark.sql("SELECT user, v_sum, v_count FROM tumb ORDER BY window_start, user")
        .as[(String, Double, Long)].collect()
      assert(rows.toSeq == Seq(("a", 3.0, 2L), ("b", 10.0, 1L), ("a", 5.0, 1L)))
    } finally q.stop()
  }

  test("session window merges events within gap, splits across it") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Ev]
    val agg = StreamOps.session(input.toDF(), "ts", "10 minutes", "1 hour",
      Seq("user"), Seq("v" -> "count"))
    val q = agg.writeStream.format("memory").queryName("sess").outputMode("complete").start()
    try {
      input.addData(
        Ev(t("2024-01-01 00:00:00"), "a", 1.0),
        Ev(t("2024-01-01 00:05:00"), "a", 1.0),  // same session
        Ev(t("2024-01-01 01:00:00"), "a", 1.0))  // new session
      q.processAllAvailable()
      val rows = spark.sql("SELECT user, v_count FROM sess ORDER BY session_start")
        .as[(String, Long)].collect()
      assert(rows.toSeq == Seq(("a", 2L), ("a", 1L)))
    } finally q.stop()
  }

  test("watermark drops late data in append mode") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Ev]
    val agg = StreamOps.tumbling(input.toDF(), "ts", "5 minutes", "5 minutes",
      Nil, Seq("v" -> "count"))
    val q = agg.writeStream.format("memory").queryName("wm").outputMode("append").start()
    try {
      input.addData(Ev(t("2024-01-01 00:01:00"), "a", 1.0))
      q.processAllAvailable()
      input.addData(Ev(t("2024-01-01 01:00:00"), "a", 1.0)) // advances watermark past window 1
      q.processAllAvailable()
      input.addData(Ev(t("2024-01-01 00:02:00"), "a", 99.0)) // LATE: before watermark
      q.processAllAvailable()
      val emitted = spark.sql("SELECT v_count FROM wm").as[Long].collect()
      assert(emitted.toSeq == Seq(1L)) // first window closed with 1 row; late row dropped
    } finally q.stop()
  }

  test("StreamPipeline: YAML file-stream -> transform -> tumbling window -> memory sink") {
    val dir = java.nio.file.Files.createTempDirectory("graft_stream").toString
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/batch1.json"),
      """{"ts":"2024-01-01T00:01:00.000Z","user":"a","v":1.0}
        |{"ts":"2024-01-01T00:02:00.000Z","user":"a","v":2.0}
        |{"ts":"2024-01-01T00:07:00.000Z","user":"b","v":-5.0}
        |{"ts":"2024-01-01T00:08:00.000Z","user":"b","v":5.0}""".stripMargin)
    val yaml =
      s"""name: yaml_stream
         |stream_source: { type: file, path: "$dir", format: json, schema: "ts TIMESTAMP, user STRING, v DOUBLE" }
         |transforms:
         |  - { type: calculate_field, field: v2, expression: "v * 2" }
         |  - { type: filter, condition: "v > 0" }
         |window:
         |  type: tumbling
         |  size: "5 minutes"
         |  time_column: ts
         |  watermark: "1 minute"
         |  keys: [user]
         |  aggregations: { v2: [sum, count] }
         |sink: { type: memory, name: yaml_stream_out, output_mode: complete }
         |""".stripMargin
    val (q, _) = graft.streaming.StreamPipeline.start(spark, graft.streaming.StreamPipeline.fromYaml(yaml))
    try {
      q.processAllAvailable()
      val rows = spark.sql("SELECT user, v2_sum, v2_count FROM yaml_stream_out ORDER BY window_start, user")
        .as[(String, Double, Long)].collect()
      assert(rows.toSeq == Seq(("a", 6.0, 2L), ("b", 10.0, 1L))) // v=-5 filtered out
    } finally q.stop()
  }

  private def writeFile(dir: String, name: String, body: String): Unit =
    java.nio.file.Files.writeString(java.nio.file.Paths.get(dir, name), body)

  test("StreamProfile: per-batch latency/rate classification as PASS/WARN/FAIL") {
    // the reference declares processing_latency_p95 and records/s alert
    // thresholds (streaming_pipeline.yaml:83-97). The rule is a pure
    // function: a 0 ms latency threshold FAILs every batch that took any
    // time, a loose one PASSes it, and the 0.8 guard band WARNs
    import graft.streaming.StreamProfile.{Monitoring, classify}
    val strict = Monitoring(maxBatchMs = 0L, minRowsPerSec = 0.0, maxBatches = 10)
    val loose = Monitoring(maxBatchMs = 600000L, minRowsPerSec = 0.0, maxBatches = 10)
    assert(classify(2L, 5L, 400.0, strict) == "FAIL")
    assert(classify(2L, 5L, 400.0, loose) == "PASS")
    val band = Monitoring(maxBatchMs = 1000L, minRowsPerSec = 10.0, maxBatches = 10)
    assert(classify(2L, 900L, 100.0, band) == "WARN", "latency inside the 0.8 band")
    assert(classify(2L, 100L, 11.0, band) == "WARN", "rate under floor/0.8")
    assert(classify(2L, 100L, 9.0, band) == "FAIL", "rate under the floor")
    assert(classify(0L, 100L, 0.0, band) == "PASS", "an empty batch skips the rate check")
    // one YAML run over two files: the profile classifies each batch and
    // rolls them up
    val dir = java.nio.file.Files.createTempDirectory("graft_stream_classify").toString
    writeFile(dir, "b1.json",
      """{"ts":"2024-01-01T00:01:00.000Z","user":"a","v":1.0}
        |{"ts":"2024-01-01T00:02:00.000Z","user":"b","v":2.0}""".stripMargin)
    val yaml =
      s"""name: classify_stream
         |stream_source: { type: file, path: "$dir", format: json, schema: "ts TIMESTAMP, user STRING, v DOUBLE" }
         |window: { type: tumbling, size: "5 minutes", time_column: ts, watermark: "10 minutes", keys: [user], aggregations: { v: [sum] } }
         |sink: { type: memory, name: classify_stream_out, output_mode: complete }
         |monitoring: { max_batch_ms: 600000, min_records_per_second: 0 }
         |""".stripMargin
    val (q, profile) = graft.streaming.StreamPipeline.start(spark, graft.streaming.StreamPipeline.fromYaml(yaml))
    try {
      q.processAllAvailable()
      writeFile(dir, "b2.json", """{"ts":"2024-01-01T00:03:00.000Z","user":"a","v":3.0}""")
      q.processAllAvailable()
    } finally q.stop()
    val s = profile.summary()
    val got = s.recent.filter(_.rows > 0)
    assert(got.size >= 2, s"expected >=2 data batches, got ${s.recent}")
    assert(got.map(_.rows).sum == 3L, s"row accounting: $got")
    assert(got.forall(_.batchMs > 0), s"durations must be positive: $got")
    assert(got.forall(_.status.contains("PASS")), s"loose thresholds must PASS: $got")
    assert(got.forall(b => classify(b.rows, b.batchMs, b.rowsPerSec, strict) == "FAIL"),
      s"0ms threshold must FAIL every batch: $got")
    // rollup: p95 over the recorded batches + worst status
    assert(s.batches >= 2 && s.rows == 3L && s.p95Ms > 0 && s.rowsPerSec > 0 && s.status.contains("PASS"),
      s"summary $s")
    // each batch splits its trigger time into phases
    assert(got.forall(b => b.phaseMs.contains("addBatch") && b.phaseMs("addBatch") <= b.batchMs), got)
    assert(s.phaseMs("triggerExecution") == s.recent.map(_.batchMs).sum, s)
  }

  test("StreamPipeline: YAML monitoring section attaches metrics to the run") {
    val dir = java.nio.file.Files.createTempDirectory("graft_stream_mon").toString
    writeFile(dir, "batch1.json",
      """{"ts":"2024-01-01T00:01:00.000Z","user":"a","v":1.0}
        |{"ts":"2024-01-01T00:02:00.000Z","user":"b","v":2.0}""".stripMargin)
    val yaml =
      s"""name: mon_stream
         |stream_source: { type: file, path: "$dir", format: json, schema: "ts TIMESTAMP, user STRING, v DOUBLE" }
         |window:
         |  type: tumbling
         |  size: "5 minutes"
         |  time_column: ts
         |  watermark: "1 minute"
         |  keys: [user]
         |  aggregations: { v: [sum] }
         |sink: { type: memory, name: mon_stream_out, output_mode: complete }
         |monitoring: { max_batch_ms: 600000, min_records_per_second: 0 }
         |""".stripMargin
    val (q, profile) = graft.streaming.StreamPipeline.start(spark, graft.streaming.StreamPipeline.fromYaml(yaml))
    try q.processAllAvailable()
    finally q.stop()
    val s = profile.summary()
    assert(s.recent.exists(_.rows > 0), s"expected a data batch in ${s.recent}")
    // exactly its own query's batches
    assert(s.recent.map(_.batchId) == q.recentProgress.map(_.batchId).toSeq, s"scope: ${s.recent}")
    assert(s.status.contains("PASS"))
    // it removed itself from the session when its query terminated
    assert(!spark.streams.listListeners().contains(profile))
  }

  test("StreamProfile: concurrent parquet and memory streams each count their own") {
    // a listener on the session sees every query's progress; the profile
    // keeps only its own query's, whatever the sink
    val (inA, inB) = (java.nio.file.Files.createTempDirectory("graft_scope_a").toString,
      java.nio.file.Files.createTempDirectory("graft_scope_b").toString)
    val out = java.nio.file.Files.createTempDirectory("graft_scope_out").toString
    writeFile(inA, "a1.json", "{\"id\":1,\"v\":1}\n{\"id\":2,\"v\":2}\n{\"id\":3,\"v\":3}")
    writeFile(inB, "b1.json", "{\"id\":4,\"v\":4}\n{\"id\":5,\"v\":5}")
    def yaml(name: String, in: String, sink: String) =
      s"""name: $name
         |stream_source: { type: file, path: "$in", format: json, schema: "id BIGINT, v BIGINT" }
         |transforms:
         |  - { type: filter, condition: "v > 0" }
         |sink: $sink
         |""".stripMargin
    val start = (y: String) => graft.streaming.StreamPipeline.start(spark, graft.streaming.StreamPipeline.fromYaml(y))
    val (qa, pa) = start(yaml("scope_parquet", inA,
      s"""{ type: parquet, path: "$out/sink", checkpoint: "$out/ckpt" }"""))
    val (qb, pb) = start(yaml("scope_memory", inB, "{ type: memory, name: scope_memory_out }"))
    try {
      qa.processAllAvailable()
      qb.processAllAvailable()
      writeFile(inA, "a2.json", "{\"id\":6,\"v\":6}")
      qa.processAllAvailable()
    } finally { qa.stop(); qb.stop() }
    val (sa, sb) = (pa.summary(), pb.summary())
    assert(sa.rows == 4L && sb.rows == 2L, s"rows: parquet ${sa.rows}, memory ${sb.rows}")
    assert(sa.batches == qa.recentProgress.length && sb.batches == qb.recentProgress.length,
      s"batches: parquet ${sa.batches}, memory ${sb.batches}")
    assert(sa.recent.map(_.batchId) == qa.recentProgress.map(_.batchId).toSeq)
    assert(sb.recent.map(_.batchId) == qb.recentProgress.map(_.batchId).toSeq)
    assert(sa.status.isEmpty && sb.status.isEmpty, "no monitoring: section, no status")
  }

  test("StreamPipeline: attrition block accumulates per-stage rows/weight across micro-batches (round 11)") {
    // the batch attrition feature's streaming half: named observes ride
    // each micro-batch; the profile accumulates in/out per stage. Two
    // separate files prove cross-batch accumulation.
    val dir = java.nio.file.Files.createTempDirectory("graft_attr_stream").toString
    writeFile(dir, "b1.json",
      """{"doc_id":1,"v":5}
        |{"doc_id":2,"v":-1}
        |{"doc_id":3,"v":7}""".stripMargin)
    val yaml =
      s"""name: attr_stream
         |stream_source: { type: file, path: "$dir", format: json, schema: "doc_id BIGINT, v BIGINT" }
         |transforms:
         |  - { type: filter, condition: "v > 0" }
         |  - { type: filter, condition: "v < 7" }
         |attrition: { weight_column: v }
         |sink: { type: memory, name: attr_stream_out, output_mode: append }
         |""".stripMargin
    val (q, profile) = graft.streaming.StreamPipeline.start(
      spark, graft.streaming.StreamPipeline.fromYaml(yaml))
    try {
      q.processAllAvailable()
      val r1 = profile.summary().attrition
      assert(r1.map(a => (a.stage, a.op, a.rowsIn, a.rowsOut, a.weightIn, a.weightOut)) == Seq(
        (1, "filter", 3L, 2L, Some(11L), Some(12L)),
        (2, "filter", 2L, 1L, Some(12L), Some(5L))), s"batch-1 report wrong: $r1")
      writeFile(dir, "b2.json",
        """{"doc_id":4,"v":3}
          |{"doc_id":5,"v":-2}""".stripMargin)
      q.processAllAvailable()
      val r2 = profile.summary().attrition
      assert(r2.map(a => (a.stage, a.rowsIn, a.rowsOut, a.weightIn, a.weightOut)) == Seq(
        (1, 5L, 3L, Some(12L), Some(15L)),
        (2, 3L, 2L, Some(15L), Some(8L))), s"accumulated report wrong: $r2")
    } finally q.stop()
  }

  test("StreamPipeline: session-window YAML starts without an explicit output_mode") {
    // Spark rejects update mode for session_window aggregations; the
    // config layer must default session pipelines to append or the YAML
    // dies at start()
    val dir = java.nio.file.Files.createTempDirectory("graft_sess").toString
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/b.json"),
      """{"ts":"2024-01-01T00:01:00.000Z","user":"a","v":1.0}
        |{"ts":"2024-01-01T02:00:00.000Z","user":"a","v":2.0}""".stripMargin)
    val yaml =
      s"""name: yaml_session
         |stream_source: { type: file, path: "$dir", format: json, schema: "ts TIMESTAMP, user STRING, v DOUBLE" }
         |window:
         |  type: session
         |  gap: "30 minutes"
         |  time_column: ts
         |  watermark: "1 minute"
         |  keys: [user]
         |  aggregations: { v: [sum] }
         |sink: { type: memory, name: yaml_session_out }
         |""".stripMargin
    val (q, _) = graft.streaming.StreamPipeline.start(spark, graft.streaming.StreamPipeline.fromYaml(yaml))
    try q.processAllAvailable() // starting at all IS the assertion
    finally q.stop()
  }

  test("checkpoint recovery: restart resumes without reprocessing (exactly-once sink rows)") {
    val in = java.nio.file.Files.createTempDirectory("graft_cp_in").toString
    val out = java.nio.file.Files.createTempDirectory("graft_cp_out").toString + "/sink"
    val cp = java.nio.file.Files.createTempDirectory("graft_cp_meta").toString
    def write(name: String, lines: String): Unit =
      java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$in/$name"), lines)
    def start() = {
      val src = StreamOps.files(spark, in, "json",
        org.apache.spark.sql.types.StructType.fromDDL("ts TIMESTAMP, user STRING, v DOUBLE"))
      src.writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", cp)
        .outputMode("append").start()
    }
    write("b1.json", """{"ts":"2024-01-01T00:00:00Z","user":"a","v":1.0}""")
    val q1 = start(); q1.processAllAvailable(); q1.stop()
    write("b2.json", """{"ts":"2024-01-01T00:01:00Z","user":"b","v":2.0}""")
    val q2 = start(); q2.processAllAvailable(); q2.stop()
    val rows = spark.read.parquet(out).collect()
    assert(rows.length == 2, s"expected exactly 2 rows (no reprocessing), got ${rows.length}")
  }

  test("checkpoint recovery: windowed STATE survives a mid-stream kill (batch-equivalent oracle)") {
    // VERDICT r7 #4: the reference YAML declares exactly-once + 30 s
    // checkpointing (streaming_pipeline.yaml:100-105). The earlier recovery
    // test proved source-OFFSET recovery on a stateless pass-through; this
    // one kills a stateful tumbling aggregation while a window is OPEN
    // (half its events ingested), resumes from the checkpoint, and asserts
    // the final sink equals the batch computation over the full input —
    // no lost window, no duplicated counts, the open window's state merged
    // across the kill.
    val in = java.nio.file.Files.createTempDirectory("graft_cpw_in").toString
    val out = java.nio.file.Files.createTempDirectory("graft_cpw_out").toString + "/sink"
    val cp = java.nio.file.Files.createTempDirectory("graft_cpw_meta").toString
    val schema = org.apache.spark.sql.types.StructType.fromDDL("ts TIMESTAMP, user STRING, v DOUBLE")
    def write(name: String, lines: String*): Unit =
      java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$in/$name"), lines.mkString("\n"))
    def start() = {
      val win = StreamOps.tumbling(StreamOps.files(spark, in, "json", schema),
        "ts", "1 minute", "0 seconds", Seq.empty, Seq("v" -> "count", "v" -> "sum"))
      win.writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", cp)
        .outputMode("append").start()
    }
    // phase 1: W1 [00:00,00:01) complete; W2 [00:01,00:02) OPEN (one of
    // its three events) — watermark after phase 1 = 00:01:05, closing W1
    write("b1.json",
      """{"ts":"2024-01-01T00:00:10Z","user":"a","v":1.0}""",
      """{"ts":"2024-01-01T00:00:20Z","user":"b","v":2.0}""",
      """{"ts":"2024-01-01T00:01:05Z","user":"a","v":3.0}""")
    val q1 = start(); q1.processAllAvailable(); q1.stop()
    val mid = spark.read.schema(StreamOps.tumbling(
        spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](), schema),
        "ts", "1 minute", "0 seconds", Seq.empty, Seq("v" -> "count", "v" -> "sum")).schema)
      .parquet(out).collect()
    assert(mid.length == 1 && mid.head.getLong(2) == 2L,
      s"kill point: exactly W1 (count 2) should be emitted, got ${mid.mkString(";")}")
    // phase 2: W2 completes ACROSS the restart, W3 arrives, and a sentinel
    // far ahead advances the watermark past both so append mode flushes them
    write("b2.json",
      """{"ts":"2024-01-01T00:01:30Z","user":"b","v":4.0}""",
      """{"ts":"2024-01-01T00:01:40Z","user":"a","v":5.0}""",
      """{"ts":"2024-01-01T00:02:10Z","user":"c","v":6.0}""",
      """{"ts":"2024-01-01T01:00:00Z","user":"z","v":0.0}""")
    val q2 = start(); q2.processAllAvailable(); q2.stop()

    def canon(df: org.apache.spark.sql.DataFrame) = df
      .select(col("window_start").cast("string"), col("window_end").cast("string"),
        col("v_count"), round(col("v_sum"), 6).cast("string"))
      .as[(String, String, Long, String)].collect().toSet
    val streamed = canon(spark.read.parquet(out))
    // batch oracle: same window aggregation over ALL input, restricted to
    // windows the final watermark (01:00:00, the sentinel) has closed —
    // the sentinel's own window is still open in the stream by design
    val batch = spark.read.schema(schema).json(in)
      .groupBy(window(col("ts"), "1 minute"))
      .agg(count(lit(1)).as("v_count"), sum(col("v")).as("v_sum"))
      .filter(col("window.end") <= lit("2024-01-01T01:00:00Z").cast("timestamp"))
      .select(col("window.start").as("window_start"), col("window.end").as("window_end"),
        col("v_count"), col("v_sum"))
    assert(streamed == canon(batch),
      s"stream-after-recovery != batch oracle:\nstream=$streamed\nbatch=${canon(batch)}")
    assert(streamed.size == 3, s"W1+W2+W3 expected, got $streamed")
    // the cross-kill window W2 must carry BOTH phases' events
    assert(streamed.exists(r => r._1.startsWith("2024-01-01 00:01") && r._3 == 3L),
      s"W2 must merge state across the kill (count 3): $streamed")
  }

  test("exactly-once sink EFFECTS: a replayed batch does not duplicate KV appends (VERDICT r8 #3)") {
    // Forces the at-least-once failure mode directly: after the sink's
    // effects are applied and the batch journal is written, the CHECKPOINT
    // commit is lost (the kill-between-sink-write-and-checkpoint-commit
    // window — simulated by deleting the last commits/<N> marker). On
    // restart Spark replays that batchId with the same offsets; the
    // journaled handler must skip the already-applied effects. List mode is
    // the sink mode where replays actually DUPLICATE (kv-mode SET was
    // replay-idempotent by accident), so the control run below proves the
    // replay happens at all.
    import graft.sources.KeyValueSink
    val schema = org.apache.spark.sql.types.StructType.fromDDL("ts TIMESTAMP, user STRING, v DOUBLE")
    def run(ns: String, exactlyOnce: Boolean): Seq[String] = {
      KeyValueSink.InMemoryKV.clear(ns)
      val in = java.nio.file.Files.createTempDirectory("graft_eo_in").toString
      val cp = java.nio.file.Files.createTempDirectory("graft_eo_cp").toString
      java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$in/b1.json"),
        """{"ts":"2024-01-01T00:00:00Z","user":"a","v":1.0}""" + "\n" +
          """{"ts":"2024-01-01T00:00:10Z","user":"b","v":2.0}""")
      def start() = KeyValueSink.streamWriter(
        StreamOps.files(spark, in, "json", schema).withColumn("k", col("user")),
        "k", cp, () => new KeyValueSink.InMemoryKV(ns),
        mode = "list", target = "events", exactlyOnce = exactlyOnce).start()
      val q1 = start(); q1.processAllAvailable(); q1.stop()
      val commits = new java.io.File(s"$cp/commits").listFiles()
        .filter(_.getName.forall(_.isDigit))
      assert(commits.nonEmpty, "no commit markers — the scenario setup is broken")
      val last = commits.maxBy(_.getName.toInt)
      // drop the Hadoop checksum sidecar too: a stale .N.crc makes the
      // replayed commit's atomic rename throw FileAlreadyExistsException
      new java.io.File(last.getParent, s".${last.getName}.crc").delete()
      assert(last.delete(), "could not drop the commit marker")
      val q2 = start(); q2.processAllAvailable(); q2.stop()
      KeyValueSink.InMemoryKV.list(ns, "events")
    }
    val journaled = run("eo_on", exactlyOnce = true)
    assert(journaled.size == 2,
      s"journaled sink replay duplicated effects: ${journaled.size} entries, $journaled")
    val bare = run("eo_off", exactlyOnce = false)
    assert(bare.size == 4,
      s"control (no journal) must duplicate — otherwise this test forced no replay: $bare")
  }

  test("checkpoint recovery + forced replay: journaled KV sink equals the batch oracle (sink-level)") {
    // The r8 kill/resume test proved STATE-level recovery into a
    // transactional file sink; this extends it to SINK-level effects
    // through the journaled foreachBatch KV path (VERDICT r8 #3): a
    // stateful tumbling aggregation is killed while a window is OPEN, the
    // last checkpoint commit is dropped (forced replay on restart), and
    // the final KV contents must equal the batch computation — every
    // window present, aggregates exact, cross-kill window merged.
    import graft.sources.KeyValueSink
    val ns = "eo_win"
    KeyValueSink.InMemoryKV.clear(ns)
    // Spark 4.1's state-store commit accounting trips on a SAME-JVM replay
    // of a stateful batch (the state version it re-commits already exists);
    // in a real kill the replay happens in a fresh JVM where this is the
    // normal recovery path. Disable the accounting check for this test only
    // — the test's own oracle (KV contents == batch aggregation) is the
    // correctness assertion.
    val valKey = "spark.sql.streaming.stateStore.commitValidation.enabled"
    val valPrev = spark.conf.getOption(valKey)
    spark.conf.set(valKey, "false")
    try {
    val in = java.nio.file.Files.createTempDirectory("graft_eow_in").toString
    val cp = java.nio.file.Files.createTempDirectory("graft_eow_cp").toString
    val schema = org.apache.spark.sql.types.StructType.fromDDL("ts TIMESTAMP, user STRING, v DOUBLE")
    def write(name: String, lines: String*): Unit =
      java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$in/$name"), lines.mkString("\n"))
    def start() = KeyValueSink.streamWriter(
      StreamOps.tumbling(StreamOps.files(spark, in, "json", schema),
          "ts", "1 minute", "0 seconds", Seq.empty, Seq("v" -> "count", "v" -> "sum"))
        .withColumn("k", col("window_start").cast("string")),
      "k", cp, () => new KeyValueSink.InMemoryKV(ns)).start()
    // phase 1: W1 complete, W2 OPEN (one of its three events)
    write("b1.json",
      """{"ts":"2024-01-01T00:00:10Z","user":"a","v":1.0}""",
      """{"ts":"2024-01-01T00:00:20Z","user":"b","v":2.0}""",
      """{"ts":"2024-01-01T00:01:05Z","user":"a","v":3.0}""")
    val q1 = start(); q1.processAllAvailable(); q1.stop()
    // kill between sink write and checkpoint commit
    val commits = new java.io.File(s"$cp/commits").listFiles().filter(_.getName.forall(_.isDigit))
    val last = commits.maxBy(_.getName.toInt)
    new java.io.File(last.getParent, s".${last.getName}.crc").delete() // stale crc breaks the rewrite
    assert(commits.nonEmpty && last.delete())
    // phase 2: W2 completes ACROSS the restart, W3 arrives
    write("b2.json",
      """{"ts":"2024-01-01T00:01:30Z","user":"b","v":4.0}""",
      """{"ts":"2024-01-01T00:01:40Z","user":"a","v":5.0}""",
      """{"ts":"2024-01-01T00:02:10Z","user":"c","v":6.0}""")
    val q2 = start(); q2.processAllAvailable(); q2.stop()
    // batch oracle over ALL input (update mode: every window's final value
    // is the last put for its key — open windows included)
    val got = KeyValueSink.InMemoryKV.keys(ns)
      .filterNot(_.contains("/__graft/journal/")) // the journal shares the store by design
      .map { k =>
        val v = graft.core.Json.parse(KeyValueSink.InMemoryKV.get(ns, k.stripPrefix(s"$ns/")).get)
          .asInstanceOf[Map[String, Any]]
        k.stripPrefix(s"$ns/") -> ((v("v_count").asInstanceOf[Long], v("v_sum").asInstanceOf[Double]))
      }.toMap
    val want = spark.read.schema(schema).json(in)
      .groupBy(window(col("ts"), "1 minute"))
      .agg(count(lit(1)).as("c"), sum("v").as("s"))
      .select(col("window.start").cast("string"), col("c"), col("s"))
      .as[(String, Long, Double)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got == want, s"sink-level state != batch oracle:\nkv=$got\nbatch=$want")
    assert(want.size == 3 && want.exists { case (w, (c, _)) => w.startsWith("2024-01-01 00:01") && c == 3L },
      s"cross-kill window W2 must merge to count 3 in the oracle itself: $want")
    } finally valPrev.fold(spark.conf.unset(valKey))(spark.conf.set(valKey, _))
  }

  test("StreamPipeline: frozen DSIR + CCNet gates filter a YAML stream at ingest (round 10)") {
    // the full streaming curation-ingest shape: models fitted + saved by a
    // batch job, a YAML stream that only APPLIES them — pure maps + a
    // broadcast floors join, no stateful operators before the sink
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_gate_stream").toString
    val modelDir = java.nio.file.Files.createTempDirectory("graft_gate_models").toString
    // Bimodal fixture — the two known traps are designed OUT:
    //  - ppl: 20 tok docs (one shared text → one rounded score) + 20 junk
    //    docs → bucket 1 is exactly the tok mode; a streamed copy of the
    //    tok text TIES the bucket-1 floor and the head-most tie policy
    //    keeps it; the junk text ties bucket 2's values and drops.
    //  - dsir: the raw fit must be target-POOR (DsirSpec's lesson: a raw
    //    corpus rich in target-like text drives those grams' raw
    //    probabilities up and the ratio NEGATIVE), and the streamed junk
    //    doc must reuse RAW-OBSERVED junk grams (fully-unseen grams score
    //    the mildly-positive ln((nR+V)/(nT+V)) prior, not a penalty).
    val tokText = (0 until 10).map(j => s"tok${j % 7}").mkString(" ")
    val junkText = (0 until 10).map(j => s"junk$j").mkString(" ")
    val pplFitDocs = ((1L to 20L).map(i => (i, "en", tokText)) ++
      (21L to 40L).map(i => (i, "en", junkText))).toDF("doc_id", "lang", "text")
    graft.text.TextLib.savePplModel(spark,
      graft.text.TextLib.pplFit(pplFitDocs, "text", "doc_id", Seq("lang"), nBuckets = 2),
      s"$modelDir/ppl")
    val dsirRaw = ((1L to 2L).map(i => (i, tokText)) ++
      (3L to 40L).map(i => (i, junkText))).toDF("doc_id", "text")
    val dsirTarget = (1L to 20L).map(i => (i, tokText)).toDF("tid", "text")
    graft.text.Dsir.saveModel(spark,
      graft.text.Dsir.fitHashed(dsirRaw, dsirTarget, "text", buckets = 1 << 12),
      s"$modelDir/dsir")
    // stream: two tok docs (pass both gates), one junk doc (tail bucket
    // AND negative DSIR weight)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/b1.json"),
      s"""{"doc_id":101,"lang":"en","text":"$tokText"}
         |{"doc_id":102,"lang":"en","text":"$tokText"}
         |{"doc_id":103,"lang":"en","text":"$junkText"}""".stripMargin)
    val yaml =
      s"""name: gated_ingest
         |stream_source: { type: file, path: "$dir", format: json, schema: "doc_id BIGINT, lang STRING, text STRING" }
         |transforms:
         |  - { type: text_processing, operation: ppl_apply, model_path: "$modelDir/ppl", max_bucket: 1 }
         |  - { type: text_processing, operation: dsir_apply, model_path: "$modelDir/dsir", min_log_weight: 0.0 }
         |sink: { type: memory, name: gated_ingest_out, output_mode: append }
         |""".stripMargin
    val (q, _) = graft.streaming.StreamPipeline.start(spark, graft.streaming.StreamPipeline.fromYaml(yaml))
    try {
      q.processAllAvailable()
      val kept = spark.sql("SELECT doc_id FROM gated_ingest_out").as[Long].collect().toSet
      assert(kept == Set(101L, 102L),
        s"gates must keep the target-like docs and drop the junk doc: $kept")
    } finally q.stop()
  }

  test("StreamPipeline: gopher_gate drops rule-violating docs from a YAML stream") {
    // the stateless sibling of ppl_gate/dsir_gate: no fitted model, pure
    // per-row map, so the full Gopher recipe composes into ingest directly
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_gopher_stream").toString
    val clean = Array.fill(4)(
      "the quick brown fox jumps over that lazy dog with vigor and grace to be of sound mind")
      .mkString(" ")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/b1.json"),
      s"""{"doc_id":1,"text":"$clean"}
         |{"doc_id":2,"text":"too short to pass"}
         |{"doc_id":3,"text":"$clean ${"# " * 12}"}""".stripMargin)
    val yaml =
      s"""name: gopher_ingest
         |stream_source: { type: file, path: "$dir", format: json, schema: "doc_id BIGINT, text STRING" }
         |transforms:
         |  - { type: text_processing, operation: gopher_filter, min_words: 50, max_symbol_ratio: 0.2 }
         |sink: { type: memory, name: gopher_ingest_out, output_mode: append }
         |""".stripMargin
    val (q, _) = graft.streaming.StreamPipeline.start(spark, graft.streaming.StreamPipeline.fromYaml(yaml))
    try {
      q.processAllAvailable()
      val out = spark.sql("SELECT * FROM gopher_ingest_out")
      // relaxing max_symbol_ratio to 0.2 must rescue doc 3 (ratio 12/84 ≈
      // 0.143) — proves the YAML threshold actually reaches the gate
      assert(out.select("doc_id").as[Long].collect().toSet == Set(1L, 3L),
        s"clean doc + threshold-rescued doc survive; the short doc drops")
      assert(out.columns.toSeq == Seq("doc_id", "text"),
        s"survivors carry no audit columns: ${out.columns.toSeq}")
    } finally q.stop()
  }

  test("examples/curation_stream_pipeline.yaml: the FULL chained recipe gates one stream end-to-end (round 11)") {
    // dedup_lines → gopher_gate → ppl_gate → unimax_gate → journaled kv
    // sink, driven through the committed example YAML — the config-level
    // proof of the "every stage streams" claim. Pins the kept set, the
    // dropped set (gopher word-count, ppl tail bucket, unfitted group),
    // the unimax copy multiplicities, the in-stream line rewrite, and the
    // sink's batch journal markers.
    import spark.implicits._
    import graft.sources.KeyValueSink
    val in = java.nio.file.Files.createTempDirectory("graft_cur_stream").toString
    val cp = java.nio.file.Files.createTempDirectory("graft_cur_cp").toString
    val modelDir = java.nio.file.Files.createTempDirectory("graft_cur_models").toString
    val ns = s"curation_e2e_${java.util.UUID.randomUUID().toString.take(8)}"
    KeyValueSink.InMemoryKV.clear(ns)
    // ppl model (the round-10 bimodal fixture, per lang): tok docs form
    // bucket 1, junk docs bucket 2; a streamed tok copy TIES the bucket-1
    // floor and the head-most tie rule keeps it
    val tokLine = (0 until 10).map(j => s"tok${j % 7}").mkString(" ")
    val junkLine = (0 until 10).map(j => s"junk$j").mkString(" ")
    val pplFitDocs = (for {
      lang <- Seq("en", "de"); i <- 1L to 20L
    } yield (lang match { case "en" => i; case _ => i + 100L }, lang, tokLine)) ++ (for {
      lang <- Seq("en", "de"); i <- 21L to 40L
    } yield (lang match { case "en" => i; case _ => i + 100L }, lang, junkLine))
    graft.text.TextLib.savePplModel(spark,
      graft.text.TextLib.pplFit(pplFitDocs.toDF("doc_id", "lang", "text"),
        "text", "doc_id", Seq("lang"), nBuckets = 2),
      s"$modelDir/ppl")
    // unimax allocation: en levels at exactly 1.0 epoch, de caps at 2.0 —
    // integer epochs, so copy counts are hash-independent
    graft.ops.Scale.unimaxAllocation(
      ((1L to 8L).map(i => (i, "en", 10L)) ++ Seq((9L, "de", 10L), (10L, "de", 10L)))
        .toDF("doc_id", "lang", "n_chars"),
      "lang", "n_chars", budget = 120L, maxEpochs = 2.0)
      .write.mode("overwrite").parquet(s"$modelDir/alloc")
    // the stream: 701 en tok with a duplicated line (kept ×1, line removed),
    // 702 de tok (kept ×2), 703 en junk (ppl tail → drop), 704 en short
    // (gopher word_count → drop), 705 fr tok (unfitted group → drop)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$in/b1.json"),
      s"""{"doc_id":701,"lang":"en","text":"$tokLine\\n$tokLine"}
         |{"doc_id":702,"lang":"de","text":"$tokLine"}
         |{"doc_id":703,"lang":"en","text":"$junkLine"}
         |{"doc_id":704,"lang":"en","text":"too short to pass"}
         |{"doc_id":705,"lang":"fr","text":"$tokLine"}""".stripMargin)
    val yaml = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("examples/curation_stream_pipeline.yaml")), "UTF-8")
      .replace("${GRAFT_CURATION_IN:/tmp/graft_curation_in}", in)
      .replace("${GRAFT_PPL_MODEL:/models/ccnet_floors}", s"$modelDir/ppl")
      .replace("${GRAFT_UNIMAX_ALLOC:/models/unimax_alloc}", s"$modelDir/alloc")
      .replace("${GRAFT_KV_NAMESPACE:curation_stream}", ns)
      .replace("${GRAFT_CURATION_CP:/tmp/graft_curation_cp}", cp)
    val (q, _) = graft.streaming.StreamPipeline.start(spark, graft.streaming.StreamPipeline.fromYaml(yaml))
    try {
      q.processAllAvailable()
      val rows = KeyValueSink.InMemoryKV.list(ns, "curated")
        .map(graft.core.Json.parse(_).asInstanceOf[Map[String, Any]])
      def num(v: Any): Long = v match {
        case l: Long => l; case i: Int => i.toLong; case d: Double => d.toLong
        case other   => other.toString.toDouble.toLong
      }
      val got = rows.map(r => (num(r("doc_id")), num(r("epoch")).toInt)).sorted
      assert(got == Seq((701L, 1), (702L, 1), (702L, 2)),
        s"kept/copied sets wrong: $got (703 junk, 704 short, 705 unfitted must drop)")
      // the in-place line rewrite happened IN the stream, before the gates
      val d701 = rows.find(r => num(r("doc_id")) == 701L).get
      assert(num(d701("n_removed_lines")) == 1L &&
        d701("text") == tokLine, s"dedup_lines must rewrite in-stream: $d701")
      // exactly-once: the micro-batch committed its journal marker atomically
      assert(KeyValueSink.InMemoryKV.keys(ns).exists(_.contains("__graft/journal/")),
        s"journaled sink must leave a batch marker: ${KeyValueSink.InMemoryKV.keys(ns)}")
    } finally { q.stop(); KeyValueSink.InMemoryKV.clear(ns) }
  }

  test("StreamPipeline: seen_gate drops already-ingested text via the frozen corpus bloom (round 11)") {
    // "don't re-ingest what we accepted": the snapshot is bloomed once by
    // a batch job; the stream probes the sketch row-locally and never
    // reads the snapshot. Case/whitespace variants of accepted text drop
    // too (the key is the normalized hash).
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_seen_stream").toString
    val modelDir = java.nio.file.Files.createTempDirectory("graft_seen_model").toString
    val accepted = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "completely different content about catalyst internals")
    ).toDF("doc_id", "text")
    graft.text.Dedup.saveSeenBloom(spark,
      graft.text.Dedup.seenCorpusFit(accepted, "text", fpp = 0.001), s"$modelDir/bloom")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/b1.json"),
      """{"doc_id":801,"text":"THE QUICK   BROWN fox jumps over the lazy dog"}
        |{"doc_id":802,"text":"completely different content about catalyst internals"}
        |{"doc_id":803,"text":"genuinely fresh never before seen writing zxqv plumbus"}""".stripMargin)
    val yaml =
      s"""name: seen_ingest
         |stream_source: { type: file, path: "$dir", format: json, schema: "doc_id BIGINT, text STRING" }
         |transforms:
         |  - { type: text_processing, operation: seen_corpus_apply, bloom_path: "$modelDir/bloom", drop: true }
         |sink: { type: memory, name: seen_ingest_out, output_mode: append }
         |""".stripMargin
    val (q, _) = graft.streaming.StreamPipeline.start(spark, graft.streaming.StreamPipeline.fromYaml(yaml))
    try {
      q.processAllAvailable()
      val kept = spark.sql("SELECT doc_id FROM seen_ingest_out").as[Long].collect().toSet
      assert(kept == Set(803L),
        s"the two accepted texts (one a case/ws variant) must drop, the fresh one passes: $kept")
    } finally q.stop()
  }

  test("StreamPipeline: neardup_gate screens a stream against the frozen LSH-bucket bloom; stream ≡ batch (round 12)") {
    // seen_gate's NEAR-dup sibling (VERDICT r11 #4): the accepted corpus's
    // band buckets are bloomed once by a batch job; ingest computes each
    // record's signature row-locally and drops on any bucket hit — an
    // exact copy AND a near-dup (last word dropped, most bands still
    // agree) both drop; token-disjoint fresh text passes. The stream
    // survivor set is pinned EQUAL to the batch application of the same
    // frozen model (stateless gate → stream ≡ batch by construction,
    // asserted here end-to-end through the YAML path).
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_nd_stream").toString
    val modelDir = java.nio.file.Files.createTempDirectory("graft_nd_model").toString
    val accepted = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (2L, "completely different content about catalyst internals and codegen stages here")
    ).toDF("doc_id", "text")
    graft.text.Dedup.saveNeardupBloom(spark,
      graft.text.Dedup.neardupBloomFit(accepted, "text", fpp = 0.001), s"$modelDir/ndbloom")
    val batchRows = Seq(
      (901L, "the quick brown fox jumps over the lazy dog near the river bank today"), // exact copy
      (902L, "the quick brown fox jumps over the lazy dog near the river bank"),       // near-dup (last word dropped)
      (903L, "zxqv901 plumbus901 vortkel901 grumbo901 blit901 snarfle901 quxx901")     // token-disjoint fresh
    )
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/b1.json"),
      batchRows.map { case (id, t) => s"""{"doc_id":$id,"text":"$t"}""" }.mkString("\n"))
    val yaml =
      s"""name: neardup_ingest
         |stream_source: { type: file, path: "$dir", format: json, schema: "doc_id BIGINT, text STRING" }
         |transforms:
         |  - { type: text_processing, operation: neardup_bloom_apply, model_path: "$modelDir/ndbloom" }
         |sink: { type: memory, name: neardup_ingest_out, output_mode: append }
         |""".stripMargin
    val (q, _) = graft.streaming.StreamPipeline.start(spark, graft.streaming.StreamPipeline.fromYaml(yaml))
    try {
      q.processAllAvailable()
      val streamKept = spark.sql("SELECT doc_id FROM neardup_ingest_out").as[Long].collect().toSet
      val loaded = graft.text.Dedup.loadNeardupBloom(spark, s"$modelDir/ndbloom")
      val batchKept = graft.text.Dedup.neardupBloomApply(
          batchRows.toDF("doc_id", "text"), "text", loaded)
        .filter(!org.apache.spark.sql.functions.col("maybe_neardup"))
        .select("doc_id").as[Long].collect().toSet
      assert(streamKept == batchKept, s"stream ≡ batch violated: $streamKept vs $batchKept")
      assert(streamKept == Set(903L),
        s"exact copy AND near-dup must drop, fresh passes: $streamKept")
    } finally q.stop()
  }

  test("StreamPipeline: semantic_gate screens a stream against frozen per-cell accepted embeddings; stream ≡ batch (round 13)") {
    // the embedding-space member of the frozen-gate family (VERDICT r12
    // #6): centroids + per-cell accepted reps frozen by a batch job;
    // ingest assigns each record's embedding to its cell and screens it
    // against that cell's reps as a pure map. A vector nearly parallel to
    // an accepted one drops, an orthogonal one passes, a malformed one
    // passes (near-dup of nothing). Stream survivors pinned EQUAL to the
    // batch application of the same frozen model through the YAML path.
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_sg_stream").toString
    val modelDir = java.nio.file.Files.createTempDirectory("graft_sg_model").toString
    // two well-separated cells on axes 0 and 1
    val accepted = Seq(
      (1L, Seq(1f, 0f, 0f, 0f)), (2L, Seq(0.95f, 0.3f, 0f, 0f)),
      (10L, Seq(0f, 1f, 0f, 0f)), (11L, Seq(0f, 0.95f, 0.3f, 0f))
    ).toDF("vec_id", "embedding")
    val cents = Array(Array(1.0, 0, 0, 0), Array(0.0, 1, 0, 0))
    val model = graft.vec.SemGate.semGateFit(accepted, "vec_id", "embedding",
      centroids = cents)
    graft.vec.SemGate.saveSemGate(spark, model, s"$modelDir/sg")
    val batchRows = Seq(
      (901L, Seq(0.99f, 0.1f, 0f, 0f)),  // near-parallel to accepted 1 -> drops
      (902L, Seq(0f, 0.99f, 0.12f, 0f)), // near-parallel to accepted 10/11 -> drops
      (903L, Seq(0f, 0f, 1f, 0f)),       // orthogonal to every rep -> passes
      (904L, Seq(1f, 0f))                // malformed (wrong dim) -> passes
    )
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/b1.json"),
      batchRows.map { case (id, v) =>
        s"""{"vec_id":$id,"embedding":[${v.mkString(",")}]}"""
      }.mkString("\n"))
    val yaml =
      s"""name: sem_gate
         |stream_source: { type: file, path: "$dir", format: json, schema: "vec_id BIGINT, embedding ARRAY<FLOAT>" }
         |transforms:
         |  - { type: text_processing, operation: semantic_gate, model_path: "$modelDir/sg", threshold: "0.9", drop: true }
         |sink: { type: memory, name: sem_gate_out, output_mode: append }
         |""".stripMargin
    val (q, _) = graft.streaming.StreamPipeline.start(spark, graft.streaming.StreamPipeline.fromYaml(yaml))
    try {
      q.processAllAvailable()
      val streamKept = spark.sql("SELECT vec_id FROM sem_gate_out").as[Long].collect().toSet
      val loaded = graft.vec.SemGate.loadSemGate(spark, s"$modelDir/sg")
      val batchKept = graft.vec.SemGate.semGateApply(
          batchRows.toDF("vec_id", "embedding"), "embedding", loaded, threshold = 0.9)
        .filter(!org.apache.spark.sql.functions.col("sem_dup"))
        .select("vec_id").as[Long].collect().toSet
      assert(streamKept == batchKept, s"stream ≡ batch violated: $streamKept vs $batchKept")
      assert(streamKept == Set(903L, 904L),
        s"near-parallel drops, orthogonal + malformed pass: $streamKept")
    } finally q.stop()
  }

  test("StreamPipeline: langid_gate classifies and filters a YAML stream against a frozen model (round 11)") {
    // the char-trigram language-ID model joins the frozen-gate family: fit
    // + saved by a batch job, ingest classifies as a pure map and keep_langs
    // drops off-language records at the source
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_li_stream").toString
    val modelDir = java.nio.file.Files.createTempDirectory("graft_li_model").toString
    val fitDocs = Seq(
      (1L, "en", "the cat is on the table and it was not happy with this situation"),
      (2L, "en", "there is a house in the town where the children play with their friends"),
      (3L, "de", "der Hund ist nicht mit der Katze auf den Tisch und das Haus ist schoen"),
      (4L, "de", "die Kinder spielen in dem Garten und sie haben einen schoenen Tag")
    ).toDF("doc_id", "lang", "text")
    graft.text.TextLib.saveLangIdModel(spark,
      graft.text.TextLib.langIdFit(fitDocs, "text", "lang"), s"$modelDir/langid")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/b1.json"),
      """{"doc_id":601,"text":"the dog was in the house with the cat and the children"}
        |{"doc_id":602,"text":"der Garten und das Haus sind schoen und die Kinder spielen"}
        |{"doc_id":603,"text":""}""".stripMargin)
    val yaml =
      s"""name: langid_ingest
         |stream_source: { type: file, path: "$dir", format: json, schema: "doc_id BIGINT, text STRING" }
         |transforms:
         |  - { type: text_processing, operation: lang_id_apply, model_path: "$modelDir/langid", keep_langs: en }
         |sink: { type: memory, name: langid_ingest_out, output_mode: append }
         |""".stripMargin
    val (q, _) = graft.streaming.StreamPipeline.start(spark, graft.streaming.StreamPipeline.fromYaml(yaml))
    try {
      q.processAllAvailable()
      val kept = spark.sql("SELECT doc_id, lang_pred FROM langid_ingest_out")
        .as[(Long, String)].collect().toMap
      assert(kept.keySet == Set(601L),
        s"keep_langs=en must keep the English doc, drop the German and the no-evidence doc: $kept")
      assert(kept(601L) == "en")
    } finally q.stop()
  }

  test("StreamPipeline: langid_gate → gopher_gate(lang_field) — per-language Gopher thresholds ride the prediction (round 12)") {
    // VERDICT r11 #3's recipe shape: language-ID classifies, then the
    // Gopher gate dispatches its two anglocentric rules on lang_pred. The
    // German doc has ZERO English Gopher-eight stopwords — the English-only
    // gate drops it; the lang-aware gate keeps it via the German marker
    // list. Both runs share one source dir; only lang_field differs.
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_ml_stream").toString
    val modelDir = java.nio.file.Files.createTempDirectory("graft_ml_model").toString
    val fitDocs = Seq(
      (1L, "en", "the cat is on the table and it was not happy with this situation"),
      (2L, "en", "there is a house in the town where the children play with their friends"),
      (3L, "de", "der Hund ist nicht mit der Katze auf den Tisch und das Haus ist schoen"),
      (4L, "de", "die Kinder spielen in dem Garten und sie haben einen schoenen Tag")
    ).toDF("doc_id", "lang", "text")
    graft.text.TextLib.saveLangIdModel(spark,
      graft.text.TextLib.langIdFit(fitDocs, "text", "lang"), s"$modelDir/langid")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/b1.json"),
      """{"doc_id":701,"text":"the cat and the dog have been to the house of the children and that was good to see"}
        |{"doc_id":702,"text":"der Hund und die Katze spielen mit den Kindern in dem Garten und das Wetter ist schoen"}""".stripMargin)
    def yaml(langAware: Boolean, sinkName: String) = {
      val langField = if (langAware) ", lang_column: lang_pred" else ""
      s"""name: ml_gopher
         |stream_source: { type: file, path: "$dir", format: json, schema: "doc_id BIGINT, text STRING" }
         |transforms:
         |  - { type: text_processing, operation: lang_id_apply, model_path: "$modelDir/langid" }
         |  - { type: text_processing, operation: gopher_filter, min_words: 5, min_mean_word_len: 2.5$langField }
         |sink: { type: memory, name: $sinkName, output_mode: append }
         |""".stripMargin
    }
    def run(langAware: Boolean, sinkName: String): Map[Long, String] = {
      val (q, _) = graft.streaming.StreamPipeline.start(spark,
        graft.streaming.StreamPipeline.fromYaml(yaml(langAware, sinkName)))
      try {
        q.processAllAvailable()
        spark.sql(s"SELECT doc_id, lang_pred FROM $sinkName")
          .as[(Long, String)].collect().toMap
      } finally q.stop()
    }
    val aware = run(langAware = true, "ml_gopher_aware")
    assert(aware.keySet == Set(701L, 702L),
      s"lang-aware gate must keep BOTH docs (each passes its own language's rules): $aware")
    assert(aware(701L) == "en" && aware(702L) == "de", s"predictions: $aware")
    val anglo = run(langAware = false, "ml_gopher_anglo")
    assert(anglo.keySet == Set(701L),
      s"English-only gate must drop the German doc (zero Gopher-eight stopwords): $anglo")
  }

  test("StreamPipeline: unimax_gate repeats stream records per the frozen allocation; dedup_lines streams") {
    // the mixture sampler joins the frozen-gate family: allocation fitted +
    // saved by a batch job, ingest repeats records per its epochs (a
    // stateless broadcast join + explode — upsampling at ingest)
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_ux_stream").toString
    val modelDir = java.nio.file.Files.createTempDirectory("graft_ux_model").toString
    // en: 8 docs × 10 chars (cap 160), de: 2 × 10 (cap 40); budget 120 →
    // de caps at 2.0 epochs, en levels at exactly 1.0 — integer epochs, so
    // the streamed copy counts are hash-independent
    val fit = ((1L to 8L).map(i => (i, "en", 10L)) ++ Seq((9L, "de", 10L), (10L, "de", 10L)))
      .toDF("doc_id", "lang", "n_chars")
    graft.ops.Scale.unimaxAllocation(fit, "lang", "n_chars", budget = 120L, maxEpochs = 2.0)
      .write.mode("overwrite").parquet(s"$modelDir/alloc")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/b1.json"),
      s"""{"doc_id":501,"lang":"en","text":"alpha\\nalpha\\nbeta"}
         |{"doc_id":502,"lang":"de","text":"gamma"}
         |{"doc_id":503,"lang":"xx","text":"dropped"}""".stripMargin)
    val yaml =
      s"""name: unimax_ingest
         |stream_source: { type: file, path: "$dir", format: json, schema: "doc_id BIGINT, lang STRING, text STRING" }
         |transforms:
         |  - { type: text_processing, operation: dedup_lines }
         |  - { type: text_processing, operation: unimax_apply, allocation_path: "$modelDir/alloc", group_column: lang, key_column: doc_id }
         |sink: { type: memory, name: unimax_ingest_out, output_mode: append }
         |""".stripMargin
    val (q, _) = graft.streaming.StreamPipeline.start(spark, graft.streaming.StreamPipeline.fromYaml(yaml))
    try {
      q.processAllAvailable()
      val out = spark.sql("SELECT doc_id, text, epoch FROM unimax_ingest_out")
        .as[(Long, String, Int)].collect().sortBy(r => (r._1, r._3))
      assert(out.map(r => (r._1, r._3)).toSeq == Seq((501L, 1), (502L, 1), (502L, 2)),
        s"en ×1, de ×2, unknown lang dropped: ${out.toSeq}")
      assert(out.head._2 == "alpha\nbeta", s"dedup_lines rewrote the streamed text: ${out.head}")
    } finally q.stop()
  }

  test("stream ≡ batch: each streamable text_processing op keeps the same rows under transforms: and operations:") {
    // one entry, two runs: under operations: over a static frame through
    // Pipeline, and under transforms: over a file stream of the same rows.
    // The frozen models are fitted as the gate tests above fit them.
    import spark.implicits._
    import java.nio.file.Files
    val models = Files.createTempDirectory("graft_parity_models").toString
    val tok = (0 until 10).map(j => s"tok${j % 7}").mkString(" ")
    val junk = (0 until 10).map(j => s"junk$j").mkString(" ")
    graft.text.TextLib.savePplModel(spark, graft.text.TextLib.pplFit(
      ((1L to 20L).map(i => (i, "en", tok)) ++ (21L to 40L).map(i => (i, "en", junk))).toDF("doc_id", "lang", "text"),
      "text", "doc_id", Seq("lang"), nBuckets = 2), s"$models/ppl")
    // a unigram-only DSIR model: the stream must score it with gram_orders [1] too
    graft.text.Dsir.saveModel(spark, graft.text.Dsir.fitHashed(
      ((1L to 2L).map(i => (i, tok)) ++ (3L to 40L).map(i => (i, junk))).toDF("doc_id", "text"),
      (1L to 20L).map(i => (i, tok)).toDF("tid", "text"), "text", ns = Seq(1), buckets = 1 << 12), s"$models/dsir")
    graft.text.TextLib.saveLangIdModel(spark, graft.text.TextLib.langIdFit(Seq(
      (1L, "en", "the cat is on the table and it was not happy with this situation"),
      (2L, "en", "there is a house in the town where the children play with their friends"),
      (3L, "de", "der Hund ist nicht mit der Katze auf den Tisch und das Haus ist schoen"),
      (4L, "de", "die Kinder spielen in dem Garten und sie haben einen schoenen Tag")
    ).toDF("doc_id", "lang", "text"), "text", "lang"), s"$models/langid")
    val accepted = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (2L, "completely different content about catalyst internals and codegen stages here")
    ).toDF("doc_id", "text")
    graft.text.Dedup.saveSeenBloom(spark,
      graft.text.Dedup.seenCorpusFit(accepted, "text", fpp = 0.001), s"$models/bloom")
    graft.text.Dedup.saveNeardupBloom(spark,
      graft.text.Dedup.neardupBloomFit(accepted, "text", fpp = 0.001), s"$models/ndbloom")
    graft.vec.SemGate.saveSemGate(spark, graft.vec.SemGate.semGateFit(Seq(
      (1L, Seq(1f, 0f, 0f, 0f)), (2L, Seq(0.95f, 0.3f, 0f, 0f)),
      (10L, Seq(0f, 1f, 0f, 0f)), (11L, Seq(0f, 0.95f, 0.3f, 0f))
    ).toDF("vec_id", "embedding"), "vec_id", "embedding",
      centroids = Array(Array(1.0, 0, 0, 0), Array(0.0, 1, 0, 0))), s"$models/sg")
    graft.ops.Scale.unimaxAllocation(
      ((1L to 8L).map(i => (i, "en", 10L)) ++ Seq((9L, "de", 10L), (10L, "de", 10L)))
        .toDF("doc_id", "lang", "n_chars"),
      "lang", "n_chars", budget = 120L, maxEpochs = 2.0).write.mode("overwrite").parquet(s"$models/alloc")

    val clean = Array.fill(4)(
      "the quick brown fox jumps over that lazy dog with vigor and grace to be of sound mind").mkString(" ")
    val docs = Seq(
      (101L, "en", tok), (102L, "en", tok), (103L, "en", junk),
      (201L, "en", "the dog was in the house with the cat and the children"),
      (202L, "de", "der Garten und das Haus sind schoen und die Kinder spielen"),
      (301L, "en", "THE QUICK   BROWN fox jumps over the lazy dog near the river bank today"),
      (302L, "en", "the quick brown fox jumps over the lazy dog near the river bank"),
      (303L, "en", "zxqv901 plumbus901 vortkel901 grumbo901 blit901 snarfle901 quxx901"),
      (401L, "en", clean), (402L, "en", s"$clean ${"# " * 12}"), (403L, "en", "too short to pass"),
      (501L, "en", "alpha\nalpha\nbeta"), (502L, "de", "gamma"), (503L, "xx", "dropped")
    ).toDF("doc_id", "lang", "text")
    val vecs = Seq((901L, Seq(0.99f, 0.1f, 0f, 0f)), (902L, Seq(0f, 0.99f, 0.12f, 0f)),
      (903L, Seq(0f, 0f, 1f, 0f)), (904L, Seq(1f, 0f))).toDF("vec_id", "embedding")
    val docsDdl = "doc_id BIGINT, lang STRING, text STRING"
    val vecsDdl = "vec_id BIGINT, embedding ARRAY<FLOAT>"
    def op(rest: String) = s"{ type: text_processing, operation: $rest }"
    // (entry, input, its DDL, the survivors' projection compared as a multiset)
    val rows = Seq(
      (op(s"""ppl_apply, model_path: "$models/ppl", max_bucket: 1"""), docs, docsDdl, "doc_id"),
      (op(s"""dsir_apply, model_path: "$models/dsir", gram_orders: [1], min_log_weight: 0.0"""),
        docs, docsDdl, "doc_id"),
      (op(s"""lang_id_apply, model_path: "$models/langid", keep_langs: en"""), docs, docsDdl, "doc_id"),
      (op(s"""seen_corpus_apply, bloom_path: "$models/bloom", drop: true"""), docs, docsDdl, "doc_id"),
      (op(s"""neardup_bloom_apply, model_path: "$models/ndbloom""""), docs, docsDdl, "doc_id"),
      (op(s"""semantic_gate, model_path: "$models/sg", threshold: 0.9, drop: true"""), vecs, vecsDdl, "vec_id"),
      (op("gopher_filter, min_words: 50, max_symbol_ratio: 0.2"), docs, docsDdl, "doc_id"),
      (op(s"""unimax_apply, allocation_path: "$models/alloc", group_column: lang, key_column: doc_id"""),
        docs, docsDdl, "concat(doc_id, '/', epoch)"),
      (op("dedup_lines"), docs, docsDdl, "concat(doc_id, '/', text)"),
      // which rows fill a group's quota differs (top-k by key vs first
      // come); how many rows each group keeps does not
      (op("quota_per_group, group_column: lang, quota: 2"), docs, docsDdl, "lang"))
    rows.zipWithIndex.foreach { case ((entry, input, ddl, proj), i) =>
      val dir = Files.createTempDirectory(s"graft_parity_$i").toString
      input.write.json(s"$dir/in")
      input.write.parquet(s"$dir/static")
      val batch = graft.core.Pipeline.execute(spark, graft.core.Pipeline.fromYaml(
        s"""name: parity_batch_$i
           |source: { type: parquet, path: "$dir/static" }
           |operations:
           |  - $entry
           |storage: { type: parquet, path: "$dir/out" }
           |""".stripMargin))
      assert(batch.status == "success", s"$entry: ${batch.errors.mkString("; ")}")
      val (q, _) = graft.streaming.StreamPipeline.start(spark, graft.streaming.StreamPipeline.fromYaml(
        s"""name: parity_stream_$i
           |stream_source: { type: file, path: "$dir/in", format: json, schema: "$ddl" }
           |transforms:
           |  - $entry
           |sink: { type: memory, name: parity_out_$i, output_mode: append }
           |""".stripMargin))
      val streamed = try {
        q.processAllAvailable()
        spark.table(s"parity_out_$i").selectExpr(s"cast($proj as string)").as[String].collect().sorted.toSeq
      } finally q.stop()
      val batched = spark.read.parquet(s"$dir/out").selectExpr(s"cast($proj as string)").as[String]
        .collect().sorted.toSeq
      assert(batched.nonEmpty, s"$entry kept nothing: the row shows nothing")
      assert(streamed == batched, s"$entry: stream kept $streamed, batch kept $batched")
    }
  }

  test("atomic KV append: crash before the atomic EXEC leaves NOTHING; committed replay is skipped (round 10)") {
    // closes the LAST BatchJournal residual window (KV list/stream appends)
    // the way the JDBC path closed its own: effects + journal marker in ONE
    // atomic sink action (Redis EVAL parity, modeled by InMemoryKV's
    // drain-then-locked-commit applyJournaled)
    import graft.sources.{AtomicKeyValueSink, KeyValueSink, KvOp}
    val ns = "eo_atomic"
    KeyValueSink.InMemoryKV.clear(ns)
    // sink-level atomicity first: an ops iterator that throws MID-DRAIN
    // (crash while effects are being queued) mutates nothing
    val s0 = new KeyValueSink.InMemoryKV(ns)
    intercept[RuntimeException] {
      s0.applyJournaled("__graft/journal/t/0",
        Iterator[KvOp](KvOp.PushList("l", "a"), KvOp.PushList("l", "b")) ++
          { throw new RuntimeException("mid-drain crash"); Iterator.empty[KvOp] })
    }
    assert(KeyValueSink.InMemoryKV.list(ns, "l").isEmpty, "mid-drain crash must apply nothing")
    assert(s0.get("__graft/journal/t/0").isEmpty, "mid-drain crash must not journal")
    // streaming: crash injected AFTER all effects are staged, BEFORE the
    // atomic commit — the exact point that duplicated on the wrapper path
    val in = java.nio.file.Files.createTempDirectory("graft_eoa_in").toString
    val cp = java.nio.file.Files.createTempDirectory("graft_eoa_cp").toString
    val schema = org.apache.spark.sql.types.StructType.fromDDL("ID BIGINT, NAME STRING")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$in/b1.json"),
      """{"ID":1,"NAME":"a"}""" + "\n" + """{"ID":2,"NAME":"b"}""")
    @volatile var crash = true
    def factory(): AtomicKeyValueSink = new AtomicKeyValueSink {
      private val inner = new KeyValueSink.InMemoryKV(ns)
      override def put(k: String, v: String, t: Long): Unit = inner.put(k, v, t)
      override def appendStream(s: String, v: String, m: Long): Unit = inner.appendStream(s, v, m)
      override def pushList(l: String, v: String, m: Long): Unit = inner.pushList(l, v, m)
      override def get(k: String): Option[String] = inner.get(k)
      override def applyJournaled(key: String, ops: Iterator[KvOp]): Boolean = {
        val staged = ops.toVector // every effect staged — the "after effects" point
        if (crash) throw new RuntimeException("injected crash before atomic EXEC")
        inner.applyJournaled(key, staged.iterator)
      }
    }
    def start() = KeyValueSink.streamWriterAtomic(
      StreamOps.files(spark, in, "json", schema), "ID", cp, () => factory(),
      mode = "list", target = "out").start()
    val q1 = start()
    intercept[org.apache.spark.sql.streaming.StreamingQueryException](q1.processAllAvailable())
    q1.stop()
    assert(KeyValueSink.InMemoryKV.list(ns, "out").isEmpty,
      "crash before the atomic commit must leave NO list entries")
    assert(!KeyValueSink.InMemoryKV.keys(ns).exists(_.contains("/__graft/journal/")),
      "crash before the atomic commit must leave NO journal marker")
    crash = false
    val q2 = start(); q2.processAllAvailable(); q2.stop()
    assert(KeyValueSink.InMemoryKV.list(ns, "out").size == 2, "restart applies the batch exactly once")
    // forced replay of the committed batch: drop the checkpoint commit
    val commits = new java.io.File(s"$cp/commits").listFiles().filter(_.getName.forall(_.isDigit))
    val last = commits.maxBy(_.getName.toInt)
    new java.io.File(last.getParent, s".${last.getName}.crc").delete()
    assert(commits.nonEmpty && last.delete())
    val q3 = start(); q3.processAllAvailable(); q3.stop()
    assert(KeyValueSink.InMemoryKV.list(ns, "out").size == 2,
      "replayed committed batch must be skipped by the in-EXEC journal marker")
  }

  test("record transforms and filters work on streaming frames") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Ev]
    import graft.core.OpSpec._
    val transformed = graft.core.OpCompiler.compile(Seq(Rename(Map("v" -> "value")),
      Calculate("doubled", "value * 2"), FilterColumn("doubled", ">", 5.0)))(input.toDF())
    val q = StreamOps.runToMemory(transformed, "rec")
    try {
      input.addData(Ev(t("2024-01-01 00:00:00"), "a", 1.0), Ev(t("2024-01-01 00:00:01"), "b", 4.0))
      q.processAllAvailable()
      val rows = spark.sql("SELECT user, doubled FROM rec").as[(String, Double)].collect()
      assert(rows.toSeq == Seq(("b", 8.0)))
    } finally q.stop()
  }

  test("stream aggs unique_count (HLL) and percentile sketch") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Ev]
    val agg = StreamOps.tumbling(input.toDF(), "ts", "1 hour", "1 hour",
      Nil, Seq("user" -> "unique_count", "v" -> "percentile"))
    val q = agg.writeStream.format("memory").queryName("hll").outputMode("complete").start()
    try {
      input.addData((1 to 50).map(i => Ev(t(s"2024-01-01 00:${10 + i % 40}:00"), s"u${i % 7}", i.toDouble)): _*)
      q.processAllAvailable()
      val row = spark.sql("SELECT user_unique_count, v_percentile FROM hll").collect()(0)
      assert(row.getLong(0) == 7L)         // exact at this cardinality
      assert(math.abs(row.getDouble(1) - 48.0) <= 1.0) // p95 of 1..50
    } finally q.stop()
  }

  test("quotaPerGroupStream: binary group keys quota by VALUE, not JVM identity") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Doc]
    // group = sha2 binary of the first word: same word -> same byte-array
    // VALUE but a fresh array object per row — identity keying would give
    // every row its own group and never enforce the quota
    val keyed = input.toDF().withColumn("k",
      sha2(split(col("text"), " ")(0).cast("binary"), 256).cast("binary"))
    val q = StreamOps.runToMemory(StreamOps.quotaPerGroupStream(keyed, "k", 2L), "quota_bin")
    try {
      input.addData((1 to 5).map(i => Doc(t("2024-01-01 00:00:00"), i, s"same doc $i")): _*)
      q.processAllAvailable()
      input.addData((6 to 8).map(i => Doc(t("2024-01-01 00:01:00"), i, s"same doc $i")): _*)
      q.processAllAvailable()
      assert(spark.sql("SELECT count(*) FROM quota_bin").as[Long].collect()(0) == 2L,
        "one binary-valued group, quota 2, eight candidate rows")
    } finally q.stop()
  }

  test("quotaPerGroupStream: lifetime per-group budget holds ACROSS micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Doc]
    // group = first word of text; quota 4 per group for the stream's life
    val keyed = input.toDF().withColumn("src", split(col("text"), " ")(0))
    val q = StreamOps.runToMemory(
      StreamOps.quotaPerGroupStream(keyed, "src", 4L), "quota_stream")
    try {
      // batch 1: 3 of "a", 2 of "b" -> all pass (under quota)
      input.addData((1 to 3).map(i => Doc(t("2024-01-01 00:00:00"), i, s"a doc $i")) ++
        (4 to 5).map(i => Doc(t("2024-01-01 00:00:00"), i, s"b doc $i")): _*)
      q.processAllAvailable()
      // batch 2: 3 more of "a" -> exactly ONE more passes (state remembers 3)
      input.addData((6 to 8).map(i => Doc(t("2024-01-01 00:01:00"), i, s"a doc $i")): _*)
      q.processAllAvailable()
      // batch 3: 1 more of "a" (over), 3 more of "b" (2 pass to reach 4)
      input.addData(Doc(t("2024-01-01 00:02:00"), 9L, "a doc 9"))
      input.addData((10 to 12).map(i => Doc(t("2024-01-01 00:02:00"), i, s"b doc $i")): _*)
      q.processAllAvailable()
      val bySrc = spark.sql("SELECT src, count(*) FROM quota_stream GROUP BY src")
        .as[(String, Long)].collect().toMap
      assert(bySrc == Map("a" -> 4L, "b" -> 4L),
        s"quota must cap lifetime intake per group, got $bySrc")
    } finally q.stop()
  }

  test("stateless curation ops run unchanged on streaming frames") {
    // assignSplit / scriptProfile / redactPii are row-local pure
    // projections — the SAME code drives batch and micro-batch. This pins
    // that none of them smuggles in an aggregate/window that a stream
    // would reject at analysis.
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Doc]
    val piped = graft.ops.Scale.assignSplit(
      graft.text.TextLib.scriptProfile(
        input.toDF().withColumn("text", graft.text.TextLib.redactPii(col("text"))),
        "text"),
      "id", Seq("train" -> 0.5, "val" -> 0.5))
    val q = StreamOps.runToMemory(piped, "scur")
    try {
      input.addData(
        Doc(t("2024-01-01 00:00:00"), 1L, "mail me a@b.co about Привет"),
        Doc(t("2024-01-01 00:01:00"), 2L, "plain latin text here"))
      q.processAllAvailable()
      val rows = spark.sql("SELECT id, text, split, cyrillic_ratio FROM scur")
        .collect().map(r => r.getLong(0) -> r).toMap
      assert(rows(1L).getString(1).contains("<EMAIL>"), "redaction ran in-stream")
      assert(Set("train", "val").contains(rows(1L).getString(2)))
      assert(rows(1L).getDouble(3) > 0.0, "script profile ran in-stream")
    } finally q.stop()
  }

  test("psiDriftMonitor: fit once, score every micro-batch against it") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Ev]
    // reference [1,2,3,4]: median cut 2.5 -> fracs (0.5, 0.5)
    val ref = Seq(1.0, 2.0, 3.0, 4.0).toDF("v")
    val results = scala.collection.mutable.Map[Long, Map[Int, (Long, Double)]]()
    val cp = java.nio.file.Files.createTempDirectory("psi_cp").toString
    val q = StreamOps.psiDriftMonitor(
        input.toDF(), ref, "v", cp, nBins = 2, intervalMs = 10L) { (psi, id) =>
      results.synchronized {
        results(id) = psi.collect()
          .map(r => r.getInt(0) -> ((r.getLong(2), r.getDouble(5)))).toMap
      }
    }.start()
    try {
      // batch 0 matches the reference exactly -> every term 0
      input.addData(Seq(1.0, 2.0, 3.0, 4.0).map(v => Ev(t("2024-01-01 00:00:00"), "a", v)): _*)
      q.processAllAvailable()
      // batch 1 is all-high -> bin 0 empty (epsilon clamp), drift positive
      input.addData(Seq(3.0, 4.0, 9.0).map(v => Ev(t("2024-01-01 00:01:00"), "a", v)): _*)
      q.processAllAvailable()
      val b0 = results.synchronized(results(0L))
      assert(b0(0) == ((2L, 0.0)) && b0(1) == ((2L, 0.0)),
        s"identical batch must score zero drift, got $b0")
      val b1 = results.synchronized(results(1L))
      assert(b1(0)._1 == 0L && b1(1)._1 == 3L, s"got $b1")
      // bin 1: (1 - 0.5) * ln(1 / 0.5); bin 0: (1e-6 - 0.5) * ln(1e-6 / 0.5)
      assert(math.abs(b1(1)._2 - 0.5 * math.log(2.0)) < 1e-9)
      assert(b1(0)._2 > 6.0, "near-empty bin against 0.5 ref mass is a large positive term")
      // the reference fit is literals: each micro-batch job is batch-local
    } finally q.stop()
  }

  test("joinStreams: banded stream-stream inner join matches only inside the window") {
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[Ev]
    val imps = MemoryStream[Doc] // (ts, id, text) — join on text==user for the test
    val out = StreamOps.joinStreams(
      clicks.toDF(), imps.toDF().withColumnRenamed("text", "user"),
      Seq("user"), "ts", "ts", "10 seconds", joinWindowSeconds = 60,
      joinType = "inner", rightPrefix = "r_")
    val q = out.writeStream.format("memory").queryName("ssj").outputMode("append").start()
    try {
      clicks.addData(Ev(t("2024-01-01 00:01:00"), "u1", 1.0),
        Ev(t("2024-01-01 00:05:00"), "u2", 2.0))
      imps.addData(Doc(t("2024-01-01 00:01:30"), 100L, "u1"),   // in band (30s)
        Doc(t("2024-01-01 00:03:00"), 101L, "u2"),              // out of band (120s)
        Doc(t("2024-01-01 00:00:30"), 102L, "u1"))              // in band (-30s)
      q.processAllAvailable()
      val rows = spark.sql("SELECT user, r_id FROM ssj ORDER BY r_id")
        .as[(String, Long)].collect()
      assert(rows.toSeq == Seq(("u1", 100L), ("u1", 102L)))
    } finally q.stop()
  }

  test("joinStreams left_outer emits the null-padded row after the watermark clears the band") {
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[Ev]
    val imps = MemoryStream[Doc]
    val out = StreamOps.joinStreams(
      clicks.toDF(), imps.toDF().withColumnRenamed("text", "user"),
      Seq("user"), "ts", "ts", "5 seconds", joinWindowSeconds = 30,
      joinType = "left_outer", rightPrefix = "r_")
    val q = out.writeStream.format("memory").queryName("ssjo").outputMode("append").start()
    try {
      clicks.addData(Ev(t("2024-01-01 00:00:00"), "lonely", 1.0))
      imps.addData(Doc(t("2024-01-01 00:00:10"), 1L, "other"))
      q.processAllAvailable()
      // push BOTH watermarks far past the band so the unmatched left row emits
      clicks.addData(Ev(t("2024-01-01 01:00:00"), "later", 9.0))
      imps.addData(Doc(t("2024-01-01 01:00:00"), 2L, "other2"))
      q.processAllAvailable()
      val rows = spark.sql("SELECT user, r_id FROM ssjo WHERE user = 'lonely'")
        .collect().map(r => (r.getString(0), if (r.isNullAt(1)) -1L else r.getLong(1)))
      assert(rows.toSeq == Seq(("lonely", -1L)), "unmatched left row must emit null-padded")
    } finally q.stop()
  }

  test("nearDedupIngestSink: growing sketch dedups across AND within batches; no re-delivery after growth (round 12)") {
    // the third streaming dedup leg: near-dup against EVERYTHING ACCEPTED
    // SO FAR. Three micro-batches with cross-batch near-dups, a
    // within-batch near-dup pair, and a same-batch duplicate of an
    // already-accepted doc; then stream ≡ sequential-batch equivalence and
    // the no-re-delivery property of the grown sketch.
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_nd_ingest").toString
    def mk(p: String) = (1 to 30).map(i => s"$p$i").mkString(" ")
    val (tA, tB, tC, tD) = (mk("a"), mk("b"), mk("c"), mk("d"))
    def doc(id: Long, text: String) = Doc(t("2024-01-01 00:00:00"), id, text)
    val b1 = Seq(doc(1, tA), doc(2, tA + " tail2"), doc(3, tB))   // 2 within-batch near-dups A
    val b2 = Seq(doc(4, tA + " tail4"), doc(5, tC))               // 4 near-dups the ACCEPTED 1
    val b3 = Seq(doc(6, tC + " tail6"), doc(7, tD), doc(8, tD + " tail8"))
    val seed = graft.text.Dedup.emptyNeardupBloom(expectedKeys = 10000L)
    val got = scala.collection.mutable.ArrayBuffer[Long]()
    val journal = new graft.sources.BatchJournal.KvJournal(
      () => new graft.sources.KeyValueSink.InMemoryKV("nd_ingest_journal"))
    val input = MemoryStream[Doc]
    val q = StreamOps.nearDedupIngestSink(input.toDF(), "text", "id",
        s"$dir/model", seed, s"$dir/ckpt", journal, threshold = 0.7) { (surv, _) =>
      got.synchronized { got ++= surv.select("id").as[Long].collect() }
    }.start()
    try {
      input.addData(b1: _*); q.processAllAvailable()
      input.addData(b2: _*); q.processAllAvailable()
      input.addData(b3: _*); q.processAllAvailable()
    } finally q.stop()
    assert(got.toSet == Set(1L, 3L, 5L, 7L),
      s"survivors: min-id per within-batch cluster, nothing near an accepted doc; got $got")

    // stream ≡ the same batches pushed through neardupIngestStep by hand
    var m = seed
    val seqGot = scala.collection.mutable.ArrayBuffer[Long]()
    Seq(b1, b2, b3).foreach { b =>
      val (s, m2) = graft.text.Dedup.neardupIngestStep(
        b.toDF().select(col("id"), col("text")), "text", "id", m, threshold = 0.7)
      seqGot ++= s.select("id").as[Long].collect()
      s.unpersist()
      m = m2
    }
    assert(seqGot.toSet == got.toSet, "stream and sequential-batch application must agree")

    // the newest _SUCCESS-gated version is batch 2's, and replaying batch 1
    // against it re-delivers NOTHING (every member is near the accepted set)
    val (latest, v) = graft.text.Dedup.loadLatestNeardupBloom(spark, s"$dir/model").get
    assert(v == 2L, s"latest version should be the last batch id, got $v")
    val (replay, _) = graft.text.Dedup.neardupIngestStep(
      b1.toDF().select(col("id"), col("text")), "text", "id", latest, threshold = 0.7)
    assert(replay.count() == 0L, "grown sketch must flag every already-screened doc")
    replay.unpersist()

    // checkpoint reset: a NEW query (fresh checkpoint, batch ids restart
    // at 0) must keep growing the SAME sketch — versions stay monotonic
    // (latest+1), so the run-1 sketch is still the one loaded and a
    // near-dup of a run-1 acceptance still drops
    val got2 = scala.collection.mutable.ArrayBuffer[Long]()
    val input2 = MemoryStream[Doc]
    val q2 = StreamOps.nearDedupIngestSink(input2.toDF(), "text", "id",
        s"$dir/model", seed, s"$dir/ckpt2", journal, threshold = 0.7) { (surv, _) =>
      got2.synchronized { got2 ++= surv.select("id").as[Long].collect() }
    }.start()
    try {
      input2.addData(doc(9, mk("e")), doc(10, tA + " tail10"))
      q2.processAllAvailable()
    } finally q2.stop()
    assert(got2.toSet == Set(9L),
      s"run-2 batch 0 must screen against the run-1 sketch, got $got2")
    val (_, v2) = graft.text.Dedup.loadLatestNeardupBloom(spark, s"$dir/model").get
    assert(v2 == 3L, s"reset run must write latest+1 (3), not its own batch id 0; got $v2")
  }

  test("StreamPipeline: neardup_ingest_kv YAML sink grows the sketch and lands survivors in the journaled KV (round 12)") {
    // the growing gate through the declared-pipeline path: two file
    // micro-batches, cross-batch near-dup dropped, survivors land as KV
    // puts (inner journal), sketch versions v=0,v=1 on disk (outer journal)
    import graft.sources.KeyValueSink
    val dir = java.nio.file.Files.createTempDirectory("graft_ndikv").toString
    val ns = "nd_ingest_kv_test"
    KeyValueSink.InMemoryKV.clear(ns)
    def mk(p: String) = (1 to 30).map(i => s"$p$i").mkString(" ")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$dir/in"))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/in/b1.json"),
      s"""{"doc_id":1,"text":"${mk("a")}"}
         |{"doc_id":2,"text":"${mk("b")}"}""".stripMargin)
    val yaml =
      s"""name: nd_ingest_kv
         |stream_source: { type: file, path: "$dir/in", format: json, schema: "doc_id BIGINT, text STRING" }
         |sink: { type: neardup_ingest_kv, text_field: text, key_field: doc_id,
         |        model_dir: "$dir/model", checkpoint: "$dir/ckpt",
         |        namespace: $ns, threshold: "0.7", expected_keys: "10000" }
         |""".stripMargin
    val (q, _) = graft.streaming.StreamPipeline.start(spark, graft.streaming.StreamPipeline.fromYaml(yaml))
    try {
      q.processAllAvailable()
      // batch 2: one near-dup of the accepted doc 1, one fresh
      java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/in/b2.json"),
        s"""{"doc_id":3,"text":"${mk("a")} tail3"}
           |{"doc_id":4,"text":"${mk("z")}"}""".stripMargin)
      q.processAllAvailable()
    } finally q.stop()
    val landed = KeyValueSink.InMemoryKV.keys(ns)
      .filterNot(_.contains("__graft/journal/"))
      .map(_.stripPrefix(s"$ns/").toLong).toSet
    assert(landed == Set(1L, 2L, 4L),
      s"cross-batch near-dup (3) must drop; survivors land as KV puts: $landed")
    assert(KeyValueSink.InMemoryKV.keys(ns).exists(_.contains("__graft/journal/")),
      "both journals live in the sink's own store")
    val (_, v) = graft.text.Dedup.loadLatestNeardupBloom(spark, s"$dir/model").get
    assert(v == 1L, s"sketch must have grown through both batches, latest v=$v")
  }

  test("neardupBloomStats pins the saturation formulas; ingest sink stamps gauges, warns when saturated, prunes versions (round 13)") {
    import org.apache.spark.util.sketch.BloomFilter
    // Formula pin (VERDICT r12 #3): keyFpp is the standard occupancy
    // estimate fill^k with the filter's own k (reproduced here from
    // Spark's create(n, fpp) sizing), rowFpp = 1-(1-keyFpp)^bands.
    val n = 1000L; val fpp = 0.01; val bands = 16
    val m = BloomFilter.optimalNumOfBits(n, fpp)
    val k = math.max(1, math.round(m.toDouble / n * math.log(2.0)).toInt)
    val bf = BloomFilter.create(n, fpp)
    (1L to 500L).foreach(bf.putLong)
    val bos = new java.io.ByteArrayOutputStream(); bf.writeTo(bos)
    val st = graft.text.Dedup.neardupBloomStats(
      graft.text.Dedup.NeardupBloom(bos.toByteArray, 3, 64, bands))
    // the filter's BitArray word-aligns the bit count, so bitSize is m
    // rounded up to a multiple of 64; k is sized from the UNALIGNED m
    assert(st.bitSize == (m + 63) / 64 * 64 && st.setBits > 0)
    assert(st.fillRatio == st.setBits.toDouble / st.bitSize)
    assert(math.abs(st.keyFpp - math.pow(st.fillRatio, k)) < 1e-12,
      s"keyFpp must be fill^k: $st (k=$k)")
    assert(math.abs(st.rowFpp - (1.0 - math.pow(1.0 - st.keyFpp, bands))) < 1e-12,
      s"rowFpp must be 1-(1-keyFpp)^bands: $st")
    val st0 = graft.text.Dedup.neardupBloomStats(
      graft.text.Dedup.emptyNeardupBloom(expectedKeys = 1000L))
    assert(st0.setBits == 0L && st0.fillRatio == 0.0 && st0.keyFpp == 0.0 && st0.rowFpp == 0.0,
      s"empty sketch must gauge all-zero: $st0")

    // End-to-end: a deliberately under-commissioned sketch (20 expected
    // keys) saturates on the first accepted batch — every save stamps the
    // gauges, the saturation warning counter fires, and only the newest
    // keepVersions=2 complete versions survive on disk.
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_nd_sat").toString
    def mk(p: String) = (1 to 30).map(i => s"$p$i").mkString(" ")
    def doc(id: Long, text: String) = Doc(t("2024-01-01 00:00:00"), id, text)
    val seed = graft.text.Dedup.emptyNeardupBloom(expectedKeys = 20L)
    val collector = new graft.core.Metrics.Collector()
    val journal = new graft.sources.BatchJournal.KvJournal(
      () => new graft.sources.KeyValueSink.InMemoryKV("nd_sat_journal"))
    val input = MemoryStream[Doc]
    val q = StreamOps.nearDedupIngestSink(input.toDF(), "text", "id",
        s"$dir/model", seed, s"$dir/ckpt", journal, threshold = 0.7,
        metrics = collector) { (_, _) => () }.start()
    try {
      input.addData(doc(1, mk("a")), doc(2, mk("b")), doc(3, mk("c"))); q.processAllAvailable()
      input.addData(doc(4, mk("d"))); q.processAllAvailable()
      input.addData(doc(5, mk("e"))); q.processAllAvailable()
    } finally q.stop()
    val fill = collector.aggregated("neardup_sketch_fill_ratio")
    assert(fill.nonEmpty && fill("count") == 3.0,
      s"fill gauge must stamp on every save: $fill")
    assert(fill("latest") > 0.5, s"under-commissioned sketch must read saturated: $fill")
    val rowFpp = collector.aggregated("neardup_sketch_est_row_fpp")
    assert(rowFpp("latest") > 0.5, s"row fpp must read past the warn threshold: $rowFpp")
    val warns = collector.aggregated("neardup_sketch_saturation_warnings")
    assert(warns.nonEmpty && warns("sum") >= 1.0, s"saturation warning must fire: $warns")
    // retention: versions 0,1,2 were written; keep=2 leaves exactly {1,2}
    val left = new java.io.File(s"$dir/model").listFiles()
      .filter(_.getName.startsWith("v=")).map(_.getName).toSet
    assert(left == Set("v=1", "v=2"),
      s"prune must keep only the newest 2 complete versions: $left")
  }
}
