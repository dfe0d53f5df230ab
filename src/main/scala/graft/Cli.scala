package graft

import java.nio.file.{Files, Paths}
import graft.core.{Pipeline, Sessions}

/** CLI entry point — parity with the reference's `data-pipeline run
  * config.yaml` (cli/main.py:41-95).
  *
  * Usage:
  *   graft.Cli run <pipeline.yaml> [--dry-run | --lint]
  *     --lint: plan (don't execute) and report 100-TB-hostile plan shapes
  *             (cartesian joins, unpartitioned windows — graft.core.PlanLint);
  *             exits 1 on a hard finding
  *   graft.Cli entry               (flagship smoke query)
  */
object Cli {
  /** JSON string escape (backslash, quote, control chars) — the run/stream
    * result lines are machine-readable; an unescaped quote in a pipeline
    * name would corrupt them.
    */
  private def j(s: String): String = graft.core.Json.str(s)

  /** JSON number: NaN/Infinity are not valid JSON — emit null. */
  private def jn(v: Double): String = graft.core.Json.num(v)

  /** Render a stage-attrition report as an aligned table (round 12,
    * VERDICT r11 #7): the per-stage rows/weight in-out accounting was
    * API-only (`Result.attrition` + optional parquet) — `run` and
    * `stream --drain` now print it so the drop profile is
    * operator-visible without code. Absent weights render as `-`.
    */
  def renderAttrition(report: Seq[graft.core.OpCompiler.StageAttrition]): Seq[String] =
    if (report.isEmpty) Seq.empty
    else {
      val header = Seq("stage", "op", "rows_in", "rows_out", "dropped",
        "weight_in", "weight_out")
      val rows = report.map(a => Seq(a.stage.toString, a.op,
        a.rowsIn.toString, a.rowsOut.toString, a.rowsDropped.toString,
        a.weightIn.map(_.toString).getOrElse("-"),
        a.weightOut.map(_.toString).getOrElse("-")))
      val all = header +: rows
      val widths = header.indices.map(i => all.map(_(i).length).max)
      all.map(r => r.lazyZip(widths).map((c, w) => c.padTo(w, ' '))
        .mkString("  ").replaceAll("\\s+$", ""))
    }

  /** Ends a command with an exit code; [[main]] turns it into the process
    * exit after every `finally` has run (sessions stopped). */
  private[graft] final class Exit(val code: Int) extends scala.util.control.ControlThrowable

  private def exit(code: Int): Nothing = throw new Exit(code)

  /** Read and parse a config file; a missing file or a config error prints
    * one `error:` line and exits 1 — before any SparkSession starts. */
  private def config[T](path: String)(parse: String => T): T = {
    def error(msg: String): Nothing = { System.err.println(s"error: $msg"); exit(1) }
    if (!Files.exists(Paths.get(path))) error(s"pipeline config not found: $path")
    try parse(Files.readString(Paths.get(path)))
    catch { case scala.util.control.NonFatal(e) => error(String.valueOf(e.getMessage).linesIterator.mkString(" ")) }
  }

  def main(args: Array[String]): Unit =
    try run(args) catch { case e: Exit => sys.exit(e.code) }

  private[graft] def run(args: Array[String]): Unit = args.toList match {
    case "run" :: path :: rest =>
      val conf = config(path)(Pipeline.fromYaml)
      if (rest.contains("--lint")) {
        // build + plan the pipeline WITHOUT executing it, then report the
        // scale-guardrail findings (graft.core.PlanLint) as one JSON line
        val spark = Sessions.local(appName = s"graft-lint-${conf.name}")
        try {
          val (primary, catalog) = Pipeline.load(spark, conf)
          val frame = graft.core.OpCompiler.compile(conf.operations, catalog)(primary)
          val rep = graft.core.PlanLint.report(frame)
          val body = rep.toSeq.sortBy(_._1).map { case (rule, nodes) =>
            s"${j(rule)}:[${nodes.map(j).mkString(",")}]"
          }.mkString(",")
          println(s"""{"pipeline":${j(conf.name)},"lint_findings":${rep.values.map(_.size).sum},"findings":{$body}}""")
          if (rep.contains("cartesian_product") || rep.contains("global_window")) exit(1)
        } finally spark.stop()
      } else if (rest.contains("--dry-run")) {
        println(s"pipeline: ${conf.name}")
        println(s"sources : ${conf.sources.map(s => s"${s.typ}:${s.path}").mkString(", ")}")
        println(s"ops     : ${conf.operations.size}")
        conf.operations.zipWithIndex.foreach { case (op, i) => println(f"  $i%2d. $op") }
        println(s"expectations: ${conf.expectations.size}, storage: ${conf.storage.map(_.typ).getOrElse("none")}")
        println(s"lineage : ${graft.core.Orchestration.lineageOf(conf).toJson}")
      } else {
        val spark = Sessions.local(appName = s"graft-${conf.name}")
        try {
          // structured JSON event log (structured_logging.py parity):
          // --log-file appends events there; default stderr (stdout stays
          // the machine-readable result line)
          val sink: String => Unit =
            rest.sliding(2).collectFirst { case List("--log-file", p) => p } match {
              case Some(p) =>
                // CREATE doesn't make parent dirs — a missing directory
                // would otherwise fail the very first event (the logger
                // degrades to dropping events, but the user asked for a file)
                Option(java.nio.file.Paths.get(p).toAbsolutePath.getParent)
                  .foreach(java.nio.file.Files.createDirectories(_))
                line => java.nio.file.Files.write(
                  java.nio.file.Paths.get(p), (line + "\n").getBytes("UTF-8"),
                  java.nio.file.StandardOpenOption.CREATE,
                  java.nio.file.StandardOpenOption.APPEND)
              case None => line => System.err.println(line)
            }
          val plog = new graft.core.StructuredLog.PipelineLogger(conf.name, sink = sink)
          val res = Pipeline.execute(spark, conf, Some(plog))
          println(s"""{"pipeline":${j(res.name)},"status":${j(res.status)},"rows":${res.rowsWritten},""" +
            s""""validation":{${res.validation.map { case (k, v) => s"${j(k)}:${jn(v)}" }.mkString(",")}},""" +
            s""""errors":${res.errors.size}}""")
          res.errors.foreach(e => System.err.println(s"[pipeline] $e"))
          // drop-rate dashboard on stderr (stdout stays the one JSON line)
          renderAttrition(res.attrition)
            .foreach(l => System.err.println(s"[attrition] $l"))
          System.err.println(s"[profile] ${res.profile.toJson}")
          System.err.println(s"[lineage] ${graft.core.Orchestration.lineageOf(conf).toJson}")
          if (res.status != "success") exit(1)
        } finally spark.stop()
      }
    case "stream" :: path :: rest =>
      val conf = config(path)(graft.streaming.StreamPipeline.fromYaml)
      val spark = Sessions.local(appName = s"graft-stream-${conf.name}")
      val (q, profile) = graft.streaming.StreamPipeline.start(spark, conf)
      if (rest.contains("--drain")) { // process what's there, then stop (backfill/test mode)
        q.processAllAvailable()
        val summary = profile.summary()
        println(s"""{"stream":${j(conf.name)},"batches":${summary.batches},"rows":${summary.rows}}""")
        // per-stage drop profile accumulated across the drained batches
        // (requires an `attrition:` block in the YAML, like batch runs)
        renderAttrition(summary.attrition).foreach(l => System.err.println(s"[attrition] $l"))
        System.err.println(s"[profile] ${summary.toJson}")
        q.stop(); spark.stop()
      } else {
        println(s"stream '${conf.name}' running; Ctrl-C to stop")
        q.awaitTermination()
      }
    case "profile" :: path :: _ =>
      // profile a table: catalog entry + inferred expectation suite + self-validation
      val spark = Sessions.local(appName = "graft-profile")
      try {
        val df = if (path.endsWith(".csv")) graft.sources.Readers.csv(spark, path)
                 else spark.read.parquet(path)
        val name = new java.io.File(path).getName.replaceAll("\\.(parquet|csv)$", "")
        println(graft.quality.ExpectationSuite.catalogEntry(df, name))
        val suite = graft.quality.ExpectationSuite.infer(df)
        graft.quality.ExpectationSuite.validate(df, suite).foreach { o =>
          println(f"expectation ${o.name}%-40s ratio=${o.ratio}%.4f ${if (o.passed) "PASS" else "FAIL"}")
        }
      } finally spark.stop()
    case "catalog" :: sub :: rest =>
      // data-catalog registry (utils/data_catalog.py parity):
      //   catalog register <parquet-path> --dir <catalogDir> [--name n]
      //     [--schema s] [--desc d] [--owner o] [--tags a,b]
      //   catalog search --dir <catalogDir> [--term t] [--tag g] [--owner o] [--column c]
      //   catalog report --dir <catalogDir>
      def flag(name: String): Option[String] =
        rest.sliding(2).collectFirst { case List(`name`, v) => v }
      val catDir = flag("--dir").getOrElse(".graft-catalog")
      val cat = new graft.core.DataCatalog(catDir)
      sub match {
        case "register" =>
          val path = rest.headOption.filterNot(_.startsWith("--")).getOrElse {
            System.err.println("error: catalog register needs a dataset path"); exit(1)
          }
          val spark = Sessions.local(appName = "graft-catalog")
          try {
            val df = if (path.endsWith(".csv")) graft.sources.Readers.csv(spark, path)
                     else spark.read.parquet(path)
            val name = flag("--name").getOrElse(
              new java.io.File(path).getName.replaceAll("\\.(parquet|csv)$", ""))
            val e = cat.registerTable(df, name,
              schema = flag("--schema").getOrElse("default"),
              description = flag("--desc"), owner = flag("--owner"),
              tags = flag("--tags").map(_.split(",").toSeq).getOrElse(Nil),
              path = Some(path))
            println(s"""{"registered":${j(s"${e.schema}.${e.table}")},""" +
              s""""columns":${e.columns.size},"rows":${e.rowCount.getOrElse(-1L)},""" +
              s""""size_bytes":${e.sizeBytes.getOrElse(-1L)}}""")
          } finally spark.stop()
        case "search" =>
          val hits = cat.searchTables(term = flag("--term"),
            tags = flag("--tag").toSeq, owner = flag("--owner"), column = flag("--column"))
          hits.foreach { e =>
            println(s"""{"table":${j(e.table)},"schema":${j(e.schema)},""" +
              s""""tags":[${e.tags.map(j).mkString(",")}],"rows":${e.rowCount.getOrElse(-1L)}}""")
          }
        case "report" =>
          println(cat.generateCatalogReport())
        case other =>
          System.err.println(s"usage: graft.Cli catalog register|search|report ... (got: $other)")
          exit(2)
      }
    case "quality" :: path :: rest =>
      // quality check over a dataset (cli/quality_commands.py `quality
      // check` parity): run the default checks, print per-metric rows and
      // the WARN/FAIL alerts as JSON lines
      val spark = Sessions.local(appName = "graft-quality")
      try {
        val df = if (path.endsWith(".csv")) graft.sources.Readers.csv(spark, path)
                 else spark.read.parquet(path)
        val name = new java.io.File(path).getName.replaceAll("\\.(parquet|csv)$", "")
        val metrics = graft.quality.QualityMonitor.runChecks(df, name,
          graft.quality.QualityMonitor.defaultChecks(df),
          org.apache.spark.sql.functions.current_timestamp())
        val showAlerts = rest.contains("--alerts")
        val out = if (showAlerts) graft.quality.QualityMonitor.alerts(metrics, 0L) else metrics
        out.collect().foreach { r =>
          val fields = r.schema.fieldNames.zipWithIndex.map { case (f, i) =>
            s"${j(f)}:${if (r.isNullAt(i)) "null" else graft.core.Json.value(r.get(i))}"
          }
          println(fields.mkString("{", ",", "}"))
        }
      } finally spark.stop()
    case "lineage" :: sub :: rest =>
      // cross-run lineage registry (utils/lineage_tracker.py parity):
      //   lineage report <table> --dir <lineageDir>
      //   lineage graph <table> --dir <lineageDir> [--depth n]
      def lflag(name: String): Option[String] =
        rest.sliding(2).collectFirst { case List(`name`, v) => v }
      val tracker = new graft.core.LineageTracker(lflag("--dir").getOrElse(".graft-lineage"))
      val table = rest.headOption.filterNot(_.startsWith("--")).getOrElse {
        System.err.println(s"error: lineage $sub needs a table name"); exit(1)
      }
      sub match {
        case "report" => println(tracker.generateLineageReport(table))
        case "graph" =>
          val (nodes, edges) = tracker.lineageGraph(table,
            lflag("--depth").map(_.toInt).getOrElse(2))
          val es = edges.map(e =>
            s"""{"source":${j(e.source)},"target":${j(e.target)},""" +
              s""""transformation":${j(e.transformation)},"pipeline":${j(e.pipeline)}}""")
          println(s"""{"table":${j(table)},"nodes":[${nodes.map(j).mkString(",")}],""" +
            s""""edges":[${es.mkString(",")}]}""")
        case other =>
          System.err.println(s"usage: graft.Cli lineage report|graph <table> --dir <d> (got: $other)")
          exit(2)
      }
    case "health" :: rest =>
      // health rollup (monitoring/health_check.py parity, round 13):
      //   health [--jdbc <url> [--jdbc-query <q>]] [--kv memory:<namespace>]
      //          [--path <diskPath>] [--disk-warn r] [--disk-crit r]
      //          [--mem-warn r] [--mem-crit r] [--strict]
      // Disk + heap gauges always run; storage connectivity checks run
      // when their flag is given. One machine-readable JSON line with the
      // reference's HEALTHY/DEGRADED/UNHEALTHY rollup; --strict exits 1
      // on an unhealthy rollup (the load-balancer-probe contract).
      def flag(name: String): Option[String] =
        rest.sliding(2).collectFirst { case List(`name`, v) => v }
      import graft.core.Health
      val checks = Seq(
        Health.diskCheck("disk", flag("--path").getOrElse("/"),
          flag("--disk-warn").map(_.toDouble).getOrElse(0.8),
          flag("--disk-crit").map(_.toDouble).getOrElse(0.95)),
        Health.memoryCheck("memory",
          flag("--mem-warn").map(_.toDouble).getOrElse(0.8),
          flag("--mem-crit").map(_.toDouble).getOrElse(0.95))) ++
        flag("--jdbc").map(url => Health.jdbcCheck("database", url,
          flag("--jdbc-query").getOrElse("SELECT 1"))).toSeq ++
        flag("--kv").map { spec =>
          val store: () => graft.sources.KeyValueSink = spec.split(":", 2) match {
            case Array("memory", ns) => () => new graft.sources.KeyValueSink.InMemoryKV(ns)
            case other => throw new IllegalArgumentException(
              s"unknown kv store spec: ${other.mkString(":")} (supported: memory:<namespace>)")
          }
          Health.kvCheck("kv", store)
        }.toSeq
      val collector = new graft.core.Metrics.Collector()
      val (overall, results) = Health.runAll(checks, collector)
      val body = results.map { r =>
        val details = r.details.toSeq.sortBy(_._1)
          .map { case (k, v) => s"${j(k)}:${jn(v)}" }.mkString("{", ",", "}")
        j(r.name) + s""":{"status":${j(r.status.label)},"message":${j(r.message)},""" +
          s""""duration_ms":${jn(r.durationMs)},"details":$details}"""
      }.mkString(",")
      println(s"""{"status":${j(overall.label)},"checks":{$body},""" +
        s""""healthy":${results.count(_.status == Health.Healthy)},""" +
        s""""degraded":${results.count(_.status == Health.Degraded)},""" +
        s""""unhealthy":${results.count(_.status == Health.Unhealthy)}}""")
      if (rest.contains("--strict") && overall == Health.Unhealthy) exit(1)
    case "entry" :: _ =>
      Smoke.main(Array.empty)
    case other =>
      System.err.println(s"usage: graft.Cli run <pipeline.yaml> [--dry-run] | graft.Cli stream <yaml> [--drain] | graft.Cli catalog register|search|report | graft.Cli health [--jdbc url] [--kv memory:ns] [--strict] | graft.Cli entry (got: $other)")
      exit(2)
  }
}
