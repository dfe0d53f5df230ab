package graft

/** The CLI shell itself (graft.Cli — cli/main.py parity). The heavy
  * subcommands (`run`, `catalog register`, `quality`) open their own
  * SparkSession and are exercised by the library specs underneath them
  * plus live runs; THIS spec drives the Spark-free argv paths
  * in-process — flag parsing, store wiring, and the machine-readable
  * stdout contract — which had no automated gate before.
  */
class CliSpec extends SparkSpec {
  import spark.implicits._

  private def captureOut(body: => Unit): String = {
    val bos = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(bos, true, "UTF-8")) {
      // Cli uses Predef.println (Console.out), so withOut captures it
      body
    }
    new String(bos.toByteArray, "UTF-8")
  }

  private def tmpDir(): String =
    java.nio.file.Files.createTempDirectory("graft-cli").toString

  test("catalog search/report argv paths read a library-seeded store") {
    val dir = tmpDir()
    val cat = new graft.core.DataCatalog(dir)
    cat.registerTable(Seq((1L, "a"), (2L, "b")).toDF("id", "name"), "users",
      description = Some("user dim"), owner = Some("core"), tags = Seq("dim", "pii"))
    cat.registerTable(Seq((1L, 9.5)).toDF("user_id", "amount"), "payments",
      tags = Seq("fact"))

    val search = captureOut {
      Cli.main(Array("catalog", "search", "--dir", dir, "--tag", "dim"))
    }.trim
    val parsed = graft.core.Json.parse(search).asInstanceOf[Map[String, Any]]
    assert(parsed("table") == "users" && parsed("rows") == 2L)

    val byCol = captureOut {
      Cli.main(Array("catalog", "search", "--dir", dir, "--column", "user_id"))
    }.trim
    assert(graft.core.Json.parse(byCol).asInstanceOf[Map[String, Any]]("table") == "payments")

    val report = captureOut { Cli.main(Array("catalog", "report", "--dir", dir)) }
    assert(report.contains("Total Tables: 2") && report.contains("users") &&
      report.contains("payments"))
  }

  test("lineage report/graph argv paths walk a library-seeded registry") {
    val dir = tmpDir()
    val lin = new graft.core.LineageTracker(dir)
    lin.trackTransformation(Seq("raw_events"), "clean_events", "dedup", "curation")
    lin.trackTransformation(Seq("clean_events"), "daily_agg", "aggregate", "rollup")

    val report = captureOut {
      Cli.main(Array("lineage", "report", "clean_events", "--dir", dir))
    }
    assert(report.contains("raw_events → clean_events") &&
      report.contains("clean_events → daily_agg") &&
      report.contains("Pipeline: curation"))

    val graphOut = captureOut {
      Cli.main(Array("lineage", "graph", "clean_events", "--dir", dir, "--depth", "1"))
    }.trim
    val g = graft.core.Json.parse(graphOut).asInstanceOf[Map[String, Any]]
    assert(g("nodes").asInstanceOf[List[Any]].toSet ==
      Set("raw_events", "clean_events", "daily_agg"))
    val edges = g("edges").asInstanceOf[List[Any]].map(_.asInstanceOf[Map[String, Any]])
    assert(edges.map(e => (e("source"), e("target"))).toSet ==
      Set(("raw_events", "clean_events"), ("clean_events", "daily_agg")))
  }

  test("renderAttrition: the 4-stage example renders as the aligned drop-profile table (round 12)") {
    // same fixture + YAML as PipelineSpec's attrition gate; here the CLI
    // rendering of that report is pinned (Cli run prints these lines with
    // an [attrition] stderr prefix; stream --drain renders the
    // StreamAttrition report through the same function)
    val in = java.nio.file.Files.createTempDirectory("graft_cli_attr").toString
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$in/d.csv"),
      "id,age,spend,city\n1,30,100,NY\n2,25,200,SF\n3,35,150,NY\n4,25,50,LA\n")
    val yaml =
      s"""name: cli_attr
         |source: { type: csv, path: "$in/*.csv", options: { header: true } }
         |operations:
         |  - { type: filter, condition: "age >= 25" }
         |  - { type: filter, condition: "spend >= 100" }
         |  - type: transform
         |    params: { calculated_columns: { spend: "spend - 50" } }
         |  - { type: filter, condition: "city = 'NY'" }
         |attrition: { weight_column: spend }
         |storage: { type: noop, path: "x" }
         |""".stripMargin
    val res = graft.core.Pipeline.execute(spark, graft.core.Pipeline.fromYaml(yaml))
    assert(res.status == "success", res.errors.mkString("; "))
    val table = Cli.renderAttrition(res.attrition)
    assert(table == Seq(
      "stage  op               rows_in  rows_out  dropped  weight_in  weight_out",
      "1      FilterCondition  4        4         0        500        500",
      "2      FilterCondition  4        3         1        500        450",
      "3      Calculate        3        3         0        450        300",
      "4      FilterCondition  3        2         1        300        150"),
      s"rendered table:\n${table.mkString("\n")}")
    // absent weights render as '-', and an empty report renders nothing
    val noW = Cli.renderAttrition(Seq(
      graft.core.OpCompiler.StageAttrition(1, "FilterCondition", 4L, 2L, None, None)))
    assert(noW(1) == "1      FilterCondition  4        2         2        -          -")
    assert(Cli.renderAttrition(Nil).isEmpty)
  }

  test("run prints the result line, then one drained [profile] line on stderr") {
    // `run` owns (and stops) its SparkSession, so it runs in a child JVM
    // on this JVM's classpath and module options
    val dir = tmpDir()
    Seq((1, 30), (2, 10), (3, 40)).toDF("id", "age").coalesce(1)
      .write.mode("overwrite").option("header", "true").csv(s"$dir/in")
    val yaml = java.nio.file.Paths.get(dir, "p.yaml")
    java.nio.file.Files.writeString(yaml,
      s"""name: cli_profile
         |source: { type: csv, path: "$dir/in/*.csv", options: { header: true } }
         |operations:
         |  - { type: filter, condition: "age >= 20" }
         |storage: { type: parquet, path: "$dir/out", mode: overwrite }
         |""".stripMargin)
    val jvmOpts = scala.jdk.CollectionConverters.ListHasAsScala(
      java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments).asScala
      .filterNot(_.startsWith("-Xmx"))
    val cmd = Seq(s"${System.getProperty("java.home")}/bin/java") ++ jvmOpts ++
      Seq("-Xmx1g", "-cp", System.getProperty("java.class.path"),
        "graft.Cli", "run", yaml.toString, "--log-file", s"$dir/events.jsonl")
    val (out, err) = (new StringBuilder, new StringBuilder)
    val code = scala.sys.process.Process(cmd).!(scala.sys.process.ProcessLogger(
      l => out.append(l).append('\n'), l => err.append(l).append('\n')))
    assert(code == 0, s"exit $code\n$err")
    val result = graft.core.Json.parse(out.toString.trim.linesIterator.toSeq.last).asInstanceOf[Map[String, Any]]
    assert(result("status") == "success" && result("rows") == 2L, result)
    val errLines = err.toString.linesIterator.toSeq
    assert(!errLines.exists(_.startsWith("[metrics]")), errLines.mkString("\n"))
    val profiles = errLines.filter(_.startsWith("[profile] "))
    assert(profiles.size == 1, errLines.mkString("\n"))
    val prof = graft.core.Json.parse(profiles.head.stripPrefix("[profile] ")).asInstanceOf[Map[String, Any]]
    // validation's count aggregate and the write: at least two jobs, and
    // the write, the run's last query, reports the two rows it wrote, down
    // to the persisted result it read
    assert(prof("jobs").asInstanceOf[Long] >= 2L && prof("tasks").asInstanceOf[Long] >= 2L, prof)
    val write = prof("query_rows").asInstanceOf[List[Map[String, Any]]].last
    assert(write("rows") == 2L, prof)
    assert(write("operators").asInstanceOf[List[List[Any]]].contains(List("InMemoryTableScan", 2L)), prof)
  }

  test("run --dry-run prints the plan summary without executing") {
    val out = captureOut {
      Cli.main(Array("run", "examples/governed_pipeline.yaml", "--dry-run"))
    }
    assert(out.contains("pipeline: governed_curation"))
    assert(out.contains("ops     : 3"))
    assert(out.contains("storage: parquet"))
    assert(out.contains("\"lineage\"") || out.contains("lineage"))
  }

  test("run, --lint, --dry-run and stream on a config error: one error line, exit 1, no SparkSession") {
    val dir = tmpDir()
    def write(name: String, body: String): String = {
      val p = java.nio.file.Paths.get(dir, name)
      java.nio.file.Files.writeString(p, body)
      p.toString
    }
    val batch = write("bad.yaml",
      """name: typo
        |source: { type: parquet, path: /nonexistent }
        |operations:
        |  - { type: text_processing, params: { operation: gopher_filter, min_wordz: 1 } }
        |""".stripMargin)
    val stream = write("bad_stream.yaml",
      """name: typo_stream
        |stream_source: { type: file, path: /nonexistent, schema: "ts TIMESTAMP" }
        |transforms:
        |  - { type: filter, conditon: "true" }
        |""".stripMargin)
    def failing(args: String*): String = {
      val err = new java.io.ByteArrayOutputStream()
      val saved = System.err
      System.setErr(new java.io.PrintStream(err, true, "UTF-8"))
      val exit =
        try intercept[Cli.Exit](Cli.run(args.toArray))
        finally System.setErr(saved)
      assert(exit.code == 1, s"${args.mkString(" ")}: exit ${exit.code}")
      new String(err.toByteArray, "UTF-8").trim
    }
    Seq(Seq("run", batch), Seq("run", batch, "--lint"), Seq("run", batch, "--dry-run")).foreach { args =>
      val msg = failing(args: _*)
      assert(msg.linesIterator.size == 1 && msg.startsWith("error: ") &&
        msg.contains("operations[0]") && msg.contains("min_wordz"), msg)
    }
    val msg = failing("stream", stream)
    assert(msg.startsWith("error: ") && msg.contains("transforms[0]") && msg.contains("conditon"), msg)
    // the shared test session survived: no command got as far as starting
    // (and stopping) a session of its own
    assert(!spark.sparkContext.isStopped)
  }
}
