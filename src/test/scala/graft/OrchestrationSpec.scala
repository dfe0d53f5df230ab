package graft

import java.nio.file.Files
import graft.core.{Orchestration, Pipeline}

class OrchestrationSpec extends SparkSpec {
  import spark.implicits._

  test("file queue: priority order, lifecycle, retry, journal reload") {
    val dir = Files.createTempDirectory("graft_q").toString
    val q = new Orchestration.FileQueue(dir)
    q.add("/data/a.csv", "t1", priority = 1)
    val hi = q.add("/data/b.csv", "t2", priority = 9)
    q.add("/data/c.csv", "t3", priority = 1)

    val first = q.next().get
    assert(first.id == hi && first.status == "processing") // priority DESC wins
    q.fail(first.id)
    val second = q.next().get
    assert(second.table == "t1") // created ASC among equal priority
    q.complete(second.id)

    assert(q.stats == Map("failed" -> 1, "completed" -> 1, "pending" -> 1))
    assert(q.resetFailed() == 1)

    // journal survives a restart
    val q2 = new Orchestration.FileQueue(dir)
    assert(q2.stats("pending") == 2 && q2.stats("completed") == 1)
    val third = q2.next().get
    assert(third.priority == 9) // reset item is back at the front
  }

  test("file queue survives quotes/backslashes/commas in paths across restarts") {
    val dir = Files.createTempDirectory("graft_qesc").toString
    val q = new Orchestration.FileQueue(dir)
    val nasty = """/data/a"b\c,"d.csv"""
    q.add(nasty, """t"1""", priority = 5)
    val q2 = new Orchestration.FileQueue(dir) // reload parses the journal
    val item = q2.next().get
    assert(item.path == nasty && item.table == """t"1""")
  }

  test("file queue survives a value ENDING with a comma (regex-split regression)") {
    val dir = Files.createTempDirectory("graft_qcomma").toString
    val q = new Orchestration.FileQueue(dir)
    q.add("data,", "t") // the comma precedes the closing quote — the old
    q.add(",", ",\"")   //   `,(?=")` split corrupted exactly this shape
    val q2 = new Orchestration.FileQueue(dir)
    val items = Iterator.continually(q2.next()).takeWhile(_.isDefined).flatten.toSeq
    assert(items.map(_.path).toSet == Set("data,", ","))
    assert(items.map(_.table).toSet == Set("t", ",\""))
  }

  test("lineage toJson emits parseable JSON for quotes and backslashes") {
    // a tab (any control character) must be escaped too: Jackson's strict
    // parse rejects a raw one
    val lin = Orchestration.Lineage("p\"1", Seq("""csv:C:\in"dir""", "csv:/in\tdir"), Seq("Op\"x"), Some("""out\"""))
    val parsed = com.fasterxml.jackson.databind.json.JsonMapper.builder().build()
      .readTree(lin.toJson)
    assert(parsed.get("pipeline").asText() == "p\"1")
    assert(parsed.get("sources").get(0).asText() == """csv:C:\in"dir""")
    assert(parsed.get("sources").get(1).asText() == "csv:/in\tdir")
    assert(parsed.get("sink").asText() == """out\""")
  }

  test("lineage records sources, ops and sink") {
    val yaml =
      """name: lin
        |source: { type: parquet, path: "/x/in" }
        |operations:
        |  - { type: filter, condition: "a > 1" }
        |  - { type: aggregate, params: { group_by: [b], aggregations: { a: sum } } }
        |storage: { type: parquet, path: "/x/out" }
        |""".stripMargin
    val lin = Orchestration.lineageOf(Pipeline.fromYaml(yaml))
    assert(lin.sources == Seq("parquet:/x/in"))
    assert(lin.ops == Seq("FilterCondition", "Aggregate"))
    assert(lin.sink.contains("parquet:/x/out"))
    assert(lin.toJson.contains("\"operations\":[\"FilterCondition\",\"Aggregate\"]"))
  }

  test("metrics collector observes completed actions with row counts") {
    // the run profile is the query metrics collector: it drains the
    // listener bus itself, so no polling
    val df = Seq(1, 2, 3).toDF("x")
    val (_, c) = graft.core.RunProfile.record(spark)(df.write.format("noop").mode("overwrite").save())
    assert(c.queries.nonEmpty)
    assert(c.queries.exists(m => !m.failed && m.durationNs > 0))
    // the write's root node has no row metric; the count comes from below it
    assert(c.queries.exists(m => !m.failed && m.outputRows == 3L), s"rows: ${c.queries}")
    // bridge into the observability registry: durations become windowed
    // histograms ready for aggregation/Prometheus export/alerting
    val reg = new graft.core.Metrics.Collector()
    c.exportTo(reg)
    val agg = reg.aggregated("query_duration_seconds", "1h")
    assert(agg.nonEmpty && agg("count") >= 1.0 && agg("max") > 0.0, s"bridge: $agg")
    val rows = reg.aggregated("query_output_rows", "1h")
    assert(rows.nonEmpty && rows("max") == 3.0, s"rows bridge: $rows")
  }
}
