package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.core.{Health, Metrics}
import graft.core.Metrics._

/** Engine-side observability registry — mirrors the reference's
  * tests/unit/test_observability.py behaviors (record kinds, window
  * reads, aggregation, exports, threshold operators, alert
  * fire/dedupe/resolve/history) under a DETERMINISTIC injected clock.
  * Pure JVM, no Spark session.
  */
class MetricsSpec extends AnyFunSuite {

  private def fixedClock(t0: Long): (() => Long, Long => Unit) = {
    var now = t0
    (() => now, (t: Long) => { now = t })
  }

  test("record kinds, windowed reads, and aggregation") {
    val (clock, setTime) = fixedClock(1000000L)
    val c = new Collector(clock = clock)
    c.recordCounter("rows", 5.0)
    c.recordCounter("rows") // default 1
    c.recordGauge("lag", 3.5, Map("topic" -> "t1"))
    c.recordHistogram("latency", 10.0)
    setTime(1000000L + 120000L) // 2 minutes later
    c.recordHistogram("latency", 30.0)
    // 1m window only sees the recent sample; 5m sees both
    assert(c.getMetrics("latency", "1m").map(_.value) == Seq(30.0))
    assert(c.getMetrics("latency", "5m").map(_.value) == Seq(10.0, 30.0))
    val agg = c.aggregated("latency", "5m")
    assert(agg("count") == 2.0 && agg("sum") == 40.0 && agg("avg") == 20.0 &&
      agg("min") == 10.0 && agg("max") == 30.0 && agg("latest") == 30.0)
    assert(c.aggregated("nope", "1h").isEmpty, "no samples → empty map")
    intercept[IllegalArgumentException](c.getMetrics("latency", "7m"))
  }

  test("timer records <name>_duration_seconds as a histogram") {
    val (clock, setTime) = fixedClock(5000L)
    val c = new Collector(clock = clock)
    val out = c.time("job") { setTime(7500L); 42 }
    assert(out == 42)
    val ms = c.getMetrics("job_duration_seconds", "1h")
    assert(ms.map(_.value) == Seq(2.5) && ms.head.metricType == Histogram)
  }

  test("retention drops aged entries; per-name ring is bounded") {
    val (clock, setTime) = fixedClock(0L)
    val c = new Collector(retentionHours = 1, maxPerName = 3, clock = clock)
    c.recordGauge("g", 1.0)
    setTime(3600000L + 1L) // past retention
    c.recordGauge("g", 2.0)
    assert(c.getMetrics("g", "24h").map(_.value) == Seq(2.0), "aged entry trimmed")
    (1 to 5).foreach(i => c.recordGauge("ring", i.toDouble))
    assert(c.getMetrics("ring", "24h").map(_.value) == Seq(3.0, 4.0, 5.0), "ring keeps newest 3")
  }

  test("json and prometheus exports; invalid format rejected") {
    val (clock, _) = fixedClock(42000L)
    val c = new Collector(clock = clock)
    c.recordGauge("depth", 7.0, Map("q" -> "main"))
    c.recordGauge("depth", 9.0, Map("q" -> "main"))
    c.recordCounter("plain", 1.0)
    val js = c.export("json")
    assert(js.contains("\"name\":\"depth\"") && js.contains("\"q\":\"main\"") &&
      js.startsWith("[") && js.endsWith("]"))
    val prom = c.export("prometheus")
    assert(prom.contains("# HELP depth Generated metric"))
    assert(prom.contains("# TYPE depth gauge"))
    assert(prom.contains("depth{q=\"main\"} 9.0"), s"latest-per-series sample: $prom")
    assert(prom.contains("plain 1.0"), "tagless sample has no braces")
    intercept[IllegalArgumentException](c.export("xml"))
  }

  test("threshold operators fire on the windowed latest value") {
    val (clock, _) = fixedClock(0L)
    val c = new Collector(clock = clock)
    c.recordGauge("v", 10.0)
    def fires(op: String, threshold: Double): Boolean =
      ThresholdRule("r", "v", threshold, op).evaluate(c, 0L).isDefined
    assert(fires("gt", 5) && !fires("gt", 10))
    assert(fires("gte", 10) && !fires("gte", 11))
    assert(fires("lt", 11) && !fires("lt", 10))
    assert(fires("lte", 10) && !fires("lte", 9))
    assert(fires("eq", 10) && !fires("eq", 9))
    assert(fires("ne", 9) && !fires("ne", 10))
    assert(ThresholdRule("r", "absent", 1.0).evaluate(c, 0L).isEmpty,
      "no samples → no alert")
    intercept[IllegalArgumentException](ThresholdRule("r", "v", 1.0, "between"))
  }

  test("health checks: gauges + duration recorded, throwing check counts unhealthy") {
    val (clock, setTime) = fixedClock(0L)
    val c = new Collector(clock = clock)
    def check(name: String)(perform: => Health.Status) =
      Health.Check(name, () => (perform, name, Map.empty[String, Double]))
    val (overall, results) = Health.runAll(Seq(
      check("storage")(Health.Healthy),
      check("jdbc") { setTime(clock() + 50L); Health.Unhealthy },
      check("boom")(throw new RuntimeException("nope"))), c, clock)
    assert(overall == Health.Unhealthy)
    val byName = results.map(r => r.name -> r).toMap
    assert(byName("storage").status == Health.Healthy && byName("jdbc").status == Health.Unhealthy)
    assert(byName("jdbc").durationMs == 50.0)
    assert(byName("boom").status == Health.Unhealthy && byName("boom").message.contains("nope"))
    // one status gauge per check, tagged with its name (0 healthy, 2 unhealthy)
    val gauges = c.getMetrics("health_check_status", "1h").map(m => m.tags("check_name") -> m.value)
    assert(gauges == Seq("storage" -> 0.0, "jdbc" -> 2.0, "boom" -> 2.0))
    assert(c.getMetrics("health_check_duration_seconds", "1h").map(_.value) == Seq(0.0, 0.05, 0.0),
      "a throwing check records its duration too")
  }

  test("alert lifecycle: fire once, stay active, resolve, reappear in history") {
    val (clock, setTime) = fixedClock(0L)
    val c = new Collector(clock = clock)
    val am = new AlertManager(c, clock)
    am.addRule(ThresholdRule("too_high", "x", 100.0, "gt", Metrics.Error, "1h"))
    c.recordGauge("x", 150.0)
    val first = am.checkAlerts()
    assert(first.map(_.name) == Seq("too_high") && first.head.level == Metrics.Error)
    assert(first.head.message == "x is 150.0 (threshold: 100.0)")
    assert(am.checkAlerts().isEmpty, "active alert does not re-fire")
    assert(am.activeAlerts.map(_.name) == Seq("too_high"))
    // drop below the threshold → resolved and cleared
    c.recordGauge("x", 50.0)
    assert(am.checkAlerts().isEmpty)
    assert(am.activeAlerts.isEmpty)
    assert(am.alertHistory().map(_.resolved) == Seq(true), "history entry marked resolved")
    // fires again as a NEW alert after resolution
    c.recordGauge("x", 200.0)
    assert(am.checkAlerts().size == 1)
    assert(am.alertHistory().size == 2)
    // history window filter
    setTime(25L * 3600000L)
    assert(am.alertHistory(24).isEmpty, "old alerts age out of the history read")
  }

  test("custom rule whose alert tags differ from its rule tags still resolves (ADVICE r6)") {
    val (clock, _) = fixedClock(0L)
    val c = new Collector(clock = clock)
    val am = new AlertManager(c, clock)
    // a rule that decorates its emitted alert with dynamic tags the rule
    // itself doesn't carry — previously fired under (name, alert.tags) but
    // resolved under (name, rule.tags), so it could never clear
    am.addRule(new AlertRule {
      val name = "dyn"
      val tags = Map("static" -> "rule")
      def evaluate(collector: Collector, now: Long): Option[Alert] =
        collector.aggregated("y", "1h").get("latest").filter(_ > 10.0)
          .map(v => Alert(name, s"y=$v", Warning, Map("value_band" -> "high"), now))
    })
    c.recordGauge("y", 50.0)
    assert(am.checkAlerts().size == 1)
    assert(am.activeAlerts.size == 1)
    c.recordGauge("y", 1.0) // stops firing → must resolve the recorded key
    assert(am.checkAlerts().isEmpty)
    assert(am.activeAlerts.isEmpty, "alert with divergent tags resolved")
    assert(am.alertHistory().map(_.resolved) == Seq(true))
  }

  test("rule whose alert tags CHANGE between checks resolves the previous variant (round-7 review)") {
    val (clock, _) = fixedClock(0L)
    val c = new Collector(clock = clock)
    val am = new AlertManager(c, clock)
    // band derived from the metric value: the alert's tags move as the
    // value crosses 100 — the high-band alert must resolve when the
    // critical-band one fires, and a later high-band episode is FRESH
    am.addRule(new AlertRule {
      val name = "band"
      val tags = Map.empty[String, String]
      def evaluate(collector: Collector, now: Long): Option[Alert] =
        collector.aggregated("z", "1h").get("latest").filter(_ > 10.0).map { v =>
          Alert(name, s"z=$v", Warning,
            Map("band" -> (if (v > 100.0) "critical" else "high")), now)
        }
    })
    c.recordGauge("z", 50.0)
    assert(am.checkAlerts().size == 1)              // high fires
    c.recordGauge("z", 500.0)
    assert(am.checkAlerts().size == 1)              // critical fires
    assert(am.activeAlerts.map(_.tags("band")) == Seq("critical"),
      "the high-band variant resolved when the tags moved")
    c.recordGauge("z", 50.0)
    assert(am.checkAlerts().size == 1, "returning to high is a FRESH episode")
    c.recordGauge("z", 1.0)
    assert(am.checkAlerts().isEmpty && am.activeAlerts.isEmpty, "full resolution")
  }

  test("retention: cross-series sweep fires after the throttle interval; appended deque always trims") {
    val (clock, setTime) = fixedClock(0L)
    val c = new Collector(retentionHours = 1, clock = clock)
    c.recordGauge("a", 1.0)   // initial sweep at t=0
    setTime(3600000L + 1000L) // a's sample is now past retention
    c.recordGauge("b", 1.0)   // >300s since last sweep → full sweep removes a
    assert(c.getMetrics("a", "24h").isEmpty, "aged series swept on the next eligible add")
    // between sweeps the deque being appended to is still trimmed eagerly
    setTime(2L * 3600000L + 2000L)
    c.recordGauge("b", 2.0)   // b's t=3601000 sample aged out; trimmed on append
    assert(c.getMetrics("b", "24h").map(_.value) == Seq(2.0))
  }
}
