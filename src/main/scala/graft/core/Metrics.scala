package graft.core

import scala.collection.mutable

/** Engine-side observability registry — graft's equivalent of the
  * reference's `observability/metrics.py` (MetricsCollector /
  * AlertManager / ThresholdRule; the dashboard web app on top of it is
  * product surface, out of engine scope). Original Scala design with the
  * reference's BEHAVIOR: counter/gauge/histogram records with tags and a
  * bounded per-name ring (1000 entries) plus time retention, windowed
  * reads (1m/5m/15m/1h/24h), count/sum/avg/min/max/latest aggregation,
  * JSON and Prometheus-text export (latest value per series), threshold
  * alert rules over the windowed `latest` with gt/gte/lt/lte/eq/ne
  * operators, de-duplicated active alerts keyed by (rule, tags),
  * resolution when a rule stops firing, and bounded history reads.
  *
  * Differences by design: an injectable `clock` makes retention/window
  * behavior deterministically testable (the reference's wall-clock
  * coupling is exactly why its own cleanup test sleeps), and everything
  * is synchronized on the collector — same thread-safety contract as the
  * reference's RLock.
  *
  * This is DRIVER-side bookkeeping for pipeline orchestration — per-batch
  * counts, stage timings, custom health signals (compose with
  * [[graft.streaming.StreamProfile]], which reports per-batch streaming
  * numbers, and [[graft.quality.QualityMonitor]], which classifies data
  * quality). Nothing here touches executors or plans.
  */
object Metrics {

  sealed abstract class MetricType(val label: String)
  case object Counter extends MetricType("counter")
  case object Gauge extends MetricType("gauge")
  case object Histogram extends MetricType("histogram")

  sealed abstract class AlertLevel(val label: String)
  case object Info extends AlertLevel("info")
  case object Warning extends AlertLevel("warning")
  case object Error extends AlertLevel("error")
  case object Critical extends AlertLevel("critical")

  final case class Metric(name: String, value: Double, metricType: MetricType,
                          tags: Map[String, String], timestampMs: Long)

  final case class Alert(name: String, message: String, level: AlertLevel,
                         tags: Map[String, String], timestampMs: Long,
                         var resolved: Boolean = false)

  val Windows: Map[String, Long] = Map(
    "1m" -> 60000L, "5m" -> 300000L, "15m" -> 900000L,
    "1h" -> 3600000L, "24h" -> 86400000L)

  final class Collector(retentionHours: Int = 24,
                        maxPerName: Int = 1000,
                        clock: () => Long = () => System.currentTimeMillis()) {
    private val series = mutable.LinkedHashMap.empty[String, mutable.ArrayDeque[Metric]]
    private val sweepIntervalMs = 300000L // the reference sweeps every 300s
    private var lastSweepMs = Long.MinValue

    private def add(m: Metric): Unit = synchronized {
      val dq = series.getOrElseUpdate(m.name, mutable.ArrayDeque.empty)
      dq.append(m)
      if (dq.length > maxPerName) dq.removeHead()
      val cutoff = m.timestampMs - retentionHours * 3600000L
      // always trim the deque being appended to — O(aged) for this series
      while (dq.nonEmpty && dq.head.timestampMs < cutoff) dq.removeHead()
      // full retention sweep across ALL series is throttled: with many
      // distinct names an every-record sweep makes the hot recording path
      // O(total series) under the collector lock
      if (lastSweepMs == Long.MinValue || m.timestampMs - lastSweepMs >= sweepIntervalMs) {
        lastSweepMs = m.timestampMs
        series.filterInPlace { (_, d) =>
          while (d.nonEmpty && d.head.timestampMs < cutoff) d.removeHead()
          d.nonEmpty
        }
      }
    }

    def recordCounter(name: String, value: Double = 1.0,
                      tags: Map[String, String] = Map.empty): Unit =
      add(Metric(name, value, Counter, tags, clock()))

    def recordGauge(name: String, value: Double,
                    tags: Map[String, String] = Map.empty): Unit =
      add(Metric(name, value, Gauge, tags, clock()))

    def recordHistogram(name: String, value: Double,
                        tags: Map[String, String] = Map.empty): Unit =
      add(Metric(name, value, Histogram, tags, clock()))

    /** Times `f`, recording `<name>_duration_seconds` as a histogram
      * (the reference TimerContext's naming), and returns f's result.
      */
    def time[T](name: String, tags: Map[String, String] = Map.empty)(f: => T): T = {
      val t0 = clock()
      try f finally recordHistogram(s"${name}_duration_seconds", (clock() - t0) / 1000.0, tags)
    }

    def getMetrics(name: String, window: String = "1h"): Seq[Metric] = {
      val span = Windows.getOrElse(window,
        throw new IllegalArgumentException(s"Invalid window: $window"))
      val cutoff = clock() - span
      synchronized { series.get(name).map(_.filter(_.timestampMs >= cutoff).toVector).getOrElse(Vector.empty) }
    }

    /** count/sum/avg/min/max/latest over the window; empty map when no
      * samples (the reference's empty-dict contract). */
    def aggregated(name: String, window: String = "1h"): Map[String, Double] = {
      val ms = getMetrics(name, window)
      if (ms.isEmpty) Map.empty
      else {
        val vs = ms.map(_.value)
        Map("count" -> vs.length.toDouble, "sum" -> vs.sum, "avg" -> vs.sum / vs.length,
          "min" -> vs.min, "max" -> vs.max, "latest" -> vs.last)
      }
    }

    def exportJson(): String = synchronized {
      val items = series.valuesIterator.flatten.map { m =>
        val tags = m.tags.toSeq.sortBy(_._1)
          .map { case (k, v) => s"${Json.str(k)}:${Json.str(v)}" }.mkString("{", ",", "}")
        s"""{"name":${Json.str(m.name)},"value":${Json.num(m.value)},""" +
          s""""type":${Json.str(m.metricType.label)},"tags":$tags,"timestamp_ms":${m.timestampMs}}"""
      }
      items.mkString("[", ",", "]")
    }

    /** Prometheus text format, latest value per series (the reference's
      * export shape: HELP/TYPE comment pair, then one sample line, tags as
      * k="v"). */
    def exportPrometheus(): String = synchronized {
      series.iterator.map { case (name, dq) =>
        val m = dq.last
        val tagStr = m.tags.toSeq.sortBy(_._1).map { case (k, v) => s"""$k="$v"""" }.mkString(",")
        val sample = if (tagStr.isEmpty) s"$name ${m.value}" else s"$name{$tagStr} ${m.value}"
        s"# HELP $name Generated metric\n# TYPE $name gauge\n$sample"
      }.mkString("\n")
    }

    def export(format: String): String = format match {
      case "json"       => exportJson()
      case "prometheus" => exportPrometheus()
      case other        => throw new IllegalArgumentException(s"Unsupported format: $other")
    }
  }

  trait AlertRule {
    def name: String
    def tags: Map[String, String]
    /** Some(alert) when firing, None otherwise. */
    def evaluate(collector: Collector, now: Long): Option[Alert]
  }

  /** Threshold over the windowed `latest` value — the reference's
    * ThresholdRule with its six comparison operators. A rule over a
    * metric with NO samples in the window does not fire (and does not
    * resolve an active alert either — the reference's None path).
    */
  final case class ThresholdRule(name: String, metricName: String, threshold: Double,
                                 operator: String = "gt", level: AlertLevel = Warning,
                                 window: String = "5m",
                                 tags: Map[String, String] = Map.empty) extends AlertRule {
    private val ops: Map[String, (Double, Double) => Boolean] = Map(
      "gt" -> (_ > _), "gte" -> (_ >= _), "lt" -> (_ < _),
      "lte" -> (_ <= _), "eq" -> (_ == _), "ne" -> (_ != _))
    require(ops.contains(operator), s"ThresholdRule: unknown operator '$operator'")

    def evaluate(collector: Collector, now: Long): Option[Alert] = {
      val agg = collector.aggregated(metricName, window)
      agg.get("latest").filter(v => ops(operator)(v, threshold)).map { v =>
        Alert(name, s"$metricName is $v (threshold: $threshold)", level, tags, now)
      }
    }
  }

  final class AlertManager(collector: Collector,
                           clock: () => Long = () => System.currentTimeMillis()) {
    private val rules = mutable.ArrayBuffer.empty[AlertRule]
    private val active = mutable.LinkedHashMap.empty[String, Alert]
    private val history = mutable.ArrayBuffer.empty[Alert]
    // per-rule record of the key(s) its alerts fired under, so a custom
    // AlertRule whose emitted alert tags differ from its rule tags — or
    // CHANGE between checks (value_band high → critical) — still resolves
    // every variant: keying fire by alert.tags but resolve by rule.tags
    // would leave such alerts active forever, and a single recorded key
    // would strand the previous variant when the tags move
    private val firedKeys = mutable.HashMap.empty[Int, Set[String]]

    private def key(name: String, tags: Map[String, String]): String =
      name + "|" + tags.toSeq.sorted.mkString(",")

    def addRule(rule: AlertRule): Unit = synchronized { rules += rule }

    /** Evaluate every rule: a newly-firing (rule, tags) raises ONE alert
      * until it resolves; a rule that stops firing — or fires under
      * different tags than last check — resolves its no-longer-current
      * alerts. Returns only the NEW alerts of this check.
      */
    def checkAlerts(): Seq[Alert] = synchronized {
      val now = clock()
      val fresh = mutable.ArrayBuffer.empty[Alert]
      def resolve(k: String): Unit = active.remove(k).foreach(_.resolved = true)
      rules.zipWithIndex.foreach { case (rule, idx) =>
        rule.evaluate(collector, now) match {
          case Some(alert) =>
            val k = key(rule.name, alert.tags)
            // a tag variant the rule fired under before but not now has
            // stopped firing — resolve it, or it stays active forever and
            // swallows its next fresh episode via the dedup below
            (firedKeys.getOrElse(idx, Set.empty) - k).foreach(resolve)
            firedKeys(idx) = Set(k)
            if (!active.contains(k)) {
              active(k) = alert
              history += alert
              fresh += alert
            }
          case None =>
            firedKeys.remove(idx).getOrElse(Set(key(rule.name, rule.tags))).foreach(resolve)
        }
      }
      fresh.toVector
    }

    def activeAlerts: Seq[Alert] = synchronized { active.values.toVector }

    def alertHistory(hours: Int = 24): Seq[Alert] = synchronized {
      val cutoff = clock() - hours * 3600000L
      history.filter(_.timestampMs >= cutoff).toVector
    }
  }
}
