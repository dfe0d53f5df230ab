package graft.core

import java.nio.file.{Files, Path, Paths, StandardOpenOption}
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** Driver-side orchestration parity: lineage tracking
  * (utils/lineage_tracker.py), run metrics (utils/metrics/observability
  * collector), and the file ingestion queue (core/queue_manager.py). None of
  * this is Spark-plan work — it is deliberately plain Scala on the driver,
  * as SURVEY §1.1 notes for the queue.
  */
object Orchestration {

  // ---------------------------------------------------------------- lineage

  /** Source → op → sink lineage record for one pipeline run
    * (lineage_tracker.py parity: graph of nodes + ordered edges).
    */
  final case class Lineage(pipeline: String, sources: Seq[String], ops: Seq[String], sink: Option[String]) {
    def toJson: String = {
      // real JSON escaping everywhere (backslashes first), sink included —
      // a quote or backslash in any path must not emit invalid JSON
      def j(x: String) = "\"" + x.replace("\\", "\\\\").replace("\"", "\\\"")
        .replace("\n", "\\n").replace("\r", "\\r") + "\""
      def arr(xs: Seq[String]) = xs.map(j).mkString("[", ",", "]")
      s"""{"pipeline":${j(pipeline)},"sources":${arr(sources)},"operations":${arr(ops)},""" +
        s""""sink":${sink.map(j).getOrElse("null")}}"""
    }
  }

  def lineageOf(conf: PipelineConfig.PipelineConf): Lineage =
    Lineage(conf.name,
      conf.sources.map(s => s"${s.typ}:${s.path}"),
      conf.operations.map(_.getClass.getSimpleName.stripSuffix("$")),
      conf.storage.map(st => s"${st.typ}:${st.path}"))

  // ---------------------------------------------------------------- metrics

  /** Query-level metrics collector: rows/bytes/duration per completed action,
    * via Spark's QueryExecutionListener (the collector role of the
    * reference's observability layer, executor-truthful instead of
    * driver-guessed).
    */
  final case class QueryMetric(action: String, durationNs: Long, outputRows: Long, failed: Boolean)

  final class MetricsCollector extends QueryExecutionListener {
    private val buf = new ConcurrentLinkedQueue[QueryMetric]()
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      buf.add(QueryMetric(funcName, durationNs, outputRows(qe.executedPlan), failed = false))
    }
    override def onFailure(funcName: String, qe: QueryExecution, ex: Exception): Unit =
      buf.add(QueryMetric(funcName, -1L, -1L, failed = true))
    def snapshot: Seq[QueryMetric] = buf.asScala.toSeq
    def totalDurationMs: Double = snapshot.filterNot(_.failed).map(_.durationNs).sum / 1e6

    /** Pour the current snapshot into the observability registry
      * ([[graft.core.Metrics.Collector]]): per action a duration
      * histogram, an output-rows counter, and a failure counter — the
      * bridge from Spark-truthful query metrics to windowed
      * aggregation / Prometheus export / threshold alerting.
      */
    def exportTo(registry: Metrics.Collector): Unit = snapshot.foreach { m =>
      val tags = Map("action" -> m.action)
      if (m.failed) registry.recordCounter("query_failures", 1.0, tags)
      else {
        registry.recordHistogram("query_duration_seconds", m.durationNs / 1e9, tags)
        if (m.outputRows >= 0)
          registry.recordCounter("query_output_rows", m.outputRows.toDouble, tags)
      }
    }
  }

  /** Rows a query produced: `numOutputRows` of the topmost node that
    * defines it. Write, `collect` and `count` roots carry no such metric,
    * so this looks down single-child chains, through AQE's final plan,
    * query stages and codegen wrappers; -1 when that chain has none.
    */
  private[core] def outputRows(plan: SparkPlan): Long = plan match {
    case a: AdaptiveSparkPlanExec => outputRows(a.executedPlan)
    case s: QueryStageExec => outputRows(s.plan)
    case _ => plan.metrics.get("numOutputRows").map(_.value).getOrElse(plan.children match {
      case Seq(only) => outputRows(only)
      case _ => -1L
    })
  }

  def installMetrics(spark: SparkSession): MetricsCollector = {
    val c = new MetricsCollector
    spark.listenerManager.register(c)
    c
  }

  // ---------------------------------------------------------------- queue

  /** File ingestion work-queue (core/queue_manager.py:45-291 parity):
    * priority-ordered (priority DESC, created ASC), pending → processing →
    * completed/failed, failed items resettable. Backed by a JSONL journal so
    * state survives restarts; single-writer per queue dir (the reference's
    * SQLite file lock has the same contract).
    */
  final case class QueueItem(id: String, path: String, table: String, priority: Int,
                             created: Long, status: String, attempts: Int)

  final class FileQueue(dir: String) {
    private val journal: Path = {
      val d = Paths.get(dir)
      Files.createDirectories(d)
      d.resolve("queue.jsonl")
    }
    private var items: Map[String, QueueItem] = load()
    private var counter: Long = items.size.toLong

    private def load(): Map[String, QueueItem] =
      if (!Files.exists(journal)) Map.empty
      else Files.readAllLines(journal).asScala.filter(_.nonEmpty).map(parse)
        .foldLeft(Map.empty[String, QueueItem])((m, it) => m + (it.id -> it)) // last write wins

    // Free-form fields (path, table) must be escaped or a single double
    // quote in a filename corrupts the journal and makes the WHOLE queue
    // unloadable on restart. Inside escaped values every quote is preceded
    // by a backslash, so the `,(?=")` field-split below stays unambiguous.
    private def esc(s: String): String =
      s.replace("\\", "\\\\").replace("\"", "\\\"").replace("\n", "\\n").replace("\r", "\\r")
    private def parse(line: String): QueueItem = {
      // escape-aware quoted-string scan: every key and value is a quoted,
      // esc()-escaped string, so scanning quote-to-quote with backslash
      // handling is unambiguous. (The previous regex split on `,(?=")`
      // misfired when a VALUE ended with a comma — the comma precedes the
      // closing quote and matched the lookahead, corrupting the record.)
      val fields = scala.collection.mutable.LinkedHashMap.empty[String, String]
      var i = 0
      def readQuoted(): String = {
        i += 1 // opening quote
        val sb = new StringBuilder
        while (line(i) != '"') {
          if (line(i) == '\\' && i + 1 < line.length) {
            line(i + 1) match { case 'n' => sb += '\n'; case 'r' => sb += '\r'; case c => sb += c }
            i += 2
          } else { sb += line(i); i += 1 }
        }
        i += 1 // closing quote
        sb.toString
      }
      while (i < line.length) {
        if (line(i) == '"') {
          val k = readQuoted()
          while (i < line.length && line(i) != '"') i += 1 // skip the colon
          val v = readQuoted()
          fields(k) = v
        } else i += 1
      }
      val m = fields
      QueueItem(m("id"), m("path"), m("table"), m("priority").toInt, m("created").toLong,
        m("status"), m("attempts").toInt)
    }

    private def append(it: QueueItem): Unit = {
      val json = s"""{"id":"${it.id}","path":"${esc(it.path)}","table":"${esc(it.table)}",""" +
        s""""priority":"${it.priority}","created":"${it.created}","status":"${it.status}","attempts":"${it.attempts}"}"""
      Files.write(journal, (json + "\n").getBytes,
        StandardOpenOption.CREATE, StandardOpenOption.APPEND)
      items += (it.id -> it)
    }

    /** add_to_queue (queue_manager.py:58-141); id = hash(path+table+seq). */
    def add(path: String, table: String, priority: Int = 0): String = synchronized {
      counter += 1
      val id = java.util.UUID.nameUUIDFromBytes(s"$path|$table|$counter".getBytes).toString
      append(QueueItem(id, path, table, priority, counter, "pending", 0))
      id
    }

    /** get_next_item (queue_manager.py:142-168): pending, priority DESC,
      * created ASC; marks processing.
      */
    def next(): Option[QueueItem] = synchronized {
      val cand = items.values.filter(_.status == "pending").toSeq
        .sortBy(it => (-it.priority, it.created)).headOption
      cand.foreach(it => append(it.copy(status = "processing", attempts = it.attempts + 1)))
      cand.map(it => items(it.id))
    }

    /** update_status (queue_manager.py:169-205). */
    def complete(id: String): Unit = synchronized {
      items.get(id).foreach(it => append(it.copy(status = "completed")))
    }
    def fail(id: String): Unit = synchronized {
      items.get(id).foreach(it => append(it.copy(status = "failed")))
    }

    /** reset_failed_items (queue_manager.py:281-291). */
    def resetFailed(): Int = synchronized {
      val failed = items.values.filter(_.status == "failed").toSeq
      failed.foreach(it => append(it.copy(status = "pending")))
      failed.size
    }

    def stats: Map[String, Int] = synchronized {
      items.values.groupBy(_.status).map { case (k, v) => k -> v.size }
    }
  }
}
