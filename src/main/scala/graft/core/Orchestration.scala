package graft.core

import java.nio.file.{Files, Path, Paths, StandardOpenOption}
import scala.jdk.CollectionConverters._

/** Driver-side orchestration parity: lineage tracking
  * (utils/lineage_tracker.py) and the file ingestion queue
  * (core/queue_manager.py); run metrics live in [[RunProfile]]. None of
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
      def arr(xs: Seq[String]) = xs.map(Json.str).mkString("[", ",", "]")
      s"""{"pipeline":${Json.str(pipeline)},"sources":${arr(sources)},"operations":${arr(ops)},""" +
        s""""sink":${sink.map(Json.str).getOrElse("null")}}"""
    }
  }

  def lineageOf(conf: PipelineConfig.PipelineConf): Lineage =
    Lineage(conf.name,
      conf.sources.map(s => s"${s.typ}:${s.path}"),
      conf.operations.map(_.getClass.getSimpleName.stripSuffix("$")),
      conf.storage.map(st => s"${st.typ}:${st.path}"))

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
