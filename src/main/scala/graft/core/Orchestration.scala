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

    // One journal line per write, through the shared Json codec (as
    // LineageTracker and DataCatalog do): free-form fields (path, table)
    // may hold quotes, backslashes, commas or newlines. Numbers are read
    // through their string form, so lines written as all-strings (the
    // older journal format) load too.
    private def parse(line: String): QueueItem = {
      val m = Json.parse(line).asInstanceOf[Map[String, Any]]
      def num(k: String): Long = m(k).toString.toLong
      QueueItem(m("id").toString, m("path").toString, m("table").toString, num("priority").toInt,
        num("created"), m("status").toString, num("attempts").toInt)
    }

    private def append(it: QueueItem): Unit = {
      val json = Json.value(Map("id" -> it.id, "path" -> it.path, "table" -> it.table,
        "priority" -> it.priority, "created" -> it.created, "status" -> it.status, "attempts" -> it.attempts))
      Files.write(journal, (json + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8),
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
