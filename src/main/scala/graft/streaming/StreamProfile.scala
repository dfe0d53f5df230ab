package graft.streaming

import java.util.UUID

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress}
import graft.core.{Json, OpCompiler, OpSpec}

/** Where one stream query's time and rows went, micro-batch by micro-batch:
  * the one StreamingQueryListener graft registers. Per progress event of
  * its own query it keeps the batch id, input rows, processed rows/s and
  * the `durationMs` phases ([[StreamProfile.Phases]]); with a YAML
  * `attrition:` block, the per-stage rows/weight sums its named `observe`
  * nodes report; with a `monitoring:` section (the reference's
  * `streaming_pipeline.yaml:83-97` latency and throughput alerts), a
  * PASS/WARN/FAIL status per batch by [[StreamProfile.classify]]. Alert
  * transport (email/Slack) stays product surface: callers read
  * [[summary]] and deliver however they ship alerts.
  *
  * Scope: one profile per started query, matched on the query's `runId`.
  * Events that arrive before [[StreamProfile.start]] has the id are held
  * and replayed once it is bound, so a concurrent query in the same session
  * is never counted. The profile removes itself from the session when its
  * query terminates, or when the start throws.
  *
  * Retention: the newest `max_batches` batches are kept for the p95 and
  * rate readout; batch and row counts, phase totals, attrition sums and
  * the worst status are lifetime.
  *
  * Thread-safety: progress events arrive on the listener bus's streams
  * queue; recording is O(1) per event (plus one step per observed stage)
  * and synchronizes on this profile only, never with the micro-batch
  * thread.
  */
final class StreamProfile private (spark: SparkSession,
                                   monitoring: Option[StreamProfile.Monitoring],
                                   stages: Option[StreamProfile.Stages])
    extends StreamingQueryListener {
  import StreamProfile._

  private val maxBatches = monitoring.fold(DefaultMaxBatches)(_.maxBatches)
  private val recent = mutable.ArrayDeque.empty[Batch]
  private val phaseTotals = mutable.Map.empty[String, Long]
  private var batches, rows = 0L
  private var sawWarn, sawFail = false

  private val labels = stages.fold(Seq.empty[String])(_.labels)
  private val stageRows = Array.fill(labels.size + 1)(0L)
  private val stageWeights = Array.fill(labels.size + 1)(0L)
  private val weightSeen = Array.fill(labels.size + 1)(false)

  private var runId: UUID = null
  private val early = mutable.ArrayBuffer.empty[StreamingQueryListener.Event]

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = handle(e)
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = handle(e)

  private def handle(e: StreamingQueryListener.Event): Unit = synchronized {
    if (runId == null) early += e else route(e)
  }

  private def route(e: StreamingQueryListener.Event): Unit = e match {
    case p: StreamingQueryListener.QueryProgressEvent if p.progress.runId == runId => record(p.progress)
    case t: StreamingQueryListener.QueryTerminatedEvent if t.runId == runId => detach()
    case _ => ()
  }

  private def bind(q: StreamingQuery): Unit = synchronized {
    runId = q.runId
    early.foreach(route)
    early.clear()
  }

  private def detach(): Unit = spark.streams.removeListener(this)

  private def record(p: StreamingQueryProgress): Unit = {
    val d = p.durationMs
    val phases = Phases.flatMap(k => Option(d.get(k)).map(k -> _.longValue)).toMap
    val batchMs = phases.getOrElse("triggerExecution", d.values.asScala.map(_.longValue).sum)
    val rps = if (p.processedRowsPerSecond.isNaN) 0.0 else p.processedRowsPerSecond
    val status = monitoring.map(classify(p.numInputRows, batchMs, rps, _))
    recent += Batch(p.batchId, p.numInputRows, batchMs, rps, phases, status)
    if (recent.size > maxBatches) recent.removeHead()
    batches += 1
    rows += p.numInputRows
    phases.foreach { case (k, ms) => phaseTotals(k) = phaseTotals.getOrElse(k, 0L) + ms }
    sawWarn ||= status.contains("WARN")
    sawFail ||= status.contains("FAIL")
    stages.foreach { s =>
      p.observedMetrics.asScala.foreach { case (name, row) =>
        if (name.startsWith(s.prefix)) {
          val i = name.stripPrefix(s.prefix).toInt
          stageRows(i) += row.getLong(row.fieldIndex("rows"))
          if (s.hasWeight(i)) {
            val wi = row.fieldIndex("weight")
            if (!row.isNullAt(wi)) { stageWeights(i) += row.getLong(wi); weightSeen(i) = true }
          }
        }
      }
    }
  }

  /** What the query has done so far, after every event posted before this
    * call has reached the listeners. */
  def summary(): Summary = {
    // a bus that cannot drain (a stopped context) leaves what arrived so far
    try org.apache.spark.sql.GraftColumnBridge.drainListeners(spark)
    catch { case scala.util.control.NonFatal(_) => () }
    synchronized {
      val kept = recent.toVector
      val p95 =
        if (kept.isEmpty) 0L
        else {
          val ms = kept.map(_.batchMs).sorted
          ms(math.min(ms.length - 1, math.ceil(0.95 * ms.length).toInt - 1))
        }
      val nonEmpty = kept.filter(_.rows > 0)
      val rps = if (nonEmpty.isEmpty) 0.0 else nonEmpty.map(_.rowsPerSec).sum / nonEmpty.size
      val status = monitoring.map(_ => if (sawFail) "FAIL" else if (sawWarn) "WARN" else "PASS")
      val attrition = labels.indices.map { i =>
        OpCompiler.StageAttrition(i + 1, labels(i), stageRows(i), stageRows(i + 1),
          if (weightSeen(i)) Some(stageWeights(i)) else None,
          if (weightSeen(i + 1)) Some(stageWeights(i + 1)) else None)
      }
      Summary(batches, rows, p95, rps, status, phaseTotals.toMap, attrition, kept)
    }
  }
}

object StreamProfile {

  /** The `durationMs` phases a micro-batch reports. */
  val Phases: Seq[String] = Seq("triggerExecution", "addBatch", "queryPlanning", "getBatch",
    "latestOffset", "walCommit", "commitOffsets")

  /** Retention without a `monitoring:` section. */
  val DefaultMaxBatches = 10000

  /** The `monitoring:` section: the alert thresholds and the retention. */
  final case class Monitoring(maxBatchMs: Long, minRowsPerSec: Double, maxBatches: Int)

  /** The named observe nodes between a stream's transforms: the metric name
    * prefix, one label per stage, and whether each boundary sums a weight. */
  final case class Stages(prefix: String, labels: Seq[String], hasWeight: Seq[Boolean])

  final case class Batch(batchId: Long, rows: Long, batchMs: Long, rowsPerSec: Double,
                         phaseMs: Map[String, Long], status: Option[String])

  /** Lifetime batches and rows, the p95 batch time (nearest rank) and mean
    * processed rows/s over the retained non-empty batches, the worst status
    * (None without `monitoring:`), lifetime time per phase, the per-stage
    * attrition report (same shape as the batch `Result.attrition`), and the
    * retained batches. */
  final case class Summary(batches: Long, rows: Long, p95Ms: Long, rowsPerSec: Double,
                           status: Option[String], phaseMs: Map[String, Long],
                           attrition: Seq[OpCompiler.StageAttrition], recent: Seq[Batch]) {
    def toJson: String = Json.value(Map("batches" -> batches, "rows" -> rows, "p95_ms" -> p95Ms,
      "rows_per_s" -> rowsPerSec, "status" -> status, "phase_ms" -> phaseMs))
  }

  /** The reference's rule: latency FAILs past the threshold, WARNs inside
    * the 0.8 band; throughput (lower-is-bad) mirrors it — FAIL under the
    * floor, WARN under floor/0.8. Empty batches skip the rate check (no
    * rows → processedRowsPerSecond is meaningless, not slow).
    */
  def classify(rows: Long, batchMs: Long, rowsPerSec: Double, m: Monitoring): String = {
    val latFail = batchMs > m.maxBatchMs
    val latWarn = !latFail && batchMs > (0.8 * m.maxBatchMs).toLong
    val rateFail = rows > 0 && rowsPerSec < m.minRowsPerSec
    val rateWarn = rows > 0 && !rateFail && rowsPerSec < m.minRowsPerSec / 0.8
    if (latFail || rateFail) "FAIL"
    else if (latWarn || rateWarn) "WARN"
    else "PASS"
  }

  /** Thread named observe nodes between the transform `stages` ((label, op)
    * pairs); `weightCol` is summed wherever the column exists at a
    * boundary. Streams report the values per micro-batch in their progress
    * events, so the attrition costs no extra pass. */
  def observe(df: DataFrame, stages: Seq[(String, OpSpec)],
              weightCol: Option[String]): (DataFrame, Stages) = {
    val prefix = s"graft_attr_${UUID.randomUUID().toString.take(8)}_"
    val (out, hasWeight) = OpCompiler.observeChain(df, stages.map(_._2), prefix, weightCol)(OpCompiler.applyOp(_, _))
    (out, Stages(prefix, stages.map(_._1), hasWeight))
  }

  /** Start the query `sink` starts with a profile attached before it; a
    * start that throws leaves no listener behind. */
  def start(spark: SparkSession, monitoring: Option[Monitoring], stages: Option[Stages])
           (sink: => StreamingQuery): (StreamingQuery, StreamProfile) = {
    val profile = new StreamProfile(spark, monitoring, stages)
    spark.streams.addListener(profile)
    val q =
      try sink
      catch { case e: Throwable => profile.detach(); throw e }
    profile.bind(q)
    (q, profile)
  }
}
