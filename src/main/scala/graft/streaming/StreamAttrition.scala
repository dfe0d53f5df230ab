package graft.streaming

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQueryListener
import graft.core.{OpCompiler, OpSpec}

/** Streaming stage-attrition accounting (round 11) — the stream half of
  * the batch `attrition:` block (core/OpSpec.compileObserved): the NAMED
  * `observe` nodes of OpCompiler.observeChain are threaded between every
  * stream transform, Structured Streaming reports their values per
  * micro-batch through StreamingQueryProgress.observedMetrics, and this
  * listener accumulates them into the same rows/weight in-out report —
  * zero extra passes, the metrics ride each micro-batch's own execution.
  *
  * (Batch uses named observes too, read from each query's observed
  * metrics in the run's RunProfile — OpCompiler.Attrition; streams
  * report theirs per micro-batch in the progress events.)
  *
  * Thread-safety: progress events arrive on the listener bus thread;
  * accumulation synchronizes, `report()` snapshots.
  */
final class StreamAttrition private[streaming] (
    prefix: String, labels: Seq[String], hasWeight: Seq[Boolean])
  extends StreamingQueryListener {

  private val rows = Array.fill(labels.size + 1)(0L)
  private val weights = Array.fill(labels.size + 1)(0L)
  private val weightSeen = Array.fill(labels.size + 1)(false)

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    synchronized {
      e.progress.observedMetrics.asScala.foreach { case (name, row) =>
        if (name.startsWith(prefix)) {
          val i = name.stripPrefix(prefix).toInt
          rows(i) += row.getLong(row.fieldIndex("rows"))
          if (hasWeight(i)) {
            val wi = row.fieldIndex("weight")
            if (!row.isNullAt(wi)) { weights(i) += row.getLong(wi); weightSeen(i) = true }
          }
        }
      }
    }

  /** Accumulated per-stage report over every micro-batch so far — same
    * shape as the batch `Result.attrition`. */
  def report(): Seq[OpCompiler.StageAttrition] = synchronized {
    labels.indices.map { i =>
      OpCompiler.StageAttrition(i + 1, labels(i),
        rows(i), rows(i + 1),
        if (weightSeen(i)) Some(weights(i)) else None,
        if (weightSeen(i + 1)) Some(weights(i + 1)) else None)
    }
  }
}

object StreamAttrition {

  /** Instrument a transform chain: `stages` are (label, op) pairs;
    * returns the observed output frame plus the listener to attach.
    * `weightCol` is summed wherever the column exists at that boundary.
    */
  def instrument(df: DataFrame, stages: Seq[(String, OpSpec)],
                 weightCol: Option[String]): (DataFrame, StreamAttrition) = {
    val prefix = s"graft_attr_${java.util.UUID.randomUUID().toString.take(8)}_"
    val (out, hasWeight) = OpCompiler.observeChain(df, stages.map(_._2), prefix, weightCol)(OpCompiler.applyOp(_, _))
    (out, new StreamAttrition(prefix, stages.map(_._1), hasWeight))
  }

  def attach(spark: SparkSession, a: StreamAttrition): Unit =
    spark.streams.addListener(a)
  def detach(spark: SparkSession, a: StreamAttrition): Unit =
    spark.streams.removeListener(a)
}
