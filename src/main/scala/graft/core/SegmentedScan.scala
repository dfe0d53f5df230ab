package graft.core

import org.apache.spark.sql.{Column, DataFrame, GraftColumnBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, JoinedRow, UnsafeProjection}
import org.apache.spark.sql.types.StructType

/** Segmented scan: an ordered per-key pass (EWM, sessionization, adjacent
  * pairs, global ordinals) that never needs one key's whole series in one
  * task. A per-key window or `groupByKey.flatMapGroups` funnels a
  * hyperactive key (one bot dominating an event log) through a single
  * task; here a big key spans many range partitions and only the state at
  * each partition boundary crosses tasks.
  *
  *   1. range-repartition on the scan's key and order columns, then sort
  *      within partitions on those plus any tie-break columns. Tie-break
  *      columns sort but do not range-split, so rows tied on the range
  *      columns never straddle a boundary;
  *   2. pass 1: one summary per non-empty partition (the operator's
  *      first/last chunk state, a row count…), collected to the driver —
  *      O(#partitions) bytes;
  *   3. a driver fold in partition-id order (partition order IS the sort
  *      order) turns the summaries into each partition's incoming carry,
  *      broadcast once;
  *   4. pass 2 re-reads the same rows and emits the operator's output from
  *      its carry.
  *
  * Full rows ride the range exchange: an id-only scan plus a join back
  * would pay two more corpus-sized exchanges to reunite rows with their
  * results.
  *
  * Both passes run over ONE shared `queryExecution.toRdd` of catalyst
  * rows: the range exchange and sort execute once and pass 2 reads the
  * shuffle files (its map stage is skipped), and no field is decoded to
  * external objects or re-encoded. Rows from the sort are REUSED buffers,
  * valid until the iterator's next(): a pass that keeps a row (or a string
  * read from one) past that copies it. Pass-2 output follows the same
  * SparkPlan contract — downstream operators copy when they buffer.
  *
  * Pass 1 skips the last partition unless `wholeInput` is set (a forward
  * carry never reads it, so the skip saves a task). With one partition
  * there is nothing to summarize and no job runs.
  */
final class SegmentedScan private (sorted: DataFrame) {
  def schema: StructType = sorted.schema
  def index(name: String): Int = schema.fieldIndex(name)

  /** Run both passes. `summarize` sees each summarized, non-empty
    * partition's rows; `carries` gets one entry per partition (None: empty
    * or not summarized) and returns each partition's carry; `emit` turns a
    * non-empty partition's carry and rows into rows of schema `out`.
    */
  def run[S, C](out: StructType, wholeInput: Boolean = false)(
      summarize: Iterator[InternalRow] => S)(
      carries: IndexedSeq[Option[S]] => IndexedSeq[C])(
      emit: (C, Iterator[InternalRow]) => Iterator[InternalRow]): DataFrame = {
    val spark = sorted.sparkSession
    val rows = sorted.queryExecution.toRdd
    val n = rows.getNumPartitions
    val parts = 0 until (if (wholeInput) n else n - 1)
    val summaries =
      if (parts.isEmpty) Array.empty[Option[S]]
      else spark.sparkContext.runJob(rows,
        (it: Iterator[InternalRow]) => if (it.hasNext) Some(summarize(it)) else None, parts)
    val incoming = spark.sparkContext.broadcast(carries(summaries.toIndexedSeq.padTo(n, None)))
    val outRdd = rows.mapPartitionsWithIndex { (pid, it) =>
      if (it.hasNext) emit(incoming.value(pid), it) else Iterator.empty
    }
    GraftColumnBridge.internalCreateDataFrame(spark, outRdd, out)
  }
}

object SegmentedScan {
  /** Range on `range`, sort on `range ++ tieBreak`; `numPartitions` 0 lets
    * AQE size the range exchange. */
  def apply(df: DataFrame, range: Seq[Column], tieBreak: Seq[Column] = Nil,
            numPartitions: Int = 0): SegmentedScan = {
    val byRange =
      if (numPartitions > 0) df.repartitionByRange(numPartitions, range: _*)
      else df.repartitionByRange(range: _*)
    new SegmentedScan(byRange.sortWithinPartitions(range ++ tieBreak: _*))
  }

  /** The forward carry: partition p gets the fold state after partitions
    * 0..p-1; empty partitions pass the state through unchanged. */
  def prefix[S, A](zero: A)(step: (A, S) => A): IndexedSeq[Option[S]] => IndexedSeq[A] =
    _.scanLeft(zero)((a, s) => s.fold(a)(step(a, _))).init

  /** Appends `width` cells to a pass-2 row: set the cells (`app(0) = x`),
    * then `app(row)`. The JoinedRow and UnsafeProjection are reused, so
    * build one per task inside `emit`; the result is valid until the next
    * call. Over `InternalRow.empty` the cells alone form the row.
    */
  final class Appender(out: StructType, width: Int) {
    private val cells = new GenericInternalRow(width)
    private val joined = new JoinedRow
    private val proj = UnsafeProjection.create(out)
    def update(i: Int, v: Any): Unit = cells.update(i, v)
    def apply(row: InternalRow): InternalRow = proj(joined(row, cells))
  }
}
