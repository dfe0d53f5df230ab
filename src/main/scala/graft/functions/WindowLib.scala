package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._
import graft.core.OpSpec.{WindowFuncSpec, WindowOp}

/** Window-function library — §2.E. Covers the reference's pandas window
  * library (transformations/window_functions.py:15-435) and the Spark-dispatch
  * `window` op (processors/spark_processor.py:225-265), expressed as native
  * Spark window expressions (codegen'd, no UDFs).
  */
object WindowLib {

  /** Build a WindowSpec from partition cols + (column, ascending) order. */
  def spec(partitionBy: Seq[String], orderBy: Seq[(String, Boolean)]): WindowSpec = {
    val w = Window.partitionBy(partitionBy.map(col): _*)
    if (orderBy.isEmpty) w
    else w.orderBy(orderBy.map { case (c, asc) => if (asc) col(c).asc else col(c).desc }: _*)
  }

  // Ranking — window_functions.py:15-115
  def rowNumber(w: WindowSpec): Column   = row_number().over(w)
  def rankMin(w: WindowSpec): Column     = rank().over(w)        // pandas method='min'
  /** pandas method='max': highest rank within the tie group = rank + ties-1.
    * The tie group is (partition key, order key) — both must be in the tie
    * window or ranks cross partition boundaries.
    */
  def rankMax(w: WindowSpec, partitionCols: Seq[String], orderCols: Seq[String]): Column =
    rank().over(w) + count(lit(1)).over(
      Window.partitionBy((partitionCols ++ orderCols).map(col): _*)) - 1
  def denseRank(w: WindowSpec): Column   = dense_rank().over(w)  // pandas method='dense'
  def percentRank(w: WindowSpec): Column = percent_rank().over(w)
  def ntileN(n: Int, w: WindowSpec): Column = ntile(n).over(w)
  def cumeDist(w: WindowSpec): Column    = cume_dist().over(w)   // window_functions.py:363-384

  // Offsets — window_functions.py:117-168
  def lagCol(c: String, offset: Int, default: Any, w: WindowSpec): Column =
    if (default == null) lag(col(c), offset).over(w) else lag(col(c), offset, default).over(w)
  def leadCol(c: String, offset: Int, default: Any, w: WindowSpec): Column =
    if (default == null) lead(col(c), offset).over(w) else lead(col(c), offset, default).over(w)

  // Positional values — window_functions.py:170-251
  def firstValue(c: String, w: WindowSpec): Column = first(col(c)).over(w)
  def lastValue(c: String, w: WindowSpec): Column =
    last(col(c)).over(w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
  def nthValue(c: String, n: Int, w: WindowSpec): Column = nth_value(col(c), n).over(w)

  // Running aggregates — window_functions.py:253-301
  def runningSum(c: String, w: WindowSpec): Column =
    sum(col(c)).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
  def runningAvg(c: String, w: WindowSpec): Column =
    avg(col(c)).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))

  /** Moving aggregate over the trailing `k` rows with pandas' `min_periods`
    * guard (window_functions.py:303-361): fewer than minPeriods rows → null.
    */
  def movingAgg(fn: String, c: String, k: Int, minPeriods: Int, w: WindowSpec): Column = {
    val frame = w.rowsBetween(-(k - 1L), Window.currentRow)
    val agg = fn match {
      case "avg" | "mean" => avg(col(c)).over(frame)
      case "sum"          => sum(col(c)).over(frame)
      case "min"          => min(col(c)).over(frame)
      case "max"          => max(col(c)).over(frame)
      case "stddev"       => stddev(col(c)).over(frame)
      case other          => throw new IllegalArgumentException(s"Unknown moving agg: $other")
    }
    if (minPeriods <= 1) agg
    else when(count(col(c)).over(frame) >= minPeriods, agg)
  }

  def movingAverage(c: String, k: Int, minPeriods: Int, w: WindowSpec): Column =
    movingAgg("avg", c, k, minPeriods, w)
  def movingSum(c: String, k: Int, minPeriods: Int, w: WindowSpec): Column =
    movingAgg("sum", c, k, minPeriods, w)

  /** Every `type:` a window op's function may name ([[applyWindowOp]]). */
  val FunctionTypes: Seq[String] = Seq("row_number", "rank", "dense_rank", "percent_rank",
    "ntile", "cume_dist", "lag", "lead", "first_value", "last_value", "nth_value",
    "running_sum", "running_avg", "moving_avg", "moving_sum", "sum", "avg", "count", "min", "max")

  /** The op-dispatch entry (spark_processor.py:225-265 + the name-dispatch
    * table window_functions.py:386-435): apply a list of window functions over
    * one shared spec, honoring optional rows/range frames.
    */
  def applyWindowOp(df: DataFrame, op: WindowOp): DataFrame = {
    val base = spec(op.partitionBy, op.orderBy)
    val framed = (op.rowsBetween, op.rangeBetween) match {
      case (Some((s, e)), _) => base.rowsBetween(s, e)
      case (_, Some((s, e))) => base.rangeBetween(s, e)
      case _                 => base
    }
    // The explicit frame applies ONLY to plain aggregates: ranking and
    // offset functions carry a fixed required frame, and handing them the
    // op's rows/range frame makes Spark throw for any op that mixes, say,
    // `rank` with a framed `sum`.
    op.functions.foldLeft(df) { (d, f) =>
      val alias = Option(f.alias).getOrElse(s"${Option(f.column).getOrElse("w")}_${f.funcType}")
      val c: Column = f.funcType match {
        case "row_number"   => rowNumber(base)
        case "rank"         => rankMin(base)
        case "dense_rank"   => denseRank(base)
        case "percent_rank" => percentRank(base)
        case "ntile"        => ntileN(f.n, base)
        case "cume_dist"    => cumeDist(base)
        case "lag"          => lagCol(f.column, f.offset, f.default, base)
        case "lead"         => leadCol(f.column, f.offset, f.default, base)
        case "first_value"  => firstValue(f.column, framed)
        case "last_value"   =>
          // an explicit op frame is respected (parity with first_value);
          // only WITHOUT one does lastValue's full-partition default apply
          // (the SQL default frame would make last == current row)
          if (op.rowsBetween.isDefined || op.rangeBetween.isDefined)
            last(col(f.column)).over(framed)
          else lastValue(f.column, base)
        case "nth_value"    => nthValue(f.column, f.n, framed)
        case "running_sum"  => runningSum(f.column, base)
        case "running_avg"  => runningAvg(f.column, base)
        case "moving_avg"   => movingAverage(f.column, f.n, f.minPeriods, base)
        case "moving_sum"   => movingSum(f.column, f.n, f.minPeriods, base)
        case "sum" | "avg" | "count" | "min" | "max" =>
          Relationalish.agg(f.funcType, f.column).over(framed)
        case other => throw new IllegalArgumentException(s"Unknown window function: $other")
      }
      d.withColumn(alias, c)
    }
  }

  private object Relationalish {
    def agg(fn: String, c: String): Column = fn match {
      case "sum"   => sum(col(c))
      case "avg"   => avg(col(c))
      case "count" => count(col(c))
      case "min"   => min(col(c))
      case "max"   => max(col(c))
    }
  }
}
