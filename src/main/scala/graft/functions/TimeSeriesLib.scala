package graft.functions

import graft.core.SegmentedScan
import org.apache.spark.sql.{Column, DataFrame, Dataset, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, DoubleType, IntegerType, LongType, ShortType, StringType,
  StructField, StructType, TimestampType}

/** Time-series library — §2.J, graft's equivalent of the reference's
  * transformations/time_series.py (527 LoC), re-expressed as distributed
  * window/aggregate plans. The one sequential-only recurrence (EWM) runs as
  * an affine SEGMENTED SCAN since round 6 — no per-key single-task
  * requirement anywhere in this file (PlanLintSpec's RDD-shape lint pins
  * that).
  */
object TimeSeriesLib {

  private def w(partitionBy: Seq[String], orderCol: String) =
    Window.partitionBy(partitionBy.map(col): _*).orderBy(col(orderCol))

  // ---------------------------------------------------------------- resample

  /** Resample to a fixed frequency (time_series.py:17-67): bucket by
    * `window(ts, freq)` and aggregate. Output carries the bucket start as
    * `period`. One shuffle, streaming-compatible shape.
    */
  def resample(
      df: DataFrame,
      tsCol: String,
      freq: String, // e.g. "1 hour", "15 minutes", "1 day"
      aggs: Seq[(String, String)], // (column, fn)
      keys: Seq[String] = Nil
  ): DataFrame = {
    val groupCols = window(col(tsCol), freq).as("__w") +: keys.map(col)
    val aggExprs = aggs.map { case (c, f) => graft.ops.Relational.aggExpr(f, c).as(s"${c}_$f") }
    df.groupBy(groupCols: _*)
      .agg(aggExprs.head, aggExprs.tail: _*)
      .withColumn("period", col("__w.start"))
      .drop("__w")
  }

  /** Resample onto a COMPLETE time grid (gap buckets present as nulls), then
    * optionally fill. The grid is `sequence(min, max, interval)` exploded —
    * generated distributively, no driver loop (time_series.py:39-61 gap
    * semantics). With `keys`, each key gets its own [min,max] grid.
    */
  def resampleWithGrid(
      df: DataFrame,
      tsCol: String,
      freq: String,
      aggs: Seq[(String, String)],
      keys: Seq[String] = Nil,
      fillMethod: String = "none" // none | ffill | zero
  ): DataFrame = {
    val bucketed = resample(df, tsCol, freq, aggs, keys)
    val interval = expr(s"interval $freq")
    val grid =
      if (keys.isEmpty)
        bucketed.agg(min(col("period")).as("__mn"), max(col("period")).as("__mx"))
          .select(explode(sequence(col("__mn"), col("__mx"), interval)).as("period"))
      else
        bucketed.groupBy(keys.map(col): _*)
          .agg(min(col("period")).as("__mn"), max(col("period")).as("__mx"))
          .select(keys.map(col) :+ explode(sequence(col("__mn"), col("__mx"), interval)).as("period"): _*)
    // null-safe key equality: a null-key group exists on BOTH sides (the
    // grid is derived from bucketed), but a using-columns join would never
    // match it, losing the group's real aggregates — and "zero" fill would
    // then fabricate 0s over the lost data
    val joined =
      if (keys.isEmpty) grid.join(bucketed, Seq("period"), "left")
      else {
        // explicit aliases: the grid derives FROM bucketed, so unqualified
        // attribute references trip DetectAmbiguousSelfJoin
        def bq(c: String) = "`" + c.replace("`", "``") + "`"
        val g = grid.alias("__g")
        val b = bucketed.alias("__b")
        val cond = (keys.map(k => col(s"__g.${bq(k)}") <=> col(s"__b.${bq(k)}")) :+
          (col("__g.period") === col("__b.period"))).reduce(_ && _)
        g.join(b, cond, "left")
          .select(col("__g.period").as("period") +:
            keys.map(k => col(s"__g.${bq(k)}").as(k)) ++:
            aggs.map { case (c, f) => col(s"__b.${bq(s"${c}_$f")}").as(s"${c}_$f") }: _*)
      }
    val valueCols = aggs.map { case (c, f) => s"${c}_$f" }
    fillMethod match {
      case "none" => joined
      case "zero" => joined.na.fill(0, valueCols)
      case "ffill" =>
        val ww = w(keys, "period").rowsBetween(Window.unboundedPreceding, Window.currentRow)
        valueCols.foldLeft(joined)((d, c) => d.withColumn(c, last(col(c), ignoreNulls = true).over(ww)))
      case other => throw new IllegalArgumentException(s"Unknown grid fill: $other")
    }
  }

  // ---------------------------------------------------------------- rolling

  /** Rolling statistics over a COUNT window (time_series.py:69-116). */
  def rollingStats(
      df: DataFrame,
      valueCol: String,
      k: Int,
      stats: Seq[String], // mean std min max sum median
      orderCol: String,
      partitionBy: Seq[String] = Nil,
      minPeriods: Int = 1
  ): DataFrame = {
    val frame = w(partitionBy, orderCol).rowsBetween(-(k - 1L), Window.currentRow)
    stats.foldLeft(df) { (d, s) =>
      val c = s match {
        case "mean"   => avg(col(valueCol)).over(frame)
        case "std"    => stddev(col(valueCol)).over(frame)
        case "min"    => min(col(valueCol)).over(frame)
        case "max"    => max(col(valueCol)).over(frame)
        case "sum"    => sum(col(valueCol)).over(frame)
        case "median" => percentile_approx(col(valueCol), lit(0.5), lit(10000)).over(frame)
        case other    => throw new IllegalArgumentException(s"Unknown rolling stat: $other")
      }
      val guarded = if (minPeriods <= 1) c else when(count(col(valueCol)).over(frame) >= minPeriods, c)
      d.withColumn(s"${valueCol}_rolling_$s", guarded)
    }
  }

  /** Rolling statistics over a TIME window (trailing `seconds` seconds),
    * via a RANGE frame on the epoch — true event-time rolling, robust to
    * irregular sampling (time_series.py:84-90 time-window mode).
    */
  def rollingStatsTime(
      df: DataFrame,
      valueCol: String,
      seconds: Long,
      stats: Seq[String],
      tsCol: String,
      partitionBy: Seq[String] = Nil
  ): DataFrame = {
    val withEpoch = df.withColumn("__epoch", unix_timestamp(col(tsCol)))
    val frame = Window.partitionBy(partitionBy.map(col): _*).orderBy(col("__epoch"))
      .rangeBetween(-seconds, 0)
    val out = stats.foldLeft(withEpoch) { (d, s) =>
      val c = s match {
        case "mean" => avg(col(valueCol)).over(frame)
        case "std"  => stddev(col(valueCol)).over(frame)
        case "min"  => min(col(valueCol)).over(frame)
        case "max"  => max(col(valueCol)).over(frame)
        case "sum"  => sum(col(valueCol)).over(frame)
        case "count"=> count(col(valueCol)).over(frame)
        case other  => throw new IllegalArgumentException(s"Unknown rolling stat: $other")
      }
      d.withColumn(s"${valueCol}_tw_$s", c)
    }
    out.drop("__epoch")
  }

  /** Rolling Pearson correlation between two series over a trailing
    * count window — the co-movement diagnostic (pandas rolling().corr()):
    * same frame semantics as [[rollingStats]], null when the frame holds
    * < 2 complete pairs or either side is constant (both engines return
    * null there).
    */
  def rollingCorr(df: DataFrame, a: String, b: String, k: Int, orderCol: String,
                  partitionBy: Seq[String] = Nil, minPeriods: Int = 2): DataFrame = {
    require(k >= 2, s"rollingCorr: window must be >= 2, got $k")
    val frame = w(partitionBy, orderCol).rowsBetween(-(k - 1L), Window.currentRow)
    val c = corr(col(a), col(b)).over(frame)
    val guarded =
      if (minPeriods <= 2) c
      else when(count(when(col(a).isNotNull && col(b).isNotNull, 1)).over(frame) >= minPeriods, c)
    df.withColumn(s"${a}_${b}_rolling_corr", guarded)
  }

  // ---------------------------------------------------------------- lags / diffs

  /** Multi-lag features (time_series.py:339-378). */
  def calculateLags(df: DataFrame, valueCol: String, lags: Seq[Int], orderCol: String,
                    partitionBy: Seq[String] = Nil): DataFrame = {
    val ww = w(partitionBy, orderCol)
    lags.foldLeft(df)((d, k) => d.withColumn(s"${valueCol}_lag_$k", lag(col(valueCol), k).over(ww)))
  }

  /** Multi-period differences (time_series.py:380-419). */
  def calculateDifferences(df: DataFrame, valueCol: String, periods: Seq[Int], orderCol: String,
                           partitionBy: Seq[String] = Nil): DataFrame = {
    val ww = w(partitionBy, orderCol)
    periods.foldLeft(df)((d, k) =>
      d.withColumn(s"${valueCol}_diff_$k", col(valueCol) - lag(col(valueCol), k).over(ww)))
  }

  /** Per-series linear-trend summary: OLS slope / intercept / R² of
    * value over order (time as a double, e.g. epoch seconds or a row
    * index) plus the point count — the per-entity "is this metric
    * drifting, and how fast" aggregate that complements decompose's
    * row-level trend column. Pure built-in `regr_*` aggregates: one
    * map-side-combined shuffle on the group keys, no window, no
    * collect — the canonical scale shape (both engines define
    * regr_slope = covar_pop/var_pop and drop rows where either side is
    * null; a zero-variance or single-point series yields null slope in
    * both). */
  def trendFeatures(df: DataFrame, valueCol: String, orderCol: String,
                    partitionBy: Seq[String] = Nil): DataFrame = {
    val y = col(valueCol).cast("double")
    val x = col(orderCol).cast("double")
    val aggs = Seq(
      regr_count(y, x).as(s"${valueCol}_n"),
      regr_slope(y, x).as(s"${valueCol}_slope"),
      regr_intercept(y, x).as(s"${valueCol}_intercept"),
      regr_r2(y, x).as(s"${valueCol}_r2"))
    if (partitionBy.isEmpty) df.agg(aggs.head, aggs.tail: _*)
    else df.groupBy(partitionBy.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  // ---------------------------------------------------------------- outliers

  /** Outlier flags (time_series.py:171-231). `iqr` and `zscore` use per-group
    * (or global) statistics broadcast back onto rows; `rolling_zscore` uses a
    * trailing window.
    */
  def flagOutliers(
      df: DataFrame,
      valueCol: String,
      method: String, // iqr | zscore | rolling_zscore
      threshold: Double = 3.0,
      partitionBy: Seq[String] = Nil,
      orderCol: String = null,
      k: Int = 20
  ): DataFrame = {
    val flag = s"${valueCol}_outlier"
    method match {
      case "zscore" =>
        val ww = Window.partitionBy(partitionBy.map(col): _*)
        val mu = avg(col(valueCol)).over(ww)
        val sd = stddev(col(valueCol)).over(ww)
        // outer coalesce: a null reading inside the sd>0 branch compares to
        // null — flag false like the iqr branch, not a filter-splitting null
        df.withColumn(flag, coalesce(
          when(sd > 0, abs((col(valueCol) - mu) / sd) > threshold).otherwise(lit(false)),
          lit(false)))
      case "iqr" =>
        val ww = Window.partitionBy(partitionBy.map(col): _*)
        val q1 = percentile(col(valueCol), lit(0.25)).over(ww)
        val q3 = percentile(col(valueCol), lit(0.75)).over(ww)
        val iqr = q3 - q1
        // coalesce: null readings flag false, matching the zscore branch
        // (a bare comparison would emit null and split filter/!filter)
        df.withColumn(flag, coalesce(
          col(valueCol) < q1 - lit(1.5) * iqr || col(valueCol) > q3 + lit(1.5) * iqr,
          lit(false)))
      case "mad" =>
        // Modified z-score (Iglewicz & Hoaglin): 0.6745·|x − median| / MAD.
        // Robust where zscore/iqr break: a few huge spikes inflate stddev
        // enough to mask themselves; the median/MAD pair is 50%-breakdown.
        // Two stacked window aggregates (median, then median of absolute
        // deviations) — same per-group broadcast shape as iqr. MAD = 0
        // (>50% of the group at one value) flags nothing, like sd = 0.
        val ww = Window.partitionBy(partitionBy.map(col): _*)
        val med = percentile(col(valueCol), lit(0.5)).over(ww)
        val dfMed = df.withColumn("__med", med)
        val mad = percentile(abs(col(valueCol) - col("__med")), lit(0.5)).over(ww)
        dfMed.withColumn("__mad", mad)
          .withColumn(flag, coalesce(
            when(col("__mad") > 0,
              lit(0.6745) * abs(col(valueCol) - col("__med")) / col("__mad") > threshold)
              .otherwise(lit(false)),
            lit(false)))
          .drop("__med", "__mad")
      case "rolling_zscore" =>
        require(orderCol != null, "rolling_zscore needs orderCol")
        val frame = w(partitionBy, orderCol).rowsBetween(-(k - 1L), Window.currentRow)
        val mu = avg(col(valueCol)).over(frame)
        val sd = stddev(col(valueCol)).over(frame)
        df.withColumn(flag, coalesce(
          when(sd > 0, abs((col(valueCol) - mu) / sd) > threshold).otherwise(lit(false)),
          lit(false)))
      case other => throw new IllegalArgumentException(s"Unknown outlier method: $other")
    }
  }

  // ---------------------------------------------------------------- missing data

  /** fill_missing (time_series.py:233-281). `interpolate` is LINEAR between
    * the nearest non-null neighbors: interior nulls get
    * prev + (next-prev) * (pos-prevPos)/(nextPos-prevPos); leading/trailing
    * nulls are left null (no extrapolation).
    */
  def fillMissing(
      df: DataFrame,
      valueCol: String,
      method: String, // ffill | bfill | mean | median | interpolate | value
      orderCol: String,
      partitionBy: Seq[String] = Nil,
      value: Any = null
  ): DataFrame = method match {
    case "ffill" | "bfill" | "mean" | "median" | "value" =>
      graft.ops.Relational.fillNull(df, valueCol, method, value, Seq(orderCol), partitionBy)
    case "interpolate" =>
      val base = w(partitionBy, orderCol)
      val before = base.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val after = base.rowsBetween(Window.currentRow, Window.unboundedFollowing)
      val rn = row_number().over(base)
      val v = col(valueCol).cast(DoubleType)
      val prevVal = last(v, ignoreNulls = true).over(before)
      val prevPos = last(when(v.isNotNull, rn), ignoreNulls = true).over(before)
      val nextVal = first(v, ignoreNulls = true).over(after)
      val nextPos = first(when(v.isNotNull, rn), ignoreNulls = true).over(after)
      df.withColumn("__rn", rn)
        .withColumn(valueCol,
          when(v.isNotNull, v).otherwise(
            when(prevVal.isNotNull && nextVal.isNotNull,
              prevVal + (nextVal - prevVal) * (col("__rn") - prevPos) / (nextPos - prevPos))
          ))
        .drop("__rn")
    case other => throw new IllegalArgumentException(s"Unknown fill method: $other")
  }

  // ---------------------------------------------------------------- calendar features

  /** calculate_time_features (time_series.py:283-337): the 12 named features. */
  def timeFeatures(df: DataFrame, tsCol: String): DataFrame =
    df.withColumn(s"${tsCol}_year", year(col(tsCol)))
      .withColumn(s"${tsCol}_month", month(col(tsCol)))
      .withColumn(s"${tsCol}_day", dayofmonth(col(tsCol)))
      .withColumn(s"${tsCol}_hour", hour(col(tsCol)))
      .withColumn(s"${tsCol}_dayofweek", dayofweek(col(tsCol)))       // 1=Sunday..7=Saturday
      .withColumn(s"${tsCol}_quarter", quarter(col(tsCol)))
      .withColumn(s"${tsCol}_weekofyear", weekofyear(col(tsCol)))
      .withColumn(s"${tsCol}_dayofyear", dayofyear(col(tsCol)))
      .withColumn(s"${tsCol}_is_weekend", dayofweek(col(tsCol)).isin(1, 7))
      .withColumn(s"${tsCol}_is_month_start", dayofmonth(col(tsCol)) === 1)
      .withColumn(s"${tsCol}_is_month_end", col(tsCol).cast("date") === last_day(col(tsCol)))
      .withColumn(s"${tsCol}_day_name", date_format(col(tsCol), "EEEE"))

  // ---------------------------------------------------------------- smoothing

  /** Moving-average smoothing (time_series.py:428-437). */
  def smoothMovingAverage(df: DataFrame, valueCol: String, k: Int, orderCol: String,
                          partitionBy: Seq[String] = Nil): DataFrame =
    df.withColumn(s"${valueCol}_smooth",
      avg(col(valueCol)).over(w(partitionBy, orderCol).rowsBetween(-(k - 1L), Window.currentRow)))

  /** Per-(partition, key-chunk) summary for the EWM segmented scan: the
    * num/den recurrence s' = (1-α)s + b is an affine map, so a contiguous
    * chunk of one key's rows composes to s_out = pow·s_in + (bNum, bDen)
    * with pow = (1-α)^(non-null rows). `b*` are the chunk's local scans
    * from zero (computed with the exact sequential op order, so a chunk
    * whose incoming state is zero reproduces the single-scan bits).
    */
  private case class EwmChunk(key: String, pow: Double, bNum: Double, bDen: Double)
  private case class EwmPartSummary(first: EwmChunk, last: EwmChunk, oneChunk: Boolean)
  /** EWM state after the last row of `key` seen so far. */
  private case class EwmState(key: String, num: Double, den: Double)

  /** Exponentially-weighted mean, pandas `ewm(alpha).mean()` adjust=true
    * semantics (time_series.py:438-447): y_t = Σ w_i x_i / Σ w_i with
    * w_i = (1-α)^(t-i). The recurrence has no windowed closed form, but it
    * IS an affine map, so it runs as a [[graft.core.SegmentedScan]] over
    * (key, ord): pass 1 summarizes each partition's first and last key
    * chunks as composed affine maps, the fold threads the (num, den) state
    * across boundaries (only keys that span one compose; interior keys
    * start from zero and keep bit-exact single-scan results), pass 2
    * emits per-(key, ord) EWM. Cross-boundary states are algebraically
    * equal but may differ from a sequential scan in final ulps (affine
    * composition reorders float ops) — same class of divergence as pandas'
    * own vectorized ewm.
    * Output: partition cols + order col + value + `{value}_ewm`.
    */
  def smoothEwm(
      df: DataFrame,
      valueCol: String,
      alpha: Double,
      orderCol: String,
      partitionBy: Seq[String]
  ): DataFrame = {
    // key = JSON of the partition tuple: unambiguous (concatenation would
    // merge ("a","bc") with ("ab","c")) and null-safe
    val keyCol = if (partitionBy.nonEmpty) to_json(struct(partitionBy.map(col): _*))
                 else lit("")
    // order key: epoch MICROS for timestamps (a bare long cast yields
    // seconds and collides same-second rows); raw long for integrals.
    // Fractional order keys are rejected: cast-to-long truncation would
    // silently merge ord=1.2 with ord=1.9 into one EWM state entry.
    val ordCol = df.schema(orderCol).dataType match {
      case TimestampType => unix_micros(col(orderCol))
      case ByteType | ShortType | IntegerType | LongType => col(orderCol).cast("long")
      case other => throw new IllegalArgumentException(
        s"smoothEwm orders by a long-representable key (timestamp or integral); " +
        s"'$orderCol' is $other — a fractional order key would collide under truncation")
    }
    val oneMinus = 1.0 - alpha
    // null order keys have no position in the scan — they bypass below and
    // carry a null EWM
    val pre = df.withColumn("__key", keyCol)
      .withColumn("__ord", ordCol)
      .withColumn("__val", col(valueCol).cast(DoubleType))
    // __val as tie-break: rows tied on (key, ord) with DIFFERENT values must
    // fold in one deterministic order in both passes, or pass 2 could start
    // from an incoming state matching no single scan
    val scan = SegmentedScan(pre.filter(col("__ord").isNotNull),
      Seq(col("__key"), col("__ord")), tieBreak = Seq(col("__val")))
    val (keyIdx, ordIdx, valIdx) = (scan.index("__key"), scan.index("__ord"), scan.index("__val"))
    val out = scan.schema.add(s"${valueCol}_ewm", DoubleType)
    def applyChunk(c: EwmChunk, n0: Double, d0: Double): EwmState =
      if (n0 == 0.0 && d0 == 0.0) EwmState(c.key, c.bNum, c.bDen) // fresh key: bit-exact local scan
      else EwmState(c.key, c.pow * n0 + c.bNum, c.pow * d0 + c.bDen)
    // Ties on __ord keep the state AFTER the whole tie group (pandas
    // parity), so pass 2 buffers each tie group. Tie width is bounded by
    // how many SAME-INSTANT readings one key has; a guard turns the
    // would-be executor OOM on a degenerate order key into an error naming
    // the fix.
    val maxTieWidth = 1000000
    val withEwm = scan.run(out)({ it =>
      // pass 1: first/last chunk affine summaries
      var cur: String = null
      var pow = 1.0; var bNum = 0.0; var bDen = 0.0
      var first: EwmChunk = null
      def chunk() = EwmChunk(cur, pow, bNum, bDen)
      it.foreach { r =>
        val key = r.getUTF8String(keyIdx).toString
        if (cur == null) cur = key
        else if (key != cur) {
          if (first == null) first = chunk()
          cur = key; pow = 1.0; bNum = 0.0; bDen = 0.0
        }
        if (!r.isNullAt(valIdx)) {
          val x = r.getDouble(valIdx)
          pow *= oneMinus; bNum = bNum * oneMinus + x; bDen = bDen * oneMinus + 1.0
        }
      }
      val last = chunk()
      EwmPartSummary(if (first == null) last else first, last, first == null)
    })(SegmentedScan.prefix(EwmState(null, 0.0, 0.0)) { (in: EwmState, s: EwmPartSummary) =>
      // a one-chunk partition continuing the carried key composes onto it
      if (s.oneChunk && s.first.key == in.key) applyChunk(s.last, in.num, in.den)
      else applyChunk(s.last, 0.0, 0.0)
    }) { (in, it) =>
      // NB: named `rows`, not `buffered` — inside `new Iterator` that name
      // would resolve to the INHERITED Iterator.buffered method (shadowing
      // the local) and recurse hasNext→buffered→hasNext to a StackOverflow
      val rows = it.buffered
      var cur: String = null
      var num = 0.0; var den = 0.0
      val app = new SegmentedScan.Appender(out, 1)
      new Iterator[InternalRow] {
        private var pending: Iterator[InternalRow] = Iterator.empty
        def hasNext: Boolean = pending.hasNext || rows.hasNext
        def next(): InternalRow = {
          if (!pending.hasNext) {
            val key = rows.head.getUTF8String(keyIdx).toString; val ord = rows.head.getLong(ordIdx)
            if (key != cur) {
              // only the partition's first key can continue the carry
              if (cur == null && key == in.key) { num = in.num; den = in.den }
              else { num = 0.0; den = 0.0 }
              cur = key
            }
            val group = scala.collection.mutable.ArrayBuffer[InternalRow]()
            while (rows.hasNext && rows.head.getLong(ordIdx) == ord &&
              rows.head.getUTF8String(keyIdx).toString == key) {
              val r = rows.next()
              if (!r.isNullAt(valIdx)) {
                val x = r.getDouble(valIdx)
                num = num * oneMinus + x; den = den * oneMinus + 1.0
              }
              group += r.copy() // the sort reuses its row buffer
              require(group.length <= maxTieWidth,
                s"smoothEwm: more than $maxTieWidth rows share one (key, $orderCol) " +
                  "instant — tied readings must buffer to share the post-group EWM; " +
                  "use a finer-grained order column")
            }
            app(0) = if (den > 0) num / den else null
            pending = group.iterator.map(r => app(r))
          }
          pending.next()
        }
      }
    }
    // null order keys have no position in the scan → null EWM
    val nullRows = pre.filter(col("__ord").isNull)
      .withColumn(s"${valueCol}_ewm", lit(null).cast("double"))
    withEwm.unionByName(nullRows).drop("__key", "__ord", "__val")
  }

  /** Savitzky–Golay smoothing (time_series.py:448-470): the symmetric FIR
    * coefficients are solved once on the driver (tiny (p+1)×(p+1) system via
    * Gaussian elimination — no scipy), then applied distributively as a dot
    * product over a centered rows window. Edges (incomplete frames) → null.
    */
  def smoothSavgol(df: DataFrame, valueCol: String, windowLength: Int, polyOrder: Int,
                   orderCol: String, partitionBy: Seq[String] = Nil): DataFrame = {
    require(windowLength % 2 == 1, "savgol window must be odd")
    require(polyOrder < windowLength, "polyOrder must be < windowLength")
    val coeffs = savgolCoefficients(windowLength, polyOrder)
    val half = windowLength / 2
    val frame = w(partitionBy, orderCol).rowsBetween(-half.toLong, half.toLong)
    val vals = collect_list(col(valueCol).cast(DoubleType)).over(frame)
    val coefArr = array(coeffs.map(lit): _*)
    df.withColumn(s"${valueCol}_savgol",
      when(size(vals) === windowLength,
        aggregate(zip_with(vals, coefArr, (a, b) => a * b), lit(0.0), (acc, x) => acc + x)))
  }

  /** Central Savitzky–Golay coefficients: row 0 of (AᵀA)⁻¹Aᵀ for the
    * Vandermonde A over offsets [-h..h]. Pure Scala, driver-side, O(p³).
    */
  private[graft] def savgolCoefficients(windowLength: Int, polyOrder: Int): Array[Double] = {
    val h = windowLength / 2
    val offsets = (-h to h).map(_.toDouble).toArray
    val m = polyOrder + 1
    // Normal matrix N = AᵀA (m×m), rhs = e0 solved for the smoothing row.
    val N = Array.ofDim[Double](m, m)
    for (i <- 0 until m; j <- 0 until m)
      N(i)(j) = offsets.map(x => math.pow(x, i + j)).sum
    // Solve N c = e_i for all i to get N⁻¹ (augmented Gaussian elimination).
    val aug = Array.tabulate(m, 2 * m)((i, j) => if (j < m) N(i)(j) else if (j - m == i) 1.0 else 0.0)
    for (p <- 0 until m) {
      val piv = (p until m).maxBy(r => math.abs(aug(r)(p)))
      val tmp = aug(p); aug(p) = aug(piv); aug(piv) = tmp
      val d = aug(p)(p)
      for (j <- 0 until 2 * m) aug(p)(j) /= d
      for (r <- 0 until m if r != p) {
        val f = aug(r)(p)
        for (j <- 0 until 2 * m) aug(r)(j) -= f * aug(p)(j)
      }
    }
    val inv = Array.tabulate(m, m)((i, j) => aug(i)(j + m))
    // c_k = Σ_i inv(0,i) * offsets_k^i  (evaluation of the projection at 0)
    offsets.map(x => (0 until m).map(i => inv(0)(i) * math.pow(x, i)).sum)
  }

  // ---------------------------------------------------------------- changepoints

  /** detect_changepoints (time_series.py:482-527): |Δ rolling mean| compared
    * to 2 × median rolling std. The median-of-stds is a per-partition (or
    * global) aggregate broadcast back onto rows.
    */
  def detectChangepoints(df: DataFrame, valueCol: String, k: Int, orderCol: String,
                         partitionBy: Seq[String] = Nil, multiplier: Double = 2.0): DataFrame = {
    val base = w(partitionBy, orderCol)
    val frame = base.rowsBetween(-(k - 1L), Window.currentRow)
    val rm = avg(col(valueCol)).over(frame)
    val rs = stddev(col(valueCol)).over(frame)
    val withRoll = df.withColumn("__rm", rm).withColumn("__rs", rs)
    val grpW = Window.partitionBy(partitionBy.map(col): _*)
    val medStd = percentile(col("__rs"), lit(0.5)).over(grpW)
    withRoll
      .withColumn("__score", abs(col("__rm") - lag(col("__rm"), 1).over(base)))
      .withColumn(s"${valueCol}_changepoint",
        col("__score").isNotNull && col("__score") > lit(multiplier) * medStd)
      .drop("__rm", "__rs", "__score")
  }

  // ---------------------------------------------------------------- decomposition

  /** Classical seasonal decomposition (time_series.py:118-169,
    * statsmodels-style), additive or multiplicative: trend = centered MA over
    * one period (even periods get half-weight endpoints); additive seasonal =
    * phase-mean of (value − trend) normalized to mean 0, resid = value −
    * trend − seasonal; multiplicative seasonal = phase-mean of
    * (value / trend) normalized to mean 1, resid = value / (trend × seasonal)
    * — division guards (nullif) yield null instead of an ANSI
    * DIVIDE_BY_ZERO on degenerate zero trends/seasonals. All window + group
    * aggregates — fully distributed per key.
    */
  def seasonalDecompose(df: DataFrame, valueCol: String, period: Int, orderCol: String,
                        partitionBy: Seq[String] = Nil,
                        model: String = "additive"): DataFrame = {
    require(model == "additive" || model == "multiplicative",
      s"seasonalDecompose: model must be additive|multiplicative, got '$model'")
    val mult = model == "multiplicative"
    val base = w(partitionBy, orderCol)
    val v = col(valueCol).cast(DoubleType)
    val trend: Column =
      if (period % 2 == 1) {
        val h = period / 2
        val frame = base.rowsBetween(-h.toLong, h.toLong)
        when(count(v).over(frame) === period, avg(v).over(frame))
      } else {
        val h = period / 2
        val frame = base.rowsBetween(-h.toLong, h.toLong) // period+1 points, half-weight ends
        val s = sum(v).over(frame)
        val firstV = first(v).over(frame)
        val lastV = last(v).over(base.rowsBetween(-h.toLong, h.toLong))
        when(count(v).over(frame) === period + 1, (s - (firstV + lastV) / 2) / period)
      }
    val withTrend = df
      .withColumn("__rn", row_number().over(base))
      .withColumn("trend", trend)
      .withColumn("__phase", pmod(col("__rn") - 1, lit(period)))
      .withColumn("__detr",
        if (mult) v / nullif(col("trend"), lit(0.0)) else v - col("trend"))
    val phaseW = Window.partitionBy((partitionBy :+ "__phase").map(col): _*)
    val allW = Window.partitionBy(partitionBy.map(col): _*)
    // normalize by the UNWEIGHTED mean across the period's phases (one
    // representative row per phase): averaging the per-row phase-mean
    // column would double-weight phases that hold extra rows whenever the
    // series length is not a multiple of `period` (statsmodels parity)
    val phaseRn = row_number().over(
      Window.partitionBy((partitionBy :+ "__phase").map(col): _*).orderBy(col(orderCol)))
    withTrend
      .withColumn("__phaseMean", avg(col("__detr")).over(phaseW))
      .withColumn("__phaseRep", when(phaseRn === 1, col("__phaseMean")))
      .withColumn("seasonal",
        if (mult) col("__phaseMean") / nullif(avg(col("__phaseRep")).over(allW), lit(0.0))
        else col("__phaseMean") - avg(col("__phaseRep")).over(allW))
      .withColumn("resid",
        if (mult) v / nullif(col("trend") * col("seasonal"), lit(0.0))
        else v - col("trend") - col("seasonal"))
      .drop("__rn", "__phase", "__detr", "__phaseMean", "__phaseRep")
  }

  // ---------------------------------------------------------------- sessions

  /** Batch sessionization (gaps-and-islands): every event gets a per-key
    * session ordinal; a gap of `gapSeconds` or more between consecutive
    * events opens a new session (>= — Spark's `session_window` is
    * [ts, ts+gap) with an EXCLUSIVE end, so batch and streaming agree on
    * boundaries). The batch analogue of the streaming `session_window`
    * aggregate (StreamOps.sessionWindows), but keeps the EVENT rows — the
    * shape needed to join session context back onto events or feed
    * per-session downstream features.
    *
    * Scale shape: session assignment is a prefix scan — only the first row
    * of a key's chunk depends on anything outside the chunk (the previous
    * event time, for the gap test, and the running session count) — so it
    * runs as a [[graft.core.SegmentedScan]] over (key, ts) instead of a
    * per-key lag + running-sum window: pass 1 summarizes each partition's
    * first/last chunk (first/last event time, fresh-start session count),
    * the fold threads (count, lastTs) across boundaries, pass 2 emits each
    * event's session id.
    *
    * Determinism under timestamp ties: tied events see gap 0, so they never
    * open a session and share one ordinal (spec-pinned). Rows with a NULL
    * event time have no position in the scan and get a null session id
    * (the old window formulation sorted them first — a null event time is
    * missing data, not the earliest event).
    */
  def sessionize(
      df: DataFrame,
      tsCol: String,
      gapSeconds: Long,
      keys: Seq[String],
      sessionCol: String = "session_id"
  ): DataFrame = {
    require(keys.nonEmpty, "sessionize: at least one key column is required")
    // gap 0 would make every tied-timestamp row "open a session" in the
    // chunk summaries but not in the tie-group-collapsing emission pass —
    // and a zero/negative gap is semantically meaningless anyway
    require(gapSeconds > 0, s"sessionize: gapSeconds must be positive, got $gapSeconds")
    val gapMicros = gapSeconds * 1000000L
    val keyCol = to_json(struct(keys.map(col): _*))
    val pre = df.withColumn("__key", keyCol)
      .withColumn("__ord", unix_micros(col(tsCol)))
    val scan = SegmentedScan(pre.filter(col("__ord").isNotNull),
      Seq(col("__key"), col("__ord")))
    val (keyIdx, ordIdx) = (scan.index("__key"), scan.index("__ord"))
    val out = scan.schema.add(sessionCol, LongType)
    // pass 1: first/last chunk summaries — (firstTs, lastTs, session count
    // under a FRESH start). Only the first row's is-new flag depends on the
    // incoming state, so a continuing chunk's true count is
    // firstIsNew + (freshCount - 1).
    case class Chunk(key: String, firstTs: Long, lastTs: Long, freshCount: Long)
    case class Carry(key: String, cnt: Long, lastTs: Long)
    val withSess = scan.run(out)({ it =>
      var cur: String = null; var firstTs = 0L; var prevTs = 0L; var cnt = 0L
      var first: Chunk = null
      def chunk() = Chunk(cur, firstTs, prevTs, cnt)
      it.foreach { r =>
        val key = r.getUTF8String(keyIdx).toString; val ts = r.getLong(ordIdx)
        if (key != cur) {
          if (cur != null && first == null) first = chunk()
          cur = key; firstTs = ts; prevTs = ts; cnt = 1L
        } else {
          if (ts - prevTs >= gapMicros) cnt += 1L
          prevTs = ts
        }
      }
      (if (first == null) chunk() else first, chunk(), first == null)
    })(SegmentedScan.prefix(Carry(null, 0L, 0L)) {
      (in: Carry, s: (Chunk, Chunk, Boolean)) =>
        val (firstC, lastC, oneChunk) = s
        if (oneChunk && firstC.key == in.key) {
          val firstIsNew = if (firstC.firstTs - in.lastTs >= gapMicros) 1L else 0L
          Carry(lastC.key, in.cnt + firstIsNew + (lastC.freshCount - 1L), lastC.lastTs)
        } else Carry(lastC.key, lastC.freshCount, lastC.lastTs)
    }) { (in, it) =>
      // STREAMING, O(1) memory per task: a session ordinal is fully
      // determined at its tie group's FIRST row (tied events see gap 0 and
      // never increment), so each row emits immediately; no tie-group
      // buffering (coarse timestamps × one bot key make tie widths
      // corpus-sized)
      var cur: String = null
      var cnt = 0L; var prevTs = 0L; var havePrev = false
      val app = new SegmentedScan.Appender(out, 1)
      it.map { r =>
        val key = r.getUTF8String(keyIdx).toString; val ts = r.getLong(ordIdx)
        if (key != cur) {
          // only the partition's first key can continue the carry
          if (cur == null && key == in.key) { cnt = in.cnt; prevTs = in.lastTs; havePrev = true }
          else { cnt = 0L; havePrev = false }
          cur = key
        }
        if (!havePrev || ts - prevTs >= gapMicros) cnt += 1L
        prevTs = ts; havePrev = true
        app(0) = cnt
        app(r)
      }
    }
    // null event times have no position in the scan → null session id
    val nullRows = pre.filter(col("__ord").isNull)
      .withColumn(sessionCol, lit(null).cast("long"))
    withSess.unionByName(nullRows).drop("__key", "__ord")
  }

  /** Collapse sessionized events to one row per (key, session): bounds,
    * event count, duration, plus caller aggregations. Composes `sessionize`
    * with a grouped aggregate — two exchanges total, both on the key space.
    */
  def sessionStats(
      df: DataFrame,
      tsCol: String,
      gapSeconds: Long,
      keys: Seq[String],
      aggs: Seq[(String, String)] = Nil
  ): DataFrame = {
    val sessions = sessionize(df, tsCol, gapSeconds, keys)
    val baseAggs = Seq(
      min(col(tsCol)).as("session_start"),
      max(col(tsCol)).as("session_end"),
      count(lit(1)).as("n_events"),
      ((unix_micros(max(col(tsCol))) - unix_micros(min(col(tsCol)))) / 1000000.0)
        .as("duration_seconds"))
    val extra = aggs.map { case (c, f) => graft.ops.Relational.aggExpr(f, c).as(s"${c}_$f") }
    val all = baseAggs ++ extra
    sessions.groupBy((keys :+ "session_id").map(col): _*)
      .agg(all.head, all.tail: _*)
  }

  /** Cohort retention matrix: users grouped by their FIRST active period
    * (the cohort), cells = how many of them were active `offset` periods
    * later. Periods are calendar truncations (`day` | `week` | `month`);
    * output rows (cohort, period_offset, n_active, cohort_size, retention).
    *
    * Scale shape: one distinct over (user, period) — the only corpus-sized
    * shuffle; cohorts derive from that SAME aggregated relation via a
    * per-user min window (no second corpus scan, no broadcast of a
    * corpus-sized side); the final cell rollup aggregates the already-
    * distinct activity frame. Null users/timestamps are excluded.
    */
  def cohortRetention(df: DataFrame, userCol: String, tsCol: String,
                      period: String = "week"): DataFrame = {
    require(Set("day", "week", "month").contains(period),
      s"cohortRetention: period must be day|week|month, got '$period'")
    val activity = df.filter(col(userCol).isNotNull && col(tsCol).isNotNull)
      .select(col(userCol).as("__u"), date_trunc(period, col(tsCol)).cast("date").as("__p"))
      .distinct()
    val w = Window.partitionBy(col("__u"))
    val withCohort = activity.withColumn("__cohort", min(col("__p")).over(w))
    val offset = period match {
      case "month" => months_between(col("__p"), col("__cohort")).cast("int")
      case "week"  => (datediff(col("__p"), col("__cohort")) / 7).cast("int")
      case "day"   => datediff(col("__p"), col("__cohort"))
    }
    withCohort.withColumn("__off", offset)
      .groupBy(col("__cohort").as("cohort"), col("__off").as("period_offset"))
      .agg(count(lit(1)).as("n_active")) // (user, period) already distinct
      .withColumn("cohort_size", max(when(col("period_offset") === 0, col("n_active")))
        .over(Window.partitionBy(col("cohort"))))
      .withColumn("retention",
        col("n_active").cast("double") / col("cohort_size").cast("double"))
  }

  /** Time-weighted average per entity: Σ value·Δt / Σ Δt where Δt is the
    * seconds each reading was in force (until the NEXT reading) — the
    * correct average for irregularly-sampled state series (a sensor that
    * reports rarely when stable would bias a plain avg toward its noisy
    * periods; finance calls this TWAP). The last reading of each series
    * has no successor and carries zero weight (the standard half-open
    * convention — its in-force duration is unknown). One lead() window +
    * one map-side-combined aggregate. Entities with < 2 readings yield a
    * null twap.
    */
  def timeWeightedAvg(df: DataFrame, valueCol: String, tsCol: String,
                      partitionBy: Seq[String], orderCols: Seq[String] = Nil): DataFrame = {
    require(partitionBy.nonEmpty, "timeWeightedAvg: need the entity key (partitionBy)")
    val order = if (orderCols.isEmpty) Seq(tsCol) else orderCols
    val w = Window.partitionBy(partitionBy.map(col): _*).orderBy(order.map(col): _*)
    val dt = (unix_timestamp(lead(col(tsCol), 1).over(w)) - unix_timestamp(col(tsCol)))
      .cast("double")
    df.filter(col(tsCol).isNotNull && col(valueCol).isNotNull)
      .withColumn("__dt", dt)
      .groupBy(partitionBy.map(col): _*)
      .agg(
        (sum(col(valueCol).cast("double") * col("__dt")) / nullif(sum(col("__dt")), lit(0.0)))
          .as("twap"),
        sum(col("__dt")).as("total_seconds"),
        count(lit(1)).as("n_readings"))
  }

  /** Ingestion-volume anomaly detection: per-period row counts flagged by
    * the MAD modified z-score ACROSS periods (per group) — the "did a
    * source silently drop to half volume / double overnight" pipeline-
    * health gate, robust exactly where it matters (the anomaly itself
    * would inflate a stddev-based threshold; median/MAD shrug it off).
    * One map-side-combined count to the (group, period) frame; the
    * median/MAD windows then run over that AGGREGATED frame (≤ |groups|·
    * |periods| rows), not the corpus. Output: group cols, period, n,
    * volume_outlier.
    */
  def volumeAnomalies(df: DataFrame, tsCol: String, period: String = "day",
                      groupCols: Seq[String] = Nil, threshold: Double = 3.5): DataFrame = {
    require(Set("hour", "day", "week", "month").contains(period),
      s"volumeAnomalies: period must be hour|day|week|month, got '$period'")
    val counts = df.filter(col(tsCol).isNotNull)
      .groupBy((groupCols.map(col) :+
        date_trunc(period, col(tsCol)).as("period")): _*)
      .agg(count(lit(1)).as("n"))
    flagOutliers(counts, "n", "mad", threshold, partitionBy = groupCols)
      .withColumnRenamed("n_outlier", "volume_outlier")
  }

  /** Per-entity inter-arrival (dwell-time) statistics: count, mean,
    * exact-median, and max gap in seconds between consecutive events —
    * the activity-cadence profile (bot detection: near-constant tiny
    * gaps; churn features: growing gaps). One lag() window on the entity
    * key, then a map-side-combined aggregate; entities with < 2 events
    * yield a zero-gap row (n_gaps 0, null stats).
    *
    * Scale caveat: this keeps the per-entity window (unlike sessionize /
    * transitionMatrix, de-skewed in round 6) deliberately — the EXACT
    * median already requires every one of an entity's gaps in one
    * aggregation buffer, so segmenting the lag would only move the
    * hyperactive-entity bottleneck from the window to the final aggregate.
    * For bot-dominated logs either pre-cap per-entity events
    * (Scale.quotaPerGroup) or trade the exact median for
    * `approx_percentile` (mergeable sketch) in a caller-side variant.
    */
  def interArrivalStats(df: DataFrame, tsCol: String, partitionBy: Seq[String],
                        orderCols: Seq[String] = Nil): DataFrame = {
    require(partitionBy.nonEmpty, "interArrivalStats: need the entity key (partitionBy)")
    val order = if (orderCols.isEmpty) Seq(tsCol) else orderCols
    val w = Window.partitionBy(partitionBy.map(col): _*).orderBy(order.map(col): _*)
    val gap = unix_timestamp(col(tsCol)) - unix_timestamp(lag(col(tsCol), 1).over(w))
    df.filter(col(tsCol).isNotNull)
      .withColumn("__gap", gap)
      .groupBy(partitionBy.map(col): _*)
      .agg(count(col("__gap")).as("n_gaps"),
        avg(col("__gap")).as("mean_gap_s"),
        percentile(col("__gap"), lit(0.5)).as("median_gap_s"),
        max(col("__gap")).as("max_gap_s"))
  }

  /** Segmented adjacent-pair extraction — the shared skeleton of the
    * de-skewed sequence operators ([[transitionMatrix]],
    * [[interArrivalStatsScalable]]): a [[graft.core.SegmentedScan]] over
    * (entity key, order) whose carry is the previous non-empty partition's
    * last (key, payload), so pass 2 emits the cross-boundary pair at its
    * partition's first row. No per-entity single-task requirement: a
    * hyperactive entity spans range partitions.
    *
    * `pre` must already carry `__key` (string entity key) first, then the
    * order columns, then the payload as its LAST column; rows with null
    * payload must be pre-filtered. Output: (from, to) of `payloadType`,
    * one row per adjacent pair, keyed frame variant adds `__key`.
    */
  private def segmentedAdjacentPairs(pre: DataFrame, orderCols: Seq[String],
                                     payloadType: org.apache.spark.sql.types.DataType,
                                     keepKey: Boolean): DataFrame = {
    import org.apache.spark.unsafe.types.UTF8String
    val scan = SegmentedScan(pre, col("__key") +: orderCols.map(col))
    val payloadIdx = scan.schema.length - 1
    // the payload is copied out of the reused row buffer (a no-op for
    // primitives, a byte copy for strings)
    def keyPayload(r: InternalRow): (String, Any) =
      (r.getUTF8String(0).toString, InternalRow.copyValue(r.get(payloadIdx, payloadType)))
    val out = StructType(
      (if (keepKey) Seq(StructField("__key", StringType)) else Nil) ++
        Seq(StructField("__from", payloadType), StructField("__to", payloadType)))
    scan.run(out)({ it =>
      // pass 1: the partition's last (key, payload) — the only row a
      // later partition's first row can pair with. Keeping the row past
      // next() is safe only for the last one: the sorter hands it out as a
      // copy before freeing its pages.
      var last: InternalRow = null
      it.foreach(r => last = r)
      keyPayload(last)
    })(SegmentedScan.prefix[(String, Any), (String, Any)]((null, null))((_, last) => last)) {
      (carried, it) =>
        var (prevKey, prevPayload) = carried
        val app = new SegmentedScan.Appender(out, out.length)
        it.flatMap { r =>
          val (k, v) = keyPayload(r)
          val pair =
            if (prevKey == k) {
              var i = 0
              if (keepKey) { app(0) = UTF8String.fromString(k); i = 1 }
              app(i) = prevPayload; app(i + 1) = v
              Iterator.single(app(InternalRow.empty))
            } else Iterator.empty
          prevKey = k; prevPayload = v
          pair
        }
    }
  }

  /** First-order Markov transition matrix over per-entity event
    * sequences: count and conditional probability of state→state steps
    * (the session-flow / user-journey summary). `orderCols` must make the
    * per-entity order total — pass a unique tiebreaker (event id) after
    * the timestamp, or tied rows would make adjacency
    * partition-order-dependent.
    *
    * Scale shape: adjacency needs only CONSECUTIVE rows, so the pairs come
    * from [[segmentedAdjacentPairs]] instead of a per-entity `lead()`
    * window (which funnels a hyperactive entity's whole series through one
    * task; SkewStressSpec pins it). The pair counts then map-side-combine
    * to the ≤|states|² matrix; probabilities ride a window over that
    * aggregated frame.
    */
  def transitionMatrix(df: DataFrame, stateCol: String, orderCols: Seq[String],
                       partitionBy: Seq[String]): DataFrame = {
    require(orderCols.nonEmpty, "transitionMatrix: need at least one order column")
    require(partitionBy.nonEmpty, "transitionMatrix: need the entity key (partitionBy)")
    // unambiguous, null-safe composite entity key (smoothEwm's convention)
    val keyCol = to_json(struct(partitionBy.map(col): _*))
    val pre = df.filter(col(stateCol).isNotNull)
      .select((keyCol.as("__key") +: orderCols.map(col)) :+ col(stateCol).as("__state"): _*)
    segmentedAdjacentPairs(pre, orderCols, df.schema(stateCol).dataType, keepKey = false)
      .select(col("__from").as("from_state"), col("__to").as("to_state"))
      .groupBy(col("from_state"), col("to_state"))
      .agg(count(lit(1)).as("n"))
      .withColumn("p",
        col("n").cast("double") /
          sum(col("n")).over(Window.partitionBy(col("from_state"))).cast("double"))
  }

  /** Skew-safe sibling of [[interArrivalStats]] for bot-dominated logs:
    * gaps come from [[segmentedAdjacentPairs]] (no per-entity window — a
    * hyperactive entity's series range-splits across partitions) and the
    * median is `approx_percentile` (mergeable sketch; EXACT while an
    * entity's gap count stays within `accuracy`, which covers the oracle
    * gate — at true scale it degrades gracefully instead of funneling
    * every gap of the hot entity into one exact-percentile buffer).
    * Entities with < 2 events keep their (n_gaps 0, null stats) row via
    * the distinct-entity left join. Output schema matches
    * interArrivalStats.
    */
  def interArrivalStatsScalable(df: DataFrame, tsCol: String, partitionBy: Seq[String],
                                orderCols: Seq[String] = Nil,
                                accuracy: Int = 10000): DataFrame = {
    require(partitionBy.nonEmpty, "interArrivalStatsScalable: need the entity key (partitionBy)")
    val order = if (orderCols.isEmpty) Seq(tsCol) else orderCols
    val keyCol = to_json(struct(partitionBy.map(col): _*))
    val base = df.filter(col(tsCol).isNotNull)
    val pre = base
      .select((keyCol.as("__key") +: order.map(col)) :+
        unix_timestamp(col(tsCol)).as("__ep"): _*)
    val gaps = segmentedAdjacentPairs(pre, order,
        org.apache.spark.sql.types.LongType, keepKey = true)
      .select(col("__key"), (col("__to") - col("__from")).as("__gap"))
      .groupBy("__key")
      .agg(count(col("__gap")).as("n_gaps"),
        avg(col("__gap")).as("mean_gap_s"),
        approx_percentile(col("__gap"), lit(0.5), lit(accuracy)).cast("double")
          .as("median_gap_s"),
        max(col("__gap")).as("max_gap_s"))
    val entities = base.select(partitionBy.map(col): _*).distinct()
      .withColumn("__key", keyCol)
    entities.join(gaps, Seq("__key"), "left")
      .drop("__key")
      .na.fill(0L, Seq("n_gaps"))
  }

  /** Trending items: top-k by occurrence count within each calendar
    * period (day/week/month) — "what moved this week". One
    * map-side-combined aggregate to (period, item) counts, then a
    * rank-pushdown window per period (partial top-k before the exchange,
    * quotaPerGroup's de-skewed shape). Deterministic ties: count desc,
    * item asc. Null items are excluded (they are absence, not an item).
    */
  def trendingTopK(df: DataFrame, tsCol: String, itemCol: String, k: Int,
                   period: String = "day"): DataFrame = {
    require(k > 0, s"trendingTopK: k must be positive, got $k")
    require(Set("day", "week", "month").contains(period),
      s"trendingTopK: period must be day|week|month, got '$period'")
    val counts = df.filter(col(itemCol).isNotNull && col(tsCol).isNotNull)
      .groupBy(date_trunc(period, col(tsCol)).cast("date").as("period"), col(itemCol))
      .agg(count(lit(1)).as("n"))
    // bounded rank tail (graft.expr.BoundedTopK): with only a handful of
    // periods, the per-period window concentrated the whole distinct-item
    // census into a few sort tasks; the O(k) heap aggregates map-side.
    // Count rides the id struct behind the item tie-break (items are
    // unique per period, so ordering never reaches it); the count cast is
    // exact (counts < 2^53) and the output keeps the original long `n`.
    counts.groupBy(col("period"))
      .agg(graft.expr.BoundedTopK(col("n").cast("double"),
        struct(col(itemCol), col("n")), k, scoreDesc = true).as("__top"))
      .select(col("period"), posexplode(col("__top")))
      .select(col("period"), col("col.id").getField(itemCol).as(itemCol),
        col("col.id").getField("n").as("n"), (col("pos") + 1).as("rank"))
  }

  /** Rolling distinct active users (DAU plus trailing windows, e.g. WAU=7,
    * MAU=28). `countDistinct` cannot run over a sliding window in either
    * engine, and per-day `collect_set` unions don't scale — the
    * distributed formulation is the contribution explode: each distinct
    * (user, day) row contributes to the w trailing windows ending on
    * day..day+w−1, so a plain groupBy(day) count-distinct per window size
    * gives the rolling count. Duplication factor = Σ windows (bounded,
    * e.g. 35 for 7+28), all keys uniform — no skew, no per-day state.
    * Days past the observed maximum are dropped (no phantom trailing
    * windows). Output: (day, dau, active_<w> per window), every observed
    * day present, zeros filled.
    */
  def activeUsers(df: DataFrame, userCol: String, tsCol: String,
                  windows: Seq[Int] = Seq(7, 28)): DataFrame = {
    require(windows.forall(_ > 1), s"activeUsers: windows must be > 1, got $windows")
    // duplicate sizes would emit two identically-named active_<w> columns
    // and fail ambiguously at the join below (round-6 ADVICE; funnel's
    // distinct-steps check, same class)
    require(windows.distinct.length == windows.length,
      s"activeUsers: window sizes must be distinct, got $windows")
    val act = df.filter(col(userCol).isNotNull && col(tsCol).isNotNull)
      .select(col(userCol).as("__u"), to_date(col(tsCol)).as("__d"))
      .distinct()
    // scalar max day bounds the exploded windows (one tiny eager job)
    val maxDay = act.agg(max(col("__d"))).first().getDate(0)
    val dau = act.groupBy(col("__d").as("day")).agg(count(lit(1)).as("dau"))
    val rolled = windows.map { w =>
      act.select(col("__u"),
          explode(sequence(col("__d"), date_add(col("__d"), w - 1))).as("day"))
        .filter(col("day") <= lit(maxDay))
        .groupBy(col("day"))
        .agg(countDistinct(col("__u")).as(s"active_$w"))
    }
    rolled.foldLeft(dau)((acc, r) => acc.join(r, Seq("day"), "full_outer"))
      .na.fill(0L, "dau" +: windows.map(w => s"active_$w"))
  }

  /** Ordered funnel: how many users complete step 1, then step 2 STRICTLY
    * after their earliest step-1 time, and so on — the earliest-completion
    * semantics (a user converts if ANY ordered occurrence chain exists,
    * which greedy earliest-first detects). Output one row per step:
    * (step_index, step, n_users, conversion_from_first, conversion_from_prev).
    *
    * Scale shape: k−1 join+min-aggregate stages over the PER-STEP filtered
    * event stream (each stage's right side is the per-user earliest-time
    * frame — one row per surviving user, shrinking every step). The
    * returned frame unions the per-stage counts lazily; stage i's subtree
    * contains stages < i, so the full plan is O(k²) stages of |users| —
    * fine for the handful of steps funnels have (k is a driver literal).
    */
  def funnel(df: DataFrame, userCol: String, tsCol: String, stepCol: String,
             steps: Seq[String]): DataFrame = {
    require(steps.nonEmpty, "funnel: need at least one step")
    require(steps.distinct.length == steps.length, "funnel: steps must be distinct")
    val sp = df.sparkSession
    import sp.implicits._
    val stages = steps.zipWithIndex.scanLeft(Option.empty[DataFrame]) {
      case (prev, (step, i)) =>
        val hits = df.filter(col(stepCol) === step && col(userCol).isNotNull)
        val reached = prev match {
          case None => hits.groupBy(col(userCol).as("__u")).agg(min(col(tsCol)).as("__t"))
          case Some(p) =>
            hits.join(p.withColumnRenamed("__t", "__tprev"), col(userCol) === col("__u"))
              .filter(col(tsCol) > col("__tprev"))
              .groupBy(col("__u")).agg(min(col(tsCol)).as("__t"))
        }
        Some(reached)
    }.flatten
    val counts = stages.zip(steps.zipWithIndex).map { case (st, (name, i)) =>
      st.agg(count(lit(1)).as("n_users"))
        .select(lit(i + 1).as("step_index"), lit(name).as("step"), col("n_users"))
    }
    val unioned = counts.reduce(_ unionAll _)
    // the global windows below run over the k-row stage frame, not data
    unioned
      .withColumn("conversion_from_first",
        when(first(col("n_users")).over(Window.orderBy(col("step_index"))) > 0,
          col("n_users").cast("double") /
            first(col("n_users")).over(Window.orderBy(col("step_index"))).cast("double")))
      .withColumn("conversion_from_prev",
        when(lag(col("n_users"), 1).over(Window.orderBy(col("step_index"))) > 0,
          col("n_users").cast("double") /
            lag(col("n_users"), 1).over(Window.orderBy(col("step_index"))).cast("double")))
  }
}
