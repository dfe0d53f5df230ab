package graft.core

import org.apache.spark.sql.DataFrame
import graft.ops.Relational

/** Typed operation AST — graft's replacement for the reference's
  * `{type, params}` dict list (core/pipeline.py:226-232,
  * processors/spark_processor.py:45-82).
  *
  * The reference *interprets* the list eagerly, materializing a frame per op.
  * Graft *compiles* the list into one `DataFrame => DataFrame`, so Catalyst
  * optimizes across op boundaries and nothing executes until the sink action.
  */
sealed trait OpSpec

object OpSpec {
  final case class FilterCondition(condition: String)                               extends OpSpec
  final case class FilterColumn(column: String, op: String, value: Any)             extends OpSpec
  final case class Select(columns: Seq[String] = Nil, exclude: Seq[String] = Nil)   extends OpSpec
  final case class Rename(mapping: Map[String, String])                             extends OpSpec
  final case class Cast(mapping: Map[String, String])                               extends OpSpec
  final case class FillNull(column: String, method: String = "value", value: Any = null,
                            orderBy: Seq[String] = Nil, partitionBy: Seq[String] = Nil) extends OpSpec
  final case class Calculate(column: String, expression: String)                    extends OpSpec
  final case class ExtractDateParts(column: String, year: Boolean = true, month: Boolean = true,
                                    day: Boolean = true, weekday: Boolean = false)  extends OpSpec
  final case class RegexExtract(column: String, pattern: String, groupIdx: Int = 1) extends OpSpec
  final case class StringOperation(column: String, operation: String,
                                   oldValue: String = null, newValue: String = null) extends OpSpec
  final case class Aggregate(groupBy: Seq[String] = Nil, aggregations: Seq[(String, String)] = Nil) extends OpSpec
  final case class Join(rightTable: String, on: Seq[String] = Nil, condition: String = null,
                        joinType: String = "inner", broadcastRight: Boolean = false) extends OpSpec
  final case class Sort(columns: Seq[String], ascending: Seq[Boolean] = Nil)        extends OpSpec
  final case class Limit(n: Int)                                                    extends OpSpec
  final case class Sample(fraction: Double, seed: Long = 42L)                       extends OpSpec
  final case class Deduplicate(subset: Seq[String] = Nil, orderBy: Seq[String] = Nil,
                               keep: String = "first")                              extends OpSpec
  final case class Clean(operations: Seq[String],
                         nullLiterals: Seq[String] = Relational.DefaultNullLiterals) extends OpSpec
  final case class Pivot(groupCols: Seq[String], pivotCol: String, valueCol: String,
                         aggFunc: String = "sum", pivotValues: Seq[Any] = Nil)      extends OpSpec
  final case class Melt(idVars: Seq[String], valueVars: Seq[String],
                        varName: String = "variable", valueName: String = "value")  extends OpSpec
  final case class WindowOp(partitionBy: Seq[String], orderBy: Seq[(String, Boolean)],
                            functions: Seq[WindowFuncSpec],
                            rowsBetween: Option[(Long, Long)] = None,
                            rangeBetween: Option[(Long, Long)] = None)              extends OpSpec
  final case class CustomSql(query: String, tempViewName: String = "temp_table")    extends OpSpec
  /** Parse a JSON string column in place. */
  final case class ParseJson(column: String, schema: org.apache.spark.sql.types.StructType) extends OpSpec
  /** Lift nested struct fields to top-level columns (graft.sources.Readers.flatten). */
  case object Flatten                                                              extends OpSpec
  /** Ordered sub-list (one YAML transform block can expand to several ops). */
  final case class Sequence(ops: Seq[OpSpec])                                       extends OpSpec
  /** An op family bound at parse: its YAML params (kept for display) and
    * the closure its OpCompiler binder returned — the binder did every read
    * and check, the closure holds only the Spark work. The families are the
    * op types the reference's YAMLs declare but never dispatch
    * (feature_engineering, time_series_processing, validate — SURVEY §2.A
    * gap note) and graft's text_processing, multimodal, quality_monitor,
    * scd2 and layout; each binder's scaladoc says what it does and
    * docs/OPS.md lists its keys.
    */
  sealed trait BoundOp extends OpSpec { def params: Map[String, Any]; def bound: Bound }
  final case class FeatureEngineering(params: Map[String, Any])(val bound: Bound)   extends BoundOp
  final case class TimeSeriesProcessing(params: Map[String, Any])(val bound: Bound) extends BoundOp
  final case class TextProcessing(params: Map[String, Any])(val bound: Bound)       extends BoundOp
  final case class MultimodalOp(params: Map[String, Any])(val bound: Bound)         extends BoundOp
  final case class QualityMonitorOp(params: Map[String, Any])(val bound: Bound)     extends BoundOp
  final case class Scd2Op(params: Map[String, Any])(val bound: Bound)               extends BoundOp
  final case class LayoutOp(params: Map[String, Any])(val bound: Bound)             extends BoundOp
  final case class Validate(params: Map[String, Any])(val bound: Bound)             extends BoundOp
  /** In-run result cache (reference performance/cache.py:98-256; SURVEY §4
    * scopes CROSS-run caching out — `df.persist` is the Spark-native
    * in-run equivalent). `storageLevel` is any
    * `org.apache.spark.storage.StorageLevel.fromString` name
    * (MEMORY_ONLY, MEMORY_AND_DISK, DISK_ONLY, ..._SER, ..._2, NONE).
    * Pipeline.execute unpersists every cache-op frame when the run ends,
    * success or failure — the op marks a reuse point, it must not leak
    * executor storage past its run.
    */
  final case class CacheOp(storageLevel: String = "MEMORY_AND_DISK")                 extends OpSpec

  /** A bound op's Spark half: (frame, table catalog) => frame. */
  type Bound = (DataFrame, String => DataFrame) => DataFrame

  /** One window-function application inside a WindowOp
    * (spark_processor.py:244-263 function specs). */
  final case class WindowFuncSpec(funcType: String, column: String = null,
                                  alias: String = null, offset: Int = 1,
                                  default: Any = null, n: Int = 1,
                                  minPeriods: Int = 1)
}

/** Compile an op list into a single lazy transformation. `tables` resolves
  * join right-hand sides by name (the reference passes materialized frames;
  * graft passes a catalog function so joins stay lazy too).
  */
object OpCompiler {
  import OpSpec._

  def compile(ops: Seq[OpSpec], tables: String => DataFrame = null): DataFrame => DataFrame =
    compile(ops, tables, null)

  /** `caches` (when non-null) collects every frame a CacheOp persisted so
    * the caller — Pipeline.execute — can unpersist them when the run ends;
    * without it a cache op still works but its lifetime is the session's. */
  def compile(ops: Seq[OpSpec], tables: String => DataFrame,
              caches: scala.collection.mutable.Buffer[DataFrame]): DataFrame => DataFrame =
    df => ops.foldLeft(df)((d, op) => applyOp(d, op, tables, caches))

  /** One stage of an attrition report (round 11, VERDICT r10 #5): rows and
    * (when the declared weight column exists at that point of the chain)
    * weight entering and leaving stage `stage` (1-based; `op` is the
    * OpSpec's class name). */
  final case class StageAttrition(stage: Int, op: String,
                                  rowsIn: Long, rowsOut: Long,
                                  weightIn: Option[Long], weightOut: Option[Long]) {
    def rowsDropped: Long = rowsIn - rowsOut
  }

  /** Compile an op list WITH stage-attrition accounting: a named
    * `Dataset.observe` node (count + optional weight sum) is threaded
    * before the first op and after every op, so the per-stage in/out
    * counts ride the SAME action that executes the chain — zero extra
    * corpus passes, the `observe()` production shape. Returns the
    * instrumented output frame and the [[Attrition]] report, read from
    * the [[RunProfile]] of a run in which an action executed (a descendant
    * of) that frame; the report is |ops| rows (stage, op, rows_in,
    * rows_out, rows_dropped, weight_in, weight_out).
    *
    * `weightCol` (e.g. tokens/chars) is summed as a long wherever the
    * column exists in the schema at that stage boundary — stages that drop
    * or have not yet created it report a null weight, never an error.
    */
  def compileObserved(ops: Seq[OpSpec], tables: String => DataFrame,
                      caches: scala.collection.mutable.Buffer[DataFrame],
                      weightCol: Option[String])(
      df: DataFrame): (DataFrame, Attrition) = {
    val prefix = s"graft_attrition_${java.util.UUID.randomUUID().toString.take(8)}_"
    val (out, hasWeight) = observeChain(df, ops, prefix, weightCol)(applyOp(_, _, tables, caches))
    (out, new Attrition(prefix, ops.map(_.getClass.getSimpleName), hasWeight))
  }

  /** Thread named `observe` nodes `<prefix>0` .. `<prefix>n` through a
    * chain of `stages`: one before the first stage and one after each. A
    * node counts rows and, where `weightCol` exists at that boundary, sums
    * it as a long. Returns the chain's output and, per node, whether it
    * sums the weight. Batch ([[compileObserved]]) and stream
    * (graft.streaming.StreamAttrition) attrition both build on it. */
  private[graft] def observeChain[S](df: DataFrame, stages: Seq[S], prefix: String, weightCol: Option[String])(
      stage: (DataFrame, S) => DataFrame): (DataFrame, Seq[Boolean]) = {
    import org.apache.spark.sql.functions._
    val hasWeight = scala.collection.mutable.ArrayBuffer.empty[Boolean]
    def observe(d: DataFrame): DataFrame = {
      val name = s"$prefix${hasWeight.size}"
      val withW = weightCol.filter(d.columns.contains)
      hasWeight += withW.isDefined
      withW match {
        case Some(w) => d.observe(name, count(lit(1)).as("rows"), sum(col(w).cast("long")).as("weight"))
        case None    => d.observe(name, count(lit(1)).as("rows"))
      }
    }
    (stages.foldLeft(observe(df))((d, s) => observe(stage(d, s))), hasWeight.toSeq)
  }

  /** The stage report of [[compileObserved]]: a read of the run profile
    * that covered the instrumented chain's action. Per observe node it
    * takes the metrics of the LAST query that ran it
    * ([[RunProfile.Summary.observed]]): eager actions inside ops run the
    * upstream nodes too, and a query whose plan dropped a node (an empty
    * relation propagated at plan or run time, a zero limit) simply does
    * not report it. (Spark's `Observation` is not used: it completes on
    * the first query whose plan holds the node, with a schema-less empty
    * row when that query never ran it.)
    */
  final class Attrition private[core] (prefix: String, labels: Seq[String], hasWeight: Seq[Boolean])
    extends (RunProfile.Summary => Seq[StageAttrition]) {
    def apply(profile: RunProfile.Summary): Seq[StageAttrition] = {
      val observed = profile.observed
      val vals = hasWeight.indices.map { i =>
        val row = observed.getOrElse(s"$prefix$i", throw new IllegalStateException(
          "attrition report requested from a profile in which no action executed the instrumented chain"))
        val weight = if (!hasWeight(i) || row.isNullAt(1)) None else Some(row.getLong(1))
        (row.getLong(0), weight)
      }
      labels.indices.map { i =>
        StageAttrition(i + 1, labels(i), vals(i)._1, vals(i + 1)._1, vals(i)._2, vals(i + 1)._2)
      }
    }
  }

  def applyOp(df: DataFrame, op: OpSpec, tables: String => DataFrame = null,
              caches: scala.collection.mutable.Buffer[DataFrame] = null): DataFrame = {
    val catalog: String => DataFrame =
      if (tables != null) tables
      else name => throw new IllegalArgumentException(
        s"${op.getClass.getSimpleName} needs table '$name' but no table catalog was given")
    op match {
      case FilterCondition(c)            => Relational.filterCondition(df, c)
      case FilterColumn(c, o, v)         => Relational.filterColumn(df, c, o, v)
      case Select(cols, excl)            => Relational.select(df, cols, excl)
      case Rename(m)                     => Relational.rename(df, m)
      case Cast(m)                       => Relational.cast(df, m)
      case FillNull(c, m, v, ob, pb)     => Relational.fillNull(df, c, m, v, ob, pb)
      case Calculate(c, e)               => Relational.calculate(df, c, e)
      case ExtractDateParts(c, y, m, d, w) => Relational.extractDateParts(df, c, y, m, d, w)
      case RegexExtract(c, p, g)         => Relational.regexExtract(df, c, p, g)
      case StringOperation(c, o, ov, nv) => Relational.stringOperation(df, c, o, ov, nv)
      case Aggregate(g, a)               => Relational.aggregate(df, g, a)
      case Join(rt, on, cond, jt, bc)    => Relational.join(df, catalog(rt), on, cond, jt, bc)
      case Sort(c, a)                    => Relational.sort(df, c, a)
      case Limit(n)                      => df.limit(n)
      case Sample(f, seed)               => df.sample(withReplacement = false, f, seed)
      case Deduplicate(s, o, k)          => Relational.deduplicate(df, s, o, k)
      case Clean(ops2, nulls)            => Relational.clean(df, ops2, nulls)
      case Pivot(g, p, v, f, pv)         => Relational.pivot(df, g, p, v, f, pv)
      case Melt(id, vv, vn, valn)        => Relational.melt(df, id, vv, vn, valn)
      case w: WindowOp                   => graft.functions.WindowLib.applyWindowOp(df, w)
      case CustomSql(q, tv)              => Relational.customSql(df, q, tv)
      case ParseJson(c, s)               => Relational.parseJson(df, c, s)
      case Flatten                       => graft.sources.Readers.flatten(df)
      case CacheOp(level)                =>
        val cached = df.persist(storageLevel(level))
        if (caches != null) caches += cached
        cached
      case Sequence(ops2)                => ops2.foldLeft(df)((d, o) => applyOp(d, o, tables, caches))
      case b: BoundOp                    => b.bound(df, catalog)
    }
  }

  /** A `cache` op's storage level, checked when the op is parsed. */
  def storageLevel(level: String): org.apache.spark.storage.StorageLevel =
    try org.apache.spark.storage.StorageLevel.fromString(level.trim.toUpperCase) catch {
      case _: IllegalArgumentException =>
        throw new IllegalArgumentException(
          s"cache op: unknown storage_level '$level' (use MEMORY_ONLY, MEMORY_AND_DISK, DISK_ONLY, ..._SER, ..._2, NONE)")
    }

  // ------------------------------------------------------------- binders
  //
  // Each family below is a binder: it does every read and check through
  // its Params (no Spark) and returns the closure that does the Spark work.
  // PipelineConfig.parseOp runs it inside Pipeline.fromYaml; OpsDoc runs it
  // in recording mode to render docs/OPS.md.

  private type Arm = Params => Bound

  /** Keys several ops share, each with its one default. */
  private def textCol(a: Params): String = a.str("text_column", "text")
  private def idCol(a: Params): String = a.str("id_column", "doc_id")
  private def keyCol(a: Params, id: String): String = a.str("key_column", id)
  private def salt(a: Params): Int = a.int("salt", 42)
  private def vecCol(a: Params): String = a.str("vector_column", "embedding")
  private def vecId(a: Params): String = a.str("id_column", "vec_id")
  private def payloadCol(a: Params): String = a.str("payload_column", "payload")
  private def gramOrders(a: Params): Seq[Int] = a.ints("gram_orders", Seq(1, 2))

  /** feature_engineering op (iot_pipeline.yaml:22-44 shape): `operation`
    * selects the FeatureLib member.
    */
  def featureEngineering(a: Params): Bound = {
    import graft.functions.FeatureLib
    a.select[Arm]("operation", "ratio")(
      "ratio" -> { a =>
        val (name, num, den) = (a.req("name"), a.req("numerator"), a.req("denominator"))
        val divByZero = a.str("div_by_zero", "null")
        (df, _) => FeatureLib.ratioFeature(df, name, num, den, divByZero) },
      "interactions" -> { a =>
        val (cols, op, max) = (a.list("columns"), a.str("op", "multiply"), a.int("max_interactions", 20))
        (df, _) => FeatureLib.interactionFeatures(df, cols, op, max) },
      "polynomial" -> { a =>
        val (cols, degree, only) = (a.list("columns"), a.int("degree", 2), a.bool("interaction_only", false))
        (df, _) => FeatureLib.polynomialFeatures(df, cols, degree, only) },
      "binning" -> { a =>
        val c = a.req("column"); val bins = a.int("bins", 10)
        a.select[Arm]("method", "uniform")(
          "uniform"  -> { _ => (df, _) => FeatureLib.binUniform(df, c, bins) },
          "quantile" -> { _ => (df, _) => FeatureLib.binQuantile(df, c, bins) },
          "kmeans"   -> { _ => (df, _) => FeatureLib.binKmeans(df, c, bins) },
          "quantile_grouped" -> { a =>
            // per-group cuts (CCNet-style head/middle/tail when labels given)
            val (groups, out, labels) = (a.list("group_by"), a.opt("output_column").orNull, a.list("labels"))
            (df, _) => FeatureLib.binQuantileGrouped(df, c, bins, groups, outCol = out,
              labels = if (labels.isEmpty) null else labels) })(a) },
      "onehot" -> { a => val (c, values) = (a.req("column"), a.list("values"))
        (df, _) => FeatureLib.encodeOneHot(df, c, values) },
      "frequency" -> { a => val c = a.req("column"); (df, _) => FeatureLib.encodeFrequency(df, c) },
      "label" -> { a => val c = a.req("column"); (df, _) => FeatureLib.encodeLabel(df, c) },
      "target" -> { a =>
        val (c, t, smoothing) = (a.req("column"), a.req("target_column"), a.double("smoothing", 20.0))
        (df, _) => FeatureLib.encodeTarget(df, c, t, smoothing) },
      "scaling" -> { a =>
        val (cols, method, groups) = (a.list("columns"), a.str("method", "zscore"), a.list("group_by"))
        (df, _) => FeatureLib.scaleFeatures(df, cols, method, groups) },
      "winsorize" -> { a =>
        val (c, lo, hi) = (a.req("column"), a.double("lower", 0.05), a.double("upper", 0.95))
        val groups = a.list("group_by")
        (df, _) => FeatureLib.winsorize(df, c, lo, hi, groups) },
      "aggregation" -> { a => val (groups, aggs) = (a.list("group_by"), a.pairs("aggregations"))
        (df, _) => FeatureLib.aggregationFeatures(df, groups, aggs) },
      "text_stats" -> { a => val c = a.req("column"); (df, _) => FeatureLib.textBasicStats(df, c) },
      "top_keywords" -> { a =>
        val (c, id) = (a.str("column", "text"), a.str("id_column", "doc_id"))
        val (k, vocab) = (a.int("k", 5), a.int("vocab_size", 1000))
        (df, _) => FeatureLib.textTopKeywords(df, c, id, k, vocab) },
      "clustering" -> { a => // reference create_clustering_features: kmeans | dbscan
        val cols = a.list("columns")
        a.select[Arm]("algorithm", "kmeans")(
          "kmeans" -> { a => val n = a.int("n_clusters", 5)
            (df, _) => FeatureLib.clusteringFeatures(df, cols, n) },
          "dbscan" -> { a =>
            val (eps, minSamples, id) = (a.double("eps", 0.5), a.int("min_samples", 5), a.str("id_column", "id"))
            (df, _) => graft.functions.Dbscan.clusteringFeaturesDbscan(df, cols, eps, minSamples, id) })(a)
      })(a)
  }

  /** time_series_processing / windowed_aggregation ops
    * (finance_pipeline.yaml:26-35, streaming_pipeline.yaml:45-63 shapes).
    */
  def timeSeries(a: Params): Bound = {
    import graft.functions.TimeSeriesLib
    val ts = a.str("time_column", a.str("ts_col", "ts"))
    val keys = a.list("keys") ++ a.list("group_by")
    def orderCol(a: Params): String = a.str("order_by", ts)
    def column(a: Params): String = a.req("column")
    def requireKeys(op: String): Unit = a.require(keys.nonEmpty, s"$op requires keys/group_by (the entity key)")
    a.select[Arm]("operation", "resample")(
      "resample" -> { a =>
        val pairs = a.pairs("aggregations"); val value = a.str("value_column", "value")
        val aggs = if (pairs.nonEmpty) pairs else Seq(value -> "avg")
        val size = a.str("window_size", a.str("freq", "1 hour"))
        (df, _) => TimeSeriesLib.resample(df, ts, size, aggs, keys) },
      "resample_grid" -> { a =>
        val (freq, aggs, fill) = (a.str("freq", "1 hour"), a.pairs("aggregations"), a.str("fill", "none"))
        (df, _) => TimeSeriesLib.resampleWithGrid(df, ts, freq, aggs, keys, fill) },
      "rolling" -> { a =>
        val (c, w, stats, o) = (column(a), a.int("window", 5), a.list("stats"), orderCol(a))
        val minPeriods = a.int("min_periods", 1)
        (df, _) => TimeSeriesLib.rollingStats(df, c, w, stats, o, keys, minPeriods) },
      "lags" -> { a => val (c, lags, o) = (column(a), a.ints("lags"), orderCol(a))
        (df, _) => TimeSeriesLib.calculateLags(df, c, lags, o, keys) },
      "differences" -> { a => val (c, periods, o) = (column(a), a.ints("periods"), orderCol(a))
        (df, _) => TimeSeriesLib.calculateDifferences(df, c, periods, o, keys) },
      "fill_missing" -> { a =>
        val (c, method, o, value) = (column(a), a.str("method", "ffill"), orderCol(a), a.any("value"))
        (df, _) => TimeSeriesLib.fillMissing(df, c, method, o, keys, value) },
      "outliers" -> { a =>
        val (c, method, th) = (column(a), a.str("method", "zscore"), a.double("threshold", 3.0))
        val (o, w) = (orderCol(a), a.int("window", 20))
        (df, _) => TimeSeriesLib.flagOutliers(df, c, method, th, keys, o, w) },
      "time_features" -> { _ => (df, _) => TimeSeriesLib.timeFeatures(df, ts) },
      "trend" -> { a => val (c, o) = (column(a), orderCol(a))
        (df, _) => TimeSeriesLib.trendFeatures(df, c, o, keys) },
      "twap" -> { a =>
        requireKeys("twap")
        val (c, o) = (a.str("column", "value"), a.list("order_by"))
        (df, _) => TimeSeriesLib.timeWeightedAvg(df, c, ts, keys, o) },
      "volume_anomalies" -> { a => val (period, th) = (a.str("period", "day"), a.double("threshold", 3.5))
        (df, _) => TimeSeriesLib.volumeAnomalies(df, ts, period, keys, th) },
      "interarrival" -> { a =>
        requireKeys("interarrival")
        // scalable=true: segmented-pair gaps + mergeable approx median —
        // the bot-dominated-log variant (exact median needs every gap of a
        // key in one buffer; see interArrivalStats' scaladoc)
        val (scalable, o, accuracy) = (a.bool("scalable", false), a.list("order_by"), a.int("accuracy", 10000))
        (df, _) =>
          if (scalable) TimeSeriesLib.interArrivalStatsScalable(df, ts, keys, o, accuracy)
          else TimeSeriesLib.interArrivalStats(df, ts, keys, o) },
      "transitions" -> { a =>
        val (state, o) = (a.str("state_column", "event_type"), a.list("order_by"))
        a.require(o.nonEmpty && keys.nonEmpty,
          "transitions requires params.order_by (total per-entity order) and keys/group_by")
        (df, _) => TimeSeriesLib.transitionMatrix(df, state, o, keys) },
      "trending" -> { a =>
        val (item, k, period) = (a.req("item_column"), a.int("k", 10), a.str("period", "day"))
        (df, _) => TimeSeriesLib.trendingTopK(df, ts, item, k, period) },
      "active_users" -> { a => val (user, windows) = (a.req("user_column"), a.ints("windows", Seq(7, 28)))
        (df, _) => TimeSeriesLib.activeUsers(df, user, ts, windows) },
      "cohort_retention" -> { a => val (user, period) = (a.req("user_column"), a.str("period", "week"))
        (df, _) => TimeSeriesLib.cohortRetention(df, user, ts, period) },
      "funnel" -> { a =>
        val (user, step, steps) = (a.req("user_column"), a.str("step_column", "event_type"), a.list("steps"))
        a.require(steps.nonEmpty, "funnel requires params.steps (ordered step values)")
        (df, _) => TimeSeriesLib.funnel(df, user, ts, step, steps) },
      "smooth" -> { a =>
        val c = column(a)
        a.select[Arm]("method", "moving_average")(
          "moving_average" -> { a => val (w, o) = (a.int("window", 5), orderCol(a))
            (df, _) => TimeSeriesLib.smoothMovingAverage(df, c, w, o, keys) },
          "exponential" -> { a => val (alpha, o) = (a.double("alpha", 0.3), orderCol(a))
            (df, _) => TimeSeriesLib.smoothEwm(df, c, alpha, o, keys) },
          "savgol" -> { a => val (w, poly, o) = (a.int("window", 7), a.int("polyorder", 2), orderCol(a))
            (df, _) => TimeSeriesLib.smoothSavgol(df, c, w, poly, o, keys) })(a) },
      "changepoints" -> { a => val (c, w, o) = (column(a), a.int("window", 10), orderCol(a))
        (df, _) => TimeSeriesLib.detectChangepoints(df, c, w, o, keys) },
      "decompose" -> { a =>
        val (c, period, o, model) = (column(a), a.int("period", 24), orderCol(a), a.str("model", "additive"))
        (df, _) => TimeSeriesLib.seasonalDecompose(df, c, period, o, keys, model) },
      "sessionize" -> { a => val (gap, out) = (a.long("gap_seconds", 1800L), a.str("session_col", "session_id"))
        (df, _) => TimeSeriesLib.sessionize(df, ts, gap, keys, out) },
      "session_stats" -> { a => val (gap, aggs) = (a.long("gap_seconds", 1800L), a.pairs("aggregations"))
        (df, _) => TimeSeriesLib.sessionStats(df, ts, gap, keys, aggs) })(a)
  }

  /** The Gopher rules (Rae 2021 A1.1), shared by gopher_rules and
    * gopher_filter. With a language column the two anglocentric rules
    * dispatch per language (unknown lang → neutral) and
    * min_alpha_ratio/min_stopwords override the floors uniformly across
    * languages. The frame gains the per-rule
    * booleans, gopher_keep and gopher_fail_reasons ([[GopherAuditColumns]]).
    */
  private def gopher(a: Params): DataFrame => DataFrame = {
    import graft.text.TextLib
    val text = textCol(a)
    val lang = a.opt("lang_column")
    val (minWords, maxWords) = (a.int("min_words", 50), a.int("max_words", 100000))
    val minMeanWordLen = a.double("min_mean_word_len", 3.0)
    val maxMeanWordLen = a.double("max_mean_word_len", 10.0)
    val maxSymbolRatio = a.double("max_symbol_ratio", 0.1)
    val maxBulletRatio = a.double("max_bullet_ratio", 0.9)
    val maxEllipsisRatio = a.double("max_ellipsis_ratio", 0.3)
    val minAlphaRatio = a.double("min_alpha_ratio", 0.8)
    val minStopwords = a.int("min_stopwords", 2)
    df => lang match {
      case Some(l) => TextLib.gopherRulesByLang(df, text, l,
        TextLib.gopherLangParamsWithFloors(minAlphaRatio, minStopwords),
        minWords, maxWords, minMeanWordLen, maxMeanWordLen,
        maxSymbolRatio, maxBulletRatio, maxEllipsisRatio)
      case None => TextLib.gopherRules(df, text, minWords, maxWords,
        minMeanWordLen, maxMeanWordLen, maxSymbolRatio, maxBulletRatio,
        maxEllipsisRatio, minAlphaRatio, minStopwords)
    }
  }

  /** Columns [[gopher]] adds; gopher_filter keeps gopher_keep rows and drops them all. */
  private val GopherAuditColumns = Seq("gopher_word_count_ok", "gopher_mean_word_len_ok",
    "gopher_symbol_ratio_ok", "gopher_bullet_lines_ok", "gopher_ellipsis_lines_ok",
    "gopher_alpha_words_ok", "gopher_stopwords_ok", "gopher_keep", "gopher_fail_reasons")

  /** A flagging gate's output: as flagged, or with `drop` without the rows
    * whose `flag` is set, and without `flag` and the `audit` columns. */
  private def dropFlagged(flagged: DataFrame, drop: Boolean, flag: String, audit: String*): DataFrame =
    if (drop) flagged.filter(!org.apache.spark.sql.functions.col(flag)).drop(flag +: audit: _*) else flagged

  /** The C4 rules (Raffel 2020), shared by c4_rules and c4_filter. */
  private def c4(a: Params): DataFrame => DataFrame = {
    val text = textCol(a)
    val (perLine, sentences) = (a.int("min_words_per_line", 3), a.int("min_sentences", 5))
    val badwords = a.list("badwords")
    df => graft.text.TextLib.c4Rules(df, text, perLine, sentences, badwords)
  }

  /** Prototype centroids for proto_prune / d4_select: `centroids_path`
    * wins outright (YESTERDAY'S FIT — the fit-once/apply-everywhere
    * discipline of langid/ppl/dsir/pq, VERDICT r12 #5); else non-empty
    * `centroid_ids` (a YAML list or a comma string) pins the centroids to
    * data rows (matched as strings, ordered by id) — deterministic AND
    * replayable by a plain SQL oracle; else a hash-gated id-sorted
    * driver-Lloyd fit on the frame (the Prototypes.protoFit protocol). A
    * `save_centroids_path` persists whatever was fitted/pinned for
    * tomorrow (the pq_encode model_path/save_model_path pattern).
    */
  private def protoCentroids(a: Params, idCol: String, vecCol: String): DataFrame => Array[Array[Double]] = {
    import org.apache.spark.sql.functions.col
    val ids = a.list("centroid_ids").flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
    val (k, seed, maxTrainRows) = (a.int("k", 64), a.long("seed", 42L), a.int("max_train_rows", 100000))
    val (loadPath, savePath) = (a.opt("centroids_path"), a.opt("save_centroids_path"))
    df => loadPath.map(graft.vec.Prototypes.loadCentroids(df.sparkSession, _)).getOrElse {
      val cents =
        if (ids.nonEmpty) {
          val rows = df.filter(col(idCol).cast("string").isin(ids: _*))
            .orderBy(col(idCol)).select(col(vecCol)).collect()
          require(rows.length == ids.distinct.length,
            s"proto centroids: ${ids.distinct.length} ids given, ${rows.length} rows matched (${ids.mkString(",")})")
          rows.map(_.getSeq[Any](0).map {
            case f: java.lang.Float => f.toDouble
            case n: java.lang.Number => n.doubleValue()
          }.toArray)
        } else graft.vec.Prototypes.protoFit(df, idCol, vecCol, k, seed, maxTrainRows)
      savePath.foreach(graft.vec.Prototypes.saveCentroids(df.sparkSession, cents, _))
      cents
    }
  }

  /** MinHash-LSH knobs of near_dedup / near_dedup_against: (shingle_n,
    * num_hashes, bands, threshold). Without `bands` the band count derives
    * from the threshold via pickLshParams (the S-curve-optimal LSH shape). */
  private def minhash(a: Params): (Int, Int, Int, Double) = {
    val (shingle, hashes, threshold) = (a.int("shingle_n", 3), a.int("num_hashes", 64), a.double("threshold", 0.8))
    (shingle, hashes, graft.text.Dedup.bandsFor(hashes, threshold, a.optInt("bands")), threshold)
  }

  /** dup_spans / cut_dup_spans: (text, id, gram_tokens, min_count). */
  private def spans(a: Params) = (textCol(a), idCol(a), a.int("gram_tokens", 5), a.int("min_count", 2))

  /** The LM scorers' optional reference corpus: (table, text column, vocab size). */
  private def lmCorpus(a: Params, text: String) =
    (a.opt("corpus_table"), a.str("corpus_text_column", text), a.int("vocab_size", 50000))

  /** SemDeDup's knobs, shared by semantic_dedup and d4_select. */
  private def semDedup(a: Params, id: String, vec: String): DataFrame => DataFrame = {
    val (threshold, nClusters) = (a.double("threshold", 0.95), a.int("n_clusters", 64))
    val keep = a.str("keep", "far_from_centroid")
    df => graft.vec.SemDedup.semanticDedup(df, id, vec, threshold = threshold,
      nClusters = nClusters, keep = keep)
  }

  /** text_processing op: training-data ops dispatched by `operation`.
    * Column params default to the documents-table shape (text / doc_id).
    */
  def textProcessing(a: Params): Bound = {
    import org.apache.spark.sql.functions.col
    import graft.text.{Dedup, TextLib}
    import graft.ops.Scale
    a.select[Arm]("operation")(
      "exact_dedup" -> { a => val (text, id, qc) = (textCol(a), idCol(a), a.opt("quality_column"))
        (df, _) => qc.fold(Dedup.exact(df, text, id))(Dedup.exactKeepBest(df, text, id, _)) },
      "near_dedup" -> { a =>
        val (text, id, (shingle, hashes, bands, threshold)) = (textCol(a), idCol(a), minhash(a))
        val (maxBucket, qc) = (a.int("max_bucket_size", 1000), a.opt("quality_column"))
        (df, _) => qc match {
          case None => Dedup.nearDedup(df, text, id, shingle, hashes, bands, threshold, maxBucket)
          case Some(q) => // keep-best survivor election (round 11) — exact_dedup parity
            Dedup.nearDedupKeepBest(df, text, id, q, shingle, hashes, bands, threshold, maxBucket)
        } },
      "fuzzy_pairs" -> { a => // edit-distance self-join (replaces the frame with pairs)
        val (text, id) = (textCol(a), idCol(a))
        val (maxDist, q, maxGramDf) = (a.int("max_dist", 2), a.int("q", 2), a.long("max_gram_df", Long.MaxValue))
        (df, _) => graft.text.Fuzzy.fuzzyPairs(df, id, text, maxDist, q, maxGramDf) },
      "quality_features" -> { a => val text = textCol(a); (df, _) => TextLib.qualityFeatures(df, text) },
      "quality_score" -> { a => val text = textCol(a); (df, _) => TextLib.qualityScore(df, text) },
      // RPV2 residual signals: native unigram entropy, lorem-ipsum ratio,
      // curly-bracket ratio
      "rpv2_extras" -> { a => val text = textCol(a); (df, _) => TextLib.rpv2Extras(df, text) },
      // reweight-instead-of-drop exact dedup
      "soft_dedup" -> { a => val text = textCol(a); (df, _) => TextLib.softDedupWeights(df, text) },
      // ftfy-style one-layer encoding repair, in place
      "fix_mojibake" -> { a => val text = textCol(a)
        (df, _) => df.withColumn(text, TextLib.fixMojibake(col(text))) },
      "seen_corpus_apply" -> { a => // flag/drop against a FROZEN corpus bloom
        val (text, path, drop) = (textCol(a), a.req("bloom_path"), a.bool("drop", false))
        (df, _) => dropFlagged(Dedup.seenCorpusApply(df, text, Dedup.loadSeenBloom(df.sparkSession, path)),
          drop, "maybe_seen") },
      "neardup_bloom_apply" -> { a => // drop near-dups of a FROZEN LSH band-bucket bloom:
        // seen_corpus_apply's near-dup sibling (a ~bands·fpp share of fresh docs is the cost)
        val (text, path) = (textCol(a), a.req("model_path"))
        (df, _) => dropFlagged(Dedup.neardupBloomApply(df, text, Dedup.loadNeardupBloom(df.sparkSession, path)),
          drop = true, "maybe_neardup") },
      "repetition_signals" -> { a => // Gopher A1.1 repetition fractions
        val (text, id, topN, dupN) = (textCol(a), idCol(a), a.int("top_n", 2), a.int("dup_n", 5))
        (df, _) => TextLib.repetitionSignals(df, text, id, topN, dupN) },
      "deflate_ratio" -> { a => // compression-ratio quality signal
        val (text, out) = (textCol(a), a.str("output_column", "deflate_ratio"))
        (df, _) => df.withColumn(out, graft.expr.DeflateRatio(col(text))) },
      "lang_id" -> { a => val text = textCol(a); (df, _) => TextLib.langId(df, text) },
      "lang_id_apply" -> { a => // classify against a FROZEN char-n-gram model; keep_langs filters
        val (text, path, out) = (textCol(a), a.req("model_path"), a.str("output_column", "lang_pred"))
        val keep = a.opt("keep_langs").map(_.split(",").map(_.trim).toSeq)
        (df, _) => {
          val pred = TextLib.langIdApply(df, text, TextLib.loadLangIdModel(df.sparkSession, path), out)
          keep.fold(pred)(langs => pred.filter(col(out).isin(langs: _*)))
        } },
      "token_counts" -> { a => val (text, out) = (textCol(a), a.str("output_column", "n_tokens"))
        (df, _) => df.withColumn(out, TextLib.tokenCountWs(col(text))) },
      "chunk" -> { a => val (text, size, overlap) = (textCol(a), a.int("chunk_size", 512), a.int("overlap", 64))
        (df, _) => TextLib.chunkDocuments(df, text, size, overlap) },
      "fingerprint" -> { a =>
        val (text, out, n) = (textCol(a), a.str("output_column", "fingerprint"), a.int("shingle_n", 3))
        (df, _) => df.withColumn(out, TextLib.fingerprint(col(text), n)) },
      // Flesch reading-ease + word/sentence/syllable counts
      "readability" -> { a => val text = textCol(a); (df, _) => TextLib.readability(df, text) },
      "kwic" -> { a => // keyword-in-context occurrences with ±window tokens
        val (text, id, term, window) = (textCol(a), idCol(a), a.req("term"), a.int("window", 5))
        (df, _) => TextLib.keywordInContext(df, text, id, term, window) },
      "pseudonymize" -> { a => // salted sha2 tokenization of identifier columns
        val (cols, s) = (a.list("columns"), a.req("salt"))
        a.require(cols.nonEmpty, "pseudonymize requires params.columns and params.salt")
        (df, _) => graft.functions.CleanLib.pseudonymize(df, cols, s) },
      "consolidate_values" -> { a => // fold typo-splintered categoricals onto the frequent canonical
        val (c, maxDist, out) = (a.req("column"), a.int("max_dist", 2), a.opt("output_column").orNull)
        (df, _) => graft.text.Fuzzy.consolidateValues(df, c, maxDist, out) },
      "redact_pii" -> { a =>
        val text = textCol(a)
        val (email, phone, ip) = (a.str("email_token", "<EMAIL>"), a.str("phone_token", "<PHONE>"),
          a.str("ip_token", "<IP>"))
        (df, _) => df.withColumn(text, TextLib.redactPii(col(text), email, phone, ip)) },
      "repetition_ratio" -> { a =>
        val (text, out, n) = (textCol(a), a.str("output_column", "repetition_ratio"), a.int("shingle_n", 3))
        (df, _) => df.withColumn(out, TextLib.repetitionRatio(col(text), n)) },
      "normalize_unicode" -> { a => val (text, form) = (textCol(a), a.str("form", "NFC"))
        (df, _) => df.withColumn(text, TextLib.normalizeUnicode(col(text), form)) },
      "html_to_text" -> { a => // strip tags/scripts, decode entities, keep paragraphs
        val text = textCol(a); val out = a.str("output_column", text)
        (df, _) => df.withColumn(out, TextLib.htmlToText(col(text))) },
      "pack" -> { a =>
        val (text, id, budget) = (textCol(a), idCol(a), a.int("budget_tokens", 1024))
        val parts = a.str("partition_by", "lang").split(",").map(_.trim).toSeq
        val order = a.str("order_by", id).split(",").map(_.trim).toSeq
        (df, _) => TextLib.packDocuments(df, text, budget, parts, order) },
      "pack_concat" -> { a =>
        val text = textCol(a)
        val parts = a.str("partition_by", "lang").split(",").map(_.trim).toSeq
        val sep = a.str("separator", "\n\n")
        (df, _) => {
          require(df.columns.contains("pack_id") && df.columns.contains("pack_offset"),
            "pack_concat requires pack_id/pack_offset columns — run a `pack` op first")
          TextLib.materializePacks(df, text, parts, sep)
        } },
      "sample_hash" -> { a => val (key, fraction, s) = (keyCol(a, idCol(a)), a.reqDouble("fraction"), salt(a))
        (df, _) => Scale.sampleByHash(df, key, fraction, s) },
      "sample_weighted" -> { a =>
        val (w, key, k) = (a.req("weight_column"), keyCol(a, idCol(a)), a.reqInt("k"))
        val (groups, s) = (a.list("group_by"), salt(a))
        (df, _) => Scale.weightedSample(df, w, key, k, groups, s) },
      "sample_budget" -> { a =>
        val (w, group, key) = (a.str("weight_column", "n_tokens"), a.req("group_column"), keyCol(a, idCol(a)))
        val (budget, s) = (a.reqLong("budget"), salt(a))
        (df, _) => Scale.sampleToBudget(df, w, group, key, budget, s) },
      "decontaminate" -> { a =>
        val (text, id, eval) = (textCol(a), idCol(a), a.req("eval_table"))
        val (evalText, evalId) = (a.str("eval_text_column", text), a.str("eval_id_column", id))
        val (n, minOverlap) = (a.int("ngram_n", 8), a.int("min_overlap", 1))
        (df, tables) => graft.text.Contamination.decontaminate(df, text, id, tables(eval),
          evalText, evalId, n, minOverlap) },
      "semantic_contamination" -> { a =>
        val (id, vec, eval) = (idCol(a), vecCol(a), a.req("eval_table"))
        val (evalId, evalVec) = (a.str("eval_id_column", id), a.str("eval_vector_column", vec))
        val threshold = a.double("threshold", 0.95)
        (df, tables) => graft.text.Contamination.semanticContamination(df, id, vec, tables(eval),
          evalId, evalVec, threshold) },
      "bm25_search" -> { a =>
        val (text, id, queries) = (textCol(a), idCol(a), a.req("query_table"))
        val (qId, qText) = (a.str("query_id_column", "query_id"), a.str("query_text_column", "query_text"))
        val (k, k1, b) = (a.int("k", 10), a.double("k1", 1.2), a.double("b", 0.75))
        (df, tables) => graft.text.Search.bm25TopK(df, text, id, tables(queries), qId, qText, k, k1, b) },
      "quota_per_group" -> { a => // on a stream: a first-come lifetime budget per group
        val (group, key, quota) = (a.req("group_column"), keyCol(a, idCol(a)), a.reqInt("quota"))
        val preBuckets = a.int("pre_buckets", 64)
        (df, _) =>
          if (df.isStreaming) graft.streaming.StreamOps.quotaPerGroupStream(df, group, quota)
          else Scale.quotaPerGroup(df, group, key, quota, preBuckets = preBuckets) },
      "assign_split" -> { a =>
        val (labels, weights) = (a.list("labels"), a.doubles("weights"))
        a.require(labels.nonEmpty && labels.length == weights.length,
          "assign_split requires params.labels and params.weights of equal length")
        val (key, clusters) = (keyCol(a, idCol(a)), a.opt("clusters_table"))
        val (s, out) = (salt(a), a.str("output_column", "split"))
        (df, tables) => clusters match {
          case Some(ct) => // leakage-safe: gate on the duplicate-cluster key
            Scale.assignSplitLeakageSafe(df, key, tables(ct), labels.zip(weights), s, out)
          case None => Scale.assignSplit(df, key, labels.zip(weights), s, out)
        } },
      "repeat_epochs" -> { a =>
        val (group, key) = (a.req("group_column"), keyCol(a, idCol(a)))
        val epochs = a.mapping("epochs").map { case (g, v) =>
          g -> scala.util.Try(v.toString.toDouble).getOrElse(Double.NaN) }.toMap
        a.require(epochs.nonEmpty && !epochs.values.exists(_.isNaN),
          "repeat_epochs requires params.epochs (a {group: epoch-count} mapping)")
        val s = salt(a)
        (df, _) => Scale.repeatEpochs(df, group, key, epochs, s) },
      "sample_temperature" -> { a =>
        val (group, key) = (a.req("group_column"), keyCol(a, idCol(a)))
        val (alpha, total, s) = (a.double("alpha", 0.5), a.reqLong("total_rows"), salt(a))
        (df, _) => Scale.temperatureSample(df, group, key, alpha, total, s) },
      "dedup_lines" -> { a =>
        // within-document repeated-line removal (keep-first; short lines
        // exempt so blank-line paragraph breaks survive)
        val (text, minChars) = (textCol(a), a.int("min_chars", 1))
        (df, _) => TextLib.dedupLines(df, text, minChars) },
      // audit mode: rewritten text + c4_n_lines_kept/c4_n_sentences/c4_keep
      "c4_rules" -> { a => val rules = c4(a); (df, _) => rules(df) },
      "c4_filter" -> { a => // the gate applied: survivors only, audit columns dropped
        val rules = c4(a)
        (df, _) => rules(df).filter(col("c4_keep"))
          .drop("c4_n_lines_kept", "c4_n_sentences", "c4_keep") },
      // audit mode: per-rule booleans + gopher_keep + gopher_fail_reasons
      "gopher_rules" -> { a => val rules = gopher(a); (df, _) => rules(df) },
      "gopher_filter" -> { a => // the gate applied: survivors only, audit columns dropped
        val rules = gopher(a)
        (df, _) => rules(df).filter(col("gopher_keep")).drop(GopherAuditColumns: _*) },
      "unimax_sample" -> { a =>
        val (group, w, key) = (a.req("group_column"), a.req("weight_column"), keyCol(a, idCol(a)))
        val (budget, maxEpochs, s) = (a.reqLong("budget"), a.double("max_epochs", 4.0), salt(a))
        (df, _) => Scale.unimaxSample(df, group, w, key, budget, maxEpochs, s) },
      "unimax_apply" -> { a =>
        val path = a.req("allocation_path")
        val (group, key, s) = (a.str("group_column", "lang"), keyCol(a, idCol(a)), salt(a))
        (df, _) => Scale.unimaxApply(df, df.sparkSession.read.parquet(path), group, key, s) },
      "shard_assign" -> { a => val (key, shards, s) = (keyCol(a, idCol(a)), a.reqInt("num_shards"), salt(a))
        (df, _) => Scale.shardAssign(df, key, shards, s) },
      "length_histogram" -> { a => val c = a.str("length_column", "n_chars")
        (df, _) => TextLib.lengthHistogram(df, c) },
      "token_divergence" -> { a =>
        val (text, other) = (textCol(a), a.req("other_table"))
        val (otherText, smoothing) = (a.str("other_text_column", text), a.double("smoothing", 0.5))
        (df, tables) => TextLib.tokenDivergence(df, text, tables(other), otherText, smoothing) },
      "psi_drift" -> { a => // feature drift vs a reference snapshot
        val (ref, value) = (a.req("reference_table"), a.req("value_column"))
        a.select[Arm]("kind", "numeric")(
          "numeric" -> { a => val (bins, eps) = (a.int("bins", 10), a.double("epsilon", 1e-6))
            (df, tables) => graft.quality.Profiler.psiBins(tables(ref), df, value, bins, eps) },
          "categorical" -> { a => val (topK, eps) = (a.int("top_k", 20), a.double("epsilon", 1e-6))
            (df, tables) => graft.quality.Profiler.psiCategorical(tables(ref), df, value, topK, eps) })(a) },
      "bpe_merges" -> { a =>
        val (text, merges) = (textCol(a), a.int("num_merges", 1000))
        val (maxWords, minPair) = (a.int("max_words", 1000000), a.long("min_pair_count", 2L))
        (df, _) => graft.text.Bpe.mergesDF(df, text, merges, maxWords, minPair) },
      "lm_score" -> { a =>
        val (text, id) = (textCol(a), idCol(a)); val (corpus, corpusText, vocab) = lmCorpus(a, text)
        (df, tables) => TextLib.unigramScore(df, text, id, corpus = corpus.map(tables).orNull,
          corpusTextCol = corpusText, vocabSize = vocab) },
      "lm_bigram_score" -> { a =>
        val (text, id) = (textCol(a), idCol(a)); val (corpus, corpusText, vocab) = lmCorpus(a, text)
        val bigrams = a.int("bigram_size", 200000)
        (df, tables) => TextLib.bigramScore(df, text, id, corpus = corpus.map(tables).orNull,
          corpusTextCol = corpusText, vocabSize = vocab, bigramSize = bigrams) },
      "script_profile" -> { a => val text = textCol(a); (df, _) => TextLib.scriptProfile(df, text) },
      "quality_classifier" -> { a =>
        import graft.quality.QualityClassifier
        val feats = a.list("feature_columns")
        a.require(feats.nonEmpty,
          "quality_classifier requires params.feature_columns (numeric feature list)")
        val (labelCol, signal) = (a.opt("label_column"), a.opt("signal_column"))
        a.require(labelCol.isDefined || signal.isDefined,
          "quality_classifier requires params.label_column (0/1 labels) or " +
            "params.signal_column (pseudo-label from a ranking signal)")
        val (lo, hi) = (a.double("lo_quantile", 0.3), a.double("hi_quantile", 0.7))
        val (maxIter, reg) = (a.int("max_iter", 50), a.double("reg_param", 0.01))
        val out = a.str("output_column", "quality_prob")
        (df, _) => {
          val labeled = labelCol.fold(QualityClassifier.pseudoLabelByQuantile(df, signal.get, lo, hi))(_ => df)
          val m = QualityClassifier.train(labeled, labelCol.getOrElse("quality_label"), feats, maxIter, reg)
          QualityClassifier.score(labeled, m, out)
        } },
      "winnow" -> { a =>
        val (text, out) = (textCol(a), a.str("output_column", "fingerprints"))
        val (grams, window) = (a.int("gram_tokens", 5), a.int("window", 4))
        (df, _) => df.withColumn(out, TextLib.winnowFingerprint(col(text), grams, window)) },
      "url_canonicalize" -> { a => // canonical + host + registered-domain cols
        val (url, prefix) = (a.str("url_column", "url"), a.str("prefix", "url"))
        (df, _) => graft.text.UrlLib.withUrlColumns(df, url, prefix) },
      "url_dedup" -> { a => // keep-first per canonical URL
        val (id, url) = (idCol(a), a.str("url_column", "url"))
        (df, _) => graft.text.UrlLib.dedupByUrl(df, url, id) },
      "para_dedup" -> { a =>
        val (text, id, sep, minChars) = (textCol(a), idCol(a), a.str("separator", "\n\n"), a.int("min_chars", 1))
        (df, _) => Dedup.paragraphDedup(df, text, id, sep, minChars) },
      "dup_spans" -> { a => val (text, id, grams, n) = spans(a)
        (df, _) => Dedup.duplicateSpans(df, text, id, grams, n) },
      "cut_dup_spans" -> { a => val (text, id, grams, n) = spans(a) // ExactSubstr CUT: keep-first canonical span
        (df, _) => Dedup.cutDuplicateSpans(df, text, id, grams, n) },
      "cut_contaminated" -> { a => // surgical span decontamination vs an eval corpus
        val (text, id, eval) = (textCol(a), idCol(a), a.req("eval_table"))
        val (evalText, grams) = (a.str("eval_text_column", text), a.int("gram_tokens", 8))
        (df, tables) => graft.text.Contamination.cutContaminatedSpans(df, text, id, tables(eval), evalText, grams)
      },
      "dsir_weights" -> { a => // DSIR importance log-weights vs a target corpus (Xie 2023)
        val (text, id, target) = (textCol(a), idCol(a), a.req("target_table"))
        val (targetText, ns) = (a.str("target_text_column", text), gramOrders(a))
        val (buckets, alpha) = (a.int("hashed_buckets", 0), a.double("alpha", 1.0))
        (df, tables) => {
          val t = tables(target).withColumnRenamed(targetText, text)
          if (buckets > 0) graft.text.Dsir.logWeightsHashed(df, t, text, id, ns, alpha, buckets)
          else graft.text.Dsir.logWeights(df, t, text, id, ns, alpha)
        } },
      "dsir_select" -> { a => // the paper's resampling step: k docs ∝ exp(weight)
        val (text, id, target) = (textCol(a), idCol(a), a.req("target_table"))
        val (k, targetText, ns) = (a.reqInt("k"), a.str("target_text_column", text), gramOrders(a))
        val (alpha, buckets, s) = (a.double("alpha", 1.0), a.int("hashed_buckets", 0), salt(a))
        (df, tables) => graft.text.Dsir.select(df, tables(target).withColumnRenamed(targetText, text),
          text, id, k, ns, alpha, buckets, s) },
      "ppl_apply" -> { a => // bucket against a FROZEN CCNet model (pplFit + savePplModel);
        // max_bucket keeps the head..max_bucket buckets
        val (text, path, max) = (textCol(a), a.req("model_path"), a.optInt("max_bucket"))
        (df, _) => {
          val bucketed = TextLib.pplApply(df, text, TextLib.loadPplModel(df.sparkSession, path))
          max.fold(bucketed)(m => bucketed.filter(col("ppl_bucket").isNotNull && col("ppl_bucket") <= m))
        } },
      "dsir_apply" -> { a => // score against a FROZEN hashed DSIR model (pure map);
        // min_log_weight drops the docs scored below it
        val (text, path, ns) = (textCol(a), a.req("model_path"), gramOrders(a))
        val min = a.optDouble("min_log_weight")
        (df, _) => {
          val scored = graft.text.Dsir.applyHashed(df, text, graft.text.Dsir.loadModel(df.sparkSession, path), ns)
          min.fold(scored)(m => scored.filter(col("log_weight") >= m))
        } },
      "perplexity_buckets" -> { a => // CCNet head/middle/tail per group
        val (text, id, groups, n) = (textCol(a), idCol(a), a.list("group_columns"), a.int("n_buckets", 3))
        val (corpus, corpusText, vocab) = lmCorpus(a, text)
        (df, tables) => TextLib.perplexityBuckets(df, text, id, groups, n,
          corpus.map(tables).orNull, corpusText, vocab) },
      "snapshot_diff" -> { a =>
        // old_table: the previous snapshot; the primary frame is the new one
        val (text, id, old) = (textCol(a), idCol(a), a.req("old_table"))
        (df, tables) => Dedup.snapshotDiff(tables(old), df, id, text) },
      "dedup_against" -> { a =>
        val (text, corpus) = (textCol(a), a.req("corpus_table"))
        val (corpusText, fpp) = (a.str("corpus_text_column", text), a.double("fpp", 0.001))
        val expected = a.long("expected_batch_rows", -1L)
        (df, tables) => Dedup.dedupAgainstCorpus(df, text, tables(corpus), corpusText, fpp, expected) },
      "near_dedup_against" -> { a =>
        // incremental NEAR-dup: drop batch rows whose MinHash-estimated
        // Jaccard against any accepted-snapshot doc reaches the threshold
        // (dedup_against's exact-hash sibling; ref signatures scale with
        // the snapshot ONCE, the join with the batch). Column-name parity
        // with dedup_against: a snapshot whose text/id columns are named
        // differently maps them here (round-6 review)
        val (text, id, corpus) = (textCol(a), idCol(a), a.req("corpus_table"))
        val (corpusText, corpusId) = (a.str("corpus_text_column", text), a.str("corpus_id_column", id))
        val (shingle, hashes, bands, threshold) = minhash(a)
        (df, tables) => {
          val snapshot = tables(corpus).withColumnRenamed(corpusText, text).withColumnRenamed(corpusId, id)
          val dupIds = Dedup.minhashCandidatesAgainst(df, snapshot, text, id, shingle, hashes, bands, threshold)
            .select(col("new_id").as(id)).distinct()
          df.join(dupIds, Seq(id), "left_anti")
        } },
      "mmr_select" -> { a => // diversify a bounded retrieval candidate frame (per-query lists)
        val (qId, id) = (a.str("query_id_column", "query_id"), idCol(a))
        val (rel, vec) = (a.str("relevance_column", "relevance"), vecCol(a))
        val (k, lambda) = (a.int("k", 10), a.double("lambda", 0.5))
        (df, _) => graft.text.Search.mmrSelect(df, qId, id, rel, vec, k, lambda) },
      "rrf_fuse" -> { a =>
        // hybrid-retrieval fusion: the primary frame is the first ranked
        // list; params.lists names further lists in the table catalog
        val (lists, qId, id) = (a.list("lists"), a.str("query_id_column", "query_id"), idCol(a))
        val (rank, kRrf, k) = (a.str("rank_column", "rank"), a.int("k_rrf", 60), a.int("k", 10))
        (df, tables) => graft.text.Search.rrfFuse(df +: lists.map(tables), qId, id, rank, kRrf, k) },
      "quantize_int8" -> { a =>
        val (vec, out, scale) = (vecCol(a), a.str("output_column", "q"), a.str("scale_column", "q_scale"))
        (df, _) => graft.vec.VectorOps.quantizeInt8(df, vec, out, scale) },
      "l2_normalize" -> { a => val (vec, out) = (vecCol(a), a.str("output_column", "unit"))
        (df, _) => graft.vec.VectorOps.l2Normalize(df, vec, out) },
      "embed_meanpool" -> { a => // chunk→doc pooling: weighted positional
        // mean per group (+ optional renorm); REPLACES the frame with one
        // row per group
        val groups = a.list("group_by")
        a.require(groups.nonEmpty, "embed_meanpool requires params.group_by (key columns)")
        val (vec, out) = (vecCol(a), a.str("output_column", "pooled"))
        val (w, renorm) = (a.opt("weight_column"), a.bool("renorm", false))
        (df, _) => graft.vec.VectorOps.meanPool(df, groups, vec, out, w, renorm) },
      "mrl_truncate" -> { a => // Matryoshka prefix truncation + renorm
        val (vec, dims, out) = (vecCol(a), a.reqInt("dims"), a.str("output_column", "trunc"))
        (df, _) => graft.vec.VectorOps.truncateRenorm(df, vec, dims, out) },
      "semantic_dedup" -> { a => // SemDeDup: embedding-space dedup, one survivor/group
        val dedup = semDedup(a, vecId(a), vecCol(a))
        (df, _) => dedup(df) },
      "proto_prune" -> { a => // SSL prototypes (Sorscher et al. 2022): drop
        // the most-prototypical prune_fraction of every embedding cluster
        // (keep the hard tail). centroid_ids pins centroids to data rows
        // (the oracle-replayable path); otherwise a deterministic Lloyd
        // fit on the incoming frame (k/seed/max_train_rows).
        val (vec, id) = (vecCol(a), vecId(a))
        val (cents, prune) = (protoCentroids(a, id, vec), a.double("prune_fraction", 0.3))
        (df, _) => graft.vec.Prototypes.protoApply(df, id, vec, cents(df), prune) },
      "d4_select" -> { a => // D4 (Tirumala et al. 2023): SemDeDup, then
        // prototype-prune the survivors; centroids resolve AFTER the
        // semantic stage (the paper re-clusters deduped data — duplicate
        // mass must not drag centroids toward itself)
        val (vec, id) = (vecCol(a), vecId(a))
        val dedup = semDedup(a, id, vec)
        val (cents, prune) = (protoCentroids(a, id, vec), a.double("prune_fraction", 0.3))
        (df, _) => {
          val survivors = dedup(df)
          graft.vec.Prototypes.protoApply(survivors, id, vec, cents(survivors), prune)
        } },
      "semantic_gate" -> { a => // frozen semantic gate (round 13): adds
        // sem_cell/sem_max_cos/sem_dup (audit mode), or with `drop` removes
        // the sem_dup rows and those columns. model_path loads YESTERDAY'S
        // fit; without it the op fits on `accepted_table` (the frozen
        // accepted corpus — NEVER the incoming frame, whose every row would
        // gate itself out at cosine 1.0) and save_model_path keeps the result.
        import graft.vec.SemGate
        val (modelPath, accepted) = (a.opt("model_path"), a.opt("accepted_table"))
        a.require(modelPath.isDefined || accepted.isDefined,
          "semantic_gate requires params.model_path (a saved " +
            "SemGate.saveSemGate directory) or params.accepted_table " +
            "(catalog table with the frozen accepted corpus) to fit")
        val (id, vec) = (vecId(a), vecCol(a))
        val (nCells, seed) = (a.int("n_cells", 16), a.long("seed", 42L))
        val (maxTrainRows, maxReps) = (a.int("max_train_rows", 100000), a.int("max_reps", 1000000))
        val (centroids, savePath) = (a.opt("centroids_path"), a.opt("save_model_path"))
        val (threshold, drop) = (a.double("threshold", 0.95), a.bool("drop", false))
        (df, tables) => {
          val spark = df.sparkSession
          val model = modelPath.map(SemGate.loadSemGate(spark, _)).getOrElse {
            val m = SemGate.semGateFit(tables(accepted.get), id, vec, nCells = nCells, seed = seed,
              maxTrainRows = maxTrainRows, maxReps = maxReps,
              centroids = centroids.map(graft.vec.Prototypes.loadCentroids(spark, _)).orNull)
            savePath.foreach(SemGate.saveSemGate(spark, m, _))
            m
          }
          dropFlagged(SemGate.semGateApply(df, vec, model, threshold), drop, "sem_dup", "sem_cell", "sem_max_cos")
        } },
      "pq_encode" -> { a => // encode with a stored model, or train-on-the-frame
        // model_path: ENCODE WITH YESTERDAY'S CODEBOOK (appendable index);
        // without it the op trains on the incoming frame (deterministic)
        // and save_model_path optionally persists the result for tomorrow
        import graft.vec.Pq
        val (modelPath, vec, id) = (a.opt("model_path"), vecCol(a), vecId(a))
        val (m, nbits, seed) = (a.int("m", 8), a.int("nbits", 8), a.long("seed", 42L))
        val (savePath, out) = (a.opt("save_model_path"), a.str("output_column", "pq_code"))
        (df, _) => {
          val model = modelPath.map(Pq.loadModel(df.sparkSession, _)).getOrElse {
            val trained = Pq.train(df, vec, id, m = m, nbits = nbits, seed = seed)
            savePath.foreach(Pq.saveModel(df.sparkSession, trained, _))
            trained
          }
          Pq.encode(df, vec, model, out)
        } },
      "bloom_exclude" -> { a =>
        val (key, table) = (keyCol(a, idCol(a)), a.req("blocklist_table"))
        val (blockKey, fpp) = (a.req("blocklist_key"), a.double("fpp", 0.01))
        (df, tables) => Scale.excludeKeysBloom(df, key, tables(table), blockKey, fpp) })(a)
  }

  /** validate op (ecommerce_pipeline.yaml:28-39): rows satisfying each
    * expression must be ≥ its min_ratio, else the pipeline fails. This is
    * an action (one aggregate), by design — validation is a barrier in the
    * reference lifecycle too (pipeline.py:234-256). */
  def validate(a: Params): Bound = {
    val listed = a.subs("expectations").map(e => (e.req("expression"), e.double("min_ratio", 1.0)))
    val (flat, flatMin) = (a.opt("expression"), a.double("min_ratio", 1.0))
    a.require(listed.nonEmpty || flat.isDefined, "validate requires params.expression or params.expectations")
    val exps = if (listed.nonEmpty) listed else flat.map(_ -> flatMin).toSeq
    // No persist: caching here would pin a cache entry for the session's
    // lifetime (nothing downstream can know to unpersist it). The price is
    // one extra upstream computation when the pipeline later materializes
    // (Pipeline.execute, which owns its result's lifetime, persists it
    // before its own validation aggregate instead); callers who want reuse
    // should persist upstream explicitly.
    (df, _) => {
      passRatios(df, exps.map(_._1))._2.zip(exps).foreach { case (ratio, (e, minR)) =>
        require(ratio >= minR, f"validation failed: '$e' pass ratio $ratio%.4f < $minR")
      }
      df
    }
  }

  /** The row count and the share of rows satisfying each SQL expression,
    * in one aggregate pass (ratio 1.0 over an empty frame). */
  def passRatios(df: DataFrame, exprs: Seq[String]): (Long, Seq[Double]) = {
    import org.apache.spark.sql.functions.{avg, count, expr, lit, when}
    val ratios = exprs.zipWithIndex.map { case (e, i) => avg(when(expr(e), 1.0).otherwise(0.0)).as(s"r$i") }
    val row = df.agg(count(lit(1)).as("n"), ratios: _*).collect()(0)
    (row.getLong(0), exprs.indices.map(i => if (row.isNullAt(i + 1)) 1.0 else row.getDouble(i + 1)))
  }

  /** multimodal op (graft.multimodal.Multimodal): wrap binary payloads;
    * REAL ImageIO decode/resize/dHash, WAV decode/trim (AudioSystem) and GIF
    * frame sampling, each one codec column function per row; the
    * `sample_frames` and `decode_features_stub` stubs for video and
    * compressed audio. */
  def multimodal(a: Params): Bound = {
    import graft.multimodal.Multimodal
    a.select[Arm]("operation")(
      "as_media" -> { a =>
        val (id, payload, format) = (a.str("id_column", "doc_id"), payloadCol(a),
          a.str("format", "application/octet-stream"))
        val (w, h, ms) = (a.int("width", 0), a.int("height", 0), a.long("duration_ms", 0L))
        (df, _) => Multimodal.asMedia(df, id, payload, format, w, h, ms) },
      "decode_image_stats" -> { a =>
        val (payload, out) = (payloadCol(a), a.str("output_column", "image_stats"))
        (df, _) => Multimodal.decodeImageStats(df, payload, out) },
      "resize_images" -> { a => // target dims
        val (w, h) = (a.reqInt("width"), a.reqInt("height"))
        (df, _) => Multimodal.resizeImages(df, w, h) },
      "image_dhash" -> { a => // REAL decode → perceptual 64-bit difference hash
        val (payload, out) = (payloadCol(a), a.str("output_column", "dhash"))
        (df, _) => Multimodal.imageDHash(df, payload, out) },
      "image_neardup" -> { a => // Hamming-banded image near-dup pairs over a dhash column
        val (id, hash) = (a.str("id_column", "media_id"), a.str("hash_column", "dhash"))
        val (maxHamming, maxBucket) = (a.int("max_hamming", 3), a.int("max_bucket_size", 1000))
        (df, _) => Multimodal.imageNearDupPairs(df, id, hash, maxHamming, maxBucket) },
      "decode_audio_stats" -> { a =>
        val (payload, out) = (payloadCol(a), a.str("output_column", "audio_stats"))
        (df, _) => Multimodal.decodeAudioStats(df, payload, out) },
      "trim_audio" -> { a => val maxMs = a.long("max_ms", 60000L)
        (df, _) => Multimodal.trimAudio(df, maxMs) },
      "sample_gif_frames" -> { a => // REAL multi-frame decode (animated GIF)
        val every = a.int("every_n", 1)
        (df, _) => Multimodal.sampleGifFrames(df, every) },
      "sample_frames" -> { a => val every = a.long("every_ms", 1000L)
        (df, _) => Multimodal.sampleFrames(df, every) },
      "decode_features_stub" -> { a => // video/compressed audio: no codec here
        val (payload, dim, out) = (payloadCol(a), a.int("dim", 16), a.str("output_column", "features"))
        (df, _) => Multimodal.decodeToFeatures(df, payload, dim, out) })(a)
  }

  /** quality_monitor op: replaces the frame with its metrics relation
    * (`emit: metrics`, default) or the WARN/FAIL alerts (`emit: alerts`).
    * `as_of` (any to_timestamp-parsable string) pins timeliness for
    * reproducible runs; `at_epoch` pins the alert ids.
    */
  def qualityMonitor(a: Params): Bound = {
    import org.apache.spark.sql.functions.{current_timestamp, lit, to_timestamp}
    import graft.quality.QualityMonitor
    val (asOf, table) = (a.opt("as_of"), a.str("table_name", "input"))
    def metrics(df: DataFrame): DataFrame = QualityMonitor.runChecks(df, table,
      QualityMonitor.defaultChecks(df), asOf.map(v => to_timestamp(lit(v))).getOrElse(current_timestamp()))
    a.select[Arm]("emit", "metrics")(
      "metrics" -> { _ => (df, _) => metrics(df) },
      "alerts" -> { a => val epoch = a.long("at_epoch", 0L)
        (df, _) => QualityMonitor.alerts(metrics(df), epoch) })(a)
  }

  /** scd2 op (graft.ops.Scd): init, apply (change batch from the catalog)
    * or cdc_apply (Type-1 CDC merge: df = snapshot, changes from catalog). */
  def scd2(a: Params): Bound = {
    import graft.ops.Scd
    val (keys, tracked, ts) = (a.list("keys"), a.list("tracked"), a.str("ts_col", "ts"))
    a.select[Arm]("operation", "apply")(
      "init" -> { _ => (df, _) => Scd.scd2Init(df, keys, tracked, ts) },
      "apply" -> { a => val (updates, order) = (a.req("updates_table"), a.list("order_by"))
        (df, tables) => Scd.scd2Apply(df, tables(updates), keys, tracked, ts, order) },
      "cdc_apply" -> { a =>
        val (changes, opCol, seqCol) = (a.req("changes_table"), a.str("op_col", "op"), a.str("seq_col", "seq"))
        (df, tables) => Scd.applyCdc(df, tables(changes), keys, opCol, seqCol) })(a)
  }

  /** layout op (graft.sources.Layout): Morton key, or cluster by it. */
  def layout(a: Params): Bound = {
    import graft.sources.Layout
    val (cols, bits, key) = (a.list("columns"), a.int("bits", 8), a.str("key_col", "zkey"))
    a.select[Arm]("operation", "zorder_key")(
      "zorder_key" -> { _ => (df, _) => Layout.addZOrderKey(df, cols, bits, key) },
      "cluster" -> { a => val partitions = a.int("partitions", 0)
        (df, _) => Layout.clusterByZOrder(df, cols, bits, partitions, key) })(a)
  }
}
