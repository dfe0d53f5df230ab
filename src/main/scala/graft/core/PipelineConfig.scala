package graft.core

import scala.jdk.CollectionConverters._
import java.{util => ju}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType
import graft.sources.{Readers, Sinks}

/** YAML pipeline config → typed model, mirroring the reference's config
  * surface (core/config.py:83-139, the shipped pipeline YAMLs): name, source,
  * operations[], validation, storage — with `${VAR:default}` environment
  * substitution (config.py:123-139).
  *
  * Parsed with SnakeYAML (ships with Spark) and bound through [[Params]]
  * into the OpSpec AST — every key checked, every op family bound — so the
  * whole pipeline compiles to ONE lazy Catalyst plan (§3.1 port note: "the
  * op compiler replaces the interpreter"). Covers the dispatched op surface
  * AND the op types and transform params the reference's shipped YAMLs
  * declare but its dispatcher never handles (SURVEY §2.A gap note).
  */
object PipelineConfig {

  /** A source bound at parse: `read` is its reader with the options it
    * takes already typed. */
  final case class SourceConf(typ: String, path: String, table: String, read: SparkSession => DataFrame)
  /** A sink bound at parse: `write` is its writer; the catalog and lineage
    * hooks run after it. */
  final case class StorageConf(typ: String, path: String, mode: String, partitionBy: Seq[String],
                               write: DataFrame => Unit, catalogDir: Option[String],
                               catalogTable: Option[String], catalogTags: Seq[String],
                               lineageDir: Option[String])
  final case class ExpectationConf(name: String, expression: String, minRatio: Double)
  /** `attrition:` block (round 11): per-stage rows/weight in-out
    * accounting via observe() — `weight_column` is summed wherever it
    * exists in the chain; `report_path` optionally persists the report as
    * parquet next to the run. */
  final case class AttritionConf(weightColumn: Option[String],
                                 reportPath: Option[String])

  final case class PipelineConf(
      name: String,
      sources: Seq[SourceConf],           // first = primary; others joinable by table name
      operations: Seq[OpSpec],
      expectations: Seq[ExpectationConf], // validation stage
      storage: Option[StorageConf],
      attrition: Option[AttritionConf] = None)

  /** `${VAR}` / `${VAR:default}` substitution (config.py:123-139). */
  def substituteEnv(raw: String, env: String => Option[String] = sys.env.get): String =
    "\\$\\{([A-Za-z_][A-Za-z0-9_]*)(?::([^}]*))?\\}".r.replaceAllIn(raw, m =>
      scala.util.matching.Regex.quoteReplacement(
        env(m.group(1)).orElse(Option(m.group(2))).getOrElse("")))

  def fromYaml(yaml: String): PipelineConf = {
    val root = new org.yaml.snakeyaml.Yaml()
      .load[ju.Map[String, AnyRef]](substituteEnv(yaml))
    Params.bind("", root)(parse)
  }

  /** The whole config: every section read through [[Params]], every op
    * bound, every unread key rejected — all before any SparkSession. */
  private def parse(root: Params): PipelineConf = {
    val name = root.str("name", "pipeline")
    val sources = root.section("source")(source).toSeq ++ root.subs("sources").map(source)
    val ops = root.subs("operations").map(op)
    val expectations = root.sub("validation").subs("expectations").map(expectation)
    PipelineConf(name, sources, ops, expectations, root.section("storage")(storage),
      root.section("attrition")(attrition))
  }

  /** A source: `path` is required (the table name for jdbc) and
    * `options:` holds only the keys its reader takes, typed; on jdbc, `url`
    * is required and every other option passes through to Spark. */
  private[graft] def source(a: Params): SourceConf = {
    val (path, table, o) = (a.req("path"), a.str("table", "main"), a.sub("options"))
    def reader(typ: String)(read: Params => SparkSession => DataFrame): (String, Params => SourceConf) =
      typ -> (o => SourceConf(typ, path, table, read(o)))
    a.select[Params => SourceConf]("type", "parquet")(
      reader("csv") { o =>
        val (header, delimiter, encoding) =
          (o.bool("header", true), o.str("delimiter", ","), o.str("encoding", "UTF-8"))
        Readers.csv(_, path, header, delimiter, encoding) },
      reader("json") { o =>
        val (lines, flatten) = (o.bool("lines_format", true), o.bool("flatten", false))
        Readers.json(_, path, linesFormat = lines, flattenTopLevel = flatten) },
      reader("parquet")(_ => Readers.parquet(_, path)),
      reader("orc")(_ => Readers.orc(_, path)),
      reader("text")(_ => Readers.text(_, path)),
      reader("s3") { o =>
        val format = o.oneOf("format", "parquet", "parquet", "csv", "json", "jsonl", "ndjson")
        Readers.objectStore(_, path, format) },
      reader("jdbc") { o =>
        val (url, props) = (o.req("url"), o.rest())
        Readers.jdbc(_, url, path, props) })(o)
  }

  /** The sink: `path` is required except for `noop`; `options:` holds the
    * catalog and lineage hooks and, on jdbc, the required `url` with every
    * other option passed through to Spark. */
  private[graft] def storage(a: Params): StorageConf = {
    val (mode, o) = (a.str("mode", "overwrite"), a.sub("options"))
    val (catalogDir, catalogTable) = (o.opt("catalog_dir"), o.opt("catalog_table"))
    val (catalogTags, lineageDir) = (o.list("catalog_tags").flatMap(_.split(",")), o.opt("lineage_dir"))
    def conf(typ: String, path: String, partitionBy: Seq[String] = Nil)(write: DataFrame => Unit) =
      StorageConf(typ, path, mode, partitionBy, write, catalogDir, catalogTable, catalogTags, lineageDir)
    a.select[Params => StorageConf]("type", "parquet")(
      "parquet" -> { a =>
        val (path, by) = (a.req("path"), a.list("partition_by"))
        conf("parquet", path, by) { df =>
          if (by.nonEmpty) Sinks.parquetPartitioned(df, path, by, mode) else df.write.mode(mode).parquet(path)
        } },
      "csv" -> { a => val path = a.req("path")
        conf("csv", path)(_.write.mode(mode).option("header", "true").csv(path)) },
      "orc" -> { a => val path = a.req("path"); conf("orc", path)(_.write.mode(mode).orc(path)) },
      "jdbc" -> { a =>
        val (path, url, props) = (a.req("path"), o.req("url"), o.rest())
        conf("jdbc", path)(Sinks.jdbcWrite(_, url, path, mode, props = props)) },
      "noop" -> { a =>
        conf("noop", a.opt("path").orNull)(_.write.format("noop").mode("overwrite").save()) })(a)
  }

  private[graft] def expectation(a: Params): ExpectationConf = {
    val e = a.req("expression")
    ExpectationConf(a.opt("name").getOrElse(e), e, a.double("min_ratio", 1.0))
  }

  private[graft] def attrition(a: Params): AttritionConf =
    AttritionConf(a.opt("weight_column"), a.opt("report_path"))

  /** One `operations:` entry, standalone (no section index in errors). */
  private[graft] def parseOp(m: Map[String, Any]): OpSpec = Params.bind("operation", m)(op)

  /** One op: `type` plus its keys, either flat or under `params:` (not
    * both — a flat key next to `params:` is rejected as unknown). */
  private[graft] def op(a: Params): OpSpec = {
    val p = if (a.has("params")) a.params else a
    a.select[Params => OpSpec]("type")(opTypes: _*)(p)
  }

  /** Every `type:` an op may have, with its binder. */
  private[graft] val opTypes: Seq[(String, Params => OpSpec)] = {
    import OpSpec._
    Seq(
      "filter" -> { p =>
        p.opt("condition") match {
          case Some(c) => FilterCondition(c)
          case None    => FilterColumn(p.req("column"), p.str("operator", "=="), p.any("value"))
        } },
      "select" -> { p => Select(p.list("columns"), p.list("exclude")) },
      "transform" -> transform,
      "aggregate" -> { p => Aggregate(p.list("group_by"), p.pairs("aggregations")) },
      "join" -> { p =>
        // `using` aliases `on`: bare `on:` is a YAML 1.1 BOOLEAN token, so
        // an unquoted `on: [k]` parses as key `true` (rejected as unknown)
        val (on, using) = (p.list("on"), p.list("using"))
        Join(p.req("right_table"), if (on.nonEmpty) on else using, p.opt("condition").orNull,
          p.str("join_type", "inner"), p.bool("broadcast", false)) },
      "sort" -> { p => Sort(p.list("columns"), p.bools("ascending")) },
      "limit" -> { p => Limit(p.int("n", 1000)) },
      "sample" -> { p => Sample(p.double("fraction", 0.1), p.long("seed", 42L)) },
      "deduplicate" -> { p => Deduplicate(p.list("subset"), p.list("order_by"), p.str("keep", "first")) },
      "clean" -> { p => Clean(p.list("operations")) },
      "pivot" -> { p =>
        // pivot_values: declared pivot domain — skips the distinct pre-scan
        // and bounds output width (the SURVEY §7 scale knob)
        val values = p.any("pivot_values") match {
          case null                => Nil
          case l: ju.List[_]       => l.asScala.toSeq
          case v                   => Seq(v)
        }
        Pivot(p.list("group_cols"), p.req("pivot_col"), p.req("value_col"), p.str("agg_func", "sum"), values) },
      "melt" -> { p =>
        Melt(p.list("id_vars"), p.list("value_vars"), p.str("var_name", "variable"), p.str("value_name", "value"))
      },
      "window" -> window,
      "custom_sql" -> { p => CustomSql(p.req("query"), p.str("temp_view_name", "temp_table")) },
      // the record steps of the reference's stream processor
      // (stream_processor.py:382-437), one op each in batch and stream
      "calculate_field" -> { p => Calculate(p.req("field"), p.req("expression")) },
      "rename_field" -> { p => Rename(Map(p.req("from") -> p.req("to"))) },
      "add_timestamp" -> { p => Calculate(p.str("field", "processing_ts"), "current_timestamp()") },
      "parse_json_field" -> { p => ParseJson(p.req("field"), schema(p, "schema")) },
      "flatten_nested" -> { _ => Flatten },
      "feature_engineering" -> { p => FeatureEngineering(p.values)(OpCompiler.featureEngineering(p)) },
      "time_series_processing" -> { p => TimeSeriesProcessing(p.values)(OpCompiler.timeSeries(p)) },
      "text_processing" -> { p => TextProcessing(p.values)(OpCompiler.textProcessing(p)) },
      "multimodal" -> { p => MultimodalOp(p.values)(OpCompiler.multimodal(p)) },
      "quality_monitor" -> { p => QualityMonitorOp(p.values)(OpCompiler.qualityMonitor(p)) },
      "scd2" -> { p => Scd2Op(p.values)(OpCompiler.scd2(p)) },
      "layout" -> { p => LayoutOp(p.values)(OpCompiler.layout(p)) },
      // the streaming_pipeline.yaml spelling: time_series_processing,
      // whose default operation is already resample
      "windowed_aggregation" -> { p => TimeSeriesProcessing(p.values)(OpCompiler.timeSeries(p)) },
      "validate" -> { p => Validate(p.values)(OpCompiler.validate(p)) },
      // in-run result cache (performance/cache.py:98-256; "persist" is the
      // Spark-native spelling of the same op)
      "cache" -> cache,
      "persist" -> cache)
  }

  /** The ops a stream transform may be, named `type` or `type/operation`:
    * per-row ops (quota_per_group keeps a count per group in stream state)
    * that need no table catalog and no pass over the whole input. Each
    * maps to the keys its arm reads only on a batch input, which
    * StreamPipeline rejects: quota_per_group's stream path keeps the first
    * `quota` rows per group (no key order), and semantic_gate on a stream
    * applies `model_path` (no catalog to fit on). */
  private[graft] val streamable: Map[String, Seq[String]] =
    (Seq("filter", "calculate_field", "rename_field", "add_timestamp", "parse_json_field", "flatten_nested") ++
      Seq("ppl_apply", "dsir_apply", "lang_id_apply", "seen_corpus_apply", "neardup_bloom_apply",
        "gopher_filter", "unimax_apply", "dedup_lines").map("text_processing/" + _))
      .map(_ -> Seq.empty[String]).toMap ++ Map(
      "text_processing/quota_per_group" -> Seq("id_column", "key_column", "pre_buckets"),
      "text_processing/semantic_gate" -> Seq("accepted_table", "id_column", "n_cells", "seed", "max_train_rows",
        "max_reps", "centroids_path", "save_model_path"))

  /** A DDL schema key (`"ts TIMESTAMP, v DOUBLE"`), checked at parse. */
  private[graft] def schema(a: Params, k: String): StructType = {
    val t = scala.util.Try(StructType.fromDDL(a.req(k)))
    a.require(t.isSuccess, s"key '$k': ${t.failed.map(_.getMessage).getOrElse("")}")
    t.getOrElse(null)
  }

  private def cache(p: Params): OpSpec = {
    val level = p.str("storage_level", "MEMORY_AND_DISK")
    OpCompiler.storageLevel(level)
    OpSpec.CacheOp(level)
  }

  /** transform supports the dispatched shape (`transformations` map) AND the
    * declared-but-never-dispatched param spellings from the shipped YAMLs
    * (column_mappings / type_conversions / calculated_columns / date_columns,
    * ecommerce_pipeline.yaml:19-27). Steps run in that order.
    */
  private def transform(a: Params): OpSpec = {
    import OpSpec._
    val mappings = a.mapping("column_mappings")
    val conversions = a.mapping("type_conversions")
    val dates = a.list("date_columns")
    val calculated = a.mapping("calculated_columns")
    val steps =
      a.entries("transformations", "column").map { case (column, t) =>
        t.select[(String, Params) => OpSpec]("type")(transformSteps: _*)(column, t.params)
      } ++
      (if (mappings.isEmpty) Nil else Seq(Rename(mappings.map { case (k, v) => k -> String.valueOf(v) }.toMap))) ++
      (if (conversions.isEmpty) Nil else Seq(Cast(conversions.map { case (k, v) => k -> String.valueOf(v) }.toMap))) ++
      dates.map(c => Cast(Map(c -> "timestamp"))) ++
      calculated.map { case (c, e) => Calculate(c, String.valueOf(e)) }
    if (steps.size == 1) steps.head else Sequence(steps)
  }

  /** The per-column steps of a `transformations:` block. */
  private[graft] val transformSteps: Seq[(String, (String, Params) => OpSpec)] = {
    import OpSpec._
    Seq(
      "rename" -> { (c, p) => Rename(Map(c -> p.req("new_name"))) },
      "cast" -> { (c, p) => Cast(Map(c -> p.req("dtype"))) },
      "fill_null" -> { (c, p) =>
        FillNull(c, p.str("method", "value"), p.any("value"), p.list("order_by"), p.list("partition_by")) },
      "calculate" -> { (c, p) => Calculate(c, p.req("expression")) },
      "extract_date_parts" -> { (c, p) =>
        ExtractDateParts(c, p.bool("year", true), p.bool("month", true), p.bool("day", true),
          p.bool("weekday", false)) },
      "regex_extract" -> { (c, p) => RegexExtract(c, p.req("pattern"), p.int("group_idx", 1)) },
      "string_operations" -> { (c, p) =>
        StringOperation(c, p.req("operation"), p.opt("old_value").orNull, p.opt("new_value").orNull) })
  }

  private def window(p: Params): OpSpec = {
    import OpSpec._
    val spec = p.sub("window_spec")
    def frame(k: String): Option[(Long, Long)] = {
      val f = spec.longs(k)
      spec.require(f.isEmpty || f.size == 2, s"$k takes [start, end]")
      if (f.size == 2) Some((f(0), f(1))) else None
    }
    val (partitionBy, orderBy) = (spec.list("partition_by"), spec.list("order_by").map(_ -> true))
    val (rows, range) = (frame("rows_between"), frame("range_between"))
    val fns = p.subs("functions").map { f =>
      WindowFuncSpec(f.oneOf("type", null, graft.functions.WindowLib.FunctionTypes: _*),
        f.opt("column").orNull, f.opt("alias").orNull, f.int("offset", 1), f.any("default"),
        f.int("n", 1), f.int("min_periods", 1))
    }
    WindowOp(partitionBy, orderBy, fns, rows, range)
  }
}
