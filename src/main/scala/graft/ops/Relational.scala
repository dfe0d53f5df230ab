package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Core relational operators — the graft equivalents of the reference's
  * operation dispatch (pandas_processor.py:19-248, spark_processor.py:45-270).
  *
  * Everything here is a lazy `DataFrame => DataFrame` transformation: Catalyst
  * sees the whole pipeline as one plan, so predicate pushdown / column pruning /
  * join selection happen across op boundaries — unlike the reference, which
  * materializes a full intermediate frame per op.
  */
object Relational {

  // ---------------------------------------------------------------- filter

  /** Expression filter (reference `filter` with `condition`,
    * spark_processor.py:84-89). The condition string is Catalyst-parsed, so it
    * pushes down to the scan when possible.
    */
  def filterCondition(df: DataFrame, condition: String): DataFrame =
    df.filter(expr(condition))

  /** Column/operator/value filter (pandas_processor.py:60-87). Operators:
    * == != > < >= <= in not_in contains starts_with ends_with not_null is_null.
    */
  def filterColumn(df: DataFrame, column: String, op: String, value: Any): DataFrame = {
    val c = col(column)
    def seqOf(v: Any): Seq[Any] = v match {
      case s: Seq[_]   => s
      case a: Array[_] => a.toSeq
      // YAML lists arrive as java.util.List — without this case the whole
      // list becomes ONE isin literal and Spark rejects it
      case l: java.util.List[_] => scala.jdk.CollectionConverters.ListHasAsScala(l).asScala.toSeq
      case other       => Seq(other)
    }
    val pred: Column = op match {
      case "==" | "eq"        => c === lit(value)
      case "!=" | "ne"        => c =!= lit(value)
      case ">" | "gt"         => c > lit(value)
      case "<" | "lt"         => c < lit(value)
      case ">=" | "ge"        => c >= lit(value)
      case "<=" | "le"        => c <= lit(value)
      case "in"               => c.isin(seqOf(value): _*)
      case "not_in"           => !c.isin(seqOf(value): _*)
      case "contains"         => c.contains(lit(value))
      case "starts_with"      => c.startsWith(value.toString)
      case "ends_with"        => c.endsWith(value.toString)
      case "not_null"         => c.isNotNull
      case "is_null"          => c.isNull
      case other              => throw new IllegalArgumentException(s"Unknown filter operator: $other")
    }
    df.filter(pred)
  }

  // ---------------------------------------------------------------- select

  /** Projection / column exclusion (spark_processor.py:91-100). */
  def select(df: DataFrame, columns: Seq[String] = Nil, exclude: Seq[String] = Nil): DataFrame =
    if (columns.nonEmpty) df.select(columns.map(col): _*)
    else if (exclude.nonEmpty) df.drop(exclude: _*)
    else df

  // ---------------------------------------------------------------- transform

  def rename(df: DataFrame, mapping: Map[String, String]): DataFrame =
    mapping.foldLeft(df) { case (d, (from, to)) => d.withColumnRenamed(from, to) }

  /** Lenient by default: `try_cast` coerces malformed values to null (the
    * reference's dirty-data behavior, pd.to_numeric(errors='coerce')) rather
    * than failing the job under Spark 4's ANSI mode. `lenient = false` gives
    * strict ANSI casts.
    */
  def cast(df: DataFrame, mapping: Map[String, String], lenient: Boolean = true): DataFrame =
    mapping.foldLeft(df) { case (d, (c, t)) =>
      val target = normalizeType(t)
      d.withColumn(c, if (lenient) expr(s"try_cast(`$c` AS $target)") else col(c).cast(target))
    }

  /** Accept the reference's pandas dtype spellings (finance_pipeline.yaml
    * `type_conversions`: float64/int32/datetime64[ns]) alongside Spark names. */
  private def normalizeType(t: String): String = t.toLowerCase match {
    case "float64" | "float" | "double"        => "double"
    case "float32"                             => "float"
    case "int64" | "bigint"                    => "bigint"
    case "int32" | "int" | "integer"           => "int"
    case s if s.startsWith("datetime64")       => "timestamp"
    case "bool" | "boolean"                    => "boolean"
    case "str" | "object" | "string"           => "string"
    case other                                 => other
  }

  /** Null-filling strategies (pandas_processor.py:113-125). `mean`/`median`
    * are computed as a 1-row aggregate broadcast back onto every row — no
    * driver round-trip, stays one lazy plan, scales to any table size.
    * `ffill`/`bfill` need an explicit ordering (pandas relies on implicit row
    * order; a distributed engine must be told).
    */
  def fillNull(
      df: DataFrame,
      column: String,
      method: String = "value",
      value: Any = null,
      orderBy: Seq[String] = Nil,
      partitionBy: Seq[String] = Nil
  ): DataFrame = method match {
    case "value" =>
      df.withColumn(column, coalesce(col(column), lit(value)))
    case "mean" | "median" =>
      val aggFn = if (method == "mean") avg(col(column)) else percentile_approx(col(column), lit(0.5), lit(10000))
      if (partitionBy.nonEmpty) {
        // per-group statistic — ignoring partitionBy here would silently
        // fill every group's nulls with the global value
        val w = Window.partitionBy(partitionBy.map(col): _*)
        df.withColumn(column, coalesce(col(column), aggFn.over(w)))
      } else {
        val stat = df.agg(aggFn.as("__graft_fill"))
        df.crossJoin(broadcast(stat))
          .withColumn(column, coalesce(col(column), col("__graft_fill")))
          .drop("__graft_fill")
      }
    case "ffill" =>
      val w = Window
        .partitionBy(partitionBy.map(col): _*)
        .orderBy(orderBy.map(col): _*)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      df.withColumn(column, last(col(column), ignoreNulls = true).over(w))
    case "bfill" =>
      val w = Window
        .partitionBy(partitionBy.map(col): _*)
        .orderBy(orderBy.map(col): _*)
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
      df.withColumn(column, first(col(column), ignoreNulls = true).over(w))
    case other => throw new IllegalArgumentException(s"Unknown fill_null method: $other")
  }

  /** Derived column from a SQL expression string (spark_processor.py:124-126).
    * This is also graft's safe replacement for the reference's `eval`-lambda
    * `custom` op (pandas_processor.py:235-248): expressions, not code.
    */
  def calculate(df: DataFrame, column: String, expression: String): DataFrame =
    df.withColumn(column, expr(expression))

  /** Parse a JSON string column in place (stream_processor.py parse_json_field). */
  def parseJson(df: DataFrame, column: String, schema: org.apache.spark.sql.types.StructType): DataFrame =
    df.withColumn(column, from_json(col(column), schema))

  /** Date-part extraction (spark_processor.py:127-136). */
  def extractDateParts(
      df: DataFrame,
      column: String,
      year_ : Boolean = true,
      month_ : Boolean = true,
      day_ : Boolean = true,
      weekday_ : Boolean = false
  ): DataFrame = {
    var d = df
    if (year_) d = d.withColumn(s"${column}_year", year(col(column)))
    if (month_) d = d.withColumn(s"${column}_month", month(col(column)))
    if (day_) d = d.withColumn(s"${column}_day", dayofmonth(col(column)))
    if (weekday_) d = d.withColumn(s"${column}_weekday", dayofweek(col(column)))
    d
  }

  def regexExtract(df: DataFrame, column: String, pattern: String, groupIdx: Int = 1, target: String = null): DataFrame =
    df.withColumn(Option(target).getOrElse(column), regexp_extract(col(column), pattern, groupIdx))

  /** lower / upper / trim / replace (spark_processor.py:141-152). */
  def stringOperation(df: DataFrame, column: String, operation: String,
                      oldValue: String = null, newValue: String = null): DataFrame = operation match {
    case "lower"   => df.withColumn(column, lower(col(column)))
    case "upper"   => df.withColumn(column, upper(col(column)))
    case "trim"    => df.withColumn(column, trim(col(column)))
    case "replace" => df.withColumn(column, regexp_replace(col(column), oldValue, newValue))
    case other     => throw new IllegalArgumentException(s"Unknown string operation: $other")
  }

  // ---------------------------------------------------------------- aggregate

  /** Resolve an aggregation-function name the way the reference resolves names
    * against pyspark.sql.functions (spark_processor.py:163-168), plus the
    * extra names graft exposes (countDistinct / approxCountDistinct / median /
    * percentile_NN for profiling parity).
    */
  def aggExpr(fn: String, column: String): Column = {
    val c = col(column)
    fn match {
      case "sum"                     => sum(c)
      case "avg" | "mean"            => avg(c)
      case "count"                   => count(c)
      case "min"                     => min(c)
      case "max"                     => max(c)
      case "std" | "stddev"          => stddev(c)
      case "var" | "variance"        => variance(c)
      case "first"                   => first(c)
      case "last"                    => last(c)
      case "skewness"                => skewness(c)
      case "kurtosis"                => kurtosis(c)
      case "median"                  => percentile(c, lit(0.5))
      case "count_distinct"          => countDistinct(c)
      case "approx_count_distinct"   => approx_count_distinct(c)
      case "sum_distinct"            => sum_distinct(c)
      case "collect_set"             => collect_set(c)
      case p if p.length > 1 && p.startsWith("p") && p.drop(1).forall(_.isDigit)
          && p.drop(1).toInt <= 100 => // p25, p50, p95 …; bare "p"/"p200" fall through
        percentile(c, lit(p.drop(1).toDouble / 100.0))
      case other => throw new IllegalArgumentException(s"Unknown aggregate function: $other")
    }
  }

  /** Grouped / global aggregation (spark_processor.py:156-183). Aliases follow
    * the reference's `{column}_{func}` convention. No group + no aggs →
    * `describe()` (pandas_processor.py:177).
    */
  def aggregate(
      df: DataFrame,
      groupBy: Seq[String] = Nil,
      aggregations: Seq[(String, String)] = Nil // (column, fn) pairs, ordered
  ): DataFrame = {
    val exprs = aggregations.map { case (c, fn) => aggExpr(fn, c).as(s"${c}_$fn") }
    if (groupBy.nonEmpty) {
      val g = df.groupBy(groupBy.map(col): _*)
      if (exprs.nonEmpty) g.agg(exprs.head, exprs.tail: _*) else g.count()
    } else if (exprs.nonEmpty) {
      df.agg(exprs.head, exprs.tail: _*)
    } else df.describe()
  }

  // ---------------------------------------------------------------- join

  /** Equi / theta join (spark_processor.py:185-194) with the full Spark join
    * type surface (§2.D: inner/left/right/outer/left_semi/left_anti/cross).
    * Catalyst + AQE pick broadcast vs shuffle; callers can wrap the right side
    * in `broadcast()` explicitly for known-small dimensions.
    */
  def join(
      left: DataFrame,
      right: DataFrame,
      on: Seq[String] = Nil,
      condition: String = null,
      joinType: String = "inner",
      broadcastRight: Boolean = false
  ): DataFrame = {
    val r = if (broadcastRight) broadcast(right) else right
    if (on.nonEmpty) left.join(r, on, joinType)
    else if (condition != null) left.join(r, expr(condition), joinType)
    else throw new IllegalArgumentException("join requires 'on' or 'condition'")
  }

  // ---------------------------------------------------------------- sort / limit

  /** Multi-column sort (spark_processor.py:196-211). */
  def sort(df: DataFrame, columns: Seq[String], ascending: Seq[Boolean] = Nil): DataFrame = {
    // pad (not zip-truncate) when ascending is shorter — a short list must
    // not silently drop sort columns
    val asc = ascending.padTo(columns.size, true)
    val ordering = columns.zip(asc).map { case (c, a) => if (a) col(c).asc else col(c).desc }
    df.orderBy(ordering: _*)
  }

  /** Sort + limit compiles to TakeOrderedAndProject — no global sort at scale. */
  def topK(df: DataFrame, columns: Seq[String], ascending: Seq[Boolean], k: Int): DataFrame =
    sort(df, columns, ascending).limit(k)

  /** Seeded stratified sampling: per-stratum fractions (profiling parity
    * with the reference's seeded `df.sample`, stratified as real pipelines
    * need it).
    */
  def stratifiedSample(df: DataFrame, column: String, fractions: Map[Any, Double],
                       seed: Long = 42L): DataFrame =
    df.stat.sampleBy(col(column), fractions, seed)

  // ---------------------------------------------------------------- dedup

  /** Duplicate removal (spark_processor.py:213-218). With `orderBy` given,
    * reproduces pandas `keep='first'|'last'` deterministically via row_number
    * (pandas_processor.py:195-198 relies on implicit row order; we require an
    * explicit one — SURVEY §7 risk list).
    */
  def deduplicate(
      df: DataFrame,
      subset: Seq[String] = Nil,
      orderBy: Seq[String] = Nil,
      keep: String = "first"
  ): DataFrame =
    if (subset.isEmpty) df.distinct()
    else if (orderBy.isEmpty) df.dropDuplicates(subset)
    else {
      val ord = orderBy.map(c => if (keep == "last") col(c).desc else col(c).asc)
      val w = Window.partitionBy(subset.map(col): _*).orderBy(ord: _*)
      df.withColumn("__graft_rn", row_number().over(w))
        .filter(col("__graft_rn") === 1)
        .drop("__graft_rn")
    }

  // ---------------------------------------------------------------- clean

  val DefaultNullLiterals: Seq[String] = Seq("", "null", "NULL", "None", "N/A", "n/a", "NA", "nan", "NaN")

  /** The reference's `clean` op family (pandas_processor.py:200-221). */
  def clean(
      df: DataFrame,
      operations: Seq[String],
      nullLiterals: Seq[String] = DefaultNullLiterals
  ): DataFrame =
    operations.foldLeft(df) { (d, op) =>
      op match {
        case "standardize_nulls" =>
          d.schema.fields.filter(_.dataType.typeName == "string").foldLeft(d) { (dd, f) =>
            dd.withColumn(f.name, when(trim(col(f.name)).isin(nullLiterals: _*), lit(null)).otherwise(col(f.name)))
          }
        case "trim_strings" =>
          d.schema.fields.filter(_.dataType.typeName == "string").foldLeft(d) { (dd, f) =>
            dd.withColumn(f.name, trim(col(f.name)))
          }
        case "remove_empty_rows" => d.na.drop("all")
        case "remove_empty_columns" =>
          // One bounded aggregate pass (|columns| values to the driver), then a plain projection.
          val counts = d.agg(count(lit(1)).as("__n"), d.columns.map(c => count(col(c)).as(c)).toSeq: _*)
            .collect()(0)
          val keep = d.columns.filter(c => counts.getAs[Long](c) > 0L)
          d.select(keep.map(col).toSeq: _*)
        case other => throw new IllegalArgumentException(s"Unknown clean operation: $other")
      }
    }

  // ---------------------------------------------------------------- pivot / melt

  /** Basic pivot op (spark_processor.py:220-223). `pivotValues`, when known,
    * avoids the extra distinct-scan job and bounds column explosion at scale.
    */
  def pivot(
      df: DataFrame,
      groupCols: Seq[String],
      pivotCol: String,
      valueCol: String,
      aggFunc: String = "sum",
      pivotValues: Seq[Any] = Nil
  ): DataFrame = {
    val g = df.groupBy(groupCols.map(col): _*)
    val p = if (pivotValues.nonEmpty) g.pivot(pivotCol, pivotValues) else g.pivot(pivotCol)
    p.agg(aggExpr(aggFunc, valueCol))
  }

  /** Wide→long unpivot (pandas_processor.py:228-233) via Spark's native
    * `unpivot` (no stack-string quoting pitfalls, codegen-friendly).
    */
  def melt(
      df: DataFrame,
      idVars: Seq[String],
      valueVars: Seq[String],
      varName: String = "variable",
      valueName: String = "value"
  ): DataFrame =
    df.unpivot(idVars.map(col).toArray, valueVars.map(col).toArray, varName, valueName)

  // ---------------------------------------------------------------- custom SQL

  /** Temp-view + SQL escape hatch (spark_processor.py:267-270) — the full
    * Catalyst parse/analyze/optimize path.
    */
  def customSql(df: DataFrame, query: String, tempViewName: String = "temp_table"): DataFrame = {
    df.createOrReplaceTempView(tempViewName)
    df.sparkSession.sql(query)
  }

  /** Union-all with lineage (csv_source.py:56-62 `_source_file` semantics):
    * union frames by name, tagging each with a source label.
    */
  def unionWithLineage(frames: Seq[(String, DataFrame)], lineageCol: String = "_source_file"): DataFrame =
    frames
      .map { case (tag, d) => d.withColumn(lineageCol, lit(tag)) }
      .reduce((a, b) => a.unionByName(b, allowMissingColumns = true))
}
