package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Batch sources — §2.B. Globbing, multi-file union and lineage are native
  * Spark capabilities; the reference's hand-rolled file loops
  * (sources/csv_source.py:20-104, json_source.py:21-89) reduce to reader
  * options plus `input_file_name()`.
  */
object Readers {

  /** CSV with glob support and `_source_file` lineage column
    * (csv_source.py:56-62). Schema inference optional — pass an explicit
    * schema at scale to skip the extra inference scan.
    */
  def csv(
      spark: SparkSession,
      path: String, // file, directory, or glob
      header: Boolean = true,
      delimiter: String = ",",
      encoding: String = "UTF-8",
      schema: StructType = null,
      inferSchema: Boolean = true,
      lineageCol: String = "_source_file"
  ): DataFrame = {
    var r = spark.read
      .option("header", header.toString)
      .option("sep", delimiter)
      .option("encoding", encoding)
    r = if (schema != null) r.schema(schema) else r.option("inferSchema", inferSchema.toString)
    withLineage(r.csv(path), lineageCol)
  }

  /** JSON / JSONL. JSONL (one object per line) is Spark's native JSON mode;
    * `multiLine=true` covers whole-file JSON arrays (json_source.py:21-89).
    */
  def json(
      spark: SparkSession,
      path: String,
      linesFormat: Boolean = true,
      schema: StructType = null,
      flattenTopLevel: Boolean = false,
      lineageCol: String = "_source_file"
  ): DataFrame = {
    var r = spark.read
    if (schema != null) r = r.schema(schema)
    val df = if (linesFormat) r.json(path) else r.option("multiLine", "true").json(path)
    val flat = if (flattenTopLevel) flatten(df) else df
    withLineage(flat, lineageCol)
  }

  def parquet(spark: SparkSession, path: String): DataFrame = spark.read.parquet(path)

  def orc(spark: SparkSession, path: String, lineageCol: String = null): DataFrame =
    withLineage(spark.read.orc(path), lineageCol)

  /** Raw text lines (one row per line, column `value`) — corpus ingestion. */
  def text(spark: SparkSession, path: String, lineageCol: String = "_source_file"): DataFrame =
    withLineage(spark.read.text(path), lineageCol)

  /** Full object key under the configured prefix (s3_source.py:200-204
    * `_build_s3_key`): `prefix.rstrip('/')/source.lstrip('/')`; no prefix →
    * source unchanged. Pure — offline-gated in ConnectorConfSpec.
    */
  def s3Key(source: String, prefix: String = ""): String =
    if (prefix.nonEmpty) s"${prefix.reverse.dropWhile(_ == '/').reverse}/${source.dropWhile(_ == '/')}"
    else source

  /** `s3a://bucket/key` URI for a (bucket, prefix, source-or-glob) config —
    * the translation layer between the reference's S3Source config shape
    * and Spark's Hadoop-S3A path world (globs pass through; S3A expands
    * them server-side the way `_read_multiple_objects` fnmatches keys).
    */
  def s3aUri(bucket: String, source: String, prefix: String = ""): String = {
    require(bucket != null && bucket.nonEmpty, "s3aUri: bucket must be non-empty")
    s"s3a://$bucket/${s3Key(source, prefix).dropWhile(_ == '/')}"
  }

  /** Extension → format with the reference's exact mapping and default
    * (s3_source.py:206-216 `_infer_format`: csv/json/jsonl/ndjson/parquet,
    * anything else → csv). Works on globs — the extension comes from the
    * basename.
    */
  def inferFormat(source: String): String = {
    val base = source.substring(source.lastIndexOf('/') + 1)
    val dot = base.lastIndexOf('.')
    val ext = if (dot < 0) "" else base.substring(dot).toLowerCase
    Map(".csv" -> "csv", ".json" -> "json", ".jsonl" -> "jsonl",
      ".ndjson" -> "ndjson", ".parquet" -> "parquet").getOrElse(ext, "csv")
  }

  /** Object-store read (s3_source.py:50-121): same readers over `s3a://`
    * URIs — Hadoop S3A supplies listing/globbing; `_source_s3_key` parity
    * comes from the same lineage column.
    */
  def objectStore(spark: SparkSession, uri: String, format: String = "parquet",
                  lineageCol: String = "_source_s3_key"): DataFrame = {
    val df = format match {
      case "parquet"                   => spark.read.parquet(uri)
      case "csv"                       => spark.read.option("header", "true").option("inferSchema", "true").csv(uri)
      case "json" | "jsonl" | "ndjson" => spark.read.json(uri)
      case other                       => throw new IllegalArgumentException(s"Unknown format: $other")
    }
    withLineage(df, lineageCol)
  }

  /** JDBC read with pushdown (postgresql_storage.py:86-118's generated
    * projection/WHERE/LIMIT SQL is replaced by Spark's own jdbc pushdown —
    * pass `partitionColumn` bounds for parallel reads at scale).
    */
  def jdbc(
      spark: SparkSession,
      url: String,
      table: String,
      props: Map[String, String] = Map.empty,
      partitionColumn: String = null,
      lowerBound: Long = 0L,
      upperBound: Long = 0L,
      numPartitions: Int = 0
  ): DataFrame = {
    var r = spark.read.format("jdbc")
      .option("url", url)
      .option("dbtable", table)
      .option("pushDownPredicate", "true")
    props.foreach { case (k, v) => r = r.option(k, v) }
    if (partitionColumn != null) {
      r = r.option("partitionColumn", partitionColumn)
        .option("lowerBound", lowerBound.toString)
        .option("upperBound", upperBound.toString)
        .option("numPartitions", numPartitions.toString)
    }
    r.load()
  }

  /** Flatten one level of struct columns (json_source.py:56-62
    * `json_normalize` parity): struct fields become `parent_child` columns.
    */
  def flatten(df: DataFrame): DataFrame = {
    val cols = df.schema.fields.flatMap { f =>
      f.dataType match {
        case s: StructType => s.fieldNames.map(n => col(s"`${f.name}`.`$n`").as(s"${f.name}_$n")).toSeq
        case _             => Seq(col(s"`${f.name}`"))
      }
    }
    df.select(cols.toSeq: _*)
  }

  private def withLineage(df: DataFrame, lineageCol: String): DataFrame =
    if (lineageCol == null) df else df.withColumn(lineageCol, input_file_name())
}
