package graft.streaming

import java.{util => ju}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery
import graft.core.{OpCompiler, OpSpec, Params, PipelineConfig}

/** Config-driven streaming pipeline — the §3.3 lifecycle
  * (streaming_pipeline.yaml): stream source → record transforms/filters →
  * event-time windowed aggregation (watermark, checkpoint — the DECLARED
  * semantics, streaming_pipeline.yaml:100-105) → sink. Every section is
  * bound at [[fromYaml]]; docs/OPS.md lists its keys, e.g.
  * {{{
  * stream_source: { type: file, path: /in, format: json, schema: "ts TIMESTAMP, v DOUBLE" }
  * transforms: [ { type: filter, condition: "v > 0" } ]
  * window: { type: tumbling, size: "5 minutes", keys: [user], aggregations: { v: [sum] } }
  * sink: { type: memory, name: out, output_mode: update }
  * }}}
  */
object StreamPipeline {

  /** A stream config bound at parse: every section read and checked, each
    * piece a closure holding only its Spark work. */
  final case class Conf(name: String,
                        source: SparkSession => DataFrame,
                        transforms: Seq[(String, OpSpec)],
                        attritionWeight: Option[Option[String]],
                        window: Option[DataFrame => DataFrame],
                        sink: DataFrame => StreamingQuery,
                        monitoring: Option[StreamProfile.Monitoring])

  /** Parse and bind the whole config; an unknown key, a bad value or an op
    * under `transforms:` that cannot stream fails here, before any
    * SparkSession. */
  def fromYaml(yaml: String): Conf = {
    val root = new org.yaml.snakeyaml.Yaml()
      .load[ju.Map[String, AnyRef]](PipelineConfig.substituteEnv(yaml))
    Params.bind("", root) { a =>
      val name = a.str("name", "stream")
      a.require(a.has("stream_source"), "missing required key 'stream_source'")
      val src = source(a.sub("stream_source"))
      val trs = a.subs("transforms").map(transform)
      val attr = a.section("attrition")(attrition)
      val win = a.section("window")(window)
      val snk = sink(a.sub("sink"), name, win.fold("append")(_._1))
      val mon = a.section("monitoring")(monitoring)
      Conf(name, src, trs, attr, win.map(_._2), snk, mon)
    }
  }

  private[graft] def source(a: Params): SparkSession => DataFrame =
    a.select[Params => SparkSession => DataFrame]("type", "file")(
      "file" -> { a =>
        val (path, format, schema) = (a.req("path"), a.str("format", "json"), PipelineConfig.schema(a, "schema"))
        spark => StreamOps.files(spark, path, format, schema) },
      "kafka" -> { a =>
        val (servers, topics, schema) = (a.req("servers"), a.req("topics"), PipelineConfig.schema(a, "schema"))
        val offsets = a.str("starting_offsets", "latest")
        spark => StreamOps.kafka(spark, servers, topics, schema, offsets) })(a)

  /** One `transforms:` entry: an op bound by PipelineConfig.op as under
    * `operations:`, admitted only if PipelineConfig.streamable names it and
    * it sets none of the keys that op reads only on a batch input. Its
    * label is its `type`, plus `/operation` for an op family. */
  private def transform(a: Params): (String, OpSpec) = {
    val op = PipelineConfig.op(a)
    val label = a.selected.mkString("/")
    val batchOnly = PipelineConfig.streamable.get(label)
    a.require(batchOnly.isDefined,
      s"not a streamable op; stream transforms are ${PipelineConfig.streamable.keys.toSeq.sorted.mkString(", ")}")
    val ignored = op match {
      case b: OpSpec.BoundOp => batchOnly.get.filter(b.params.contains)
      case _                 => Nil
    }
    a.require(ignored.isEmpty, s"key '${ignored.headOption.orNull}' is read only on a batch input: a stream has " +
      s"no table catalog, fits no model and keeps no key order (batch-only: ${batchOnly.get.mkString(", ")})")
    (label, op)
  }

  /** The `attrition:` section: the weight column summed per stage. */
  private[graft] def attrition(a: Params): Option[String] = a.opt("weight_column")

  /** The `window:` section: (the sink's default output mode, windowed
    * aggregation). Session windows REJECT update mode (Spark:
    * session_window aggregation requires append/complete). */
  private[graft] def window(a: Params): (String, DataFrame => DataFrame) = {
    val (ts, wm) = (a.str("time_column", "ts"), a.str("watermark", "10 seconds"))
    val (keys, aggs) = (a.list("keys"), a.pairs("aggregations"))
    a.select[Params => (String, DataFrame => DataFrame)]("type", "tumbling")(
      "tumbling" -> { a =>
        val size = a.str("size", "5 minutes")
        ("update", df => StreamOps.tumbling(df, ts, size, wm, keys, aggs)) },
      "sliding" -> { a =>
        val (size, slide) = (a.str("size", "10 minutes"), a.str("slide", "5 minutes"))
        ("update", df => StreamOps.sliding(df, ts, size, slide, wm, keys, aggs)) },
      "session" -> { a =>
        val gap = a.str("gap", "30 minutes")
        ("append", df => StreamOps.session(df, ts, gap, wm, keys, aggs)) })(a)
  }

  /** The `sink:` section: how to start the query. */
  private[graft] def sink(a: Params, name: String, defaultMode: String): DataFrame => StreamingQuery = {
    val mode = a.str("output_mode", defaultMode)
    // journaled exactly-once KV sink (AtomicKeyValueSink): effects + batch
    // marker land in ONE atomic sink action, so appends survive micro-batch
    // replays. store=memory is the Redis-EVAL-parity in-JVM store (the only
    // loadable one offline); a Redis client plugs in as another factory arm.
    def kvStore(a: Params): () => graft.sources.AtomicKeyValueSink = {
      a.oneOf("store", "memory", "memory")
      val ns = a.str("namespace", name)
      () => new graft.sources.KeyValueSink.InMemoryKV(ns)
    }
    def kvWrite(a: Params) = (a.str("mode", "kv"), a.str("target", "graft"), a.long("ttl_seconds", -1L))
    a.select[Params => DataFrame => StreamingQuery]("type", "memory")(
      "memory" -> { a =>
        val q = a.opt("name").getOrElse(name)
        df => df.writeStream.format("memory").queryName(q).outputMode(mode).start() },
      "parquet" -> { a =>
        val (path, ckpt) = (a.req("path"), a.req("checkpoint"))
        df => df.writeStream.format("parquet").option("path", path)
          .option("checkpointLocation", ckpt).outputMode("append").start() },
      "kafka" -> { a =>
        val (servers, topic, ckpt) = (a.req("servers"), a.req("topic"), a.opt("checkpoint").orNull)
        // the declared output_mode applies to EVERY sink
        df => StreamOps.kafkaSink(df, servers, topic, ckpt).outputMode(mode).start() },
      "kv" -> { a =>
        val (factory, key, ckpt) = (kvStore(a), a.str("key_field", "doc_id"), a.opt("checkpoint").orNull)
        val (kvMode, target, ttl) = kvWrite(a)
        df => graft.sources.KeyValueSink.streamWriterAtomic(df, key, ckpt, factory,
          mode = kvMode, target = target, ttlSeconds = ttl).start() },
      "neardup_ingest_kv" -> { a => // GROWING near-dup gate fused to the
        // journaled KV sink: per micro-batch, screen against the
        // accumulated accepted-corpus sketch, near-dedup within the batch,
        // land the survivors in the KV store (its own journaled atomic
        // apply, under a DISTINCT journal key — the outer batch journal
        // must not see the inner commit and skip the sketch growth), then
        // persist the grown sketch as v=<batchId>. See
        // StreamOps.nearDedupIngestSink for the crash-ordering contract.
        val (modelDir, ckpt) = (a.req("model_dir"), a.req("checkpoint"))
        val (factory, key, text) = (kvStore(a), a.str("key_field", "doc_id"), a.str("text_field", "text"))
        val (shingle, hashes, bands) = (a.int("shingle_n", 3), a.int("num_hashes", 64), a.int("bands", 16))
        val (fpp, expected) = (a.double("fpp", 0.001), a.long("expected_keys", 10000000L))
        val (threshold, rowFppWarn) = (a.double("threshold", 0.8), a.double("row_fpp_warn", 0.5))
        val keep = a.int("keep_versions", 2)
        val (kvMode, target, ttl) = kvWrite(a)
        df => StreamOps.nearDedupIngestSink(df, text, key, modelDir,
            graft.text.Dedup.emptyNeardupBloom(shingle, hashes, bands, fpp, expected), ckpt,
            new graft.sources.BatchJournal.KvJournal(factory),
            threshold = threshold, rowFppWarn = rowFppWarn, keepVersions = keep) { (surv, id) =>
          graft.sources.KeyValueSink.writeBatchJournaled(surv, key, factory,
            s"__graft/journal/$ckpt/kv/$id", kvMode, target, ttl)
          ()
        }.start() })(a)
  }

  /** The `monitoring:` section (reference streaming_pipeline.yaml:83-97):
    * the thresholds every batch of the query is classified against, and
    * how many batches its profile retains. */
  private[graft] def monitoring(a: Params): StreamProfile.Monitoring = {
    val (maxBatchMs, minRps) = (a.long("max_batch_ms", 1000L), a.double("min_records_per_second", 10.0))
    val maxBatches = a.int("max_batches", StreamProfile.DefaultMaxBatches)
    a.require(maxBatches > 0, s"max_batches must be positive, got $maxBatches")
    StreamProfile.Monitoring(maxBatchMs, minRps, maxBatches)
  }

  /** Build the streaming DataFrame (source → transforms → window agg). */
  def build(spark: SparkSession, conf: Conf): DataFrame = built(spark, conf)._1

  /** [[build]], with named observe nodes between the transforms when the
    * YAML declares an `attrition:` block. */
  private def built(spark: SparkSession, conf: Conf): (DataFrame, Option[StreamProfile.Stages]) = {
    val base = conf.source(spark)
    val (transformed, stages) = conf.attritionWeight match {
      case Some(weight) =>
        val (out, s) = StreamProfile.observe(base, conf.transforms, weight)
        (out, Some(s))
      case None =>
        (OpCompiler.compile(conf.transforms.map(_._2))(base), None)
    }
    (conf.window.fold(transformed)(_(transformed)), stages)
  }

  /** Start the query against the configured sink, with its
    * [[StreamProfile]]: the `monitoring:` status and the `attrition:`
    * report, when declared, plus the per-batch rows and phase times. The
    * profile detaches itself when the query terminates. */
  def start(spark: SparkSession, conf: Conf): (StreamingQuery, StreamProfile) = {
    val (df, stages) = built(spark, conf)
    StreamProfile.start(spark, conf.monitoring, stages)(conf.sink(df))
  }

  /** [[start]] under its former name, which the frozen benchmark harness
    * (perfbench's StreamBench) calls. */
  @deprecated("use start", "0.1.0")
  def startWithAttrition(spark: SparkSession, conf: Conf): (StreamingQuery, StreamProfile) = start(spark, conf)
}
