package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

/** Structured Streaming layer — §2.L, replacing the reference's
  * single-process record-at-a-time engine (streaming/stream_processor.py:
  * 35-191, 345-493) with event-time Spark streams.
  *
  * Semantics note (SURVEY §7): the reference *implements* processing-time
  * windows with silent late-data loss but *declares* event-time + watermark +
  * exactly-once in its YAML (streaming_pipeline.yaml:100-105). Graft
  * implements the declared spec: event time from the record's timestamp,
  * `withWatermark` bounding state, checkpointed sinks.
  */
object StreamOps {

  // ---------------------------------------------------------------- sources

  /** Spark option map for the Kafka stream source — the reference consumer
    * config translated (kafka_source.py:26-61): `bootstrap_servers` list →
    * comma-joined `kafka.bootstrap.servers`, `topics` list → `subscribe`,
    * `auto_offset_reset` → `startingOffsets` (latest/earliest, or an
    * explicit `{"topic":{"0":offset}}` JSON spec), `group_id` →
    * `kafka.group.id`, `max_poll_records` → `maxOffsetsPerTrigger` (the
    * per-trigger record cap — Spark's analogue of the poll batch bound).
    * `enable_auto_commit` has no analogue by design: Spark tracks offsets
    * in the sink checkpoint (the exactly-once the reference YAML declares).
    * Pure — offline-gated in ConnectorConfSpec.
    */
  def kafkaSourceOptions(bootstrapServers: Seq[String], topics: Seq[String],
                         autoOffsetReset: String = "latest",
                         groupId: Option[String] = None,
                         maxPollRecords: Option[Long] = None): Map[String, String] = {
    require(bootstrapServers.nonEmpty && bootstrapServers.forall(_.nonEmpty),
      "kafkaSourceOptions: bootstrapServers must be non-empty")
    require(topics.nonEmpty && topics.forall(_.nonEmpty),
      "kafkaSourceOptions: topics must be non-empty")
    require(autoOffsetReset == "latest" || autoOffsetReset == "earliest" ||
      autoOffsetReset.trim.startsWith("{"),
      s"kafkaSourceOptions: autoOffsetReset must be latest|earliest|{json offsets}, got '$autoOffsetReset'")
    maxPollRecords.foreach(n => require(n > 0,
      s"kafkaSourceOptions: maxPollRecords must be positive, got $n"))
    Map(
      "kafka.bootstrap.servers" -> bootstrapServers.mkString(","),
      "subscribe" -> topics.mkString(","),
      "startingOffsets" -> autoOffsetReset) ++
      groupId.map("kafka.group.id" -> _) ++
      maxPollRecords.map(n => "maxOffsetsPerTrigger" -> n.toString)
  }

  /** The reference's message envelope (kafka_source.py:126-139
    * `_process_message`: topic/partition/offset/timestamp/key/value)
    * applied to Spark's native Kafka wire frame: key decoded to string,
    * the JSON value parsed against `valueSchema` and flattened. Pure
    * projection shared by [[kafka]] and the offline gate (a batch frame
    * with the Kafka wire schema exercises it without a broker).
    */
  def kafkaEnvelope(raw: DataFrame, valueSchema: StructType): DataFrame =
    raw
      .select(
        col("topic"), col("partition"), col("offset"),
        col("timestamp").as("kafka_timestamp"),
        col("key").cast("string").as("key"),
        from_json(col("value").cast("string"), valueSchema).as("v"))
      .select(col("topic"), col("partition"), col("offset"), col("kafka_timestamp"), col("key"), col("v.*"))

  /** Kafka stream source (streaming/kafka_source.py:23-213): the option
    * map above + the envelope projection over Spark's native Kafka source.
    */
  def kafka(spark: SparkSession, bootstrapServers: String, topics: String,
            valueSchema: StructType, startingOffsets: String = "latest"): DataFrame =
    kafkaEnvelope(
      spark.readStream.format("kafka")
        .options(kafkaSourceOptions(bootstrapServers.split(",").toSeq,
          topics.split(",").toSeq, startingOffsets))
        .load(),
      valueSchema)

  /** File stream source (drop-in for local tests and backfills). */
  def files(spark: SparkSession, path: String, format: String, schema: StructType): DataFrame =
    spark.readStream.schema(schema).format(format).load(path)

  // ---------------------------------------------------------------- windows

  /** Stream aggregate-function surface (StreamAggregator,
    * stream_processor.py:147-191): count/sum/avg/min/max plus unique_count
    * (exact per window is unbounded state → HLL approx) and percentile
    * (distributed sketch).
    */
  def streamAgg(fn: String, c: String): Column = fn match {
    // record count, not count(col): the reference's per-window aggregator
    // counts RECORDS (stream_processor.py:147-191) — count(col) would
    // silently skip rows where the field is null (partial JSON parses)
    case "count"        => count(lit(1))
    case "sum"          => sum(col(c))
    case "avg"          => avg(col(c))
    case "min"          => min(col(c))
    case "max"          => max(col(c))
    case "unique_count" => approx_count_distinct(col(c))
    // "percentile" (bare) = p95 for backward-compat; "pNN"/"median" make
    // the quantile explicit in the spec (and therefore the output name)
    case "percentile"   => percentile_approx(col(c), lit(0.95), lit(10000))
    case "median"       => percentile_approx(col(c), lit(0.5), lit(10000))
    case p if p.matches("p\\d{1,2}") =>
      percentile_approx(col(c), lit(p.drop(1).toInt / 100.0), lit(10000))
    case other          => throw new IllegalArgumentException(s"Unknown stream agg: $other")
  }

  /** Tumbling window aggregation (stream_processor.py:35-56, 84-121) with
    * event time + watermark (streaming_pipeline.yaml:100-105).
    */
  def tumbling(df: DataFrame, tsCol: String, size: String, watermarkDelay: String,
               keys: Seq[String], aggs: Seq[(String, String)]): DataFrame = {
    require(aggs.nonEmpty, "windowed aggregation needs at least one (column -> function) in `aggregations`")
    val exprs = aggs.map { case (c, f) => streamAgg(f, c).as(s"${c}_$f") }
    df.withWatermark(tsCol, watermarkDelay)
      .groupBy(window(col(tsCol), size) +: keys.map(col): _*)
      .agg(exprs.head, exprs.tail: _*)
      .select((Seq(col("window.start").as("window_start"), col("window.end").as("window_end")) ++
        keys.map(col) ++ aggs.map { case (c, f) => col(s"${c}_$f") }): _*)
  }

  /** Sliding window aggregation (stream_processor.py:58-82, 123-144). */
  def sliding(df: DataFrame, tsCol: String, size: String, slide: String, watermarkDelay: String,
              keys: Seq[String], aggs: Seq[(String, String)]): DataFrame = {
    require(aggs.nonEmpty, "windowed aggregation needs at least one (column -> function) in `aggregations`")
    val exprs = aggs.map { case (c, f) => streamAgg(f, c).as(s"${c}_$f") }
    df.withWatermark(tsCol, watermarkDelay)
      .groupBy(window(col(tsCol), size, slide) +: keys.map(col): _*)
      .agg(exprs.head, exprs.tail: _*)
      .select((Seq(col("window.start").as("window_start"), col("window.end").as("window_end")) ++
        keys.map(col) ++ aggs.map { case (c, f) => col(s"${c}_$f") }): _*)
  }

  /** Session windows — declared but never implemented by the reference
    * (stream_processor.py:33); graft implements the declared spec with
    * `session_window(ts, gap)`.
    */
  def session(df: DataFrame, tsCol: String, gap: String, watermarkDelay: String,
              keys: Seq[String], aggs: Seq[(String, String)]): DataFrame = {
    require(aggs.nonEmpty, "windowed aggregation needs at least one (column -> function) in `aggregations`")
    val exprs = aggs.map { case (c, f) => streamAgg(f, c).as(s"${c}_$f") }
    df.withWatermark(tsCol, watermarkDelay)
      .groupBy(session_window(col(tsCol), gap) +: keys.map(col): _*)
      .agg(exprs.head, exprs.tail: _*)
      .select((Seq(col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end")) ++
        keys.map(col) ++ aggs.map { case (c, f) => col(s"${c}_$f") }): _*)
  }

  /** Within-watermark stream deduplication (available-if-needed per SURVEY
    * §2.L): exact-once per key inside the watermark horizon.
    */
  def dedupWithinWatermark(df: DataFrame, tsCol: String, watermarkDelay: String,
                           keys: Seq[String]): DataFrame =
    df.withWatermark(tsCol, watermarkDelay).dropDuplicatesWithinWatermark(keys)

  /** Streaming exact TEXT dedup — the ingestion-time shape of `Dedup.exact`:
    * one survivor per sha2(normalized text) within the watermark horizon.
    * State per distinct doc is one 256-bit hash, evicted at the watermark,
    * so state stays bounded by the horizon's distinct-doc count (not the
    * stream's total history) — the property that makes continuous corpus
    * ingestion viable.
    */
  def dedupTextStream(df: DataFrame, textCol: String, tsCol: String,
                      watermarkDelay: String): DataFrame =
    // null text → per-row sentinel key, NOT a shared null key:
    // dropDuplicatesWithinWatermark treats null keys as equal, which would
    // collapse every failed-extraction row in the horizon to one survivor —
    // batch Dedup.exact semantics (nulls all pass through) must hold here
    // too. uuid() is unique per row, and " :" cannot collide with sha2 hex.
    df.withColumn("__text_h",
        coalesce(sha2(graft.text.TextLib.normalized(col(textCol)), 256),
          concat(lit(" :"), expr("uuid()"))))
      .withWatermark(tsCol, watermarkDelay)
      .dropDuplicatesWithinWatermark("__text_h")
      .drop("__text_h")

  /** Streaming per-group intake quota — the ingestion-time twin of
    * `Scale.quotaPerGroup`: across ALL micro-batches, at most `quota` rows
    * per group ever pass (a lifetime intake budget per domain/source — the
    * batch op's top-k-by-key semantics need the whole corpus; at ingest the
    * budget is first-come). This is the one operator here that needs CUSTOM
    * streaming state, so it uses `flatMapGroupsWithState` directly: state =
    * the kept-count per group, ONE long (8 bytes × #groups, no timeout — a
    * quota is a lifetime budget; restart with a fresh checkpoint to reset).
    *
    * Within one micro-batch the group's iterator order is engine order
    * (post-shuffle) — the quota COUNT is exact, membership among same-batch
    * ties is not a contract. Null groups bucket together, like the batch
    * op's groupBy.
    */
  def quotaPerGroupStream(df: DataFrame, groupCol: String, quota: Long): DataFrame = {
    require(quota > 0, s"quotaPerGroupStream: quota must be positive, got $quota")
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import org.apache.spark.sql.{Encoder, Encoders, Row}
    // the grouping key is computed IN SPARK (cast + hash), not via JVM
    // toString: binary/array group columns stringify by object identity
    // ([B@...), which would give every row its own group — quota never
    // enforced AND one state entry per input row forever. cast-to-string
    // alone can collide across types/values; pairing it with xxhash64
    // makes a collision require both representations to agree.
    val keyed = df.withColumn("__qk",
      when(col(groupCol).isNull, lit(" null"))
        .otherwise(concat(coalesce(col(groupCol).cast("string"), lit("?")),
          lit("#"), xxhash64(col(groupCol)).cast("string"))))
    implicit val rowEnc: Encoder[Row] = Encoders.row(keyed.schema)
    implicit val strEnc: Encoder[String] = Encoders.STRING
    implicit val longEnc: Encoder[Long] = Encoders.scalaLong
    val ki = keyed.schema.fieldIndex("__qk")
    keyed.groupByKey(_.getString(ki))
      .flatMapGroupsWithState[Long, Row](OutputMode.Append, GroupStateTimeout.NoTimeout) {
      (_: String, rows: Iterator[Row], state: GroupState[Long]) =>
        var kept = state.getOption.getOrElse(0L)
        val out = Seq.newBuilder[Row]
        while (rows.hasNext && kept < quota) { out += rows.next(); kept += 1 }
        state.update(kept)
        out.result().iterator
    }.drop("__qk")
  }

  /** Streaming blocklist exclusion: drop stream rows whose key appears in a
    * STATIC blocklist — the continuous-ingestion form of
    * `Scale.excludeKeysBloom`. The blocklist is sketched ONCE at stream
    * build time into a Bloom literal evaluated row-local per micro-batch;
    * only the tiny bloom-positive fraction pays the exact stream-static
    * left_anti re-check (no false drops). Stateless: no watermark, no
    * streaming state — the sketch and the static side are fixed for the
    * stream's lifetime; restart the stream to pick up a new blocklist.
    */
  def excludeKeysStream(df: DataFrame, keyCol: String,
                        blocklist: DataFrame, blockKeyCol: String,
                        fpp: Double = 0.01): DataFrame =
    // the batch implementation is stream-safe as-is: the bloom is built
    // from the STATIC blocklist at call time, the probe is a row-local
    // filter, and the suspect re-check is a stream-static left_anti join —
    // this method exists as the documented streaming entry point
    graft.ops.Scale.excludeKeysBloom(df, keyCol, blocklist, blockKeyCol, fpp)

  /** Per-micro-batch PSI drift monitor — the ingestion-time form of
    * Profiler.psiBins: the REFERENCE (training snapshot / last accepted
    * batch) is fitted ONCE at setup (exact percentile cuts + smoothed
    * per-bin fractions, bounded driver literals — Profiler.psiFit), then
    * every micro-batch is scored independently against that fit
    * (Profiler.psiApply: one tiny batch-local aggregate per trigger; the
    * reference is never re-scanned). `onResult` receives the per-bin PSI
    * frame and the batch id — route it to the quality monitor, a KV sink,
    * or an alert gate (sum(psi_term) > 0.25 = investigate).
    */
  def psiDriftMonitor(stream: DataFrame, ref: DataFrame, valueCol: String,
                      checkpoint: String, nBins: Int = 10, epsilon: Double = 1e-6,
                      intervalMs: Long = 1000L)(
      onResult: (DataFrame, Long) => Unit): DataStreamWriter[org.apache.spark.sql.Row] = {
    val fit = graft.quality.Profiler.psiFit(ref, valueCol, nBins, epsilon)
    foreachBatchSink(stream, checkpoint, intervalMs, "append") { (batch, id) =>
      onResult(graft.quality.Profiler.psiApply(batch, valueCol, fit), id)
    }
  }

  /** Stream-static enrichment: broadcast-join a bounded dimension frame
    * onto a stream (the lookup-table pattern — device registry, allowlist,
    * model metadata). The static side broadcasts once per micro-batch
    * planning; the stream side never shuffles. Left join by default so
    * unmatched events survive with null enrichment.
    */
  def enrichStream(stream: DataFrame, dim: DataFrame, keys: Seq[String],
                   joinType: String = "left"): DataFrame =
    stream.join(broadcast(dim), keys, joinType)

  /** Stream-stream equi-join with an event-time band — the watermarked
    * two-stream correlation (click↔impression, request↔response). The
    * band condition (|rightTs − leftTs| ≤ joinWindowSeconds) is what lets
    * Spark BOUND the join state: with both watermarks plus the time
    * constraint, rows age out of state once the other side's watermark
    * passes their band (unbounded state otherwise — Spark would buffer
    * both streams forever). left_outer/right_outer emit the null-padded
    * row only after the opposite watermark clears the band, exactly the
    * semantics a late-data-tolerant pipeline wants.
    *
    * Output carries left.* plus the right side's non-key columns;
    * `rightPrefix` renames them (""= keep names; collisions rejected).
    */
  def joinStreams(left: DataFrame, right: DataFrame, keys: Seq[String],
                  leftTs: String, rightTs: String, watermarkDelay: String,
                  joinWindowSeconds: Long, joinType: String = "inner",
                  rightPrefix: String = ""): DataFrame = {
    require(keys.nonEmpty, "joinStreams: need at least one equi-join key")
    require(joinWindowSeconds >= 0, "joinStreams: joinWindowSeconds must be >= 0")
    val rightPayload = right.columns.filterNot(keys.contains).toSeq
    val renamed = rightPayload.map(c => c -> s"$rightPrefix$c")
    val collisions = renamed.map(_._2).filter(left.columns.contains)
    require(collisions.isEmpty,
      s"joinStreams: right columns ${collisions.mkString(", ")} collide with the left side — set rightPrefix")
    val l = left.withWatermark(leftTs, watermarkDelay).alias("__l")
    val rRenamed = renamed.foldLeft(right)((d, p) => d.withColumnRenamed(p._1, p._2))
    val r = rRenamed.withWatermark(s"$rightPrefix$rightTs", watermarkDelay).alias("__r")
    val rTs = col(s"__r.$rightPrefix$rightTs")
    val lTs = col(s"__l.$leftTs")
    val keyCond = keys.map(k => col(s"__l.$k") === col(s"__r.$k")).reduce(_ && _)
    val band = rTs >= lTs - expr(s"INTERVAL $joinWindowSeconds SECONDS") &&
      rTs <= lTs + expr(s"INTERVAL $joinWindowSeconds SECONDS")
    val joined = l.join(r, keyCond && band, joinType)
    keys.foldLeft(joined)((d, k) => d.drop(col(s"__r.$k")))
  }

  // ---------------------------------------------------------------- sinks

  /** Checkpointed foreachBatch sink — the fan-out point for Redis/JDBC/Kafka
    * handlers (stream_processor.py:223-229; redis_sink.py semantics live in
    * the handler function). Exactly-once = checkpoint + idempotent handler
    * (e.g. Sinks.jdbcUpsert keyed on (window, key)).
    */
  def foreachBatchSink(df: DataFrame, checkpoint: String, intervalMs: Long = 1000L,
                       outputMode: String = "update")(
      handler: (DataFrame, Long) => Unit): DataStreamWriter[org.apache.spark.sql.Row] =
    df.writeStream
      // configurable: Spark rejects update mode for session-window
      // aggregations — those callers must pass "append"
      .outputMode(outputMode)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.ProcessingTime(intervalMs))
      .foreachBatch((batch: DataFrame, id: Long) => handler(batch, id))

  /** [[foreachBatchSink]] with exactly-once sink EFFECTS (VERDICT r8 #3):
    * the handler is gated by a [[graft.sources.BatchJournal]] keyed on the
    * checkpoint path, so a batch whose effects committed but whose
    * checkpoint commit was lost is skipped on replay instead of
    * re-applied. Pair with `BatchJournal.JdbcJournal` for JDBC handlers
    * (jdbcWrite append / jdbcUpsert) or `KvJournal` for KV handlers; the
    * journal lives in the SAME store the effects land in, so "journaled"
    * and "effects visible" can't diverge across systems.
    */
  def idempotentBatchSink(df: DataFrame, checkpoint: String,
                          journal: graft.sources.BatchJournal,
                          intervalMs: Long = 1000L, outputMode: String = "update")(
      handler: (DataFrame, Long) => Unit): DataStreamWriter[org.apache.spark.sql.Row] =
    foreachBatchSink(df, checkpoint, intervalMs, outputMode)(
      graft.sources.BatchJournal.idempotent(journal, checkpoint)(handler))

  /** GROWING near-dup ingest over a stream — the third leg of the
    * streaming dedup family (seen_corpus_apply = frozen exact,
    * neardup_bloom_apply = frozen near, this = near-dup against EVERYTHING
    * ACCEPTED SO FAR, within-stream duplicates included). Per micro-batch:
    * load the newest sketch version under `modelDir` (or `seed` before the
    * first), run
    * [[graft.text.Dedup.neardupIngestStep]] (probe → within-batch dedup →
    * key fold), hand the survivors to `downstream`, persist the grown
    * sketch as version=batchId, and journal the batch.
    *
    * Ordering IS the crash contract — downstream, THEN sketch save, THEN
    * journal mark:
    *  - crash before downstream: the on-disk sketch is the pre-batch one,
    *    so the replay recomputes the identical survivor set;
    *  - crash after downstream, before the save: replay recomputes the
    *    same survivors and re-fires downstream — absorbed by downstream's
    *    own idempotence (the journaled-sink discipline every shipped sink
    *    here already has);
    *  - crash after the save, before the mark: the replay probes the
    *    GROWN sketch, so previously-accepted rows flag and nothing is
    *    re-delivered; the one bounded divergence is a multi-hop
    *    within-batch cluster member that shared no band with any survivor
    *    — it can surface as a survivor on this replay only (the
    *    documented two-store window, cf. BatchJournal's wrapper note).
    *
    * State stays one few-MB sketch regardless of stream volume; versions
    * are whole `v=<batchId>` parquet dirs gated on _SUCCESS, so a torn
    * write is invisible to the loader and a replayed batch re-writing its
    * own version is idempotent. Every save stamps saturation gauges
    * (fill ratio, estimated key/row fpp — [[graft.text.Dedup.neardupBloomStats]])
    * into `metrics` and warns past `rowFppWarn` (VERDICT r12 #3), and
    * complete versions below the newest `keepVersions` are pruned
    * (ADVICE r12 — they are never read again and an unbounded dir grows
    * the per-batch listStatus scan forever).
    */
  def nearDedupIngestSink(stream: DataFrame, textCol: String, idCol: String,
                          modelDir: String, seed: graft.text.Dedup.NeardupBloom,
                          checkpoint: String, journal: graft.sources.BatchJournal,
                          threshold: Double = 0.8, intervalMs: Long = 1000L,
                          metrics: graft.core.Metrics.Collector = null,
                          rowFppWarn: Double = 0.5, keepVersions: Int = 2)(
      downstream: (DataFrame, Long) => Unit): DataStreamWriter[org.apache.spark.sql.Row] =
    idempotentBatchSink(stream, checkpoint, journal, intervalMs, "append") { (batch, id) =>
      val spark = batch.sparkSession
      val latest = graft.text.Dedup.loadLatestNeardupBloom(spark, modelDir)
      val model = latest.map(_._1).getOrElse(seed)
      val (survivors, grown) =
        graft.text.Dedup.neardupIngestStep(batch, textCol, idCol, model, threshold)
      try {
        downstream(survivors, id)
        // version = max(batchId, latest+1): a checkpoint reset restarts
        // batch ids at 0, and plain v=batchId would then write BELOW the
        // live version forever — every batch re-loading the stale sketch
        // and re-admitting near-dups of run-2 acceptances (round-12
        // review catch). Monotonic versions keep the newest write the
        // loaded one; a crash-window replay re-writes the same grown
        // content one version up, which the loader treats identically.
        val version = math.max(id, latest.map(_._2 + 1).getOrElse(id))
        graft.text.Dedup.saveNeardupBloomVersion(spark, grown, modelDir, version)
        // Saturation observability (VERDICT r12 #3): growth is monotone and
        // fpp degrades silently as the bloom fills — stamp occupancy +
        // estimated fpp on EVERY save, and warn loudly past the per-row
        // threshold (at rowFpp → 1 the gate rejects everything fresh; the
        // snapshot-join variant is the documented next tier).
        val stats = graft.text.Dedup.neardupBloomStats(grown)
        if (metrics ne null) {
          val tags = Map("model_dir" -> modelDir)
          metrics.recordGauge("neardup_sketch_fill_ratio", stats.fillRatio, tags)
          metrics.recordGauge("neardup_sketch_est_key_fpp", stats.keyFpp, tags)
          metrics.recordGauge("neardup_sketch_est_row_fpp", stats.rowFpp, tags)
        }
        if (stats.rowFpp > rowFppWarn) {
          if (metrics ne null)
            metrics.recordCounter("neardup_sketch_saturation_warnings", 1.0,
              Map("model_dir" -> modelDir))
          System.err.println(f"[graft] WARN neardup ingest sketch saturating: " +
            f"est row fpp ${stats.rowFpp}%.4f > $rowFppWarn%.2f " +
            f"(fill ${stats.fillRatio}%.4f, key fpp ${stats.keyFpp}%.2e) — " +
            "fresh rows will be spuriously rejected; re-commission with larger " +
            "expected_keys or move to the snapshot-join dedup tier")
        }
        // retention (ADVICE r12): drop complete versions below the newest
        // `keepVersions` — they are never read once a newer _SUCCESS-marked
        // one exists, and an unbounded dir also makes the per-batch
        // listStatus scan grow forever
        graft.text.Dedup.pruneNeardupBloomVersions(spark, modelDir, keepVersions)
      } finally survivors.unpersist()
    }

  /** Kafka producer sink (kafka_source.py:254-348 streaming parity). */
  def kafkaSink(df: DataFrame, bootstrapServers: String, topic: String,
                checkpoint: String,
                keyCol: String = null): DataStreamWriter[org.apache.spark.sql.Row] =
    // same offline-gated key/value projection as the batch producer sink
    // (ConnectorConfSpec) — whole row as JSON value, optional string key
    graft.sources.Sinks.kafkaPayload(df, keyCol)
      .writeStream.format("kafka")
      .option("kafka.bootstrap.servers", bootstrapServers)
      .option("topic", topic)
      .option("checkpointLocation", checkpoint)

  /** Synchronous drain for tests: memory sink + processAllAvailable. */
  def runToMemory(df: DataFrame, name: String, outputMode: String = "append"): StreamingQuery = {
    val q = df.writeStream.format("memory").queryName(name).outputMode(outputMode).start()
    q.processAllAvailable()
    q
  }
}
