package graft

import java.nio.file.Files
import graft.core.{Pipeline, PipelineConfig}

class PipelineSpec extends SparkSpec {
  import spark.implicits._

  private def writeCsv(dir: String): Unit = {
    Seq((1, "alice", "NY", 30, 100.0), (2, "bob", "SF", 25, 200.0),
      (3, "carol", "NY", 35, 150.0), (4, "dan", "LA", 25, 50.0))
      .toDF("id", "name", "city", "age", "spend")
      .coalesce(1).write.mode("overwrite").option("header", "true").csv(dir)
  }

  test("YAML pipeline end-to-end: csv -> ops -> validate -> parquet") {
    val in = Files.createTempDirectory("graft_in").toString
    val out = Files.createTempDirectory("graft_out").toString + "/result"
    writeCsv(in)
    val yaml =
      s"""name: e2e_test
         |source: { type: csv, path: "$in/*.csv", options: { header: true } }
         |operations:
         |  - { type: filter, condition: "age >= 25" }
         |  - type: transform
         |    params:
         |      transformations:
         |        name: { type: string_operations, params: { operation: upper } }
         |      calculated_columns: { spend2: "spend * 2" }
         |  - { type: aggregate, params: { group_by: [city], aggregations: { spend2: [sum, count] } } }
         |  - { type: sort, params: { columns: [city] } }
         |validation:
         |  expectations:
         |    - { name: nonneg, expression: "spend2_sum >= 0", min_ratio: 1.0 }
         |storage: { type: parquet, path: "$out", mode: overwrite }
         |""".stripMargin
    val conf = Pipeline.fromYaml(yaml)
    assert(conf.operations.size == 4)
    val res = Pipeline.execute(spark, conf)
    assert(res.status == "success", res.errors.mkString("; "))
    assert(res.rowsWritten == 3)
    assert(res.validation("nonneg") == 1.0)
    val back = spark.read.parquet(out).orderBy("city").collect()
    assert(back.map(_.getString(0)).toSeq == Seq("LA", "NY", "SF"))
    assert(back.map(_.getDouble(1)).toSeq == Seq(100.0, 500.0, 400.0))
  }

  test("YAML attrition block: per-stage rows/weight in-out via observe, zero extra passes (round 11)") {
    val in = Files.createTempDirectory("graft_attr_in").toString
    val out = Files.createTempDirectory("graft_attr_out").toString + "/result"
    val reportPath = Files.createTempDirectory("graft_attr_rep").toString + "/report"
    writeCsv(in) // ids 1-4, ages 30/25/35/25, spends 100/200/150/50
    val yaml =
      s"""name: attr_test
         |source: { type: csv, path: "$in/*.csv", options: { header: true } }
         |operations:
         |  - { type: filter, condition: "age >= 25" }
         |  - { type: filter, condition: "spend >= 100" }
         |  - type: transform
         |    params: { calculated_columns: { spend: "spend - 50" } }
         |  - { type: filter, condition: "city = 'NY'" }
         |attrition: { weight_column: spend, report_path: "$reportPath" }
         |storage: { type: parquet, path: "$out", mode: overwrite }
         |""".stripMargin
    val res = Pipeline.execute(spark, Pipeline.fromYaml(yaml))
    assert(res.status == "success", res.errors.mkString("; "))
    // chain: 4 rows (Σspend 500) → age gate keeps all 4 → spend gate drops
    // dan (3 rows, Σ450) → calculate shifts spend −50/row (Σ300) → NY gate
    // keeps alice+carol (Σ150)
    val got = res.attrition.map(a =>
      (a.stage, a.op, a.rowsIn, a.rowsOut, a.weightIn, a.weightOut))
    assert(got == Seq(
      (1, "FilterCondition", 4L, 4L, Some(500L), Some(500L)),
      (2, "FilterCondition", 4L, 3L, Some(500L), Some(450L)),
      (3, "Calculate",       3L, 3L, Some(450L), Some(300L)),
      (4, "FilterCondition", 3L, 2L, Some(300L), Some(150L))), s"attrition report wrong: $got")
    assert(res.attrition.map(_.rowsDropped) == Seq(0L, 1L, 0L, 1L))
    // the report also persists as parquet for dashboards
    val rep = spark.read.parquet(reportPath).orderBy("stage")
      .select("stage", "rows_in", "rows_out", "weight_out").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rep.toSeq == Seq((1, 4L, 4L, 500L), (2, 4L, 3L, 450L),
      (3, 3L, 3L, 300L), (4, 3L, 2L, 150L)))
    // a weight column missing from the frame reports null weights, not an error
    val yaml2 =
      s"""name: attr_noweight
         |source: { type: csv, path: "$in/*.csv", options: { header: true } }
         |operations:
         |  - { type: filter, condition: "age >= 30" }
         |attrition: { weight_column: nonexistent }
         |storage: { type: noop, path: "x" }
         |""".stripMargin
    val res2 = Pipeline.execute(spark, Pipeline.fromYaml(yaml2))
    assert(res2.status == "success", res2.errors.mkString("; "))
    assert(res2.attrition == Seq(
      graft.core.OpCompiler.StageAttrition(1, "FilterCondition", 4L, 2L, None, None)))
  }

  test("YAML cache op: persists mid-pipeline with the named level, unpersists at run end") {
    val in = Files.createTempDirectory("graft_cache_in").toString
    val out = Files.createTempDirectory("graft_cache_out").toString + "/result"
    writeCsv(in)
    def persistedCount(): Int = spark.sparkContext.getPersistentRDDs.size
    val before = persistedCount()
    val yaml =
      s"""name: cache_test
         |source: { type: csv, path: "$in/*.csv", options: { header: true } }
         |operations:
         |  - { type: filter, condition: "age >= 25" }
         |  - { type: cache, params: { storage_level: DISK_ONLY } }
         |  - { type: aggregate, params: { group_by: [city], aggregations: { spend: [sum] } } }
         |storage: { type: parquet, path: "$out", mode: overwrite }
         |""".stripMargin
    val res = Pipeline.execute(spark, Pipeline.fromYaml(yaml))
    assert(res.status == "success", res.errors.mkString("; "))
    assert(res.rowsWritten == 3)
    // run-scoped lifetime: the cache-op frame must be gone after execute
    // (the storage stage's own persist already cleans up after itself)
    assert(persistedCount() == before,
      s"cache-op frame leaked: $before persisted RDDs before, ${persistedCount()} after")
    // the op really persists with the requested level while the run lives
    val caches = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.DataFrame]
    val cached = graft.core.OpCompiler.applyOp(
      Seq((1, "x")).toDF("a", "b"), graft.core.OpSpec.CacheOp("MEMORY_ONLY"), null, caches)
    assert(cached.storageLevel == org.apache.spark.storage.StorageLevel.MEMORY_ONLY)
    assert(caches.size == 1)
    caches.foreach(_.unpersist(blocking = true))
    // an unknown level is a config error, not a silent MEMORY_AND_DISK —
    // rejected when the YAML is parsed
    val bad = intercept[IllegalArgumentException] {
      Pipeline.fromYaml(yaml.replace("DISK_ONLY", "MEMORY_MOSTLY"))
    }
    assert(bad.getMessage.contains("storage_level"))
    // "persist" is an alias in YAML
    assert(PipelineConfig.parseOp(Map("type" -> "persist")) ==
      graft.core.OpSpec.CacheOp("MEMORY_AND_DISK"))
  }

  test("attrition report survives a query whose plan drops the observed stages") {
    val df = Seq((1, 10L), (2, 20L), (3, 30L)).toDF("id", "n")
    val (out, report) = graft.core.OpCompiler.compileObserved(
      Seq(graft.core.OpSpec.FilterCondition("id > 1")), null, null, Some("n"))(df)
    // limit(0) plans to an empty relation: the observe nodes sit in this
    // query's logical plan but never run, so it must not supply (or void)
    // the stage metrics the later write measures
    val (_, profile) = graft.core.RunProfile.record(spark) {
      assert(out.limit(0).collect().isEmpty)
      out.write.format("noop").mode("overwrite").save()
    }
    assert(report(profile) == Seq(graft.core.OpCompiler.StageAttrition(
      1, "FilterCondition", 3L, 2L, Some(60L), Some(50L))))
  }

  /** A run whose sink path sits under a regular file, so its write fails. */
  private def failedStoreRun(): Pipeline.Result = {
    val in = Files.createTempDirectory("graft_store_fail_in").toString
    writeCsv(in)
    val blocker = Files.createTempFile("graft_store_fail", ".txt").toString
    val res = Pipeline.execute(spark, Pipeline.fromYaml(
      s"""name: store_fail
         |source: { type: csv, path: "$in/*.csv", options: { header: true } }
         |operations:
         |  - { type: filter, condition: "age >= 25" }
         |storage: { type: parquet, path: "$blocker/out", mode: overwrite }
         |""".stripMargin))
    assert(res.status == "failed", s"the write under a regular file must fail: $res")
    res
  }

  test("a failed storage write releases the storage stage's persisted frame") {
    def persisted = spark.sparkContext.getPersistentRDDs.keySet
    val before = persisted
    failedStoreRun()
    assert(persisted == before,
      s"storage frame leaked on failure: ${persisted -- before} still persisted")
  }

  test("a failed run releases its profile's listeners and job tag and still returns the profile") {
    import org.apache.spark.sql.GraftTestBridge
    val res = failedStoreRun()
    assert(GraftTestBridge.sparkListeners[graft.core.RunProfile](spark).isEmpty,
      "a RunProfile is still on the listener bus")
    assert(!GraftTestBridge.queryListeners(spark).exists(_.isInstanceOf[graft.core.RunProfile]),
      "a RunProfile is still a query execution listener")
    assert(!spark.sparkContext.getJobTags().exists(_.startsWith(graft.core.RunProfile.TagPrefix)),
      s"the thread still carries a run tag: ${spark.sparkContext.getJobTags()}")
    // the validation aggregate ran before the write failed
    assert(res.profile.jobs > 0 && res.profile.tasks > 0 && res.profile.queries.nonEmpty, res.profile.toString)
  }

  test("one run evaluates each processed row once: validation, row count and sink share one pass") {
    val in = Files.createTempDirectory("graft_once_in").toString
    writeCsv(in) // 4 rows, ages 30/25/35/25
    val evals = spark.sparkContext.longAccumulator("graft_once_evals")
    spark.udf.register("graft_once_bump", (s: String) => { evals.add(1); s })
    // the last run has only the attrition block: its count aggregate fires
    // the observe nodes and need not evaluate the transform at all
    for ((expectations, sink) <- Seq((true, false), (false, true), (true, true), (false, false))) {
      val out = Files.createTempDirectory("graft_once_out").toString + "/result"
      val yaml =
        s"""name: once_test
           |source: { type: csv, path: "$in/*.csv", options: { header: true } }
           |operations:
           |  - type: transform
           |    params: { calculated_columns: { tag: "graft_once_bump(name)" } }
           |attrition: { weight_column: age }
           |""".stripMargin +
        (if (expectations) "validation: { expectations: [ { name: tagged, expression: \"tag IS NOT NULL\" } ] }\n"
         else "") +
        (if (sink) s"storage: { type: parquet, path: \"$out\", mode: overwrite }\n" else "")
      evals.reset()
      val res = Pipeline.execute(spark, Pipeline.fromYaml(yaml))
      val what = s"expectations=$expectations sink=$sink"
      assert(res.status == "success", s"$what: ${res.errors.mkString("; ")}")
      if (expectations || sink) assert(evals.value == 4L, s"$what: the transform ran ${evals.value} times over 4 rows")
      else assert(evals.value <= 4L, s"$what: the transform ran ${evals.value} times over 4 rows")
      if (sink) assert(res.rowsWritten == spark.read.parquet(out).count(), what)
      else assert(res.rowsWritten == -1L, what)
      if (expectations) assert(res.validation == Map("tagged" -> 1.0), what)
      assert(res.attrition == Seq(graft.core.OpCompiler.StageAttrition(
        1, "Calculate", 4L, 4L, Some(115L), Some(115L))), s"$what: ${res.attrition}")
    }
  }

  test("a repeated curate-shaped run compiles no new generated classes") {
    // the perfbench curate recipe's first seven ops, its expectations,
    // sink and attrition block over a 100-doc fixture; one run needs more
    // distinct generated classes than Spark's default 100-entry codegen
    // cache holds, so a cache that cannot hold a run recompiles ~100 of
    // them on every run
    val fixture = new java.io.File("src/test/resources/curate").getAbsolutePath
    val out = Files.createTempDirectory("graft_warm_out").toString + "/curate"
    val yaml =
      s"""name: warm_curate
         |source: { type: json, path: "$fixture/documents.jsonl", table: documents }
         |sources:
         |  - { type: json, path: "$fixture/blocklist.jsonl", table: blocklist }
         |operations:
         |  - type: transform
         |    params: { calculated_columns: {
         |        url: "concat('HTTPS://Crawl.', source, '.COM:443/item/', CAST(doc_id % 400 AS STRING), '?utm_campaign=x&ref=feed')" } }
         |  - { type: text_processing, params: { operation: url_canonicalize, url_column: url } }
         |  - { type: text_processing, params: { operation: url_dedup, url_column: url, id_column: doc_id } }
         |  - type: text_processing
         |    params: { operation: bloom_exclude, key_column: doc_id,
         |              blocklist_table: blocklist, blocklist_key: bad_id, fpp: 0.01 }
         |  - { type: text_processing, params: { operation: dedup_lines } }
         |  - { type: text_processing, params: { operation: para_dedup, min_chars: 30 } }
         |  - { type: filter, condition: "length(trim(text)) > 0" }
         |validation:
         |  expectations:
         |    - { name: nonempty_text, expression: "length(text) > 0", min_ratio: 1.0 }
         |    - { name: has_url, expression: "url_canonical IS NOT NULL", min_ratio: 1.0 }
         |storage: { type: parquet, path: "$out", mode: overwrite }
         |attrition: { weight_column: n_chars }
         |""".stripMargin
    val conf = Pipeline.fromYaml(yaml)
    val first = Pipeline.execute(spark, conf)
    assert(first.status == "success", first.errors.mkString("; "))
    val compiled0 = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val second = Pipeline.execute(spark, conf)
    val compiled = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiled0
    assert(second.status == "success", second.errors.mkString("; "))
    assert((second.rowsWritten, second.attrition) == (first.rowsWritten, first.attrition))
    assert(compiled <= 5, s"the repeated run compiled $compiled generated classes")
    // the URL ops plan the same on every build: a literal fixed at
    // analysis (an analyzer-seeded uuid() in url_dedup's null-key
    // sentinel) makes every stage over them compile anew on every run, and
    // an op that plans its input into many stages (near_dedup) repeats
    // that per stage
    val (primary, catalog) = Pipeline.load(spark, conf)
    def planned = graft.core.OpCompiler.compile(conf.operations.take(3), catalog)(primary)
      .queryExecution.optimizedPlan
    assert(planned.sameResult(planned), "two builds of the URL ops planned differently")
  }

  test("a failed validation releases the persisted result, writes nothing and still reports attrition") {
    val in = Files.createTempDirectory("graft_vfail_in").toString
    val out = Files.createTempDirectory("graft_vfail_out").toString + "/never"
    writeCsv(in) // ids 1-4, ages 30/25/35/25, spends 100/200/150/50
    def persisted = spark.sparkContext.getPersistentRDDs.keySet
    val before = persisted
    val res = Pipeline.execute(spark, Pipeline.fromYaml(
      s"""name: vfail
         |source: { type: csv, path: "$in/*.csv", options: { header: true } }
         |operations:
         |  - { type: filter, condition: "spend >= 100" }
         |validation:
         |  expectations:
         |    - { name: impossible, expression: "spend > 1000", min_ratio: 0.5 }
         |attrition: { weight_column: spend }
         |storage: { type: parquet, path: "$out", mode: overwrite }
         |""".stripMargin))
    assert(res.status == "validation_failed", res.toString)
    assert(persisted == before, s"the result stayed persisted: ${persisted -- before}")
    assert(!new java.io.File(out).exists(), "a failed validation must write nothing")
    assert(res.attrition.map(a => (a.rowsIn, a.rowsOut, a.weightIn, a.weightOut)) ==
      Seq((4L, 3L, Some(500L), Some(450L))), res.attrition.toString)
  }

  test("text_processing ops in a YAML pipeline: near-dedup then quality filter") {
    val in = Files.createTempDirectory("graft_txt").toString
    val out = Files.createTempDirectory("graft_txt_out").toString + "/clean"
    val base = "the quick brown fox jumps over the lazy dog again and again in the field"
    Seq(
      (1L, base),
      (2L, base + " tonight"),                       // near-dup of 1 → dropped
      (3L, "completely different content about database engines and query plans"),
      (4L, base)                                     // exact dup of 1 → dropped
    ).toDF("doc_id", "text").coalesce(1).write.mode("overwrite").parquet(in + "/docs")
    val yaml =
      s"""name: text_pipeline
         |source: { type: parquet, path: "$in/docs" }
         |operations:
         |  - { type: text_processing, params: { operation: near_dedup, threshold: 0.5 } }
         |  - { type: text_processing, params: { operation: quality_features } }
         |  - { type: sort, params: { columns: [doc_id] } }
         |storage: { type: parquet, path: "$out", mode: overwrite }
         |""".stripMargin
    val res = Pipeline.execute(spark, Pipeline.fromYaml(yaml))
    assert(res.status == "success", res.errors.mkString("; "))
    val back = spark.read.parquet(out).orderBy("doc_id").collect()
    assert(back.map(_.getLong(0)).toSeq == Seq(1L, 3L), "survivors must be min-id per cluster")
    assert(back(0).schema.fieldNames.contains("stopword_ratio"))
  }

  test("YAML multimodal + quality_monitor ops drive the round-5 surfaces") {
    val in = Files.createTempDirectory("graft_mm").toString
    Seq(
      (1L, graft.multimodal.Multimodal.syntheticPng(1L, 12, 8)),
      (2L, graft.multimodal.Multimodal.syntheticPng(2L, 9, 9)),
      (3L, null: Array[Byte]))
      .toDF("doc_id", "payload").coalesce(1).write.mode("overwrite").parquet(in + "/media")
    val mmYaml =
      s"""name: media
         |source: { type: parquet, path: "$in/media" }
         |operations:
         |  - { type: multimodal, params: { operation: as_media, format: image/png } }
         |  - { type: multimodal, params: { operation: decode_image_stats } }
         |""".stripMargin
    val mmConf = Pipeline.fromYaml(mmYaml)
    val (mmDf, _) = Pipeline.load(spark, mmConf)
    val stats = graft.core.OpCompiler.compile(mmConf.operations)(mmDf)
      .orderBy("media_id").collect()
    assert(stats(0).getStruct(3).getInt(0) == 12 && stats(0).getStruct(3).getInt(1) == 8)
    assert(stats(1).getStruct(3).getInt(0) == 9)
    assert(stats(2).isNullAt(3), "null payload passes through as null stats")
    // audio ops through the same YAML surface: trim to 100 ms, then decode
    Seq((1L, graft.multimodal.Multimodal.syntheticWav(1L, 3200)), // 200 ms @ 16 kHz
        (2L, null: Array[Byte]))
      .toDF("doc_id", "payload").coalesce(1).write.mode("overwrite").parquet(in + "/audio")
    val auYaml =
      s"""name: audio
         |source: { type: parquet, path: "$in/audio" }
         |operations:
         |  - { type: multimodal, params: { operation: as_media, format: audio/wav } }
         |  - { type: multimodal, params: { operation: trim_audio, max_ms: 100 } }
         |  - { type: multimodal, params: { operation: decode_audio_stats } }
         |""".stripMargin
    val auConf = Pipeline.fromYaml(auYaml)
    val (auDf, _) = Pipeline.load(spark, auConf)
    val au = graft.core.OpCompiler.compile(auConf.operations)(auDf)
      .orderBy("media_id").collect()
    val ast = au(0).getStruct(3)
    assert(ast.getLong(3) == 1600L, "trim to 100 ms @ 16 kHz = 1600 frames, then real decode")
    assert(au(0).getStruct(2).getLong(3) == 100L, "meta.duration_ms updated by trim")
    assert(au(1).isNullAt(3), "null audio payload passes through as null stats")
    // quality_monitor replaces the frame with its metrics / alerts relation
    val qmYaml =
      s"""name: monitored
         |source: { type: parquet, path: "$in/media" }
         |operations:
         |  - { type: quality_monitor, params: { table_name: media, emit: alerts, at_epoch: 7 } }
         |""".stripMargin
    val qmConf = Pipeline.fromYaml(qmYaml)
    val (qmDf, _) = Pipeline.load(spark, qmConf)
    val alerts = graft.core.OpCompiler.compile(qmConf.operations)(qmDf).collect()
    // payload completeness = 2/3 < 0.76 → a CRITICAL alert with pinned id
    val a = alerts.find(_.getAs[String]("column_name") == "payload").get
    assert(a.getAs[String]("severity") == "CRITICAL")
    assert(a.getAs[String]("alert_id") == "DQ_media_completeness_payload_7")
  }

  test("YAML quota_per_group, shard_assign, dedup_against drive the Scale/Dedup ops") {
    val in = Files.createTempDirectory("graft_quota").toString
    val docs = (1L to 120L).map(i => (i, s"src${i % 4}", s"unique document body number $i"))
      .toDF("doc_id", "source", "text")
    docs.coalesce(1).write.mode("overwrite").parquet(in + "/docs")
    // snapshot holds the first 30 texts — dedup_against must drop exactly those
    docs.filter($"doc_id" <= 30).coalesce(1).write.mode("overwrite").parquet(in + "/snap")
    val yaml =
      s"""name: curation
         |sources:
         |  - { type: parquet, path: "$in/docs", table: main }
         |  - { type: parquet, path: "$in/snap", table: snapshot }
         |operations:
         |  - { type: text_processing, params: { operation: dedup_against, corpus_table: snapshot } }
         |  - { type: text_processing, params: { operation: quota_per_group, group_column: source, quota: 10 } }
         |  - { type: text_processing, params: { operation: shard_assign, num_shards: 4 } }
         |""".stripMargin
    val conf = Pipeline.fromYaml(yaml)
    val (primary, catalog) = Pipeline.load(spark, conf)
    val out = graft.core.OpCompiler.compile(conf.operations, catalog)(primary)
    val rows = out.select("doc_id", "source", "shard", "pos")
      .as[(Long, String, Int, Int)].collect()
    assert(rows.forall(_._1 > 30), "snapshot texts must be deduped away")
    val bySource = rows.groupBy(_._2).map { case (k, v) => k -> v.length }
    assert(bySource.values.forall(_ <= 10), s"quota violated: $bySource")
    assert(rows.map(_._3).forall(sh => sh >= 0 && sh < 4))
  }

  test("YAML near_dedup_against drops near-copies of the snapshot, keeps fresh docs") {
    val in = Files.createTempDirectory("graft_neardedup").toString
    val snap = (1L to 40L).map(i =>
      (i, s"accepted corpus document body number $i with stable words"))
      .toDF("doc_id", "text")
    snap.coalesce(1).write.mode("overwrite").parquet(in + "/snap")
    // batch: 10 exact copies of snapshot docs (new ids) + 10 fresh docs
    val batch = ((1L to 10L).map(i =>
        (1000 + i, s"accepted corpus document body number $i with stable words")) ++
      (1L to 10L).map(i => (2000 + i, s"zxqv fresh item $i plumbus vortkel grumbo")))
      .toDF("doc_id", "text")
    batch.coalesce(1).write.mode("overwrite").parquet(in + "/batch")
    val yaml =
      s"""name: near_incr
         |sources:
         |  - { type: parquet, path: "$in/batch", table: main }
         |  - { type: parquet, path: "$in/snap", table: snapshot }
         |operations:
         |  - { type: text_processing, params: { operation: near_dedup_against,
         |        corpus_table: snapshot, threshold: 0.8 } }
         |""".stripMargin
    val conf = Pipeline.fromYaml(yaml)
    val (primary, catalog) = Pipeline.load(spark, conf)
    val out = graft.core.OpCompiler.compile(conf.operations, catalog)(primary)
      .select("doc_id").as[Long].collect().sorted
    assert(out.toSeq == (2001L to 2010L), s"survivors: ${out.toSeq}")
    // column-name parity with dedup_against: a snapshot with differently
    // named text/id columns maps via corpus_text_column / corpus_id_column
    snap.withColumnRenamed("text", "body").withColumnRenamed("doc_id", "sid")
      .coalesce(1).write.mode("overwrite").parquet(in + "/snap2")
    val yaml2 = yaml
      .replace(s""""$in/snap"""", s""""$in/snap2"""")
      .replace("corpus_table: snapshot, threshold: 0.8",
        "corpus_table: snapshot, threshold: 0.8, corpus_text_column: body, corpus_id_column: sid")
    val conf2 = Pipeline.fromYaml(yaml2)
    val (primary2, catalog2) = Pipeline.load(spark, conf2)
    val out2 = graft.core.OpCompiler.compile(conf2.operations, catalog2)(primary2)
      .select("doc_id").as[Long].collect().sorted
    assert(out2.toSeq == (2001L to 2010L), s"renamed-snapshot survivors: ${out2.toSeq}")
  }

  test("YAML semantic_gate commissioning: accepted_table fit + save_model_path, then model_path replay (round 14)") {
    // VERDICT r13 #6: the frozen semantic gate gets the same one-command
    // commissioning as the other model families (the pq_encode
    // model_path/save_model_path discipline). One pipeline run fits on
    // the accepted-corpus CATALOG table (never the incoming frame — every
    // row would gate itself out at cosine 1.0), persists the model, and
    // audits the incoming frame; a second run replays via model_path
    // only; the saved dir drives SemGate.loadSemGate directly (the same
    // artifact the stream transform consumes — StreamingSpec covers the
    // stream leg).
    val in = Files.createTempDirectory("graft_sg_yaml").toString
    val modelDir = Files.createTempDirectory("graft_sg_yaml_model").toString
    Seq(
      (1L, Seq(1.0f, 0f, 0f, 0f)), (2L, Seq(0.95f, 0.3f, 0f, 0f)),
      (10L, Seq(0f, 1.0f, 0f, 0f)), (11L, Seq(0f, 0.95f, 0.3f, 0f))
    ).toDF("vec_id", "embedding").coalesce(1).write.mode("overwrite").parquet(in + "/accepted")
    Seq(
      (901L, Seq(0.99f, 0.1f, 0f, 0f)),  // near-parallel to accepted -> dup
      (902L, Seq(0f, 0.99f, 0.12f, 0f)), // near-parallel to accepted -> dup
      (903L, Seq(0f, 0f, 1.0f, 0f))      // orthogonal -> passes
    ).toDF("vec_id", "embedding").coalesce(1).write.mode("overwrite").parquet(in + "/incoming")
    val fitYaml =
      s"""name: sg_commission
         |sources:
         |  - { type: parquet, path: "$in/incoming", table: main }
         |  - { type: parquet, path: "$in/accepted", table: accepted }
         |operations:
         |  - { type: text_processing, params: { operation: semantic_gate,
         |        accepted_table: accepted, id_column: vec_id, n_cells: 2,
         |        save_model_path: "$modelDir/sg", threshold: 0.9 } }
         |""".stripMargin
    val conf = Pipeline.fromYaml(fitYaml)
    val (primary, catalog) = Pipeline.load(spark, conf)
    val fitOut = graft.core.OpCompiler.compile(conf.operations, catalog)(primary)
      .select("vec_id", "sem_dup").as[(Long, Boolean)].collect().toMap
    assert(fitOut == Map(901L -> true, 902L -> true, 903L -> false), s"fit-run verdicts: $fitOut")
    // the persisted model replays without the accepted table in the catalog
    val applyYaml =
      s"""name: sg_apply
         |sources:
         |  - { type: parquet, path: "$in/incoming", table: main }
         |operations:
         |  - { type: text_processing, params: { operation: semantic_gate,
         |        model_path: "$modelDir/sg", threshold: 0.9 } }
         |""".stripMargin
    val conf2 = Pipeline.fromYaml(applyYaml)
    val (primary2, catalog2) = Pipeline.load(spark, conf2)
    val replayOut = graft.core.OpCompiler.compile(conf2.operations, catalog2)(primary2)
      .select("vec_id", "sem_dup").as[(Long, Boolean)].collect().toMap
    assert(replayOut == fitOut, s"model_path replay diverged: $replayOut vs $fitOut")
    // and the artifact is the exact SemGate.saveSemGate layout the stream
    // transform loads
    val m = graft.vec.SemGate.loadSemGate(spark, s"$modelDir/sg")
    assert(m.reps.map(_.ids.length).sum == 4, "all 4 accepted vectors indexed")
    // without model_path OR accepted_table the op must refuse loudly — at
    // parse time, before any frame is loaded
    val badYaml = applyYaml.replace(s"""model_path: "$modelDir/sg", """, "")
    val e = intercept[IllegalArgumentException](Pipeline.fromYaml(badYaml))
    assert(e.getMessage.contains("accepted_table"), e.getMessage)
  }

  test("examples/retrieval_pipeline.yaml runs end-to-end on synthetic ranked lists") {
    val in = Files.createTempDirectory("graft_retrieval_ex").toString
    Seq((1L, 1L, 1), (1L, 2L, 2), (1L, 3L, 3)).toDF("query_id", "doc_id", "rank")
      .coalesce(1).write.mode("overwrite").parquet(in + "/lex")
    Seq((1L, 2L, 1), (1L, 1L, 2), (1L, 4L, 3)).toDF("query_id", "doc_id", "rank")
      .coalesce(1).write.mode("overwrite").parquet(in + "/sem")
    Seq((1L, Array(1.0f, 0.0f)), (2L, Array(1.0f, 0.0f)),
        (3L, Array(0.0f, 1.0f)), (4L, Array(0.7f, 0.7f)))
      .toDF("doc_id", "embedding").coalesce(1).write.mode("overwrite").parquet(in + "/vecs")
    val yaml = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("examples/retrieval_pipeline.yaml")), "UTF-8")
      .replace("${GRAFT_LEX:/tmp/graft_retrieval/lex}", in + "/lex")
      .replace("${GRAFT_SEM:/tmp/graft_retrieval/sem}", in + "/sem")
      .replace("${GRAFT_VEC:/tmp/graft_retrieval/vecs}", in + "/vecs")
    val conf = Pipeline.fromYaml(yaml)
    val (primary, catalog) = Pipeline.load(spark, conf)
    val out = graft.core.OpCompiler.compile(conf.operations, catalog)(primary)
    assert(out.count() == 4 && out.columns.contains("mmr_rank"),
      "example retrieval pipeline must emit MMR-ranked context")
  }

  test("YAML rrf_fuse + mmr_select compose a retrieval post-processing pipeline") {
    val in = Files.createTempDirectory("graft_retrieval").toString
    // two ranked lists sharing a (qid, doc) space; docs 1/2 appear in both
    Seq((1L, 1L, 1), (1L, 2L, 2), (1L, 3L, 3)).toDF("query_id", "doc_id", "rank")
      .coalesce(1).write.mode("overwrite").parquet(in + "/lex")
    Seq((1L, 2L, 1), (1L, 1L, 2), (1L, 4L, 3)).toDF("query_id", "doc_id", "rank")
      .coalesce(1).write.mode("overwrite").parquet(in + "/sem")
    // embeddings: docs 1 and 2 are near-identical directions, 3/4 diverse
    Seq((1L, Array(1.0f, 0.0f)), (2L, Array(1.0f, 0.0f)),
        (3L, Array(0.0f, 1.0f)), (4L, Array(0.7f, 0.7f)))
      .toDF("doc_id", "embedding")
      .coalesce(1).write.mode("overwrite").parquet(in + "/vecs")
    val yaml =
      s"""name: retrieval_post
         |sources:
         |  - { type: parquet, path: "$in/lex", table: main }
         |  - { type: parquet, path: "$in/sem", table: semantic }
         |  - { type: parquet, path: "$in/vecs", table: vectors }
         |operations:
         |  - { type: text_processing, params: { operation: rrf_fuse, lists: [semantic],
         |        id_column: doc_id, k: 4 } }
         |  - { type: join, params: { right_table: vectors, "on": [doc_id] } }
         |  - { type: text_processing, params: { operation: mmr_select, id_column: doc_id,
         |        relevance_column: rrf_score, vector_column: embedding, k: 3, lambda: 0.5 } }
         |""".stripMargin
    val conf = Pipeline.fromYaml(yaml)
    val (primary, catalog) = Pipeline.load(spark, conf)
    val out = graft.core.OpCompiler.compile(conf.operations, catalog)(primary)
      .orderBy("mmr_rank").select("doc_id").as[Long].collect()
    // RRF puts consensus docs 1/2 first; MMR keeps one of them on top and
    // promotes a diverse doc over the near-duplicate
    assert(out.length == 3 && Set(1L, 2L).contains(out(0)), s"selection: ${out.toSeq}")
    assert(out.toSet.intersect(Set(3L, 4L)).nonEmpty, s"no diversity: ${out.toSeq}")
  }

  test("examples/sales_pipeline.yaml and quality_pipeline.yaml run end-to-end on sf0.001") {
    // the remaining batch examples execute too — every committed example
    // must run, not just parse
    for (name <- Seq("sales_pipeline", "quality_pipeline")) {
      // storage is untouched: the test compiles and counts the op chain
      // only, never invoking conf.storage
      val yaml = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"examples/$name.yaml")), "UTF-8")
      val conf = Pipeline.fromYaml(yaml)
      val (primary, catalog) = Pipeline.load(spark, conf)
      val out = graft.core.OpCompiler.compile(conf.operations, catalog)(primary)
      assert(out.count() > 0, s"$name produced no rows")
    }
  }

  test("examples/stream_pipeline.yaml runs on a real file stream") {
    val in = Files.createTempDirectory("graft_stream_example").toString
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$in/b1.json"),
      """{"ts":"2024-01-01T00:01:00.000Z","user":"a","v":1.0}
        |{"ts":"2024-01-01T00:02:00.000Z","user":"b","v":2.0}""".stripMargin)
    val yaml = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("examples/stream_pipeline.yaml")), "UTF-8")
    val conf = graft.streaming.StreamPipeline.fromYaml(
      yaml.replace("${GRAFT_STREAM_IN:/tmp/graft_stream_in}", in))
    val q = graft.streaming.StreamPipeline.start(spark, conf)
    try {
      q.processAllAvailable()
      val n = spark.sql("SELECT count(*) FROM events_stream_out").first().getLong(0)
      assert(n == 2L, s"expected 2 windowed rows, got $n")
    } finally q.stop()
  }

  test("YAML para_dedup, dup_spans and quantile_grouped binning compose") {
    val in = Files.createTempDirectory("graft_para").toString
    Seq(
      (1L, "en", "unique first doc body here\n\nFollow us on social media"),
      (2L, "en", "second doc text entirely different\n\nFollow us on social media"),
      (3L, "en", "third doc some shared passage alpha beta gamma delta\n\nFollow us on social media"),
      (4L, "en", "fourth doc some shared passage alpha beta gamma delta too")
    ).toDF("doc_id", "lang", "text").coalesce(1).write.mode("overwrite").parquet(in + "/docs")
    val yaml =
      s"""name: para_pipeline
         |source: { type: parquet, path: "$in/docs" }
         |operations:
         |  - { type: text_processing, params: { operation: para_dedup } }
         |  - { type: text_processing, params: { operation: dup_spans, gram_tokens: 3 } }
         |  - { type: text_processing, params: { operation: script_profile } }
         |  - { type: feature_engineering, params: { operation: binning, method: quantile_grouped,
         |      column: n_tokens, bins: 2, group_by: [lang], output_column: len_bucket } }
         |""".stripMargin
    val conf = Pipeline.fromYaml(yaml)
    val (primary, catalog) = Pipeline.load(spark, conf)
    val out = graft.core.OpCompiler.compile(conf.operations, catalog)(primary)
    val rows = out.select("doc_id", "n_paras_kept", "n_spans", "len_bucket")
      .as[(Long, Int, Long, Int)].collect().sortBy(_._1)
    // boilerplate paragraph survives only on doc 1
    assert(rows.map(_._2).toSeq == Seq(2, 1, 1, 1))
    // docs 3 and 4 share "some shared passage alpha beta gamma delta" → flagged spans
    assert(rows(2)._3 >= 1L && rows(3)._3 >= 1L)
    assert(rows(0)._3 == 0L && rows(1)._3 == 0L)
    // grouped binning ran over the dup_spans-added n_tokens column
    assert(rows.map(_._4).forall(b => b == 0 || b == 1))
    // script_profile's YAML entry point ran: all-latin corpus → ratio 1
    val lr = out.select("latin_ratio").collect().map(_.getDouble(0))
    assert(lr.forall(r => r > 0.9))
  }

  test("YAML unimax_sample: budget water-fills across langs with an epoch cap") {
    val in = Files.createTempDirectory("graft_unimax").toString
    // en: 8 docs × 10 chars (cap 160 at 2 epochs), de: 2 docs × 10 (cap 40)
    // budget 120 → de caps at 40 (2 epochs each), en levels at 80 = 1 epoch
    ((1L to 8L).map(i => (i, "en", 10L)) ++ Seq((9L, "de", 10L), (10L, "de", 10L)))
      .toDF("doc_id", "lang", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(in + "/docs")
    val yaml =
      s"""name: unimax
         |source: { type: parquet, path: "$in/docs" }
         |operations:
         |  - { type: text_processing, params: { operation: unimax_sample, group_column: lang,
         |      weight_column: n_chars, budget: 120, max_epochs: 2.0 } }
         |""".stripMargin
    val conf = Pipeline.fromYaml(yaml)
    val (p, cat) = Pipeline.load(spark, conf)
    val out = graft.core.OpCompiler.compile(conf.operations, cat)(p)
      .select("doc_id", "lang", "epoch").as[(Long, String, Int)].collect()
    val de = out.filter(_._2 == "de")
    assert(de.length == 4 && de.map(_._1).distinct.length == 2,
      s"both de docs repeat twice (capped at 2 epochs): ${de.toSeq}")
    val en = out.filter(_._2 == "en")
    assert(en.length == 8 && en.forall(_._3 == 1),
      s"en levels at exactly 1 epoch (80 of 80 chars): ${en.toSeq}")
  }

  test("YAML round-10 curation ops: cut_dup_spans, perplexity_buckets, cut_contaminated, dsir_weights, dsir_select") {
    val in = Files.createTempDirectory("graft_r10ops").toString
    Seq(
      (1L, "en", "alpha beta gamma delta epsilon unique one"),
      (2L, "en", "second doc alpha beta gamma delta epsilon trailing words"),
      (3L, "en", "totally different content words here nothing shared at all"),
      (4L, "de", "deutsches dokument mit eigenen worten und saetzen hier"),
      (5L, "de", "noch ein deutsches dokument mit anderen worten ganz neu")
    ).toDF("doc_id", "lang", "text").coalesce(1).write.mode("overwrite").parquet(in + "/docs")
    Seq((100L, "different content words here nothing shared"))
      .toDF("eid", "etext").coalesce(1).write.mode("overwrite").parquet(in + "/eval")
    Seq((200L, "deutsches dokument mit worten"), (201L, "ein dokument mit eigenen saetzen"))
      .toDF("tid", "ttext").coalesce(1).write.mode("overwrite").parquet(in + "/target")

    // ExactSubstr cut + CCNet buckets in one chain: the duplicated
    // "alpha beta gamma delta epsilon" span survives only in its canonical
    // (earliest) occurrence; every doc then gets a per-lang bucket
    val yaml1 =
      s"""name: cut_then_bucket
         |source: { type: parquet, path: "$in/docs" }
         |operations:
         |  - { type: text_processing, params: { operation: cut_dup_spans, gram_tokens: 3 } }
         |  - { type: text_processing, params: { operation: perplexity_buckets, n_buckets: 2,
         |      group_columns: [lang] } }
         |""".stripMargin
    val conf1 = Pipeline.fromYaml(yaml1)
    val (p1, cat1) = Pipeline.load(spark, conf1)
    val out1 = graft.core.OpCompiler.compile(conf1.operations, cat1)(p1)
      .select("doc_id", "n_removed_tokens", "ppl_bucket")
      .as[(Long, Long, Int)].collect().sortBy(_._1)
    assert(out1.map(_._1).toSeq == Seq(1L, 2L, 3L, 4L, 5L))
    assert(out1(0)._2 == 0L, "canonical occurrence must keep its span")
    assert(out1(1)._2 == 5L, s"doc 2 must lose the 5-token duplicated span, lost ${out1(1)._2}")
    assert(out1.forall(r => r._3 == 1 || r._3 == 2), s"every doc buckets per-lang: ${out1.toSeq}")

    // surgical decontamination + DSIR weights + the resampling step, all
    // through the table catalog
    def yaml2(extra: String) =
      s"""name: decon_dsir
         |sources:
         |  - { type: parquet, path: "$in/docs", table: main }
         |  - { type: parquet, path: "$in/eval", table: evalset }
         |  - { type: parquet, path: "$in/target", table: targetset }
         |operations:
         |  - { type: text_processing, params: { operation: cut_contaminated, eval_table: evalset,
         |      eval_text_column: etext, gram_tokens: 3 } }
         |  - { type: text_processing, params: { operation: dsir_weights, target_table: targetset,
         |      target_text_column: ttext } }
         |$extra""".stripMargin
    val conf2 = Pipeline.fromYaml(yaml2(""))
    val (p2, cat2) = Pipeline.load(spark, conf2)
    val out2 = graft.core.OpCompiler.compile(conf2.operations, cat2)(p2)
      .select("doc_id", "n_removed_tokens", "log_weight")
      .as[(Long, Long, Double)].collect().sortBy(_._1)
    assert(out2(2)._2 == 6L, s"doc 3 must lose the 6-token eval phrase, lost ${out2(2)._2}")
    assert(out2.filter(_._1 != 3L).forall(_._2 == 0L), "only the contaminated doc is rewritten")
    val (deW, enW) = (out2.filter(_._1 >= 4L).map(_._3), out2.filter(_._1 <= 3L).map(_._3))
    assert(deW.min > enW.max,
      s"target-like (de) docs must outweigh en docs: de=${deW.toSeq} en=${enW.toSeq}")
    // the resampling step: k=2 with an e^{>3}-nat weight gap picks the two
    // de docs deterministically
    val conf3 = Pipeline.fromYaml(yaml2(
      s"""  - { type: text_processing, params: { operation: dsir_select, target_table: targetset,
         |      target_text_column: ttext, k: 2 } }
         |""".stripMargin))
    val (p3, cat3) = Pipeline.load(spark, conf3)
    val picked = graft.core.OpCompiler.compile(conf3.operations, cat3)(p3)
      .select("doc_id").as[Long].collect().toSet
    assert(picked == Set(4L, 5L), s"dsir_select must resample the target-like docs, got $picked")

    // frozen-model ingest gates: fit + save once, then YAML pipelines that
    // only APPLY (the production ingest shape — no refit per job)
    val modelDir = Files.createTempDirectory("graft_r10_models").toString
    val fitDocs = spark.read.parquet(in + "/docs")
    graft.text.TextLib.savePplModel(spark,
      graft.text.TextLib.pplFit(fitDocs, "text", "doc_id", Seq("lang"), nBuckets = 2),
      s"$modelDir/ppl")
    graft.text.Dsir.saveModel(spark,
      graft.text.Dsir.fitHashed(
        fitDocs.filter($"lang" === "en"),
        spark.read.parquet(in + "/target").withColumnRenamed("ttext", "text"),
        "text", buckets = 1 << 12),
      s"$modelDir/dsir")
    val yaml5 =
      s"""name: frozen_gates
         |source: { type: parquet, path: "$in/docs" }
         |operations:
         |  - { type: text_processing, params: { operation: ppl_apply, model_path: "$modelDir/ppl" } }
         |  - { type: text_processing, params: { operation: dsir_apply, model_path: "$modelDir/dsir" } }
         |""".stripMargin
    val conf5 = Pipeline.fromYaml(yaml5)
    val (p5, cat5) = Pipeline.load(spark, conf5)
    val gated = graft.core.OpCompiler.compile(conf5.operations, cat5)(p5)
      .select("doc_id", "lang", "ppl_bucket", "log_weight")
      .as[(Long, String, Int, Double)].collect()
    assert(gated.length == 5 && gated.forall(r => r._3 == 1 || r._3 == 2),
      s"every doc gates against the frozen floors: ${gated.toSeq}")
    val (deLw, enLw) = (gated.filter(_._2 == "de").map(_._4), gated.filter(_._2 == "en").map(_._4))
    assert(deLw.min > enLw.max,
      s"frozen DSIR model (en raw vs de-like target) must upweight de docs: de=${deLw.toSeq} en=${enLw.toSeq}")
  }

  test("examples/training_data_pipeline.yaml runs end-to-end on sf0.001") {
    // the shipped example must stay executable — it documents the op surface
    val out = Files.createTempDirectory("graft_example_out").toString + "/chunks"
    val block = Files.createTempDirectory("graft_example_bl").toString + "/bl.parquet"
    Seq(7L, 14L, 21L).toDF("bad_id").coalesce(1).write.mode("overwrite").parquet(block)
    val yaml = new String(Files.readAllBytes(
      java.nio.file.Paths.get("examples/training_data_pipeline.yaml")), "UTF-8")
    val conf = Pipeline.fromYaml(PipelineConfig.substituteEnv(yaml,
      Map("GRAFT_BLOCKLIST" -> block, "GRAFT_OUT" -> out).get))
    val res = Pipeline.execute(spark, conf)
    assert(res.status == "success", res.errors.mkString("; "))
    val back = spark.read.parquet(out)
    assert(back.count() > 0, "pipeline must keep some chunks")
    val cols = back.columns.toSet
    assert(Set("chunk_text", "shard", "pos", "split", "dup_ratio",
      "url_canonical", "url_host", "url_domain", "ppl_bucket").subsetOf(cols), s"got $cols")
    // the example's attrition block: one report row per operation, the
    // input row count on stage 1, monotone non-increasing... is false in
    // general (chunking EXPLODES rows) — pin shape + the chunk blow-up
    assert(res.attrition.size == conf.operations.size,
      s"attrition must cover every stage: ${res.attrition.size} vs ${conf.operations.size}")
    assert(res.attrition.head.rowsIn > 0)
    assert(res.attrition.exists(a => a.rowsOut > a.rowsIn),
      s"the chunking stage multiplies rows; report: ${res.attrition.map(a => (a.op, a.rowsIn, a.rowsOut))}")
    assert(back.filter($"doc_id".isin(7L, 14L, 21L)).count() == 0, "blocklist applied")
    assert(back.select("split").distinct().collect().map(_.getString(0)).toSet.subsetOf(
      Set("train", "val", "test")))
  }

  test("examples/multimodal_pipeline.yaml curates audio clips end-to-end on sf0.001") {
    val out = Files.createTempDirectory("graft_mm_out").toString + "/clips"
    val yaml = new String(Files.readAllBytes(
      java.nio.file.Paths.get("examples/multimodal_pipeline.yaml")), "UTF-8")
    val conf = Pipeline.fromYaml(PipelineConfig.substituteEnv(yaml,
      Map("GRAFT_OUT" -> out).get))
    val res = Pipeline.execute(spark, conf)
    assert(res.status == "success", res.errors.mkString("; "))
    val back = spark.read.parquet(out)
    assert(back.count() > 0, "gate must keep some clips")
    // every surviving clip decodes at the synth rate and inside the trim budget
    assert(back.filter($"sample_rate" =!= 16000 || $"num_frames" > 8000 ||
      $"num_frames" < 1600).count() == 0)
    // payloads are real WAVs: re-decode one and match the manifest stats
    val row = back.orderBy("media_id").collect()(0)
    val st = graft.multimodal.Multimodal.audioStats(row.getAs[Array[Byte]]("payload"))
    assert(st.getLong(3) == row.getAs[Long]("num_frames"))
  }

  test("examples/analytics_pipeline.yaml builds the funnel end-to-end on sf0.001") {
    val out = Files.createTempDirectory("graft_an_out").toString + "/funnel"
    val yaml = new String(Files.readAllBytes(
      java.nio.file.Paths.get("examples/analytics_pipeline.yaml")), "UTF-8")
    val conf = Pipeline.fromYaml(PipelineConfig.substituteEnv(yaml,
      Map("GRAFT_OUT" -> out).get))
    val res = Pipeline.execute(spark, conf)
    assert(res.status == "success", res.errors.mkString("; "))
    val back = spark.read.parquet(out).orderBy("step_index").collect()
    assert(back.length == 3)
    assert(back.map(_.getAs[String]("step")).toSeq == Seq("view", "click", "purchase"))
    val counts = back.map(_.getAs[Long]("n_users"))
    assert(counts.sliding(2).forall(p => p(0) >= p(1)), "funnel counts never increase")
    assert(counts(0) > 0, "the sf0.001 log has viewers")
  }

  test("examples/monitoring_pipeline.yaml emits pinned quality alerts on sf0.001") {
    val yaml = new String(Files.readAllBytes(
      java.nio.file.Paths.get("examples/monitoring_pipeline.yaml")), "UTF-8")
    val conf = Pipeline.fromYaml(yaml)
    val (df, catalog) = Pipeline.load(spark, conf)
    val alerts = graft.core.OpCompiler.compile(conf.operations, catalog)(df).collect()
    // the pinned as_of sits past the data's end → timeliness FAILs; user_id
    // uniqueness FAILs; both alerts carry the pinned epoch in their ids
    val ids = alerts.map(_.getAs[String]("alert_id")).toSet
    assert(ids.contains("DQ_events_timeliness_ts_1706659200"), s"got $ids")
    assert(ids.contains("DQ_events_uniqueness_user_id_1706659200"), s"got $ids")
    assert(alerts.forall(_.getAs[String]("severity") == "CRITICAL"))
  }

  test("nearDedup keeps one survivor per near-dup cluster, untouched docs intact") {
    val docs = Seq(
      (10L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (11L, "alpha beta gamma delta epsilon zeta eta theta iota"),   // near-dup of 10
      (12L, "totally unrelated text with none of those words at all"),
      (13L, "alpha beta gamma delta epsilon zeta eta theta iota kappa") // exact dup of 10
    ).toDF("doc_id", "text")
    val out = graft.text.Dedup.nearDedup(docs, "text", "doc_id", threshold = 0.5)
      .select("doc_id").as[Long].collect().toSet
    assert(out == Set(10L, 12L), s"got $out")
  }

  test("validation failure stops before storage") {
    val in = Files.createTempDirectory("graft_in2").toString
    val out = Files.createTempDirectory("graft_out2").toString + "/never"
    writeCsv(in)
    val yaml =
      s"""name: fail_test
         |source: { type: csv, path: "$in/*.csv" }
         |operations: [ { type: select, params: { columns: [id, spend] } } ]
         |validation:
         |  expectations:
         |    - { name: impossible, expression: "spend > 1000", min_ratio: 0.5 }
         |storage: { type: parquet, path: "$out" }
         |""".stripMargin
    val res = Pipeline.execute(spark, Pipeline.fromYaml(yaml))
    assert(res.status == "validation_failed")
    assert(!new java.io.File(out).exists())
  }

  test("env substitution ${VAR:default}") {
    val sub = PipelineConfig.substituteEnv("path: ${GRAFT_NOPE:/fallback}/x, ${HOME}",
      env = k => if (k == "HOME") Some("/home/u") else None)
    assert(sub == "path: /fallback/x, /home/u")
  }

  test("multi-source join through the table catalog") {
    val in = Files.createTempDirectory("graft_in3").toString
    writeCsv(in + "/people")
    Seq(("NY", "east"), ("SF", "west"), ("LA", "west"))
      .toDF("city", "region").coalesce(1)
      .write.mode("overwrite").option("header", "true").csv(in + "/regions")
    val yaml =
      s"""name: join_test
         |sources:
         |  - { type: csv, path: "$in/people/*.csv", table: main }
         |  - { type: csv, path: "$in/regions/*.csv", table: regions }
         |operations:
         |  - { type: join, params: { right_table: regions, condition: "main_c = city", join_type: inner } }
         |""".stripMargin
    // 'on' with duplicate lineage cols is awkward for csv sources; use condition form
    val conf0 = Pipeline.fromYaml(yaml.replace("main_c = city", "1 = 1"))
    // simpler: verify the catalog resolves + join executes
    val (primary, catalog) = Pipeline.load(spark, conf0)
    val joined = graft.ops.Relational.join(
      primary.drop("_source_file"),
      catalog("regions").drop("_source_file"), on = Seq("city"))
    assert(joined.count() == 4)
    assert(joined.columns.contains("region"))
  }

  test("repeated runs with append mode accumulate (reference test_end_to_end:380-432)") {
    val in = Files.createTempDirectory("graft_app_in").toString
    val out = Files.createTempDirectory("graft_app_out").toString + "/acc"
    writeCsv(in)
    val yaml =
      s"""name: append_test
         |source: { type: csv, path: "$in/*.csv" }
         |operations: [ { type: select, params: { columns: [id, city] } } ]
         |storage: { type: parquet, path: "$out", mode: append }
         |""".stripMargin
    val conf = Pipeline.fromYaml(yaml)
    assert(Pipeline.execute(spark, conf).status == "success")
    assert(Pipeline.execute(spark, conf).status == "success")
    assert(spark.read.parquet(out).count() == 8) // 4 rows x 2 runs
  }

  test("invalid data handling: malformed csv cells become nulls, pipeline continues") {
    val in = Files.createTempDirectory("graft_bad_in").toString
    Files.writeString(java.nio.file.Paths.get(s"$in/bad.csv"),
      "id,amount\n1,10.5\n2,not_a_number\n3,30.0\n")
    val yaml =
      s"""name: bad_data
         |source: { type: csv, path: "$in/*.csv" }
         |operations:
         |  - type: transform
         |    params:
         |      type_conversions: { amount: double }
         |  - { type: filter, condition: "amount IS NOT NULL" }
         |""".stripMargin
    val (primary, catalog) = Pipeline.load(spark, Pipeline.fromYaml(yaml))
    val res = graft.core.OpCompiler.compile(Pipeline.fromYaml(yaml).operations, catalog)(primary)
    assert(res.count() == 2) // malformed row filtered, no crash
  }

  test("5 concurrent pipelines all succeed (reference test_benchmarks:296-327)") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val in = Files.createTempDirectory("graft_conc_in").toString
    writeCsv(in)
    val futures = (1 to 5).map { i =>
      Future {
        val out = Files.createTempDirectory(s"graft_conc_$i").toString + "/o"
        val yaml =
          s"""name: conc_$i
             |source: { type: csv, path: "$in/*.csv" }
             |operations: [ { type: filter, condition: "age >= $i" } ]
             |storage: { type: parquet, path: "$out" }
             |""".stripMargin
        Pipeline.execute(spark, Pipeline.fromYaml(yaml))
      }
    }
    val results = Await.result(Future.sequence(futures), 120.seconds)
    assert(results.forall(_.status == "success"))
    assert(results.map(_.rowsWritten).forall(_ == 4)) // ages all >= 5
  }

  test("duplicate expectation names cannot hide a failure (index-based check)") {
    import graft.core.{Pipeline, PipelineConfig}
    val conf = PipelineConfig.PipelineConf("dupnames",
      Seq(PipelineConfig.SourceConf("parquet", s"$sfDir/orders.parquet", "orders",
        graft.sources.Readers.parquet(_, s"$sfDir/orders.parquet"))),
      Nil,
      Seq(
        PipelineConfig.ExpectationConf("check", "o_totalprice < 0", 0.9), // fails
        PipelineConfig.ExpectationConf("check", "o_totalprice >= 0", 0.9) // passes, same name
      ),
      None)
    val res = Pipeline.execute(spark, conf)
    assert(res.status == "validation_failed",
      "a failing expectation must not hide behind a passing namesake")
  }

  test("pivot_values reaches the Pivot op from YAML params (bounded-width knob)") {
    val vals = new java.util.ArrayList[Any]()
    vals.add("a"); vals.add("b")
    val op = PipelineConfig.parseOp(Map("type" -> "pivot",
      "group_cols" -> "id", "pivot_col" -> "grp", "value_col" -> "num",
      "agg_func" -> "sum", "pivot_values" -> vals))
    assert(op.asInstanceOf[graft.core.OpSpec.Pivot].pivotValues == Seq("a", "b"))
    val df = Seq((1, "a", 10.0), (1, "b", 5.0), (2, "a", 1.0), (2, "zzz", 9.0))
      .toDF("id", "grp", "num")
    val out = graft.core.OpCompiler.compile(Seq(op))(df).orderBy("id")
    // declared domain: zzz is excluded, no distinct pre-scan
    assert(out.columns.toSeq == Seq("id", "a", "b"))
    assert(out.count() == 2)
  }

  test("declared-but-undispatched op types compile and run (SURVEY gap)") {
    val df = Seq((1, "a", 10.0, 2.0), (2, "a", 20.0, 4.0), (3, "b", 30.0, 0.0))
      .toDF("id", "grp", "num", "den")
    val ops = Seq(
      PipelineConfig.parseOp(Map("type" -> "feature_engineering",
        "operation" -> "ratio", "name" -> "r", "numerator" -> "num",
        "denominator" -> "den", "div_by_zero" -> "zero")),
      PipelineConfig.parseOp(Map("type" -> "validate",
        "expression" -> "r >= 0", "min_ratio" -> "1.0")))
    val out = graft.core.OpCompiler.compile(ops)(df).orderBy("id")
    val rs = out.select("r").as[Double].collect()
    assert(rs.toSeq == Seq(5.0, 5.0, 0.0))
  }

  test("examples/embedding_pipeline.yaml builds the index end-to-end on sf0.001") {
    val out = Files.createTempDirectory("graft_emb_out").toString + "/index"
    val yaml = new String(Files.readAllBytes(
      java.nio.file.Paths.get("examples/embedding_pipeline.yaml")), "UTF-8")
    val conf = Pipeline.fromYaml(PipelineConfig.substituteEnv(yaml,
      Map("GRAFT_OUT" -> out).get))
    val res = Pipeline.execute(spark, conf)
    assert(res.status == "success", res.errors.mkString("; "))
    val back = spark.read.parquet(out)
    assert(back.columns.toSet == Set("vec_id", "label", "q", "q_scale", "pq_code"))
    assert(back.filter($"pq_code".isNull ||
      org.apache.spark.sql.functions.length($"pq_code") =!= 8).count() == 0)
    assert(back.count() == 500)
  }

  test("pq_encode op: trains on the frame and emits codes through YAML params") {
    val rnd = new scala.util.Random(3)
    val df = (0L until 64L).map(i => (i, Seq.fill(8)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    val op = PipelineConfig.parseOp(Map("type" -> "text_processing",
      "operation" -> "pq_encode", "vector_column" -> "embedding",
      "id_column" -> "vec_id", "m" -> "2", "nbits" -> "3"))
    val out = graft.core.OpCompiler.compile(Seq(op))(df)
    assert(out.columns.contains("pq_code"))
    val codes = out.select("pq_code").as[Array[Byte]].collect()
    assert(codes.forall(_.length == 2), "m=2 -> 2-byte codes")
  }

  test("proto_prune / d4_select / rpv2_extras ops dispatch through YAML params (round 12)") {
    // axis-aligned embedding clusters with pinned centroid rows (ids 0/10)
    // — the centroid_ids path, matching the PrototypesSpec fixture shape
    val e = Seq(
      (0L, Seq(1f, 0f, 0f, 0f)), (1L, Seq(0.99f, 0.1f, 0f, 0f)),
      (2L, Seq(0.9f, 0.3f, 0f, 0f)), (3L, Seq(0.7f, 0.5f, 0f, 0f)),
      (10L, Seq(0f, 1f, 0f, 0f)), (11L, Seq(0.3f, 0.9f, 0f, 0f))
    ).toDF("vec_id", "embedding")
    val prune = PipelineConfig.parseOp(Map("type" -> "text_processing",
      "operation" -> "proto_prune", "id_column" -> "vec_id",
      "vector_column" -> "embedding", "centroid_ids" -> "0,10",
      "prune_fraction" -> "0.5"))
    val kept = graft.core.OpCompiler.compile(Seq(prune))(e)
      .select("vec_id").as[Long].collect().toSet
    // cluster 0 = {0,1,2,3}: drop the 2 most prototypical (0,1);
    // cluster 1 = {10,11}: drop 10
    assert(kept == Set(2L, 3L, 11L))

    // d4_select: add exact copies; the semantic stage kills them before
    // the prototype stage prunes (same floor law on the survivors)
    val copies = e.withColumn("vec_id", $"vec_id" + 1000L)
    val d4 = PipelineConfig.parseOp(Map("type" -> "text_processing",
      "operation" -> "d4_select", "id_column" -> "vec_id",
      "vector_column" -> "embedding", "threshold" -> "0.999",
      "n_clusters" -> "4", "centroid_ids" -> "0,10",
      "prune_fraction" -> "0.5"))
    val d4Kept = graft.core.OpCompiler.compile(Seq(d4))(e.unionByName(copies))
      .select("vec_id").as[Long].collect().toSet
    assert(d4Kept == Set(2L, 3L, 11L), s"copies die, then prototypes prune: $d4Kept")

    // rpv2_extras: signals appended in place
    val docs = Seq((1L, "lorem ipsum {x} lorem ipsum")).toDF("doc_id", "text")
    val rp = PipelineConfig.parseOp(Map("type" -> "text_processing",
      "operation" -> "rpv2_extras", "text_column" -> "text"))
    val sig = graft.core.OpCompiler.compile(Seq(rp))(docs).collect()(0)
    assert(sig.getDouble(sig.fieldIndex("unigram_entropy")) > 0.0)
    assert(math.abs(sig.getDouble(sig.fieldIndex("lorem_ipsum_ratio")) - 2.0 / 27) < 1e-12)
    assert(math.abs(sig.getDouble(sig.fieldIndex("curly_bracket_ratio")) - 2.0 / 27) < 1e-12)
  }

  test("clustering op: dbscan algorithm dispatches through YAML params") {
    // two standardized blobs + an outlier; min_samples=2 keeps blobs, the
    // far point is noise (-1)
    val df = Seq((0L, 0.0, 0.0), (1L, 0.1, 0.0), (2L, 5.0, 0.0), (3L, 5.1, 0.0),
        (4L, 100.0, 0.0)).toDF("id", "x", "y")
    val op = PipelineConfig.parseOp(Map("type" -> "feature_engineering",
      "operation" -> "clustering", "algorithm" -> "dbscan",
      // the outlier inflates std to ~39, squeezing the scaled blob gap to
      // ~0.126 — eps must sit under that and over the ~0.003 intra-blob gap
      "columns" -> Seq("x", "y"), "eps" -> "0.05", "min_samples" -> "2",
      "id_column" -> "id"))
    val out = graft.core.OpCompiler.compile(Seq(op))(df).orderBy("id")
    assert(out.select("cluster_label").as[Long].collect().toSeq ==
      Seq(0L, 0L, 2L, 2L, -1L))
  }
}
