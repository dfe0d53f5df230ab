package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Config-compiled pipeline runtime — the §3.1 lifecycle
  * (core/pipeline.py:187-285): load → process → validate → store, as ONE
  * lazy Catalyst plan up to the validation/storage actions. Errors are
  * collected into a result map exactly like the reference (:279-284).
  */
object Pipeline {

  final case class Result(
      name: String,
      status: String, // success | validation_failed | failed
      rowsWritten: Long,
      validation: Map[String, Double],
      errors: Seq[String],
      // per-stage rows/weight in-out when the YAML declared an `attrition:`
      // block (round 11) — populated from observe() metrics that ride the
      // run's one validation/count aggregate
      attrition: Seq[OpCompiler.StageAttrition] = Nil,
      // where the run's Spark-side time and rows went, failed runs included
      profile: RunProfile.Summary = RunProfile.empty)

  def fromYaml(yaml: String): PipelineConfig.PipelineConf = PipelineConfig.fromYaml(yaml)

  /** Load all declared sources; returns (primary frame, table catalog). */
  def load(spark: SparkSession, conf: PipelineConfig.PipelineConf): (DataFrame, String => DataFrame) = {
    require(conf.sources.nonEmpty, "pipeline needs at least one source")
    // make every named graft function available to expr()/custom_sql in
    // THIS pipeline's YAML — without this, the documented "callable from
    // pipeline config" contract only held for callers who registered
    // manually. All three are idempotent (create-or-replace).
    graft.expr.GraftFunctions.register(spark)
    graft.functions.CleanLib.registerUdfs(spark)
    graft.multimodal.Multimodal.registerUdfs(spark)
    // duplicate table names would last-wins-overwrite the primary frame in
    // the map below and silently run the pipeline on the wrong input
    val dupes = conf.sources.groupBy(_.table).collect { case (t, ss) if ss.size > 1 => t }
    require(dupes.isEmpty,
      s"duplicate source table name(s): ${dupes.mkString(", ")} — give each source a distinct `table:`")
    val frames: Map[String, DataFrame] = conf.sources.map(s => s.table -> s.read(spark)).toMap
    (frames(conf.sources.head.table), name =>
      frames.getOrElse(name, throw new IllegalArgumentException(s"Unknown table: $name")))
  }

  /** Execute the full lifecycle. */
  def execute(spark: SparkSession, conf: PipelineConfig.PipelineConf): Result =
    execute(spark, conf, None)

  /** Execute with structured event logging (monitoring/structured_logging.py
    * parity): pipeline_start/end, per-stage step events, one
    * data_quality_check event per expectation, a data_write event for the
    * storage stage — all correlated by the logger's (pipeline_name,
    * run_id) context. `plog = None` is the no-logging fast path. The whole
    * run, however it ends, is profiled ([[RunProfile]]): `pipeline_end`
    * carries the profile's totals and `Result.profile` the profile.
    */
  def execute(spark: SparkSession, conf: PipelineConfig.PipelineConf,
              plog: Option[StructuredLog.PipelineLogger]): Result = {
    val errors = scala.collection.mutable.ArrayBuffer.empty[String]
    // frames persisted by `cache` ops and the result a sink reads — unpersisted
    // when the run ends (success, validation failure, or crash): an in-run
    // cache must not squat in executor storage after its pipeline is gone
    val caches = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.DataFrame]
    var attrition: Option[OpCompiler.Attrition] = None
    var stage = "load"
    val profile = RunProfile.start(spark)
    try {
      plog.foreach(_.startPipeline(Map(
        "sources" -> conf.sources.map(s => s"${s.typ}:${s.path}"),
        "operations" -> conf.operations.size,
        "expectations" -> conf.expectations.size,
        "storage" -> conf.storage.map(_.typ).getOrElse("none"))))
      plog.foreach(_.startStep("load"))
      val (primary, catalog) = load(spark, conf)
      plog.foreach(_.endStep("load"))
      stage = "process"
      plog.foreach(_.startStep("process"))
      val processed = conf.attrition match {
        case Some(a) =>
          val (out, rep) = OpCompiler.compileObserved(
            conf.operations, catalog, caches, a.weightColumn)(primary)
          attrition = Some(rep)
          out
        case None =>
          OpCompiler.compile(conf.operations, catalog, caches)(primary)
      }
      // the observe() metrics ride the run's one aggregate below
      def attritionReport(prof: RunProfile.Summary): Seq[OpCompiler.StageAttrition] =
        attrition.map { rep =>
          val report = rep(prof)
          conf.attrition.flatMap(_.reportPath).foreach { rp =>
            import spark.implicits._
            report.map(sa => (sa.stage, sa.op, sa.rowsIn, sa.rowsOut,
                sa.rowsDropped, sa.weightIn, sa.weightOut))
              .toDF("stage", "op", "rows_in", "rows_out", "rows_dropped",
                "weight_in", "weight_out")
              .coalesce(1).write.mode("overwrite").parquet(rp)
          }
          report
        }.getOrElse(Nil)
      plog.foreach(_.endStep("process"))
      stage = "validate"
      plog.foreach(_.startStep("validate"))

      // validation stage (pipeline.py:234-256): ONE aggregate over the
      // result counts its rows, computes every expectation's pass ratio and
      // fires the attrition observe nodes. With a sink, the result is
      // persisted first, so that aggregate also fills the cache the sink
      // and the catalog then read: each row is processed once, and
      // validation describes exactly the rows written. A run with no sink,
      // no expectations and no attrition block runs no action.
      if (conf.storage.nonEmpty) caches += processed.persist()
      val (counted, ratios) =
        if (conf.storage.isEmpty && conf.expectations.isEmpty && attrition.isEmpty) (0L, Nil)
        else OpCompiler.passRatios(processed, conf.expectations.map(_.expression))
      val rows = conf.storage.fold(-1L)(_ => counted)
      plog.foreach(_.endStep("validate", conf.storage.map(_ => counted)))
      // check by INDEX: the name-keyed report map collapses duplicate names
      // (last wins), and checking through it would let a failing expectation
      // hide behind a passing namesake
      val validation: Map[String, Double] =
        conf.expectations.zip(ratios).map { case (e, r) => e.name -> r }.toMap
      val failed = conf.expectations.zip(ratios).collect {
        case (e, r) if r < e.minRatio => e
      }
      plog.foreach { p =>
        conf.expectations.zip(ratios).foreach { case (e, r) =>
          p.logger.logDataQualityCheck(conf.name, e.name, r, e.minRatio,
            if (r < e.minRatio) "fail" else "pass")
        }
      }
      if (failed.nonEmpty) {
        val prof = profile.summary()
        plog.foreach(_.endPipeline("validation_failed", profile = Some(prof)))
        // the validation aggregate fired the attrition metrics — a failing
        // run's drop profile is exactly when the report matters most
        return Result(conf.name, "validation_failed", 0L,
          validation, failed.map(e => s"expectation '${e.name}' below min_ratio"),
          attritionReport(prof), prof)
      }

      // storage stage: the sink and the catalog read the persisted result
      // the validation aggregate counted
      stage = "store"
      plog.foreach(_.startStep("store"))
      val storeT0 = System.currentTimeMillis()
      conf.storage.foreach { st =>
        st.write(processed)
        // storage.options.catalog_dir: register the written dataset into
        // the DataCatalog (utils/data_catalog.py parity — the reference
        // catalogs its DB tables; graft catalogs the written dataset).
        // The analysis runs over the still-persisted frame — one cheap
        // aggregate; catalog_table/catalog_tags override the defaults.
        val table = st.catalogTable.getOrElse(conf.name)
        st.catalogDir.foreach { catDir =>
          val cat = new DataCatalog(catDir)
          cat.registerTable(processed,
            table = table,
            description = Some(s"output of pipeline '${conf.name}'"),
            tags = st.catalogTags,
            path = if (st.typ == "jdbc" || st.typ == "noop") None else Some(st.path))
          plog.foreach(_.logger.logDataLineage(
            conf.sources.map(_.table).mkString(","), table, "pipeline", conf.name))
        }
        // storage.options.lineage_dir: persist the cross-run lineage
        // edges (lineage_tracker.py parity — every source table → the
        // written table, attributed to this pipeline)
        st.lineageDir.foreach { ld =>
          new LineageTracker(ld).trackTransformation(
            conf.sources.map(_.table),
            table,
            "pipeline", conf.name,
            Map("storage_type" -> st.typ, "path" -> st.path))
        }
      }
      val storeSec = (System.currentTimeMillis() - storeT0) / 1000.0
      plog.foreach(_.endStep("store", conf.storage.map(_ => math.max(rows, 0L))))
      val prof = profile.summary()
      plog.foreach { p =>
        conf.storage.foreach(st => p.logDataWrite(s"${st.typ}:${st.path}", math.max(rows, 0L), storeSec))
        p.endPipeline("success", recordsProcessed = math.max(rows, 0L), profile = Some(prof))
      }
      Result(conf.name, "success", rows, validation, errors.toSeq, attritionReport(prof), prof)
    } catch {
      case t: Throwable =>
        errors += t.getMessage
        val prof = profile.summary()
        plog.foreach { p =>
          p.logStepError(stage, t)
          p.endPipeline("failed", errorMessage = Option(t.getMessage), profile = Some(prof))
        }
        Result(conf.name, "failed", 0L, Map.empty, errors.toSeq, profile = prof)
    } finally {
      profile.close()
      caches.foreach(c => try c.unpersist(blocking = false) catch { case _: Throwable => () })
    }
  }
}
