package graft.core

import org.apache.spark.sql.SparkSession

/** SparkSession factory for the graft engine.
  *
  * Mirrors the session settings the reference's generated template uses
  * (/root/reference/src/data_pipeline/cli/main.py:905-911 — AQE on, UTC), plus
  * local-mode-appropriate shuffle parallelism. At cluster scale the same
  * builder is used without `.master`, letting the deployer choose.
  */
object Sessions {

  /** Apply graft's standard configuration to any builder. */
  def configure(b: SparkSession.Builder, shufflePartitions: Int): SparkSession.Builder =
    b.config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // Let AQE re-plan (and in particular COALESCE) the consumers of
      // persisted frames: with the default (false), every stage that reads
      // a cached relation inherits the cache's full static partitioning —
      // the dedup/dsir/model-fit composites persist their signature/count
      // relations and then run every downstream stage at
      // spark.sql.shuffle.partitions width regardless of data size
      // (measured at sf0.1: q_dedup_minhash 392 → 56 tasks, q_dsir_weights
      // 143 → 23, q_lm_bigram 198 → 74, with 10-25% wall-clock wins).
      // Scale-adaptive by construction — AQE sizes partitions from runtime
      // bytes, so a cluster-scale cache keeps cluster-scale parallelism.
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.filterPushdown", "true")
      // TIMESTAMP(NANOS) parquet (e.g. the events table) is otherwise
      // unreadable; consumers convert `ts div 1000` -> timestamp_micros.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // Every job posts its FULL explain string to the SQL listener even
      // with the UI off; a deep iterative lineage (label-propagation
      // loops) can make that string gigabytes and OOM the DRIVER on pure
      // string building. 16 MB keeps any real plan readable and bounds the
      // event payload. (Belt-and-braces: the loops also checkpoint per
      // round — see Dedup.clusterCandidates.)
      .config("spark.sql.maxPlanStringLength", (16 * 1024 * 1024).toString)
      // In local mode the driver, every executor thread, the block cache,
      // AND broadcast builds share ONE unified pool. The default 0.5
      // storageFraction lets edge-sized checkpoints (pageRank's eDeg, the
      // dedup signature caches) squat in eviction-protected storage while
      // 32 concurrent aggregations starve (measured: AGGREGATE_OUT_OF_
      // MEMORY at the 100x scale-stress with the heap half-free). 0.3
      // protects enough for hot small state; big cached blocks spill to
      // local disk, which costs far less than a dead query. No effect at
      // bench SFs (storage never nears the boundary there).
      .config("spark.memory.storageFraction", "0.3")
      // Spark's default 100-entry codegen cache cannot hold one pipeline
      // run, so a repeated run would recompile most of its generated
      // classes (LRU thrash). Distinct classes per run, measured on 4
      // cores: the perfbench curate recipe 129 (a warm run recompiled 114
      // at the default), the full examples/training_data_pipeline.yaml 568
      // (a warm run recompiles 13). 1000 holds the largest with headroom
      // and stays bounded (0 would mean unbounded). The cache is JVM-wide
      // and sized when CodeGenerator is first used: the first session
      // configured in a JVM sets it for every later one.
      .config("spark.sql.codegen.cache.maxEntries", "1000")
      .config("spark.ui.enabled", "false")

  /** Local session sized for this container (local[32], 32 shuffle partitions). */
  def local(cores: Int = 32, shufflePartitions: Int = 32, appName: String = "graft"): SparkSession = {
    val s = configure(
      SparkSession.builder().master(s"local[$cores]").appName(appName),
      shufflePartitions
    ).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
