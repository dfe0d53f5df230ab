package graft

import graft.core.PlanLint

/** Sweeping 100-TB-shape audit: every registered gate query is PLANNED
  * (not executed) at sf0.001 and linted for cluster-hostile physical
  * shapes — cartesian products, broadcast-nested-loop joins, windows with
  * an empty PARTITION BY. Anything a query legitimately needs is listed in
  * `allowed` with its justification; everything else fails the build, so a
  * future refactor that silently degrades a bucketed join into an
  * all-pairs scan, or drops a partition spec from a corpus window, is
  * caught at test time rather than at cluster scale.
  */
class PlanLintSpec extends SparkSpec {

  /** rule → queries allowed to carry it, each with its justification.
    *
    * `broadcast_nested_loop` entries are all one of two benign shapes:
    * (a) a deliberately-exact brute-force baseline over a bounded side, or
    * (b) a scalar/aggregate broadcast (one-row side) used as a threshold.
    * `global_window_limited` is rank-pushdown-rescued by construction
    * (partial top-k before the exchange — see PlanLint's scaladoc).
    */
  private val allowed: Map[String, Set[String]] = Map(
    // scalar-broadcast pattern: crossJoin(broadcast(<ONE-ROW aggregate>))
    // delivering corpus stats (min/max, mean, IQR fences, quantile cuts)
    // under every row — the broadcast side is 1 row by construction
    "q_bin_uniform" -> Set("broadcast_nested_loop"),       // FeatureLib.scala:81
    "q_bin_quantile" -> Set("broadcast_nested_loop"),      // FeatureLib.scala:125
    "q_fill_null_mean" -> Set("broadcast_nested_loop"),    // Relational.scala:120
    "q_encode_target" -> Set("broadcast_nested_loop"),     // FeatureLib.encodeTarget: one-row global-prior broadcast
    "q_scale_minmax" -> Set("broadcast_nested_loop"),      // FeatureLib.scaleFeatures global: one-row stats broadcast
    "q_fe_pca" -> Set("broadcast_nested_loop"),            // contraction-law gate: one-row mean/std stats broadcast
    "q_sample_seeded" -> Set("broadcast_nested_loop"),     // sampling-law gate: two one-row law-aggregate broadcasts
    // round-7 law gates (QueriesLaws): final assembly crossJoins of one-row
    // law aggregates — the same scalar-broadcast shape as q_sample_seeded
    "q_near_dedup_law" -> Set("broadcast_nested_loop"),
    "q_near_dedup_keepbest_law" -> Set("broadcast_nested_loop"),
    "q_seen_bloom_law" -> Set("broadcast_nested_loop"),
    "q_neardup_bloom_law" -> Set("broadcast_nested_loop"),
    "q_mojibake_law" -> Set("broadcast_nested_loop"),
    "q_dedup_clusters_law" -> Set("broadcast_nested_loop"),
    "q_semantic_dedup_law" -> Set("broadcast_nested_loop"),
    // whole-frame total over the ALREADY-AGGREGATED <= bins/topK+1-row
    // count frame (cut points / top-K election are driver literals, so
    // each corpus appears once in the plan — see Profiler.psiBins)
    "q_psi_drift" -> Set("global_window"),
    "q_psi_categorical" -> Set("global_window"),
    "q_outlier_rate" -> Set("broadcast_nested_loop"),      // QualityMetrics.scala:57
    "q_quality_monitor" -> Set("broadcast_nested_loop"),   // QualityMonitor.scala:80
    "q_quality_alerts" -> Set("broadcast_nested_loop"),    // QualityMonitor.scala:80
    "q_quality_classifier" -> Set("broadcast_nested_loop"),// QualityClassifier.scala:94
    // bounded-side broadcast: every vector × the ≤nlist centroid list
    // (IVF assignment; nlist is a few hundred at any scale). Since round 6
    // the gate also embeds the exact bruteTopK baseline (the recall-law
    // comparison), whose corpus × small-query-set BNLJ is the same
    // documented q_ann_brute shape.
    "q_ann_ivf" -> Set("broadcast_nested_loop"),           // Similarity.scala:168 + recall-law brute baseline
    // same shape: the tiny QUERY side × the ≤nlist coarse-centroid list
    // (probe routing); the corpus side never crosses anything. Also embeds
    // the recall-law brute baseline since round 6.
    "q_ann_ivfpq" -> Set("broadcast_nested_loop"),         // Pq.scala qProbes + recall-law brute baseline
    // exact ANN baseline: corpus × the SMALL query set (broadcast side) —
    // the documented O(n·|q|) exact path the LSH/IVF variants approximate
    "q_ann_brute" -> Set("broadcast_nested_loop"),         // Similarity.scala:50
    // same bounded-side shape: corpus × the broadcast EVAL-SUITE embedding
    // set (eval suites are thousands of rows); the corpus never shuffles
    // q_semantic_contamination itself needs NO allowance since round 8: the
    // MaxCosAgainst kernel made it a pure map (an allowance left behind
    // would hide a future accidental BNLJ). The law query keeps one for the
    // screen's corpus × ≤cells+1-row cell-bounds BNLJ
    // (Contamination.semanticContaminationScreened — the bound lookup is
    // the q_ann_ivf centroid-assignment shape).
    "q_semantic_contamination_law" -> Set("broadcast_nested_loop"),
    // GATE-ONLY shape: the synthetic-retriever construction crosses doc ids
    // with the 3-row broadcast query frame to derive deterministic rank
    // lists for the oracle; the rrfFuse OPERATOR under test only ever sees
    // per-query top-k-bounded lists (no corpus-sized side)
    "q_hybrid_rrf" -> Set("broadcast_nested_loop"),
    // same gate-only 3-row query-frame cross (mmrSelect's own input is the
    // retriever's bounded candidate list)
    "q_mmr" -> Set("broadcast_nested_loop"),
    // bounded global windows: ordered cumsum / row_number over an
    // ALREADY-AGGREGATED frame whose row count is the distinct-value /
    // bucket count, not the corpus (the same boundedness these operators
    // already assume by broadcasting that frame back)
    "q_spearman" -> Set("global_window"),                  // Profiler.scala:115 (distinct-value freq table)
    "q_encode_freq_label" -> Set("global_window"),         // FeatureLib label codes over distinct categories
    "q_length_histogram" -> Set("global_window"),          // share-of-total over histogram buckets
    "q_mutual_info" -> Set("global_window"),               // Profiler.mutualInfo: total over the aggregated joint frame (≤|A|·|B| rows)
    "q_pareto" -> Set("global_window"),                    // PivotLib.paretoReport: share/rank over the ≤k+1-row report frame
    "q_benford" -> Set("global_window"),                   // Profiler.benford: total over the ≤9-row digit frame
    "q_dd_quantiles" -> Set("broadcast_nested_loop"),      // IncrementalAgg.ddQuantiles: the |qs|-row literal cross onto the bucket frame
    "q_chi_square" -> Set("global_window"),                // Profiler.chiSquare: same aggregated-joint-frame margins as mutualInfo
    "q_funnel" -> Set("global_window"),                    // TimeSeriesLib.funnel: conversion ratios over the k-row per-step count frame
    // UniMax waterfall: the global-sort window chain runs over the
    // |groups|-row allocation frame (a mixture recipe is driver-sized by
    // definition; the corpus itself is aggregated once, never windowed)
    "q_unimax_alloc" -> Set("global_window"),              // Scale.unimaxAllocation
    "q_unimax_sample" -> Set("global_window"),             // same windows riding inside the allocation
    // analytic parameter table: rank over the |divisors(numHashes)|-row
    // S-curve error frame (≤ a few dozen rows for any hash count)
    "q_lsh_tune" -> Set("global_window")                   // Dedup.tuneLsh
  )

  test("every registered gate query plans clean of 100TB-hostile shapes") {
    val dir = sfDir
    val violations = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      val frame =
        try fn(spark, dir)
        catch { case e: Throwable => fail(s"$name failed to build: ${e.getMessage}") }
      PlanLint.lint(frame)
        .filterNot(f => f.rule == "global_window_limited") // rescued by construction
        .filterNot(f => allowed.getOrElse(name, Set.empty).contains(f.rule))
        .map(f => s"$name → $f")
    }
    assert(violations.isEmpty,
      s"${violations.size} unapproved scale-hostile plan shape(s):\n" +
        violations.mkString("\n"))
  }

  private def mainSources: Seq[java.io.File] = {
    def scalaFiles(d: java.io.File): Seq[java.io.File] =
      Option(d.listFiles()).getOrElse(Array.empty).toSeq.flatMap {
        case f if f.isDirectory => scalaFiles(f)
        case f if f.getName.endsWith(".scala") => Seq(f)
        case _ => Nil
      }
    scalaFiles(new java.io.File("src/main/scala/graft"))
  }

  test("one batch listener: only RunProfile registers Spark or query execution listeners") {
    // a run's jobs, stages, tasks and queries are observed in one place,
    // scoped by the run's job tag; a stream query reports through its one
    // StreamProfile
    val batch = "\\.addSparkListener\\(|listenerManager\\.register\\(".r
    val stream = "streams\\.addListener\\(".r
    val offenders = mainSources.flatMap { f =>
      val text = scala.io.Source.fromFile(f, "UTF-8").mkString
      val path = f.getPath
      val n = (if (path.endsWith("core/RunProfile.scala")) 0 else batch.findAllMatchIn(text).size) +
        (if (path.endsWith("streaming/StreamProfile.scala")) 0 else stream.findAllMatchIn(text).size)
      if (n > 0) Seq(s"$path: $n listener registration(s)") else Nil
    }
    assert(offenders.isEmpty, "register listeners in graft.core.RunProfile and graft.streaming.StreamProfile only:\n" +
      offenders.mkString("\n"))
  }

  test("one storage owner: only core/Checkpoints persists, cuts or releases a frame") {
    // an op that persists or cuts on its own decides its own lifetime and
    // its own executor-loss story; Checkpoints.hold/cut/scoped decide both
    // in one place
    val storage = "\\.(persist|localCheckpoint|checkpoint|unpersist)\\(|\\.cache\\(\\)".r
    val offenders = mainSources.filterNot(_.getPath.endsWith("core/Checkpoints.scala")).flatMap { f =>
      val n = storage.findAllMatchIn(scala.io.Source.fromFile(f, "UTF-8").mkString).size
      if (n > 0) Seq(s"${f.getPath}: $n persist/cut/release call(s)") else Nil
    }
    assert(offenders.isEmpty, "take and release storage through graft.core.Checkpoints only:\n" +
      offenders.mkString("\n"))
  }

  test("no unpartitioned per-key sequential scans in batch sources (RDD-shape lint)") {
    // PlanLint sees Catalyst plans; a groupByKey.flatMapGroups per-key scan
    // is an RDD-side shape it cannot see — and the one construct that dies
    // on a single 100×-scale key. Streaming state ops
    // ((flat)MapGroupsWithState) are the legitimate exception: their
    // per-key state is watermark-bounded, not series-sized. Ordered
    // per-partition passes (partition-indexed maps, catalyst-row RDDs
    // turned back into frames) belong in core/SegmentedScan.scala alone,
    // and media codecs are column functions, not external-Row round trips.
    val perKey = "\\.(flatMapGroups|mapGroups)\\s*[({]".r // call sites, not doc mentions
    val handRolled =
      "\\.mapPartitionsWithIndex\\b|\\.queryExecution\\.toRdd\\b|\\binternalCreateDataFrame\\(".r
    // the scan's callers also stay off the external-Row path
    val scanCallers = Seq("functions/TimeSeriesLib.scala", "vec/Prototypes.scala",
      "quality/Profiler.scala")
    val externalRows = "\\.rdd\\b|\\.zipWithIndex\\(\\)|\\bcreateDataFrame\\(".r
    // widenForDecode's `df.rdd.getNumPartitions` only reads a partition count
    val codecEscapes = "\\.rdd\\.mapPartitions\\b|\\bcreateDataFrame\\(".r
    val offenders = mainSources.flatMap { f =>
      val text = scala.io.Source.fromFile(f, "UTF-8").mkString
      val path = f.getPath
      val keyed = if (path.contains("/streaming/")) 0 else perKey.findAllMatchIn(text).size
      val passes = (if (path.endsWith("core/SegmentedScan.scala")) 0
                    else handRolled.findAllMatchIn(text).size) +
        (if (scanCallers.exists(path.endsWith)) externalRows.findAllMatchIn(text).size else 0) +
        (if (path.endsWith("multimodal/Multimodal.scala")) codecEscapes.findAllMatchIn(text).size else 0)
      (if (keyed > 0) Seq(s"$path: $keyed per-key sequential scan call(s)") else Nil) ++
        (if (passes > 0) Seq(s"$path: $passes hand-rolled per-partition pass call(s)") else Nil)
    }
    assert(offenders.isEmpty,
      "per-key full-series scans or hand-rolled per-partition passes found — use " +
        s"graft.core.SegmentedScan (ordered passes) or a column function (codecs):\n" +
        offenders.mkString("\n"))
  }

  test("PlanLint flags the shapes it exists to flag (positive control)") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val a = (1 to 10).toDF("x")
    val b = (1 to 10).toDF("y")
    // all-pairs theta join with no equi keys and both sides over the
    // broadcast threshold path → CartesianProduct
    val cross = a.hint("shuffle_replicate_nl").crossJoin(b)
    assert(PlanLint.lint(cross).exists(_.rule == "cartesian_product"))
    // global running sum: empty partition spec, no rank pushdown possible
    val g = a.withColumn("s", sum($"x").over(Window.orderBy($"x")))
    assert(PlanLint.lint(g).exists(_.rule == "global_window"))
    // rank + filter IS rescued by WindowGroupLimit pushdown → softer rule
    val topk = a.withColumn("r", row_number().over(Window.orderBy($"x"))).filter($"r" <= 3)
    val rules = PlanLint.lint(topk).map(_.rule)
    assert(rules.contains("global_window_limited") && !rules.contains("global_window"),
      s"expected rescued global window, got: $rules")
    // partitioned window is clean
    val part = a.withColumn("p", $"x" % 2)
      .withColumn("s", sum($"x").over(Window.partitionBy($"p").orderBy($"x")))
    assert(PlanLint.lint(part).isEmpty)
  }
}
