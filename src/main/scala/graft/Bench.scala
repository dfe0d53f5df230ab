package graft

import org.apache.spark.sql.SparkSession

import graft.core.RunProfile

/** Per-round benchmark: runs the headline queries at SPARK_GRAFT_SF_DIR and
  * prints ONE JSON line. Each query is fully evaluated via a noop-format
  * write (VERDICT r1: `.count()` lets Catalyst prune all columns and
  * under-measures projection/expression cost). Reported numbers are
  * per-query MEDIANS over `SPARK_GRAFT_BENCH_RUNS` (default 3) measured
  * runs; the JSON carries a `runs` field.
  *
  * Artifact split (VERDICT r7 #1): the driver captures only a bounded tail
  * of stdout, and round 7's single line — which had grown `adjudicated`,
  * `gc_sec`, and `load_avg` objects — was cut mid-`queries`, losing the
  * round's whole perf signal (BENCH_r07.json `parsed: null`). The stdout
  * line is now ONLY `{metric,value,unit,queries,failed?,runs,
  * calibration_sec,sf,detail}` (~1 KB at 34 queries); everything
  * diagnostic — adjudication figures, per-query GC, load averages, the
  * law-query ring, and each query's last measured run profile
  * ([[graft.core.RunProfile]]: jobs, stages, tasks, shuffle, spill, phase
  * times, rows per operator) — is written to a committed side file
  * (`bench_detail.json`, path overridable via SPARK_GRAFT_BENCH_DETAIL).
  * The stdout `queries` values are unchanged in meaning: the isolated truth
  * still wins when adjudication fires.
  *
  * Box-speed calibration (VERDICT r8 #1, dual since round 11 per VERDICT
  * r10 #1): before and after the suite, TWO fixed deterministic probes are
  * timed (median of 3 each) and stamped on the stdout line (so the NEXT
  * round can read them from BENCH_r*.json) and as a `calibration` object in
  * the side file — a CPU-bound sort+shuffle+hash-agg (`calibration_sec`)
  * and a >LLC ~2 GB wide-row shuffle+sort (`calibration_mem_sec`) that
  * detects the host's large-working-set/GC storms the CPU probe misses.
  * Self-adjudication scales its 1.5× trigger by the WORSE of the two
  * probe ratios vs the prior artifact (clamped to [1.0, 2.5]) — a box
  * measuring 2× slower for unchanged code stops re-measuring the whole
  * suite, and the artifact itself distinguishes "plan regressed" from
  * "box slowed".
  *
  * Self-adjudication (VERDICT r5 #1): in-suite medians on this box can be
  * poisoned by machine contention for one query's whole 3-run window
  * (BENCH_r05 reported q_dedup_incremental at 4.24 s where the isolated
  * truth was 0.95 s — a round-grading artifact must not require a human
  * re-measure). After the suite pass, any query whose median exceeds 1.5×
  * its previous-round value (read from the latest BENCH_r*.json in the CWD,
  * or SPARK_GRAFT_BENCH_PRIOR; 2× in round 6 — lowered per VERDICT r6 #4;
  * 1.25× for the top-5 headliners by prior cost since round 13 per VERDICT
  * r12 #2 — their multi-second medians afford the tighter band)
  * is re-measured in a FRESH SparkSession (suite session stopped first);
  * the stdout `queries` reports the isolated median and the side file
  * carries both figures under `adjudicated`.
  *
  * Configuration is env-var based for the driver, with a same-name system
  * property override so a ScalaTest spec can exercise the full artifact
  * path (including a forced adjudication) in-process — `sys.env` is
  * immutable inside a JVM.
  */
object Bench {

  /** Env var with same-name system-property override (props win: they are
    * settable in-process, which is how BenchArtifactSpec forces a synthetic
    * prior / tiny SF without a subprocess). */
  private def cfg(name: String): Option[String] =
    sys.props.get(name).orElse(sys.env.get(name))

  /** Cumulative JVM GC milliseconds (all collectors; local-mode executors
    * share this JVM, so this sees executor GC too). */
  private def gcMillis(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum
  }

  /** 1-minute system load average (OperatingSystemMXBean); -1 when the
    * platform can't report it. Stamped per query next to gc_sec so a judge
    * can tell machine contention from real regression without NOTES
    * archaeology (VERDICT r6 "What's wrong" #1).
    */
  private def loadAvg(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  /** JIT state: (MB used across CodeCache/CodeHeap pools, cumulative JIT
    * compilation ms). Stamped per query (VERDICT r8 #4): the suite-context
    * penalty hypothesis list starts with code-cache exhaustion — 34
    * codegen-heavy queries generate hundreds of classes, and a full code
    * cache silently disables the JIT for everything after it. These two
    * numbers either confirm that (usage near the reserve, compile time
    * flat-lining late in the suite) or eliminate it.
    */
  private def jitState(): (Double, Long) = {
    import scala.jdk.CollectionConverters._
    val used = java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getName.contains("CodeHeap") || p.getName.contains("Code Cache"))
      .map(_.getUsage.getUsed).sum / 1e6
    val comp = Option(java.lang.management.ManagementFactory.getCompilationMXBean)
      .filter(_.isCompilationTimeMonitoringSupported).map(_.getTotalCompilationTime).getOrElse(-1L)
    (used, comp)
  }

  /** queries map + CPU/memory calibrations of the most recent BENCH_r*.json
    * (flat numeric entries only — adjudicated object values in older
    * artifacts are skipped by the regex, which is fine: an adjudicated
    * query's `queries` entry is still the flat isolated number). Pre-round-9
    * artifacts carry no `calibration_sec`, pre-round-11 none carry
    * `calibration_mem_sec`; absent probes come back None. */
  private def priorRound(sfDir: String): (Map[String, Double], Option[Double], Option[Double]) = {
    def parse(f: java.io.File): (Map[String, Double], Option[Double], Option[Double]) = {
      val text = try scala.io.Source.fromFile(f, "UTF-8").mkString catch { case _: Throwable => "" }
      // priors are only comparable at the SAME scale factor: a 100× stress
      // run against sf0.1 priors would flag EVERY query as a regression and
      // re-measure the whole suite isolated (observed on the sf≈10 stress)
      val priorSf = "\"sf\"\\s*:\\s*\"([^\"]*)\"".r.findFirstMatchIn(text).map(_.group(1))
      if (!priorSf.contains(sfDir)) {
        System.err.println(s"[bench] prior ${f.getName} is for sf ${priorSf.getOrElse("?")}, current is $sfDir — skipping it")
        return (Map.empty, None, None)
      }
      val body = {
        val i = text.indexOf("\"queries\"")
        if (i < 0) "" else {
          val open = text.indexOf('{', i)
          val close = if (open < 0) -1 else text.indexOf('}', open) // flat object: first '}' ends it
          if (open >= 0 && close > open) text.substring(open + 1, close) else ""
        }
      }
      val pair = "\"([^\"]+)\"\\s*:\\s*(-?\\d+(?:\\.\\d+)?)".r
      val cal = "\"calibration_sec\"\\s*:\\s*(\\d+(?:\\.\\d+)?)".r
        .findFirstMatchIn(text).map(_.group(1).toDouble).filter(_ > 0)
      val calMem = "\"calibration_mem_sec\"\\s*:\\s*(\\d+(?:\\.\\d+)?)".r
        .findFirstMatchIn(text).map(_.group(1).toDouble).filter(_ > 0)
      (pair.findAllMatchIn(body).map(m => m.group(1) -> m.group(2).toDouble).toMap, cal, calMem)
    }
    cfg("SPARK_GRAFT_BENCH_PRIOR").map(p => parse(new java.io.File(p))).getOrElse {
      // newest VALID artifact wins: a truncated/wrong-sf round (BENCH_r07's
      // parsed-null capture) must not silently disable adjudication when an
      // older comparable round exists
      val rx = "BENCH_r(\\d+)\\.json".r
      Option(new java.io.File(".").listFiles()).getOrElse(Array.empty).toSeq
        .flatMap(f => f.getName match { case rx(n) => Some((n.toInt, f)); case _ => None })
        .sortBy(-_._1).view.map { case (_, f) => (f, parse(f)) }
        .collectFirst { case (f, m) if m._1.nonEmpty =>
          System.err.println(s"[bench] self-adjudication priors: ${f.getName} (${m._1.size} queries)")
          m
        }.getOrElse((Map.empty, None, None))
    }
  }

  /** Fixed-size box-speed probe (VERDICT r8 #1): a deterministic in-memory
    * sort + shuffle + hash-agg over generated data, ~2-3 s nominal on this
    * box's healthy state, INDEPENDENT of the scale factor. Cross-round wall
    * numbers on this container swing 1.3-2× for unchanged code (host-level
    * contention invisible from inside); the probe's ratio vs the prior
    * artifact's lets the artifact say "the box is slow" instead of leaving
    * judges and adjudication to guess. Median of `calRuns` after a warmup,
    * same slate discipline as the queries. SPARK_GRAFT_BENCH_CAL_FAKE
    * (test-only) pins the value without running; SPARK_GRAFT_BENCH_CAL_ROWS
    * scales the workload for in-process specs. */
  private def calibrate(s: SparkSession): Double = {
    cfg("SPARK_GRAFT_BENCH_CAL_FAKE").map(_.toDouble).getOrElse {
      import org.apache.spark.sql.functions._
      val rows = cfg("SPARK_GRAFT_BENCH_CAL_ROWS").map(_.toLong).getOrElse(36000000L)
      val calRuns = 3
      def run(): Unit =
        s.range(0L, rows, 1L, 64)
          .select((xxhash64(col("id")) % 1000000L).as("k"),
            (col("id") % 997L).cast("double").as("v"))
          .groupBy("k")
          .agg(sum("v").as("sv"), count(lit(1)).as("c"), avg("v").as("av"))
          .orderBy(desc("sv"), col("k")).limit(100)
          .write.format("noop").mode("overwrite").save()
      try {
        run() // warmup
        val times = (1 to calRuns).map { _ =>
          val t0 = System.nanoTime(); run(); (System.nanoTime() - t0) / 1e9
        }
        times.sorted.apply(times.size / 2)
      } catch {
        case e: Throwable =>
          System.err.println(s"[bench] calibration probe failed: ${e.getMessage}")
          -1.0
      }
    }
  }

  /** Memory-bandwidth/GC-sensitive box probe (VERDICT r10 #1): the
    * CPU-bound [[calibrate]] probe read healthy (1.78/1.48 s) across six
    * same-day sf10 runs in which q_dedup_minhash swung 37–126 s — including
    * 65.9 s on the UNCHANGED round-9 binary — because this container's
    * large-working-set degradation (GC wall 5–10×, JIT +45%) never shows up
    * in a probe whose working set fits cache. This probe shuffles and sorts
    * a fixed ~2 GB of wide deterministic rows (12 M × ~170 B: an id plus a
    * 128-char hex pad derived from it), far past any LLC, so host-level
    * memory-bandwidth/GC storms move it the way they move the real heavy
    * queries. Median of 3 after a warmup, like the CPU probe; adjudication
    * scales its trigger by the WORSE of the two ratios.
    * SPARK_GRAFT_BENCH_CAL_MEM_FAKE (test-only) pins the value;
    * SPARK_GRAFT_BENCH_CAL_MEM_ROWS scales the workload for in-process
    * specs. */
  private def calibrateMem(s: SparkSession): Double = {
    cfg("SPARK_GRAFT_BENCH_CAL_MEM_FAKE").map(_.toDouble).getOrElse {
      import org.apache.spark.sql.functions._
      val rows = cfg("SPARK_GRAFT_BENCH_CAL_MEM_ROWS").map(_.toLong).getOrElse(12000000L)
      val calRuns = 3
      def run(): Unit =
        s.range(0L, rows, 1L, 64)
          .select(col("id"),
            concat_ws("", Seq.tabulate(8)(i => hex(xxhash64(col("id"), lit(i)))): _*).as("pad"))
          .repartition(64, col("id"))
          .sortWithinPartitions(col("pad"), col("id"))
          .write.format("noop").mode("overwrite").save()
      try {
        run() // warmup
        val times = (1 to calRuns).map { _ =>
          val t0 = System.nanoTime(); run(); (System.nanoTime() - t0) / 1e9
        }
        times.sorted.apply(times.size / 2)
      } catch {
        case e: Throwable =>
          System.err.println(s"[bench] memory calibration probe failed: ${e.getMessage}")
          -1.0
      }
    }
  }

  /** Tightened-trigger membership (VERDICT r12 #2): the top-5 benched
    * queries by PRIOR cost adjudicate at 1.25× instead of the general
    * 1.5× — their multi-second medians have the signal-to-noise to afford
    * the tighter band, closing the gap where a real drift can hide
    * (q_semantic_dedup sat at 1.30× at sf0.1 in round 12 with no
    * adjudication fired). Everything else keeps 1.5×: sub-second queries
    * at 1.25× would re-measure on pure scheduling noise. Membership is
    * computed over the queries actually benched this invocation, so a dev
    * subset tightens its own top-5. */
  private[graft] def tightenedTriggerSet(
      prior: Map[String, Double], names: Seq[String]): Set[String] =
    prior.toSeq
      .filter { case (k, v) => v > 0 && names.contains(k) }
      .sortBy { case (k, v) => (-v, k) } // deterministic under prior ties
      .take(5).map(_._1).toSet

  /** Deterministic per-round suite-order rotation (VERDICT r13 #5):
    * late-suite queries read ~15% slower when the end probes degrade, and
    * a FIXED measurement order turns that into a SYSTEMATIC per-query
    * bias across rounds — the same tail queries always pay it
    * (q_pagerank read 2.72 s at suite start vs ~3.2 s late-suite in
    * round 13 on the same binary). Shuffling the order with a per-round
    * seed converts the bias into zero-mean noise across rounds; the side
    * file records each query's position (`order`) and the stdout line the
    * seed (`order_seed`), so cross-round comparisons can check position
    * parity instead of guessing. Results are keyed by name and each query
    * measures from a clean slate, so ordering changes no value's meaning.
    * Seed = round number, inferred as newest committed BENCH/STRESS
    * artifact number + 1; SPARK_GRAFT_BENCH_ORDER_SEED overrides (0 =
    * keep the declared order, for specs and targeted dev comparisons). */
  private[graft] def orderSeed(): Long =
    cfg("SPARK_GRAFT_BENCH_ORDER_SEED").map(_.toLong).getOrElse {
      val rx = "(?:BENCH|STRESS)_r(\\d+)\\.json".r
      Option(new java.io.File(".").listFiles()).getOrElse(Array.empty).toSeq
        .flatMap(f => rx.findFirstMatchIn(f.getName).map(_.group(1).toInt))
        .maxOption.getOrElse(0).toLong + 1L
    }

  private[graft] def shuffled(names: Seq[String], seed: Long): Seq[String] =
    if (seed == 0L) names else new scala.util.Random(seed).shuffle(names)

  /** Headline set: one representative heavy query per subsystem. */
  val headline: Seq[String] = Seq(
    "q_agg_grouped",       // shuffle agg
    "q_join_equi",         // 3-way join
    "q_win_running",       // ordered window over full lineitem
    "q_ts_rolling_time",   // range-frame event-time window
    "q_ts_grid_ffill",     // grid gen + join + ffill
    "q_pivot_table_multi", // pivot
    "q_dedup_exact",       // hash dedup over documents
    "q_dedup_minhash",     // MinHash-LSH candidate join
    "q_ann_brute",         // brute cosine top-k
    "q_ann_lsh",           // LSH-bucketed ANN (the scale path)
    "q_asof_join",         // union+window as-of join
    "q_range_join",        // bucketed interval join
    "q_text_quality",      // full-text expression scan
    "q_stream_session",    // session windows (batch semantics)
    // round-4 additions (per-query timings comparable across rounds; the
    // TOTAL line grows with the list — compare per-query, not totals)
    "q_lm_score",          // corpus-trained unigram LM scoring
    "q_quota_per_source",  // two-level per-domain cap
    "q_dedup_incremental", // batch-bloom snapshot dedup
    "q_para_dedup",        // corpus-wide paragraph dedup + reassembly
    "q_dup_spans",         // positional k-gram duplicate-span detection
    // round-5 additions
    "q_multimodal_features", // real ImageIO encode+decode round-trip
    "q_multimodal_audio",    // real AudioSystem WAV encode+decode round-trip
    "q_fe_dbscan",           // grid-bucketed DBSCAN + pointer-jump components
    "q_html_to_text",        // crawl-markup strip + native entity decode
    "q_lm_bigram",           // Stupid-Backoff bigram LM (pair counts + 2 broadcasts)
    "q_semantic_contamination", // corpus × broadcast eval-embedding max-cos
    // round-5 continuation additions
    "q_bm25",                // lexical retrieval: postings + broadcast query terms
    "q_image_neardup",       // real decode → dHash → Hamming block join
    "q_weighted_sample",     // md5-keyed A-ES weighted sample, grouped top-k
    // round-6 additions
    "q_join_analytic",       // TPC-H Q3 shape: dim broadcast + big-big AQE join + top-k
    "q_ts_ewm",              // affine segmented scan (ex per-key flatMapGroups)
    "q_sessionize",          // segmented prefix scan (ex lag+running-sum window)
    "q_transitions",         // segmented adjacent pairs (ex per-entity lead window)
    // round-7 additions (VERDICT r6 #6: the two heaviest plan families with
    // no timing track — an iterative-graph loop and a golden-family
    // cells → pairs → connected-components composite)
    "q_pagerank",            // iterative convergence loop + periodic lineage cut
    "q_semantic_dedup",      // SemDeDup: driver Lloyd + cell pairs + CC + election
    // round-9 additions (new beyond-reference operators get a perf track
    // from birth; priors appear in BENCH_r09, adjudication skips them
    // until then)
    "q_dsir_weights",        // DSIR: 2 gram scans + fit + per-doc sum
    "q_cut_dup_spans",       // ExactSubstr cut: flag + canonical + token rewrite
    "q_ppl_buckets",         // CCNet: LM score + per-lang ntile
    // round-12 additions (VERDICT r11 #6: the round-11 heavy ops were
    // stress-probed but had no sf0.1 track — a regression would only
    // surface at the next sf10 run; priors appear in BENCH_r12,
    // adjudication skips them until then)
    "q_lang_id_model",       // char-trigram lang-ID fit + pure-map apply
    "q_repetition_signals",  // Gopher A1.1 family: line kernel + gram aggregate
    "q_c4_clean",            // C4/T5 line rules + page gates (pure map)
    "q_soft_dedup",          // SoftDeDup weighting: one sha2-key window
    // round-12 session-2 addition (same from-birth rule)
    "q_proto_select"         // SSL prototypes: k dots/row + distributed-ordinal rank
  )

  /** Secondary ring (VERDICT r7 #8): the heaviest CORRECTNESS-only law
    * queries get a timing track in the side file so a plan regression in a
    * law gate is visible between rounds. Not part of the stdout total —
    * they are oracle shapes, not headliners. */
  val lawRing: Seq[String] = Seq(
    "q_dedup_minhash_law",   // planted-pair MinHash oracle (brute pair check)
    "q_semantic_dedup_law",  // SemDedup vs exact threshold-graph components
    "q_winnow_law",          // winnowing kernel replayed via HOFs
    // round-10 addition: the fit/apply split's apply is the new pure-map
    // scoring path (VocabLogProbMean + broadcast floors) — tracked from
    // birth like the r9 headliner additions
    "q_ppl_fit_apply_law"    // CCNet fit/apply vs batch ntile, both paths priced
  )

  def main(args: Array[String]): Unit = {
    val seed = orderSeed()
    // dev: bench a subset; the per-round shuffle applies either way
    val names = shuffled(if (args.nonEmpty) args.toSeq else headline, seed)
    System.err.println(s"[bench] suite order seed: $seed")
    val sfDir = cfg("SPARK_GRAFT_SF_DIR").getOrElse("/root/testdata/sf0.1")
    val cpus = cfg("SPARK_GRAFT_CPUS").getOrElse("32")
    val detailPath = cfg("SPARK_GRAFT_BENCH_DETAIL").getOrElse("bench_detail.json")
    // In-process invocation (BenchArtifactSpec) must not stop the suite's
    // shared session/context — getOrCreate would RETURN that session and
    // `stop()` would kill every subsequent suite. Driver invocation owns its
    // session as before; adjudication's fresh-session isolation is nominal
    // under an inherited context (one SparkContext per JVM), which is fine —
    // the spec gates the ARTIFACT path, not isolation physics.
    val inheritedSession = SparkSession.getDefaultSession.filter(s => !s.sparkContext.isStopped)
    val ownsSession = inheritedSession.isEmpty
    val spark = inheritedSession.getOrElse {
      graft.core.Sessions.configure(
        SparkSession.builder().master(s"local[$cpus]"), cpus.toInt).getOrCreate()
    }
    spark.sparkContext.setLogLevel("WARN")

    val qs = SparkEntry.queries
    // Warm up the JVM/codegen/parquet-reader paths once so the first measured
    // query reflects query cost, not session bring-up.
    try {
      spark.read.parquet(s"$sfDir/lineitem.parquet")
        .groupBy("l_returnflag").count().write.format("noop").mode("overwrite").save()
    } catch { case _: Throwable => () }

    // Box-speed probes BEFORE the suite (after warmup): the numbers every
    // later comparison is conditioned on. Two probes since round 11: the
    // CPU-bound one and the >LLC shuffle+sort one (VERDICT r10 #1).
    val calSec = calibrate(spark)
    System.err.println(f"[bench] calibration probe (cpu): $calSec%.3f s")
    val calMemSec = calibrateMem(spark)
    System.err.println(f"[bench] calibration probe (mem): $calMemSec%.3f s")

    val unknown = names.filterNot(qs.contains)
    unknown.foreach(n => System.err.println(s"[bench] unknown query name: $n"))
    // per-query MEDIAN of `runs` measured executions (after one warmup):
    // single-run numbers swing ±20-30% on this box (VERDICT r4 graded a
    // pure-noise 1.24× as a possible regression) — medians make rounds
    // comparable without folklore about run variance
    val runs = cfg("SPARK_GRAFT_BENCH_RUNS").getOrElse("3").toInt

    /** One warmup + `runs` measured executions of `name` on `s`; returns
      * (median seconds if ALL runs green, mean GC sec per measured run,
      * system load average sampled right after the runs, code-cache MB +
      * cumulative JIT ms sampled after the runs, the last measured run's
      * profile). */
    def measure(s: SparkSession, name: String)
        : (Option[Double], Double, Double, (Double, Long), RunProfile.Summary) = {
      // Each run starts from a CLEAN memory slate. A run is one
      // Checkpoints scope, so the holds and cuts its query takes (iterative
      // operators' truncated state, API-returned materialized results) are
      // released when it ends, and a GC nudge before each run releases
      // lagging broadcast blocks (the ContextCleaner is reference-
      // triggered). Left to accumulate across a 34-query session, they
      // denied a later query's aggregations execution memory (measured:
      // q_pagerank AGGREGATE_OUT_OF_MEMORY in suite context at the 100x
      // stress while passing standalone).
      def run(): Unit = graft.core.Checkpoints.scoped {
        qs(name)(s, sfDir).write.format("noop").mode("overwrite").save()
      }
      System.gc()
      try run() catch { case e: Throwable => System.err.println(s"[bench] $name warmup failed: ${e.getMessage}") }
      val gc0 = gcMillis()
      var profile = RunProfile.empty
      val times = (1 to runs).flatMap { _ =>
        System.gc()
        val ((ok, sec), prof) = RunProfile.record(s) {
          val t0 = System.nanoTime()
          val ok = try { run(); true } catch {
            case e: Throwable => System.err.println(s"[bench] $name failed: ${e.getMessage}"); false
          }
          (ok, (System.nanoTime() - t0) / 1e9)
        }
        profile = prof
        if (ok) Some(sec) else None
      }
      val gcPerRun = (gcMillis() - gc0) / 1e3 / runs
      // a PARTIALLY failing query (some runs ok, some not) must be as loud as
      // a fully broken one: a median over the surviving runs would grade an
      // intermittent OOM as healthy. Only an all-runs-green query gets a time.
      if (times.nonEmpty && times.size < runs)
        System.err.println(s"[bench] $name: only ${times.size}/$runs runs succeeded — reporting as failed")
      val median = if (times.size == runs) times.sorted.drop(times.size / 2).headOption else None
      (median, gcPerRun, loadAvg(), jitState(), profile)
    }

    val measured = names.filter(qs.contains).map { name =>
      val (median, gc, la, jit, prof) = measure(spark, name)
      (name, median, gc, la, jit, prof)
    }
    // Law ring rides the same warmed session, after the headliners, and only
    // on a full (no-args) invocation — a dev subset run shouldn't pay for it.
    val lawMeasured =
      if (args.nonEmpty) Seq.empty
      else shuffled(lawRing, seed).filter(qs.contains).map { name =>
        val (median, gc, la, jit, prof) = measure(spark, name)
        (name, median, gc, la, jit, prof)
      }
    // Box-speed probe AFTER the suite too (round 10): the start probe is a
    // point sample — STRESS_r10's first cut carried 2-5× normalized
    // "regressions" that same-session isolated re-measures dissolved as
    // mid-run host drift; bracketing probes make that drift visible IN the
    // artifact instead of requiring a forensic re-run.
    val calEndSec = calibrate(spark)
    System.err.println(f"[bench] calibration probe (cpu, end): $calEndSec%.3f s")
    val calMemEndSec = calibrateMem(spark)
    System.err.println(f"[bench] calibration probe (mem, end): $calMemEndSec%.3f s")
    if (ownsSession) spark.stop()

    // Self-adjudication: a suite median >1.5× the prior round's value (and
    // above a 0.3 s noise floor) gets ONE isolated re-measure in a fresh
    // SparkSession; the isolated median is what `queries` reports, with
    // both figures preserved in the side file. (The trigger was 2× in
    // round 6; BENCH_r06 carried a broad 1.1-1.6× contention drift that sat
    // under it — VERDICT r6 #4 lowered it to 1.5×.)
    val (prior, priorCal, priorCalMem) = priorRound(sfDir)
    // Calibration-aware trigger (VERDICT r8 #1): when the prior artifact
    // carries a calibration and the probe says THIS box is slower, scale the
    // 1.5× trigger by the slowdown ratio — a box running 1.8× slower for
    // unchanged code must not send half the suite through isolated
    // re-measures. Since round 11 the trigger uses the WORSE of the CPU and
    // memory-probe ratios (VERDICT r10 #1): a host memory-bandwidth/GC storm
    // the CPU probe under-detects must not grade unchanged heavy queries as
    // regressions. Clamped: never below 1.0 (a fast box doesn't tighten the
    // trigger — sub-1.5× regressions staying invisible is the status quo),
    // never above 2.5 (a broken/contended probe must not disable
    // adjudication outright).
    def ratioOf(priorSec: Option[Double], sec: Double): Option[Double] =
      (priorSec, Some(sec).filter(_ > 0)) match {
        case (Some(p), Some(c)) if p > 0 => Some(c / p)
        case _ => None
      }
    val calRatioCpu = ratioOf(priorCal, calSec)
    val calRatioMem = ratioOf(priorCalMem, calMemSec)
    val calRatio = (calRatioCpu.toSeq ++ calRatioMem.toSeq).maxOption.getOrElse(1.0)
    val triggerScale = math.min(2.5, math.max(1.0, calRatio))
    if (triggerScale != 1.0)
      System.err.println(f"[bench] box calibration ratio $calRatio%.2f vs prior (cpu ${calRatioCpu.getOrElse(-1.0)}%.2f, mem ${calRatioMem.getOrElse(-1.0)}%.2f) — adjudication trigger scaled to ${1.5 * triggerScale}%.2fx")
    // noise floor: sub-0.3 s queries swing multiples on pure scheduling
    // noise; overridable so the artifact spec can force an adjudication on
    // a fast sf0.001 query without a synthetic sleep
    val noiseFloor = cfg("SPARK_GRAFT_BENCH_NOISE_FLOOR").map(_.toDouble).getOrElse(0.3)
    val top5ByPrior = tightenedTriggerSet(prior, names)
    def baseTrigger(name: String): Double = if (top5ByPrior(name)) 1.25 else 1.5
    val suspects = measured.collect {
      case (name, Some(suite), _, _, _, _) if suite >= noiseFloor &&
        prior.get(name).exists(p => p > 0 && suite > baseTrigger(name) * triggerScale * p) => name -> suite
    }
    /** (suite, isolated, prior, probeCpu, probeMem) per adjudicated query. */
    val adjudicated: Map[String, (Double, Double, Double, Double, Double)] =
      suspects.map { case (name, suite) =>
        System.err.println(f"[bench] $name suite median $suite%.3f s > ${baseTrigger(name)}%.2fx prior ${prior(name)}%.3f s — re-measuring isolated")
        val fresh = inheritedSession.getOrElse {
          SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
          val f = graft.core.Sessions.configure(
            SparkSession.builder().master(s"local[$cpus]"), cpus.toInt).getOrCreate()
          f.sparkContext.setLogLevel("WARN")
          f
        }
        // Probe bracket ON the re-measure (VERDICT r11 #2): the suite is
        // bracketed by start/end probes, but adjudication re-measures run
        // OUTSIDE that bracket — STRESS_r11's q_cut_dup_spans carried a
        // 51.7 s isolated figure whose storm exoneration lived only in
        // NOTES prose. Each isolated median now stamps its own (cpu, mem)
        // probe pair into the side file, so the artifact itself says
        // whether the re-measure window was clean.
        val (isoMedian, probeCpu, probeMem) = try {
          val (m, _, _, _, _) = measure(fresh, name)
          (m, calibrate(fresh), calibrateMem(fresh))
        } finally { if (ownsSession) fresh.stop() }
        name -> (suite, isoMedian.getOrElse(suite), prior(name), probeCpu, probeMem)
      }.toMap

    // a broken query must NOT deflate the timing line — report it separately;
    // unknown names count as failed too (an all-typo invocation previously
    // emitted a plausible-looking zero-total success line)
    def fmt(v: Double): String = String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    val js = graft.core.Json.str _
    val good = measured.collect { case (k, Some(v), _, _, _, _) =>
      k -> adjudicated.get(k).map(_._2).getOrElse(v) // isolated truth wins
    }
    val failed = measured.collect { case (k, None, _, _, _, _) => js(k) } ++ unknown.map(js)
    val qJson = good.map { case (k, v) => js(k) + ":" + fmt(v) }.mkString("{", ",", "}")
    val failedJson = if (failed.isEmpty) "" else s""","failed":[${failed.mkString(",")}]"""

    // Diagnostics go to the SIDE FILE, never the stdout line (VERDICT r7 #1).
    val all = measured ++ lawMeasured
    val gcJson = all.collect { case (k, Some(_), gc, _, _, _) => js(k) + ":" + fmt(gc) }.mkString("{", ",", "}")
    val laJson = all.collect { case (k, Some(_), _, la, _, _) => js(k) + ":" + fmt(la) }.mkString("{", ",", "}")
    // JIT track (VERDICT r8 #4): code-cache MB + cumulative compile ms after
    // each query — the suite-context-penalty diagnosis data
    val jitJson = all.collect { case (k, Some(_), _, _, (cc, cm), _) =>
      js(k) + s""":{"code_cache_mb":${fmt(cc)},"compile_ms":$cm}"""
    }.mkString("{", ",", "}")
    val adjJson = adjudicated.toSeq.sortBy(_._1).map { case (k, (s, i, p, pc, pm)) =>
      // *_vs_start > ~1.3 marks a storm window: the re-measure ran on a
      // box measurably slower than the suite's own start bracket
      def rel(probe: Double, start: Double): String =
        if (probe > 0 && start > 0) fmt(probe / start) else "null"
      js(k) + s""":{"suite":${fmt(s)},"isolated":${fmt(i)},"prior":${fmt(p)},""" +
        s""""probes":{"cpu":${fmt(pc)},"mem":${fmt(pm)},""" +
        s""""cpu_vs_start":${rel(pc, calSec)},"mem_vs_start":${rel(pm, calMemSec)}}}"""
    }.mkString("{", ",", "}")
    val lawJson = lawMeasured.collect { case (k, Some(v), _, _, _, _) => js(k) + ":" + fmt(v) }.mkString("{", ",", "}")
    val lawFailed = lawMeasured.collect { case (k, None, _, _, _, _) => js(k) }
    val lawFailedJson = if (lawFailed.isEmpty) "" else s""","law_failed":[${lawFailed.mkString(",")}]"""
    val calJson = {
      def opt(v: Option[Double]) = v.map(fmt).getOrElse("null")
      // `ratio` is the ratio the trigger actually used = worse of cpu/mem
      s"""{"sec":${fmt(calSec)},"end_sec":${fmt(calEndSec)},"prior_sec":${opt(priorCal)},""" +
        s""""mem_sec":${fmt(calMemSec)},"mem_end_sec":${fmt(calMemEndSec)},"mem_prior_sec":${opt(priorCalMem)},""" +
        s""""cpu_ratio":${opt(calRatioCpu)},"mem_ratio":${opt(calRatioMem)},""" +
        s""""ratio":${fmt(calRatio)},"trigger_scale":${fmt(triggerScale)}}"""
    }
    // measurement order per query (round 14, VERDICT r13 #5): position
    // index in THIS run's shuffled suite — the data a position-parity
    // comparison needs
    val orderJson = all.zipWithIndex.map { case ((k, _, _, _, _, _), i) =>
      js(k) + ":" + i
    }.mkString("{", ",", "}")
    // per query, the last measured run's profile: jobs, stages, tasks,
    // shuffle, spill, GC, phase times and rows per operator
    val profileJson = all.map { case (k, _, _, _, _, prof) => js(k) + ":" + prof.toJson }.mkString("{", ",", "}")
    val detail =
      s"""{"adjudicated":$adjJson,"law_ring":$lawJson$lawFailedJson,"calibration":$calJson,"gc_sec":$gcJson,"load_avg":$laJson,"jit":$jitJson,"order":$orderJson,"order_seed":$seed,"runs":$runs,"sf":${js(sfDir)},"profile":$profileJson}"""
    try {
      java.nio.file.Files.write(java.nio.file.Paths.get(detailPath),
        (detail + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    } catch {
      case e: Throwable => System.err.println(s"[bench] could not write $detailPath: ${e.getMessage}")
    }

    // calibration_sec rides the stdout line BY DESIGN (~30 B): BENCH_r*.json
    // is the only artifact the next round's priorRound reads, so the box
    // probe must live there to be comparable cross-round
    println(s"""{"metric":"total","value":${fmt(good.map(_._2).sum)},"unit":"sec","queries":$qJson$failedJson,"runs":$runs,"order_seed":$seed,"calibration_sec":${fmt(calSec)},"calibration_end_sec":${fmt(calEndSec)},"calibration_mem_sec":${fmt(calMemSec)},"calibration_mem_end_sec":${fmt(calMemEndSec)},"sf":${js(sfDir)},"detail":${js(detailPath)}}""")
  }
}
