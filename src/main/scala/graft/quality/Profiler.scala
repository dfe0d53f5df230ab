package graft.quality

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{NumericType, StringType, TimestampType, DateType}

/** Data profiler — §2.C, graft's equivalent of utils/data_profiler.py
  * (33-241). Each profile is ONE aggregate pass per table (all columns'
  * statistics computed in a single job), emitted in long format
  * (column, metric, value) so downstream consumers don't depend on width.
  */
object Profiler {

  /** Numeric moment statistics per column (data_profiler.py:116-153):
    * count, nulls, distinct, mean, stddev, min, max, median, q1, q3,
    * zeros/positive/negative counts. One pass over all numeric columns.
    */
  def numericProfile(df: DataFrame, columns: Seq[String] = Nil): DataFrame = {
    val cols = if (columns.nonEmpty) columns
               else df.schema.fields.filter(_.dataType.isInstanceOf[NumericType]).map(_.name).toSeq
    val aggs: Seq[Column] = cols.flatMap { c =>
      val v = col(c).cast("double")
      Seq(
        count(v).as(s"${c}__count"),
        sum(when(v.isNull, 1).otherwise(0)).as(s"${c}__nulls"),
        countDistinct(v).as(s"${c}__distinct"),
        avg(v).as(s"${c}__mean"),
        stddev(v).as(s"${c}__stddev"),
        min(v).as(s"${c}__min"),
        max(v).as(s"${c}__max"),
        percentile(v, lit(0.5)).as(s"${c}__median"),
        percentile(v, lit(0.25)).as(s"${c}__q1"),
        percentile(v, lit(0.75)).as(s"${c}__q3"),
        sum(when(v === 0, 1).otherwise(0)).as(s"${c}__zeros"),
        sum(when(v > 0, 1).otherwise(0)).as(s"${c}__positive"),
        sum(when(v < 0, 1).otherwise(0)).as(s"${c}__negative")
      )
    }
    val wide = df.agg(aggs.head, aggs.tail: _*)
    toLong(wide, cols)
  }

  /** Categorical/string statistics (data_profiler.py:171-189): length
    * min/max/avg, empty + whitespace-only counts, distinct count.
    */
  def stringProfile(df: DataFrame, columns: Seq[String] = Nil): DataFrame = {
    val cols = if (columns.nonEmpty) columns
               else df.schema.fields.filter(_.dataType == StringType).map(_.name).toSeq
    val aggs: Seq[Column] = cols.flatMap { c =>
      val v = col(c)
      Seq(
        count(v).cast("double").as(s"${c}__count"),
        countDistinct(v).cast("double").as(s"${c}__distinct"),
        min(length(v)).cast("double").as(s"${c}__min_len"),
        max(length(v)).cast("double").as(s"${c}__max_len"),
        avg(length(v)).as(s"${c}__avg_len"),
        sum(when(v === "", 1).otherwise(0)).cast("double").as(s"${c}__empty"),
        sum(when(trim(v) === "" && v =!= "", 1).otherwise(0)).cast("double").as(s"${c}__whitespace")
      )
    }
    toLong(df.agg(aggs.head, aggs.tail: _*), cols)
  }

  /** Value counts with deterministic top-k (data_profiler.py:100-104):
    * ties broken by value so the result is stable across runs/engines.
    */
  def valueCounts(df: DataFrame, column: String, k: Int = 10): DataFrame =
    df.groupBy(col(column))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col(column).asc)
      .limit(k)

  /** Datetime stats (data_profiler.py:155-169): min/max plus the modal
    * year/month/day — mode computed deterministically (count desc, value asc).
    */
  def datetimeProfile(df: DataFrame, column: String): DataFrame = {
    val parts = Seq("year" -> year(col(column)), "month" -> month(col(column)), "day" -> dayofmonth(col(column)))
    val modes = parts.map { case (name, e) =>
      df.groupBy(e.as("v")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("v").asc).limit(1)
        .select(lit(name).as("metric"), col("v").cast("double").as("value"))
    }
    // TIMESTAMP_NTZ can't cast straight to double; route through TIMESTAMP
    // (session tz is UTC, so epoch semantics match the DuckDB oracle).
    val bounds = df.agg(
      min(col(column)).cast("timestamp").cast("double").as("min_epoch"),
      max(col(column)).cast("timestamp").cast("double").as("max_epoch"))
      .select(expr("stack(2, 'min_epoch', min_epoch, 'max_epoch', max_epoch) as (metric, value)"))
    modes.reduce(_.unionByName(_)).unionByName(bounds)
  }

  /** Pairwise Pearson correlation matrix in ONE aggregate pass
    * (data_profiler.py:213-241): corr for every pair, long format.
    */
  def correlationMatrix(df: DataFrame, columns: Seq[String]): DataFrame = {
    val pairs = for { i <- columns.indices; j <- columns.indices if i < j } yield (columns(i), columns(j))
    val aggs = pairs.map { case (a, b) => corr(col(a), col(b)).as(s"${a}__${b}") }
    val wide = df.agg(aggs.head, aggs.tail: _*)
    val stacked = pairs.map { case (a, b) => s"'$a', '$b', `${a}__${b}`" }.mkString(", ")
    wide.select(expr(s"stack(${pairs.size}, $stacked) as (col_a, col_b, pearson)"))
  }

  /** Spearman rank correlation: Pearson over rank-transformed columns —
    * ranks via window, correlation as a plain aggregate (distributed;
    * data_profiler.py:227 uses pandas `corr(method='spearman')`).
    */
  def spearman(df: DataFrame, a: String, b: String): DataFrame = {
    // Average rank per VALUE, computed on the distinct-value frequency table
    // (cumulative count ordered by value, avg rank = preceding + (n+1)/2) and
    // broadcast-joined back. This keeps the global ordering on the distinct
    // set only — no single-partition window over the full table (a naive
    // rank().over(Window.orderBy(...)) funnels every row through one task).
    def ranks(c: String, out: String): DataFrame = {
      val freq = df.groupBy(col(c).as("__v")).agg(count(lit(1)).as("__n"))
      val w = Window.orderBy(col("__v")).rowsBetween(Window.unboundedPreceding, -1)
      freq.withColumn(out, coalesce(sum(col("__n")).over(w), lit(0L)) + (col("__n") + 1) / 2.0)
        .select(col("__v"), col(out))
    }
    df.select(col(a).as("__a"), col(b).as("__b"))
      .join(broadcast(ranks(a, "__ra")).withColumnRenamed("__v", "__a"), Seq("__a"))
      .join(broadcast(ranks(b, "__rb")).withColumnRenamed("__v", "__b"), Seq("__b"))
      .agg(corr(col("__ra"), col("__rb")).as("spearman"))
  }

  /** Spearman for columns whose DISTINCT-value set may itself be
    * corpus-sized (continuous data at scale): `spearman` above broadcasts
    * the distinct-value rank table, which is the right call for discrete/
    * binned data but caps at the broadcast limit. This variant never
    * broadcasts and never funnels rows through one task. Global ordinals
    * come from a [[graft.core.SegmentedScan]] over the value (pass 1
    * counts each partition's rows, the fold turns the counts into ordinal
    * starts), then a groupBy(value) averages tied ordinals — identical to
    * rank + (ties−1)/2 — and a shuffle (sort-merge) join goes back on the
    * value. Every stage partitions on the value key; nothing depends on
    * |distinct| or broadcasts anything.
    */
  def spearmanLarge(df: DataFrame, a: String, b: String, partitions: Int = 0): DataFrame = {
    import org.apache.spark.sql.types.{LongType, StructField}
    import graft.core.SegmentedScan
    val p = if (partitions > 0) partitions
            else df.sparkSession.sessionState.conf.numShufflePartitions
    def ranks(c: String, out: String): DataFrame = {
      val vals = df.select(col(c).as("__v")).where(col("__v").isNotNull)
      val scan = SegmentedScan(vals, Seq(col("__v")), numPartitions = p)
      val schema = scan.schema.add(StructField("__ord", LongType, nullable = false))
      // ordinals are 1-based; a tie group's ordinals are consecutive, so
      // avg(ordinal) == rank() + (n_ties - 1)/2 exactly (midpoints are
      // representable: .0 or .5)
      scan.run(schema)(_.size.toLong)(SegmentedScan.prefix[Long, Long](0L)(_ + _)) { (start, it) =>
        val app = new SegmentedScan.Appender(schema, 1)
        var ordinal = start
        it.map { r => ordinal += 1L; app(0) = ordinal; app(r) }
      }.groupBy(col("__v")).agg(avg(col("__ord")).as(out))
    }
    df.select(col(a).as("__a"), col(b).as("__b"))
      .join(ranks(a, "__ra").withColumnRenamed("__v", "__a"), Seq("__a"))
      .join(ranks(b, "__rb").withColumnRenamed("__v", "__b"), Seq("__b"))
      .agg(corr(col("__ra"), col("__rb")).as("spearman"))
  }

  /** Population Stability Index between a REFERENCE frame (the training
    * snapshot / last accepted batch) and a CURRENT frame over one numeric
    * column — the standard numeric-feature drift gate (PSI < 0.1 stable,
    * 0.1-0.25 moderate shift, > 0.25 investigate), complementing the
    * token-level KL/JS of TextLib.tokenDivergence.
    *
    * Bin edges are exact percentiles OF THE REFERENCE (same `percentile`
    * aggregate + broadcast + sum-of-indicators assignment as
    * FeatureLib.binQuantileGrouped — cuts are deterministic and DuckDB-
    * replayable via quantile_cont, unlike approx_percentile). Scale shape:
    * one map-side-combined aggregate per side for the bin counts, every
    * join a broadcast of a ≤nBins-row frame — neither corpus ever shuffles.
    * Null values are excluded on both sides (missingness is a completeness
    * metric, not drift). Empty bins take the standard max(frac, epsilon)
    * clamp so the log stays finite; duplicate cut points (discrete data)
    * simply yield permanently-empty bins, which the clamp also covers.
    *
    * Output: one row per bin (bin, ref_n, cur_n, ref_frac, cur_frac,
    * psi_term); total PSI = sum(psi_term) (see [[psiTotal]]).
    */
  def psiBins(ref: DataFrame, cur: DataFrame, valueCol: String, nBins: Int = 10,
              epsilon: Double = 1e-6): DataFrame =
    psiApply(cur, valueCol, psiFit(ref, valueCol, nBins, epsilon))

  /** Fitted PSI reference: cut points (empty when the reference had no
    * usable values — everything then bins to 0), per-bin reference counts,
    * and the SMOOTHED reference fractions. All bounded at nBins entries —
    * safe driver state, reusable across batches (and micro-batches: see
    * StreamOps.psiDriftMonitor, which fits once and scores every trigger).
    */
  case class PsiFit(cuts: Seq[Double], refN: Seq[Long], refFrac: Seq[Double],
                    epsilon: Double) {
    def nBins: Int = refN.length
  }

  /** NaN is excluded like null on BOTH sides (the stated missingness
    * policy): Spark sorts NaN above +Inf, so a reference NaN would poison
    * the upper cut points and a current-side NaN would pile into the top
    * bin — silent distortion, not drift.
    */
  private def psiKeep(c: Column): Column = c.isNotNull && !isnan(c.cast("double"))

  /** Sum-of-indicators bin index over driver-literal cuts — pure codegen'd
    * arithmetic, no join needed to deliver the cut points.
    */
  private def psiBinIdx(c: Column, cuts: Seq[Double]): Column =
    cuts.foldLeft(lit(0): Column)((acc, q) => acc + when(c > lit(q), 1).otherwise(0))

  /** Fit the reference side of a PSI gate: exact percentile cuts and the
    * per-bin reference fractions, COLLECTED to driver literals (two eager
    * bounded jobs — the Pq-codebook/bigram-vocab pattern). Composed lazily
    * the reference subtrees would be re-scanned once per use (Spark has no
    * common-subplan reuse); as literals the reference corpus is scanned
    * exactly twice at fit time and never again, however many frames or
    * micro-batches are scored against the fit.
    */
  def psiFit(ref: DataFrame, valueCol: String, nBins: Int = 10,
             epsilon: Double = 1e-6): PsiFit = {
    require(nBins >= 2, s"psiFit: nBins must be >= 2, got $nBins")
    require(epsilon > 0 && epsilon < 1, s"psiFit: epsilon must be in (0,1), got $epsilon")
    val c = col(valueCol)
    val cutExprs = (1 until nBins).map(i => percentile(c, lit(i.toDouble / nBins)))
    val cutRow = ref.filter(psiKeep(c)).agg(cutExprs.head, cutExprs.tail: _*).first()
    // percentile returns null only for empty input, so the cuts are all
    // null or all present — empty reference degrades to a single bin
    val cuts = if (cutRow.isNullAt(0)) Seq.empty[Double]
               else (0 until nBins - 1).map(cutRow.getDouble)
    val counts = ref.filter(psiKeep(c))
      .select(psiBinIdx(c, cuts).cast("int").as("bin"))
      .groupBy("bin").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val refN = (0 until nBins).map(b => counts.getOrElse(b, 0L))
    val total = refN.sum.toDouble
    // same IEEE ops the in-plan formulation evaluated: long->double
    // division then the epsilon clamp (empty reference: clamp directly)
    val refFrac = refN.map(n => if (total == 0) epsilon else math.max(n / total, epsilon))
    PsiFit(cuts, refN, refFrac, epsilon)
  }

  /** Score a frame against a fitted PSI reference — the current side's
    * counts are one map-side-combined aggregate; its total rides a
    * whole-frame window over the ALREADY-AGGREGATED <= nBins-row count
    * frame (the q_spearman/q_length_histogram allowance class), and the
    * reference side is a literal nBins-row spine. The scored corpus
    * appears exactly once in the plan and never shuffles raw rows. A
    * spine bin absent from the current side has a null total, which
    * greatest() skips — its fraction takes the epsilon clamp, the same
    * value 0/total would.
    */
  def psiApply(cur: DataFrame, valueCol: String, fit: PsiFit): DataFrame = {
    val c = col(valueCol)
    val curC = cur.filter(psiKeep(c))
      .select(psiBinIdx(c, fit.cuts).cast("int").as("bin"))
      .groupBy("bin").agg(count(lit(1)).as("cur_n"))
      .withColumn("__ct", sum("cur_n").over(Window.partitionBy()))
    import cur.sparkSession.implicits._
    val spine = fit.refN.indices.map(b => (b, fit.refN(b), fit.refFrac(b)))
      .toDF("bin", "ref_n", "ref_frac")
    val q = greatest(col("cur_n").cast("double") / col("__ct"), lit(fit.epsilon))
    spine.join(broadcast(curC), Seq("bin"), "left")
      .withColumn("cur_n", coalesce(col("cur_n"), lit(0L)))
      .withColumn("cur_frac", q)
      .withColumn("psi_term", (col("cur_frac") - col("ref_frac"))
        * log(col("cur_frac") / col("ref_frac")))
      .select("bin", "ref_n", "cur_n", "ref_frac", "cur_frac", "psi_term")
  }

  /** Single-row total PSI over an already-built [[psiBins]] /
    * [[psiCategorical]] frame — use this form to avoid re-running the
    * eager cut/election job when you need both the detail and the total.
    */
  def psiTotal(bins: DataFrame): DataFrame =
    bins.agg(sum("psi_term").as("psi"))

  /** Single-row total PSI — sum of [[psiBins]]' per-bin contributions. */
  def psiTotal(ref: DataFrame, cur: DataFrame, valueCol: String, nBins: Int = 10,
               epsilon: Double = 1e-6): DataFrame =
    psiTotal(psiBins(ref, cur, valueCol, nBins, epsilon))

  /** Categorical PSI: drift of a category column's distribution — buckets
    * are the top-`topK` categories BY REFERENCE frequency (ties: count
    * desc, category asc — deterministic and SQL-replayable), everything
    * else pooled into the `__other` sentinel (a literal category named
    * "__other" would pool with it — documented limitation of the sentinel).
    * Same smoothing and term math as [[psiBins]].
    *
    * Scale shape: each corpus aggregates ONCE to its |distinct| count frame
    * (map-side combined); the top-K election is a bounded TakeOrdered;
    * bucketing and the spine/total joins all run on aggregated ≤|distinct|-
    * row frames with broadcast joins — neither corpus shuffles raw rows,
    * and nothing corpus-sized reaches the driver. Null categories are
    * excluded (missingness is a completeness metric, not drift).
    *
    * Output: (category, ref_n, cur_n, ref_frac, cur_frac, psi_term), one
    * row per elected category plus `__other`.
    */
  def psiCategorical(ref: DataFrame, cur: DataFrame, valueCol: String,
                     topK: Int = 20, epsilon: Double = 1e-6): DataFrame = {
    require(topK >= 1, s"psiCategorical: topK must be >= 1, got $topK")
    require(epsilon > 0 && epsilon < 1, s"psiCategorical: epsilon must be in (0,1), got $epsilon")
    val c = col(valueCol)
    def counts(df: DataFrame, out: String) =
      df.filter(c.isNotNull).select(c.cast("string").as("category"))
        .groupBy("category").agg(count(lit(1)).as(out))
    // The top-K election is COLLECTED to driver literals (one eager
    // TakeOrdered job over the aggregated count frame — bounded at topK
    // strings, the cut-literal pattern of psiBins): composed lazily the
    // elected frame would be referenced by the ref side, the cur side AND
    // the spine, and Spark's lack of common-subplan reuse would re-scan
    // the reference corpus once per reference. With literals each corpus
    // appears exactly once in the lazy plan and membership is a codegen'd
    // isin. Totals ride a whole-frame window over the pooled <= topK+1-row
    // frame (pooling preserves the sum; same allowance class as psiBins).
    val topCats = counts(ref, "ref_n")
      .orderBy(col("ref_n").desc, col("category").asc)
      .limit(topK).select("category").collect().map(_.getString(0)).toSeq
    def pooled(df: DataFrame, out: String, tot: String) =
      counts(df, out)
        .select(when(col("category").isin(topCats: _*), col("category"))
          .otherwise(lit("__other")).as("category"), col(out))
        .groupBy("category").agg(sum(out).as(out))
        .withColumn(tot, sum(out).over(Window.partitionBy()))
    import ref.sparkSession.implicits._
    // distinct: a LITERAL reference category named "__other" (already
    // elected into the top-K) must not duplicate the sentinel spine row —
    // its counts pool with the tail either way (documented above)
    val spine = (topCats :+ "__other").distinct.toDF("category")
    val p = greatest(col("ref_n").cast("double") / col("__rt"), lit(epsilon))
    val q = greatest(col("cur_n").cast("double") / col("__ct"), lit(epsilon))
    spine.join(broadcast(pooled(ref, "ref_n", "__rt")), Seq("category"), "left")
      .join(broadcast(pooled(cur, "cur_n", "__ct")), Seq("category"), "left")
      .withColumn("ref_n", coalesce(col("ref_n"), lit(0L)))
      .withColumn("cur_n", coalesce(col("cur_n"), lit(0L)))
      .withColumn("ref_frac", p)
      .withColumn("cur_frac", q)
      .withColumn("psi_term", (col("cur_frac") - col("ref_frac"))
        * log(col("cur_frac") / col("ref_frac")))
      .select("category", "ref_n", "cur_n", "ref_frac", "cur_frac", "psi_term")
  }

  private def toLong(wide: DataFrame, cols: Seq[String]): DataFrame = {
    val metrics = wide.columns.filter(_.contains("__"))
    val stacked = metrics.map { m =>
      // split on the LAST "__": metric names never contain it, but source
      // column names may (splitting on the first would misattribute
      // "net__amount__mean" to a column "net")
      val i = m.lastIndexOf("__")
      val c = m.substring(0, i); val metric = m.substring(i + 2)
      s"'$c', '$metric', cast(`$m` as double)"
    }.mkString(", ")
    wide.select(expr(s"stack(${metrics.length}, $stacked) as (column, metric, value)"))
  }

  /** Shannon entropy (bits) of each column's value distribution, plus the
    * distinct count — the scalar drift/imbalance signal (a near-zero-entropy
    * `source` column means one domain dominates the mixture).
    *
    * ONE corpus scan covers every requested column: values melt to
    * (column, value) rows via `stack`, then a single groupBy counts them;
    * totals ride a per-column window over the AGGREGATED count frame
    * (≤ Σ|distinct| rows — the PSI pattern, no second scan, no global
    * window). Nulls are excluded per column (value_counts dropna parity).
    */
  def entropy(df: DataFrame, columns: Seq[String]): DataFrame = {
    require(columns.nonEmpty, "entropy: at least one column")
    val stacked = columns.map(c => s"'$c', CAST(`$c` AS STRING)").mkString(", ")
    val counts = df
      .select(expr(s"stack(${columns.size}, $stacked) as (__col, __v)"))
      .filter(col("__v").isNotNull)
      .groupBy("__col", "__v").agg(count(lit(1)).as("__n"))
    val p = col("__n").cast("double") / col("__tot").cast("double")
    counts
      .withColumn("__tot", sum(col("__n")).over(Window.partitionBy(col("__col"))))
      .groupBy(col("__col").as("column_name"))
      .agg((-sum(p * log2(p))).as("entropy_bits"),
        count(lit(1)).as("n_distinct"))
  }

  /** Mutual information (bits) between two categorical columns, with both
    * marginal entropies — the feature-relevance / redundancy signal
    * (MI(a,b) == min(H) means one column determines the other; == 0 means
    * independent). Numeric columns should be binned first (FeatureLib
    * binning) — MI over raw continuous values degenerates to log(n).
    *
    * One corpus exchange builds the joint (a, b, count) table; marginals
    * and the total ride windows over that aggregated frame (≤ |A|·|B|
    * rows). Marginal entropies reuse the joint rows — Σ_y n(x,y) = n(x), so
    * each row contributes p(x,y)·log2(p(x)) — no extra pass. Counts are
    * cast to double BEFORE the ratio products: n·tot as int64 overflows at
    * real corpus sizes. Rows with a null in either column are excluded.
    */
  def mutualInfo(df: DataFrame, a: String, b: String): DataFrame = {
    val joint = df.filter(col(a).isNotNull && col(b).isNotNull)
      .groupBy(col(a).as("__x"), col(b).as("__y")).agg(count(lit(1)).as("__n"))
    val n = col("__n").cast("double")
    val nx = col("__nx").cast("double")
    val ny = col("__ny").cast("double")
    val tot = col("__tot").cast("double")
    joint
      .withColumn("__nx", sum(col("__n")).over(Window.partitionBy(col("__x"))))
      .withColumn("__ny", sum(col("__n")).over(Window.partitionBy(col("__y"))))
      // whole-frame total over the aggregated joint frame (≤ |A|·|B| rows):
      // the documented benign scalar pattern, not a corpus-sized window
      .withColumn("__tot", sum(col("__n")).over(Window.partitionBy()))
      .agg(
        sum((n / tot) * log2((n * tot) / (nx * ny))).as("mi_bits"),
        (-sum((n / tot) * log2(nx / tot))).as("h_x"),
        (-sum((n / tot) * log2(ny / tot))).as("h_y"),
        sum(col("__n")).as("n_rows"))
  }

  /** Pearson chi-square independence test + Cramér's V between two
    * categorical columns — the significance-flavored sibling of
    * [[mutualInfo]] (MI measures shared bits; V normalizes association to
    * [0,1] regardless of table size). Same scale shape: one shuffle to the
    * |A|·|B| joint-count frame, margins as window sums OVER THAT AGGREGATED
    * FRAME (the documented benign scalar pattern), one scalar output row
    * with chi2 / dof / cramers_v / n_rows. Nulls in either column are
    * excluded (pandas crosstab parity). A single-category side yields dof 0
    * and a null V (no association is measurable).
    *
    * Term order is pinned for the DuckDB oracle: e = (nx·ny)/tot,
    * term = ((n−e)·(n−e))/e, V = sqrt(chi2/(tot·mindim)).
    */
  def chiSquare(df: DataFrame, a: String, b: String): DataFrame = {
    val joint = df.filter(col(a).isNotNull && col(b).isNotNull)
      .groupBy(col(a).as("__x"), col(b).as("__y")).agg(count(lit(1)).as("__n"))
    val n = col("__n").cast("double")
    val e = (col("__nx").cast("double") * col("__ny").cast("double")) / col("__tot").cast("double")
    joint
      .withColumn("__nx", sum(col("__n")).over(Window.partitionBy(col("__x"))))
      .withColumn("__ny", sum(col("__n")).over(Window.partitionBy(col("__y"))))
      .withColumn("__tot", sum(col("__n")).over(Window.partitionBy()))
      .agg(
        sum(((n - e) * (n - e)) / e).as("chi2"),
        countDistinct(col("__x")).as("__ra"),
        countDistinct(col("__y")).as("__rb"),
        sum(col("__n")).as("n_rows"))
      .withColumn("dof", (col("__ra") - 1) * (col("__rb") - 1))
      .withColumn("cramers_v",
        when(least(col("__ra"), col("__rb")) > 1,
          sqrt(col("chi2") / (col("n_rows").cast("double") *
            (least(col("__ra"), col("__rb")) - lit(1)).cast("double")))))
      .select(col("chi2"), col("dof"), col("cramers_v"), col("n_rows"))
  }

  /** Benford first-digit profile: observed vs expected leading-digit
    * distribution of a positive-magnitude column — the classic
    * fabricated-numbers screen (organic multi-scale quantities follow
    * log10(1+1/d); uniform or clustered leading digits flag synthetic or
    * constrained data). Digit extraction is numeric, not string-format
    * dependent: d = floor(|x| / 10^floor(log10 |x|)) — both engines'
    * correctly-rounded log10/power make it bit-identical, so the oracle
    * replays it. Null/zero/NaN/±Inf values are excluded. Output: one row
    * per observed digit 1-9 with count, observed fraction, Benford
    * expectation, and the signed deviation.
    */
  def benford(df: DataFrame, c: String): DataFrame = {
    val x = abs(col(c).cast("double"))
    val digit = floor(x / pow(lit(10.0), floor(log10(x)))).cast("int")
    val counts = df
      .filter(col(c).isNotNull && !isnan(col(c).cast("double")) &&
        x > 0 && x < Double.PositiveInfinity)
      .select(digit.as("digit"))
      .filter(col("digit").between(1, 9)) // belt-and-braces vs log boundary drift
      .groupBy("digit").agg(count(lit(1)).as("n"))
    counts
      .withColumn("obs_frac",
        col("n").cast("double") / sum(col("n")).over(Window.partitionBy()).cast("double"))
      .withColumn("exp_frac", log10(lit(1.0) + lit(1.0) / col("digit").cast("double")))
      .withColumn("deviation", col("obs_frac") - col("exp_frac"))
  }

  /** k-anonymity audit: group sizes over the quasi-identifier columns —
    * the standard re-identification gate a privacy review runs before a
    * corpus ships (Sweeney 2002). One map-side-combined shuffle to the
    * |QI-combinations| frame, then a scalar rollup: total rows, group
    * count, minimum group size, groups/rows below k, and the pass flag.
    * Null QI values form their own groups (a null zip code is still a
    * distinguishable value). Empty input reports 0 groups and a true flag
    * (nothing to re-identify).
    */
  def kAnonymity(df: DataFrame, quasiCols: Seq[String], k: Int): DataFrame = {
    require(quasiCols.nonEmpty, "kAnonymity: need at least one quasi-identifier column")
    require(k >= 2, s"kAnonymity: k must be >= 2, got $k")
    df.groupBy(quasiCols.map(col): _*).agg(count(lit(1)).as("__n"))
      .agg(
        coalesce(sum(col("__n")), lit(0L)).as("n_rows"),
        count(lit(1)).as("n_groups"),
        min(col("__n")).as("min_group_size"),
        coalesce(sum(when(col("__n") < k, 1L).otherwise(0L)), lit(0L)).as("violating_groups"),
        coalesce(sum(when(col("__n") < k, col("__n")).otherwise(0L)), lit(0L)).as("violating_rows"))
      .withColumn("k", lit(k))
      .withColumn("anonymity_ok", coalesce(col("min_group_size") >= k, lit(true)))
  }
}
