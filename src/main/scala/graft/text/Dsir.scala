package graft.text

import graft.core.Checkpoints
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** DSIR — Data Selection via Importance Resampling (Xie et al. 2023,
  * "Data Selection for Language Models via Importance Resampling",
  * arXiv:2302.03169): score every raw document by how much its n-gram
  * feature distribution looks like a TARGET corpus, as the log importance
  * ratio Σ_f c_f · (ln p̂_target(f) − ln p̂_raw(f)) over the document's
  * feature occurrences, with Laplace-smoothed unigram feature models
  * fitted on each corpus. Selecting k docs ∝ exp(weight) (the paper's
  * resampling step) composes with the existing A-ES weighted sampler —
  * [[select]] wires the two together.
  *
  * Beyond-reference operator: the reference framework has no
  * distribution-matching selection; this is a standard LLM-data curation
  * stage (the "match Wikipedia+books" recipe) sitting naturally next to
  * quality scoring and dedup.
  *
  * Two feature spaces:
  *  - [[logWeights]] — EXACT string features (word unigrams + bigrams by
  *    default): the oracle-checkable path (DuckDB replays tokenization,
  *    counts, smoothing, and the per-doc sum; q_dsir_weights).
  *  - [[logWeightsHashed]] — the paper's hashed variant and the 100 TB
  *    path: features bucket to `hash(gram) mod B` via the native
  *    positional [[graft.expr.WordGramHashes]] kernel, so the weight
  *    table is AT MOST B rows regardless of corpus vocabulary (B = 2^20
  *    default ⇒ the table always broadcasts) and the smoothing vocabulary
  *    is the fixed bucket space, exactly as in the paper. DsirSpec pins
  *    hashed ≡ string on a collision-free fixture.
  *
  * Scale shape (both variants): the feature stream is one row per gram
  * OCCURRENCE — linear in tokens, never materialized beyond the two
  * count aggregations (map-side combinable: hot boilerplate grams cost
  * one partial per task). The fitted weight table is vocab/bucket-sized —
  * Catalyst broadcasts it when small, AQE handles the shuffle-join + skew
  * otherwise (a stop-word bucket is exactly the skewed-key case). The
  * per-doc weight sum partial-aggregates map-side. ONE scalar aggregate
  * (N_target, N_raw, V) crosses to the driver — three numbers, not data.
  * Nothing here is quadratic; the operator is two linear scans + two
  * keyed counts + one keyed sum.
  *
  * Contracts: null/absent text ⇒ zero features ⇒ log_weight 0.0 (the
  * neutral ratio — such docs sample at the exp(0) base rate rather than
  * silently disappearing); docs with a null id are dropped from the raw
  * side (no identity to weight); target rows only contribute their grams,
  * null target texts contribute nothing. Raw-side features ALWAYS appear
  * in the fitted vocabulary (they are part of the raw fit), so the
  * per-doc join loses no occurrence.
  */
object Dsir {

  /** Whitespace tokens of the normalized text (the corpus-wide
    * tokenization every text operator shares). */
  private def tokens(textCol: Column): Column =
    filter(split(TextLib.normalized(textCol), " "), x => x =!= "")

  /** (id?, feature) occurrence stream — one row per gram occurrence.
    * Round-11: the native [[graft.expr.WordGrams]] kernel (one tokenize
    * pass + tight loop per order) replaces the interpreted
    * transform/slice/array_join chain — identical multiset positional
    * gram strings, short/empty/null texts yield zero feature rows either
    * way. The weigh() scaladoc's ×100 measurement attributed the wall to
    * exactly these gram scans; the A/B at sf10 reads 44.1 → 7.9 s
    * (5.6×, calibration parity — both occurrence-stream evaluations of
    * the uncached rawFeats get the tight loop). */
  private def featureStream(df: DataFrame, textCol: String, idCols: Seq[Column],
                            ns: Seq[Int]): DataFrame = {
    val grams = flatten(array(ns.map(n =>
      coalesce(graft.expr.WordGrams(col(textCol), n),
        array().cast("array<string>"))): _*))
    df.select((idCols :+ explode(grams).as("__f")): _*)
  }

  /** Hashed-bucket occurrence stream: native positional gram hashes →
    * non-negative bucket id. */
  private def bucketStream(df: DataFrame, textCol: String, idCols: Seq[Column],
                           ns: Seq[Int], buckets: Int): DataFrame = {
    val grams = flatten(array(ns.map(n =>
      coalesce(graft.expr.WordGramHashes(col(textCol), n),
        array().cast("array<bigint>"))): _*))
    df.select((idCols :+ explode(grams).as("__h")): _*)
      .select((idCols :+ pmod(col("__h"), lit(buckets.toLong)).as("__f")): _*)
  }

  /** Shared fit + per-doc sum over any feature stream. `vocabSize`:
    * None = observed vocabulary (string variant, the paper's exact case);
    * Some(B) = fixed bucket space (hashed variant). */
  private def weigh(raw: DataFrame, idCol: String,
                    rawFeats: DataFrame, targetFeats: DataFrame,
                    alpha: Double, vocabSize: Option[Long]): DataFrame = {
    // The two count tables are persisted (round 14): they are VOCAB-sized
    // (never corpus-sized), and without the caches the old shape
    // re-evaluated them — and therefore the tokenize+gram kernels under
    // them — inside the final query's weight table on top of the scalar
    // action's own evaluation: the raw corpus paid the gram scan THREE
    // times per invocation (rc twice + the occurrence join) and the
    // target twice, and the round-11 ×100 audit pinned exactly those
    // scans as the DSIR wall. With tc/rc cached the raw corpus is
    // gram-scanned twice (once into rc during the scalar action, once as
    // the occurrence stream of the per-doc join — the minimum without
    // materializing a corpus-sized intermediate, which a round-14 A/B
    // measured SLOWER: a (doc,gram,count) pre-agg persist + its exchange
    // read 2.58 s vs 1.37 prior at sf0.1, trading a cheap columnar
    // re-scan for a corpus-sized cache round-trip) and the target once.
    // Both caches release before return: the scope below cuts the narrow
    // per-doc sums (|docs| rows) first, the SemDedup/Prototypes discipline.
    val perDoc = Checkpoints.scoped {
      val tc = Checkpoints.hold(targetFeats.groupBy(col("__f")).agg(count(lit(1)).as("__ct")))
      val rc = Checkpoints.hold(rawFeats.groupBy(col("__f")).agg(count(lit(1)).as("__cr")))
      val vocab = tc.join(rc, Seq("__f"), "full")
        .select(col("__f"), coalesce(col("__ct"), lit(0L)).as("__ct"),
          coalesce(col("__cr"), lit(0L)).as("__cr"))
      // three scalars — the only driver-side data movement. This action also
      // fills the tc/rc caches, so each corpus pays its gram scan once here.
      val s = vocab.agg(sum(col("__ct")), sum(col("__cr")), count(lit(1))).head()
      val nT = Option(s.get(0)).fold(0L)(_.asInstanceOf[Long]).toDouble
      val nR = Option(s.get(1)).fold(0L)(_.asInstanceOf[Long]).toDouble
      val v = vocabSize.getOrElse(s.getLong(2)).toDouble
      val w = vocab.select(col("__f"),
        (log((col("__ct") + alpha) / lit(nT + alpha * v)) -
          log((col("__cr") + alpha) / lit(nR + alpha * v))).as("__lw"))
      // Occurrence-stream join, deliberately NOT pre-aggregated to
      // (doc, gram, count): measured twice now — the round-11 ×100 A/B
      // (occurrence 38.1/36.5 s vs pre-agg 39.0 s) and the round-14 sf0.1
      // A/B above — the pre-agg's (doc, gram) exchange + corpus-sized
      // materialization buys nothing at either scale. The weight-table side
      // carries the SHUFFLE_HASH hint: at bench scale the planner's
      // estimates made the CORPUS-SIZED feature stream the broadcast BUILD
      // side (plans/r14/q_dsir_weights_before.txt node (39): BuildLeft over
      // the 483k-row Generate output, 56 MiB broadcast), which inverts at
      // 100 TB into broadcasting the corpus; building on the vocab side per
      // partition is the only orientation that is safe at every scale
      // (guide §3.1), and AQE still skew-splits the stream side's hot grams.
      Checkpoints.cut(rawFeats.join(w.hint("shuffle_hash"), Seq("__f")) // raw features are in the fit by construction
        .groupBy(col(idCol)).agg(sum(col("__lw")).as("__dsir_lw")))
    }
    raw.filter(col(idCol).isNotNull)
      .join(perDoc, Seq(idCol), "left")
      .withColumn("log_weight", coalesce(col("__dsir_lw"), lit(0.0)))
      .drop("__dsir_lw")
  }

  /** Exact string-feature DSIR log weights: raw rows + `log_weight`. */
  def logWeights(raw: DataFrame, target: DataFrame, textCol: String, idCol: String,
                 ns: Seq[Int] = Seq(1, 2), alpha: Double = 1.0): DataFrame = {
    require(ns.nonEmpty && ns.forall(_ >= 1), s"dsir: gram orders must be >= 1, got $ns")
    require(alpha > 0, s"dsir: smoothing alpha must be positive, got $alpha")
    val rawF = featureStream(raw.filter(col(idCol).isNotNull), textCol, Seq(col(idCol)), ns)
    val tgtF = featureStream(target, textCol, Seq.empty, ns)
    weigh(raw, idCol, rawF, tgtF, alpha, vocabSize = None)
  }

  /** Hashed-feature DSIR (the scale path): identical pipeline over
    * `hash(gram) mod buckets`; smoothing vocabulary = the bucket space. */
  def logWeightsHashed(raw: DataFrame, target: DataFrame, textCol: String, idCol: String,
                       ns: Seq[Int] = Seq(1, 2), alpha: Double = 1.0,
                       buckets: Int = 1 << 20): DataFrame = {
    require(buckets > 0, s"dsir: buckets must be positive, got $buckets")
    require(ns.nonEmpty && ns.forall(_ >= 1), s"dsir: gram orders must be >= 1, got $ns")
    require(alpha > 0, s"dsir: smoothing alpha must be positive, got $alpha")
    val rawF = bucketStream(raw.filter(col(idCol).isNotNull), textCol, Seq(col(idCol)), ns, buckets)
    val tgtF = bucketStream(target, textCol, Seq.empty, ns, buckets)
    weigh(raw, idCol, rawF, tgtF, alpha, vocabSize = Some(buckets.toLong))
  }

  /** Fit the hashed model ONCE and return the B-bounded weight table —
    * the train-then-apply split [[logWeightsHashed]] fuses. The table is
    * at most `buckets` doubles (2 MB at the 2^18 default here, 8 MB at
    * 2^20), so it collects and broadcasts by construction; unobserved
    * buckets carry the shared ct=cr=0 smoothing weight. Use with
    * [[applyHashed]] for STREAMING ingest gates (the fit's count
    * aggregations cannot run per micro-batch; the fitted table can) and
    * for scoring new corpora against a frozen reference fit. */
  def fitHashed(raw: DataFrame, target: DataFrame, textCol: String,
                ns: Seq[Int] = Seq(1, 2), alpha: Double = 1.0,
                buckets: Int = 1 << 18, idCol: String = null): graft.expr.DsirWeights = {
    require(buckets > 0, s"dsir: buckets must be positive, got $buckets")
    require(ns.nonEmpty && ns.forall(_ >= 1), s"dsir: gram orders must be >= 1, got $ns")
    require(alpha > 0, s"dsir: smoothing alpha must be positive, got $alpha")
    // id contract (ADVICE r9): logWeightsHashed fits on id-bearing raw rows
    // only (a null id has no identity to weight). Pass the same idCol here
    // and the fit populations — hence applyHashed ≡ logWeightsHashed —
    // stay aligned even when raw carries null ids; with no idCol, the fit
    // deliberately uses every raw row (scoring corpora that have no ids).
    val rawFit = Option(idCol).fold(raw)(c => raw.filter(col(c).isNotNull))
    val rawF = bucketStream(rawFit, textCol, Seq.empty, ns, buckets)
    val tgtF = bucketStream(target, textCol, Seq.empty, ns, buckets)
    val tc = tgtF.groupBy(col("__f")).agg(count(lit(1)).as("__ct"))
    val rc = rawF.groupBy(col("__f")).agg(count(lit(1)).as("__cr"))
    val vocab = tc.join(rc, Seq("__f"), "full")
      .select(col("__f"), coalesce(col("__ct"), lit(0L)).as("__ct"),
        coalesce(col("__cr"), lit(0L)).as("__cr"))
      .collect() // ≤ buckets rows by construction — the table IS the model
    val nT = vocab.map(_.getLong(1)).sum.toDouble
    val nR = vocab.map(_.getLong(2)).sum.toDouble
    val v = buckets.toDouble
    def lw(ct: Long, cr: Long): Double =
      math.log((ct + alpha) / (nT + alpha * v)) - math.log((cr + alpha) / (nR + alpha * v))
    val w = Array.fill(buckets)(lw(0L, 0L))
    vocab.foreach(r => w(r.getLong(0).toInt) = lw(r.getLong(1), r.getLong(2)))
    new graft.expr.DsirWeights(buckets, w)
  }

  /** Score any frame — batch or STREAMING — against a fitted hashed model:
    * a pure map (the [[graft.expr.BucketWeightSum]] kernel sums bucket
    * weights over the native positional gram hashes), zero joins, zero
    * shuffles, so it composes into `readStream → applyHashed → filter`
    * ingest gates. Agreement with [[logWeightsHashed]] on the SAME
    * raw/target fit is pinned by q_dsir_hashed_law (1e-9 — the kernel sums
    * per-document in array order, the aggregate in partition order).
    * Null/token-free texts score the neutral 0.0, as everywhere in DSIR. */
  def applyHashed(df: DataFrame, textCol: String,
                  model: graft.expr.DsirWeights,
                  ns: Seq[Int] = Seq(1, 2)): DataFrame = {
    require(ns.nonEmpty && ns.forall(_ >= 1), s"dsir: gram orders must be >= 1, got $ns")
    df.withColumn("log_weight",
      ns.map(n => coalesce(
        graft.expr.BucketWeightSum(graft.expr.WordGramHashes(col(textCol), n), model),
        lit(0.0))).reduce(_ + _))
  }

  /** Persist a fitted hashed model (round 10): the production shape is
    * "fit ONCE on a reference raw/target pair, gate every ingest job —
    * batch or streaming — against the frozen table", which requires the
    * model to survive the fitting job. One parquet row carries the dense
    * B-double table (2 MB at 2^18; the same single-row idiom as
    * [[graft.vec.Pq.saveModel]]). */
  def saveModel(spark: org.apache.spark.sql.SparkSession,
                model: graft.expr.DsirWeights, path: String): Unit = {
    import spark.implicits._
    Seq((model.buckets, model.weights.toSeq)).toDF("buckets", "weights")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  /** Load a table written by [[saveModel]]; the DsirWeights constructor
    * validates one weight per bucket. */
  def loadModel(spark: org.apache.spark.sql.SparkSession,
                path: String): graft.expr.DsirWeights = {
    val r = spark.read.parquet(path).select("buckets", "weights").head()
    new graft.expr.DsirWeights(r.getInt(0), r.getSeq[Double](1).toArray)
  }

  /** The paper's resampling step: k docs sampled ∝ exp(log_weight),
    * via the deterministic A-ES sampler ([[graft.ops.Scale.weightedSample]]).
    * Weights are exp-normalized by the global max (one scalar aggregate)
    * so the positive-weight domain the sampler requires never overflows;
    * docs whose normalized weight underflows to 0.0 (log-ratio more than
    * ~745 nats below the best doc) are unsampleable anyway and drop out.
    */
  def select(raw: DataFrame, target: DataFrame, textCol: String, idCol: String, k: Int,
             ns: Seq[Int] = Seq(1, 2), alpha: Double = 1.0, hashedBuckets: Int = 0,
             salt: Int = 42): DataFrame = {
    val weighted =
      if (hashedBuckets > 0) logWeightsHashed(raw, target, textCol, idCol, ns, alpha, hashedBuckets)
      else logWeights(raw, target, textCol, idCol, ns, alpha)
    // empty raw (or all-null ids) ⇒ max is NULL — return the empty frame
    // instead of NPEing on getDouble (ADVICE r9)
    Option(weighted.agg(max(col("log_weight"))).head().get(0)) match {
      case None => // schema-stable: weightedSample would have added es_key
        weighted.limit(0).withColumn("es_key", lit(null).cast("double"))
      case Some(maxLw) =>
        val w = weighted.withColumn("__dsir_w",
          exp(col("log_weight") - lit(maxLw.asInstanceOf[Double])))
        graft.ops.Scale.weightedSample(w, "__dsir_w", idCol, k, salt = salt)
          .drop("__dsir_w")
    }
  }
}
