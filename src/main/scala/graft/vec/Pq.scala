package graft.vec

import graft.core.Checkpoints
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Product quantization for embedding search at corpus scale.
  *
  * Beyond-reference surface: the reference's similarity search holds raw
  * float vectors end-to-end; at 10^9-10^10 documents the vectors ARE the
  * bottleneck (a 1024-dim float embedding is 4 KB/row — 40 TB of pure
  * vector payload at 10^10 docs). PQ (Jégou et al., "Product Quantization
  * for Nearest Neighbor Search", TPAMI 2011 — the FAISS IVF-PQ recipe)
  * compresses each vector to `m` one-byte centroid indices and scores
  * candidates against a per-query lookup table without ever decompressing:
  * the candidate scan touches m bytes per row instead of 4·d.
  *
  * Division of labor, deliberately:
  *  - TRAINING is driver-side Lloyd iterations over a bounded,
  *    hash-gated sample (FAISS trains codebooks the same way — k-means on
  *    ~10^5 sampled vectors in memory; a distributed k-means over 100 TB
  *    would scan the corpus once per iteration to fit 256 centroids of an
  *    8-dim subspace). The sample gate is a pure function of the id
  *    (xxhash64), NOT df.sample — partitioning-independent, and the
  *    collected rows are sorted by id before training, so the codebook is
  *    bit-deterministic across core counts and reruns.
  *  - ENCODE is a native codegen expression over the full corpus scan
  *    (expr/PqExprs.PqEncode) — one projection, no shuffle.
  *  - SEARCH routes queries through IVF coarse lists, broadcasts the tiny
  *    query side (each query row carries its ADC lookup table), scores
  *    candidates row-local via table lookups, and only the top
  *    `rerank`-per-query candidates re-join the raw vectors for exact
  *    cosine. The corpus-sized frames never carry floats past the encode.
  *
  * Vectors are L2-normalized before coarse assignment AND encoding, so
  * squared-L2 ADC ranks identically to cosine (‖a−b‖² = 2−2·cos for unit
  * vectors) and the exact re-rank agrees with the rest of the ANN surface.
  * No residual encoding (IVF-Flat-PQ): residuals need a per-(query, list)
  * lookup table — m·ksub·nprobe doubles per query — and the recall delta
  * at nprobe ≥ 2 does not justify tripling the broadcast. Documented
  * trade, revisit if a recall gate ever demands it.
  */
object Pq {

  /** Trained model: flat codebook [subspace][centroid][dim] row-major. */
  final case class PqModel(m: Int, ksub: Int, ds: Int, codebook: Array[Double]) {
    def dim: Int = m * ds
    /** Reconstructed (decoded) vector for a code — spec/diagnostic use. */
    def decode(code: Array[Byte]): Array[Double] = {
      require(code.length == m, s"pq decode: code has ${code.length} bytes, model has m=$m")
      val out = new Array[Double](dim)
      var s = 0
      while (s < m) {
        val ci = code(s) & 0xFF
        require(ci < ksub, s"pq decode: code byte $ci out of range for ksub=$ksub " +
          "(code from a different model?)")
        val base = (s * ksub + ci) * ds
        System.arraycopy(codebook, base, out, s * ds, ds)
        s += 1
      }
      out
    }
  }

  /** Deterministic k-means for one subspace: seeded kmeans++ init, fixed
    * Lloyd iterations, points pre-sorted by caller. Empty clusters keep
    * their previous centroid (standard; deterministic).
    */
  private[graft] def lloyd(points: Array[Array[Double]], k: Int, iters: Int, seed: Long): Array[Array[Double]] = {
    val n = points.length
    val rnd = new java.util.Random(seed)
    // kmeans++ init (distances drive the choice; rnd only breaks the spread)
    val centroids = new Array[Array[Double]](k)
    centroids(0) = points(rnd.nextInt(n)).clone()
    val minD = Array.fill(n)(Double.MaxValue)
    def d2(a: Array[Double], b: Array[Double]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) { val d = a(i) - b(i); acc += d * d; i += 1 }
      acc
    }
    var c = 1
    while (c < k) {
      var i = 0
      while (i < n) { val d = d2(points(i), centroids(c - 1)); if (d < minD(i)) minD(i) = d; i += 1 }
      var total = 0.0; i = 0
      while (i < n) { total += minD(i); i += 1 }
      if (total == 0.0) centroids(c) = points(rnd.nextInt(n)).clone() // all dup points
      else {
        var target = rnd.nextDouble() * total
        var pick = 0; i = 0
        var acc = 0.0
        while (i < n) { acc += minD(i); if (acc >= target) { pick = i; i = n } else i += 1 }
        centroids(c) = points(pick).clone()
      }
      c += 1
    }
    val assign = new Array[Int](n)
    var it = 0
    while (it < iters) {
      var i = 0
      while (i < n) {
        var best = 0; var bestD = Double.MaxValue; var cc = 0
        while (cc < k) {
          val d = d2(points(i), centroids(cc))
          if (d < bestD) { bestD = d; best = cc }
          cc += 1
        }
        assign(i) = best
        i += 1
      }
      val sums = Array.fill(k)(new Array[Double](points(0).length))
      val counts = new Array[Int](k)
      i = 0
      while (i < n) {
        val a = assign(i); counts(a) += 1
        var j = 0
        while (j < points(i).length) { sums(a)(j) += points(i)(j); j += 1 }
        i += 1
      }
      var cc = 0
      while (cc < k) {
        if (counts(cc) > 0) {
          var j = 0
          while (j < sums(cc).length) { sums(cc)(j) /= counts(cc); j += 1 }
          centroids(cc) = sums(cc)
        } // empty cluster: keep previous centroid
        cc += 1
      }
      it += 1
    }
    centroids
  }

  /** Normalized (__id, __u) frame with malformed rows dropped: null id,
    * null vector, or any null element — the rows PqEncode would null out
    * anyway must not crash or pollute training/search.
    */
  private[vec] def unitFrame(corpus: DataFrame, idCol: String, vecCol: String): DataFrame = {
    // drop-policy native normalize: a null element nulls the whole unit
    // vector, so the isNotNull filter below IS the null screen — the
    // interpreted `exists(_.isNull)` HOF pass this replaces was a
    // measured ~350 µs/row on the path under every vector operator
    val src = corpus.select(col(idCol).as("__id"), col(vecCol).as("__v"))
    val unitized = src.schema("__v").dataType match {
      case org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.FloatType | org.apache.spark.sql.types.DoubleType, _) =>
        src.withColumn("__u", graft.expr.UnitizeExpr(col("__v"), dropIfAnyNull = true))
      case _ =>
        VectorOps.l2Normalize(src, "__v", "__u")
          .withColumn("__u", when(!exists(col("__u"), _.isNull), col("__u")))
    }
    unitized.filter(col("__id").isNotNull && col("__u").isNotNull).select("__id", "__u")
  }

  /** Bounded, deterministic training sample from a [[unitFrame]]-shaped
    * frame: hash-gated on the id (partitioning-independent, unlike
    * df.sample), id-sorted before use so float summation order — and
    * therefore the trained model — is bit-stable across core counts and
    * reruns. Only the MAJORITY vector dimension is kept (ties → larger
    * dim): a stray wrong-dimension row must neither zero-pad the codebook
    * nor crash Lloyd with ragged inputs.
    */
  private[vec] def sampleFromUnit(unit: DataFrame, maxTrainRows: Int,
                                  seed: Long): Array[Array[Double]] = {
    // fast path in ONE action: collect limit(max+1) — when the corpus fits
    // the budget (every gate-scale run) that IS the whole training set, and
    // the sizing count() the hash gate needs is skipped entirely; only a
    // genuinely over-budget corpus pays count + gated collect
    val probe = unit.select(col("__id"), col("__u")).limit(maxTrainRows + 1).collect()
    val all = (if (probe.length <= maxTrainRows) probe
      else {
        val total = unit.count()
        unit.filter(pmod(xxhash64(col("__id"), lit(seed)), lit(total)) <
            lit(maxTrainRows.toLong * 105 / 100)) // ~maxTrainRows in expectation
          .select(col("__id"), col("__u"))
          .collect()
      })
      .sortBy(_.get(0).toString)
      .take(maxTrainRows)
      .map(_.getSeq[Double](1).toArray)
    if (all.isEmpty) all
    else {
      val dim = all.groupBy(_.length).maxBy { case (d, vs) => (vs.length, d) }._1
      all.filter(_.length == dim)
    }
  }

  private[vec] def unitSample(corpus: DataFrame, idCol: String, vecCol: String,
                              maxTrainRows: Int, seed: Long): Array[Array[Double]] =
    sampleFromUnit(unitFrame(corpus, idCol, vecCol), maxTrainRows, seed)

  /** Train a PQ codebook on a hash-gated, id-sorted sample (deterministic
    * across partitionings — see object doc). Vectors are L2-normalized
    * first. `nbits` ≤ 8 (codes are bytes); sample smaller than 2^nbits
    * falls back to duplicating points (argmin ties resolve to the smallest
    * index, so duplicate centroids are harmless).
    */
  def train(corpus: DataFrame, vecCol: String, idCol: String, m: Int, nbits: Int = 8,
            seed: Long = 42L, maxTrainRows: Int = 100000, iters: Int = 20): PqModel = {
    require(nbits >= 1 && nbits <= 8, s"pq: nbits must be 1..8, got $nbits")
    val ksub = 1 << nbits
    val vecs = unitSample(corpus, idCol, vecCol, maxTrainRows, seed)
    require(vecs.nonEmpty, "pq train: empty corpus")
    val dim = vecs(0).length
    require(dim % m == 0, s"pq: dim $dim not divisible by m=$m")
    val ds = dim / m
    val codebook = new Array[Double](m * ksub * ds)
    for (s <- 0 until m) {
      val sub = vecs.map(v => java.util.Arrays.copyOfRange(v, s * ds, (s + 1) * ds))
      val padded = if (sub.length >= ksub) sub
        else Array.tabulate(ksub)(i => sub(i % sub.length)) // tiny-corpus fallback
      val cents = lloyd(padded, ksub, iters, seed + s)
      for (c <- 0 until ksub; j <- 0 until ds)
        codebook((s * ksub + c) * ds + j) = cents(c)(j)
    }
    PqModel(m, ksub, ds, codebook)
  }

  /** Persist a trained codebook as a one-row parquet (shape + flat
    * codebook). An index is only maintainable if tomorrow's batch encodes
    * with TODAY's model — retraining would renumber every centroid and
    * invalidate all stored codes.
    */
  def saveModel(spark: org.apache.spark.sql.SparkSession, model: PqModel, path: String): Unit = {
    import spark.implicits._
    Seq((model.m, model.ksub, model.ds, model.codebook.toSeq))
      .toDF("m", "ksub", "ds", "codebook")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  /** Load a codebook written by [[saveModel]]; validates the shape. */
  def loadModel(spark: org.apache.spark.sql.SparkSession, path: String): PqModel = {
    val r = spark.read.parquet(path).select("m", "ksub", "ds", "codebook").head()
    val model = PqModel(r.getInt(0), r.getInt(1), r.getInt(2),
      r.getSeq[Double](3).toArray)
    require(model.codebook.length == model.m * model.ksub * model.ds,
      s"pq loadModel: corrupt codebook at $path " +
      s"(${model.codebook.length} values for m=${model.m} ksub=${model.ksub} ds=${model.ds})")
    model
  }

  /** Append the m-byte PQ code of the L2-normalized vector (native codegen
    * expression; corpus-scan shape, no shuffle). Null/malformed vectors get
    * a null code.
    */
  def encode(df: DataFrame, vecCol: String, model: PqModel, outCol: String = "pq_code"): DataFrame =
    VectorOps.l2Normalize(df, vecCol, "__pq_u")
      .withColumn(outCol, graft.expr.PqEncode(
        col("__pq_u"), model.codebook, model.m, model.ksub, model.ds))
      .drop("__pq_u")

  /** IVF-PQ top-k cosine search. Coarse lists from the same deterministic
    * Lloyd (on full normalized vectors); corpus side carries (id, list,
    * m-byte code) ONLY; queries broadcast with their ADC tables; exact
    * cosine re-rank touches raw vectors for `rerank`·k candidates per
    * query. Output (query_id, neighbor_id, cos) like the other ANN paths.
    */
  def ivfPqTopK(
      corpus: DataFrame, corpusId: String, corpusVec: String,
      queries: DataFrame, queryId: String, queryVec: String,
      k: Int, model: PqModel, nlist: Int = 16, nprobe: Int = 2,
      seed: Long = 42L, rerank: Int = 4, excludeSelf: Boolean = true,
      maxTrainRows: Int = 100000
  ): DataFrame = {
    val spark = corpus.sparkSession
    // ONE normalized corpus frame, persisted: it feeds the coarse-centroid
    // sample (count + collect), the code/list projection, and the exact
    // re-rank join — without the cache each consumer would re-scan and
    // re-normalize the full corpus (malformed rows already dropped, so
    // every downstream stage sees clean unit vectors)
    val unit = Checkpoints.hold(unitFrame(corpus, corpusId, corpusVec))
    val sample = sampleFromUnit(unit, maxTrainRows, seed)
    val coarse = lloyd(sample, math.min(nlist, sample.length), 20, seed - 1)
    val nl = coarse.length
    // row-local argmin over centroid literals (no expansion, no shuffle).
    // ONE nested-array literal node (SemDedup precedent): the nl×dim
    // composed-lit() tree was re-analyzed by Catalyst per action; element_at
    // over the single literal constant-folds to the same per-centroid arrays.
    val coarseArr = typedlit(coarse.map(_.toSeq).toSeq)
    // outer coalesce: non-nullable ⇒ the list_id equi-join infers no
    // isnotnull filter ⇒ this argmin tree never lands in scan data filters
    // (the ivfTopK/SemDedup lesson; expensive_scan_filter lint)
    def bestList(vec: Column): Column = coalesce(
      array_min(array((0 until nl).map { i =>
        val d2 = graft.expr.DotProduct(vec, vec) -
          lit(2.0) * graft.expr.DotProduct(vec, element_at(coarseArr, i + 1)) +
          lit(coarse(i).map(x => x * x).sum)
        struct(coalesce(d2, lit(Double.MaxValue)).as("d"), lit(i).as("l"))
      }: _*)).getField("l"),
      lit(-1))
    // __u is already unit-norm: apply PqEncode directly rather than
    // encode(), which would re-normalize the whole corpus a second time
    val codes = unit
      // wrong-dim stragglers never rank. Screened by SIZE, not by
      // `isnotnull(__code)`: filter pushdown substitutes the alias, so a
      // null-check on the code would re-run PqEncode per corpus row
      // interpreted inside the scan's data filters (the SemDedup
      // filter-on-nearest lesson). Equivalent: unitFrame guarantees
      // non-null elements, so PqEncode is null exactly on wrong dim.
      .filter(size(col("__u")) === lit(model.m * model.ds))
      .withColumn("__code", graft.expr.PqEncode(col("__u"), model.codebook,
        model.m, model.ksub, model.ds))
      .withColumn("list_id", bestList(col("__u")))
      .select(col("__id").as("neighbor_id"), col("list_id"), col("__code"))
    val qUnit = VectorOps.l2Normalize(
      queries.select(col(queryId).as("query_id"), col(queryVec).as("__qv")), "__qv", "__qu")
    val qLut = qUnit.withColumn("__lut",
      graft.expr.PqLut(col("__qu"), model.codebook, model.m, model.ksub, model.ds))
    // nprobe nearest coarse lists per query (tiny side: window is fine)
    val centDf = broadcast(spark.createDataFrame(
      coarse.zipWithIndex.map { case (cv, i) => (i, cv.toSeq) }.toSeq).toDF("list_id", "__c"))
    val qw = Window.partitionBy(col("query_id")).orderBy(col("__qd").asc, col("list_id").asc)
    val qProbes = qLut.crossJoin(centDf)
      .withColumn("__qd", coalesce(
        lit(1.0) - graft.expr.DotProduct(col("__qu"), col("__c")),
        lit(Double.MaxValue)))
      .withColumn("__qr", row_number().over(qw)).filter(col("__qr") <= nprobe)
      .select(col("query_id"), col("list_id"), col("__lut"))
    // candidate scoring: corpus codes never shuffle floats; the broadcast
    // query side carries the lookup tables
    val adc = codes.join(broadcast(qProbes), Seq("list_id"))
      .filter(if (excludeSelf) col("neighbor_id") =!= col("query_id") else lit(true))
      .withColumn("__adc", graft.expr.PqAdcScore(col("__code"), col("__lut"), model.ksub))
      .filter(col("__adc").isNotNull)
    // bounded rank tails (Similarity.topKPerQuery — ascending ADC distance
    // for the shortlist): the candidate stream never sorts whole
    val shortlist = Similarity.topKPerQuery(adc, "__adc", math.max(k, k * rerank),
        scoreDesc = false)
      .select("query_id", "neighbor_id")
    // exact re-rank on raw vectors, shortlist-sized only
    val exact = shortlist
      .join(unit.select(col("__id").as("neighbor_id"), col("__u").as("__nv")), Seq("neighbor_id"))
      .join(broadcast(qUnit.select(col("query_id"), col("__qu"))), Seq("query_id"))
      .withColumn("cos", round(graft.expr.DotProduct(col("__nv"), col("__qu")), 6))
    Similarity.topKPerQuery(exact, "cos", k)
  }
}
