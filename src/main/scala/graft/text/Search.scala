package graft.text

import graft.core.Checkpoints
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Lexical retrieval over the corpus — the BM25 complement of the
  * embedding-side ANN family in [[graft.vec.Similarity]]. A curation
  * pipeline uses both: ANN finds semantic neighbors, BM25 finds keyword
  * matches (eval-suite leakage probes, targeted corpus slicing, seed-set
  * expansion a la "retrieve documents matching these quality exemplars").
  *
  * Reference anchor: the reference ships text search only as row-level
  * filters (`transformations/data_cleaner.py` regex ops); ranked retrieval
  * is part of this engine's beyond-reference LLM-data surface.
  *
  * Scale shape (the inverted-index discipline, not a cartesian):
  *   - The QUERY side is tiny by contract (an eval suite / probe list) —
  *     its tokenized (query_id, term) pairs are collected to the driver
  *     and ride literals/broadcasts; the corpus never joins anything
  *     bigger than the query-term table.
  *   - The corpus tokenizes ONCE (round 14 — it used to be three executing
  *     scans: train df election, scoring, and a scalar (N, Σdl) pass): a
  *     narrow per-doc frame (id, dl, matched-terms-only token array) is
  *     cut (core/Checkpoints) — the guide-§8 "decide with small rows" proxy,
  *     |docs| rows with NO text payload, bounded per row by the query
  *     term list — and the scalar stats, the per-term document
  *     frequencies, and the scoring join all derive from it. The
  *     cut truncates lineage, so the returned frame re-reads it instead
  *     of re-tokenizing; it is released with the caller's scope.
  *   - Per-query top-k is a row_number window on the (bounded) per-query
  *     candidate set, rank-pushdown-rescued (partial top-k before the
  *     exchange).
  *
  * Determinism: scores are rounded (roundScale dp, +1e-9 boundary nudge)
  * BEFORE ranking and ties break on ascending doc id, so the result set is
  * stable across partitionings and engine float-summation orders — the
  * q_bm25 DuckDB oracle replays training and scoring end to end.
  */
object Search {

  /** Okapi BM25 (Robertson et al., TREC-3; Lucene's +1 idf form so scores
    * stay positive): per matched term,
    *   idf(t)   = ln(1 + (N - df + 0.5) / (df + 0.5))
    *   score(t) = idf(t) * tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl / avgdl))
    * summed over the query's distinct terms. Tokenization is the engine's
    * pinned `normalized` form (lowercase, \s+ split).
    *
    * Output: one row per (query, retrieved doc), columns = queryIdCol,
    * idCol, `bm25` (rounded score), `n_terms` (matched distinct query
    * terms), `rank` (1-based). Queries with no valid tokens return no rows.
    */
  def bm25TopK(corpus: DataFrame, textCol: String, idCol: String,
               queries: DataFrame, queryIdCol: String, queryTextCol: String,
               k: Int = 10, k1: Double = 1.2, b: Double = 0.75,
               roundScale: Int = 6): DataFrame = {
    require(k > 0, s"bm25TopK: k must be positive, got $k")
    require(queryIdCol != idCol,
      s"bm25TopK: query id column '$queryIdCol' collides with corpus id column")
    val sp = corpus.sparkSession
    import sp.implicits._

    // query side: distinct (query_id, term), collected — the small side by
    // contract, like the broadcast eval suite in Contamination
    val qPairs = queries
      .select(col(queryIdCol), explode(split(TextLib.normalized(col(queryTextCol)), " ")).as("token"))
      .filter(col("token") =!= "")
      .distinct()
      .collect()
      .map(r => (r.get(0), r.getString(1)))
    require(qPairs.length <= 100000,
      s"bm25TopK: ${qPairs.length} query-term pairs — the query side must be the small side")
    val terms = qPairs.map(_._2).distinct.toSeq

    val dlCol = coalesce(graft.expr.TextCharStats(col(textCol)).getField("n_tokens"), lit(0))
    // ONE corpus tokenize (round 14): the narrow per-doc proxy — id, dl,
    // and ONLY the tokens that are query terms (the same token filter the
    // old per-scan explode applied) — is cut, and the scalar
    // stats, the df election, and the scoring join all read it instead of
    // re-tokenizing the corpus per consumer (three full scans before).
    val docProxy = Checkpoints.cut(corpus
      .select(col(idCol), dlCol.as("__dl"),
        filter(split(TextLib.normalized(col(textCol)), " "),
          t => t =!= "" && t.isin(terms: _*)).as("__mt")))

    // scalar job: N and avgdl over ALL docs (null/empty text counts dl 0)
    val (nDocs, avgdl) = {
      val r = docProxy.agg(count(lit(1)), sum(col("__dl").cast("long"))).first()
      val n = r.getLong(0)
      (n, if (n == 0) 1.0 else Option(r.get(1)).map(_.asInstanceOf[Long]).getOrElse(0L).toDouble / n)
    }

    // a null text yields a null __mt (explode drops the doc, the old
    // per-scan behavior); null ids ride through exactly as before
    def matchedTf: DataFrame = docProxy
      .select(col(idCol), col("__dl"), explode(col("__mt")).as("token"))
      .groupBy(col(idCol), col("__dl"), col("token"))
      .agg(count(lit(1)).as("__tf"))

    // train job: per-term df over matched postings, idf computed on the
    // driver with the same Math.log Spark's log() evaluates
    val dfByTerm = matchedTf.groupBy("token").agg(count(lit(1)).as("df"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val idfRows: Seq[(String, Double)] = terms.flatMap { t =>
      dfByTerm.get(t).map(df =>
        (t, math.log(1.0 + (nDocs - df + 0.5) / (df + 0.5))))
    }
    // a term absent from the corpus has no postings and simply contributes
    // nothing; a query whose every term is absent yields no rows
    val idfDf = idfRows.toDF("token", "__idf")
    // the (query_id, term) pair frame keeps the query-id column's ORIGINAL
    // type by deriving from the (tiny) query frame itself
    val qTerms = queries
      .select(col(queryIdCol), explode(split(TextLib.normalized(col(queryTextCol)), " ")).as("token"))
      .filter(col("token") =!= "")
      .distinct()

    val tfD = col("__tf").cast("double")
    val dlD = col("__dl").cast("double")
    val perTerm = col("__idf") * (tfD * (lit(k1) + lit(1.0))) /
      (tfD + lit(k1) * (lit(1.0) - lit(b) + (lit(b) * dlD) / lit(avgdl)))

    val scored = matchedTf
      .join(broadcast(idfDf), Seq("token"))
      .join(broadcast(qTerms), Seq("token"))
      .withColumn("__s", perTerm)
      .groupBy(col(queryIdCol), col(idCol))
      .agg(round(sum(col("__s")) + lit(1e-9), roundScale).as("bm25"),
        count(lit(1)).as("n_terms"))

    // bounded rank tail (BoundedTopK — the ANN-family argument): the old
    // per-query window sorted each query's whole matched-posting stream in
    // one task; the aggregate keeps an O(k) heap with map-side partials.
    // n_terms rides inside the id struct (ordering touches it only after
    // the doc id, which is unique per group); rank = array position.
    scored.groupBy(col(queryIdCol))
      .agg(graft.expr.BoundedTopK(col("bm25"),
        struct(col(idCol), col("n_terms")), k, scoreDesc = true).as("__top"))
      .select(col(queryIdCol), posexplode(col("__top")))
      .select(col(queryIdCol), col("col.id").getField(idCol).as(idCol),
        col("col.score").as("bm25"), col("col.id").getField("n_terms").as("n_terms"),
        (col("pos") + 1).as("rank"))
  }

  /** Reciprocal-rank fusion (Cormack, Clarke & Buettcher, SIGIR 2009) —
    * the standard hybrid-retrieval combiner: given ranked result lists
    * from different retrievers over the same (query, doc) space (e.g.
    * [[bm25TopK]] lexical + [[graft.vec.Similarity.lshTopK]] semantic),
    * score every candidate Σ_lists 1/(kRrf + rank) and re-rank. Score
    * magnitudes of the input retrievers never mix — only their RANKS do —
    * which is the whole point (BM25 scores and cosines are not
    * commensurable).
    *
    * Scale shape: a union of per-query candidate lists (each already
    * top-k-bounded by its retriever) + one map-side-combined aggregate on
    * (query, doc) + a rank-pushdown per-query window. Nothing corpus-sized
    * appears here at all. Determinism: RRF scores are sums of exact
    * double reciprocals of small integers computed in one aggregate
    * (addition order over ≤ |lists| values; rounded before ranking), ties
    * break on ascending doc id.
    *
    * Inputs must carry (queryIdCol, idCol, rankCol); rows with null rank
    * are ignored. Output: (queryIdCol, idCol, rrf_score, rank).
    */
  def rrfFuse(lists: Seq[DataFrame], queryIdCol: String, idCol: String,
              rankCol: String = "rank", kRrf: Int = 60, k: Int = 10,
              roundScale: Int = 6): DataFrame = {
    require(lists.nonEmpty, "rrfFuse: need at least one ranked list")
    require(kRrf > 0, s"rrfFuse: kRrf must be positive, got $kRrf")
    require(k > 0, s"rrfFuse: k must be positive, got $k")
    val slim = lists.map(_.select(col(queryIdCol), col(idCol), col(rankCol).cast("long").as("__r"))
      .filter(col("__r").isNotNull))
    val unioned = slim.reduce(_.unionByName(_))
    val scored = unioned
      .groupBy(col(queryIdCol), col(idCol))
      .agg(round(sum(lit(1.0) / (lit(kRrf.toDouble) + col("__r"))) + lit(1e-9), roundScale)
        .as("rrf_score"))
    // bounded rank tail (see bm25TopK) — rank = array position
    scored.groupBy(col(queryIdCol))
      .agg(graft.expr.BoundedTopK(col("rrf_score"), col(idCol), k, scoreDesc = true).as("__top"))
      .select(col(queryIdCol), posexplode(col("__top")))
      .select(col(queryIdCol), col("col.id").as(idCol),
        col("col.score").as("rrf_score"), (col("pos") + 1).as("rank"))
  }

  /** Maximal Marginal Relevance re-ranking (Carbonell & Goldstein, SIGIR
    * 1998) — the standard diversification step after retrieval: greedily
    * select k candidates maximizing
    * `lambda·relevance − (1−lambda)·max cos-sim to already-selected`, so
    * near-duplicate results don't crowd the top of the list (a RAG context
    * window of five copies of the same passage wastes four slots).
    *
    * Scale shape: the GREEDY loop is inherently sequential per query, but
    * its input is the retriever's already top-k-bounded candidate list —
    * so each query's candidates `collect_list` into ONE row (bounded by
    * `maxCandidates`, enforced) and the selection runs row-local. This is
    * the documented bounded-input UDF exception (BPE segmenter precedent):
    * nothing corpus-sized is collected, parallelism = |queries|.
    * Determinism: ties break on (score desc, id asc) with exact double
    * comparison of a fixed-order computation — bit-stable across
    * partitionings, so the gate can hard-oracle a provable construction.
    *
    * Input: (queryIdCol, idCol: Long, relevanceCol: Double,
    * vecCol: array<float>). Output: (queryIdCol, idCol, mmr_score DOUBLE
    * rounded to `roundScale`, mmr_rank) — mmr_score of the first pick is
    * `lambda·relevance` (no selected set yet).
    */
  def mmrSelect(candidates: DataFrame, queryIdCol: String, idCol: String,
                relevanceCol: String, vecCol: String, k: Int,
                lambda: Double = 0.5, maxCandidates: Int = 10000,
                roundScale: Int = 6): DataFrame = {
    require(k > 0, s"mmrSelect: k must be positive, got $k")
    require(lambda >= 0 && lambda <= 1, s"mmrSelect: lambda must be in [0,1], got $lambda")
    val mmr = udf { (cands: Seq[org.apache.spark.sql.Row]) =>
      require(cands.length <= maxCandidates,
        s"mmrSelect: ${cands.length} candidates for one query exceeds maxCandidates=" +
          s"$maxCandidates — MMR re-ranks a retriever's bounded list, not a corpus")
      // deterministic candidate order: id asc (collect_list order is
      // partitioning-dependent)
      val arr = cands.sortBy(_.getLong(0)).toArray
      val n = arr.length
      val ids = arr.map(_.getLong(0))
      // NaN relevance sinks to the bottom instead of poisoning every
      // comparison in the greedy loop (round-6 review: an all-NaN final
      // round left best = -1 and crashed the task)
      val rels = arr.map { r =>
        val v = r.getDouble(1); if (v.isNaN) Double.NegativeInfinity else v
      }
      val vecs = arr.map(_.getSeq[Double](2).toArray)
      val norms = vecs.map(v => math.sqrt(v.map(x => x * x).sum))
      def cos(i: Int, j: Int): Double = {
        val d = norms(i) * norms(j)
        if (d == 0) 0.0
        else vecs(i).zip(vecs(j)).map { case (a, b) => a * b }.sum / d
      }
      val picked = new Array[Boolean](n)
      // NegativeInfinity until the first pick updates it: a candidate whose
      // cosine to every selected doc is negative must carry that negative
      // max-sim (a diversity BOOST under Carbonell–Goldstein), not a 0 clamp.
      // The empty-selected-set case is handled by the rank==1 guard below.
      val maxSim = Array.fill(n)(Double.NegativeInfinity)
      val out = scala.collection.mutable.ArrayBuffer[(Long, Double, Int)]()
      var rank = 1
      while (rank <= math.min(k, n)) {
        // id-ascending scan order IS the tie-break: on equal scores the
        // earlier (smaller-id) candidate stays `best`
        var best = -1; var bestScore = Double.NegativeInfinity
        var i = 0
        while (i < n) {
          if (!picked(i)) {
            val s = lambda * rels(i) -
              (1 - lambda) * (if (rank == 1) 0.0 else maxSim(i))
            if (best == -1 || s > bestScore) { best = i; bestScore = s }
          }
          i += 1
        }
        picked(best) = true
        out += ((ids(best), bestScore, rank))
        var j = 0
        while (j < n) { // update incremental max-sim against the new pick
          if (!picked(j)) maxSim(j) = math.max(maxSim(j), cos(j, best))
          j += 1
        }
        rank += 1
      }
      out.toSeq
    }
    candidates
      // null relevance/vector rows cannot rank (and would NPE in the UDF)
      .filter(col(relevanceCol).isNotNull && col(vecCol).isNotNull)
      .groupBy(col(queryIdCol))
      // array<double> cast: callers hand float or double embeddings; the
      // row decoder must see ONE type (review: a double vector column
      // ClassCastException'd per element deep in the executor)
      .agg(collect_list(struct(col(idCol).cast("long"), col(relevanceCol).cast("double"),
        col(vecCol).cast("array<double>"))).as("__cands"))
      .withColumn("__sel", explode(mmr(col("__cands"))))
      .select(col(queryIdCol),
        col("__sel._1").as(idCol),
        round(col("__sel._2") + lit(1e-9), roundScale).as("mmr_score"),
        col("__sel._3").as("mmr_rank"))
  }
}
