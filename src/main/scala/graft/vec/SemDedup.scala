package graft.vec

import graft.core.Checkpoints
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** SemDeDup — semantic deduplication over embeddings (Abbas et al. 2023,
  * "SemDeDup: Data-efficient learning at web-scale through semantic
  * deduplication"; the recipe behind LAION/web-corpus semantic pruning).
  *
  * Pipeline: k-means the embedding space into `nClusters` cells, compare
  * pairs ONLY within a cell (the paper's trick — near-dups land in the
  * same cell, so the O(n²) pair space collapses to Σ|cell|²), connect
  * pairs above the cosine threshold into duplicate groups, and keep ONE
  * member per group. The paper keeps the member with the LOWEST cosine to
  * its cluster centroid (the least-typical example — pruning toward
  * diversity); `keep = "min_id"` gives the corpus-stable election the
  * other dedup ops use.
  *
  * Everything is deterministic by construction: centroids come from the
  * same hash-gated, id-sorted driver Lloyd as [[Pq]] (bit-stable across
  * partitionings), assignment/cos are row-local expressions, components
  * elect min labels, and both survivor elections tie-break on id — so the
  * gate query is golden-able, unlike an MLlib-backed formulation.
  *
  * Scale shape: a map-side-combined aggregation + skew-splittable join
  * on the unit vector (exact-duplicate collapse — identical vectors
  * never enter the quadratic pair space, see semanticDupGroups; AQE can
  * split the join partition a million-deep identical blob lands in,
  * which a window over `__u` could not), one exchange on the cluster id for pair
  * generation over the REPRESENTATIVES only (bucketPairs: window cap
  * BEFORE collect_list, ids-only explosion), the adaptive connected
  * components, and broadcast-joined election — no all-pairs join
  * anywhere; vectors ride only (a) the corpus-scan assignment
  * projection and (b) the per-rep-pair cosine re-check join.
  * `maxClusterSize` caps a degenerate cell the same way LSH caps a hot
  * bucket — counted in distinct vectors, so only a genuinely diverse
  * giant cell trips it; the paper's cluster count (corpus/k ≈ thousands
  * of members) keeps real cells far below it.
  */
object SemDedup {

  /** (id, survivor, cos_to_centroid) for every member of a duplicate
    * group, survivors included — the audit view (like Dedup.exactDupMap).
    */
  def semanticDupGroups(
      corpus: DataFrame, idCol: String, vecCol: String,
      threshold: Double = 0.95, nClusters: Int = 64, seed: Long = 42L,
      keep: String = "far_from_centroid",
      maxTrainRows: Int = 100000, maxClusterSize: Int = 10000
  ): DataFrame = {
    require(threshold > 0 && threshold <= 1, s"semantic dedup: threshold in (0,1], got $threshold")
    require(Set("far_from_centroid", "min_id")(keep),
      s"semantic dedup: keep must be far_from_centroid|min_id, got $keep")
    val unitBase = Pq.unitFrame(corpus, idCol, vecCol) // malformed rows already out
    val sample = Pq.sampleFromUnit(unitBase, maxTrainRows, seed)
    require(sample.nonEmpty, "semantic dedup: empty corpus")
    val cents = Pq.lloyd(sample, math.min(nClusters, sample.length), 20, seed)
    // ONE nested-array literal node, not k×dim composed lit()s: the wide
    // (2 000+-node) literal tree was re-analyzed by Catalyst on every one
    // of this composite's ~10 actions, and that driver-side plan work —
    // not data — dominated the sf0.1 timing. element_at over the single
    // literal constant-folds to the same per-centroid arrays in codegen.
    val centArr = typedlit(cents.map(_.toSeq).toSeq)
    def centAt(i: Int): Column = element_at(centArr, i + 1)
    // row-local nearest-centroid argmin (unit vectors: d² = 2 - 2·dot) and
    // cosine to the OWN centroid — one projection, no expansion. A
    // wrong-dimension vector (null dot against centroid 0) gets a NULL
    // cluster, never a default one: funneling malformed rows into cluster
    // 0 could blow that cell past maxClusterSize and silently drop ALL of
    // its real duplicate pairs.
    def nearest(u: Column): Column = {
      val scored = array(cents.indices.map { i =>
        struct((lit(1.0) - graft.expr.DotProduct(u, centAt(i))).as("d"),
          lit(i).as("l"))
      }: _*)
      when(graft.expr.DotProduct(u, centAt(0)).isNotNull,
        array_min(scored).getField("l"))
    }
    // Exact-duplicate collapse BEFORE pair generation: vectors that
    // normalize to the same unit vector are mutual cos-exactly-1
    // duplicates for every valid threshold (threshold ≤ 1 is required
    // above), so only ONE representative per identical-vector group (the
    // min id) needs to enter the quadratic within-cell pair space; the
    // group expands back onto its rep's component afterwards. Real
    // corpora are exactly-duplicate-heavy, and the pair space shrinks by
    // the SQUARE of the duplication depth — the sf≈1 scale-stress (10
    // byte-identical copies, 20-deep groups in the gate query) drops
    // from ~50M generated pairs to ~125k. Output-equivalent: identical
    // groups are cliques, so member-level components = rep-level
    // components expanded, and min-member labels = min-rep labels
    // (reps ARE their groups' minima). One deliberate divergence: the
    // maxClusterSize degenerate-cell cap now counts DISTINCT vectors,
    // not members — an all-identical blob no longer trips it (strictly
    // better recall; the cap exists for adversarial cells, and those are
    // now collapsed before it applies).
    // A group is collapsible ONLY if the exact pair predicate holds for
    // the identical pair itself: dot(u, u) ≥ threshold. This keeps the
    // collapse bit-faithful to the uncollapsed filter at the edges the
    // "identical ⇒ cos 1" argument glosses over — all-zero vectors
    // (l2Normalize passes them through; self-dot 0 fails every positive
    // threshold, so the original never pairs them) stay singletons, and
    // a float self-dot a hair under a threshold of exactly 1.0 rejects
    // the same pairs the original rejects. NaN vectors follow Spark's
    // NaN-largest comparison on both paths. Non-collapsible rows are
    // their own representatives and enter pair generation individually,
    // exactly as before.
    // The rep/size election is a map-side-combined aggregation + join, NOT
    // a window over __u (the minhashCandidates pattern): a window sends a
    // million-deep identical blob to ONE task and cannot be skew-split,
    // while AQE can split the skewed join partition. __gsz is only read
    // under __selfdup (soloDupReps), so non-selfdup rows coalesce to 1.
    // Wrong-dimension rows are screened with a CHEAP predicate (size ==
    // the trained dim) BEFORE the cluster column exists — NOT with
    // `filter(isnotnull(__cl))`. Filter pushdown substitutes an alias's
    // defining expression into the pushed predicate, so a null-check on
    // __cl re-evaluates the ENTIRE nearest-centroid tree (k dots over the
    // inlined unitize) per row inside the scan's data filters, where it
    // runs interpreted: measured 57 s vs 2 s on a 400k-row corpus for the
    // SAME rows kept. Equivalent by construction: unitFrame already
    // guarantees __u non-null with non-null elements, so __cl is null
    // exactly when the dimension mismatches.
    Checkpoints.scoped {
      val unit0 = Checkpoints.hold(unitBase.withColumnRenamed("__id", "id")
        .filter(size(col("__u")) === lit(cents(0).length)) // wrong-dim rows: not duplicates of anything
        .withColumn("__cl", nearest(col("__u")))
        .withColumn("__cc", graft.expr.DotProduct(col("__u"), element_at(centArr, col("__cl") + 1)))
        .withColumn("__selfdup",
          coalesce(graft.expr.DotProduct(col("__u"), col("__u")) >= lit(threshold), lit(false))))
      // Only MULTI-member groups ride the join-back (a duplicate-light
      // corpus keeps this relation broadcast-small, so AQE broadcasts it
      // instead of shuffling the whole corpus on array keys); selfdup
      // singletons coalesce to themselves — bit-identical to joining every
      // group, since a singleton's elected rep IS its own id.
      val identGroups = unit0.filter(col("__selfdup"))
        .groupBy(col("__u").as("__gu"))
        .agg(min(col("id")).as("__grep"), count(lit(1)).as("__ggsz"))
        .filter(col("__ggsz") >= 2)
      val unit = Checkpoints.hold(unit0.join(identGroups, unit0("__u") === identGroups("__gu"), "left")
        .withColumn("__rep", when(col("__selfdup"), coalesce(col("__grep"), col("id"))).otherwise(col("id")))
        .withColumn("__gsz", coalesce(col("__ggsz"), lit(1L)))
        .drop("__gu", "__grep", "__ggsz"))
      val reps = unit.filter(col("id") === col("__rep"))
      val pairs = graft.text.Dedup.bucketPairs(
          reps.select(col("id"), col("__cl")), Seq("__cl"), maxClusterSize)
        .join(reps.select(col("id").as("id_a"), col("__u").as("__ua")), Seq("id_a"))
        .join(reps.select(col("id").as("id_b"), col("__u").as("__ub")), Seq("id_b"))
        .filter(graft.expr.DotProduct(col("__ua"), col("__ub")) >= threshold)
        .select("id_a", "id_b")
      val repGroups = graft.text.Dedup.clusterCandidates(pairs)
        .withColumnRenamed("cluster_id", "__grp")
      // an identical group (size ≥ 2) whose rep pairs with no OTHER vector
      // is a component of its own, labeled by its min member id — the rep
      val soloDupReps = reps.filter(col("__gsz") >= 2 && col("__selfdup")).select(col("id"))
        .join(repGroups.select("id"), Seq("id"), "left_anti")
        .withColumn("__grp", col("id"))
      val repLabeled = repGroups.unionByName(soloDupReps)
      // __cc rides the SAME join that attaches the group label: the previous
      // formulation joined unit twice (groups on __rep, then members back on
      // id to re-fetch __cc) — one whole join/exchange for a column the left
      // side already carried (round 15).
      val members = unit.select(col("id"), col("__rep"), col("__cc"))
        .join(repLabeled.select(col("id").as("__rep"), col("__grp")), Seq("__rep"))
        .select(col("id"), col("__grp"), col("__cc"))
      // survivor: the paper keeps the member LEAST similar to its centroid
      // (diversity); min_id keeps the smallest id. Both tie-break on id.
      val electKey =
        if (keep == "far_from_centroid") struct(col("__cc"), col("id"))
        else struct(lit(0.0), col("id"))
      val survivors = members.withColumn("__ek", electKey)
        .groupBy(col("__grp")).agg(min(col("__ek")).as("__win"))
        .select(col("__grp"), col("__win.id").as("survivor"))
      // Materialize the NARROW groups map (3 thin columns) and release the
      // two WIDE persisted frames (unit0/unit carry the embedding arrays) —
      // repeated semantic_dedup/d4_select ops in one session previously
      // accumulated their cached blocks for the session lifetime (the
      // Prototypes release discipline, ADVICE r12's "same latent issue as
      // SemDedup"). Values are unchanged; the caller's anti-join reads the
      // checkpoint instead of re-reading the caches.
      Checkpoints.cut(members.join(survivors, Seq("__grp"))
        .select(col("id"), col("survivor"), round(col("__cc"), 6).as("cos_to_centroid")))
    }
  }

  /** The end-to-end op: corpus minus semantic duplicates (one survivor per
    * duplicate group, election per `keep`).
    */
  def semanticDedup(
      corpus: DataFrame, idCol: String, vecCol: String,
      threshold: Double = 0.95, nClusters: Int = 64, seed: Long = 42L,
      keep: String = "far_from_centroid",
      maxTrainRows: Int = 100000, maxClusterSize: Int = 10000
  ): DataFrame = {
    val losers = semanticDupGroups(corpus, idCol, vecCol, threshold, nClusters, seed,
        keep, maxTrainRows, maxClusterSize)
      .filter(col("id") =!= col("survivor"))
      .select(col("id").as(idCol))
    corpus.join(losers, Seq(idCol), "left_anti")
  }
}
