package graft.vec

import graft.core.SegmentedScan
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField}

/** SSL-prototype pruning and D4 selection — embedding-space data curation
  * beyond plain near-duplicate removal.
  *
  * Sorscher et al. 2022 ("Beyond neural scaling laws: beating power law
  * scaling via data pruning") show the best pruning metric they tested on
  * web-scale corpora is SELF-SUPERVISED PROTOTYPICALITY: k-means the
  * embedding space and score every example by its cosine to its own
  * centroid. The most prototypical (highest-cosine) examples are the
  * easy/redundant mass near a cluster center; for large corpora, DROPPING
  * the most prototypical fraction of every cluster and keeping the hard
  * tail beats random and beats supervised margins. Tirumala et al. 2023
  * ("D4: Improving LLM Pretraining via Document De-Duplication and
  * Diversification") chain SemDeDup → SSL prototypes over document
  * embeddings as the full recipe; [[d4Select]] is that composition over
  * [[SemDedup.semanticDedup]].
  *
  * Fit/apply split (the langIdFit / ppl-buckets discipline): [[protoFit]]
  * trains centroids with the same hash-gated, id-sorted driver Lloyd as
  * [[Pq]]/[[SemDedup]] (bit-stable across partitionings and core counts);
  * [[protoApply]]/[[protoSelectMap]] take CALLER-PROVIDED centroids, so the
  * apply half is fully deterministic given its inputs and — with centroids
  * drawn from the data, e.g. a fixed id set — replayable by a plain SQL
  * oracle (assignment is argmax cosine, pruning is a per-cluster
  * row_number over (cos desc, id)).
  *
  * Numeric protocol, shared with the gate oracles (q_ann_brute /
  * q_semantic_contamination precedent): cosine = dot/(‖v‖·‖c‖) in doubles,
  * ROUNDED TO 6dp BEFORE any argmax/rank, ties → smallest centroid index
  * (assignment) / smallest id (rank). Rounding first makes the ordering
  * immune to last-ulp divergence between engines.
  *
  * Scale shape: one corpus-scan projection computes the row norm (native
  * [[graft.expr.L2NormExpr]]) and k native dots against ONE nested-array
  * centroid literal (the SemDedup trick — no k×dim lit() forest). The
  * per-cluster rank deliberately does NOT use a window partitioned by
  * cluster: a cluster is corpus/k rows, and a degenerate cell would funnel
  * a corpus fraction through a single window task. Instead it runs as a
  * [[graft.core.SegmentedScan]] over (cluster, cos desc, id): rank =
  * global ordinal − cluster offset, where ordinal starts and offsets come
  * from per-partition cluster counts (driver-bounded by |centroids| ×
  * partitions, like langIdFit's vocab bound). Every stage is linear and
  * skew-free; no stage depends on the largest cluster's size.
  */
object Prototypes {

  /** Fit: Lloyd centroids over a hash-gated, id-sorted unit-vector sample
    * (deterministic across partitionings; the [[Pq.train]] protocol).
    */
  def protoFit(corpus: DataFrame, idCol: String, vecCol: String, k: Int,
               seed: Long = 42L, maxTrainRows: Int = 100000): Array[Array[Double]] = {
    require(k >= 1, s"prototypes: k must be >= 1, got $k")
    val sample = Pq.unitSample(corpus, idCol, vecCol, maxTrainRows, seed)
    require(sample.nonEmpty, "prototypes: empty corpus")
    Pq.lloyd(sample, math.min(k, sample.length), 20, seed)
  }

  /** Persist [[protoFit]] centroids — the fit-once / apply-everywhere
    * discipline of langid/ppl/dsir/pq (VERDICT r12 #5): at 100 TB the
    * prototype structure is trained once on a sample and reused by every
    * pruning job, so it must survive the training job. Same one-row
    * nested-array parquet idiom as [[Similarity.saveCentroids]] /
    * [[Pq.saveModel]]; doubles round-trip bit-exactly through parquet, so
    * a loaded apply is bit-identical to the in-memory one
    * (PrototypesSpec pins this).
    */
  def saveCentroids(spark: org.apache.spark.sql.SparkSession,
                    centroids: Array[Array[Double]], path: String): Unit =
    Similarity.saveCentroids(spark, centroids, path)

  /** Load centroids written by [[saveCentroids]] (shape-validated). */
  def loadCentroids(spark: org.apache.spark.sql.SparkSession,
                    path: String): Array[Array[Double]] =
    Similarity.loadCentroids(spark, path)

  /** Internal: (__pid, cluster, cos_to_centroid, proto_rank, kept) for
    * every WELL-FORMED row (right dimension, no null elements, non-zero
    * norm). kept = proto_rank > floor(pruneFraction · n_cluster), rank 1 =
    * most prototypical.
    */
  private def ranked(corpus: DataFrame, idCol: String, vecCol: String,
                     centroids: Array[Array[Double]], pruneFraction: Double): (DataFrame, () => Unit) = {
    require(pruneFraction >= 0 && pruneFraction < 1,
      s"prototypes: pruneFraction in [0,1), got $pruneFraction")
    require(centroids.nonEmpty, "prototypes: no centroids")
    require(centroids.map(_.length).distinct.length == 1, "prototypes: ragged centroids")
    val dim = centroids(0).length
    // ascending-index accumulation, matching L2NormExpr and the SQL oracle
    val norms = centroids.map(c => math.sqrt(c.map(x => x * x).sum))
    require(norms.forall(_ > 0), "prototypes: zero-norm centroid")
    val centArr = typedlit(centroids.map(_.toSeq).toSeq)
    def centAt(i: Int): Column = element_at(centArr, i + 1)
    // Cheap pushdown-safe screen BEFORE any derived column is filtered on:
    // a null-check on a computed alias would substitute the whole argmax
    // tree into the scan's data filters where it runs interpreted (the
    // SemDedup expensive-scan-filter lesson). size() is O(1) and the
    // native norm nulls on null elements, so `__vn > 0` (null → false) is
    // the entire malformed-row screen.
    val pre = corpus.select(col(idCol).as("__pid"), col(vecCol).as("__v"))
      .withColumn("__vn", graft.expr.L2NormExpr(col("__v")))
      .filter(size(col("__v")) === lit(dim) && col("__vn") > lit(0.0))
    // cos to each centroid, rounded BEFORE the argmax (see object doc)
    def cosTo(i: Int): Column =
      round(graft.expr.DotProduct(col("__v"), centAt(i)) / (col("__vn") * lit(norms(i))), 6)
    // argmax cosine, ties → smallest index: array_max over struct(c, -i)
    // compares c first, then -i (max of -i = min i). Null-ness is uniform
    // across i after the screen above (same dims, non-zero norms), so no
    // per-element null filtering is needed.
    val scoredArr = array(centroids.indices.map(i =>
      struct(cosTo(i).as("c"), lit(-i).as("ni"))): _*)
    // persisted: the k-dot argmax projection feeds the counts collect, the
    // ordinal sort, and (through the returned frame's lineage) the caller's
    // join/anti-join — uncached it would re-scan the corpus 2-3× (the
    // SemDedup unit-frame persist discipline; round-12 review catch). The
    // returned release hook unpersists it; callers call it as soon as they
    // have MATERIALIZED what they need from the ranked frame, so repeated
    // proto ops in one session don't accumulate cached blocks (ADVICE r12).
    val scored = pre
      .withColumn("__best", array_max(scoredArr))
      .select(col("__pid"),
        (lit(0) - col("__best.ni")).cast("int").as("cluster"),
        col("__best.c").as("cos_to_centroid"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // distributed ordinals: a SegmentedScan over the total
    // order (cluster, cos desc, id); per-cluster rank = global ordinal −
    // cluster offset. No per-cluster window, no single-task funnel; AQE
    // sizes the range exchange. Pass 1 counts rows per cluster — the sort
    // clusters equal keys, so this is a run-length scan — over EVERY
    // partition: `kept` needs each cluster's total, which later partitions
    // add to. The fold turns those |centroids| × partitions counts into
    // each partition's ordinal start and (offset, size) of the clusters in
    // it; pass 2 computes rank and kept in-row.
    val scan = SegmentedScan(scored,
      Seq(col("cluster"), col("cos_to_centroid").desc, col("__pid")))
    val clusterIdx = scan.index("cluster")
    val schema = scan.schema
      .add(StructField("proto_rank", LongType, nullable = false))
      .add(StructField("kept", org.apache.spark.sql.types.BooleanType, nullable = false))
    val out = scan.run(schema, wholeInput = true)({ it =>
      val counts = scala.collection.mutable.LinkedHashMap.empty[Int, Long]
      it.foreach { r =>
        val c = r.getInt(clusterIdx)
        counts.update(c, counts.getOrElse(c, 0L) + 1L)
      }
      counts.toArray
    })({ parts =>
      val totals = scala.collection.mutable.TreeMap.empty[Int, Long]
      parts.flatten.foreach(_.foreach { case (c, n) => totals.update(c, totals.getOrElse(c, 0L) + n) })
      // cluster order is the sort's order
      val offsets = totals.keys.zip(totals.values.scanLeft(0L)(_ + _)).toMap
      val starts = parts.scanLeft(0L)((s, p) => s + p.fold(0L)(_.map(_._2).sum))
      parts.zip(starts).map { case (p, start) =>
        (start, p.fold(Map.empty[Int, (Long, Long)])(_.map { case (c, _) =>
          c -> (offsets(c), totals(c)) }.toMap))
      }
    }) { case ((start, clusters), it) =>
      val app = new SegmentedScan.Appender(schema, 2)
      var ordinal = start
      it.map { r =>
        ordinal += 1L
        val (clOff, clN) = clusters(r.getInt(clusterIdx))
        val rank = ordinal - clOff
        app(0) = rank
        app(1) = rank > math.floor(pruneFraction * clN).toLong
        app(r)
      }
    }
    (out, () => { scored.unpersist(false); () })
  }

  /** Audit map: (id, cluster, cos_to_centroid, proto_rank, kept) for EVERY
    * corpus row. rank 1 = most prototypical of its cluster; kept is false
    * for the floor(pruneFraction · n_c) most prototypical members of each
    * cluster (ties → smaller id dropped first). Degenerate rows (wrong
    * dimension, null elements, zero norm) carry null cluster/rank and
    * kept = true — they are prototypes of nothing, mirroring SemDedup's
    * "wrong-dim rows are duplicates of nothing".
    */
  def protoSelectMap(corpus: DataFrame, idCol: String, vecCol: String,
                     centroids: Array[Array[Double]], pruneFraction: Double): DataFrame = {
    val (r, release) = ranked(corpus, idCol, vecCol, centroids, pruneFraction)
    // materialize the narrow ranked map (5 thin columns), then drop the
    // wide scored cache — the retained blocks are exactly the op's output
    val rc = r.localCheckpoint()
    release()
    corpus.select(col(idCol))
      .join(rc.withColumnRenamed("__pid", idCol), Seq(idCol), "left")
      .withColumn("kept", coalesce(col("kept"), lit(true)))
  }

  /** The pruning op: corpus minus the floor(pruneFraction · n_c) most
    * prototypical members of every cluster (Sorscher et al. 2022 §5 —
    * keep the hard tail). Full corpus schema rides through.
    */
  def protoApply(corpus: DataFrame, idCol: String, vecCol: String,
                 centroids: Array[Array[Double]], pruneFraction: Double): DataFrame = {
    val (r, release) = ranked(corpus, idCol, vecCol, centroids, pruneFraction)
    // materialize only the pruneFraction-sized dropped-id list, then drop
    // the wide scored cache
    val dropped = r.filter(!col("kept")).select(col("__pid").as(idCol)).localCheckpoint()
    release()
    corpus.join(dropped, Seq(idCol), "left_anti")
  }

  /** Fit-then-apply convenience (single-corpus usage). */
  def protoPrune(corpus: DataFrame, idCol: String, vecCol: String,
                 pruneFraction: Double, k: Int, seed: Long = 42L,
                 maxTrainRows: Int = 100000): DataFrame =
    protoApply(corpus, idCol, vecCol, protoFit(corpus, idCol, vecCol, k, seed, maxTrainRows),
      pruneFraction)

  /** D4 (Tirumala et al. 2023): SemDeDup at `semThreshold`, then SSL-
    * prototype pruning of the survivors against `centroids`. The semantic
    * stage removes near-duplicate mass; the prototype stage then
    * diversifies what remains — the paper's observed win over either stage
    * alone.
    */
  def d4Select(corpus: DataFrame, idCol: String, vecCol: String,
               semThreshold: Double, semClusters: Int,
               centroids: Array[Array[Double]], pruneFraction: Double,
               seed: Long = 42L, maxTrainRows: Int = 100000,
               maxClusterSize: Int = 10000): DataFrame = {
    val survivors = SemDedup.semanticDedup(corpus, idCol, vecCol, semThreshold, semClusters,
      seed, "far_from_centroid", maxTrainRows, maxClusterSize)
    protoApply(survivors, idCol, vecCol, centroids, pruneFraction)
  }

  /** [[d4Select]] with the prototype centroids FITTED on the semantic
    * survivors (the paper re-clusters after dedup — duplicate mass no
    * longer drags centroids toward itself).
    */
  def d4SelectFit(corpus: DataFrame, idCol: String, vecCol: String,
                  semThreshold: Double, semClusters: Int,
                  protoK: Int, pruneFraction: Double,
                  seed: Long = 42L, maxTrainRows: Int = 100000,
                  maxClusterSize: Int = 10000): DataFrame = {
    val survivors = SemDedup.semanticDedup(corpus, idCol, vecCol, semThreshold, semClusters,
      seed, "far_from_centroid", maxTrainRows, maxClusterSize)
    protoApply(survivors, idCol, vecCol,
      protoFit(survivors, idCol, vecCol, protoK, seed, maxTrainRows), pruneFraction)
  }
}
