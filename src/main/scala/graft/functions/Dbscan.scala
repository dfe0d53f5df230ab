package graft.functions

import graft.core.Checkpoints
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed DBSCAN over low-dimensional feature columns.
  *
  * Closes the reference's `algorithm='dbscan'` branch of
  * create_clustering_features (feature_engineering.py:496-504 — sklearn
  * DBSCAN over scaled feature columns, noise labelled -1), which round 1-4
  * scope-noted out because MLlib ships no DBSCAN. This is NOT a port of
  * sklearn's index-based single-machine scan: it is the grid-bucketed
  * formulation every distributed DBSCAN paper converges on (MR-DBSCAN /
  * RDD-DBSCAN family) re-expressed as four declarative Spark stages, so
  * Catalyst/AQE schedule it like any other bucketed join pipeline:
  *
  *  1. **Cell bucketing** — each point hashes to a grid cell of side `eps`
  *     (`floor(x_i/eps)` per dim). All eps-neighbors of a point lie in the
  *     3^d surrounding cells, so the eps-neighborhood join becomes an
  *     EQUI-join on cell id: probe copies of each point go to its 3^d
  *     neighbor cells, build side keeps home cells only. No all-pairs scan
  *     exists anywhere; the cell id is a spatial LSH and the join shuffles
  *     uniformly on it. Each unordered pair materializes exactly once
  *     (probe lands in the partner's home cell; `id_a < id_b` keeps one
  *     direction), so neighbor counts need no distinct.
  *  2. **Core flags** — neighbor degree per id from the symmetric pair
  *     list (one map-side-combined groupBy); a point is core when
  *     `degree + 1 >= minPts` (sklearn's min_samples counts the point
  *     itself, same convention here).
  *  3. **Clusters** — connected components over core-core pairs via
  *     [[graft.text.Dedup.clusterCandidates]] (min-label propagation with
  *     pointer jumping: O(log diameter) rounds, loud on non-convergence).
  *     The cluster id IS the smallest core id in the component — stable
  *     across partitionings and retries, unlike sklearn's first-seen
  *     numbering (documented divergence: labels differ by a bijection).
  *  4. **Borders** — a non-core point with >= 1 core eps-neighbor joins
  *     the MINIMUM cluster id among its core neighbors. sklearn assigns
  *     border ties by scan order (order-dependent!); min is the
  *     deterministic choice, and differs only on the rare border point
  *     within eps of two different clusters.
  *
  * Noise keeps cluster = -1 (cast to the id column's type), like the
  * reference.
  *
  * Scale shape: shuffles are (a) the cell equi-join, (b) one degree
  * aggregation, (c) the CC label joins on id — all keyed on uniform
  * hash-distributed values; nothing is driver-side and no stage sees the
  * corpus in one task. The inherent DBSCAN caveat applies: a single cell
  * holding k points in a dense blob yields O(k^2) intra-cell pairs —
  * that is the density the caller asked to measure, not a skew accident
  * (the classic refinement, side eps/sqrt(d) cells whose occupants are
  * mutually in-range and need no pair expansion once |cell| >= minPts,
  * trades 3^d for (2*ceil(sqrt(d))+1)^d replication and is not worth it at
  * the d <= 4 this operator accepts).
  *
  * Nulls in feature columns are treated as 0.0 — parity with the
  * reference's `fillna(0)` (feature_engineering.py:475).
  *
  * @param idCol orderable id column; cluster labels take its type (noise
  *              -1 casts into it).
  */
object Dbscan {

  /** Max feature dimensionality: probe replication is 3^d copies per point
    * (d=4 → 81). Higher-dimensional density clustering wants the
    * LSH-bucketed pair generator (Similarity.embeddingNearDupPairs +
    * Dedup.clusterCandidates) instead — grids are useless past ~5 dims.
    */
  val MaxDims = 4

  def dbscan(df: DataFrame, cols: Seq[String], eps: Double, minPts: Int,
             idCol: String, maxIter: Int = 10, maxLocalPairs: Long = 2000000L): DataFrame = {
    val d = cols.size
    require(d >= 1 && d <= MaxDims,
      s"dbscan: ${cols.size} feature columns; grid replication is 3^d — use 1..$MaxDims dims " +
      "(for high-dim density grouping compose embeddingNearDupPairs + clusterCandidates)")
    require(eps > 0, s"dbscan: eps must be positive, got $eps")
    require(minPts >= 1, s"dbscan: minPts must be >= 1, got $minPts")

    val pts = df.select(
      col(idCol).as("id") +:
      cols.zipWithIndex.map { case (c, i) => coalesce(col(c).cast("double"), lit(0.0)).as(s"x$i") }: _*)

    // grid cell of side eps, shifted by `offs` cells; string key = an
    // equi-joinable spatial bucket (array keys hash-join too, but a string
    // keeps the plan and the spec output readable)
    def cellKey(offs: Seq[Int]) = concat_ws(",",
      (0 until d).map(i => (floor(col(s"x$i") / lit(eps)).cast("long") + lit(offs(i))).cast("string")): _*)

    val offsets = Seq.fill(d)(Seq(-1, 0, 1))
      .foldLeft(Seq(Seq.empty[Int]))((acc, s) => acc.flatMap(a => s.map(v => a :+ v)))

    val home = pts.withColumn("cell", cellKey(Seq.fill(d)(0)))
    val probe = pts.withColumn("cell", explode(array(offsets.map(cellKey): _*)))

    val left = probe.select(col("id").as("id_a") +:
      (0 until d).map(i => col(s"x$i").as(s"a$i")) :+ col("cell"): _*)
    val right = home.select(col("id").as("id_b") +:
      (0 until d).map(i => col(s"x$i").as(s"b$i")) :+ col("cell"): _*)
    val dist2 = (0 until d)
      .map(i => (col(s"a$i") - col(s"b$i")) * (col(s"a$i") - col(s"b$i")))
      .reduce(_ + _)
    val pairs = Checkpoints.hold(left.join(right, Seq("cell"))
      .filter(col("id_a") < col("id_b") && dist2 <= lit(eps * eps))
      .select("id_a", "id_b")) // feeds degree, core edges, borders
    val nPairs = pairs.count() // materializes the cache for either path

    val idType = df.schema(idCol).dataType
    // Unified no-label fallback: a row in no eps-pair at all is noise —
    // except at minPts<=1, where every point is core and its own cluster.
    // (The distributed path labels such rows itself; the expression is
    // then only reachable for true noise.) The label frame's columns are
    // renamed to internal names before the join: the input frame may
    // legitimately carry `cluster_id`/`is_core` already (e.g. a kmeans
    // clusteringFeatures pass piped into dbscan), and joining by the bare
    // names would make the coalesce references ambiguous.
    def finish(labels: DataFrame): DataFrame =
      df.join(labels.select(col("id").as(idCol), col("cluster_id").as("__dbs_cid"),
          col("is_core").as("__dbs_core")), Seq(idCol), "left")
        .withColumn("cluster", coalesce(col("__dbs_cid"),
          if (minPts <= 1) col(idCol) else lit(-1L).cast(idType)))
        .withColumn("is_core", coalesce(col("__dbs_core"), lit(minPts <= 1)))
        .drop("__dbs_cid", "__dbs_core")

    if (nPairs <= maxLocalPairs) {
      // ADAPTIVE small-graph path (same rationale as Dedup.clusterCandidates:
      // gate-scale graphs pay more in AQE stage scheduling than in data —
      // the distributed formulation runs ~16 stage-jobs of driver overhead).
      // Degrees, core flags, min-root union-find and border election all
      // come from ONE collect of the already-materialized pair list; the
      // differential spec pins equality against the distributed path.
      val rows = pairs.collect()
      val deg = new java.util.HashMap[Any, Integer]()
      rows.foreach { r =>
        deg.merge(r.get(0), 1, (a, b) => a + b); deg.merge(r.get(1), 1, (a, b) => a + b)
      }
      def isCore(x: Any): Boolean = deg.getOrDefault(x, 0) + 1 >= minPts
      val uf = new graft.core.MinRootUnionFind // root == the distributed min-label
      rows.foreach { r =>
        val (a, b) = (r.get(0), r.get(1))
        if (isCore(a) && isCore(b)) uf.union(a, b)
      }
      val label = new java.util.HashMap[Any, Any]()
      deg.keySet().forEach { id =>
        if (isCore(id)) label.put(id, if (uf.contains(id)) uf.find(id) else id)
      }
      val borderLabel = new java.util.HashMap[Any, Any]()
      def offerBorder(nid: Any, cid: Any): Unit = if (!isCore(nid) && isCore(cid))
        borderLabel.merge(nid, label.get(cid), (x, y) => uf.min(x, y))
      rows.foreach { r => offerBorder(r.get(0), r.get(1)); offerBorder(r.get(1), r.get(0)) }
      val out = new java.util.ArrayList[org.apache.spark.sql.Row](label.size() + borderLabel.size())
      label.forEach { (id, c) => out.add(org.apache.spark.sql.Row(id, c, true)) }
      borderLabel.forEach { (id, c) => out.add(org.apache.spark.sql.Row(id, c, false)) }
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id", idType),
        org.apache.spark.sql.types.StructField("cluster_id", idType),
        org.apache.spark.sql.types.StructField("is_core", org.apache.spark.sql.types.BooleanType)))
      return finish(broadcast(df.sparkSession.createDataFrame(out, schema)))
    }

    val deg = pairs.select(col("id_a").as("id")).union(pairs.select(col("id_b").as("id")))
      .groupBy("id").agg(count(lit(1)).as("__nbrs"))
    val flagged = Checkpoints.hold(pts.select("id").join(deg, Seq("id"), "left")
      .withColumn("is_core", coalesce(col("__nbrs"), lit(0L)) + 1 >= minPts)
      .drop("__nbrs"))

    val coreIds = flagged.filter(col("is_core")).select("id")
    val coreEdges = pairs
      .join(coreIds.withColumnRenamed("id", "id_a"), Seq("id_a"), "left_semi")
      .join(coreIds.withColumnRenamed("id", "id_b"), Seq("id_b"), "left_semi")
    // cores in no core-core pair (isolated dense duplicates, or minPts=1
    // singletons) are their own cluster: left join + coalesce to own id
    val coreLabels = coreIds
      .join(graft.text.Dedup.clusterCandidates(coreEdges, maxIter), Seq("id"), "left")
      .select(col("id"), coalesce(col("cluster_id"), col("id")).as("cluster_id"))

    val symNbrs = pairs.select(col("id_a").as("nid"), col("id_b").as("cid"))
      .union(pairs.select(col("id_b").as("nid"), col("id_a").as("cid")))
    val borderLabels = symNbrs
      .join(flagged.filter(!col("is_core")).select(col("id").as("nid")), Seq("nid"), "left_semi")
      .join(coreLabels.withColumnRenamed("id", "cid"), Seq("cid"))
      .groupBy(col("nid").as("id")).agg(min(col("cluster_id")).as("cluster_id"))

    val labels = coreLabels.withColumn("is_core", lit(true))
      .union(borderLabels.withColumn("is_core", lit(false)))
    finish(labels)
  }

  /** The reference op's dbscan mode end-to-end: standardize the feature
    * columns like its StandardScaler pass (population stddev, ddof=0;
    * constant columns stay 0 like sklearn's scale_=1 guard), then cluster.
    * Output column named `cluster_label` for parity with the kmeans branch.
    * The mean/stddev collect is one row — bounded, same pattern as the
    * profiler's scalar aggregates.
    */
  def clusteringFeaturesDbscan(df: DataFrame, cols: Seq[String], eps: Double = 0.5,
                               minPts: Int = 5, idCol: String): DataFrame = {
    val statsRow = df.select(cols.flatMap(c => Seq(
      avg(coalesce(col(c).cast("double"), lit(0.0))).as(s"m_$c"),
      stddev_pop(coalesce(col(c).cast("double"), lit(0.0))).as(s"s_$c"))): _*).first()
    val scaled = cols.zipWithIndex.foldLeft(df) { case (acc, (c, i)) =>
      val m = Option(statsRow.get(2 * i)).map(_.asInstanceOf[Double]).getOrElse(0.0)
      val s0 = Option(statsRow.get(2 * i + 1)).map(_.asInstanceOf[Double]).getOrElse(0.0)
      val s = if (s0 == 0.0) 1.0 else s0 // sklearn: zero-variance scale_ -> 1
      acc.withColumn(s"__z_$c", (coalesce(col(c).cast("double"), lit(0.0)) - lit(m)) / lit(s))
    }
    dbscan(scaled, cols.map(c => s"__z_$c"), eps, minPts, idCol)
      .drop(cols.map(c => s"__z_$c"): _*)
      .withColumnRenamed("cluster", "cluster_label")
  }
}
