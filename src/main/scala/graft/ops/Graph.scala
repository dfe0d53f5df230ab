package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core.Checkpoints

/** Link-graph analytics for web-curation pipelines: degree statistics and
  * PageRank. Crawl-derived quality signals (a page's link authority is a
  * classic training-data quality prior — pages nobody links to skew spam)
  * need exactly these two primitives over the (src, dst) edge relation that
  * UrlLib.registeredDomain extraction produces from a crawl.
  *
  * Scale shape: every step is an equi-join/groupBy on node ids (one shuffle
  * each); the rank state is |nodes| rows, never |edges|; a periodic
  * lineage cut (every k iterations) keeps the plan bounded,
  * and the dangling-mass scalar folds into the contribution
  * aggregate instead of replaying the iteration history
  * (the clusterCandidates lesson, NOTES_r05).
  */
object Graph {

  /** Per-node out/in degrees over the DISTINCT edge relation. */
  def degrees(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull).distinct()
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
    val outd = e.groupBy(col("src").as("node")).agg(count(lit(1)).as("out_degree"))
    val ind = e.groupBy(col("dst").as("node")).agg(count(lit(1)).as("in_degree"))
    nodes.join(outd, Seq("node"), "left").join(ind, Seq("node"), "left")
      .select(col("node"),
        coalesce(col("out_degree"), lit(0L)).as("out_degree"),
        coalesce(col("in_degree"), lit(0L)).as("in_degree"))
  }

  /** PageRank with uniform dangling-mass redistribution:
    * r(v) = (1−d)/N + d·(Σ_{u→v} r(u)/outdeg(u) + dangling/N), iterated a
    * fixed number of rounds from the uniform vector over the DISTINCT
    * simple graph.
    *
    * Dangling-ness is a STATIC property of the graph (a node either has
    * out-edges or it doesn't), so the rank state carries a `__has_out`
    * flag and the per-iteration dangling scalar is a conditional sum in
    * ONE pass over the state — no anti-join, no second relation. The
    * contribution join stays INNER (eDeg ⋈ ranks), which keeps the small
    * rank side broadcastable at bench scale and lets the checkpointed
    * eDeg's hash(src) partitioning be reused at cluster scale (a LEFT
    * join from ranks would force the edge relation through a sort-merge
    * every iteration). The state is materialized (cut) only
    * every `checkpointInterval` iterations: a deferred level re-reads its
    * predecessor only through reused exchanges plus one |nodes|-cheap
    * projection, so deferral trades state materializations and job
    * launches for a negligible recompute.
    */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
               iterations: Int = 10, damping: Double = 0.85,
               checkpointInterval: Int = 3): DataFrame = {
    require(iterations >= 1, s"pageRank: iterations must be >= 1, got $iterations")
    require(damping > 0 && damping < 1, s"pageRank: damping must be in (0,1), got $damping")
    require(checkpointInterval >= 1, s"pageRank: checkpointInterval must be >= 1, got $checkpointInterval")
    // ONE edge-sized artifact lives at a time: the distinct edge relation
    // is never materialized on its own (it is computed twice — into outd
    // and into eDeg — trading one cheap re-aggregation for an edge-sized
    // block footprint of zero), and nodes derives from the CUT eDeg, not
    // from a third distinct pass. A rank generation is released as soon
    // as its successor exists, and everything but the result is released
    // at return. Stale checkpoint blocks are what choked the 100x
    // scale-stress: e + eDeg + old rank generations sat in storage while
    // the per-iteration hash aggregations were denied execution memory
    // (AGGREGATE_OUT_OF_MEMORY at the default heap).
    Checkpoints.scoped {
      val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
        .filter(col("src").isNotNull && col("dst").isNotNull).distinct()
      // outd is consumed exactly once (into eDeg's materialization) now that
      // the dangling pass is folded into the contribution aggregate, so it
      // carries no cut of its own
      val outd = e.groupBy("src").agg(count(lit(1)).as("outd"))
      // every edge row survives the outd join (outd covers every src), so
      // eDeg IS the distinct edge relation, degree-annotated
      val eDeg = Checkpoints.cut(e.join(outd, Seq("src")))
      // node universe annotated with the STATIC has-out-edges flag — both
      // derived from the CUT eDeg, not from extra passes over e
      val nodes = Checkpoints.cut(eDeg.select(col("src").as("node"))
        .union(eDeg.select(col("dst").as("node"))).distinct()
        .join(eDeg.select(col("src").as("node")).distinct()
          .withColumn("__out", lit(true)), Seq("node"), "left")
        .select(col("node"), coalesce(col("__out"), lit(false)).as("__has_out")))
      val n = nodes.count()
      require(n > 0, "pageRank: empty graph")

      def iteration(ranks: DataFrame): DataFrame = {
        // mass sitting on nodes with no out-edges: one conditional-sum pass
        // over the rank state (the flag rides in-row), broadcast IN-PLAN as
        // a one-row scalar under every output row (the scalar-broadcast
        // pattern binQuantile et al. use) instead of a head() to the driver
        val dangling = ranks.agg(coalesce(
          sum(when(!col("__has_out"), col("rank"))), lit(0.0)).as("__dangling"))
        val contribs = eDeg.join(ranks, eDeg("src") === ranks("node"))
          .select(col("dst").as("node"), (col("rank") / col("outd")).as("__c"))
          .groupBy("node").agg(sum(col("__c")).as("__contrib"))
        nodes.join(contribs, Seq("node"), "left")
          .crossJoin(broadcast(dangling))
          .select(col("node"), col("__has_out"),
            (lit((1 - damping) / n) + lit(damping) *
              (coalesce(col("__contrib"), lit(0.0)) + col("__dangling") / n)).as("rank"))
      }
      // one cut per `checkpointInterval` iterations, and one after the
      // last: the iterations between cuts chain onto the last cut's plan.
      // The uniform start is a pure projection of the cut nodes.
      val segments = (1 to iterations).grouped(checkpointInterval).toSeq
      var segment = 0
      Checkpoints.iterate(nodes.withColumn("rank", lit(1.0 / n))) { ranks =>
        segments(segment).foldLeft(ranks)((r, _) => iteration(r))
      } { _ => segment += 1; segment == segments.size }
        .select(col("node"), col("rank"))
    }
  }


  /** Per-node triangle counts over the undirected simple graph — the link-
    * farm / clique-spam detector (a crawl node whose neighborhood is a
    * near-clique is a template network, not organic linking; clustering
    * coefficient = triangles / (deg·(deg−1)/2) falls out of this joined
    * with [[degrees]]).
    *
    * Distributed shape is the degree-ordered orientation (Chiba–Nishizeki
    * / "compact-forward"): orient every edge toward the (degree, id)-larger
    * endpoint, enumerate wedges from each node's OUT-neighbors only, close
    * them against the oriented edge set. Each triangle is found exactly
    * once, and — the scale point — wedge fan-out is Σ outdeg(v)², bounded
    * by O(E^1.5) regardless of hub skew (a 10^6-degree hub under naive
    * id-orientation would generate 10^12 wedges; degree orientation caps
    * its out-degree at ~√E). Three shuffles: degree agg, wedge self-join,
    * closure join.
    */
  def triangleCounts(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    // the canonical edges feed degrees, orientation and closure; the
    // (|nodes|-sized) result is cut and the edges released
    Checkpoints.scoped {
      Checkpoints.cut(triangleCountsOnCanonical(Checkpoints.hold(canonical(edges, srcCol, dstCol))))
    }
  }

  /** Canonical undirected simple-graph edge relation (a < b, nulls/loops
    * dropped, duplicates collapsed). */
  private def canonical(edges: DataFrame, srcCol: String, dstCol: String): DataFrame =
    edges.select(
        least(col(srcCol), col(dstCol)).as("a"), greatest(col(srcCol), col(dstCol)).as("b"))
      .filter(col("a").isNotNull && col("b").isNotNull && col("a") =!= col("b"))
      .distinct()

  /** Triangle counting over an ALREADY-canonical (and ideally cached) edge
    * frame — shared by [[triangleCounts]] and [[clusteringCoefficient]] so
    * the latter doesn't canonicalize/persist the same edges twice.
    */
  private def triangleCountsOnCanonical(canon: DataFrame): DataFrame = {
    val deg = canon.select(explode(array(col("a"), col("b"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("__d"))
    // orientation key: (degree, id) totalizes node order without a global rank
    val withKeys = canon
      .join(deg.select(col("node").as("a"), col("__d").as("__da")), Seq("a"))
      .join(deg.select(col("node").as("b"), col("__d").as("__db")), Seq("b"))
    // identical field names on both keys: CASE branches must share a type
    val ka = struct(col("__da").as("d"), col("a").as("n"))
    val kb = struct(col("__db").as("d"), col("b").as("n"))
    val oriented = withKeys.select(
        when(ka < kb, col("a")).otherwise(col("b")).as("u"),
        when(ka < kb, col("b")).otherwise(col("a")).as("v"),
        when(ka < kb, kb).otherwise(ka).as("__kv"))
    val wedges = oriented.select(col("u"), col("v").as("v1"), col("__kv").as("__k1"))
      .join(oriented.select(col("u"), col("v").as("v2"), col("__kv").as("__k2")), Seq("u"))
      .filter(col("__k1") < col("__k2")) // each out-neighbor pair once, orientation-ordered
    val triangles = wedges
      .join(oriented.select(col("u").as("v1"), col("v").as("v2")), Seq("v1", "v2"))
      .select(col("u"), col("v1"), col("v2"))
    triangles.select(explode(array(col("u"), col("v1"), col("v2"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("n_triangles"))
  }

  /** Local clustering coefficient: cc(v) = 2·T(v) / (deg(v)·(deg(v)−1))
    * over the undirected simple graph — [[triangleCounts]] joined with the
    * undirected degree; the per-node "is this neighborhood a clique"
    * signal (1.0 = clique spam / template network, ~0 = organic hub).
    * Degree here is the UNDIRECTED neighbor count (out+in over distinct
    * canonical edges); degree-1 nodes get cc 0 (no wedge to close).
    */
  def clusteringCoefficient(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    // ONE canonicalization + persist shared by the degree agg and the
    // triangle pass (previously this called triangleCounts on its own
    // canonical frame, which re-canonicalized and persisted a second copy)
    Checkpoints.scoped {
      val canon = Checkpoints.hold(canonical(edges, srcCol, dstCol))
      val deg = canon.select(explode(array(col("a"), col("b"))).as("node"))
        .groupBy("node").agg(count(lit(1)).as("degree"))
      val tri = triangleCountsOnCanonical(canon)
      Checkpoints.cut(deg.join(tri, Seq("node"), "left")
        .select(col("node"), col("degree"),
          coalesce(col("n_triangles"), lit(0L)).as("n_triangles"),
          when(col("degree") > 1,
            (lit(2.0) * coalesce(col("n_triangles"), lit(0L))) /
              (col("degree") * (col("degree") - 1)).cast("double"))
            .otherwise(lit(0.0)).as("clustering_coeff")))
    }
  }
}
