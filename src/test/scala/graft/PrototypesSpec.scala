package graft

import org.apache.spark.sql.functions._
import graft.core.PipelineConfig
import graft.vec.{Prototypes, Similarity}

class PrototypesSpec extends SparkSpec {
  import spark.implicits._

  // four axis-aligned centroids; members at decreasing cosine to their
  // own axis, ids chosen so the per-cluster prototypicality order is
  // hand-checkable
  private val centroids: Array[Array[Double]] = Array(
    Array(1.0, 0, 0, 0), Array(0, 1.0, 0, 0), Array(0, 0, 1.0, 0), Array(0, 0, 0, 1.0))

  private def corpus(): org.apache.spark.sql.DataFrame = {
    def v(a: Float, b: Float, c: Float, d: Float) = Seq(a, b, c, d)
    Seq(
      // cluster 0: ranks 1..4 by cosine desc = ids 0, 1, 2, 3
      (0L, v(1f, 0f, 0f, 0f)),         // cos 1.0      -> most prototypical
      (1L, v(0.99f, 0.1f, 0f, 0f)),    // cos ~0.995
      (2L, v(0.9f, 0.3f, 0f, 0f)),     // cos ~0.949
      (3L, v(0.7f, 0.5f, 0f, 0f)),     // cos ~0.814  -> hard tail
      // cluster 1: two members
      (10L, v(0f, 1f, 0f, 0f)),
      (11L, v(0.3f, 0.9f, 0f, 0f)),
      // cluster 2: one member
      (20L, v(0f, 0f, 1f, 0f)),
      // degenerate rows: zero vector and wrong dimension
      (90L, v(0f, 0f, 0f, 0f)),
      (91L, Seq(1f, 0f))
    ).toDF("vec_id", "embedding")
  }

  test("protoSelectMap: rank order, floor-drop per cluster, degenerate rows kept") {
    val m = Prototypes.protoSelectMap(corpus(), "vec_id", "embedding", centroids, 0.5)
      .collect().map(r => r.getLong(0) ->
        (Option(r.get(1)), Option(r.get(3)), r.getBoolean(4))).toMap
    // cluster 0: n=4, drop floor(0.5*4)=2 most prototypical -> 0,1 dropped
    assert(m(0L) == (Some(0), Some(1L), false))
    assert(m(1L) == (Some(0), Some(2L), false))
    assert(m(2L) == (Some(0), Some(3L), true))
    assert(m(3L) == (Some(0), Some(4L), true))
    // cluster 1: n=2, drop floor(1)=1 -> 10 (cos 1.0) dropped, 11 kept
    assert(m(10L) == (Some(1), Some(1L), false))
    assert(m(11L) == (Some(1), Some(2L), true))
    // cluster 2: n=1, drop floor(0.5)=0 -> kept
    assert(m(20L) == (Some(2), Some(1L), true))
    // degenerate: null cluster/rank, kept
    assert(m(90L) == (None, None, true))
    assert(m(91L) == (None, None, true))
  }

  test("protoApply: corpus schema rides through; kept set matches the map") {
    val out = Prototypes.protoApply(corpus(), "vec_id", "embedding", centroids, 0.5)
    assert(out.columns.toSeq == Seq("vec_id", "embedding"))
    assert(out.select("vec_id").as[Long].collect().toSet ==
      Set(2L, 3L, 11L, 20L, 90L, 91L))
  }

  test("pruneFraction 0 drops nothing; ties broken by id (smaller id drops first)") {
    assert(Prototypes.protoApply(corpus(), "vec_id", "embedding", centroids, 0.0).count() == 9L)
    // two bit-identical members -> identical cosine; the SMALLER id is the
    // lower rank and must be the one dropped at fraction 0.5
    val tied = Seq((5L, Seq(1f, 0f, 0f, 0f)), (6L, Seq(1f, 0f, 0f, 0f))).toDF("vec_id", "embedding")
    val kept = Prototypes.protoApply(tied, "vec_id", "embedding", centroids, 0.5)
      .select("vec_id").as[Long].collect().toSet
    assert(kept == Set(6L))
  }

  test("protoFit + protoPrune: fitted centroids keep the per-cluster floor law") {
    val data = corpus().filter(size(col("embedding")) === 4 && col("vec_id") < 50)
    val cents = Prototypes.protoFit(data, "vec_id", "embedding", k = 3, seed = 7L)
    assert(cents.length == 3 && cents.forall(_.length == 4))
    val m = Prototypes.protoSelectMap(data, "vec_id", "embedding", cents, 0.4)
      .collect().map(r => (r.getInt(1), r.getBoolean(4)))
    val byCl = m.groupBy(_._1).view.mapValues(v => (v.length, v.count(!_._2))).toMap
    byCl.foreach { case (_, (n, dropped)) =>
      assert(dropped == math.floor(0.4 * n).toLong, s"floor law: n=$n dropped=$dropped")
    }
  }

  test("d4Select: exact copies die in the semantic stage, then prototypes prune") {
    val base = corpus().filter(size(col("embedding")) === 4 && col("vec_id") =!= 90L)
    val copies = base.withColumn("vec_id", col("vec_id") + 1000L)
    val out = Prototypes.d4Select(base.unionByName(copies), "vec_id", "embedding",
      semThreshold = 0.999, semClusters = 4, centroids = centroids, pruneFraction = 0.5)
      .select("vec_id").as[Long].collect().toSet
    // no copy survives (each pairs with its original; min-id election)
    assert(out.forall(_ < 1000L), s"copies must not survive: $out")
    // prototype stage then drops the most-prototypical half per cluster
    assert(out == Set(2L, 3L, 11L, 20L))
  }

  test("centroid save/load round-trips bit-exactly; loaded apply is identical (VERDICT r12 #5)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_proto_cent").toString
    val data = corpus().filter(size(col("embedding")) === 4 && col("vec_id") =!= 90L)
    val fitted = Prototypes.protoFit(data, "vec_id", "embedding", k = 3)
    Similarity.saveCentroids(spark, fitted, s"$dir/cents")
    val loaded = Similarity.loadCentroids(spark, s"$dir/cents")
    // doubles round-trip bit-exactly through parquet
    assert(loaded.length == fitted.length &&
      loaded.zip(fitted).forall { case (a, b) => a.sameElements(b) },
      "loaded centroids must be bit-identical to the fitted ones")
    val direct = Prototypes.protoApply(data, "vec_id", "embedding", fitted, 0.5)
      .select("vec_id").as[Long].collect().toSet
    val viaDisk = Prototypes.protoApply(data, "vec_id", "embedding", loaded, 0.5)
      .select("vec_id").as[Long].collect().toSet
    assert(direct == viaDisk, s"loaded-centroid apply diverged: $direct vs $viaDisk")
  }

  test("YAML proto_prune: save_centroids_path persists the fit, centroids_path re-applies it (fit-once/apply-everywhere)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_proto_yaml").toString
    val data = corpus().filter(size(col("embedding")) === 4 && col("vec_id") =!= 90L)
    def run(extra: Map[String, String]): Set[Long] = {
      val prune = PipelineConfig.parseOp(Map("type" -> "text_processing",
        "operation" -> "proto_prune", "id_column" -> "vec_id",
        "vector_column" -> "embedding", "prune_fraction" -> "0.5",
        "k" -> "3") ++ extra)
      graft.core.OpCompiler.compile(Seq(prune))(data)
        .select("vec_id").as[Long].collect().toSet
    }
    val first = run(Map("save_centroids_path" -> s"$dir/cents"))
    assert(new java.io.File(s"$dir/cents").exists(), "fit must be persisted")
    val second = run(Map("centroids_path" -> s"$dir/cents"))
    assert(first == second,
      s"frozen-centroid re-apply must reproduce the fit run: $first vs $second")
  }
}
