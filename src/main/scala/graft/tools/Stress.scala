package graft.tools

/** First-class ×100 stress artifact (VERDICT r8 #2): the sf≈10 suite run
  * was the project's single best scale signal but lived only in NOTES
  * prose. This main runs the full headliner list through Bench (runs=1)
  * against the ScaleUp replica, appends the output row counts of the three
  * workload-quadratic queries (minhash dedup, semantic contamination and
  * semantic dedup — the counts that make super-linear walls ATTRIBUTABLE
  * to output growth instead of plan decay),
  * and writes one parseable JSON file to commit as STRESS_r0N.json.
  *
  * The headliner list is passed explicitly so Bench skips the law ring
  * (oracle shapes are priced at bench SFs, not at stress), and the
  * calibration probe runs as usual — a stress artifact without a box-speed
  * stamp would repeat the exact cross-round comparability failure the probe
  * exists to fix.
  *
  * Usage: runMain graft.tools.Stress [sfDir] [outFile]
  *   defaults: /tmp/testdata-sf10 STRESS_r09.json
  * (regenerate the replica first if absent: runMain graft.tools.ScaleUp
  *  /tmp/testdata-sf10 100 — ~10 min.)
  */
object Stress {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/tmp/testdata-sf10")
    val outFile = args.drop(1).headOption.getOrElse("STRESS_r09.json")
    require(new java.io.File(sfDir).isDirectory,
      s"stress dir $sfDir missing — run graft.tools.ScaleUp first")
    val detail = java.nio.file.Files.createTempFile("stress_detail", ".json").toString
    sys.props("SPARK_GRAFT_SF_DIR") = sfDir
    sys.props("SPARK_GRAFT_BENCH_RUNS") = "1"
    sys.props("SPARK_GRAFT_BENCH_DETAIL") = detail
    // Self-adjudication against the newest committed STRESS artifact
    // (round 10): the sf≈10 replica matches no BENCH_r*.json prior, so
    // storm-elevated walls used to ship un-adjudicated (this round's
    // forensics). A STRESS artifact parses as a prior (bench.queries, sf,
    // calibration_sec are all inside its `bench` object), so flagged
    // queries now re-measure isolated — calibration-scaled — IN-ARTIFACT.
    // An explicit SPARK_GRAFT_BENCH_PRIOR (env or prop) still wins.
    val setPrior = sys.props.get("SPARK_GRAFT_BENCH_PRIOR").isEmpty &&
      sys.env.get("SPARK_GRAFT_BENCH_PRIOR").isEmpty
    if (setPrior) {
      val rxS = "STRESS_r(\\d+)\\.json".r
      Option(new java.io.File(".").listFiles()).getOrElse(Array.empty).toSeq
        .flatMap(f => f.getName match { case rxS(n) => Some((n.toInt, f)); case _ => None })
        .sortBy(-_._1).headOption.foreach { case (_, f) =>
          sys.props("SPARK_GRAFT_BENCH_PRIOR") = f.getPath
          System.err.println(s"[stress] adjudication prior: ${f.getName}")
        }
    }
    val bos = new java.io.ByteArrayOutputStream()
    try Console.withOut(new java.io.PrintStream(bos, true, "UTF-8")) {
      graft.Bench.main(graft.Bench.headline.toArray)
    } finally {
      sys.props -= "SPARK_GRAFT_SF_DIR"; sys.props -= "SPARK_GRAFT_BENCH_RUNS"
      sys.props -= "SPARK_GRAFT_BENCH_DETAIL"
      if (setPrior) sys.props -= "SPARK_GRAFT_BENCH_PRIOR"
    }
    val benchLine = new String(bos.toByteArray, "UTF-8").split("\n").filter(_.nonEmpty).last.trim
    // Bench owned and stopped its session; a fresh one serves the counts
    val spark = graft.core.Sessions.local(appName = "graft-stress-counts")
    spark.sparkContext.setLogLevel("WARN")
    val counts =
      try Seq("q_dedup_minhash", "q_semantic_contamination", "q_semantic_dedup").map { q =>
        val t0 = System.nanoTime()
        val n = graft.SparkEntry.queries(q)(spark, sfDir).count()
        System.err.println(f"[stress] $q output rows=$n (${(System.nanoTime() - t0) / 1e9}%.1f s)")
        s""""$q":$n"""
      } finally spark.stop()
    val detailJson = try scala.io.Source.fromFile(detail, "UTF-8").mkString.trim
      catch { case _: Throwable => "{}" }
    val artifact =
      s"""{"bench":$benchLine,"output_rows":{${counts.mkString(",")}},"detail":$detailJson}""" + "\n"
    java.nio.file.Files.write(java.nio.file.Paths.get(outFile),
      artifact.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    println(s"[stress] wrote $outFile")
  }
}
