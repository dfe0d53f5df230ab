package graft

import org.apache.spark.sql.functions._
import graft.functions.{FeatureLib, WindowLib, PivotLib}
import graft.core.OpSpec.{WindowFuncSpec, WindowOp}
import graft.quality.{Profiler, QualityMetrics, SchemaInference}
import graft.multimodal.Multimodal

class QualityFeSpec extends SparkSpec {
  import spark.implicits._

  test("gopherRules: each rule fires on its planted pathology, clean doc keeps") {
    val clean = Array.fill(4)(
      "the quick brown fox jumps over that lazy dog with vigor and grace to be of sound mind")
      .mkString(" ") // 72 words, stopword-rich, mean word len ~4
    val rows = Seq(
      (1L, clean),
      (2L, "too short to pass"),
      (3L, clean + "\n- a\n- b\n- c\n- d\n- e\n- f\n- g\n- h\n- i\n- j\n- k"),
      (4L, clean + " more...\nended...\ntrailing...\nagain..."),
      (5L, clean + " " + Array.fill(9)("#").mkString(" ")),
      (6L, clean + " " + (1 to 25).map(_.toString).mkString(" ")),
      (7L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val out = graft.text.TextLib.gopherRules(rows, "text")
      .select("doc_id", "gopher_keep", "gopher_fail_reasons")
      .as[(Long, Boolean, String)].collect().sortBy(_._1)
    assert(out(0) == ((1L, true, "")), s"clean doc: ${out(0)}")
    assert(!out(1)._2 && out(1)._3.contains("word_count"))
    assert(!out(2)._2 && out(2)._3 == "bullet_lines", s"bullet wall: ${out(2)}")
    assert(!out(3)._2 && out(3)._3 == "ellipsis_lines", s"ellipsis: ${out(3)}")
    assert(!out(4)._2 && out(4)._3.contains("symbol_ratio"), s"symbols: ${out(4)}")
    assert(!out(5)._2 && out(5)._3 == "alpha_words", s"numeric flood: ${out(5)}")
    // null text: every rule is null→false, all seven reasons reported
    assert(!out(6)._2 && out(6)._3.split(",").length == 7, s"null doc: ${out(6)}")
  }

  test("dedupLines keeps first occurrences, exempts blank lines, nulls pass through") {
    val rows = Seq(
      (1L, "intro\nbanner\nbody one\nbanner\nbody two\nbanner"),
      (2L, "para one\n\npara two\n\npara one"),
      (3L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val out = graft.text.TextLib.dedupLines(rows, "text")
      .select("doc_id", "text", "n_removed_lines")
      .as[(Long, String, Int)].collect().sortBy(_._1)
    assert(out(0) == ((1L, "intro\nbanner\nbody one\nbody two", 2)), s"${out(0)}")
    // both blank lines survive (exempt), the repeated paragraph drops
    assert(out(1) == ((2L, "para one\n\npara two\n", 1)), s"${out(1)}")
    assert(out(2)._2 == null && out(2)._3 == 0, s"null text passes through: ${out(2)}")
    // minChars raises the exemption bar: every planted line is < 9 chars
    val keepAll = graft.text.TextLib.dedupLines(rows, "text", minChars = 9)
      .select("n_removed_lines").as[Int].collect()
    assert(keepAll.forall(_ == 0), s"everything under minChars is exempt: ${keepAll.toSeq}")
  }

  test("gopherRules boundary math: mean word length is integer-exact") {
    // 50 words of length exactly 3 → mwl = 3.0, inclusive boundary keeps
    val d = Seq((1L, Array.fill(50)("abc").mkString(" ")),
      (2L, Array.fill(50)("ab").mkString(" "))).toDF("doc_id", "text")
    val out = graft.text.TextLib.gopherRules(d, "text")
      .select("doc_id", "gopher_mean_word_len_ok").as[(Long, Boolean)].collect().sortBy(_._1)
    assert(out(0)._2, "mwl == 3.0 is inside the inclusive [3,10] band")
    assert(!out(1)._2, "mwl == 2.0 fails")
  }

  test("YAML gopher_filter keeps survivors and drops the audit columns") {
    val dir = java.nio.file.Files.createTempDirectory("graft_gopher").toString
    val clean = Array.fill(4)(
      "the quick brown fox jumps over that lazy dog with vigor and grace to be of sound mind")
      .mkString(" ")
    Seq((1L, clean), (2L, "too short")).toDF("doc_id", "text")
      .coalesce(1).write.mode("overwrite").parquet(dir + "/docs")
    val yaml =
      s"""name: gopher
         |source: { type: parquet, path: "$dir/docs" }
         |operations:
         |  - { type: text_processing, params: { operation: gopher_filter } }
         |""".stripMargin
    val conf = graft.core.Pipeline.fromYaml(yaml)
    val (p, cat) = graft.core.Pipeline.load(spark, conf)
    val out = graft.core.OpCompiler.compile(conf.operations, cat)(p)
    assert(out.columns.toSeq == Seq("doc_id", "text"), s"audit cols dropped: ${out.columns.toSeq}")
    assert(out.select("doc_id").as[Long].collect().toSeq == Seq(1L))
  }

  test("YAML gopher floors apply under lang_column dispatch (ADVICE r12)") {
    // a German doc with exactly 2 stopword hits: min_stopwords=2 (default)
    // keeps it, min_stopwords=3 kills it — under lang dispatch, where the
    // floors were previously silently ignored (DefaultGopherLangParams won)
    val dir = java.nio.file.Files.createTempDirectory("graft_gopher_lang").toString
    val de = ("der die " + Array.fill(60)("tage").mkString(" "))
    Seq((1L, de, "de")).toDF("doc_id", "text", "lang")
      .coalesce(1).write.mode("overwrite").parquet(dir + "/docs")
    def run(minStop: Int): Seq[Long] = {
      val yaml =
        s"""name: gopher_lang
           |source: { type: parquet, path: "$dir/docs" }
           |operations:
           |  - { type: text_processing, params: { operation: gopher_filter,
           |      lang_column: lang, min_stopwords: $minStop } }
           |""".stripMargin
      val conf = graft.core.Pipeline.fromYaml(yaml)
      val (p, cat) = graft.core.Pipeline.load(spark, conf)
      graft.core.OpCompiler.compile(conf.operations, cat)(p)
        .select("doc_id").as[Long].collect().toSeq
    }
    assert(run(2) == Seq(1L), "2 stopword hits must satisfy the default floor")
    assert(run(3) == Seq(), "min_stopwords=3 must take effect under lang_column")
    // the uniform override at the DEFAULTS is value-identical to the default map
    assert(graft.text.TextLib.gopherLangParamsWithFloors(0.8, 2) ==
      graft.text.TextLib.DefaultGopherLangParams)
  }

  private def df = Seq(
    (1, "a", 10.0), (2, "a", 20.0), (3, "b", 30.0), (4, "b", 40.0), (5, null: String, 50.0)
  ).toDF("id", "grp", "v")

  test("quality metrics report expected ratios") {
    val r = QualityMetrics.report(df, Seq(
      QualityMetrics.completeness("grp"),
      QualityMetrics.uniqueness("id"),
      QualityMetrics.validity("v", "v >= 20"),
      QualityMetrics.rangeCheck("v", 0, 35))).collect()(0)
    assert(r.getDouble(0) == 0.8)  // 4/5 non-null
    assert(r.getDouble(1) == 1.0)  // all ids distinct
    assert(r.getDouble(2) == 0.8)  // 4/5 >= 20
    assert(r.getDouble(3) == 0.6)  // 3/5 in [0,35]
  }

  test("classify thresholds") {
    assert(QualityMetrics.classify(0.99, 0.95, 0.9) == "PASS")
    assert(QualityMetrics.classify(0.92, 0.95, 0.9) == "WARN")
    assert(QualityMetrics.classify(0.5, 0.95, 0.9) == "FAIL")
  }

  test("schema columnStats flags PK candidates") {
    val stats = SchemaInference.columnStats(df).collect()
      .map(r => r.getString(0) -> r.getBoolean(6)).toMap
    assert(stats("id"))
    assert(!stats("grp")) // has null + dups
  }

  test("fkCandidates detects containment") {
    val child = Seq(1, 2, 2, 3).toDF("fk")
    val parent = Seq(1, 2, 3, 4).toDF("pk")
    assert(SchemaInference.fkCandidates(child, "fk", parent, "pk"))
    assert(!SchemaInference.fkCandidates(parent, "pk", child, "fk"))
  }

  test("profiler numeric long format has all metrics") {
    val p = Profiler.numericProfile(df, Seq("v")).collect()
      .map(r => r.getString(1) -> r.getDouble(2)).toMap
    assert(p("count") == 5.0 && p("mean") == 30.0 && p("median") == 30.0 && p("zeros") == 0.0)
  }

  test("spearman equals 1 for monotone data") {
    val mono = Seq((1.0, 10.0), (2.0, 100.0), (3.0, 101.0), (4.0, 500.0)).toDF("a", "b")
    val s = Profiler.spearman(mono, "a", "b").as[Double].head()
    assert(math.abs(s - 1.0) < 1e-12)
  }

  test("spearmanLarge (no-broadcast ranks) matches the fast path, ties included") {
    // ties in both columns across several partitions — the distributed
    // ordinal average must equal rank() + (ties-1)/2 exactly
    val d = Seq((1.0, 10.0), (2.0, 20.0), (2.0, 30.0), (3.0, 30.0),
      (4.0, 25.0), (2.0, 15.0), (5.0, 30.0), (0.5, 10.0))
      .toDF("x", "y").repartition(5)
    val fast = Profiler.spearman(d, "x", "y").as[Double].head()
    val large = Profiler.spearmanLarge(d, "x", "y", partitions = 3).as[Double].head()
    assert(math.abs(fast - large) < 1e-12, s"fast=$fast large=$large")
    val mono = Seq((1.0, 10.0), (2.0, 100.0), (3.0, 101.0), (4.0, 500.0)).toDF("a", "b")
    assert(math.abs(Profiler.spearmanLarge(mono, "a", "b").as[Double].head() - 1.0) < 1e-12)
  }

  test("window op AST applies multiple functions over one spec") {
    val out = WindowLib.applyWindowOp(df, WindowOp(
      partitionBy = Seq("grp"), orderBy = Seq("id" -> true),
      functions = Seq(
        WindowFuncSpec("row_number", alias = "rn"),
        WindowFuncSpec("lag", column = "v", alias = "prev", offset = 1),
        WindowFuncSpec("running_sum", column = "v", alias = "rs"))))
    val a = out.filter($"grp" === "a").orderBy("id")
      .select("rn", "prev", "rs").collect()
    assert(a(0).getInt(0) == 1 && a(0).isNullAt(1) && a(0).getDouble(2) == 10.0)
    assert(a(1).getInt(0) == 2 && a(1).getDouble(1) == 10.0 && a(1).getDouble(2) == 30.0)
  }

  test("window op AST: an explicit frame is honored by last_value (parity with first_value)") {
    val d = Seq(("a", 1, 10.0), ("a", 2, 20.0), ("a", 3, 30.0), ("a", 4, 40.0)).toDF("grp", "id", "v")
    val out = WindowLib.applyWindowOp(d, WindowOp(
      partitionBy = Seq("grp"), orderBy = Seq("id" -> true),
      functions = Seq(
        WindowFuncSpec("first_value", column = "v", alias = "fv"),
        WindowFuncSpec("last_value", column = "v", alias = "lv")),
      rowsBetween = Some((-1L, 0L))))
      .orderBy("id").select("fv", "lv").collect()
    // 2-row trailing frame: first = previous row's v, last = current row's v
    assert(out.map(_.getDouble(0)).toSeq == Seq(10.0, 10.0, 20.0, 30.0))
    assert(out.map(_.getDouble(1)).toSeq == Seq(10.0, 20.0, 30.0, 40.0),
      "framed last_value must not see the whole partition")
    // and WITHOUT a frame the full-partition default still applies
    val free = WindowLib.applyWindowOp(d, WindowOp(
      partitionBy = Seq("grp"), orderBy = Seq("id" -> true),
      functions = Seq(WindowFuncSpec("last_value", column = "v", alias = "lv"))))
      .orderBy("id").select("lv").collect()
    assert(free.map(_.getDouble(0)).toSeq == Seq(40.0, 40.0, 40.0, 40.0))
  }

  test("rankMax equals rank + tie-count - 1 (pandas method='max')") {
    val d = Seq(("g", 10.0), ("g", 10.0), ("g", 20.0), ("g", 30.0), ("g", 30.0), ("g", 30.0))
      .toDF("g", "v")
    val w = graft.functions.WindowLib.spec(Seq("g"), Seq("v" -> true))
    val out = d.withColumn("rmin", graft.functions.WindowLib.rankMin(w))
      .withColumn("rmax", graft.functions.WindowLib.rankMax(w, Seq("g"), Seq("v")))
      .orderBy("v").select("rmin", "rmax").collect()
      .map(r => (r.getInt(0), r.getLong(1))) // rmax is long (count arithmetic)
    assert(out.toSeq == Seq((1, 2L), (1, 2L), (3, 3L), (4, 6L), (4, 6L), (4, 6L)))
  }

  test("quantile binning matches exact quartiles") {
    val d100 = (1 to 100).map(i => (i, i.toDouble)).toDF("id", "x")
    val binned = FeatureLib.binQuantile(d100, "x", 4)
    val counts = binned.groupBy("x_qbin").count().orderBy("x_qbin")
      .as[(Int, Long)].collect()
    assert(counts.map(_._2).forall(c => c >= 24 && c <= 26))
  }

  test("kmeans clustering features: distance to own centroid < to others") {
    val pts = (Seq.fill(20)((0.0, 0.0)) ++ Seq.fill(20)((10.0, 10.0)))
      .zipWithIndex.map { case ((x, y), i) => (i, x + i % 3 * 0.1, y + i % 5 * 0.1) }
      .toDF("id", "x", "y")
    val out = FeatureLib.clusteringFeatures(pts, Seq("x", "y"), 2)
    assert(out.select("cluster").distinct().count() == 2)
    assert(out.agg(max("cluster_dist")).as[Double].head() < 2.0)
  }

  test("binKmeans: 1-D bins are contiguous disjoint intervals; null rows dropped") {
    // ADVICE r6: binKmeans now shares the kmeansLaw fit path. In 1-D,
    // nearest-centroid assignment ⇒ each bin covers a contiguous value
    // interval, so sorted-by-value bin ranges must not overlap.
    val d = ((1 to 30).map(i => (i, Some(i.toDouble))) ++
      (31 to 60).map(i => (i, Some(100.0 + i))) ++ Seq((61, None: Option[Double])))
      .toDF("id", "x")
    val out = FeatureLib.binKmeans(d, "x", 3)
    assert(out.columns.contains("x_kbin") && !out.columns.contains("cluster"))
    assert(out.count() == 60, "null x row dropped, not crashed")
    val ranges = out.groupBy("x_kbin").agg(min("x").as("lo"), max("x").as("hi"))
      .orderBy("lo").as[(Int, Double, Double)].collect()
    assert(ranges.length == 3)
    ranges.sliding(2).foreach { case Array((_, _, hi), (_, lo, _)) =>
      assert(hi < lo, s"bins overlap: ${ranges.toSeq}")
    }
  }

  test("binKmeans preserves pre-existing cluster/law-named columns (round-7 review)") {
    // a frame that already carries `cluster` (a prior clustering step) and
    // a column named like a law output must pass through untouched
    val d = (1 to 20).map(i => (i, i.toDouble, s"c$i", i * 10))
      .toDF("id", "x", "cluster", "not_nearest")
    val out = FeatureLib.binKmeans(d, "x", 2)
    assert(out.columns.toSeq == Seq("id", "x", "cluster", "not_nearest", "x_kbin"))
    assert(out.filter(col("cluster").startsWith("c")).count() == 20,
      "user's cluster column survives verbatim")
    assert(out.select("x_kbin").distinct().count() == 2)
  }

  test("pca auto-k explains requested variance") {
    val d = (1 to 50).map { i =>
      val x = i.toDouble
      (i, x, 2 * x + 0.001 * (i % 7), -x + 0.001 * (i % 5), 42.0 + 0.0001 * (i % 3))
    }.toDF("id", "a", "b", "c", "d")
    val out = FeatureLib.pcaFeatures(d, Seq("a", "b", "c", "d"), 0.95)
    val k = out.select("pca").head().getAs[org.apache.spark.ml.linalg.Vector](0).size
    assert(k <= 2) // data is essentially rank-1 + tiny noise
  }

  test("timeBasedPivot hour frequency keeps hourly buckets distinct") {
    val df = Seq(
      ("a", java.sql.Timestamp.valueOf("2024-01-01 03:10:00"), 1.0),
      ("a", java.sql.Timestamp.valueOf("2024-01-01 04:50:00"), 2.0)
    ).toDF("k", "ts", "v")
    val out = graft.functions.PivotLib.timeBasedPivot(df, Seq("k"), "ts", "hour", "v")
    val pivotCols = out.columns.filterNot(_ == "k")
    assert(pivotCols.length == 2, s"hourly buckets collapsed: ${pivotCols.toSeq}")
  }

  test("pivotTable accepts a string fill value without crashing") {
    val df = Seq(("a", "x", "v1"), ("b", "y", "v2")).toDF("r", "c", "s")
    val out = graft.functions.PivotLib.pivotTable(df, Seq("r"), "c", "s",
      Seq("first"), fillValue = Some("missing"))
    val vals = out.orderBy("r").collect().flatMap(r => Seq(r.getString(1), r.getString(2)))
    assert(vals.count(_ == "missing") == 2)
  }

  test("binQuantile gives null bin for null input (parity with binUniform)") {
    val df = Seq(Some(1.0), Some(2.0), Some(3.0), Some(4.0), None).toDF("x")
    val out = FeatureLib.binQuantile(df, "x", 2)
    assert(out.filter($"x".isNull).select("x_qbin").collect()(0).isNullAt(0))
  }

  test("transform order is preserved for 5+ chained steps") {
    // rename a->b, then 4 calculated columns each reading the previous one;
    // an unordered map would scramble the chain past 4 entries
    val yaml =
      """name: order_test
        |source: { type: parquet, path: "unused" }
        |operations:
        |  - type: transform
        |    params:
        |      transformations:
        |        a: { type: rename, params: { new_name: b } }
        |      calculated_columns:
        |        c1: "b + 1"
        |        c2: "c1 + 1"
        |        c3: "c2 + 1"
        |        c4: "c3 + 1"
        |        c5: "c4 + 1"
        |""".stripMargin
    val conf = graft.core.PipelineConfig.fromYaml(yaml)
    val compiled = graft.core.OpCompiler.compile(conf.operations)
    val out = compiled(Seq(1).toDF("a")).collect()(0)
    assert(out.getAs[Int]("c5") == 6)
  }

  test("crossTab index-normalization rows sum to 1") {
    val ct = PivotLib.crossTab(df.na.fill("z", Seq("grp")), "grp", "grp", normalize = "index")
    val sums = ct.collect().map(r => (1 until r.length).map(i => r.getDouble(i)).sum)
    sums.foreach(s => assert(math.abs(s - 1.0) < 1e-12))
  }

  test("multimodal decode: deterministic, null-safe, right shape") {
    val media = Seq((1L, "hello".getBytes), (2L, null: Array[Byte]))
      .toDF("id", "payload")
    val m = Multimodal.asMedia(media, "id", "payload", "image/fake", 64, 64)
    val out1 = Multimodal.decodeToFeatures(m, "payload", dim = 4).orderBy("media_id").collect()
    val out2 = Multimodal.decodeToFeatures(m, "payload", dim = 4).orderBy("media_id").collect()
    assert(out1(0).getSeq[Double](3).size == 4)
    assert(out1(0).getSeq[Double](3) == out2(0).getSeq[Double](3)) // deterministic
    assert(out1(1).isNullAt(3)) // null payload passthrough
  }

  test("QualityMonitor: default checks, PASS/WARN/FAIL rule, alerts, summary") {
    import graft.quality.QualityMonitor
    import graft.quality.QualityMonitor.Check
    val d = Seq((1L, Option("a"), 10.0), (2L, Option("a"), 11.0),
      (3L, Option.empty[String], 12.0), (4L, Option("b"), 1000.0))
      .toDF("row_id", "cat", "v")
    // schema-derived defaults: completeness everywhere, uniqueness on *_id,
    // IQR outliers on numerics, no timeliness (no timestamp column)
    val checks = QualityMonitor.defaultChecks(d)
    assert(checks.map(c => (c.metric, c.column)).toSet == Set(
      ("completeness", "row_id"), ("uniqueness", "row_id"), ("outlier_iqr", "row_id"),
      ("completeness", "cat"), ("completeness", "v"), ("outlier_iqr", "v")))
    val m = QualityMonitor.runChecks(d, "t", checks)
    val byKey = m.collect()
      .map(r => (r.getString(1), r.getString(2)) -> (r.getDouble(3), r.getString(5))).toMap
    assert(byKey(("uniqueness", "row_id")) == (1.0, "PASS"))
    assert(byKey(("outlier_iqr", "row_id")) == (1.0, "PASS")) // uniform ids: no outliers
    assert(byKey(("completeness", "cat")) == (0.75, "FAIL"))  // < 0.8×0.95
    assert(byKey(("outlier_iqr", "v")) == (0.75, "FAIL"))     // 1000 breaches the IQR fence
    // the reference's warn band is [0.8t, t): same 0.75 against t=0.9 WARNs
    val warn = QualityMonitor.runChecks(d, "t", Seq(Check("completeness", "cat", 0.9)))
      .collect()(0)
    assert(warn.getString(5) == "WARN")
    // alerts: WARN/FAIL only, severity mapping, deterministic id, message text
    val al = QualityMonitor.alerts(m, atEpoch = 42L).collect()
    assert(al.length == 2 && al.forall(_.getAs[String]("severity") == "CRITICAL"))
    val catAlert = al.find(_.getAs[String]("column_name") == "cat").get
    assert(catAlert.getAs[String]("alert_id") == "DQ_t_completeness_cat_42")
    assert(catAlert.getAs[String]("message") ==
      "Data quality issue detected in table 't' for column 'cat'. " +
      "Completeness is 75.00% (threshold: 95.00%). Status: FAIL")
    // summary rolls up a history by (table, metric)
    val s = QualityMonitor.summary(m).collect()
      .map(r => r.getString(1) -> (r.getLong(2), r.getLong(5))).toMap // n_checks, n_fail
    assert(s("completeness") == (3L, 1L) && s("outlier_iqr") == (2L, 1L))
    // unknown metric and unknown column fail loudly
    intercept[IllegalArgumentException] {
      QualityMonitor.runChecks(d, "t", Seq(Check("entropy", "v", 0.5))).collect()
    }
    intercept[IllegalArgumentException] {
      QualityMonitor.runChecks(d, "t", Seq(Check("completeness", "nope", 0.5)))
    }
  }

  test("multimodal ImageIO decode: PNG round-trip reproduces exact pixel stats") {
    // 10x6 PNG of the pinned gradient; stats recomputed in plain Scala
    val seed = 17L; val w = 10; val h = 6
    val png = Multimodal.syntheticPng(seed, w, h)
    assert(png.length > 8 && (png(1) & 0xFF) == 'P' && (png(2) & 0xFF) == 'N')
    var sr = 0L; var sg = 0L; var sb = 0L
    for (y <- 0 until h; x <- 0 until w) {
      sr += ((7L * x + 13L * y + seed) % 256).toInt
      sg += ((3L * x + 5L * y + 2L * seed) % 256).toInt
      sb += ((x.toLong + y + 3L * seed) % 256).toInt
    }
    val n = (w * h).toDouble
    val media = Multimodal.asMedia(
      Seq((1L, png), (2L, "not an image".getBytes), (3L, null: Array[Byte]))
        .toDF("id", "payload"), "id", "payload", "image/png")
    val out = Multimodal.decodeImageStats(media, "payload").orderBy("media_id").collect()
    val st = out(0).getStruct(3)
    assert(st.getInt(0) == w && st.getInt(1) == h && st.getInt(2) == 3)
    assert(st.getDouble(3) == sr / n && st.getDouble(4) == sg / n && st.getDouble(5) == sb / n)
    assert(st.getSeq[Long](7).sum == w.toLong * h) // histogram covers every pixel
    assert(out(1).isNullAt(3), "undecodable bytes must yield null stats, not a crash")
    assert(out(2).isNullAt(3), "null payload passthrough")
  }

  test("multimodal ImageIO: JPEG decodes (lossy ≈), resizeImages re-dims for real") {
    val png = Multimodal.syntheticPng(5L, 16, 16)
    // transcode the PNG to JPEG via the same JDK codec, then decode stats
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(png))
    val rgb = new java.awt.image.BufferedImage(16, 16, java.awt.image.BufferedImage.TYPE_INT_RGB)
    rgb.createGraphics().drawImage(img, 0, 0, null)
    val bos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(rgb, "jpg", bos))
    val jpegStats = Multimodal.imageStats(bos.toByteArray)
    val pngStats = Multimodal.imageStats(png)
    assert(jpegStats.getInt(0) == 16 && jpegStats.getInt(1) == 16)
    assert(math.abs(jpegStats.getDouble(6) - pngStats.getDouble(6)) < 16.0,
      "JPEG mean luma should be within lossy tolerance of the source")
    // real resize: decoded dims of the resized payload are the target dims
    val media = Multimodal.asMedia(Seq((1L, png)).toDF("id", "payload"), "id", "payload", "image/png")
    val resized = Multimodal.resizeImages(media, 4, 3).collect()(0)
    val rs = Multimodal.imageStats(resized.getAs[Array[Byte]]("payload"))
    assert(rs.getInt(0) == 4 && rs.getInt(1) == 3)
    assert(resized.getStruct(2).getInt(1) == 4 && resized.getStruct(2).getInt(2) == 3)
  }

  test("multimodal AudioSystem decode: WAV round-trip reproduces exact sample stats") {
    // 300-frame mono PCM16 clip of the pinned formula; stats recomputed in Scala
    val seed = 23L; val n = 300
    val wav = Multimodal.syntheticWav(seed, n)
    assert(wav.length > 44 && new String(wav, 0, 4, "US-ASCII") == "RIFF" &&
      new String(wav, 8, 4, "US-ASCII") == "WAVE")
    var sumAbs = 0L; var sumSq = 0L; var zc = 0L; var prev = 0; var first = true
    for (i <- 0 until n) {
      val v = (Math.floorMod(1103L * i + 12289L * seed + 7L, 65536L) - 32768L).toInt
      sumAbs += math.abs(v.toLong); sumSq += v.toLong * v
      if (!first && ((prev < 0) != (v < 0))) zc += 1
      prev = v; first = false
    }
    val media = Multimodal.asMedia(
      Seq((1L, wav), (2L, "not audio".getBytes), (3L, null: Array[Byte]))
        .toDF("id", "payload"), "id", "payload", "audio/wav")
    val out = Multimodal.decodeAudioStats(media, "payload").orderBy("media_id").collect()
    val st = out(0).getStruct(3)
    assert(st.getInt(0) == 16000 && st.getInt(1) == 1 && st.getInt(2) == 16)
    assert(st.getLong(3) == n && st.getLong(4) == n * 1000L / 16000)
    assert(st.getLong(5) == sumAbs && st.getLong(6) == sumSq && st.getLong(7) == zc)
    assert(out(1).isNullAt(3), "undecodable bytes must yield null stats, not a crash")
    assert(out(2).isNullAt(3), "null payload passthrough")
    // degenerate clip: a 0-frame WAV decodes to all-zero stats, not a crash
    val empty = Multimodal.audioStats(Multimodal.syntheticWav(1L, 0))
    assert(empty.getLong(3) == 0L && empty.getLong(5) == 0L && empty.getLong(7) == 0L)
  }

  test("multimodal audio: stereo WAV reduces over channel 0 (pinned contract)") {
    // interleaved 2-channel PCM16LE: ch0 = the pinned formula, ch1 = noise
    // that would wreck the sums if it leaked into the reduction
    val n = 100
    val pcm = new Array[Byte](n * 4)
    var sumAbs = 0L
    for (i <- 0 until n) {
      val v0 = (Math.floorMod(1103L * i + 7L, 65536L) - 32768L).toInt
      val v1 = 31007 - 13 * i
      sumAbs += math.abs(v0.toLong)
      pcm(4 * i) = (v0 & 0xFF).toByte; pcm(4 * i + 1) = ((v0 >> 8) & 0xFF).toByte
      pcm(4 * i + 2) = (v1 & 0xFF).toByte; pcm(4 * i + 3) = ((v1 >> 8) & 0xFF).toByte
    }
    val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 2, true, false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, n.toLong)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    val st = Multimodal.audioStats(bos.toByteArray)
    assert(st.getInt(0) == 8000 && st.getInt(1) == 2 && st.getLong(3) == n)
    assert(st.getLong(5) == sumAbs, "stats must cover channel 0 only")
  }

  test("multimodal trimAudio: real frame-aligned cut, re-decodable WAV, meta updated") {
    val wav = Multimodal.syntheticWav(7L, 16000) // 1 s at 16 kHz
    val media = Multimodal.asMedia(
      Seq((1L, wav), (2L, "junk".getBytes)).toDF("id", "payload"),
      "id", "payload", "audio/wav", durationMs = 1000L)
    val out = Multimodal.trimAudio(media, maxMs = 250L).orderBy("media_id").collect()
    val trimmed = out(0).getAs[Array[Byte]]("payload")
    val st = Multimodal.audioStats(trimmed) // decodes → the trim wrote a valid WAV
    assert(st.getLong(3) == 4000L, "250 ms at 16 kHz = 4000 frames")
    assert(out(0).getStruct(2).getLong(3) == 250L, "meta.duration_ms updated")
    // trimmed prefix stats equal the formula's prefix sums (cut is lossless)
    var sumAbs = 0L
    for (i <- 0 until 4000)
      sumAbs += math.abs(Math.floorMod(1103L * i + 12289L * 7L + 7L, 65536L) - 32768L)
    assert(st.getLong(5) == sumAbs)
    assert(java.util.Arrays.equals(out(1).getAs[Array[Byte]]("payload"), "junk".getBytes),
      "undecodable payload passes through unchanged")
  }

  test("multimodal GIF: real multi-frame decode samples exact solid-color frames") {
    val seed = 9L
    val gif = Multimodal.syntheticGif(seed, 4, 3, frames = 5)
    assert(new String(gif, 0, 3, "US-ASCII") == "GIF")
    val media = Multimodal.asMedia(
      Seq((1L, gif), (2L, "not a gif".getBytes), (3L, null: Array[Byte]))
        .toDF("id", "payload"), "id", "payload", "image/gif")
    val out = Multimodal.sampleGifFrames(media, everyN = 2)
      .orderBy("media_id", "frame_idx").collect()
    assert(out.map(r => (r.getLong(0), r.getInt(1))).toSeq ==
      Seq((1L, 0), (1L, 2), (1L, 4)), "frames 0,2,4 of 5; bad payloads emit no rows")
    out.foreach { r =>
      val f = r.getInt(1)
      assert(r.getInt(2) == 4 && r.getInt(3) == 3)
      assert(r.getDouble(4) == ((11L * f + 7L * seed) % 256).toDouble, "exact palette round-trip")
      assert(r.getDouble(5) == ((23L * f + 5L * seed) % 256).toDouble)
      assert(r.getDouble(6) == ((37L * f + 3L * seed) % 256).toDouble)
    }
  }

  test("codec ops are column functions in one plan: no LogicalRDD, one codec call, same schema") {
    import org.apache.spark.sql.catalyst.expressions.ScalaUDF
    import org.apache.spark.sql.execution.LogicalRDD
    import org.apache.spark.sql.types._
    val (png, wav) = (Multimodal.syntheticPng(3L, 12, 9), Multimodal.syntheticWav(3L, 400))
    // over a range, not local rows: the optimizer would evaluate a
    // projection over a local relation into the relation itself
    val media = Multimodal.asMedia(spark.range(1, 4).select(col("id"),
      when(col("id") === 1, lit(png)).when(col("id") === 2, lit(wav)).as("payload")),
      "id", "payload", "image/png")
    val frame = StructType(Seq("media_id" -> LongType, "frame_idx" -> IntegerType,
      "width" -> IntegerType, "height" -> IntegerType, "mean_r" -> DoubleType,
      "mean_g" -> DoubleType, "mean_b" -> DoubleType).map { case (n, t) => StructField(n, t) })
    // (YAML op = codec name, output, the schema the op has always produced)
    val ops = Seq(
      ("decode_image_stats", Multimodal.decodeImageStats(media, "payload"),
        media.schema.add("image_stats", Multimodal.ImageStatsSchema)),
      ("image_dhash", Multimodal.imageDHash(media, "payload"), media.schema.add("dhash", LongType)),
      ("decode_audio_stats", Multimodal.decodeAudioStats(media, "payload"),
        media.schema.add("audio_stats", Multimodal.AudioStatsSchema)),
      ("resize_images", Multimodal.resizeImages(media, 4, 3), media.schema),
      ("trim_audio", Multimodal.trimAudio(media, 10L), media.schema),
      ("sample_gif_frames", Multimodal.sampleGifFrames(media), frame))
    ops.foreach { case (op, out, schema) =>
      val plan = out.queryExecution.optimizedPlan
      assert(plan.collectLeaves().forall(!_.isInstanceOf[LogicalRDD]), s"$op escapes to an RDD:\n$plan")
      // one call: the struct-projecting ops must not have the codec inlined
      // into both the payload and the meta column, and a filter on a codec
      // output must not be pushed below it with a copy of the call
      Seq(out, out.filter(col(out.columns.last).isNotNull)).foreach { df =>
        val p = df.queryExecution.optimizedPlan
        val calls = p.flatMap(_.expressions.flatMap(_.collect { case u: ScalaUDF => u.udfName }))
        assert(calls == Seq(Some(op)), s"$op: codec calls $calls in\n$p")
      }
      assert(out.schema == schema, s"$op: ${out.schema.treeString} vs ${schema.treeString}")
      out.collect() // and the plan runs
    }
  }

  test("multimodal frame sampling fans out duration/every rows") {
    val media = Seq((1L, Array.fill(200)(7.toByte))).toDF("id", "payload")
    val m = Multimodal.asMedia(media, "id", "payload", "video/fake", durationMs = 5000L)
    val frames = Multimodal.sampleFrames(m, everyMs = 1000L)
    assert(frames.count() == 5)
  }

  test("ExpectationSuite: infer from clean batch, catch drift in dirty batch") {
    import graft.quality.ExpectationSuite
    val clean = Seq((1, "a", 10.0), (2, "b", 20.0), (3, "a", 30.0), (4, "c", 15.0))
      .toDF("id", "cat", "v")
    val suite = ExpectationSuite.infer(clean)
    val names = suite.expectations.map(_.name)
    assert(names.contains("id_not_null") && names.contains("id_unique"))
    assert(names.contains("v_in_range") && names.contains("cat_in_set"))
    // the clean batch validates against its own suite
    assert(ExpectationSuite.validate(clean, suite).forall(_.passed))
    // a drifted batch fails range + set + uniqueness
    val dirty = Seq((1, "zz", 999.0), (1, "a", 12.0)).toDF("id", "cat", "v")
    val outcomes = ExpectationSuite.validate(dirty, suite).map(o => o.name -> o.passed).toMap
    assert(!outcomes("v_in_range") && !outcomes("cat_in_set") && !outcomes("id_unique"))
    assert(outcomes("id_not_null"))
  }

  test("distribution classifier + catalog entry") {
    import graft.quality.ExpectationSuite
    assert(ExpectationSuite.distributionType(10, 10, 0, 0) == "constant")
    assert(ExpectationSuite.distributionType(10, 10, 2, 0.1) == "approximately_normal")
    assert(ExpectationSuite.distributionType(10, 8, 2, 1.5) == "right_skewed")
    assert(ExpectationSuite.distributionType(10, 12, 2, -1.5) == "left_skewed")
    val entry = ExpectationSuite.catalogEntry(Seq((1, "x")).toDF("id", "s"), "t")
    assert(entry.contains("\"table\":\"t\"") && entry.contains("\"rows\":1"))
    assert(entry.contains("\"quality_score\":100.0"))
  }

  test("CleanLib: phone/email standardization + named UDF registry") {
    graft.functions.CleanLib.registerUdfs(spark)
    val d = Seq(
      (1, "555-123-4567", "USER@Gmial.com"),
      (2, "1 (555) 123 4567", "a.b@yahoo.com"),
      (3, "12345", "not-an-email")).toDF("id", "phone", "email")
    val out = graft.functions.CleanLib.cleanContacts(d, "phone", "email")
      .orderBy("id").collect()
    assert(out(0).getAs[String]("phone_clean") == "(555) 123-4567")
    assert(out(1).getAs[String]("phone_clean") == "(555) 123-4567") // leading 1 dropped
    assert(out(2).getAs[String]("phone_clean") == null && !out(2).getAs[Boolean]("phone_valid"))
    assert(out(0).getAs[String]("email_clean") == "user@gmail.com" && out(0).getAs[Boolean]("email_valid"))
    assert(!out(2).getAs[Boolean]("email_valid"))
    // named UDFs callable from expr()/SQL — the safe replacement for config lambdas
    val viaSql = d.selectExpr("graft_phone_clean(phone) AS p", "graft_levenshtein_ratio('kitten','sitting') AS lr")
      .orderBy("p").collect()
    assert(viaSql.exists(_.getAs[String]("p") == "(555) 123-4567"))
    assert(math.abs(viaSql(0).getAs[Double]("lr") - (1.0 - 3.0 / 7.0)) < 1e-12)
  }

  test("quality metrics: timeliness and sum_equals") {
    val d = Seq(
      ("2024-01-01 00:00:00", 1.0, 2.0, 3.0),
      ("2024-01-01 06:00:00", 1.0, 2.0, 9.0)).toDF("s", "a", "b", "c")
      .withColumn("ts", to_timestamp($"s"))
    val r = graft.quality.QualityMetrics.report(d, Seq(
      graft.quality.QualityMetrics.timeliness("ts", 3600 * 3,
        asOf = to_timestamp(lit("2024-01-01 07:00:00"))),
      graft.quality.QualityMetrics.sumEquals("a", "b", "c"))).collect()(0)
    assert(r.getDouble(0) == 0.5) // only the 06:00 row is within 3h of 07:00
    assert(r.getDouble(1) == 0.5) // 1+2=3 holds for row 1 only
  }

  test("binQuantileGrouped bins per group with exact quartile cuts") {
    val d = ((1 to 8).map(v => ("g1", v.toDouble)) ++
      Seq(("g2", 10.0), ("g2", 20.0), ("g2", 30.0), ("g2", 40.0)))
      .toDF("g", "v")
      .union(Seq(("g1", null.asInstanceOf[java.lang.Double])).toDF("g", "v")) // null value
    val out = FeatureLib.binQuantileGrouped(d, "v", 4, Seq("g"))
      .select("g", "v", "v_qbin").collect()
    // g1 quartiles of 1..8: q1=2.75, q2=4.5, q3=6.25 → two values per bin
    val g1 = out.filter(r => r.getString(0) == "g1" && !r.isNullAt(1))
      .map(r => (r.getDouble(1), r.getInt(2))).toMap
    assert(g1 == Map(1.0 -> 0, 2.0 -> 0, 3.0 -> 1, 4.0 -> 1, 5.0 -> 2, 6.0 -> 2, 7.0 -> 3, 8.0 -> 3))
    // g2: one value per bin
    val g2 = out.filter(_.getString(0) == "g2").map(r => (r.getDouble(1), r.getInt(2))).toMap
    assert(g2 == Map(10.0 -> 0, 20.0 -> 1, 30.0 -> 2, 40.0 -> 3))
    // null value → null bin, row preserved
    assert(out.count(r => r.isNullAt(1) && r.isNullAt(2)) == 1)
  }

  test("binQuantileGrouped labels + null group key survive") {
    val d = Seq(("en", 1.0), ("en", 2.0), ("en", 3.0),
      (null.asInstanceOf[String], 5.0), (null.asInstanceOf[String], 6.0),
      (null.asInstanceOf[String], 7.0)).toDF("lang", "score")
    val out = FeatureLib.binQuantileGrouped(d, "score", 3, Seq("lang"),
        outCol = "bucket", labels = Seq("tail", "middle", "head"))
      .select("lang", "score", "bucket").collect()
    assert(out.length == 6) // null-lang rows are NOT dropped (null-safe join)
    val nullG = out.filter(_.isNullAt(0)).map(r => (r.getDouble(1), r.getString(2))).toMap
    assert(nullG == Map(5.0 -> "tail", 6.0 -> "middle", 7.0 -> "head"))
    val en = out.filter(r => !r.isNullAt(0)).map(r => (r.getDouble(1), r.getString(2))).toMap
    assert(en == Map(1.0 -> "tail", 2.0 -> "middle", 3.0 -> "head"))
  }

  test("quality classifier separates planted signal; pseudo-labels leave the middle out") {
    import graft.quality.QualityClassifier
    val rnd = new scala.util.Random(5)
    // good docs: low punct ratio, sane word length; bad docs: the opposite
    val rows = (1L to 400L).map { i =>
      val good = i % 2 == 0
      val punct = (if (good) 0.03 else 0.35) + rnd.nextDouble() * 0.02
      val mwl = (if (good) 4.5 else 1.4) + rnd.nextDouble() * 0.3
      (i, if (good) 1 else 0, punct, mwl)
    }.toDF("id", "label", "punct_ratio", "mean_word_len")
    val m = QualityClassifier.train(rows, "label", Seq("punct_ratio", "mean_word_len"))
    val scored = QualityClassifier.score(rows, m)
      .select("id", "label", "quality_prob").as[(Long, Int, Double)].collect()
    val acc = scored.count { case (_, l, p) => (p > 0.5) == (l == 1) }.toDouble / scored.length
    assert(acc > 0.95, s"separable data must separate, accuracy $acc")
    // probabilities land on the right sides, not just the right class
    val goodMean = scored.filter(_._2 == 1).map(_._3).sum / 200
    val badMean = scored.filter(_._2 == 0).map(_._3).sum / 200
    assert(goodMean > 0.8 && badMean < 0.2, s"means: good=$goodMean bad=$badMean")
    // null features impute to 0 instead of crashing the scorer
    val withNull = Seq((999L, null.asInstanceOf[java.lang.Double], 4.0))
      .toDF("id", "punct_ratio", "mean_word_len")
    assert(QualityClassifier.score(withNull, m).count() == 1)
    // pseudo-labeling: extremes labeled, middle null
    val sig = (1L to 100L).map(i => (i, i.toDouble)).toDF("id", "lm")
    val lab = QualityClassifier.pseudoLabelByQuantile(sig, "lm", lo = 0.3, hi = 0.7)
      .select("id", "quality_label").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getInt(1)))).toMap
    assert(lab(5L).contains(0) && lab(95L).contains(1) && lab(50L).isEmpty)
  }

  test("psiBins: hand-computed 2-bin PSI, zero-drift law, empty-bin smoothing") {
    import spark.implicits._
    // ref [1,2,3,4]: median cut 2.5 -> fracs (0.5, 0.5);
    // cur [1,3,3,3]: fracs (0.25, 0.75)
    // PSI = (.25-.5)ln(.25/.5) + (.75-.5)ln(.75/.5) = 0.27465307...
    val ref = Seq(1.0, 2.0, 3.0, 4.0).toDF("v")
    val cur = Seq(1.0, 3.0, 3.0, 3.0).toDF("v")
    val bins = Profiler.psiBins(ref, cur, "v", nBins = 2)
      .orderBy("bin").collect()
    assert(bins.map(_.getInt(0)).toSeq == Seq(0, 1))
    assert(bins.map(_.getLong(1)).toSeq == Seq(2L, 2L)) // ref_n
    assert(bins.map(_.getLong(2)).toSeq == Seq(1L, 3L)) // cur_n
    val total = Profiler.psiTotal(ref, cur, "v", nBins = 2).collect()(0).getDouble(0)
    assert(math.abs(total - 0.2746530722) < 1e-9, s"got $total")
    // zero drift: identical frames -> every term is exactly 0
    assert(Profiler.psiTotal(ref, ref, "v", nBins = 2).collect()(0).getDouble(0) == 0.0)
    // a bin empty on the current side still appears (full spine) and its
    // fraction takes the epsilon clamp instead of -Infinity
    val curHi = Seq(3.0, 3.0, 3.0, 4.0).toDF("v")
    val rows = Profiler.psiBins(ref, curHi, "v", nBins = 2).orderBy("bin").collect()
    assert(rows(0).getLong(2) == 0L && rows(0).getDouble(4) == 1e-6)
    assert(rows(0).getDouble(5).isFinite && rows(0).getDouble(5) > 0)
    // nulls AND NaN are excluded, not binned: a reference NaN would poison
    // the upper cuts (NaN sorts above +Inf), a current NaN would pile into
    // the top bin
    val refN = Seq[java.lang.Double](1.0, 2.0, 3.0, 4.0, null, Double.NaN).toDF("v")
    assert(Profiler.psiBins(refN, cur, "v", nBins = 2)
      .agg(sum("ref_n")).collect()(0).getLong(0) == 4L)
    val curN = Seq(1.0, 3.0, 3.0, 3.0, Double.NaN).toDF("v")
    assert(Profiler.psiBins(ref, curN, "v", nBins = 2)
      .agg(sum("cur_n")).collect()(0).getLong(0) == 4L)
  }

  test("psiCategorical: top-K election, tail pooling, hand-computed terms") {
    import spark.implicits._
    // ref: a×4, b×2, c×1, d×1 — topK=2 elects {a, b}; c+d pool to __other
    val ref = Seq("a", "a", "a", "a", "b", "b", "c", "d").toDF("v")
    // cur: a×2, b×2, e×4 — e is unseen, pools to __other
    val cur = Seq("a", "a", "b", "b", "e", "e", "e", "e").toDF("v")
    val rows = Profiler.psiCategorical(ref, cur, "v", topK = 2)
      .orderBy("category").collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("__other", "a", "b"))
    assert(rows.map(_.getLong(1)).toSeq == Seq(2L, 4L, 2L)) // ref_n
    assert(rows.map(_.getLong(2)).toSeq == Seq(4L, 2L, 2L)) // cur_n
    // a: (.25-.5)ln(.25/.5); b: 0; __other: (.5-.25)ln(.5/.25)
    val terms = rows.map(r => r.getString(0) -> r.getDouble(5)).toMap
    assert(math.abs(terms("a") - 0.25 * math.log(2.0)) < 1e-12)
    assert(terms("b") == 0.0)
    assert(math.abs(terms("__other") - 0.25 * math.log(2.0)) < 1e-12)
    // zero drift law
    val zero = Profiler.psiCategorical(ref, ref, "v", topK = 2)
      .agg(sum("psi_term")).collect()(0).getDouble(0)
    assert(zero == 0.0)
    // an elected category absent from cur appears with count 0 and the clamp
    val curNoB = Seq("a", "a").toDF("v")
    val noB = Profiler.psiCategorical(ref, curNoB, "v", topK = 2)
      .orderBy("category").collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(noB("b") == 0L && noB("__other") == 0L)
    // a LITERAL category named "__other" elected into the top-K must not
    // duplicate the sentinel spine row (its counts pool with the tail)
    val refO = Seq("__other", "__other", "x").toDF("v")
    val oRows = Profiler.psiCategorical(refO, refO, "v", topK = 1)
      .orderBy("category").collect()
    assert(oRows.map(_.getString(0)).toSeq == Seq("__other"))
    assert(oRows(0).getLong(1) == 3L) // elected __other + pooled tail merge
  }

  test("entropy: uniform = log2(k), constant = 0, nulls excluded, one scan for all columns") {
    val df = Seq(
      (Some("a"), "c"), (Some("b"), "c"), (Some("c"), "c"), (Some("d"), "c"),
      (None, "c")
    ).toDF("u", "k")
    val out = Profiler.entropy(df, Seq("u", "k")).orderBy("column_name").collect()
    val byCol = out.map(r => r.getString(0) -> (r.getDouble(1), r.getLong(2))).toMap
    assert(math.abs(byCol("u")._1 - 2.0) < 1e-12 && byCol("u")._2 == 4) // null dropped
    assert(byCol("k")._1 == 0.0 && byCol("k")._2 == 1)
  }

  test("mutualInfo: 0 for independent, H for identical, hand-computed 2x2") {
    val ind = Seq(("a", "x"), ("a", "y"), ("b", "x"), ("b", "y")).toDF("p", "q")
    val r1 = Profiler.mutualInfo(ind, "p", "q").collect()(0)
    assert(math.abs(r1.getAs[Double]("mi_bits")) < 1e-12)
    assert(math.abs(r1.getAs[Double]("h_x") - 1.0) < 1e-12)

    val same = Seq(("a", "a"), ("b", "b"), ("c", "c"), ("d", "d")).toDF("p", "q")
    val r2 = Profiler.mutualInfo(same, "p", "q").collect()(0)
    assert(math.abs(r2.getAs[Double]("mi_bits") - 2.0) < 1e-12) // == H(X) == 2 bits

    // 2x2 with counts [[2,1],[1,0]]: MI = sum p log2(p/(px py))
    val skew = Seq(("a", "x"), ("a", "x"), ("a", "y"), ("b", "x")).toDF("p", "q")
    val r3 = Profiler.mutualInfo(skew, "p", "q").collect()(0)
    val expected =
      0.5 * math.log(0.5 / (0.75 * 0.75)) / math.log(2) +
        0.25 * math.log(0.25 / (0.75 * 0.25)) / math.log(2) +
        0.25 * math.log(0.25 / (0.25 * 0.75)) / math.log(2)
    assert(math.abs(r3.getAs[Double]("mi_bits") - expected) < 1e-12)
    assert(r3.getAs[Long]("n_rows") == 4L)
  }

  test("imageDHash: identical images hash alike, distinct patterns differ, degenerate inputs null") {
    val rows = Seq(
      (1L, Multimodal.syntheticPng2(7L, 24, 16)),
      (2L, Multimodal.syntheticPng2(7L, 24, 16)),   // same image as 1
      (3L, Multimodal.syntheticPng2(8L, 24, 16)),   // different pattern
      (4L, Multimodal.syntheticPng2(7L, 32, 24)),   // same pattern family, other dims
      (5L, null.asInstanceOf[Array[Byte]]),
      (6L, Array[Byte](1, 2, 3)),                   // undecodable
      (7L, Multimodal.syntheticPng2(7L, 4, 4))      // below the 9x8 grid
    ).toDF("id", "payload")
    val out = Multimodal.imageDHash(rows, "payload")
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(2)) None else Some(r.getLong(2)))).toMap
    assert(out(1L).isDefined && out(1L) == out(2L), "identical bytes → identical hash")
    assert(out(1L) != out(3L), "different pattern → different hash")
    assert(Seq(5L, 6L, 7L).forall(out(_).isEmpty), "null/undecodable/tiny → null hash")
    // dHash is resolution-robust for the SAME underlying pattern only in
    // spirit; here dims change the pattern too, so just assert it hashes
    assert(out(4L).isDefined)
  }

  test("imageNearDupPairs: planted duplicates pair at hamming 0, null hashes never pair") {
    val imgs = (1L to 20L).map(i => (i, Multimodal.syntheticPng2(i, 24, 16))) ++
      Seq((21L, Multimodal.syntheticPng2(1L, 24, 16)),  // duplicate of id 1
        (22L, null.asInstanceOf[Array[Byte]]))
    val hashed = Multimodal.imageDHash(imgs.toDF("id", "payload"), "payload")
    val pairs = Multimodal.imageNearDupPairs(hashed, "id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(pairs.contains((1L, 21L, 0)), "planted duplicate must pair at hamming 0")
    assert(!pairs.exists(p => p._1 == 22L || p._2 == 22L), "null hash never pairs")
    pairs.foreach(p => assert(p._3 <= 3))
  }

  test("imageNearDupPairs caches nothing: repeated calls leave executor storage as it was") {
    val imgs = (1L to 6L).map(i => (i, Multimodal.syntheticPng2(i, 24, 16))) :+
      ((7L, Multimodal.syntheticPng2(1L, 24, 16)))  // duplicate of id 1
    val hashed = Multimodal.imageDHash(imgs.toDF("id", "payload"), "payload")
    val before = spark.sparkContext.getPersistentRDDs.size
    (1 to 3).foreach { call =>
      val pairs = Multimodal.imageNearDupPairs(hashed, "id").collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(pairs.contains((1L, 7L)), s"call $call: planted duplicate must pair")
      assert(spark.sparkContext.getPersistentRDDs.size == before,
        s"call $call left ${spark.sparkContext.getPersistentRDDs.size - before} persisted RDD(s) behind")
    }
  }

  test("chiSquare: hand-computed 2x2, perfect independence, degenerate single category") {
    // counts [[10, 20], [20, 40]] — exactly proportional rows → chi2 = 0
    val indep = (Seq.fill(10)(("a", "x")) ++ Seq.fill(20)(("a", "y")) ++
      Seq.fill(20)(("b", "x")) ++ Seq.fill(40)(("b", "y"))).toDF("p", "q")
    val r0 = Profiler.chiSquare(indep, "p", "q").collect()(0)
    assert(math.abs(r0.getAs[Double]("chi2")) < 1e-9)
    assert(r0.getAs[Long]("dof") == 1L)
    assert(math.abs(r0.getAs[Double]("cramers_v")) < 1e-9)
    // hand 2x2 [[2,1],[1,0]]: n=4, e11=2.25, e12=0.75, e21=0.75, e22=... only 3 cells
    val skew = Seq(("a", "x"), ("a", "x"), ("a", "y"), ("b", "x")).toDF("p", "q")
    val r1 = Profiler.chiSquare(skew, "p", "q").collect()(0)
    // margins: a=3, b=1, x=3, y=1, tot=4; cells (a,x)=2 e=2.25, (a,y)=1 e=0.75, (b,x)=1 e=0.75
    val expected = math.pow(2 - 2.25, 2) / 2.25 + math.pow(1 - 0.75, 2) / 0.75 +
      math.pow(1 - 0.75, 2) / 0.75
    assert(math.abs(r1.getAs[Double]("chi2") - expected) < 1e-9)
    assert(math.abs(r1.getAs[Double]("cramers_v") -
      math.sqrt(expected / (4.0 * 1.0))) < 1e-9)
    // one-category side: dof 0, V null
    val deg = Seq(("a", "x"), ("a", "y")).toDF("p", "q")
    val r2 = Profiler.chiSquare(deg, "p", "q").collect()(0)
    assert(r2.getAs[Long]("dof") == 0L)
    assert(r2.isNullAt(r2.fieldIndex("cramers_v")))
  }

  test("paretoReport: top-k + __other shares; a NULL key ranks by measure, not null-first") {
    val d = (Seq.fill(10)("a") ++ Seq.fill(5)("b") ++ Seq.fill(3)("c") ++
      Seq.fill(2)("d") ++ Seq.fill(4)(null: String))
      .zipWithIndex.map { case (v, i) => (i, v) }.toDF("id", "k")
    val out = PivotLib.paretoReport(d, "k", 3)
      .collect().map(r => (Option(r.getString(0)), r.getDouble(1), r.getDouble(2), r.getInt(3)))
    val byRank = out.sortBy(_._4)
    assert(byRank.map(_._1).toSeq == Seq(Some("a"), Some("b"), None, Some("__other")),
      s"null key is a real rank-3 category: $byRank")
    assert(byRank.last._2 == 5.0, "__other rolls c(3)+d(2)")
    assert(math.abs(out.map(_._3).sum - 1.0) < 1e-12, "shares cover the grand total")
  }

  test("benford: digit extraction across magnitudes, exclusions, expectation values") {
    val d = Seq[java.lang.Double](1.0, 19.0, 1900.0, 0.0012, 25.0, 3.7, -150.0,
        0.0, null, Double.NaN)
      .zipWithIndex.map { case (v, i) => (i, v) }.toDF("id", "v")
    val out = Profiler.benford(d, "v")
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getDouble(3))).toMap
    // digits: 1(×4: 1, 19, 1900, 0.0012→1.2e-3, -150), wait -150 → 1 too → ×5? recount
    // 1.0→1, 19→1, 1900→1, 0.0012→1, 25→2, 3.7→3, -150→1; 0/null/NaN excluded
    assert(out(1)._1 == 5L)
    assert(out(2)._1 == 1L)
    assert(out(3)._1 == 1L)
    assert(out.values.map(_._1).sum == 7L)
    assert(math.abs(out(1)._2 - math.log10(2.0)) < 1e-12, "Benford expectation for digit 1")
  }

  test("kAnonymity: counts, violations, and the pass flag") {
    val d = (Seq.fill(5)(("NY", 30)) ++ Seq.fill(2)(("LA", 30)) ++ Seq(("SF", 40))).toDF("city", "age")
    val r = Profiler.kAnonymity(d, Seq("city", "age"), 3).collect()(0)
    assert(r.getAs[Long]("n_rows") == 8L)
    assert(r.getAs[Long]("n_groups") == 3L)
    assert(r.getAs[Long]("min_group_size") == 1L)
    assert(r.getAs[Long]("violating_groups") == 2L) // LA(2) and SF(1) < 3
    assert(r.getAs[Long]("violating_rows") == 3L)
    assert(!r.getAs[Boolean]("anonymity_ok"))
    val ok = Profiler.kAnonymity(d.filter($"city" === "NY"), Seq("city"), 3).collect()(0)
    assert(ok.getAs[Boolean]("anonymity_ok"))
  }

  test("groupingSetsAgg: one-pass detail + subtotal + total with labels and grouping_id") {
    val d = Seq(("a", "x", 1.0), ("a", "y", 2.0), ("b", "x", 4.0)).toDF("g1", "g2", "v")
    val out = PivotLib.groupingSetsAgg(d,
        Seq(Seq("g1", "g2"), Seq("g1"), Seq.empty), Seq(("v", "sum")))
      .collect().map(r => (r.getString(0), r.getString(1),
        r.getDouble(2), r.getAs[Number](3).longValue())).toSet
    assert(out.contains(("a", "x", 1.0, 0L)))
    assert(out.contains(("a", "TOTAL", 3.0, 1L)), "g2 grouped out → label + low bit")
    assert(out.contains(("b", "TOTAL", 4.0, 1L)))
    assert(out.contains(("TOTAL", "TOTAL", 7.0, 3L)), "grand total carries both bits")
    assert(out.size == 6) // 3 detail + 2 subtotal + 1 total
  }

  test("scaleFeatures: hand-computed zscore/minmax/robust, degenerate columns null out") {
    val d = Seq(1.0, 2.0, 3.0, 4.0, 5.0).zipWithIndex
      .map { case (v, i) => (i, v, 7.0) }.toDF("id", "v", "const")
    // zscore: mean 3, sample std sqrt(2.5)
    val z = FeatureLib.scaleFeatures(d, Seq("v", "const"), "zscore").collect()
    z.foreach { r =>
      val v = r.getAs[Double]("v")
      assert(math.abs(r.getAs[Double]("v_scaled") - (v - 3.0) / math.sqrt(2.5)) < 1e-12)
      assert(r.isNullAt(r.fieldIndex("const_scaled")), "zero-variance column scales to null")
    }
    // minmax: (v-1)/4
    val mm = FeatureLib.scaleFeatures(d, Seq("v"), "minmax").collect()
    mm.foreach(r => assert(math.abs(r.getAs[Double]("v_scaled") -
      (r.getAs[Double]("v") - 1.0) / 4.0) < 1e-12))
    // robust: median 3, IQR = 4 - 2 = 2
    val rb = FeatureLib.scaleFeatures(d, Seq("v"), "robust").collect()
    rb.foreach(r => assert(math.abs(r.getAs[Double]("v_scaled") -
      (r.getAs[Double]("v") - 3.0) / 2.0) < 1e-12))
  }

  test("encodeTarget: hand-computed blend, null category is a group, all-null falls to prior") {
    val df = Seq(
      (1, "a", java.lang.Double.valueOf(10.0)), (2, "a", java.lang.Double.valueOf(20.0)),
      (3, "b", java.lang.Double.valueOf(30.0)),
      (4, null: String, java.lang.Double.valueOf(40.0)),
      (5, "c", null.asInstanceOf[java.lang.Double])
    ).toDF("id", "cat", "y")
    // prior over non-null targets = (10+20+30+40)/4 = 25; m = 1
    val enc = FeatureLib.encodeTarget(df, "cat", "y", smoothing = 1.0)
      .select($"id", $"cat_target").as[(Int, Double)].collect().toMap
    assert(math.abs(enc(1) - (2 * 15.0 + 25.0) / 3) < 1e-12)
    assert(math.abs(enc(3) - (30.0 + 25.0) / 2) < 1e-12)
    assert(math.abs(enc(4) - (40.0 + 25.0) / 2) < 1e-12, "null category encodes as its own group")
    assert(math.abs(enc(5) - 25.0) < 1e-12, "all-null-target category falls back to the prior")
  }

  test("winsorize clips to exact per-group percentiles; nulls survive; global path") {
    val df = ((1 to 10).map(i => ("g1", java.lang.Double.valueOf(i.toDouble))) :+
      ("g1", null.asInstanceOf[java.lang.Double]) :+
      ("g2", java.lang.Double.valueOf(100.0))).toDF("g", "v")
    val out = FeatureLib.winsorize(df, "v", 0.1, 0.9, groupCols = Seq("g"))
      .select($"g", $"v", $"v_wins").collect()
    // exact percentile of 1..10: p10 = 1.9, p90 = 9.1 ((n-1)p interpolation)
    out.foreach { r =>
      (r.getString(0), Option(r.get(1))) match {
        case ("g1", Some(v)) =>
          val w = r.getDouble(2)
          val expect = math.min(math.max(v.asInstanceOf[Double], 1.9), 9.1)
          assert(math.abs(w - expect) < 1e-12, s"v=$v clipped to $w, want $expect")
        case ("g1", None) => assert(r.isNullAt(2), "null value stays null")
        case ("g2", _) => assert(r.getDouble(2) == 100.0, "singleton group clips to itself")
        case other => fail(s"unexpected row $other")
      }
    }
    // global: one cut pair over all 12 values
    val g = FeatureLib.winsorize(df, "v", 0.0, 0.5).select(max($"v_wins")).as[Double].collect()(0)
    // p50 of (1..10, 100) = 6.0 — everything above clips to it
    assert(g == 6.0)
  }
}
