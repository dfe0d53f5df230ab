package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Pipeline, PipelineConfig}
import BatchBench.{segments, sha256}
import Main._

/** curate: the first six ops of the shipped training-data recipe, with its
  * attrition block, over a seeded corpus with planted duplicates (see
  * pipelines/curate.yaml); the traced run times the recipe's first three
  * segments one by one. */
final class Curate(o: Opts) extends BatchBench.Workload {
  val yamlFile = "perfbench/pipelines/curate.yaml"
  val shippedRecipe = "examples/training_data_pipeline.yaml"

  private lazy val opCount = PipelineConfig.fromYaml(yamlText(yamlFile, Map.empty)).operations.size

  private val truth = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods.parse
    implicit val fmt: Formats = DefaultFormats
    val j = parse(new String(Files.readAllBytes(Paths.get(o.data, "truth.json")), "UTF-8"))
    def ids(k: String) = (j \ k).extract[Seq[Long]]
    def groups(k: String) = (j \ k).extract[Seq[Seq[Long]]]
    (ids("blocked").toSet, ids("url_kept").toSet, ids("must_keep"),
      groups("exact_pairs"), groups("near_clusters"))
  }

  def check(spark: SparkSession, r: Pipeline.Result): Option[String] = {
    val (blocked, urlKept, mustKeep, exact, near) = truth
    val rows = spark.read.parquet(s"${o.work}/out/curate").select("doc_id", "text")
      .collect().map(x => (x.getLong(0), x.getString(1))).sortBy(_._1)
    val ids = rows.map(_._1).toSet
    val problems = Seq(
      (rows.length != ids.size) -> "duplicate doc_id in the output",
      (rows.length.toLong != r.rowsWritten) -> s"rowsWritten ${r.rowsWritten} != ${rows.length} rows read back",
      !r.validation.values.forall(_ == 1.0) -> s"validation ${r.validation}",
      (r.attrition.size != opCount) -> s"attrition report has ${r.attrition.size} stages, not $opCount",
      r.attrition.lastOption.exists(_.rowsOut != r.rowsWritten) ->
        s"attrition report's last stage keeps ${r.attrition.last.rowsOut} rows, not ${r.rowsWritten}",
      ids.exists(blocked) -> "a blocklisted doc survived",
      !ids.subsetOf(urlKept) -> "a doc dropped by canonical-URL dedup survived",
      !mustKeep.forall(ids) -> s"${mustKeep.count(d => !ids(d))} unique docs were dropped",
      exact.exists(g => g.count(ids) != 1) -> "a planted exact-duplicate pair did not collapse to one doc",
      // near-dedup is not in the timed recipe: every near-duplicate survives
      near.exists(g => !g.forall(ids)) -> "a planted near-duplicate was dropped"
    ).collect { case (true, msg) => msg }
    lazy val digest = sha256(rows.iterator.map { case (id, t) => s"$id\t$t" })
    if (problems.nonEmpty) Some(problems.mkString("; "))
    else if (o.pinned.nonEmpty && digest != o.pinned) Some(s"output digest $digest != pinned ${o.pinned}")
    else { info(s"curate output ok: ${rows.length} docs, sha256 $digest"); None }
  }

  /** text: the shipped 20-op recipe's first three segments, each over its
    * own materialized input (the last four take 20-40 s each on 4 cores,
    * past what one traced run may last); expr: each graft_* kernel on
    * curate's path. */
  def traceLayers(spark: SparkSession, conf: PipelineConfig.PipelineConf, tr: Tracer,
                  rep: Report): Unit = {
    val segs = Seq("url_bloom" -> 4, "lines_paras" -> 2, "near_dedup" -> 1)
    val shipped = PipelineConfig.fromYaml(yamlText(shippedRecipe, Map(
      "GRAFT_SF_DIR" -> o.data, "GRAFT_BLOCKLIST" -> s"${o.data}/blocklist.parquet",
      "GRAFT_OUT" -> s"${o.work}/out/shipped")))
    require(shipped.operations.size == 20, s"$shippedRecipe has ${shipped.operations.size} ops, not 20")
    val (primary, catalog) = Pipeline.load(spark, conf)
    val near = truth._5
    segments(spark, primary, catalog, shipped.operations, segs, "text", rep, {
      case ("near_dedup", out) =>
        val ids = out.select("doc_id").collect().map(_.getLong(0)).toSet
        rep.op(near.forall(g => g.count(ids) == 1),
          "near_dedup segment: a planted near-duplicate cluster did not collapse to one doc")
      case _ =>
    }).unpersist()
    kernels(spark, rep)
  }

  /** ns/row of each kernel over the corpus (replicated 8x), minus a
    * pass-through of the same input column; best of five. */
  def kernels(spark: SparkSession, rep: Report): Unit = {
    val docs = spark.read.parquet(s"${o.data}/documents.parquet").select("text")
      .crossJoin(spark.range(8).toDF("rep")).select("text")
    val (text, n) = persistCount(docs)
    val (shingles, _) = persistCount(text.select(expr("graft_word_shingles(text, 3)").as("sh")))
    val (grams, _) = persistCount(text.select(expr("graft_word_gram_hashes(text, 5)").as("gh")))
    val (tokens, _) = persistCount(text.select(split(col("text"), " ").as("tok")))
    def best(df: DataFrame, e: String): Double =
      (1 to 5).map { _ =>
        val t0 = System.nanoTime()
        df.select(expr(e).as("x")).write.format("noop").mode("overwrite").save()
        ms(t0)
      }.min
    val baseText = best(text, "text")
    val baseSh = best(shingles, "sh")
    val baseGh = best(grams, "gh")
    val baseTok = best(tokens, "tok")
    Seq(
      ("word_shingles", text, "graft_word_shingles(text, 3)", baseText),
      ("minhash_sig", shingles, "graft_minhash_sig(sh, 64)", baseSh),
      ("text_char_stats", text, "graft_text_char_stats(text)", baseText),
      ("script_counts", text, "graft_script_counts(text)", baseText),
      ("word_gram_hashes", text, "graft_word_gram_hashes(text, 5)", baseText),
      ("winnow_mins", grams, "graft_winnow_mins(gh, 4)", baseGh),
      ("deflate_ratio", text, "graft_deflate_ratio(text)", baseText),
      ("unicode_normalize", text, "graft_unicode_normalize(text)", baseText),
      ("token_entropy", tokens, "graft_token_entropy(tok)", baseTok)
    ).foreach { case (name, df, e, base) =>
      rep.put(s"expr.${name}_ns_per_row", (best(df, e) - base) * 1e6 / n, "ns")
    }
    Seq(text, shingles, grams, tokens).foreach(_.unpersist())
  }
}

/** analytics: filter -> revenue -> 3-way join -> per-customer window ->
  * partitioned parquet, checked against an independent Spark SQL query. */
final class Analytics(o: Opts) extends BatchBench.Workload {
  val yamlFile = "perfbench/pipelines/analytics.yaml"
  private var reference: (Long, Long, Double) = _

  private def digest(df: DataFrame): (Long, Long, Double) = {
    val r = df.agg(count(lit(1)),
      bit_xor(xxhash64(col("l_orderkey"), col("l_linenumber"), col("c_custkey"),
        round(col("revenue"), 2), round(col("cum_revenue"), 2), col("cust_line_no").cast("int"),
        col("c_mktsegment"), col("o_orderdate"))),
      sum(round(col("revenue"), 2))).head()
    (r.getLong(0), r.getLong(1), r.getDouble(2))
  }

  override def prepare(spark: SparkSession): Unit = {
    Seq("lineitem", "orders", "customer").foreach(t =>
      spark.read.parquet(s"${o.data}/$t.parquet").createOrReplaceTempView(s"ref_$t"))
    reference = digest(spark.sql(
      """SELECT l_orderkey, l_linenumber, c_custkey, revenue, c_mktsegment, o_orderdate,
        |  sum(revenue) OVER w AS cum_revenue, row_number() OVER w AS cust_line_no
        |FROM (SELECT *, l_extendedprice * (1 - l_discount) AS revenue FROM ref_lineitem
        |      WHERE l_quantity > 0 AND l_discount <= 0.09) l
        |JOIN ref_orders ON l_orderkey = o_orderkey
        |JOIN ref_customer ON o_custkey = c_custkey
        |WINDOW w AS (PARTITION BY c_custkey ORDER BY o_orderdate, l_orderkey, l_linenumber
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""".stripMargin))
    info(s"analytics reference: $reference")
  }

  def check(spark: SparkSession, r: Pipeline.Result): Option[String] = {
    val got = digest(spark.read.parquet(s"${o.work}/out/analytics"))
    val problems = Seq(
      (got._1 != reference._1 || got._2 != reference._2) -> s"output digest $got != reference $reference",
      (math.abs(got._3 - reference._3) > 1e-6 * math.abs(reference._3)) -> "revenue total differs",
      (r.rowsWritten != reference._1) -> s"rowsWritten ${r.rowsWritten} != ${reference._1}",
      !r.validation.values.forall(_ == 1.0) -> s"validation ${r.validation}"
    ).collect { case (true, msg) => msg }
    if (problems.isEmpty) None else Some(problems.mkString("; "))
  }

  /** ops: filter/calc, join, window, then the expectation aggregate. */
  def traceLayers(spark: SparkSession, conf: PipelineConfig.PipelineConf, tr: Tracer,
                  rep: Report): Unit = {
    val (primary, catalog) = Pipeline.load(spark, conf)
    val out = segments(spark, primary, catalog, conf.operations,
      Seq("filter_calc" -> 2, "join" -> 2, "window" -> 1), "ops", rep)
    val t0 = System.nanoTime()
    val aggs = conf.expectations.map(e => avg(when(expr(e.expression), 1.0).otherwise(0.0)))
    out.agg(aggs.head, aggs.tail: _*).collect()
    rep.put("ops.aggregate_ms", ms(t0), "ms")
    rep.put("ops.aggregate_rows_out", 1.0, "count")
    out.unpersist()
  }
}
