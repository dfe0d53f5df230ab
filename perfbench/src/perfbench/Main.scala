package perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.core.{PipelineConfig, Sessions}

/** The JVM half of the benchmark. `perfbench/run.py` builds graft, generates
  * the inputs and starts this with
  *
  *   --workload curate|analytics|stream_window --seconds S --trace 0|1
  *   --data DIR --work DIR --out FILE --input-rows N [--pinned SHA256]
  *
  * and reads FILE: {"correct", "attempted", "failed", "metrics", "notes"}.
  * With --trace 0 the metrics are the end-to-end ones, measured with no
  * listener of the benchmark attached except the stream's commit clock;
  * with --trace 1 the per-layer ones, from [[Tracer]].
  */
object Main {

  final class Opts(m: Map[String, String]) {
    val workload: String = m("workload")
    val seconds: Double = m("seconds").toDouble
    val trace: Boolean = m("trace") == "1"
    val data: String = m("data")
    val work: String = m("work")
    val out: String = m("out")
    val pinned: String = m.getOrElse("pinned", "")
    val inputRows: Long = m("input-rows").toLong
  }

  /** Ordered metric map: name -> (value, unit). */
  final class Report {
    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    val notes = mutable.LinkedHashMap.empty[String, String]
    var attempted = 0
    var failed = 0
    def put(name: String, v: Double, unit: String): Unit = metrics(name) = (v, unit)
    def op(ok: Boolean, what: => String): Unit = {
      attempted += 1
      if (!ok) { failed += 1; info(s"FAILED: $what") }
    }
  }

  val nproc: Int = Runtime.getRuntime.availableProcessors

  def info(s: String): Unit = System.err.println(s"[perfbench] $s")

  def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6

  def medianOf(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Nearest-rank percentile. */
  def pct(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    s(math.max(0, math.ceil(p / 100.0 * s.size).toInt - 1))
  }

  /** graft's standard session at local[nproc] with nproc shuffle partitions,
    * plus every function registration a YAML pipeline may call. */
  def newSession(o: Opts): SparkSession = {
    val spark = Sessions.configure(
      SparkSession.builder().master(s"local[$nproc]").appName("perfbench")
        .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
        .config("spark.sql.streaming.checkpointLocation", s"${o.work}/checkpoints"),
      nproc).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.expr.GraftFunctions.register(spark)
    graft.functions.CleanLib.registerUdfs(spark)
    graft.multimodal.Multimodal.registerUdfs(spark)
    spark
  }

  def yamlText(file: String, vars: Map[String, String]): String =
    PipelineConfig.substituteEnv(
      new String(Files.readAllBytes(Paths.get(file)), "UTF-8"), vars.get)

  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toDouble / 1024.0)
      .getOrElse(Double.NaN)

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val o = new Opts(kv)
    Files.createDirectories(Paths.get(o.work))
    val rep = new Report
    o.workload match {
      case "curate" | "analytics" => BatchBench.run(o, rep)
      case "stream_window"        => StreamBench.run(o, rep)
      case other                  => throw new IllegalArgumentException(s"unknown workload: $other")
    }
    rep.put("peak_rss_mb", peakRssMb(), "MB")
    Files.write(Paths.get(o.out), toJson(rep).getBytes("UTF-8"))
    SparkSession.getActiveSession.foreach(_.stop())
  }

  def toJson(r: Report): String = {
    def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    def num(v: Double) = if (v.isNaN || v.isInfinite) "null" else v.toString
    val ms = r.metrics.map { case (k, (v, u)) => s"${q(k)}: {\"value\": ${num(v)}, \"unit\": ${q(u)}}" }
    val ns = r.notes.map { case (k, v) => s"${q(k)}: ${q(v)}" }
    s"""{"correct": ${r.failed == 0}, "attempted": ${r.attempted}, "failed": ${r.failed}, """ +
      s""""metrics": {${ms.mkString(", ")}}, "notes": {${ns.mkString(", ")}}}"""
  }

  def listFiles(dir: String): Seq[Path] =
    if (!Files.exists(Paths.get(dir))) Nil
    else Files.walk(Paths.get(dir)).iterator().asScala.filter(Files.isRegularFile(_))
      .filterNot { p => val n = p.getFileName.toString; n.startsWith("_") || n.startsWith(".") }
      .toSeq

  def moveAtomic(from: Path, to: Path): Unit =
    Files.move(from, to, StandardCopyOption.ATOMIC_MOVE)

  def persistCount(df: DataFrame): (DataFrame, Long) = {
    val p = df.persist()
    (p, p.count())
  }
}
