package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.tools.OpsDoc

/** docs/OPS.md is GENERATED from the binders that parse the YAML
  * (VERDICT r6 #7 — the op surface had outgrown the README's examples and
  * a hand-written doc would drift again). This spec regenerates the
  * document on every build and fails when the committed file is stale,
  * plus sanity-pins that the recording pass actually sees every binder (a
  * recorder gone blind would otherwise "freshly generate" an empty doc
  * forever).
  */
class OpsDocSpec extends AnyFunSuite {

  private lazy val generated = OpsDoc.generate()

  test("docs/OPS.md is fresh (regenerate with graft.tools.OpsDoc on mismatch)") {
    val committed = new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get("docs/OPS.md")), "UTF-8")
    assert(committed == generated,
      "docs/OPS.md is stale — regenerate: java -cp " +
        "'target/scala-2.13/classes:/opt/spark/jars/...' graft.tools.OpsDoc")
  }

  test("gopher_rules and gopher_filter accept identical thresholds (anti-divergence pin)") {
    // one binder (OpCompiler.gopher) reads the thresholds for both ops
    // (gopher_filter is also the stream gate); this pin keeps it that way
    def paramsOf(op: String): String = {
      val row = generated.linesIterator.find(_.startsWith(s"| `$op` |"))
        .getOrElse(fail(s"no generated row for $op"))
      row.split("\\|")(2).trim
    }
    assert(paramsOf("gopher_rules") == paramsOf("gopher_filter"),
      s"threshold param lists diverged:\n rules:  ${paramsOf("gopher_rules")}\n filter: ${paramsOf("gopher_filter")}")
  }

  test("extraction sees the real dispatch surface (blind-regex control)") {
    // top-level types + transform sub-ops
    Seq("`filter`", "`text_processing`", "`windowed_aggregation`", "`validate`",
      "`extract_date_parts`").foreach(t => assert(generated.contains(t), s"missing $t"))
    // one representative row per dynamic family, with a param default
    assert(generated.contains("| `near_dedup_against` |"), "text_processing rows")
    assert(generated.contains("| `sessionize` |"), "time_series rows")
    assert(generated.contains("| `binning` | `column`, `bins=10`"), "fe params + defaults")
    assert(generated.contains("uniform, quantile, kmeans, quantile_grouped"),
      "nested method selectors")
    assert(generated.contains("| `image_dhash` |"), "multimodal rows")
    assert(generated.contains("| `cdc_apply` | `changes_table`"), "scd2 rows")
    assert(generated.contains("| `zorder_key` |"), "layout rows")
    assert(generated.contains("| `alerts` | `at_epoch=0`"), "quality_monitor rows")
    // stream sections: source, window, sink; stream transforms are the
    // op rows marked `stream`
    assert(generated.contains("| `kafka` | `servers`"), "stream source rows")
    assert(generated.contains("| `neardup_bloom_apply` | `text_column=text`, `model_path` |  | yes |"),
      "streamable op rows")
    assert(generated.contains("| `session` | `gap=30 minutes`"), "stream window rows")
    assert(generated.contains("| `neardup_ingest_kv` | `model_dir`"), "stream sink rows")
    // the generated op count stays in the right order of magnitude — a
    // half-blind split would silently halve the table
    val rows = generated.linesIterator.count(l => l.startsWith("| `"))
    assert(rows >= 90, s"only $rows op rows extracted — dispatch split regressed")
  }
}
