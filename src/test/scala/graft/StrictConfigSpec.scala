package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.core.Pipeline
import graft.streaming.StreamPipeline

/** A wrong config fails at parse time — `Pipeline.fromYaml` /
  * `StreamPipeline.fromYaml`, no SparkSession involved — with an error
  * naming where (section and index) and which key; every shipped YAML
  * still parses. No Spark here: the binders run without a session.
  */
class StrictConfigSpec extends AnyFunSuite {

  private val src = "source: { type: parquet, path: /nonexistent }\n"
  private def batch(op: String): String = s"name: strict\n${src}operations:\n  - $op\n"
  private val streamHead =
    "name: strict_stream\nstream_source: { type: file, path: /nonexistent, schema: \"ts TIMESTAMP, v DOUBLE\" }\n"

  // (case, yaml, is-stream, the section/index the error must name, the key)
  private val rejected = Seq(
    ("filter typo", batch("""{ type: filter, conditon: "age > 1" }"""), false,
      "operations[0]", "conditon"),
    ("unknown key silently defaulted before", batch(
      "{ type: text_processing, params: { operation: gopher_filter, min_wordz: 1 } }"), false,
      "operations[0]", "min_wordz"),
    ("value that does not coerce", batch(
      "{ type: text_processing, params: { operation: gopher_filter, min_words: many } }"), false,
      "operations[0]", "min_words"),
    ("unknown family operation", batch(
      "{ type: text_processing, params: { operation: near_dedupe } }"), false,
      "operations[0]", "operation"),
    ("stray flat key next to params", batch(
      """{ type: filter, params: { condition: "age > 1" }, min_chars: 3 }"""), false,
      "operations[0]", "min_chars"),
    ("removed no-op knob", batch(
      "{ type: multimodal, params: { operation: decode_image_stats, batch_size: 64 } }"), false,
      "operations[0]", "batch_size"),
    ("top-level typo", s"name: strict\n${src}attritoin: { weight_column: n }\n", false,
      "top level", "attritoin"),
    ("storage without a path (failed at the write before)",
      s"name: strict\n${src}storage: { type: parquet }\n", false, "storage", "path"),
    ("reader option typo (silently dropped before)",
      "name: strict\nsource: { type: csv, path: /nonexistent, options: { heder: false } }\n", false,
      "source.options", "heder"),
    ("jdbc source without url", "name: strict\nsource: { type: jdbc, path: t, options: { user: u } }\n",
      false, "source.options", "url"),
    ("stream transform typo", streamHead + "transforms:\n  - { type: filter, condition: \"v > 0\" }\n" +
      "  - { type: text_processing, operation: gopher_filter, min_wordz: 3 }\n",
      true, "transforms[1]", "min_wordz"),
    ("whole-input text op under transforms", streamHead +
      "transforms:\n  - { type: text_processing, operation: near_dedup }\n", true, "transforms[0]", "near_dedup"),
    ("join under transforms (a stream has no catalog)", streamHead +
      "transforms:\n  - { type: join, right_table: dim, using: [v] }\n", true, "transforms[0]", "join"),
    ("semantic_gate without model_path under transforms", streamHead +
      "transforms:\n  - { type: text_processing, operation: semantic_gate, accepted_table: accepted }\n",
      true, "transforms[0]", "accepted_table"),
    ("batch-only quota key under transforms (the stream keeps first-come rows)", streamHead +
      "transforms:\n  - { type: text_processing, operation: quota_per_group, group_column: g, quota: 2, " +
      "key_column: v }\n", true, "transforms[0]", "key_column"),
    ("fit-only semantic_gate key under transforms", streamHead +
      "transforms:\n  - { type: text_processing, operation: semantic_gate, model_path: /m, n_cells: 8 }\n",
      true, "transforms[0]", "n_cells"),
    ("non-positive monitoring retention (accepted at parse before)", streamHead +
      "monitoring: { max_batches: 0 }\n", true, "monitoring", "max_batches"))

  test("config errors are rejected at fromYaml, naming the index and the key") {
    rejected.foreach { case (name, yaml, stream, where, key) =>
      val e = intercept[IllegalArgumentException] {
        if (stream) StreamPipeline.fromYaml(yaml) else Pipeline.fromYaml(yaml)
      }
      assert(e.getMessage.contains(where) && e.getMessage.contains(key),
        s"$name: '${e.getMessage}' should name $where and $key")
    }
  }

  test("the same op parses once the key is right (the rejections are about the key)") {
    val conf = Pipeline.fromYaml(batch(
      "{ type: text_processing, params: { operation: gopher_filter, min_words: 1 } }"))
    assert(conf.operations.size == 1)
    // jdbc hands every option but `url` to Spark unchecked
    assert(Pipeline.fromYaml("name: strict\nsource: { type: jdbc, path: t, options: { url: \"jdbc:x\", user: u } }\n")
      .sources.map(_.typ) == Seq("jdbc"))
    assert(StreamPipeline.fromYaml(streamHead +
      "transforms:\n  - { type: text_processing, operation: gopher_filter, min_words: 3 }\n")
      .transforms.map(_._1) == Seq("text_processing/gopher_filter"))
  }

  test("every examples/*.yaml and perfbench/pipelines/*.yaml parses") {
    val files = Seq("examples", "perfbench/pipelines").flatMap { d =>
      java.nio.file.Files.list(java.nio.file.Paths.get(d)).toArray.map(_.toString)
        .filter(_.endsWith(".yaml")).sorted
    }
    assert(files.size >= 14, s"only ${files.size} YAML files found")
    files.foreach { f =>
      val yaml = java.nio.file.Files.readString(java.nio.file.Paths.get(f))
      try {
        if (yaml.contains("stream_source:")) StreamPipeline.fromYaml(yaml) else Pipeline.fromYaml(yaml)
      } catch {
        case e: IllegalArgumentException => fail(s"$f: ${e.getMessage}")
      }
    }
  }
}
