package graft.tools

import java.nio.file.{Files, Paths}

import graft.core.{Params, PipelineConfig}
import graft.core.Params.Key
import graft.streaming.StreamPipeline

/** docs/OPS.md generator — the YAML surface rendered from the binders that
  * parse it (graft.core.Params in recording mode): PipelineConfig's
  * sections and op types, OpCompiler's op families (the streamable ones
  * marked), and StreamPipeline's source, window, sink and monitoring. The
  * document lists
  * exactly the keys the parser accepts, because both come from the same
  * reads; OpsDocSpec regenerates it on every build and fails when the
  * committed file is stale.
  *
  * Regenerate: `java -cp 'target/scala-2.13/classes:/opt/spark/jars/...'
  * graft.tools.OpsDoc` (writes docs/OPS.md in the CWD).
  */
object OpsDoc {

  private type Binder = Params => Any

  /** Every key `bind` reads on any branch below the pinned selectors, and
    * every selector met below them. */
  private def explore(bind: Binder, pinned: Map[String, String]): (Seq[Key], Seq[Params.Selector]) = {
    val r = Params.record(pinned)(bind)
    val open = r.selectors.toSeq.filterNot(s => pinned.contains(s.path))
    val branches = for (s <- open; c <- s.choices if c != s.chosen)
      yield explore(bind, pinned + (s.path -> c))
    ((r.keys.toSeq ++ branches.flatMap(_._1)).distinctBy(_.path), open ++ branches.flatMap(_._2))
  }

  private def render(k: Key, strip: String): String = {
    val suffix = k.kind match {
      case "[]" | "{}" => k.kind
      case _           => ""
    }
    val name = s"${k.path.stripPrefix(strip)}$suffix"
    val shown = k.default.fold(s"`$name`")(d => s"`$name=${d.replace("\n", "\\n")}`")
    if (k.choices.isEmpty) shown else s"$shown (${k.choices.mkString(" \\| ")})"
  }

  private def renderAll(ks: Seq[Key], strip: String = ""): String =
    if (ks.isEmpty) "—" else ks.map(render(_, strip)).mkString(", ")

  private def keysOf(bind: Binder): String = renderAll(Params.record()(bind).keys.toSeq)

  /** The table of the selector at `sel` in `bind` (other selectors pinned):
    * one row per choice with the keys that branch reads; keys read before
    * the selector at its own level are listed once above the table, and
    * deeper selectors' choices fill the nested-values column. With
    * `streams`, a last column marks the choices a stream transform may be. */
  private def section(bind: Binder, pinned: Map[String, String], sel: String,
                      streams: Option[String => Option[Seq[String]]] = None): Seq[String] = {
    val r = Params.record(pinned)(bind)
    val s = r.selectors.find(_.path == sel).get
    val level = sel.substring(0, sel.lastIndexOf('.') + 1)
    def own(k: Key) = k.path.startsWith(level) && k.path != sel && !pinned.contains(k.path)
    val prelude = r.keys.take(s.at).filter(own).toSeq
    val rows = s.choices.map { c =>
      val (keys, sels) = explore(bind, pinned + (sel -> c))
      val nested = sels.filterNot(_.path == sel).flatMap(_.choices).distinct
      s"| `$c` | ${renderAll(keys.filter(k => own(k) && !prelude.exists(_.path == k.path)), level)} | " +
        s"${nested.mkString(", ")} |" + streams.fold("")(st => s" ${streamMark(st(c))} |")
    }
    Seq(if (prelude.isEmpty) "" else s"Common keys: ${renderAll(prelude, level)}\n",
      s"| `$sel` | keys (defaults) | nested values |" + streams.fold("")(_ => " stream |"),
      "|---|---|---|" + streams.fold("")(_ => "---|")).filter(_.nonEmpty) ++ rows
  }

  private def streamMark(batchOnly: Option[Seq[String]]): String = batchOnly.fold("") {
    case Nil  => "yes"
    case keys => s"yes, without ${keys.map(k => s"`$k`").mkString(", ")}"
  }

  def generate(): String = {
    val out = new StringBuilder
    out ++= "# YAML operation surface\n\n"
    out ++= "GENERATED by `graft.tools.OpsDoc` from the binders that parse the YAML\n"
    out ++= "(graft.core.Params recording their reads) — do not edit; OpsDocSpec fails\n"
    out ++= "the build when it is stale. Regenerate with\n"
    out ++= "`java -cp target/scala-2.13/classes:/opt/spark/jars/'*' graft.tools.OpsDoc`.\n\n"
    out ++= "Any key not listed is rejected by `Pipeline.fromYaml` / `StreamPipeline.fromYaml`.\n"
    out ++= "Notation: `name=default`, `name[]` (list), `name{}` (mapping), `(a \\| b)`\n"
    out ++= "(accepted values); a default computed from another key shows that key's\n"
    out ++= "default. Nested values are the choices of inner selectors in that row.\n\n"

    out ++= "## Pipeline sections (PipelineConfig)\n\n"
    out ++= "Top level: `name`, `source`, `sources[]`, `operations[]`, `validation`, `storage`,\n"
    out ++= "`attrition`. A source or storage `type` defaults to `parquet`, and its\n"
    out ++= "`options{}` takes only the keys listed for that type;\n"
    out ++= "`options.<other>` (jdbc) passes through to Spark's reader or writer, and\n"
    out ++= "`storage.options.catalog_dir`/`lineage_dir` register the written dataset.\n\n"
    out ++= "| section | keys (defaults) |\n|---|---|\n"
    Seq("`validation.expectations[]`" -> PipelineConfig.expectation _,
      "`attrition`" -> PipelineConfig.attrition _).foreach { case (name, bind) =>
      out ++= s"| $name | ${keysOf(bind)} |\n"
    }
    Seq[(String, Binder)]("source`, `sources[]" -> PipelineConfig.source,
      "storage" -> PipelineConfig.storage).foreach { case (name, bind) =>
      out ++= s"\n### `$name` (`type:` dispatch)\n\n"
      out ++= section(bind, Map.empty, "type").mkString("\n") + "\n"
    }

    // top-level op types: the keys each reads before any inner selector;
    // a type with an inner selector gets its own section below
    val op: Binder = PipelineConfig.op
    val typed = PipelineConfig.opTypes.map { case (t, _) =>
      val r = Params.record(Map("type" -> t))(op)
      val inner = r.selectors.find(_.path != "type")
      val keys = r.keys.take(inner.fold(r.keys.size)(_.at)).filter(_.path != "type").toSeq
      // a family with a streamable operation marks it in a last column
      val streams = Some((c: String) => PipelineConfig.streamable.get(s"$t/$c"))
        .filter(_ => PipelineConfig.streamable.keys.exists(_.startsWith(s"$t/")))
      (t, keys, inner.map(s => (s, section(op, Map("type" -> t), s.path, streams))))
    }
    val firstWith = typed.collect { case (t, _, Some((_, table))) => table -> t }
      .groupBy(_._1).map { case (table, ts) => table -> ts.head._2 }
    out ++= "\n## `operations:` types (PipelineConfig.parseOp)\n\n"
    out ++= "An op's keys sit next to `type:` or under `params:`, not both. The ops\n"
    out ++= "marked `stream` may also be stream `transforms:` entries.\n\n"
    out ++= "| type | keys (defaults) | dispatch | stream |\n|---|---|---|---|\n"
    typed.foreach { case (t, keys, inner) =>
      val dispatch = inner.fold("") { case (s, table) =>
        val owner = firstWith(table)
        if (owner == t) s"`${s.path}:` (section below)" else s"as `$owner`"
      }
      out ++= s"| `$t` | ${renderAll(keys)} | $dispatch | ${streamMark(PipelineConfig.streamable.get(t))} |\n"
    }
    typed.foreach {
      case (t, _, Some((s, table))) if firstWith(table) == t =>
        out ++= s"\n## `$t` (`${s.path}:` dispatch)\n\n"
        out ++= table.mkString("\n") + "\n"
      case _ =>
    }

    out ++= "\n## Stream pipelines (StreamPipeline.fromYaml)\n\n"
    out ++= "Top level: `name`, `stream_source` (required), `transforms[]`, `window`,\n"
    out ++= "`sink`, `monitoring`, `attrition`. A `transforms:` entry is an op from the\n"
    out ++= "tables above, with the same `type`, `operation` and keys; only the ops\n"
    out ++= "marked `stream` are accepted, and not with the keys a mark excludes (a\n"
    out ++= "stream has no table catalog, fits no model and keeps no key order).\n"
    out ++= "`sink.output_mode` defaults to `update` under a tumbling or sliding\n"
    out ++= "window and to `append` otherwise.\n\n"
    out ++= s"`monitoring`: ${keysOf(StreamPipeline.monitoring)}\n\n"
    out ++= s"`attrition`: ${keysOf(StreamPipeline.attrition)}\n\n"
    Seq[(String, Binder)](
      "stream_source" -> StreamPipeline.source,
      "window" -> StreamPipeline.window,
      "sink" -> (StreamPipeline.sink(_, "<name>", "append"))).foreach { case (name, bind) =>
      out ++= s"### `$name` (`type:` dispatch)\n\n"
      out ++= section(bind, Map.empty, "type").mkString("\n") + "\n\n"
    }

    out ++= "## Model envelopes\n\n"
    out ++= "`semantic_gate` without `model_path` fits on `accepted_table` (never the\n"
    out ++= "incoming frame) and `save_model_path` keeps the model for batch replay\n"
    out ++= "and the stream; its size bounds (`max_reps`, `SemGate.MaxModelElems`)\n"
    out ++= "are in graft.vec.SemGate's scaladoc.\n"
    out.toString
  }

  def main(args: Array[String]): Unit = {
    val target = args.headOption.getOrElse("docs/OPS.md")
    Files.createDirectories(Paths.get(target).toAbsolutePath.getParent)
    Files.write(Paths.get(target), generate().getBytes("UTF-8"))
    println(s"wrote $target")
  }
}
