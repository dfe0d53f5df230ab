package graft.core

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The one typed reader over a YAML map: every op, source, sink and stream
  * piece reads its keys through it, so the keys a piece accepts, with their
  * types and defaults, are written once — in its binder. Getters take inline
  * defaults (`a.int("min_words", 50)`); `req`/`opt`, `oneOf`/`select` and
  * `require` (checks across keys) complete them. Every read is recorded and
  * [[done]] rejects the keys no read touched. Errors name the section
  * (`operations[3]`), the selected op (`text_processing/gopher_filter`) and
  * the key. [[Params.record]] runs a binder without YAML — getters return
  * defaults, nothing fails — and collects keys, defaults and selector
  * choices, from which graft.tools.OpsDoc renders docs/OPS.md.
  */
final class Params private (section: String, path: String, raw: Map[String, Any],
                            labels: mutable.ArrayBuffer[String], rec: Params.Recording) {
  import Params._

  private val seen = mutable.LinkedHashSet.empty[String]
  private val children = mutable.ArrayBuffer.empty[Params]

  private def where: String = {
    val s = if (section.isEmpty) "top level" else section
    if (labels.isEmpty) s else s"$s (${labels.mkString("/")})"
  }

  private def at(k: String): String = if (section.isEmpty) k else s"$section.$k"

  private def fail(msg: String): Nothing = throw new IllegalArgumentException(s"$where: $msg")

  /** The YAML map this reader wraps (empty while recording). */
  def values: Map[String, Any] = raw

  /** The choices [[select]] took so far, outermost first (`text_processing`,
    * `gopher_filter`): the label its errors carry. */
  def selected: Seq[String] = labels.toSeq

  /** Whether `k` is present (even as null) — not a read, so it never makes
    * `k` accepted. */
  def has(k: String): Boolean = raw.contains(k)

  /** One read: records `k` and returns its coerced value, None when absent
    * or null (and always while recording). */
  private def read[T](k: String, kind: String, dflt: Option[Any], required: Boolean)(
      coerce: PartialFunction[Any, T]): Option[T] = {
    seen += k
    if (rec != null) { rec.keys += Key(path + k, kind, dflt.map(render), Nil); None }
    else raw.get(k).filter(_ != null) match {
      case Some(v) => Some(coerce.applyOrElse(v, (_: Any) =>
        fail(s"key '$k': expected ${kindName(kind)}, got '$v'")))
      case None if required =>
        fail(s"missing required key '$k' (keys given: ${raw.keys.toSeq.sorted.mkString(", ")})")
      case None => None
    }
  }

  def str(k: String, d: String): String = read(k, "", Some(d), false)(asStr).getOrElse(d)
  def int(k: String, d: Int): Int = read(k, "int", Some(d), false)(asInt).getOrElse(d)
  def long(k: String, d: Long): Long = read(k, "int", Some(d), false)(asLong).getOrElse(d)
  def double(k: String, d: Double): Double = read(k, "number", Some(d), false)(asDouble).getOrElse(d)
  def bool(k: String, d: Boolean): Boolean = read(k, "bool", Some(d), false)(asBool).getOrElse(d)

  def opt(k: String): Option[String] = read(k, "", None, false)(asStr)
  def optInt(k: String): Option[Int] = read(k, "int", None, false)(asInt)
  def optDouble(k: String): Option[Double] = read(k, "number", None, false)(asDouble)

  def req(k: String): String = read(k, "", None, true)(asStr).getOrElse("")
  def reqInt(k: String): Int = read(k, "int", None, true)(asInt).getOrElse(0)
  def reqLong(k: String): Long = read(k, "int", None, true)(asLong).getOrElse(0L)
  def reqDouble(k: String): Double = read(k, "number", None, true)(asDouble).getOrElse(0.0)

  /** Every key not read so far, as strings, now accepted: the pass-through
    * tail of a mapping handed on unchecked (jdbc options go to Spark).
    * Recorded as the one key `<other>`. */
  def rest(): Map[String, String] =
    if (rec != null) { rec.keys += Key(path + "<other>", "", None, Nil); Map.empty }
    else raw.filterNot(kv => seen(kv._1)).map { case (k, v) => seen += k; k -> String.valueOf(v) }

  /** A list of scalars (a lone scalar is a one-element list); Nil when absent. */
  def list(k: String): Seq[String] = read(k, "[]", None, false)(asList(asStr)).getOrElse(Nil)
  def ints(k: String, d: Seq[Int] = Nil): Seq[Int] =
    read(k, "[]", if (d.isEmpty) None else Some(d.mkString(",")), false)(asList(asInt)).getOrElse(d)
  def longs(k: String): Seq[Long] = read(k, "[]", None, false)(asList(asLong)).getOrElse(Nil)
  def doubles(k: String): Seq[Double] = read(k, "[]", None, false)(asList(asDouble)).getOrElse(Nil)
  def bools(k: String): Seq[Boolean] = read(k, "[]", None, false)(asList(asBool)).getOrElse(Nil)

  /** Any YAML value, uncoerced (null when absent). */
  def any(k: String): Any = read(k, "", None, false) { case v => v }.orNull

  /** An ordered `{name: value}` mapping; Nil when absent. */
  def mapping(k: String): Seq[(String, Any)] = read(k, "{}", None, false)(asMap).getOrElse(Nil)

  /** `{column: fn | [fn, ...]}` aggregation pairs, in declaration order. */
  def pairs(k: String): Seq[(String, String)] = mapping(k).flatMap {
    case (c, fns: java.util.List[_]) => fns.asScala.map(f => c -> f.toString)
    case (c, f)                      => Seq(c -> f.toString)
  }

  /** A nested mapping read through its own reader (empty when absent). */
  def sub(k: String): Params =
    child(at(k), s"$path$k.", read(k, "{}", None, false)(asMap).getOrElse(Nil).toMap)

  /** `bind` over the nested mapping `k`, when the key is present. */
  def section[T](k: String)(bind: Params => T): Option[T] = {
    val s = sub(k)
    if (has(k)) Some(bind(s)) else None
  }

  /** The `params:` block of an op: same section, same accepted-key check. */
  def params: Params =
    child(section, path, read("params", "{}", None, false)(asMap).getOrElse(Nil).toMap, labels)

  /** A list of mappings, one reader each (one placeholder while recording). */
  def subs(k: String): Seq[Params] = {
    val ms = read(k, "[]", None, false)(asList(asMap)).getOrElse(if (rec != null) Seq(Nil) else Nil)
    ms.zipWithIndex.map { case (m, i) => child(at(s"$k[$i]"), s"$path$k[].", m.toMap) }
  }

  /** A `{name: {...}}` mapping, one reader per entry (one placeholder
    * named `<placeholder>` while recording). */
  def entries(k: String, placeholder: String): Seq[(String, Params)] =
    (if (rec != null) { mapping(k); Seq(s"<$placeholder>" -> new java.util.HashMap[String, Any]()) }
     else mapping(k)).map {
      case (n, m: java.util.Map[_, _]) => n -> child(at(s"$k.$n"), s"$path$k.<$placeholder>.", toMap(m).toMap)
      case (n, v) => fail(s"key '$k.$n': expected a mapping, got '$v'")
    }

  /** A nested reader; it inherits the labels selected so far (or shares
    * them, for an op's own `params:` block). */
  private def child(sec: String, p: String, m: Map[String, Any],
                    lbls: mutable.ArrayBuffer[String] = labels.clone()): Params = {
    val c = new Params(sec, p, m, lbls, rec)
    children += c
    c
  }

  /** One of `choices` (`d` when absent; required when `d` is null). */
  def oneOf(k: String, d: String, choices: String*): String =
    if (rec != null) {
      seen += k; rec.keys += Key(path + k, "", Option(d), choices); Option(d).getOrElse(choices.head)
    } else {
      val v = read(k, "", Option(d), d == null)(asStr).getOrElse(d)
      if (!choices.contains(v)) fail(s"key '$k': unknown value '$v' (accepted: ${choices.mkString(", ")})")
      v
    }

  /** Dispatch on `k`: the arm whose name is the key's value (`d` when
    * absent; required when `d` is null). The chosen name labels every later
    * error of this section; while recording, the arm is the one pinned for
    * this key, else the default, else the first. */
  def select[T](k: String, d: String = null)(arms: (String, T)*): T = {
    val names = arms.map(_._1)
    val v = if (rec == null) oneOf(k, d, names: _*) else {
      seen += k
      val chosen = rec.pinned.getOrElse(path + k, Option(d).getOrElse(names.head))
      rec.keys += Key(path + k, "", Option(d), Nil)
      rec.selectors += Selector(path + k, names, chosen, rec.keys.size - 1)
      chosen
    }
    labels += v
    arms.find(_._1 == v).get._2
  }

  /** A check across keys; never fails while recording. */
  def require(cond: Boolean, msg: => String): Unit =
    if (rec == null && !cond) fail(msg)

  /** Reject every key no binder read, here and in every nested reader. */
  def done(): Unit = if (rec == null) {
    raw.keys.filterNot(seen).toSeq.sorted.headOption.foreach { k =>
      fail(s"unknown key '$k' (accepted: ${seen.mkString(", ")})")
    }
    children.foreach(_.done())
  }
}

object Params {

  /** Bind `f` over a YAML mapping (`section` names it in errors) and reject
    * the keys it left unread. */
  def bind[T](section: String, node: Any)(f: Params => T): T = {
    val raw: Map[String, Any] = node match {
      case null                   => Map.empty
      case m: java.util.Map[_, _] => toMap(m).toMap
      case m: Map[_, _]           => m.map { case (k, v) => k.toString -> javaValue(v) }
      case v => throw new IllegalArgumentException(s"$section: expected a mapping, got '$v'")
    }
    val a = new Params(section, "", raw, mutable.ArrayBuffer.empty, null)
    val out = f(a)
    a.done()
    out
  }

  // ------------------------------------------------------------ recording

  /** A key as a binder read it: `path` is dotted from the binder's root,
    * `kind` is "" (scalar), "int", "number", "bool", "[]" or "{}". */
  final case class Key(path: String, kind: String, default: Option[String], choices: Seq[String])

  /** A `select` seen while recording: its choices, the one taken, and its
    * index among the keys. */
  final case class Selector(path: String, choices: Seq[String], chosen: String, at: Int)

  /** What a recording pass saw; `pinned` fixes selectors (path → choice). */
  final class Recording private[Params] (private[Params] val pinned: Map[String, String]) {
    val keys = mutable.ArrayBuffer.empty[Key]
    val selectors = mutable.ArrayBuffer.empty[Selector]
  }

  /** Run `bind` in recording mode with the given selectors pinned. */
  def record(pinned: Map[String, String] = Map.empty)(bind: Params => Any): Recording = {
    val rec = new Recording(pinned)
    bind(new Params("<recording>", "", Map.empty, mutable.ArrayBuffer.empty, rec))
    rec
  }

  // ------------------------------------------------------------- coercion

  private val kindName = Map("int" -> "an integer", "number" -> "a number", "bool" -> "true or false",
    "[]" -> "a list", "{}" -> "a mapping").withDefaultValue("a string")

  private def render(d: Any): String = d match {
    case null => "null"
    case s: Seq[_] => s.mkString(",")
    case v => v.toString
  }

  /** Scala collections (programmatic callers) as the java ones SnakeYAML yields. */
  private def javaValue(v: Any): Any = v match {
    case m: Map[_, _] =>
      val j = new java.util.LinkedHashMap[String, Any]()
      m.foreach { case (k, x) => j.put(k.toString, javaValue(x)) }
      j
    case s: Seq[_] => s.map(javaValue).asJava
    case x => x
  }

  private def toMap(m: java.util.Map[_, _]): Seq[(String, Any)] =
    m.asScala.toSeq.map { case (k, v) => String.valueOf(k) -> (v: Any) }
  private val asMap: PartialFunction[Any, Seq[(String, Any)]] = { case m: java.util.Map[_, _] => toMap(m) }

  private val asStr: PartialFunction[Any, String] = {
    case v @ (_: String | _: Number | _: java.lang.Boolean) => v.toString
  }

  private def decimal(v: Any): Option[BigDecimal] = v match {
    case _: Number | _: String => scala.util.Try(BigDecimal(v.toString.trim)).toOption
    case _                     => None
  }

  private val asInt: PartialFunction[Any, Int] =
    Function.unlift((v: Any) => decimal(v).flatMap(b => scala.util.Try(b.toIntExact).toOption))
  private val asLong: PartialFunction[Any, Long] =
    Function.unlift((v: Any) => decimal(v).flatMap(b => scala.util.Try(b.toLongExact).toOption))
  private val asDouble: PartialFunction[Any, Double] =
    Function.unlift((v: Any) => decimal(v).map(_.toDouble))
  private val asBool: PartialFunction[Any, Boolean] = {
    case b: java.lang.Boolean => b
    case s: String if s.equalsIgnoreCase("true") || s.equalsIgnoreCase("false") => s.toBoolean
  }

  /** A YAML list coerced element-wise; a lone scalar is a one-element list. */
  private def asList[T](elem: PartialFunction[Any, T]): PartialFunction[Any, Seq[T]] =
    Function.unlift {
      case l: java.util.List[_] =>
        val vs = l.asScala.toSeq.map(v => elem.lift(v))
        if (vs.forall(_.isDefined)) Some(vs.flatten) else None
      case v => elem.lift(v).map(Seq(_))
    }
}
