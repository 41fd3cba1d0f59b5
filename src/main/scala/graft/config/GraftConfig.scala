package graft.config

/** Minimal YAML-subset parser — the sandbox allows no extra dependencies,
  * and the config surface (musiF's `config_extraction_example.yml`) only
  * needs: `key: value` maps, 2-space-indent nesting, inline `[a, b]` lists,
  * `- item` block lists, quoted/unquoted scalars, `#` comments. NOT a
  * general YAML parser (no anchors, multi-line strings, flow maps) — the
  * subset is validated by ConfigSpec.
  */
object MiniYaml {

  private def scalar(raw: String): Any = {
    val s = raw.trim
    if (s.startsWith("\"") && s.endsWith("\"") && s.length >= 2) s.substring(1, s.length - 1)
    else if (s.startsWith("'") && s.endsWith("'") && s.length >= 2) s.substring(1, s.length - 1)
    else if (s == "true") true
    else if (s == "false") false
    else if (s == "null" || s.isEmpty) null
    else s.toLongOption.getOrElse(s.toDoubleOption.getOrElse(s): Any)
  }

  private def stripComment(line: String): String = {
    // naive but sufficient: '#' starts a comment unless inside quotes
    var inS = false; var inD = false
    val b = new StringBuilder
    for (c <- line) {
      if (c == '\'' && !inD) inS = !inS
      if (c == '"' && !inS) inD = !inD
      if (c == '#' && !inS && !inD) return b.toString
      b += c
    }
    b.toString
  }

  def parse(text: String): Map[String, Any] = {
    val lines = text.linesIterator
      .map(stripComment)
      .zipWithIndex
      .filter(_._1.trim.nonEmpty)
      .map { case (l, i) => (l.takeWhile(_ == ' ').length, l.trim, i) }
      .toVector

    // recursive descent over the indent structure
    def parseBlock(from: Int, indent: Int): (Any, Int) = {
      if (from >= lines.size) return (Map.empty[String, Any], from)
      val (ind, txt, _) = lines(from)
      if (ind < indent) return (Map.empty[String, Any], from)
      if (txt.startsWith("- ") || txt == "-") {
        // block list of scalars
        var i = from
        val items = scala.collection.mutable.ArrayBuffer[Any]()
        while (i < lines.size && lines(i)._1 == ind && lines(i)._2.startsWith("-")) {
          items += scalar(lines(i)._2.drop(1))
          i += 1
        }
        (items.toSeq, i)
      } else {
        var i = from
        val m = scala.collection.mutable.LinkedHashMap[String, Any]()
        while (i < lines.size && lines(i)._1 == ind && !lines(i)._2.startsWith("-")) {
          val (_, t, lineNo) = lines(i)
          val sep = t.indexOf(':')
          require(sep > 0, s"yaml line ${lineNo + 1}: expected 'key: value', got '$t'")
          val k = t.substring(0, sep).trim
          val v = t.substring(sep + 1).trim
          if (v.isEmpty) {
            val (child, next) = parseBlock(i + 1, ind + 1)
            // a bare `key:` with no indented children is a NULL scalar, not
            // an empty map — otherwise cfg.str(key) stringifies Map() and a
            // missing `input:` runs with the literal path "Map()"
            m(k) = child match {
              case cm: Map[_, _] if cm.isEmpty && next == i + 1 => null
              case other                                        => other
            }
            i = next
          } else if (v.startsWith("[") && v.endsWith("]")) {
            val inner = v.substring(1, v.length - 1).trim
            m(k) = if (inner.isEmpty) Seq.empty[Any]
                   else inner.split(",").map(scalar(_)).toSeq
            i += 1
          } else {
            m(k) = scalar(v)
            i += 1
          }
        }
        (m.toMap, i)
      }
    }
    // top-level: indent of the first line
    val topIndent = if (lines.isEmpty) 0 else lines.head._1
    parseBlock(0, topIndent)._1 match {
      case m: Map[_, _] => m.asInstanceOf[Map[String, Any]]
      case other => throw new IllegalArgumentException(s"top-level yaml must be a map, got $other")
    }
  }

  /** Deep merge: values in `over` win; nested maps merge recursively —
    * musiF's fallback semantics (`config.py:96-158`: defaults ← file ←
    * overrides, field by field).
    */
  def merge(base: Map[String, Any], over: Map[String, Any]): Map[String, Any] =
    (base.keySet ++ over.keySet).map { k =>
      k -> ((base.get(k), over.get(k)) match {
        case (Some(b: Map[_, _]), Some(o: Map[_, _])) =>
          merge(b.asInstanceOf[Map[String, Any]], o.asInstanceOf[Map[String, Any]])
        case (_, Some(o)) => o
        case (Some(b), _) => b
        case _            => null
      })
    }.toMap
}

/** Typed view over the merged config tree. Paths are dotted. */
final case class GraftConfig(tree: Map[String, Any]) {
  private def at(path: String): Option[Any] = {
    path.split('.').foldLeft(Option(tree: Any)) {
      case (Some(m: Map[_, _]), k) => m.asInstanceOf[Map[String, Any]].get(k)
      case _                       => None
    }.filter(_ != null)
  }
  def str(path: String): Option[String] = at(path).map(_.toString)
  def int(path: String, dflt: Int): Int = at(path).map(_.toString.toInt).getOrElse(dflt)
  def long(path: String, dflt: Long): Long = at(path).map(_.toString.toLong).getOrElse(dflt)
  def dbl(path: String): Option[Double] = at(path).map(_.toString.toDouble)
  def bool(path: String, dflt: Boolean): Boolean =
    at(path).map(_.toString.toBoolean).getOrElse(dflt)
  def list(path: String): Seq[String] = at(path) match {
    case Some(s: Seq[_]) => s.map(_.toString)
    case Some(one)       => Seq(one.toString)
    case None            => Nil
  }
}

object GraftConfig {
  /** Engine defaults — the base layer of the merge ladder. */
  val defaults: Map[String, Any] = Map(
    "mode" -> "conversation", // conversation | windowed
    "format" -> "parquet",    // parquet | csv
    "window" -> Map("size" -> 8L, "overlap" -> 2L),
    "session_gap_seconds" -> 86400L,
    "shards" -> 1L,
    "post" -> Map("reference_names" -> false)
  )

  /** defaults ← file ← overrides (later layers win, deep-merged). */
  def fromLayers(layers: Map[String, Any]*): GraftConfig =
    GraftConfig(layers.foldLeft(defaults)(MiniYaml.merge))

  /** Parse `k=v` CLI overrides (`k` dotted) into a nested tree. */
  def overridesFromArgs(kvs: Seq[String]): Map[String, Any] =
    kvs.foldLeft(Map.empty[String, Any]) { (acc, kv) =>
      val Array(k, v) = kv.split("=", 2)
      val leaf: Any =
        if (v.startsWith("[") && v.endsWith("]"))
          v.substring(1, v.length - 1).split(",").map(_.trim).filter(_.nonEmpty).toSeq
        else v.toLongOption.getOrElse(v.toDoubleOption.getOrElse(
          if (v == "true") true else if (v == "false") false else v: Any))
      val nested = k.split('.').foldRight(leaf)((seg, inner) => Map(seg -> inner))
      MiniYaml.merge(acc, nested.asInstanceOf[Map[String, Any]])
    }
}
