package graft.formats

import scala.collection.mutable
import graft.tables.Json

/** Minimal YAML parser (C15 — the reference parses OKH v1 manifests with
  * PyYAML, manifest.py:76-78). Subset used by those manifests: nested
  * mappings via 2-space indentation, block lists (`- ` items, scalar or
  * mapping), quoted/unquoted scalars, inline `[a, b]` lists, comments.
  * Anchors/multi-doc/flow-mappings are out of scope (declared boundary,
  * matching SURVEY §2.8 C15's fixture-scope parser note).
  */
object Yaml {

  private final case class Line(indent: Int, content: String)

  def parse(input: String): Json.Value = {
    val lines = input.split("\n").toIndexedSeq
      .map { raw =>
        val noComment = stripComment(raw)
        Line(raw.takeWhile(_ == ' ').length, noComment.trim)
      }
      .filter(_.content.nonEmpty)
    val (value, rest) = parseBlock(lines, 0, 0)
    if (rest < lines.length)
      throw new IllegalArgumentException(s"trailing content at line ${rest}")
    value
  }

  def toJsonString(input: String): String = parse(input).toString

  private def stripComment(line: String): String = {
    var inS = false; var inD = false
    var i = 0
    while (i < line.length) {
      val c = line.charAt(i)
      if (c == '\'' && !inD) inS = !inS
      else if (c == '"' && !inS) inD = !inD
      else if (c == '#' && !inS && !inD && (i == 0 || line.charAt(i - 1) == ' '))
        return line.substring(0, i)
      i += 1
    }
    line
  }

  /** Parse the block starting at `idx` whose items are indented `indent`. */
  private def parseBlock(lines: IndexedSeq[Line], idx: Int, indent: Int): (Json.Value, Int) = {
    if (idx >= lines.length) return (Json.JNull, idx)
    if (lines(idx).content.startsWith("- ") || lines(idx).content == "-")
      parseList(lines, idx, indent)
    else parseMap(lines, idx, indent)
  }

  private def parseList(lines: IndexedSeq[Line], start: Int, indent: Int): (Json.Value, Int) = {
    val items = mutable.ArrayBuffer.empty[Json.Value]
    var i = start
    while (i < lines.length && lines(i).indent == indent &&
        (lines(i).content.startsWith("- ") || lines(i).content == "-")) {
      val after = lines(i).content.drop(1).trim
      if (after.isEmpty) {
        val (v, next) = parseBlock(lines, i + 1, nextIndent(lines, i + 1, indent))
        items += v; i = next
      } else if (after.contains(": ") || after.endsWith(":")) {
        // inline first key of a mapping item: re-parse as map at virtual indent
        val virtualIndent = lines(i).indent + 2
        val patched = lines.updated(i, Line(virtualIndent, after))
        val (v, next) = parseMap(patched, i, virtualIndent)
        items += v; i = next
      } else {
        items += scalar(after); i += 1
      }
    }
    (Json.JArr(items.toVector), i)
  }

  private def parseMap(lines: IndexedSeq[Line], start: Int, indent: Int): (Json.Value, Int) = {
    val fields = mutable.ArrayBuffer.empty[(String, Json.Value)]
    var i = start
    while (i < lines.length && lines(i).indent == indent &&
        !lines(i).content.startsWith("- ")) {
      val content = lines(i).content
      val colon = indexOfColon(content)
      if (colon < 0) throw new IllegalArgumentException(s"bad YAML mapping line: $content")
      val key = unquote(content.substring(0, colon).trim)
      val rest = content.substring(colon + 1).trim
      if (rest.nonEmpty) {
        fields += ((key, scalar(rest)))
        i += 1
      } else {
        // nested block (map or list) — lists may sit at the SAME indent
        val childIdx = i + 1
        if (childIdx < lines.length &&
            (lines(childIdx).indent > indent ||
              (lines(childIdx).indent == indent &&
                lines(childIdx).content.startsWith("- ")))) {
          val childIndent = lines(childIdx).indent
          val (v, next) = parseBlock(lines, childIdx, childIndent)
          fields += ((key, v)); i = next
        } else {
          fields += ((key, Json.JNull)); i += 1
        }
      }
    }
    (Json.JObj(fields.toVector), i)
  }

  private def nextIndent(lines: IndexedSeq[Line], idx: Int, fallback: Int): Int =
    if (idx < lines.length) lines(idx).indent else fallback

  private def indexOfColon(s: String): Int = {
    var inS = false; var inD = false
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\'' && !inD) inS = !inS
      else if (c == '"' && !inS) inD = !inD
      else if (c == ':' && !inS && !inD &&
          (i == s.length - 1 || s.charAt(i + 1) == ' ')) return i
      i += 1
    }
    -1
  }

  private def unquote(s: String): String =
    if (s.length >= 2 && ((s.head == '"' && s.last == '"') || (s.head == '\'' && s.last == '\'')))
      s.substring(1, s.length - 1)
    else s

  private[formats] def scalar(s: String): Json.Value = {
    val t = s.trim
    if (t.startsWith("\"") && t.endsWith("\"") && t.length >= 2)
      Json.JStr(t.substring(1, t.length - 1))
    else if (t.startsWith("'") && t.endsWith("'") && t.length >= 2)
      Json.JStr(t.substring(1, t.length - 1))
    else if (t.startsWith("[")) {
      val inner = t.substring(1, t.length - 1).trim
      if (inner.isEmpty) Json.JArr(Vector.empty)
      else Json.JArr(inner.split(",").toVector.map(x => scalar(x.trim)))
    } else if (t == "null" || t == "~") Json.JNull
    else if (t == "true" || t == "True") Json.JBool(true)
    else if (t == "false" || t == "False") Json.JBool(false)
    else if (IntPattern.matcher(t).matches()) Json.n(t.toLong)
    else if (FloatPattern.matcher(t).matches()) Json.d(t.toDouble)
    else Json.JStr(t)
  }

  // precompiled: String.matches re-compiles its pattern per call, and
  // scalar() runs once per YAML value of every manifest on the hot path
  private val IntPattern = java.util.regex.Pattern.compile("[+-]?[0-9]+")
  private val FloatPattern =
    java.util.regex.Pattern.compile("[+-]?[0-9]*\\.[0-9]+([eE][+-]?[0-9]+)?")
}
