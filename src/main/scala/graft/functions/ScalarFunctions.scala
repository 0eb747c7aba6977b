package graft.functions

import java.net.{URLDecoder, URLEncoder}
import java.nio.charset.StandardCharsets
import java.text.Normalizer
import java.time.{Instant, LocalDateTime, OffsetDateTime, ZoneOffset}
import java.util.Base64
import java.util.zip.Deflater
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Scalar functions of the normalize stage (SURVEY §2.8). Where a builtin
  * chain expresses the semantics it is used directly (codegen'd); the rest
  * are pure Scala functions exposed as UDFs, each citing the reference rule
  * it reproduces.
  */
object ScalarFunctions {

  // ---- C5: slugify (reference: krawl/util.py:31-45) ----
  def slugify(value: String): String = {
    if (value == null) return null
    // (?U): Unicode word chars, matching Python's re.UNICODE default
    val nfkc = Normalizer.normalize(value, Normalizer.Form.NFKC).toLowerCase
    val stripped = nfkc.replaceAll("(?U)[^\\w\\s-]", "")
    stripped.replaceAll("(?U)[-\\s]+", "-")
      .replaceAll("^[-_]+|[-_]+$", "")
  }

  /** C5 as a pure builtin-Column chain (codegen'd; ASCII subset —
    * `slugify` handles the full NFKC form).
    */
  def slugifyCol(c: Column): Column =
    regexp_replace(
      regexp_replace(regexp_replace(lower(c), "[^\\w\\s-]", ""), "[-\\s]+", "-"),
      "^[-_]+|[-_]+$", "")

  // ---- C9: datetime parse (reference: dict_utils.py:68-86) ----
  /** ISO-8601 first; the reference's sentinel `-001-11-30…` → 1971-01-01;
    * fallback `%Y-%m-%dT%H:%M:%S%z`; epoch ints handled by caller columns.
    * Returns epoch micros (UTC) for columnar determinism.
    */
  def strToEpochMicros(s: String): Option[Long] = {
    if (s == null || s.isEmpty) return None
    if (s == "-001-11-30T00:00:00+00:00")
      return Some(LocalDateTime.of(1971, 1, 1, 0, 0).toInstant(ZoneOffset.UTC).toEpochMilli * 1000L)
    def micros(i: Instant): Long = i.getEpochSecond * 1000000L + i.getNano / 1000L
    try Some(micros(OffsetDateTime.parse(s).toInstant))
    catch {
      case _: Exception =>
        try Some(micros(LocalDateTime.parse(s).toInstant(ZoneOffset.UTC)))
        catch { case _: Exception => None }
    }
  }
  val strToTimestampUdf = udf { s: String =>
    strToEpochMicros(s).map(us => new java.sql.Timestamp(us / 1000L))
  }

  // ---- C11: OpenSCAD outer dimensions (reference: outer_dimensions.py:13-15,69-107) ----
  final case class DimsMm(width: Double, height: Double, depth: Double)
  private val cubeRe =
    """cube\(size=\[([0-9]*(?:\.[0-9]*)?),([0-9]*(?:\.[0-9]*)?),([0-9]*(?:\.[0-9]*)?)\]\)""".r
  private val cylinderRe =
    """cylinder\(h=([0-9]*(?:\.[0-9]*)?),r=([0-9]*(?:\.[0-9]*)?)\)""".r

  def openScadDims(openscad: String, unit: String): Option[DimsMm] = {
    if (openscad == null || unit == null) return None
    val shape = openscad.replace(" ", "").replace("\t", "")
    val base = cubeRe.findPrefixMatchOf(shape) match {
      case Some(m) => Some(DimsMm(m.group(1).toDouble, m.group(2).toDouble, m.group(3).toDouble))
      case None => cylinderRe.findPrefixMatchOf(shape).map { m =>
        val h = m.group(1).toDouble; val r = m.group(2).toDouble
        DimsMm(r, h, r) // width = depth = radius (outer_dimensions.py:82-86)
      }
    }
    val mult = unit.toLowerCase match {
      case "mm" | "millimeter" => Some(1.0)
      case "cm" | "centimeter" => Some(10.0)
      case "m" | "meter"       => Some(1000.0)
      case _                   => None
    }
    for (b <- base; m <- mult) yield DimsMm(b.width * m, b.height * m, b.depth * m)
  }
  val openScadDimsUdf = udf(openScadDims _)

  // ---- C12: SPDX expression split (reference: licenses.py:229-256) ----
  /** Flattens AND/OR; returns the license tokens in expression order.
    * Invalid grammar → empty (the reference raises ValueError; we keep
    * errors as data). Reference quirk reproduced faithfully: after `WITH`,
    * `last_license` is NOT cleared (licenses.py:238-241), so the exception
    * token that follows hits the invalid-grammar branch — `A WITH E` fails
    * in the reference despite the docstring claiming exceptions are skipped.
    */
  def spdxSplit(expr: String): Seq[String] = {
    if (expr == null || expr.trim.isEmpty) return Seq.empty
    val parts = expr.trim.split("\\s+").toSeq
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var lastWasLicense = false
    var expectingException = false
    for (p <- parts) {
      if (lastWasLicense) {
        p match {
          case "AND" | "OR" => lastWasLicense = false
          case "WITH"       => expectingException = true // last stays set (ref bug)
          case _            => return Seq.empty // invalid expression
        }
      } else if (expectingException) {
        expectingException = false // dead in practice, kept for parity
      } else {
        out += p
        lastWasLicense = true
      }
    }
    out.toSeq
  }
  val spdxSplitUdf = udf(spdxSplit _)

  // ---- C21: person-string parse (reference: normalizer/manifest.py:41,366-381) ----
  final case class PersonParts(name: String, org: String, email: String)
  private val userRe = """([^\[\(<]+)(?:\(([^\)]*)\))?(?:<([^>]*)>)?""".r

  def parsePerson(user: String): PersonParts = {
    if (user == null) return PersonParts(null, null, null)
    userRe.findPrefixMatchOf(user.trim) match {
      case Some(m) =>
        PersonParts(
          Option(m.group(1)).map(_.trim).orNull,
          Option(m.group(2)).map(_.trim).orNull,
          Option(m.group(3)).map(_.trim).orNull)
      case None => PersonParts(user, null, null)
    }
  }
  val parsePersonUdf = udf(parsePerson _)

  // ---- C17: zlib-deflate + base64 (reference: rdf_serializer.py:827-832) ----
  // one zlib state per thread, reset to a fresh stream per call (identical
  // bytes): per-row deflateInit (~256 KB native) dominated C17 (guide §4.5).
  // Never end()ed: Spark task threads form a bounded, reused pool, so at
  // most one zlib state lives per pool thread; the JDK's Deflater cleaner
  // frees it once that thread is collected.
  private val threadDeflater = new ThreadLocal[Deflater] {
    override def initialValue(): Deflater = new Deflater(9)
  }

  def deflateB64(s: String): String = {
    if (s == null) return null
    val input = s.getBytes(StandardCharsets.UTF_8)
    val deflater = threadDeflater.get()
    deflater.reset()
    deflater.setInput(input)
    deflater.finish()
    val buf = new Array[Byte](math.max(64, input.length + 64))
    val out = new java.io.ByteArrayOutputStream()
    while (!deflater.finished()) {
      val n = deflater.deflate(buf)
      out.write(buf, 0, n)
    }
    Base64.getEncoder.encodeToString(out.toByteArray)
  }
  def inflateB64(s: String): String = {
    val bytes = Base64.getDecoder.decode(s)
    val inflater = new java.util.zip.Inflater()
    inflater.setInput(bytes)
    val buf = new Array[Byte](4096)
    val out = new java.io.ByteArrayOutputStream()
    while (!inflater.finished()) {
      val n = inflater.inflate(buf)
      if (n == 0 && inflater.needsInput()) throw new IllegalArgumentException("truncated deflate")
      out.write(buf, 0, n)
    }
    inflater.end()
    new String(out.toByteArray, StandardCharsets.UTF_8)
  }

  // ---- C4: url encode/decode (reference: util.py:75-80) ----
  def urlEncode(s: String): String =
    if (s == null) null else URLEncoder.encode(s, StandardCharsets.UTF_8)
  def urlDecode(s: String): String =
    if (s == null) null else URLDecoder.decode(s, StandardCharsets.UTF_8)

  // ---- C18: DOI / web-URL predicates (reference: serializer/util.py:15,
  // 40-47) ----
  private val DoiRe =
    "^(doi: |DOI: |https://doi\\.org/)?10\\.\\d{4,9}/[-._;()/:a-zA-Z0-9]+$".r
  def isDoi(s: String): Boolean = s != null && DoiRe.matches(s)
  def isWebUrl(s: String): Boolean =
    graft.model.UrlCanonicalizer.isValidUrl(s)

  // ---- C19: validation regexes (reference: validator/__init__.py:16-26) ----
  val SemverPattern = "^(0|[1-9]\\d*)\\.(0|[1-9]\\d*)\\.(0|[1-9]\\d*)(?:-[0-9A-Za-z-.]+)?(?:\\+[0-9A-Za-z-.]+)?$"
  val Sha1Pattern = "^[A-Fa-f0-9]{40}$"
  // (no okhv regex: is_okh_version is an exact two-member set,
  // validator/__init__.py + strict.py:28-31 — a pattern could only widen it)
  val Bcp47Pattern = "^[a-zA-Z]{2,3}(-[a-zA-Z0-9]{2,8})*$"

  // ---- C10/J5: extension → (type, category) dimension ----
  /** Representative slice of the reference's file-format dimension
    * (krawl/assets/file_extensions directory; loader file_formats.py:29-60)
    * — the loading/join mechanism is what the engine provides; the dimension
    * data is swappable. category ∈ {source, export, null}.
    */
  val fileFormats: Seq[(String, String, String)] = Seq(
    // (extension, type, category)
    ("stl", "cad", "export"), ("3mf", "cad", "export"), ("amf", "cad", "export"),
    ("step", "cad", "source"), ("stp", "cad", "source"), ("scad", "cad", "source"),
    ("fcstd", "cad", "source"), ("dxf", "cad", "source"), ("dwg", "cad", "source"),
    ("iges", "cad", "export"), ("igs", "cad", "export"), ("obj", "cad", "export"),
    ("kicad_pcb", "pcb", "source"), ("brd", "pcb", "source"), ("sch", "pcb", "source"),
    ("gbr", "pcb", "export"),
    ("py", "code", null), ("c", "code", null), ("scala", "code", null),
    ("png", "image", null), ("jpg", "image", null), ("gif", "image", null),
    ("md", "text", null), ("txt", "text", null), ("csv", "sheet", null))

  /** S14: the dimension is LOADED from an asset file with spark.read
    * (file_formats.py:29-60 loads krawl/assets/file_extensions); the Seq
    * above stays as the row-level constant and a spec pins csv == Seq.
    */
  def fileFormatsDf(spark: org.apache.spark.sql.SparkSession) =
    spark.read.option("header", "true")
      .csv(graft.model.LicenseDim.assetPath("file_extensions.csv"))

  /** C10: mime-type guess from extension (reference: model/file.py:48-60
    * uses Python mimetypes; we carry the common table).
    */
  val mimeTypes: Map[String, String] = Map(
    "stl" -> "model/stl", "png" -> "image/png", "jpg" -> "image/jpeg",
    "jpeg" -> "image/jpeg", "gif" -> "image/gif", "bmp" -> "image/bmp",
    "md" -> "text/markdown", "txt" -> "text/plain", "csv" -> "text/csv",
    "json" -> "application/json", "toml" -> "application/toml",
    "yml" -> "application/yaml", "yaml" -> "application/yaml",
    "pdf" -> "application/pdf", "zip" -> "application/zip")
  def mimeTypesDf(spark: org.apache.spark.sql.SparkSession) =
    spark.read.option("header", "true")
      .csv(graft.model.LicenseDim.assetPath("mime_types.csv"))
}
