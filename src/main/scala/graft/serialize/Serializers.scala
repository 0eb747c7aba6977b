package graft.serialize

import org.apache.spark.sql.{DataFrame, Row}
import graft.tables.Json

/** Output serializers (SURVEY §2.8 C22-C24): canonical JSON, TOML with
  * empty-stripping, and RDF triple emission + Turtle text. All deterministic
  * pure functions of the Project row; the Spark shape is a typed map /
  * flatMap + explode (the Generator equivalent, C24).
  */
object Serializers {

  // ---- C22: canonical JSON (reference: serializer/util.py:18-37 — orjson
  // with sorted keys, 2-space indent, trailing newline) ----

  def canonicalJson(v: Json.Value): String = {
    val sb = new StringBuilder
    render(v, sb, 0)
    sb.append('\n')
    sb.toString
  }

  private def render(v: Json.Value, sb: StringBuilder, indent: Int): Unit = v match {
    case Json.JObj(fields) if fields.isEmpty => sb.append("{}")
    case Json.JObj(fields) =>
      sb.append("{\n")
      val sorted = fields.sortBy(_._1)
      sorted.zipWithIndex.foreach { case ((k, x), i) =>
        sb.append("  " * (indent + 1))
        Json.JStr(k).render(sb)
        sb.append(": ")
        render(x, sb, indent + 1)
        if (i < sorted.length - 1) sb.append(',')
        sb.append('\n')
      }
      sb.append("  " * indent).append('}')
    case Json.JArr(items) if items.isEmpty => sb.append("[]")
    case Json.JArr(items) =>
      sb.append("[\n")
      items.zipWithIndex.foreach { case (x, i) =>
        sb.append("  " * (indent + 1))
        render(x, sb, indent + 1)
        if (i < items.length - 1) sb.append(',')
        sb.append('\n')
      }
      sb.append("  " * indent).append(']')
    case other => other.render(sb)
  }

  // ---- C23: TOML emission with empty-stripping (reference:
  // serializer/toml_serializer.py:35-110 — recursive null/empty pruning) ----

  def stripEmpty(v: Json.Value): Option[Json.Value] = v match {
    case Json.JNull => None
    case Json.JStr("") => None
    case Json.JArr(items) =>
      val kept = items.flatMap(stripEmpty)
      if (kept.isEmpty) None else Some(Json.JArr(kept))
    case Json.JObj(fields) =>
      val kept = fields.flatMap { case (k, x) => stripEmpty(x).map(k -> _) }
      if (kept.isEmpty) None else Some(Json.JObj(kept))
    case other => Some(other)
  }

  def toToml(obj: Json.JObj): String = {
    val stripped = stripEmpty(obj).collect { case o: Json.JObj => o }
      .getOrElse(Json.JObj(Vector.empty))
    val sb = new StringBuilder
    // scalars and arrays first, tables after (TOML requirement)
    val (tables, scalars) = stripped.v.partition {
      case (_, _: Json.JObj) => true
      case (_, Json.JArr(items)) if items.nonEmpty &&
        items.forall(_.isInstanceOf[Json.JObj]) => true
      case _ => false
    }
    scalars.foreach { case (k, x) => sb.append(tomlKey(k)).append(" = ").append(tomlValue(x)).append('\n') }
    tables.foreach {
      case (k, o: Json.JObj) =>
        sb.append('\n').append('[').append(tomlKey(k)).append("]\n")
        o.v.foreach { case (k2, x2) =>
          sb.append(tomlKey(k2)).append(" = ").append(tomlValue(x2)).append('\n')
        }
      case (k, Json.JArr(items)) =>
        items.foreach { case o: Json.JObj =>
          sb.append('\n').append("[[").append(tomlKey(k)).append("]]\n")
          o.v.foreach { case (k2, x2) =>
            sb.append(tomlKey(k2)).append(" = ").append(tomlValue(x2)).append('\n')
          }
        }
      case _ => ()
    }
    sb.toString
  }

  private def tomlKey(k: String): String =
    if (k.matches("[A-Za-z0-9_-]+")) k else "\"" + k.replace("\"", "\\\"") + "\""

  private def tomlValue(v: Json.Value): String = v match {
    case Json.JStr(s) =>
      "\"" + s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case '\n' => "\\n"
        case '\t' => "\\t"
        case c => c.toString
      } + "\""
    case n: Json.JNum => n.raw
    case Json.JBool(b) => b.toString
    case Json.JArr(items) => items.map(tomlValue).mkString("[", ", ", "]")
    // nested objects (e.g. file structs inside [[part]] entries) render as
    // TOML inline tables
    case Json.JObj(fields) =>
      fields.map { case (k, x) => s"${tomlKey(k)} = ${tomlValue(x)}" }
        .mkString("{ ", ", ", " }")
    case other => "\"" + other.toString + "\""
  }

  // ---- C23 full breadth: normalized Project → OKH-manifest-shaped dict →
  // stripped TOML (reference toml_serializer.py:88-110: orjson(project,
  // SORT_KEYS) → dictionary_stripper → toml.dumps; the dict keys are the
  // Project dataclass field names, project.py:21-69) ----

  import graft.model._

  private def jsOpt(o: Option[String]): Json.Value = Json.s(o.orNull)
  private def jsArr(xs: Seq[String]): Json.Value =
    Json.JArr(xs.map(Json.s).toVector)
  private def jArr(xs: Seq[Json.Value]): Json.Value = Json.JArr(xs.toVector)

  /** Keys sorted (orjson OPT_SORT_KEYS). */
  private def fileJson(f: FileRef): Json.Value = Json.obj(
    "frozen_url" -> jsOpt(f.frozen_url),
    "mime_type" -> jsOpt(f.mime_type),
    "name" -> jsOpt(f.name),
    "path" -> jsOpt(f.path),
    "url" -> jsOpt(f.url))

  private def imageJson(img: ImageRef): Json.Value = Json.obj(
    // sets serialize sorted (serializer/util.py:19-26 orjson set mapper)
    "depicts" -> jArr(img.depicts.sortBy(d => (d.text, d.language)).map(d =>
      Json.obj("language" -> Json.s(d.language), "text" -> Json.s(d.text)))),
    "frozen_url" -> jsOpt(img.frozen_url),
    "mime_type" -> jsOpt(img.mime_type),
    "name" -> jsOpt(img.name),
    "path" -> jsOpt(img.path),
    "slots" -> jsArr(img.slots.sorted),
    "tags" -> jsArr(img.tags.sorted),
    "url" -> jsOpt(img.url))

  private def agentJson(a: AgentRow): Json.Value = Json.obj(
    "email" -> jsOpt(a.email),
    "iri" -> jsOpt(a.iri),
    "name" -> jsOpt(a.name),
    "url" -> jsOpt(a.url))

  private def dimsJson(d: OuterDims): Json.Value = Json.obj(
    "depth" -> d.depth.map(Json.d).getOrElse(Json.JNull),
    "height" -> d.height.map(Json.d).getOrElse(Json.JNull),
    "width" -> d.width.map(Json.d).getOrElse(Json.JNull))

  private def partJson(p: PartRow): Json.Value = Json.obj(
    "auxiliary" -> jArr(p.auxiliary.map(fileJson)),
    "export" -> jArr(p.export.map(fileJson)),
    "image" -> jArr(p.image.map(imageJson)),
    "manufacturing_instructions" -> jArr(p.manufacturing_instructions.map(fileJson)),
    "mass" -> p.mass.map(Json.d).getOrElse(Json.JNull),
    "material" -> jsOpt(p.material),
    "name" -> jsOpt(p.name),
    "name_clean" -> Json.s(p.name_clean),
    "outer_dimensions" -> p.outer_dimensions.map(dimsJson).getOrElse(Json.JNull),
    "source" -> jArr(p.source.map(fileJson)),
    "tsdc" -> jsOpt(p.tsdc))

  private def softwareJson(s: SoftwareRow): Json.Value = Json.obj(
    "documentation_language" -> jsArr(s.documentation_language),
    "installation_guide" -> s.installation_guide.map(fileJson).getOrElse(Json.JNull),
    "license" -> jsOpt(s.license_spdx),
    "licensor" -> jArr(s.licensor.map(agentJson)),
    "organization" -> jArr(s.organization.map(agentJson)),
    "release" -> Json.s(s.release))

  /** The normalized project as its manifest-shaped dict (sorted keys).
    * `license` carries the resolved SPDX id string where the reference
    * embeds the full LicenseCont record — the id is the record's key and
    * the only field the engine's model retains.
    */
  def projectJson(p: ProjectModel): Json.JObj = Json.obj(
    "attestation" -> jsArr(p.attestation),
    "auxiliary" -> jArr(p.auxiliary.map(fileJson)),
    "bom" -> jArr(p.bom.map(fileJson)),
    "contribution_guide" -> p.contribution_guide.map(fileJson).getOrElse(Json.JNull),
    "cpc_patent_class" -> jsOpt(p.cpc_patent_class),
    "documentation_language" -> jsArr(p.documentation_language),
    "documentation_readiness_level" -> jsOpt(p.drl),
    "export" -> jArr(p.export.map(fileJson)),
    // TODO-HACK parity (toml_serializer.py:99-101, thingiverse 682052):
    // a stripped function starting with \b drops the control char
    "function" -> jsOpt(p.function.map(f =>
      if (f.startsWith("\b")) f.substring(1) else f)),
    "image" -> jArr(p.image.map(imageJson)),
    "license" -> jsOpt(p.license_spdx),
    "licensor" -> jArr(p.licensor.map(agentJson)),
    "manufacturing_instructions" -> jArr(p.manufacturing_instructions.map(fileJson)),
    "mass" -> p.mass.map(Json.d).getOrElse(Json.JNull),
    "name" -> Json.s(p.name),
    "organization" -> jArr(p.organization.map(agentJson)),
    "outer_dimensions" -> p.outer_dimensions.map(dimsJson).getOrElse(Json.JNull),
    "part" -> jArr(p.part.map(partJson)),
    "publication" -> jsArr(p.publication),
    "readme" -> jArr(p.readme.map(fileJson)),
    "release" -> jsOpt(p.release),
    "repo" -> Json.s(p.repo),
    "software" -> jArr(p.software.map(softwareJson)),
    "source" -> jArr(p.source.map(fileJson)),
    "standard_compliance" -> jsArr(p.standard_compliance),
    "technology_readiness_level" -> jsOpt(p.trl),
    "tsdc" -> jsOpt(p.tsdc),
    "user_manual" -> jArr(p.user_manual.map(fileJson)),
    "version" -> jsOpt(p.version))
    // normalized_toml itself is None at serialization time and stripped

  /** The normalized-manifest TOML the reference stores on
    * `project.normalized_toml` and deflates into the toml graph
    * (fetcher/factory.py:49-59 → toml_serializer.py:88-110).
    */
  def projectToToml(p: ProjectModel): String = toToml(projectJson(p))

  // ---- C24: RDF triple emission + Turtle (reference:
  // serializer/rdf_serializer.py:42-70 namespaces, 117-203 dataset,
  // 620-686 module, 699-759 files) ----

  final case class Triple(s: String, p: String, o: String, isLiteral: Boolean)

  val Namespaces: Seq[(String, String)] = Seq(
    "okh" -> "https://w3id.org/oseg/ont/okh#",
    "otrl" -> "https://w3id.org/oseg/ont/otrl#",
    "spdxl" -> "https://spdx.org/licenses/",
    "rdfs" -> "http://www.w3.org/2000/01/rdf-schema#")

  private def lit(v: String): String =
    "\"" + v.replace("\\", "\\\\").replace("\"", "\\\"").replace("\n", "\\n") + "\""

  /** One Project row → its triple set (deterministic order). Row fields are
    * the Normalizers output schema.
    */
  def projectTriples(r: Row): Seq[Triple] = {
    def str(name: String): Option[String] =
      if (r.schema.fieldNames.contains(name) && !r.isNullAt(r.fieldIndex(name)))
        Some(r.getString(r.fieldIndex(name)))
      else None
    val subject = s"<urn:okh:${str("project_id").getOrElse("unknown")}>"
    val base = Seq(
      Some(Triple(subject, "a", "okh:Module", isLiteral = false)),
      str("name").map(v => Triple(subject, "okh:name", lit(v), isLiteral = true)),
      str("repo").map(v => Triple(subject, "okh:repo", s"<$v>", isLiteral = false)),
      str("version").map(v => Triple(subject, "okh:version", lit(v), isLiteral = true)),
      str("license_spdx").map(v =>
        Triple(subject, "okh:spdxLicense", s"spdxl:$v", isLiteral = false)),
      str("function").map(v => Triple(subject, "okh:function", lit(v), isLiteral = true)),
      str("trl").map(v => Triple(subject, "okh:technologyReadinessLevel",
        s"otrl:$v", isLiteral = false)),
      str("drl").map(v => Triple(subject, "okh:documentationReadinessLevel",
        s"otrl:$v", isLiteral = false)),
      str("cpc_patent_class").map(v =>
        Triple(subject, "okh:cpcPatentClass", lit(v), isLiteral = true))).flatten

    def arrOf(name: String): Seq[Row] =
      if (r.schema.fieldNames.contains(name) && !r.isNullAt(r.fieldIndex(name)))
        r.getSeq[Row](r.fieldIndex(name))
      else Seq.empty
    val licensors = arrOf("licensor").zipWithIndex.flatMap { case (a, i) =>
      val node = s"<urn:okh:${str("project_id").getOrElse("unknown")}:licensor:$i>"
      Seq(Triple(subject, "okh:licensor", node, isLiteral = false)) ++
        Option(a.getAs[String]("name")).map(v =>
          Triple(node, "rdfs:label", lit(v), isLiteral = true))
    }
    val images = arrOf("image").flatMap { img =>
      Option(img.getAs[String]("url")).map(u =>
        Triple(subject, "okh:image", s"<$u>", isLiteral = false))
    }
    val sources = arrOf("source").flatMap { f =>
      Option(f.getAs[String]("url")).map(u =>
        Triple(subject, "okh:source", s"<$u>", isLiteral = false))
    }
    val exports = arrOf("export").flatMap { f =>
      Option(f.getAs[String]("url")).map(u =>
        Triple(subject, "okh:export", s"<$u>", isLiteral = false))
    }
    base ++ licensors ++ images ++ sources ++ exports
  }

  /** Project rows → exploded triple table (the C24 generator as flatMap). */
  def triples(projects: DataFrame): DataFrame = {
    import projects.sparkSession.implicits._
    projects.flatMap(projectTriples _).toDF()
  }

  /** Deterministic Turtle text for one project's triples. */
  def turtle(ts: Seq[Triple]): String = {
    val sb = new StringBuilder
    Namespaces.foreach { case (p, iri) => sb.append(s"@prefix $p: <$iri> .\n") }
    sb.append('\n')
    ts.foreach { t => sb.append(s"${t.s} ${t.p} ${t.o} .\n") }
    sb.toString
  }
}
