package graft.normalize

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.{ScalarFunctions, TextNormalize}
import graft.model.Predicates

/** Per-platform normalizers (P9, SURVEY §2.2): raw API/manifest payloads →
  * the unified Project row. Each is a declarative DataFrame transform over a
  * `json` string column — `from_json` with an explicit schema (C13), license
  * dimension broadcast joins (J4/P6), file-category joins (J5/P7),
  * first-wins image dedup (A5/W2), HTML strip + encoding fix (C6/C8).
  *
  * Output schema (the Project columns all platforms share):
  * (project_id, name, repo, version, license_spdx, licensor:array<struct>,
  *  function, trl, drl, cpc_patent_class, image:array<struct<name,url>>,
  *  source:array<struct<name,url>>, export:array<struct<name,url>>)
  */
object Normalizers {

  // ---- shared wide-tail column types (reference: model/project.py:21-69;
  // every platform emits the FULL Project schema — fields the platform
  // cannot know are typed nulls/empties, exactly like the reference's
  // dataclass defaults) ----

  val fileType = "struct<name:string,path:string,url:string>"
  /** depicts is a LangStr list (`"text"@language` in RDF; language_string.py:
    * 12-20) — manifest entries may be plain strings (→ language 'en') or
    * {text, language} dicts (manifest.py:284-305).
    */
  val langStrType = "struct<text:string,language:string>"
  val imageType = "struct<name:string,path:string,url:string," +
    s"slots:array<string>,tags:array<string>,depicts:array<$langStrType>>"
  /** The pre-resolution parse shape of a dict image entry: depicts as the
    * raw array<string> view so string-or-dict elements resolve per-element.
    */
  private val imageParseType = "struct<name:string,path:string,url:string," +
    "slots:array<string>,tags:array<string>,depicts:array<string>>"
  val agentType = "struct<name:string,email:string,url:string>"
  val dimsType = "struct<width:double,height:double,depth:double>"
  val partType = s"struct<name:string,name_clean:string," +
    s"image:array<$fileType>,source:array<$fileType>,export:array<$fileType>," +
    s"auxiliary:array<$fileType>,material:string,mass:double," +
    s"outer_dimensions:$dimsType,tsdc:string>"
  val softwareType = s"struct<release:string,installation_guide:$fileType," +
    s"documentation_language:array<string>," +
    s"license_spdx:string,licensor:array<$agentType>>"

  private def emptyFiles = array().cast(s"array<$fileType>")
  private def emptyAgents = array().cast(s"array<$agentType>")
  private def emptyStrs = array().cast("array<string>")

  /** A path-or-URL string → File struct (reference files_info.file:
    * http(s) → url, anything else → repo-relative path).
    */
  private def fileFromString(c: Column): Column =
    when(c.isNull, lit(null).cast(fileType)).otherwise(struct(
      lit(null).cast("string").as("name"),
      when(c.startsWith("http"), lit(null).cast("string")).otherwise(c).as("path"),
      when(c.startsWith("http"), c).otherwise(lit(null).cast("string")).as("url")))

  private def fileArrayFromString(c: Column): Column =
    when(c.isNull, emptyFiles).otherwise(array(fileFromString(c)))

  /** documentation-language from the description when the platform API has
    * no explicit field (thingiverse.py:79, oshwa.py:88).
    */
  private def docLangFromDescription(c: Column): Column = {
    val lang = graft.operators.TextOps.langIdCol(c)
    when(c.isNull || lang === "und", emptyStrs).otherwise(array(lang))
  }

  /** The wide tail appended by platforms that only know the core fields.
    * `okhv` is the per-fetcher schema-version constant ("OKH-LOSHv1.0" for
    * API platforms — thingiverse.py:211, oshwa.py:88).
    */
  private def wideTail(descriptionCol: Column): Seq[Column] = Seq(
    lit("OKH-LOSHv1.0").as("okhv"),
    lit(null).cast("string").as("release"),
    emptyAgents.as("organization"),
    emptyFiles.as("readme"),
    emptyFiles.as("bom"),
    emptyFiles.as("user_manual"),
    emptyFiles.as("manufacturing_instructions"),
    emptyFiles.as("auxiliary"),
    docLangFromDescription(descriptionCol).as("documentation_language"),
    emptyStrs.as("attestation"),
    emptyStrs.as("publication"),
    emptyStrs.as("standard_compliance"),
    lit(null).cast("string").as("tsdc"),
    lit(null).cast("double").as("mass"),
    lit(null).cast(dimsType).as("outer_dimensions"),
    array().cast(s"array<$partType>").as("part"),
    array().cast(s"array<$softwareType>").as("software"))

  // ---- Thingiverse (reference: normalizer/thingiverse.py:30-200) ----

  val thingiverseHitSchema: StructType = StructType(Seq(
    StructField("id", LongType),
    StructField("name", StringType),
    StructField("public_url", StringType),
    StructField("added", StringType),
    StructField("modified", StringType),
    StructField("description", StringType),
    StructField("license", StringType),
    StructField("thumbnail", StringType),
    StructField("creator", StructType(Seq(
      StructField("first_name", StringType),
      StructField("last_name", StringType),
      StructField("public_url", StringType)))),
    StructField("default_image", StructType(Seq(
      StructField("name", StringType),
      StructField("url", StringType),
      StructField("added", StringType)))),
    StructField("zip_data", StructType(Seq(
      StructField("images", ArrayType(StructType(Seq(
        StructField("name", StringType),
        StructField("url", StringType),
        StructField("added", StringType))))),
      StructField("files", ArrayType(StructType(Seq(
        StructField("name", StringType),
        StructField("url", StringType),
        StructField("direct_url", StringType))))))))))

  private def licenseDim(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Predicates.ThingiverseLicenseToSpdx.toSeq
      .map { case (k, v) => (k, v.orNull) }.toDF("tv_license", "spdx")
  }

  /** Description → function: strip_html, strip, CRLF → LF
    * (thingiverse.py:149-155 / oshwa.py:150-156). The thing-264461 encoding
    * hack (thingiverse.py:40-41) generalizes to fixEncoding on all rows.
    */
  private def functionCol(c: Column): Column =
    regexp_replace(trim(TextNormalize.normalizeCaptionUdf(c)), "\r\n", "\n")

  def thingiverse(spark: SparkSession, raw: DataFrame, jsonCol: String = "json"): DataFrame = {
    val hits = raw.select(from_json(col(jsonCol), thingiverseHitSchema).as("t"))
      .select(col("t.*"))
      .withColumn("project_id", concat(lit("thingiverse.com/"),
        (col("id") / 10000).cast("long").cast("string"), lit("/"), col("id").cast("string")))

    // images: first-wins by URL over [thumbnail, default_image, zip images]
    // with the broken CDN URL dropped (P3; thingiverse.py:159,176-193).
    // IN-ROW: the candidate list is a per-project array already, so the
    // first-wins dedup is an ordered array fold — the previous
    // posexplode → window → groupBy(collect_list) → join-back shape paid
    // two shuffles and re-parsed the JSON in a second subtree for rows
    // that never leave their project (guide §2.4: remove shuffles
    // outright). Identical output: filter in candidate order, keep the
    // first occurrence of each URL.
    val imgCandidates = concat(
      array(struct(lit(null).cast("string").as("name"), col("thumbnail").as("url"))),
      array(struct(col("default_image.name").as("name"), col("default_image.url").as("url"))),
      coalesce(expr("transform(zip_data.images, i -> struct(i.name as name, i.url as url))"),
        array().cast("array<struct<name:string,url:string>>")))
    val imageExpr = expr(
      s"""aggregate(
         |  filter(__img_cands, x -> x.url is not null
         |    and x.url != '${Predicates.BrokenImageUrl}'),
         |  cast(array() as array<$imageType>),
         |  (acc, x) -> CASE WHEN exists(acc, y -> y.url = x.url) THEN acc
         |    ELSE array_append(acc, struct(
         |      x.name as name, cast(null as string) as path, x.url as url,
         |      cast(array() as array<string>) as slots,
         |      cast(array() as array<string>) as tags,
         |      cast(array() as array<$langStrType>) as depicts)) END)""".stripMargin)

    // files: category via the extension dimension (J5/P7; thingiverse.py:
    // 106-118). IN-ROW: the dimension is ~30 rows (spec-pinned equal to
    // the CSV asset the S14 load path reads — q_mime_join still exercises
    // the spark.read load), so the left-outer-join + category filter is a
    // literal-map lookup inside one array transform instead of an
    // explode → join → groupBy → join-back (two shuffles saved).
    val extToCategory: Map[String, String] = ScalarFunctions.fileFormats
      .collect { case (ext, _, cat) if cat != null => ext -> cat }.toMap
    val withCat = transform(coalesce(col("zip_data.files"),
      array().cast("array<struct<name:string,url:string,direct_url:string>>")),
      f => struct(
        f.getField("name").as("name"),
        lit(null).cast("string").as("path"),
        coalesce(f.getField("direct_url"), f.getField("url")).as("url"),
        element_at(typedlit(extToCategory),
          lower(regexp_extract(f.getField("name"), "\\.([^.]+)$", 1))).as("category")))
    def byCategory(cat: String): Column =
      expr(s"""transform(filter(__files_cat, x -> x.category = '$cat'),
              |  x -> struct(x.name as name, x.path as path, x.url as url))""".stripMargin)

    hits
      .join(broadcast(licenseDim(spark)), col("license") === col("tv_license"), "left_outer")
      .withColumn("__img_cands", imgCandidates)
      .withColumn("__files_cat", withCat)
      .select(Seq(
        col("project_id"),
        col("name"),
        col("public_url").as("repo"),
        col("modified").as("version"), // thingiverse.py:70-71
        col("spdx").as("license_spdx"),
        array(struct(
          when(col("creator").isNotNull,
            trim(concat_ws(" ", col("creator.first_name"), col("creator.last_name"))))
            .otherwise("ANONYMOUS").as("name"),
          lit(null).cast("string").as("email"),
          col("creator.public_url").as("url"))).as("licensor"), // thingiverse.py:62-67
        functionCol(col("description")).as("function"),
        lit("OTRL-4").as("trl"), // thingiverse.py:80
        lit("ODRL-3").as("drl"), // thingiverse.py:81
        lit(null).cast("string").as("cpc_patent_class"),
        imageExpr.as("image"),
        byCategory("source").as("source"),
        byCategory("export").as("export"))
        ++ wideTail(col("description")): _*)
  }

  // ---- OSHWA (reference: normalizer/oshwa.py:53-160) ----

  val oshwaSchema: StructType = StructType(Seq(
    StructField("oshwaUid", StringType),
    StructField("projectName", StringType),
    StructField("projectVersion", StringType),
    StructField("projectDescription", StringType),
    StructField("responsibleParty", StringType),
    StructField("responsiblePartyType", StringType),
    StructField("publicContact", StringType),
    StructField("hardwareLicense", StringType),
    StructField("documentationLicense", StringType),
    StructField("primaryType", StringType),
    StructField("additionalType", ArrayType(StringType))))

  /** oshwa.py:22-37 */
  val oshwaLicenseMapping: Map[String, String] = Map(
    "BSD-2-Clause" -> "BSD-2-Clause", "CC 0" -> "CC0-1.0", "CC BY" -> "CC-BY-4.0",
    "CC BY-SA" -> "CC-BY-SA-4.0", "CC-BY-4.0" -> "CC-BY-4.0",
    "CC-BY-SA-4.0" -> "CC-BY-SA-4.0", "CC0-1.0" -> "CC0-1.0",
    "CERN" -> "CERN-OHL-1.2", "CERN OHL" -> "CERN-OHL-1.2",
    "GPL" -> "GPL-3.0-or-later", "GPL-3.0" -> "GPL-3.0-only",
    "OHL" -> "TAPR-OHL-1.0", "Solderpad" -> "Apache-2.0 WITH SHL-2.1",
    "TAPR" -> "TAPR-OHL-1.0")

  /** oshwa.py:38-50 */
  val cpcUnmappable: Set[String] = Set("Agriculture", "Arts", "Education",
    "Environmental", "IOT", "Manufacturing", "Other", "Science", "Tool", "Wearables")
  val cpcMapping: Map[String, String] = Map(
    "3D Printing" -> "B33Y", "Electronics" -> "H03", "Enclosure" -> "F16M",
    "Home Connection" -> "H04W", "Robotics" -> "B25J9/00", "Sound" -> "H04R",
    "Space" -> "B64G")

  def oshwa(spark: SparkSession, raw: DataFrame, jsonCol: String = "json"): DataFrame = {
    import spark.implicits._
    val p = raw.select(from_json(col(jsonCol), oshwaSchema).as("o")).select(col("o.*"))
    val licDim = oshwaLicenseMapping.toSeq.toDF("lic_name", "lic_mapped")
    val cpcDim = cpcMapping.toSeq.toDF("cat", "cpc")

    // license chain (oshwa.py:130-150): hardware; 'Other' → documentation;
    // None/Other → unknown; then the OSHWA mapping table
    val rawLicense = when(col("hardwareLicense").isNull ||
        col("hardwareLicense").isin("", "None"), lit(null))
      .when(col("hardwareLicense") === "Other",
        when(col("documentationLicense").isin("None", "Other"), lit(null))
          .otherwise(col("documentationLicense")))
      .otherwise(col("hardwareLicense"))

    val withLicense = p.withColumn("raw_license", rawLicense)
      .join(broadcast(licDim), col("raw_license") === col("lic_name"), "left_outer")
      .withColumn("license_spdx", coalesce(col("lic_mapped"), col("raw_license")))

    // CPC classification (oshwa.py:117-131): primaryType unless unmappable,
    // else first mappable additionalType
    val withCpc = withLicense
      .join(broadcast(cpcDim), col("primaryType") === col("cat"), "left_outer")
      .withColumn("cpc_primary",
        when(col("primaryType").isInCollection(cpcUnmappable), lit(null))
          .otherwise(col("cpc")))
      .withColumn("cpc_additional",
        expr(s"""filter(transform(coalesce(additionalType, array()), t -> ${cpcCase("t")}),
                 x -> x is not null)[0]"""))
      .withColumn("cpc_patent_class",
        when(col("primaryType").isInCollection(cpcUnmappable), col("cpc_additional"))
          .otherwise(col("cpc")))

    withCpc.select(Seq(
      concat(lit("oshwa.org/"), lower(col("oshwaUid"))).as("project_id"),
      col("projectName").as("name"),
      concat(lit("https://certification.oshwa.org/"), lower(col("oshwaUid")), lit(".html"))
        .as("repo"), // oshwa.py:158-160
      col("projectVersion").as("version"),
      col("license_spdx"),
      array(struct(
        col("responsibleParty").as("name"),
        col("publicContact").as("email"),
        lit(null).cast("string").as("url"))).as("licensor"), // oshwa.py:68-77
      functionCol(col("projectDescription")).as("function"),
      lit(null).cast("string").as("trl"),
      lit("ODRL-3*").as("drl"), // oshwa.py:90
      col("cpc_patent_class"),
      array().cast(s"array<$imageType>").as("image"),
      emptyFiles.as("source"),
      emptyFiles.as("export"))
      ++ wideTail(col("projectDescription")): _*)
  }

  private def cpcCase(v: String): String =
    cpcMapping.map { case (k, c) =>
      s"when $v = '${k.replace("'", "''")}' then '${c}'"
    }.mkString("case ", " ", " else null end")

  // ---- OKH manifest (TOML/YAML; reference: normalizer/manifest.py:188-245) ----

  val manifestSchema: StructType = StructType(Seq(
    StructField("okhv", StringType),
    StructField("name", StringType),
    StructField("repo", StringType),
    StructField("version", StringType),
    StructField("release", StringType), // manifest.py:221
    StructField("license", StringType),
    StructField("licensor", StringType),
    StructField("organization", StringType), // manifest.py:222,419-425 (str form)
    StructField("function", StringType),
    StructField("documentation-language", ArrayType(StringType)),
    StructField("technology-readiness-level", StringType), // manifest.py:228
    StructField("documentation-readiness-level", StringType), // manifest.py:229
    StructField("attestation", ArrayType(StringType)), // manifest.py:230
    StructField("publication", ArrayType(StringType)), // manifest.py:231
    StructField("standard-compliance", ArrayType(StringType)), // manifest.py:232
    StructField("cpc-patent-class", StringType), // manifest.py:233
    StructField("tsdc", StringType), // manifest.py:234
    StructField("readme", StringType), // manifest.py:223 (str form)
    StructField("contribution-guide", StringType), // manifest.py:224
    StructField("bom", StringType), // manifest.py:235
    StructField("manufacturing-instructions", StringType), // manifest.py:236
    StructField("user-manual", StringType), // manifest.py:237
    // image is parsed SEPARATELY (string-or-dict entries; see `manifest`)
    StructField("mass", DoubleType),
    StructField("outer-dimensions", StructType(Seq(
      StructField("width", DoubleType),
      StructField("height", DoubleType),
      StructField("depth", DoubleType),
      StructField("openSCAD", StringType),
      StructField("unit", StringType)))),
    // parts with the full per-part breadth (manifest.py:476-501, part.py:13-33)
    StructField("part", ArrayType(StructType(Seq(
      StructField("name", StringType),
      StructField("source", StringType),
      StructField("export", ArrayType(StringType)),
      StructField("image", ArrayType(StringType)),
      StructField("auxiliary", ArrayType(StringType)),
      StructField("material", StringType),
      StructField("mass", DoubleType),
      StructField("tsdc", StringType),
      StructField("outer-dimensions", StructType(Seq(
        StructField("width", DoubleType),
        StructField("height", DoubleType),
        StructField("depth", DoubleType)))))))),
    // software entries (manifest.py:503-517, software.py:14-23)
    StructField("software", ArrayType(StructType(Seq(
      StructField("release", StringType),
      StructField("installation-guide", StringType),
      StructField("documentation-language", ArrayType(StringType)),
      StructField("license", StringType),
      StructField("licensor", StringType)))))))

  // C16 rides the existing parse: the TOML/YAML converters already hold the
  // parsed object, so the okhv-absence check + v1→LOSH conversion
  // (manifest.py:194-200 trigger; mapping in OkhV1) costs ZERO extra JSON
  // parses on the hot path. Raw-JSON content (cold path) goes through
  // OkhV1.convertJson, which parses once and self-detects.
  // asNondeterministic on all three: a documented white lie (the parses are
  // pure). The m.isNotNull/m.name.isNotNull filter below is otherwise pushed
  // under the manifest_json projection as from_json(UDF(content))… — the
  // TOML/YAML parse ran up to three times per row (twice inside the pushed
  // filter, once in the projection; guide §4.4). The marker pins exactly one
  // parse per manifest; from_json then reads the materialized attribute.
  private val tomlToJsonUdf = udf { s: String =>
    try OkhV1.convertToLosh(graft.formats.Toml.parse(s)).toString
    catch { case _: Exception => null }
  }.asNondeterministic()
  private val yamlToJsonUdf = udf { s: String =>
    try {
      graft.formats.Yaml.parse(s) match {
        case o: graft.tables.Json.JObj => OkhV1.convertToLosh(o).toString
        case other => other.toString
      }
    } catch { case _: Exception => null }
  }.asNondeterministic()
  private val okhV1JsonUdf = udf(OkhV1.convertJson _).asNondeterministic()

  /** TOML/YAML manifest content (`fmt` column ∈ {toml, yml, json}) →
    * Project rows. Parse errors become null rows filtered into a failure
    * channel by the caller (errors-as-data). `passthrough` columns of the
    * input ride along unchanged (e.g. unit_path/payload keys, so the
    * pipeline's S10 sink never re-joins the frontier).
    */
  def manifest(spark: SparkSession, raw: DataFrame,
      contentCol: String = "content", fmtCol: String = "fmt",
      passthrough: Seq[String] = Seq.empty): DataFrame = {
    val json = raw.withColumn("manifest_json",
      when(col(fmtCol) === "toml", tomlToJsonUdf(col(contentCol)))
        .when(col(fmtCol).isin("yml", "yaml"), yamlToJsonUdf(col(contentCol)))
        .otherwise(okhV1JsonUdf(col(contentCol))))
    val m = json
      .withColumn("m", from_json(col("manifest_json"), manifestSchema))
      .filter(col("m").isNotNull && col("m.name").isNotNull)

    // person/dims are referenced by several getField projections below —
    // they are materialized via withColumn (see the final select's source
    // frame) so the UDF runs once per row, not once per referenced field
    val person = col("__person")
    val dims = col("__dims")

    // Appropedia v1 hack (manifest.py:344-358): a comma-separated
    // "User:X, User:Y" licensor string becomes one agent per user with the
    // User: prefix stripped and a wiki URL; all other platforms parse the
    // single person string (C21)
    val approLicensors = expr(
      """transform(split(m.licensor, ','), u -> struct(
        |  replace(trim(u), 'User:', '') as name,
        |  cast(null as string) as email,
        |  concat('https://www.appropedia.org/', trim(u)) as url))""".stripMargin)
    val licensorCol =
      when(col("m.repo").contains("appropedia.org") && col("m.licensor").isNotNull,
        approLicensors)
        .otherwise(array(struct(
          person.getField("name").as("name"),
          person.getField("email").as("email"),
          lit(null).cast("string").as("url"))))

    // a path-or-URL string inside a SQL lambda (fileFromString twin)
    def fileStructSql(v: String): String =
      s"struct(cast(null as string) as name, " +
        s"case when $v like 'http%' then cast(null as string) else $v end as path, " +
        s"case when $v like 'http%' then $v else cast(null as string) end as url)"

    // image entries are string OR dict (manifest.py:455-475). The
    // array<string> view of the image array keeps string entries as-is and
    // renders dict entries as their raw JSON text — each element then
    // resolves in-lambda: '{'-prefixed → nested from_json (slots/tags/
    // depicts), anything else → path-or-URL file struct.
    def imgStructSql(v: String): String =
      s"struct(cast(null as string) as name, " +
        s"case when $v like 'http%' then cast(null as string) else $v end as path, " +
        s"case when $v like 'http%' then $v else cast(null as string) end as url, " +
        s"array() as slots, array() as tags, array() as depicts)"
    val strArr = from_json(get_json_object(col("manifest_json"), "$.image"),
      ArrayType(StringType))
    // depicts entries inside a dict image resolve per-element like the
    // images themselves: '{'-prefixed → {text, language?='en'} dict, plain
    // string → LangStr(text, 'en'); text-less entries drop (manifest.py:
    // 284-305 — the reference raises, we treat errors as data)
    val depictsSql =
      s"""filter(
         |  transform(coalesce(o.depicts, array()), d -> CASE
         |    WHEN d IS NULL THEN NULL
         |    WHEN d LIKE '{%' THEN struct(
         |      get_json_object(d, '$$.text') as text,
         |      coalesce(get_json_object(d, '$$.language'), 'en') as language)
         |    ELSE struct(d as text, 'en' as language) END),
         |  dd -> dd IS NOT NULL AND dd.text IS NOT NULL)""".stripMargin
    val imageColumn =
      when(col("__img_str").isNotNull, expr(
        s"""filter(
           |  transform(
           |    transform(__img_str, s -> CASE
           |      WHEN s IS NULL THEN NULL
           |      WHEN s LIKE '{%' THEN from_json(s, '$imageParseType')
           |      ELSE ${imgStructSql("s")} END),
           |    o -> CASE WHEN o IS NULL OR (o.path IS NULL AND o.url IS NULL) THEN NULL
           |         ELSE struct(o.name as name, o.path as path, o.url as url,
           |              coalesce(o.slots, array()) as slots,
           |              coalesce(o.tags, array()) as tags,
           |              $depictsSql as depicts) END),
           |  x -> x IS NOT NULL)""".stripMargin))
        .otherwise(array().cast(s"array<$imageType>"))

    m.withColumn("__img_str", strArr)
      .withColumn("__person", ScalarFunctions.parsePersonUdf(col("m.licensor")))
      .withColumn("__dims", ScalarFunctions.openScadDimsUdf(
        col("m.`outer-dimensions`.openSCAD"), col("m.`outer-dimensions`.unit")))
      .select((passthrough.map(col) :+
      col("m.repo").as("project_id")) ++ Seq(
      col("m.name").as("name"),
      col("m.repo").as("repo"),
      col("m.version").as("version"),
      col("m.release").as("release"), // manifest.py:221
      // first license of the SPDX expression (C12 + manifest.py:334-337
      // silently keeps the first); invalid expressions split to an empty
      // array → null license, not an ANSI index error (errors-as-data)
      get(ScalarFunctions.spdxSplitUdf(col("m.license")), lit(0)).as("license_spdx"),
      licensorCol.as("licensor"),
      // string-form organization → one Organization agent (manifest.py:419-425)
      when(col("m.organization").isNotNull, array(struct(
        col("m.organization").as("name"),
        lit(null).cast("string").as("email"),
        lit(null).cast("string").as("url"))))
        .otherwise(emptyAgents).as("organization"),
      functionCol(col("m.function")).as("function"),
      col("m.`technology-readiness-level`").as("trl"),
      col("m.`documentation-readiness-level`").as("drl"),
      col("m.`cpc-patent-class`").as("cpc_patent_class"),
      // images: string-or-dict entries (manifest.py:455-475 `_images` —
      // dicts carry slots/tags/depicts). Two positional parses of the same
      // JSON array zip_with'd: a dict element resolves through the struct
      // parse, a string element through the string parse.
      imageColumn.as("image"),
      // project-level source/export roll up from the parts with the shared
      // file struct (relative strings → path, http(s) → url)
      expr("""transform(coalesce(m.part, array()), p -> struct(p.name as name,
        |  case when p.source like 'http%' then cast(null as string)
        |       else p.source end as path,
        |  case when p.source like 'http%' then p.source
        |       else cast(null as string) end as url))""".stripMargin).as("source"),
      expr("""flatten(transform(coalesce(m.part, array()),
        |  p -> transform(coalesce(p.export, array()), e -> struct(
        |    p.name as name,
        |    case when e like 'http%' then cast(null as string) else e end as path,
        |    case when e like 'http%' then e else cast(null as string) end as url))))"""
        .stripMargin).as("export"),
      col("m.okhv").as("okhv"),
      col("m.mass").as("mass"),
      // new-form dims win; legacy OpenSCAD form converted (C11)
      coalesce(
        when(col("m.`outer-dimensions`.width").isNotNull,
          struct(col("m.`outer-dimensions`.width").as("width"),
            col("m.`outer-dimensions`.height").as("height"),
            col("m.`outer-dimensions`.depth").as("depth"))),
        struct(dims.getField("width").as("width"),
          dims.getField("height").as("height"),
          dims.getField("depth").as("depth"))).as("outer_dimensions"),
      col("m.`documentation-language`").as("documentation_language"),
      // file singletons (manifest.py:223,235-237; str = path or URL)
      fileFromString(col("m.`contribution-guide`")).as("contribution_guide"),
      fileArrayFromString(col("m.readme")).as("readme"),
      fileArrayFromString(col("m.bom")).as("bom"),
      fileArrayFromString(col("m.`user-manual`")).as("user_manual"),
      fileArrayFromString(col("m.`manufacturing-instructions`"))
        .as("manufacturing_instructions"),
      emptyFiles.as("auxiliary"),
      coalesce(col("m.attestation"), emptyStrs).as("attestation"),
      coalesce(col("m.publication"), emptyStrs).as("publication"),
      coalesce(col("m.`standard-compliance`"), emptyStrs).as("standard_compliance"),
      col("m.tsdc").as("tsdc"),
      // full per-part rows (manifest.py:476-501): name_clean strips special
      // chars (project.py:18); file strings split into path-vs-url structs
      expr(s"""transform(coalesce(m.part, array()), p -> struct(
        |  p.name as name,
        |  regexp_replace(p.name, '[^a-zA-Z0-9_-]+', '') as name_clean,
        |  transform(coalesce(p.image, array()), i -> ${fileStructSql("i")}) as image,
        |  case when p.source is not null then array(${fileStructSql("p.source")})
        |       else array() end as source,
        |  transform(coalesce(p.export, array()), e -> ${fileStructSql("e")}) as export,
        |  transform(coalesce(p.auxiliary, array()), x -> ${fileStructSql("x")}) as auxiliary,
        |  p.material as material,
        |  p.mass as mass,
        |  p.`outer-dimensions` as outer_dimensions,
        |  p.tsdc as tsdc))""".stripMargin).as("part"),
      // software entries (manifest.py:503-517): license string is already an
      // SPDX id in OKH manifests; licensor string → one Person agent
      expr(s"""transform(coalesce(m.software, array()), s -> struct(
        |  s.release as release,
        |  case when s.`installation-guide` is not null
        |       then ${fileStructSql("s.`installation-guide`")}
        |       else cast(null as $fileType) end as installation_guide,
        |  coalesce(s.`documentation-language`, array()) as documentation_language,
        |  s.license as license_spdx,
        |  case when s.licensor is not null
        |       then array(struct(s.licensor as name, cast(null as string) as email,
        |                         cast(null as string) as url))
        |       else array() end as licensor))""".stripMargin).as("software")): _*)
  }
}
