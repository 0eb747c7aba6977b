package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.UrlFunctions
import graft.model.HostingId
import graft.normalize.Normalizers
import graft.pipeline.CrawlPipeline
import graft.serialize.Serializers
import graft.tables.Json

/** Library facade mirroring the reference's command surface (SURVEY §3):
  * `krawl fetch url …` (§3.1), `krawl fetch <platform>` (§3.2 — that is
  * `CrawlPipeline.run`), `krawl list fetchers` (§3.3), and the
  * documented-but-unwired `krawl convert` / `krawl validate`
  * (README.md:149-154 of the reference; machinery at serializer/factory.py
  * and validator/strict.py).
  */
object Krawl {

  /** `krawl list fetchers` (cli/command/list/fetchers.py:17-19): the
    * registry keys (fetcher/factory.py:31-38).
    */
  def listFetchers: Seq[String] = HostingId.all.map(_.id)

  /** `krawl fetch url <url…>` (§3.1): canonicalize the given URLs and run
    * the one crawl path (`CrawlPipeline.runConfigured`) scoped to exactly
    * those units, re-visiting them even when already resolved — so the
    * payload sinks, the seen filters and the compaction follow the same
    * commits as a platform crawl. Unknown-platform URLs surface as
    * parse_error rows in the returned frame, mirroring the reference's
    * per-URL error reporting (url.py:110-112 exit code = failures).
    */
  def fetchUrls(spark: SparkSession, urls: Seq[String], storeDir: String,
      tableRoot: String,
      // the CLI loads + validates user config before any fetch, exactly
      // like the reference (url.py:74 via config.py:35-117); throws with
      // every violation listed when invalid
      config: CrawlConfig = CrawlConfig.default): DataFrame = {
    import spark.implicits._
    val parsed = urls.toDF("url")
      .withColumn("canon", UrlFunctions.canonicalize(col("url")))
      .select(col("url"), col("canon.unit_path").as("unit_path"),
        col("canon.parse_error").as("parse_error"))
    // sorted: the same URLs give the same scope predicate
    val paths = parsed.filter(col("parse_error").isNull)
      .select("unit_path").distinct().as[String].collect().sorted
    val summary = CrawlPipeline.runConfigured(spark, storeDir, tableRoot, config,
      limit = Some(paths.length.toLong), revisit = true,
      scope = col("unit_path").isin(paths.toSeq: _*))
    val fetched = CrawlPipeline.urlSeenStore(tableRoot)
      .readBetween(spark, summary.version - 1, summary.version)
      .map(_.select("unit_path", "status"))
      .getOrElse(Seq.empty[(String, String)].toDF("unit_path", "status"))
    // report: per input URL, its outcome (missing from store → not_in_store)
    parsed.join(fetched, Seq("unit_path"), "left_outer")
      .withColumn("status",
        coalesce(col("status"),
          when(col("parse_error").isNotNull, concat(lit("parse_error: "), col("parse_error")))
            .otherwise(lit("not_in_store"))))
      .select("url", "unit_path", "status")
  }

  /** `krawl convert` equivalent: read manifests (TOML/YAML/JSON) → normalize
    * → emit the requested serialization(s) as columns (toml / canonical
    * json / turtle), the read→normalize→write trace of §3.3.
    */
  def convert(spark: SparkSession, manifests: DataFrame): DataFrame = {
    val projects = Normalizers.manifest(spark, manifests)
    val emit = udf { (projectId: String, name: String, repo: String, version: String,
        license: String, function: String) =>
      val obj = Json.obj(
        "name" -> Json.s(name), "repo" -> Json.s(repo),
        "version" -> Json.s(version), "license" -> Json.s(license),
        "function" -> Json.s(function))
      val stripped = Serializers.stripEmpty(obj)
        .collect { case o: Json.JObj => o }.getOrElse(Json.JObj(Vector.empty))
      (Serializers.toToml(stripped), Serializers.canonicalJson(stripped))
    }
    projects
      .withColumn("emitted",
        emit(col("project_id"), col("name"), col("repo"), col("version"),
          col("license_spdx"), col("function")))
      .select(col("project_id"), col("name"),
        col("emitted._1").as("toml"), col("emitted._2").as("json"))
  }

  /** `krawl validate` equivalent (validator/strict.py:24-88 + the C19 regex
    * constants from validator/__init__.py:16-26): rule columns over
    * normalized projects; ok = no failure reasons. Rules, in fixed order:
    * okhv presence + known-version check (strict.py:28-31), name/repo/
    * function bounds (33-36), version presence (50-51), licensor presence
    * (37), license presence + BLOCKED-license check (56-59, via the full
    * LicenseDim), BCP-47 documentation-language tags (45-47), and
    * relative-path validation for readme/bom/manufacturing-instructions/
    * user-manual files (117-139). Semver is a WARNING, not a failure — the
    * reference deactivated version validation (strict.py:52-54) because
    * platform versions are often timestamps.
    */
  def validate(projects: DataFrame): DataFrame = {
    import graft.functions.ScalarFunctions
    val spark = projects.sparkSession
    // tolerate partial schemas (typed defaults for absent breadth columns)
    val defaults: Seq[(String, org.apache.spark.sql.Column)] = Seq(
      "okhv" -> lit(null).cast("string"),
      "licensor" -> array().cast(s"array<${Normalizers.agentType}>"),
      "documentation_language" -> array().cast("array<string>"),
      "readme" -> array().cast(s"array<${Normalizers.fileType}>"),
      "bom" -> array().cast(s"array<${Normalizers.fileType}>"),
      "manufacturing_instructions" -> array().cast(s"array<${Normalizers.fileType}>"),
      "user_manual" -> array().cast(s"array<${Normalizers.fileType}>"))
    val prepared = defaults.foldLeft(projects) { case (df, (n, d)) =>
      if (df.columns.contains(n)) df else df.withColumn(n, d)
    }
    val withLic = graft.model.LicenseDim.resolve(spark, prepared, "license_spdx")

    // strict.py:117-139: relative paths must not start with '/', './', '../'
    // or contain '/../' or '/./'
    val badPathRe = "(^/)|(^\\.\\.?/)|(/\\.\\.?/)"
    def badFilePaths(c: String) =
      exists(col(c), f => f.getField("path").rlike(badPathRe))

    // exact membership only (validator/__init__.py is_okh_version accepts
    // {okhv1.0, okh-loshv1.0} case-insensitively — a regex fallback could
    // only WIDEN acceptance beyond reference parity, so there is none)
    val knownOkhv = lower(col("okhv")).isin("okhv1.0", "okh-loshv1.0")
    val reasons = concat_ws(",",
      when(col("okhv").isNull, lit("missing-okhv"))
        .when(!knownOkhv, lit("invalid-okhv")),
      when(col("name").isNull || length(col("name")) < 1 || length(col("name")) > 256,
        lit("bad-name")),
      when(col("repo").isNull || !col("repo").rlike("^https?://"), lit("bad-repo")),
      when(length(col("function")) > 100000, lit("function-too-long")),
      when(col("version").isNull, lit("missing-version")),
      when(size(col("licensor")) === 0, lit("missing-licensor")),
      when(col("license_spdx").isNull, lit("unknown-license")),
      when(col("is_blocked") === true, lit("blocked-license")),
      when(exists(col("documentation_language"),
        l => !l.rlike(ScalarFunctions.Bcp47Pattern)), lit("invalid-language")),
      when(badFilePaths("readme"), lit("bad-readme-path")),
      when(badFilePaths("bom"), lit("bad-bom-path")),
      when(badFilePaths("manufacturing_instructions"),
        lit("bad-manufacturing-instructions-path")),
      when(badFilePaths("user_manual"), lit("bad-user-manual-path")))
    val warnings = concat_ws(",",
      when(col("version").isNotNull &&
        !col("version").rlike(ScalarFunctions.SemverPattern), lit("nonsemver-version")))
    withLic
      .withColumn("reasons", reasons)
      .withColumn("warnings", warnings)
      .withColumn("ok", col("reasons") === "")
      .drop("norm_license", "spdx_id", "is_blocked", "is_osi_approved")
  }
}
