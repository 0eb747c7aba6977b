package graft.sources

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Sitemap-protocol ingestion (the public sitemaps.org protocol; discovery
  * via robots.txt `Sitemap:` records, which RFC 9309 §2.2.4 classes as
  * "other records" that crawlers may use). The reference krawler drops
  * every non-rule robots line (`krawl/fetcher` robots handling — mirrored
  * by `model/Robots.scala`, which ignores them for the POLICY); at a
  * 10^10-URL frontier a crawler cannot afford to: sitemaps are the
  * cheapest frontier feed there is — URL + freshness metadata
  * (lastmod/changefreq/priority) with no page fetch — so this module
  * promotes them to a first-class source next to the seed list (S1).
  *
  * Everything is columnar and codegen-friendly: discovery is one
  * `regexp_extract_all`, parsing is Spark 4's built-in `from_xml` (scan
  * stage, no shuffle), and the only shuffles in `sitemapFrontier` are the
  * joins on `sitemap_url` (docs keyed by their own URL — the natural key)
  * and the final first-wins dedup on `url`. At frontier scale the doc
  * table is ~frontier/50k rows (the protocol caps a sitemap at 50k URLs),
  * so both joins are small relative to the URL table they produce.
  */
object Sitemaps {

  /** Children of `<urlset>` — per protocol: required `loc`, optional
    * `lastmod`/`changefreq`/`priority`. All read as strings; validation
    * and typing happen in [[parse]], NOT in the XML reader (a malformed
    * field must null out, never kill the scan — ANSI-safe).
    */
  val UrlsetSchema: StructType = StructType(Seq(
    StructField("url", ArrayType(StructType(Seq(
      StructField("loc", StringType),
      StructField("lastmod", StringType),
      StructField("changefreq", StringType),
      StructField("priority", StringType)))))))

  /** Children of `<sitemapindex>`: child sitemap `loc` + optional
    * `lastmod`.
    */
  val IndexSchema: StructType = StructType(Seq(
    StructField("sitemap", ArrayType(StructType(Seq(
      StructField("loc", StringType),
      StructField("lastmod", StringType)))))))

  /** The protocol's closed changefreq vocabulary. */
  val ChangeFreqs: Seq[String] =
    Seq("always", "hourly", "daily", "weekly", "monthly", "yearly", "never")

  /** robots.txt `Sitemap:` discovery: one output row per referenced
    * sitemap URL, all other columns of `robots` carried through (minus
    * the text). Case-insensitive key, optional surrounding blanks —
    * the same tolerant line grammar as `Robots.parse`, but as a pure
    * codegen expression (no UDF, no driver parse).
    */
  def sitemapRefs(robots: DataFrame, textCol: String = "robots_txt"): DataFrame =
    robots
      .withColumn("sitemap_url", explode(regexp_extract_all(
        col(textCol), lit("(?im)^[ \\t]*sitemap[ \\t]*:[ \\t]*(\\S+)[ \\t]*$"), lit(1))))
      .drop(textCol)

  /** `lastmod` (W3C datetime: a date, or a date-time) → epoch day, null
    * when absent/unparseable. Only the DATE part drives recrawl
    * scheduling, so the first 10 chars are enough — and keep the output
    * an integer (oracle parity: never hash-compare timestamps).
    */
  private def lastmodDay(c: Column): Column =
    datediff(try_to_date(substring(trim(c), 1, 10), "yyyy-MM-dd"),
      to_date(lit("1970-01-01"))).cast("long")

  /** `changefreq` normalized: lowercased, validated against the protocol
    * vocabulary, anything else → null.
    */
  private def changefreqNorm(c: Column): Column = {
    val lc = lower(trim(c))
    when(lc.isin(ChangeFreqs: _*), lc)
  }

  /** `priority` → permille in [0, 1000], null when absent / not a number
    * in the protocol's [0.0, 1.0] range. The rlike guard makes the cast
    * ANSI-safe, and `round` (not floor) absorbs the one-ulp noise of
    * decimal-fraction doubles ("0.3" * 1000 = 299.999…94).
    */
  private def priorityPermille(c: Column): Column = {
    val t = trim(c)
    when(t.rlike("^(0(\\.[0-9]+)?|1(\\.0+)?)$"),
      round(t.cast("double") * lit(1000)).cast("long"))
  }

  /** Root-element classifier: the first XML NAME (the declaration's
    * `<?xml` doesn't match `[A-Za-z]`, so it is skipped naturally).
    */
  private def rootTag(c: Column): Column =
    regexp_extract(c, "<\\s*([A-Za-z][A-Za-z0-9]*)", 1)

  /** The sitemap protocol's 50 MB uncompressed-size cap — also the gzip
    * BOMB guard: decompression stops (→ null doc) the moment a payload
    * inflates past it, so a hostile 1000:1 archive can never OOM a task.
    */
  val MaxUncompressedBytes: Int = 50 * 1024 * 1024

  /** Decode fetched sitemap BYTES to the text `parse` consumes: documents
    * whose payload starts with the gzip magic (0x1f 0x8b) are gunzipped
    * (the protocol explicitly allows .xml.gz, and large sites ship
    * nothing else); everything else is read as UTF-8. Corrupt streams and
    * payloads inflating past [[MaxUncompressedBytes]] yield null (a
    * skipped doc), never a task failure.
    */
  val gunzipUdf: org.apache.spark.sql.expressions.UserDefinedFunction =
    udf { bytes: Array[Byte] =>
      if (bytes == null) null
      else if (bytes.length >= 2 &&
        (bytes(0) & 0xFF) == 0x1f && (bytes(1) & 0xFF) == 0x8b) {
        try {
          val in = new java.util.zip.GZIPInputStream(
            new java.io.ByteArrayInputStream(bytes))
          val out = new java.io.ByteArrayOutputStream()
          val buf = new Array[Byte](8192)
          var n = in.read(buf)
          while (n >= 0 && out.size() <= MaxUncompressedBytes) {
            out.write(buf, 0, n); n = in.read(buf)
          }
          if (out.size() > MaxUncompressedBytes) null // bomb — skip the doc
          else new String(out.toByteArray, java.nio.charset.StandardCharsets.UTF_8)
        } catch { case _: java.io.IOException => null }
      } else new String(bytes, java.nio.charset.StandardCharsets.UTF_8)
    }

  /** (…, bytesCol) → (…, xml): the byte-payload adapter in front of
    * [[parse]] for stores that keep fetched bodies as binary. The decode
    * is flagged nondeterministic — a WHITE LIE (it is a pure function)
    * whose sole purpose is to pin evaluation to exactly once per
    * document: Catalyst inlines deterministic projections into every
    * downstream reference (the root classifier, the from_xml branches, a
    * pushed filter), which would re-gunzip a 50 MB document several
    * times. Nondeterministic expressions are never collapsed or pushed.
    */
  def decodeDocs(docs: DataFrame, bytesCol: String = "bytes",
      xmlCol: String = "xml"): DataFrame =
    docs.withColumn(xmlCol, gunzipUdf.asNondeterministic()(col(bytesCol)))
      .drop(bytesCol)

  /** Parse a table of fetched sitemap documents (`xmlCol` = the body; every
    * other column, e.g. the sitemap's own URL, is carried onto each of the
    * document's rows) into one row per child entry:
    *
    *   kind = "url":     a `<urlset><url>` entry — `url`, `lastmod_day`,
    *                     `changefreq`, `priority_permille`
    *   kind = "sitemap": a `<sitemapindex><sitemap>` entry — `url` is the
    *                     CHILD sitemap's URL, `lastmod_day` its lastmod
    *
    * Unknown root elements produce no rows. `loc` values come back
    * XML-unescaped from the parser (`&amp;` → `&`) and are trimmed here
    * (the protocol requires entity-escaped URLs; whitespace inside `loc`
    * is lenient-accepted the way real crawlers do). Pure scan stage —
    * classification, `from_xml`, `inline` and normalization all fuse into
    * one codegen'd projection; no shuffle, no UDF.
    */
  def parse(docs: DataFrame, xmlCol: String = "xml"): DataFrame = {
    val root = rootTag(col(xmlCol))
    val keep = docs.columns.filterNot(_ == xmlCol).map(col)

    // ONE scan: both root flavors map to a unified entry array in a single
    // projection (a two-branch filter+union would re-scan the source — and
    // re-run any upstream per-document decode — once per branch). `when`
    // evaluates lazily, so each document pays exactly one from_xml.
    val asEntry = (kind: String, e: Column, cf: Column, pr: Column) => struct(
      lit(kind).as("kind"), e.getField("loc").as("loc"),
      e.getField("lastmod").as("lastmod"), cf.as("changefreq"),
      pr.as("priority"))
    val entries =
      when(root === "urlset",
        transform(from_xml(col(xmlCol), UrlsetSchema)("url"),
          e => asEntry("url", e, e.getField("changefreq"), e.getField("priority"))))
        .when(root === "sitemapindex",
          transform(from_xml(col(xmlCol), IndexSchema)("sitemap"),
            e => asEntry("sitemap", e, lit(null).cast("string"),
              lit(null).cast("string"))))

    docs
      .select(keep :+ explode(entries).as("e"): _*)
      .select(keep ++ Seq(
        col("e.kind").as("kind"),
        trim(col("e.loc")).as("url"),
        lastmodDay(col("e.lastmod")).as("lastmod_day"),
        changefreqNorm(col("e.changefreq")).as("changefreq"),
        priorityPermille(col("e.priority")).as("priority_permille")): _*)
      .filter(col("url").isNotNull && col("url") =!= "")
  }

  /** End-to-end frontier feed: robots discovery → fetched sitemap docs →
    * one-level index expansion → per-URL first-wins dedup.
    *
    *   robots: (host, robots_txt, …)    — one row per host
    *   docs:   (sitemap_url, xml)       — every fetched sitemap body,
    *                                      keyed by its own URL
    *
    * The protocol forbids nesting a sitemapindex inside a sitemapindex,
    * so expansion is exactly one level: index entries discovered at level
    * 0 join back to `docs` once, and any `kind = "sitemap"` rows a child
    * produces are dropped (malformed nesting — ignored, not recursed).
    *
    * A URL listed by several sitemaps (allowed, common when a child is
    * also referenced directly) collapses to ONE frontier row: the row
    * with the freshest `lastmod_day` wins, ties broken by smallest
    * `sitemap_url` — deterministic under any partitioning. Output:
    * (host, url, lastmod_day, changefreq, priority_permille,
    * sitemap_url).
    */
  def sitemapFrontier(robots: DataFrame, docs: DataFrame): DataFrame = {
    val refs = sitemapRefs(robots)
    val level0 = parse(refs.join(docs, "sitemap_url"))
    val children = level0.filter(col("kind") === "sitemap")
      .select(col("url").as("sitemap_url"),
        struct(level0.columns.filterNot(c => c == "kind" || c == "url" ||
          c == "lastmod_day" || c == "changefreq" || c == "priority_permille" ||
          c == "sitemap_url").map(col): _*).as("ctx"))
    val level1 = parse(children.join(docs, "sitemap_url"))
      .filter(col("kind") === "url")
      .select(col("ctx.*"), col("kind"), col("url"), col("lastmod_day"),
        col("changefreq"), col("priority_permille"), col("sitemap_url"))

    val all = level0.filter(col("kind") === "url").unionByName(level1)
      .drop("kind")
    val firstWins = Window.partitionBy(col("url"))
      .orderBy(coalesce(col("lastmod_day"), lit(-1L)).desc, col("sitemap_url").asc)
    all
      .withColumn("rn", row_number().over(firstWins))
      .filter(col("rn") === 1)
      .drop("rn")
      .select(col("host"), col("url"), col("lastmod_day"), col("changefreq"),
        col("priority_permille"), col("sitemap_url"))
  }
}
