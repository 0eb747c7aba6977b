package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.fixtures.SyntheticStore

/** The reference's command surface as library calls (SURVEY §3.1/§3.3). */
class KrawlSpec extends SparkTestBase {
  import spark.implicits._

  test("list fetchers = the platform registry (ref fetcher/factory.py:31-38)") {
    assert(Krawl.listFetchers.toSet == Set("appropedia.org", "codeberg.org",
      "github.com", "gitlab.com", "oshwa.org", "thingiverse.com"))
  }

  test("fetch url: selected units fetched, bad URLs reported, url_seen committed (§3.1)") {
    val storeDir = Files.createTempDirectory("graft-krawl-store").toString
    SyntheticStore.ensureOnDisk(spark, storeDir, 60)
    val root = Files.createTempDirectory("graft-krawl-tables").toString
    // ids 7 and 14 are thingiverse-family (7%7==0, 14%7==0)
    val report = Krawl.fetchUrls(spark, Seq(
      "https://www.thingiverse.com/thing:7",
      "https://www.thingiverse.com/thing:14",
      "https://www.thingiverse.com/thing:99999", // not in store
      "https://example.com/nope", // unknown platform
      "garbage"), storeDir, root)
      .collect().map(r => r.getAs[String]("url") -> r.getAs[String]("status")).toMap
    assert(report("https://www.thingiverse.com/thing:7") == "ok")
    assert(report("https://www.thingiverse.com/thing:14") == "ok")
    assert(report("https://www.thingiverse.com/thing:99999") == "not_in_store")
    assert(report("https://example.com/nope").startsWith("parse_error"))
    assert(report("garbage").startsWith("parse_error"))
    val seen = graft.pipeline.CrawlPipeline.urlSeenStore(root).read(spark).get
      .select("unit_path").as[String].collect().toSet
    assert(seen == Set("thingiverse.com/0/7", "thingiverse.com/0/14"))
  }

  test("fetch url after a crawl run: the seen filters follow the url_seen commit " +
      "(no VERSION mismatch, so the next run does not rebuild them)") {
    import graft.frontier.SeenFilters
    import graft.pipeline.CrawlPipeline
    val storeDir = Files.createTempDirectory("graft-krawl-store").toString
    SyntheticStore.ensureOnDisk(spark, storeDir, 60)
    val root = Files.createTempDirectory("graft-krawl-tables").toString
    CrawlPipeline.run(spark, storeDir, root, limit = Some(20L))
    Krawl.fetchUrls(spark, Seq("https://www.thingiverse.com/thing:49"), storeDir, root)
    val seen = CrawlPipeline.urlSeenStore(root)
    val dir = s"$root/${SeenFilters.bloom.dirName}"
    assert(SeenFilters.bloom.filtersVersion(dir) == seen.currentVersion)
    // every committed key, the fetched one included, passes the filters
    assert(seen.read(spark).get.filter(!SeenFilters.bloom.predicate(dir)).isEmpty)
  }

  test("fetch url then crawl: every ok unit lands in results exactly once") {
    import graft.pipeline.CrawlPipeline
    val storeDir = Files.createTempDirectory("graft-krawl-store").toString
    SyntheticStore.ensureOnDisk(spark, storeDir, 60)
    val root = Files.createTempDirectory("graft-krawl-tables").toString
    Krawl.fetchUrls(spark, Seq("https://www.thingiverse.com/thing:7",
      "https://www.thingiverse.com/thing:14"), storeDir, root)
    CrawlPipeline.run(spark, storeDir, root)
    val ok = CrawlPipeline.urlSeenStore(root).read(spark).get
      .filter(col("status") === "ok").select("unit_path").as[String].collect().toSet
    assert(Set("thingiverse.com/0/7", "thingiverse.com/0/14").subsetOf(ok))
    val results = CrawlPipeline.resultsStore(root).read(spark).get
    val perUnit = results.groupBy("unit_path").count().as[(String, Long)].collect().toMap
    assert(perUnit == ok.map(_ -> 1L).toMap,
      s"missing: ${ok -- perUnit.keySet}, repeated: ${perUnit.filter(_._2 > 1)}")
    assert(results.filter(col("phash_check") =!= col("phash")).isEmpty)
  }

  test("convert: manifest → normalized → TOML + canonical JSON emissions (§3.3)") {
    val toml =
      """okhv = "OKH-LOSHv1.0"
        |name = "Conv Thing"
        |repo = "https://github.com/a/b"
        |version = "2.0"
        |license = "MIT"
        |licensor = "Ann"
        |function = "converts"
        |""".stripMargin
    val out = Krawl.convert(spark, Seq(("toml", toml)).toDF("fmt", "content")).collect()(0)
    assert(out.getAs[String]("toml").contains("name = \"Conv Thing\""))
    assert(out.getAs[String]("json").contains("\"license\": \"MIT\""))
    // emitted TOML round-trips through our parser
    val back = graft.formats.Toml.parse(out.getAs[String]("toml"))
    assert(back.str("version") == "2.0")
  }

  test("validate: rule columns over normalized projects (§3.3, strict.py subset)") {
    val good = ("toml",
      "okhv = \"OKH-LOSHv1.0\"\nname = \"Ok\"\nrepo = \"https://x.org/a\"\nversion = \"1\"\nlicense = \"MIT\"\nlicensor = \"A\"\n")
    val badLicense = ("toml",
      "okhv = \"OKH-LOSHv1.0\"\nname = \"Bad\"\nrepo = \"https://x.org/b\"\nversion = \"1\"\nlicense = \"MIT CC0-1.0\"\nlicensor = \"A\"\n")
    // a manifest with NO okhv now auto-converts as OKH v1 (C16,
    // manifest.py:194-200), so the strict missing-okhv rule (strict.py:
    // 28-29) is exercised the way it arises in the reference: a Project
    // whose okhv is unset coming out of a non-manifest normalizer —
    // modeled by nulling okhv post-normalize on one row
    val noOkhv = ("toml",
      "okhv = \"OKH-LOSHv1.0\"\nname = \"NoV\"\nrepo = \"https://x.org/c\"\nversion = \"1\"\nlicense = \"MIT\"\nlicensor = \"A\"\n")
    // blocked license (validator blocklist via the full LicenseDim)
    val blocked = ("toml",
      "okhv = \"OKH-LOSHv1.0\"\nname = \"Blk\"\nrepo = \"https://x.org/d\"\nversion = \"1\"\nlicense = \"CC-BY-NC-4.0\"\nlicensor = \"A\"\n")
    val projects = graft.normalize.Normalizers.manifest(spark,
      Seq(good, badLicense, noOkhv, blocked).toDF("fmt", "content"))
      .withColumn("okhv", when(col("name") === "NoV",
        lit(null).cast("string")).otherwise(col("okhv")))
    val v = Krawl.validate(projects)
      .select("name", "ok", "reasons").collect()
      .map(r => r.getString(0) -> (r.getBoolean(1), r.getString(2))).toMap
    assert(v("Ok") == (true, ""))
    assert(!v("Bad")._1 && v("Bad")._2.contains("unknown-license"))
    assert(!v("NoV")._1 && v("NoV")._2.contains("missing-okhv"))
    assert(!v("Blk")._1 && v("Blk")._2.contains("blocked-license"))
  }

  test("validate okhv: exact-membership only, no lax regex acceptance " +
      "(validator/__init__.py is_okh_version)") {
    // 'OKH-v2.0' used to slip through a regex fallback wider than the
    // reference's {okhv1.0, okh-loshv1.0} set — it must be invalid-okhv
    def tomlWith(okhv: String) =
      s"""okhv = "$okhv"
         |name = "V"
         |repo = "https://x.org/v"
         |version = "1"
         |license = "MIT"
         |licensor = "A"
         |""".stripMargin
    val projects = graft.normalize.Normalizers.manifest(spark,
      Seq(("toml", tomlWith("OKH-v2.0")), ("toml", tomlWith("OKHv1.0")),
        ("toml", tomlWith("okh-loshv1.0"))).toDF("fmt", "content"))
    val v = Krawl.validate(projects).select("okhv", "ok", "reasons").collect()
      .map(r => r.getString(0) -> (r.getBoolean(1), r.getString(2))).toMap
    assert(!v("OKH-v2.0")._1 && v("OKH-v2.0")._2.contains("invalid-okhv"))
    assert(v("OKHv1.0")._1) // case-insensitive membership
    assert(v("okh-loshv1.0")._1)
  }
}
