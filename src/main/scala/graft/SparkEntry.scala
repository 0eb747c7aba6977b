package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every operator from SURVEY.md §2 that is SQL-expressible is registered in
  * `queries` with a DuckDB twin in `oracleSql` (column names and integer
  * types aligned so the driver's sorted-column value hash matches).
  * Non-SQL-expressible operators (politeness fetch stage, image invariants,
  * snapshot resume, MinHash/SimHash/LSH) are registered rows-only and are
  * additionally covered by ScalaTest specs with stronger assertions.
  */
object SparkEntry {

  /** Flagship: the golden crawl order of the canonical frontier on
    * sf=0.001 (canonicalize → URL-seen dedup → priority order; SURVEY §3.4).
    */
  def entry(spark: SparkSession): DataFrame =
    CrawlOps.crawlOrder(spark, "/root/testdata/sf0.001")

  /** Fixed per-(name, key) scratch table root, RECREATED on each
    * invocation: repeated Verify/Bench runs reuse the same path instead of
    * leaking a fresh `Files.createTempDirectory` root per call (VERDICT r3
    * wrong-list #2), and a crashed previous invocation can never leave
    * partial state behind.
    */
  private def freshRunRoot(name: String, key: Long): String = {
    val p = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"), s"graft-$name-$key")
    val f = p.toFile
    // a partial delete + silent resume against leftover state would dump a
    // stale fetch log and fail the oracle with no hint — fail loudly here
    if (f.exists())
      require(scala.reflect.io.Directory(f).deleteRecursively(),
        s"could not clear scratch root $p")
    f.mkdirs()
    p.toString
  }

  /** The planted sitemap corpus's frontier, memoized per (session, sfDir) —
    * shared by `q_sitemap_frontier` and `q_recrawl_due`.
    */
  private def sitemapFrontier(s: SparkSession, d: String): DataFrame =
    graft.PlanCache.cached(s, s"sitemap-frontier:$d") {
      val (robots, docs) = graft.fixtures.PlantedFixtures.sitemapCorpus(s, d)
      graft.sources.Sitemaps.sitemapFrontier(robots, docs)
    }

  /** The planted recrawl fetch-state over the sitemap frontier, shared by
    * `q_recrawl_due` and `q_crawl_budget`: k%3 regimes (never fetched /
    * fetched day 18802+ / fetched day 18400+), changefreq overridden to
    * `never` for k%17 = 0.
    */
  private def recrawlState(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val k = regexp_extract(col("url"), "/p/(\\d+)", 1).cast("long")
    sitemapFrontier(s, d)
      .withColumn("k", k)
      .withColumn("changefreq",
        when(pmod(col("k"), lit(17)) === 0, lit("never"))
          .otherwise(col("changefreq")))
      .withColumn("last_fetch_day",
        when(pmod(col("k"), lit(3)) === 1,
          lit(18802L) + pmod(col("k") * 37, lit(60)))
          .when(pmod(col("k"), lit(3)) === 2,
            lit(18400L) + pmod(col("k") * 37, lit(60))))
      .drop("k")
  }

  /** The assembled training mix, persisted per (session, sfDir) — shared
    * by `q_training_mix`, `q_corpus_sample` and `q_pack_sequences` so its
    * gates + fingerprint-window pipeline executes once per run.
    */
  private def trainingMixCached(s: SparkSession, d: String): DataFrame =
    graft.PlanCache.cached(s, s"training-mix:$d")(TextOps.trainingMix(s, d))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- crawl frontier operators (SURVEY §2.2/2.3/2.5/2.6/2.9) ----
    "q_canonicalize" -> ((s, d) => CrawlOps.canonicalized(s, d)
      .select("url", "seq", "hosting_id", "unit_path")),
    "q_frontier_dedup" -> ((s, d) => CrawlOps.frontierDedup(s, d)),
    "q_crawl_order" -> ((s, d) => CrawlOps.crawlOrder(s, d)
      .withColumn("rank", org.apache.spark.sql.functions.col("rank").cast("long"))),
    "q_page_assign" -> ((s, d) => CrawlOps.pageAssign(s, d)
      .withColumn("pos", org.apache.spark.sql.functions.col("pos").cast("long"))),
    "q_politeness_schedule" -> ((s, d) => CrawlOps.politenessSchedule(s, d)
      .withColumn("pos", org.apache.spark.sql.functions.col("pos").cast("long"))),
    "q_url_seen_anti" -> ((s, d) => CrawlOps.urlSeenAnti(s, d)),
    // the ACTUAL politeness fetch stage (virtual clock, retries counted
    // against the budget) on a single-host frontier, oracle-checked against
    // the closed-form cumulative-sum schedule (R2/R3/S8)
    "q_fetch_schedule" -> ((s, d) => {
      import s.implicits._
      import org.apache.spark.sql.functions._
      val tasks = s.read.parquet(s"$d/part.parquet").select(col("p_partkey"))
        .as[Long].map(id => graft.fetch.FetchTask(
          s"thingiverse.com/${id / 10000}/$id", "thingiverse.com", id,
          priority = 1, seq = id, url_hash = 0L, bucket = 0L,
          content_hash = 0L, robots_denied = false))
      graft.fetch.FetchStage.run(s, tasks)
        .select(col("unit_path"), col("pos"),
          col("retries").cast("long").as("retries"), col("status"),
          col("scheduled_ms"), col("completed_ms"))
    }),
    "q_robots_gate" -> ((s, d) => CrawlOps.robotsGate(s, d)),
    "q_manifest_filter" -> ((s, d) => CrawlOps.manifestFilter(s, d)),
    "q_license_join" -> ((s, d) => CrawlOps.licenseJoin(s, d)),
    // full license dimension (licenses.py:117-226): SPDX asset JSON loaded
    // via spark.read, NFKD-casefold normalize_name key, name→id fallback
    "q_license_resolve" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      val raw = s.read.parquet(s"$d/part.parquet").select(
        col("p_partkey").as("k"),
        element_at(array(
          lit("MIT"), lit("mit"), lit("Apache License 2.0"), lit("ＭＩＴ"),
          lit("CERN-OHL-S-2.0"), lit("GNU General Public License v3.0 or later"),
          lit("CC-BY-NC-4.0"), lit("TotallyUnknown License")),
          (pmod(col("p_partkey"), lit(8)) + 1).cast("int")).as("raw_license"))
      graft.model.LicenseDim.resolve(s, raw, "raw_license")
        // nullable booleans as strings: pandas renders bool-nulls as NaN on
        // one engine and None on the other → string-typed for hash parity
        .select(col("k"), col("raw_license"), col("spdx_id"),
          col("is_blocked").cast("string").as("is_blocked"),
          col("is_osi_approved").cast("string").as("is_osi_approved"))
    }),
    "q_image_dedup" -> ((s, d) => CrawlOps.imageDedup(s, d)),
    "q_part_names" -> ((s, d) => CrawlOps.partNames(s, d)),
    "q_validate" -> ((s, d) => CrawlOps.validate(s, d)),
    // S4/J3: repo-info enrich — dedup(owner,repo) memoization → lookup seam
    // → broadcast-back join (github.py:501-550)
    "q_repo_enrich" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      val frontier = s.read.parquet(s"$d/part.parquet").select(
        col("p_partkey").as("k"),
        concat(lit("owner"), pmod(col("p_partkey"), lit(10))).as("owner"),
        concat(lit("repo"), pmod(col("p_partkey"), lit(37))).as("repo"),
        when(pmod(col("p_partkey"), lit(3)) === 0,
          concat(lit("v"), pmod(col("p_partkey"), lit(5))))
          .otherwise(lit(null).cast("string")).as("ref"))
      RepoEnrich.enrich(s, frontier)
        .select("k", "owner", "repo", "ref", "default_branch")
    }),
    // the GraphQL client boundary made data (github.py:45-112): synthetic
    // QUERY_PROJECT responses (deterministic functions of the key, nulls
    // where the API omits optionals) decoded by the REAL from_json schema +
    // projection in GithubGraphQL.parseProjectResponses — the repo-info
    // dimension S4/J3 consumes, plus the rateLimit budget columns
    "q_repo_enrich_graphql" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      val base = s.read.parquet(s"$d/part.parquet").select(col("p_partkey").as("k"))
      def topicNode(i: Int) = struct(struct(lit(s"topic$i").as("name")).as("topic"))
      val repo = struct(
        struct(concat(lit("owner"), pmod(col("k"), lit(10))).as("login")).as("owner"),
        concat(lit("repo"), col("k")).as("name"),
        (pmod(col("k"), lit(2)) === 0).as("isInOrganization"),
        concat(lit("https://github.com/owner"), pmod(col("k"), lit(10)),
          lit("/repo"), col("k")).as("url"),
        when(pmod(col("k"), lit(5)) === 0, lit(null).cast("string"))
          .otherwise(concat(lit("Repo "), col("k"))).as("description"),
        lit("2021-02-03T04:05:06Z").as("createdAt"),
        lit("2024-05-06T07:08:09Z").as("updatedAt"),
        when(pmod(col("k"), lit(7)) === 0, lit(null).cast("struct<name:string>"))
          .otherwise(struct(element_at(
            array(lit("main"), lit("master"), lit("develop")),
            (pmod(col("k"), lit(3)) + 1).cast("int")).as("name")))
          .as("defaultBranchRef"),
        when(pmod(col("k"), lit(3)) === 0,
          struct(struct(concat(lit("v"), pmod(col("k"), lit(5))).as("name")).as("tag")))
          .otherwise(lit(null).cast("struct<tag:struct<name:string>>"))
          .as("latestRelease"),
        when(pmod(col("k"), lit(4)) === 3, lit(null).cast("struct<spdxId:string>"))
          .otherwise(struct(element_at(
            array(lit("MIT"), lit("Apache-2.0"), lit("GPL-3.0-or-later")),
            (pmod(col("k"), lit(3)) + 1).cast("int")).as("spdxId")))
          .as("licenseInfo"),
        struct(slice(array(topicNode(1), topicNode(2)), lit(1),
          pmod(col("k"), lit(3)).cast("int")).as("nodes")).as("repositoryTopics"),
        (pmod(col("k"), lit(11)) === 0).as("isArchived"),
        pmod(col("k"), lit(100)).as("forkCount"),
        pmod(col("k") * 3, lit(1000)).as("stargazerCount"))
      val rateLimit = struct(lit(5000).as("limit"), lit(1).as("cost"),
        (lit(5000) - pmod(col("k"), lit(100))).cast("int").as("remaining"),
        lit("2024-05-06T08:00:00Z").as("resetAt"))
      val responses = base.select(col("k"), to_json(struct(
        struct(repo.as("repository"), rateLimit.as("rateLimit")).as("data"))).as("json"))
      graft.sources.GithubGraphQL.parseProjectResponses(responses, "json")
        .select(col("k"), col("owner"), col("name"), col("is_in_organization"),
          col("url"), col("description"), col("default_branch"),
          col("latest_release"), col("license_spdx"),
          size(col("topics")).cast("long").as("n_topics"),
          col("is_archived"), col("fork_count"), col("stargazer_count"),
          col("rl_remaining").cast("long").as("rl_remaining"))
    }),
    // bare-repo manifest probe order okh.{toml,yaml,yml,json,ttl,rdf,jsonld}
    // (github.py:43,362-368)
    "q_manifest_probe" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      val exts = RepoEnrich.ManifestProbeExtensions
      val base = s.read.parquet(s"$d/part.parquet")
        .select(col("p_partkey").as("k"),
          concat(lit("u"), col("p_partkey")).as("unit_path"))
      val units = base.select("unit_path")
      val files = base.filter(pmod(col("k"), lit(5)) =!= 4)
        .select(col("k"), col("unit_path"),
          concat(lit("okh."), element_at(
            array(exts.map(lit(_)): _*), (pmod(col("k"), lit(7)) + 1).cast("int")))
            .as("file_name"))
        .unionByName(
          base.filter(pmod(col("k"), lit(5)) =!= 4 && pmod(col("k"), lit(2)) === 0)
            .select(col("k"), col("unit_path"), lit("okh.json").as("file_name")))
        .select("unit_path", "file_name")
      RepoEnrich.probeManifest(units, files).select("unit_path", "manifest_file")
    }),
    "q_license_merge" -> ((s, d) => CrawlOps.licenseMerge(s, d)),
    "q_newest_per_group" -> ((s, d) => CrawlOps.newestPerGroup(s, d)),
    // CrawlingMeta re-visit bookkeeping (data_set.py:17-39) over a
    // deterministic synthetic event log — the same operator the pipeline
    // applies to its url_seen events (pipeline integration in
    // CrawlPipelineSpec's store-mutation test)
    "q_crawl_meta" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      val events = s.read.parquet(s"$d/lineitem.parquet").select(
        concat(lit("u"), col("l_orderkey")).as("unit_path"),
        // synthetic lineitem can repeat l_linenumber within an order — the
        // composite makes run_seq unique per unit so the lag window order
        // is engine-independent
        (col("l_linenumber").cast("long") * 1000000L
          + col("l_partkey").cast("long") * 1000L
          + col("l_suppkey").cast("long")).as("run_seq"),
        when(pmod(col("l_partkey"), lit(11)) === 0, "error")
          .when(pmod(col("l_partkey"), lit(13)) === 0, "not_found")
          .otherwise("ok").as("status"),
        pmod(col("l_suppkey"), lit(7)).cast("long").as("content_hash"))
      CrawlOps.crawlingMeta(events)
    }),
    "q_host_counts" -> ((s, d) => CrawlOps.hostCounts(s, d)),
    // ---- relational anchors ----
    "q1_pricing" -> ((s, d) => RelOps.q1PricingSummary(s, d)),
    "q6_forecast" -> ((s, d) => RelOps.q6Forecast(s, d)),
    "q_rollup_metrics" -> ((s, d) => RelOps.rollupMetrics(s, d)),
    "q3_shipping" -> ((s, d) => RelOps.q3Shipping(s, d)),
    "q12_shipmode" -> ((s, d) => RelOps.q12Shipmode(s, d)),
    "q14_promo" -> ((s, d) => RelOps.q14Promo(s, d)),
    "q5_region" -> ((s, d) => RelOps.q5Region(s, d)),
    "q_event_windows" -> ((s, d) => RelOps.eventWindows(s, d)),
    "q_sessionize" -> ((s, d) => RelOps.sessionize(s, d)),
    // ---- training-data pipeline: text ----
    "q_dedup_exact" -> ((s, d) => TextOps.dedupExact(s, d)),
    "q_fingerprint" -> ((s, d) => TextOps.fingerprint(s, d)),
    "q_token_count" -> ((s, d) => TextOps.tokenCount(s, d)),
    "q_quality" -> ((s, d) => TextOps.quality(s, d)),
    "q_lang_id" -> ((s, d) => TextOps.langId(s, d)),
    // capstone training-data composition: quality gate ∘ language gate ∘
    // fingerprint dedup ∘ deterministic md5 train/val/test split — one
    // shuffle total (the fingerprint window over gate survivors)
    "q_training_mix" -> ((s, d) => trainingMixCached(s, d)),
    // deterministic language-rebalancing downsample over the assembled
    // mix: en HALVED (the synthetic corpus is ~all-en, so the gate must
    // actually drop rows in both engines — a 256 rate would never
    // exercise the filter), de/fr/es scaled down, anything else dropped —
    // membership frozen by the salted content hash
    "q_corpus_sample" -> ((s, d) => TextOps.weightedSample(
      trainingMixCached(s, d), "pred_lang",
      Map("en" -> 128, "de" -> 64, "fr" -> 32, "es" -> 16))
      .select("doc_id", "pred_lang", "split", "n_tokens", "sample_bucket")),
    // stratified sequence packing of the mix into 2048-token bins
    "q_pack_sequences" -> ((s, d) =>
      TextOps.packSequences(trainingMixCached(s, d))),
    "q_ngram_jaccard" -> ((s, d) => TextOps.ngramJaccard(s, d)),
    // ---- planted-duplicate corpora (fixtures/PlantedFixtures): the
    // LSH/simhash family runs over documents whose near-dup pairs exist by
    // construction, so the expected pair set (and the exact metric values
    // for normalization-equivalent clones) is closed-form in DuckDB —
    // independent of Spark's xxhash64. A full-outer join against the
    // planted set surfaces BOTH misses (detected=0) and false positives
    // (variant=null) as hash mismatches.
    "q_minhash_lsh" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      val docs = graft.PlanCache.memo(s, s"planted-neardup:$d")(
        graft.fixtures.PlantedFixtures.nearDupDocs(s, d))
      TextOps.minhashLshOf(s, docs, s"planted:$d")
        .join(graft.fixtures.PlantedFixtures.nearDupPairs(s, d),
          Seq("doc_a", "doc_b"), "full_outer")
        .select(col("doc_a"), col("doc_b"), col("variant"),
          when(col("eq_permille").isNotNull, 1L).otherwise(0L).as("detected"),
          // append clones: the signature-equality fraction is
          // hash-dependent (true Jaccard ≈ 0.92) — only the exact variants
          // pin the metric value (identical signatures → 1000 exactly)
          when(col("variant") === "append", lit(null).cast("long"))
            .otherwise(col("eq_permille")).as("eq_exact"))
    }),
    "q_simhash" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      val docs = graft.PlanCache.memo(s, s"planted-bagdup:$d")(
        graft.fixtures.PlantedFixtures.bagDupDocs(s, d))
      val sig = graft.PlanCache.cached(s, s"simhash-sig:planted:$d")(
        TextOps.simhashOf(docs))
      // bag-preserving clones (case/whitespace/word order) must produce
      // bit-identical signatures: Hamming distance pinned to 0 per pair
      graft.fixtures.PlantedFixtures.bagDupPairs(s, d)
        .join(sig.select(col("doc_id").as("doc_a"), col("simhash").as("ha")), "doc_a")
        .join(sig.select(col("doc_id").as("doc_b"), col("simhash").as("hb")), "doc_b")
        .select(col("doc_a"), col("doc_b"), col("variant"),
          bit_count(col("ha").bitwiseXOR(col("hb"))).cast("long").as("hamming"))
    }),
    "q_simhash_pairs" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      val docs = graft.PlanCache.memo(s, s"planted-bagdup:$d")(
        graft.fixtures.PlantedFixtures.bagDupDocs(s, d))
      TextOps.simhashPairsOf(s, docs, s"planted:$d")
        .join(graft.fixtures.PlantedFixtures.bagDupPairs(s, d),
          Seq("doc_a", "doc_b"), "full_outer")
        .select(col("doc_a"), col("doc_b"), col("variant"),
          when(col("hamming").isNotNull, 1L).otherwise(0L).as("detected"),
          col("hamming").cast("long").as("hamming"))
    }),
    // dedup CLUSTERING: minhash-LSH pairs over the chain corpus →
    // connected components → (doc_id, canonical = min id of component).
    // The planted 3-member chains make every component closed-form
    // regardless of which of its 2-3 edges LSH emits
    "q_dedup_clusters" -> ((s, d) => {
      val docs = graft.PlanCache.memo(s, s"planted-chain:$d")(
        graft.fixtures.PlantedFixtures.chainDupDocs(s, d))
      val pairs = TextOps.minhashLshOf(s, docs, s"planted-chain:$d")
        .select("doc_a", "doc_b")
      TextOps.connectedComponents(pairs)
    }),
    // ---- training-data pipeline: vectors ----
    "q_ann_cosine" -> ((s, d) => VectorOps.annBruteForce(s, d)),
    // hyperplane-LSH ANN over embeddings ∪ planted neighbors (the exact
    // copy and the ×2.0f copy of each query vector): both land in the
    // query's bucket with bit-identical cosine (power-of-two scaling is
    // exact through every fp intermediate), so ranks 1 and 2 are the
    // closed-form planted ids — see PlantedFixtures
    "q_ann_lsh" -> ((s, d) => {
      val emb = graft.PlanCache.memo(s, s"planted-emb:$d")(
        graft.fixtures.PlantedFixtures.plantedEmbeddings(s, d))
      VectorOps.annLshOf(s, emb, s"planted:$d", nQueries = 20, k = 2)
    }),
    // second ANN scale path: IVF inverted lists (cosine coarse quantizer,
    // probe-limited exact re-rank). Same planted corpus and closed form as
    // q_ann_lsh — cosine assignment is scale-invariant, so the exact and
    // ×2 clones share the query's list and occupy ranks 1/2
    "q_ann_ivf" -> ((s, d) => {
      val emb = graft.PlanCache.memo(s, s"planted-emb:$d")(
        graft.fixtures.PlantedFixtures.plantedEmbeddings(s, d))
      VectorOps.annIvfOf(s, emb, s"planted:$d", nQueries = 20, k = 2)
    }),
    // the Lloyd-TRAINED coarse quantizer through the same probe + re-rank
    // path: cosine assignment is scale-invariant for ANY centroid set, so
    // the planted exact/×2 clones share their query's list and the
    // identical ranks-1/2 closed form oracles the trained path too
    "q_ann_ivf_trained" -> ((s, d) => {
      val emb = graft.PlanCache.memo(s, s"planted-emb:$d")(
        graft.fixtures.PlantedFixtures.plantedEmbeddings(s, d))
      VectorOps.annIvfTrainedOf(s, emb, s"planted:$d", nQueries = 20, k = 2)
    }),
    // the synthetic embeddings carry no true duplicates (max in-block cosine
    // ≈0.47), so the query runs the operator at a 0.3 threshold to exercise
    // the pair-emitting path with oracle-checked rows
    "q_embed_neardup" -> ((s, d) => VectorOps.embedNearDup(s, d, minPermille = 300)),
    // embedding-cosine dedup CLUSTERS: near-dup pairs over the planted
    // embedding corpus (exact + ×2-scaled clones, cosine bit-exactly ~1.0,
    // every distinct pair ≤ ~0.47) → connected components. Components are
    // the closed-form 3-member clone families {v, v+1e7, v+2e7}, canonical v
    "q_embed_clusters" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      val emb = graft.PlanCache.memo(s, s"planted-emb:$d")(
        graft.fixtures.PlantedFixtures.plantedEmbeddings(s, d))
        .withColumn("emb", expr("transform(embedding, x -> cast(x as double))"))
      val pairs = VectorOps.embedNearDupOf(emb, minPermille = 990)
        .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"))
      TextOps.connectedComponents(pairs)
    }),
    // ---- sitemap-fed frontier (sources/Sitemaps.scala) ----
    // robots `Sitemap:` discovery → urlset/sitemapindex XML parse →
    // one-level index expansion → first-wins URL dedup, over the planted
    // sitemap corpus whose every field is key arithmetic (PlantedFixtures
    // .sitemapCorpus) — the XML round-trips through the real parser while
    // the oracle never touches XML
    "q_sitemap_frontier" -> ((s, d) => sitemapFrontier(s, d)),
    // freshness scheduling over that frontier: planted last-fetch regimes
    // (never / recent / old) + a `never`-changefreq override, day-granular
    // intervals, lastmod-evidence override, per-host budget of 5
    "q_recrawl_due" -> ((s, d) =>
      graft.frontier.Recrawl.due(recrawlState(s, d),
        nowDay = 18862L, perHostBudget = 5)),
    // global-budget apportionment above the per-host queues: the full due
    // set (unbounded per-host) → count per host → largest-remainder split
    // of a 100-fetch cycle budget with a 20-per-host politeness cap
    "q_crawl_budget" -> ((s, d) => graft.frontier.Recrawl.allocateBudget(
      graft.frontier.Recrawl.dueSet(recrawlState(s, d), nowDay = 18862L),
      globalBudget = 100L, perHostCap = 20L)),
    // ---- normalize-stage scalar functions (SURVEY §2.8) ----
    "q_slugify" -> ((s, d) => NormOps.slugify(s, d)),
    "q_openscad_dims" -> ((s, d) => NormOps.openscadDims(s, d)),
    "q_spdx_split" -> ((s, d) => NormOps.spdxSplit(s, d)),
    "q_person_parse" -> ((s, d) => NormOps.personParse(s, d)),
    "q_datetime_parse" -> ((s, d) => NormOps.datetimeParse(s, d)),
    "q_mime_join" -> ((s, d) => NormOps.mimeJoin(s, d)),
    // ---- platform normalizers + serializers (rows-only; specs assert goldens) ----
    "q_normalize_thingiverse" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      val hits = graft.operators.ScanFloor(s.read.parquet(s"$d/part.parquet"))
        .select(to_json(struct(
        col("p_partkey").as("id"), col("p_name").as("name"),
        concat(lit("https://www.thingiverse.com/thing:"), col("p_partkey")).as("public_url"),
        lit("2020-01-02T03:04:05+00:00").as("modified"),
        concat(lit("A <b>"), col("p_brand"), lit("</b> part.\r\nNice.")).as("description"),
        element_at(array(lit("Creative Commons - Attribution"), lit("GNU - GPL"),
          lit("All Rights Reserved")), (pmod(col("p_partkey"), lit(3)) + 1).cast("int"))
          .as("license"))).as("json"))
      graft.normalize.Normalizers.thingiverse(s, hits)
        .select("project_id", "name", "repo", "version", "license_spdx", "function", "trl", "drl")
    }),
    // full-breadth manifest normalization (manifest.py:214-545): TOML gen →
    // parse → normalize → scalar projection, oracle-checked against the
    // closed-form expectation computed directly from the key
    "q_normalize_manifest" -> ((s, d) => {
      import s.implicits._
      import org.apache.spark.sql.functions._
      val raw = graft.operators.ScanFloor(
        s.read.parquet(s"$d/part.parquet").select(col("p_partkey")))
        .as[Long].map(k => (k, graft.fixtures.SyntheticManifests.toml(k)))
        .toDF("k", "content").withColumn("fmt", lit("toml"))
      val p = graft.normalize.Normalizers.manifest(s, raw)
      p.select(
        col("project_id"), col("name"), col("version"), col("release"),
        col("license_spdx"),
        get(col("licensor"), lit(0)).getField("name").as("licensor_name"),
        get(col("licensor"), lit(0)).getField("email").as("licensor_email"),
        get(col("organization"), lit(0)).getField("name").as("org_name"),
        col("trl"), col("drl"), col("cpc_patent_class"), col("tsdc"),
        get(col("readme"), lit(0)).getField("path").as("readme_path"),
        get(col("readme"), lit(0)).getField("url").as("readme_url"),
        get(col("bom"), lit(0)).getField("path").as("bom_path"),
        floor(col("mass") * 10).cast("long").as("mass_dg"),
        floor(coalesce(col("outer_dimensions.width"), lit(-1))).cast("long").as("width_mm"),
        size(col("part")).cast("long").as("n_parts"),
        size(col("software")).cast("long").as("n_software"),
        get(col("part"), lit(0)).getField("material").as("part1_material"),
        get(col("part"), lit(1)).getField("tsdc").as("part2_tsdc"),
        size(col("documentation_language")).cast("long").as("n_langs"),
        size(col("attestation")).cast("long").as("n_attestations"),
        get(col("software"), lit(0)).getField("license_spdx").as("sw_license"))
    }),
    // C16: OKH v1 YAML manifests (no okhv key) through the v1→LOSH
    // conversion + the SAME manifest normalizer; oracle = closed-form
    // LOSH projection of the public-spec field mapping (normalize/OkhV1)
    "q_normalize_v1" -> ((s, d) => {
      import s.implicits._
      import org.apache.spark.sql.functions._
      val raw = graft.operators.ScanFloor(
        s.read.parquet(s"$d/part.parquet").select(col("p_partkey")))
        .as[Long].map(k => (k, graft.fixtures.SyntheticManifests.v1Yaml(k)))
        .toDF("k", "content").withColumn("fmt", lit("yaml"))
      val p = graft.normalize.Normalizers.manifest(s, raw)
      p.select(
        col("project_id"), col("name"), col("version"), col("release"),
        col("okhv"), col("license_spdx"),
        get(col("licensor"), lit(0)).getField("name").as("licensor_name"),
        get(col("licensor"), lit(0)).getField("email").as("licensor_email"),
        get(col("organization"), lit(0)).getField("name").as("org_name"),
        col("function"),
        size(col("documentation_language")).cast("long").as("n_langs"),
        get(col("image"), lit(0)).getField("path").as("image_path"),
        get(col("bom"), lit(0)).getField("path").as("bom_path"),
        get(col("manufacturing_instructions"), lit(0)).getField("path").as("mi_path"),
        get(col("user_manual"), lit(0)).getField("path").as("manual_path"),
        size(col("standard_compliance")).cast("long").as("n_standards"))
    }),
    // strict validation (validator/strict.py:24-88 + C19 regexes) over
    // normalized manifests with injected defects, oracle-checked against
    // the closed-form expected reasons per key
    "q_validate_projects" -> ((s, d) => {
      import s.implicits._
      import org.apache.spark.sql.functions._
      val raw = graft.operators.ScanFloor(
        s.read.parquet(s"$d/part.parquet").select(col("p_partkey")))
        .as[Long].map(k => (k, graft.fixtures.SyntheticManifests.toml(k)))
        .toDF("k0", "content").withColumn("fmt", lit("toml"))
      val p = graft.normalize.Normalizers.manifest(s, raw)
        .withColumn("k", regexp_extract(col("repo"), "repo(\\d+)$", 1).cast("long"))
        // injected defects, keyed deterministically
        .withColumn("okhv",
          when(pmod(col("k"), lit(9)) === 0, lit("OKH-bogus ?")).otherwise(col("okhv")))
        .withColumn("documentation_language",
          when(pmod(col("k"), lit(10)) === 3, array(lit("not a lang!")))
            .otherwise(col("documentation_language")))
        .withColumn("version",
          when(pmod(col("k"), lit(8)) === 5, lit("v1.0")).otherwise(col("version")))
        .withColumn("readme",
          when(pmod(col("k"), lit(12)) === 7, array(struct(
            lit(null).cast("string").as("name"), lit("../evil.md").as("path"),
            lit(null).cast("string").as("url")))).otherwise(col("readme")))
      graft.Krawl.validate(p).select("k", "reasons", "warnings", "ok")
    }),
    // full 3-graph RDF serialization (C24 parity with rdf_serializer.py:
    // 75-869): every project → toml/meta/data graphs, exploded to the
    // queryable triple table with a `graph` column. rows-only (goldens with
    // exact turtle + per-graph triple parity live in SerializersSpec).
    "q_rdf_triples" -> ((s, d) => {
      import s.implicits._
      import org.apache.spark.sql.functions._
      val hits = graft.operators.ScanFloor(s.read.parquet(s"$d/part.parquet"))
        .select(to_json(struct(
        col("p_partkey").as("id"), col("p_name").as("name"),
        concat(lit("https://www.thingiverse.com/thing:"), col("p_partkey")).as("public_url"),
        lit("2020-01-02T03:04:05+00:00").as("modified"),
        concat(lit("Makes "), col("p_type"), lit(" parts.")).as("description"),
        lit("GNU - GPL").as("license"),
        struct(lit("A").as("first_name"), lit("B").as("last_name"),
          lit("https://www.thingiverse.com/a_b").as("public_url")).as("creator"),
        struct(
          array(struct(lit("i.png").as("name"),
            concat(lit("https://cdn.thingiverse.test/"), col("p_partkey"), lit(".png")).as("url"),
            lit(null).cast("string").as("added"))).as("images"),
          array(struct(lit("m.stl").as("name"),
            concat(lit("https://cdn.thingiverse.test/"), col("p_partkey"), lit(".stl")).as("url"),
            lit(null).cast("string").as("direct_url"))).as("files")).as("zip_data"))).as("json"))
      val projects = graft.normalize.Normalizers.thingiverse(s, hits)
      projects.flatMap { r =>
        val p = graft.model.ProjectModel.fromRow(r)
        val cm = graft.model.CrawlMeta.initial("thingiverse.com", "api")
        graft.serialize.RdfSerializer.tripleRows(p, cm)
      }.toDF()
    }),
    // image decode + metadata extraction over the synthetic store, with
    // the store dumped to a fixed parquet path so DuckDB can read the SAME
    // rows: the decode-extracted (w, h, fmt_guess, phash) must round-trip
    // the stored metadata exactly (store phash is computed over decoded
    // pixels — SyntheticStore.row). The dump is a CONSTANT 500 rows at
    // every scale (rows are pure functions of id), and the count is in the
    // path — so gates at different scales can never clobber each other
    // into a mismatch, and the write is once-only (ensureOnDisk marker).
    "q_multimodal_featurize" -> ((s, d) => {
      val dumpDir = "/tmp/graft_mm_store_500"
      graft.fixtures.SyntheticStore.ensureOnDisk(s, dumpDir, 500L)
      val store = s.read.parquet(dumpDir)
      MultimodalOps.featurizeImages(s, store).drop("thumbnail", "embedding")
    }),
    // multimodal → ANN end-to-end (VERDICT r4 #6): plant an exact byte
    // copy (+1e7) and a re-encoded copy (+2e7, the REAL resize/re-encode
    // operator at identity scale — lossless, so decoded pixels and hence
    // the aHash embedding are bit-identical) of each query image, then run
    // the full bridge featurize → imageEmbedding → IVF ANN. Identical
    // ±1-component embeddings give cosine exactly 1.0 (dot=64, norm=8 —
    // no rounding anywhere), so the (sim desc, neighbor_id) tie-break
    // pins the exact copy at rank 1 and the re-encoded copy at rank 2,
    // closed-form per query id.
    "q_multimodal_ann" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      val dumpDir = "/tmp/graft_mm_store_500"
      graft.fixtures.SyntheticStore.ensureOnDisk(s, dumpDir, 500L)
      val store = s.read.parquet(dumpDir).select(
        regexp_extract(col("image_id"), "^thing:(\\d+)/", 1).cast("long")
          .as("vec_id"),
        col("bytes"))
      val q = store.filter(col("vec_id") < 20)
      val corpus = store
        .unionByName(q.select(
          (col("vec_id") + graft.fixtures.PlantedFixtures.CloneExact).as("vec_id"),
          col("bytes")))
        .unionByName(q.select(
          (col("vec_id") + graft.fixtures.PlantedFixtures.CloneScaled).as("vec_id"),
          MultimodalOps.resizeUdf(4096)(col("bytes")).as("bytes")))
      val emb = corpus.select(col("vec_id"),
        MultimodalOps.imageEmbeddingUdf(col("bytes")).as("embedding"))
      // gif-family store images (id ≡ 2 mod 4) are UNIFORM gray: cosine is
      // scale-invariant, so constant images are all mutually parallel at
      // cos 1.0 — no luminance embedding can rank them (they differ only
      // by brightness scale). They stay in the corpus (indexed, probed);
      // the oracle pins only the textured queries, whose sole cos-1.0
      // neighbors are their planted clones.
      VectorOps.annIvfOf(s, emb, s"mm-planted:$d", nQueries = 20, k = 2)
        .filter(pmod(col("qid"), lit(4)) =!= 2)
    }),
    // image NEAR-DUP pairs: the pHash/pigeonhole image twin of
    // q_simhash_pairs. Corpus = the 480 gradient store images (ids >= 20 —
    // an aHash-degenerate background, massively self-colliding, which is
    // exactly why pairs are anchored at the query ids) + 19 noise-textured
    // query images (per-pixel hash noise → every aHash bit is an
    // independent coin flip, pairwise Hamming ≈ 32 vs everything,
    // spec-verified separation) + three planted clone classes per query:
    // exact byte copy (+1e7), lossless re-encode through the REAL resize
    // operator at identity scale (+2e7), and a +8 uniform brightness shift
    // (+3e7 — the TRUE near-dup: every pixel differs, PSNR ≈ 30 dB, but
    // aHash is exactly invariant because mean and block grays shift
    // together). Full-outer join against the planted set: misses AND
    // false positives both break the hash.
    "q_image_neardup" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      val dumpDir = "/tmp/graft_mm_store_500"
      graft.fixtures.SyntheticStore.ensureOnDisk(s, dumpDir, 500L)
      val P = graft.fixtures.PlantedFixtures
      val corpus = P.imageNearDupCorpus(s, dumpDir)
      val planted = s.range(1L, 20L).select(col("id").as("doc_a"),
        explode(array(
          struct(lit("exact").as("variant"), lit(P.CloneExact).as("off")),
          struct(lit("reencode").as("variant"), lit(P.CloneScaled).as("off")),
          struct(lit("brightness").as("variant"), lit(P.CloneShifted).as("off"))))
          .as("c"))
        .select(col("doc_a"), (col("doc_a") + col("c.off")).as("doc_b"),
          col("c.variant"))
      MultimodalOps.imageNearDupPairsOf(s, corpus, s"img-planted:$d")
        .filter(col("doc_a") < 20)
        .join(planted, Seq("doc_a", "doc_b"), "full_outer")
        .select(col("doc_a"), col("doc_b"), col("variant"),
          when(col("hamming").isNotNull, 1L).otherwise(0L).as("detected"),
          col("hamming").cast("long").as("hamming"))
    }),
    // image dedup CLUSTERING e2e: the q_image_neardup corpus (background
    // included as distractors) through pairs → connected components →
    // groups. Each planted component is {qid, +1e7, +2e7, +3e7} with
    // canonical qid; the aHash-degenerate background forms its own
    // clusters, which the closed form excludes by canonical id — the
    // separation spec guarantees no background node can ever attach to a
    // planted component, so a background id appearing under a canonical
    // < 20 (or a planted member missing) is a hash mismatch.
    "q_image_dedup_clusters" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      val dumpDir = "/tmp/graft_mm_store_500"
      graft.fixtures.SyntheticStore.ensureOnDisk(s, dumpDir, 500L)
      val P = graft.fixtures.PlantedFixtures
      val corpus = P.imageNearDupCorpus(s, dumpDir)
      MultimodalOps.imageDedupClusters(s, corpus, s"img-planted:$d")
        .filter(col("canonical_doc_id") < 20)
    }),
    // vision-training prep scan: ViT patch counts, quarter-step aspect
    // buckets, extreme-aspect/min-dim keep gate — REAL decode for the
    // dimensions, integer arithmetic for everything derived, so the
    // oracle is closed-form over the dumped store's stored (w, h)
    "q_vision_prep" -> ((s, d) => {
      val dumpDir = "/tmp/graft_mm_store_500"
      graft.fixtures.SyntheticStore.ensureOnDisk(s, dumpDir, 500L)
      MultimodalOps.visionPrep(s, s.read.parquet(dumpDir))
    }),
    // the capstone of the pair table: image gate (real decode) ∧ caption
    // gate (real C6∘C8 normalize) in ONE scan — the alpha threshold 780
    // genuinely splits the store (351/149), the image gate 286/214, so
    // all four keep quadrants are oracle-exercised
    "q_multimodal_pairs" -> ((s, d) => {
      val dumpDir = "/tmp/graft_mm_store_500"
      graft.fixtures.SyntheticStore.ensureOnDisk(s, dumpDir, 500L)
      MultimodalOps.pairGate(s, s.read.parquet(dumpDir))
    }),
    // the CAPTION side of the image+caption pair through the REAL
    // normalize pipeline (C6 strip_html ∘ C8 fix_encoding — the S10 sink's
    // own caption path) + quality columns. Closed-form because the store's
    // caption family is constrained by construction (id%10==3 simple
    // tags, id%10==7 cp1252 mojibake, else clean): the DuckDB oracle
    // applies the per-residue repair directly and must agree with the
    // general-purpose operators byte-for-byte.
    "q_caption_quality" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      val dumpDir = "/tmp/graft_mm_store_500"
      graft.fixtures.SyntheticStore.ensureOnDisk(s, dumpDir, 500L)
      graft.operators.ScanFloor(s.read.parquet(dumpDir))
        .select(col("image_id"),
          trim(graft.functions.TextNormalize.normalizeCaptionUdf(col("caption")))
            .as("caption_clean"))
        .select(col("image_id"), col("caption_clean"),
          length(col("caption_clean")).cast("long").as("n_chars"),
          size(split(col("caption_clean"), "\\s+")).cast("long").as("n_tokens"),
          graft.operators.MultimodalOps.alphaPermille(col("caption_clean"))
            .as("alpha_permille"))
    }),
    // full crawl pipeline end-to-end (frontier → bloom dedup → robots →
    // politeness fetch → normalize+invariants → snapshot commits); output =
    // the deterministic fetch log, oracle-checked against the closed-form
    // multi-host schedule (the six-family generalization of the
    // q_fetch_schedule oracle: pos/scheduled/completed/retries/status are
    // all arithmetic over the id residues + per-host politeness cumsum).
    // Resume/invariant assertions live in CrawlPipelineSpec.
    "q_crawl_e2e" -> ((s, d) => {
      val n = s.read.parquet(s"$d/part.parquet").count()
      val storeDir = s"/tmp/graft_e2e_store_$n"
      graft.fixtures.SyntheticStore.ensureOnDisk(s, storeDir, n)
      val root = freshRunRoot("e2e", n)
      graft.pipeline.CrawlPipeline.run(s, storeDir, root)
      graft.pipeline.CrawlPipeline.fetchLogStore(root).read(s).get
        .select("unit_path", "hosting_id", "id", "pos", "scheduled_ms",
          "completed_ms", "retries", "status")
    }),
    // NON-default-config crawl e2e (VERDICT r4 #2): the same pipeline
    // under `runConfigured` with a YAML user config (exercising
    // CrawlConfig.fromYaml in the gate) where BOTH politeness mechanisms
    // bind differently from the defaults — every interval doubled AND a
    // GitHub window budget small enough to trip constantly (4 request
    // slots per 60 s window at a 10 s interval: even retry-free stretches
    // exhaust it every window). The oracle generalizes the q_crawl_e2e
    // closed form: non-budget hosts stay a per-host cumsum at the doubled
    // intervals; the github schedule is the exact FetchStage window
    // recurrence, expressed as a recursive CTE in DuckDB.
    "q_crawl_e2e_configured" -> ((s, d) => {
      val n = s.read.parquet(s"$d/part.parquet").count()
      val storeDir = s"/tmp/graft_e2e_store_$n" // shared with q_crawl_e2e
      graft.fixtures.SyntheticStore.ensureOnDisk(s, storeDir, n)
      val root = freshRunRoot("e2e-cfg", n)
      val cfg = graft.CrawlConfig.fromYaml(ConfiguredCrawlYaml)
        .fold(errs => throw new IllegalArgumentException(errs.mkString("; ")),
          identity)
      graft.pipeline.CrawlPipeline.runConfigured(s, storeDir, root, cfg)
      graft.pipeline.CrawlPipeline.fetchLogStore(root).read(s).get
        .select("unit_path", "hosting_id", "id", "pos", "scheduled_ms",
          "completed_ms", "retries", "status")
    }),
    // url_seen COMPACTION through the driver gate: sliced crawl to
    // exhaustion with auto-compaction + a final compaction, then the
    // resolved summary itself is the oracle-checked output — (perm, n_err)
    // per unit are closed-form functions of the id residues (robots %103 →
    // permanent; not_found %101 → permanent; error %997 → never-permanent
    // with exactly MaxErrorRetries recorded attempts; transient %97 retries
    // resolve IN-stage and record zero url_seen errors)
    "q_compact_summary" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      val n = s.read.parquet(s"$d/part.parquet").count()
      val storeDir = s"/tmp/graft_e2e_store_$n" // shared with q_crawl_e2e
      graft.fixtures.SyntheticStore.ensureOnDisk(s, storeDir, n)
      val root = freshRunRoot("compact", n)
      graft.pipeline.CrawlPipeline.runUntilDone(s, storeDir, root, math.max(1L, n / 3))
      graft.pipeline.CrawlPipeline.compactUrlSeen(s, root)
      graft.pipeline.CrawlPipeline.urlSeenSummaryStore(root).read(s).get
        .select(col("unit_path"), col("perm").cast("long").as("perm"),
          col("n_err"))
    })
  )

  /** The q_crawl_e2e_configured user config: every interval doubled vs
    * the shipped defaults, plus a deliberately tight GitHub window budget
    * (4 slots / 60 s) so the R1 budget actually binds in the oracle-checked
    * schedule. YAML on purpose — the gate then covers fromYaml end-to-end.
    */
  val ConfiguredCrawlYaml: String =
    """# non-default crawl budgets (q_crawl_e2e_configured)
      |politeness:
      |  thingiverse.com:
      |    min_interval_ms: 2000
      |  github.com:
      |    min_interval_ms: 10000
      |    budget_requests: 4
      |    window_ms: 60000
      |  oshwa.org:
      |    min_interval_ms: 10000
      |  appropedia.org:
      |    min_interval_ms: 2000
      |  gitlab.com:
      |    min_interval_ms: 10000
      |  codeberg.org:
      |    min_interval_ms: 10000
      |""".stripMargin

  private val S = Seeds.seedsSql
  private val C = Seeds.canonSql

  /** Shared oracle prelude: the full `trainingMix` pipeline (gates →
    * lang-id → fingerprint dedup → frozen split) as DuckDB CTEs ending in
    * `mix(doc_id, pred_lang, split, n_tokens)` — the base the sampling
    * and packing oracles extend. Kept textually in sync with the
    * `q_training_mix` oracle below.
    */
  private val MixCte: String =
    """WITH g AS (
      |  SELECT doc_id, text,
      |    CAST(length(text) AS BIGINT) AS n_chars_m,
      |    CAST(floor(length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
      |      * 1000.0 / length(text)) AS BIGINT) AS alpha_permille,
      |    lower(text) AS lt
      |  FROM documents),
      |sc AS (
      |  SELECT *,
      |    (length(lt) - length(replace(lt, ' the ', ''))) // 5
      |      + (length(lt) - length(replace(lt, ' and ', ''))) // 5
      |      + (length(lt) - length(replace(lt, ' is ', ''))) // 4 AS score_en,
      |    (length(lt) - length(replace(lt, ' der ', ''))) // 5
      |      + (length(lt) - length(replace(lt, ' und ', ''))) // 5
      |      + (length(lt) - length(replace(lt, ' die ', ''))) // 5 AS score_de,
      |    (length(lt) - length(replace(lt, ' le ', ''))) // 4
      |      + (length(lt) - length(replace(lt, ' la ', ''))) // 4
      |      + (length(lt) - length(replace(lt, ' et ', ''))) // 4 AS score_fr,
      |    (length(lt) - length(replace(lt, ' el ', ''))) // 4
      |      + (length(lt) - length(replace(lt, ' los ', ''))) // 5
      |      + (length(lt) - length(replace(lt, ' una ', ''))) // 5 AS score_es
      |  FROM g),
      |lg AS (
      |  SELECT *,
      |    CASE
      |      WHEN score_en >= score_de AND score_en >= score_fr AND score_en >= score_es AND score_en > 0 THEN 'en'
      |      WHEN score_de >= score_fr AND score_de >= score_es AND score_de > 0 THEN 'de'
      |      WHEN score_fr >= score_es AND score_fr > 0 THEN 'fr'
      |      WHEN score_es > 0 THEN 'es'
      |      ELSE 'und' END AS pred_lang
      |  FROM sc),
      |gated AS (
      |  SELECT * FROM lg
      |  WHERE n_chars_m >= 40 AND n_chars_m <= 100000
      |    AND alpha_permille >= 500 AND pred_lang IN ('en','de','fr','es')),
      |canon AS (
      |  SELECT *,
      |    min(doc_id) OVER (PARTITION BY
      |      md5(lower(regexp_replace(text, '\s+', ' ', 'g')))) AS canonical
      |  FROM gated),
      |b AS (
      |  SELECT *,
      |    (strpos('0123456789abcdef',
      |       substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16
      |    + strpos('0123456789abcdef',
      |       substr(md5('split:' || CAST(doc_id AS VARCHAR)), 2, 1)) - 1 AS bucket
      |  FROM canon WHERE doc_id = canonical),
      |mix AS (
      |  SELECT doc_id, pred_lang,
      |    CASE WHEN bucket < 13 THEN 'test'
      |         WHEN bucket < 26 THEN 'val'
      |         ELSE 'train' END AS split,
      |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens
      |  FROM b)""".stripMargin

  /** Shared oracle prelude for the recrawl family: the planted sitemap
    * frontier + fetch state + due rule as DuckDB CTEs ending in
    * `d(host, url, …, is_due)` — the base `q_recrawl_due` and
    * `q_crawl_budget` extend. Mirrors `recrawlState` + `Recrawl.due`'s
    * due rule exactly.
    */
  private val RecrawlCte: String =
    """WITH f AS (
      |  SELECT
      |    'site' || (p_partkey % 8) || '.example' AS host,
      |    'https://site' || (p_partkey % 8) || '.example/p/' || p_partkey ||
      |      CASE WHEN p_partkey % 11 = 0 THEN '?a=1&b=2' ELSE '' END AS url,
      |    CASE WHEN p_partkey % 5 <> 0 THEN 18262 + p_partkey % 365 END AS lastmod_day,
      |    CASE WHEN p_partkey % 17 = 0 THEN 'never'
      |      ELSE CASE p_partkey % 4 WHEN 0 THEN 'daily' WHEN 1 THEN 'weekly'
      |        WHEN 2 THEN 'monthly' END END AS changefreq,
      |    CASE WHEN p_partkey % 7 <> 0
      |      THEN CAST((p_partkey % 10) * 100 AS BIGINT) END AS priority_permille,
      |    CASE WHEN p_partkey % 3 = 1 THEN 18802 + (p_partkey * 37) % 60
      |      WHEN p_partkey % 3 = 2 THEN 18400 + (p_partkey * 37) % 60
      |    END AS last_fetch_day
      |  FROM part),
      |d AS (
      |  SELECT *,
      |    CASE WHEN last_fetch_day IS NULL THEN TRUE
      |      WHEN lastmod_day IS NOT NULL AND lastmod_day > last_fetch_day THEN TRUE
      |      WHEN changefreq = 'never' THEN FALSE
      |      ELSE 18862 - last_fetch_day >=
      |        CASE changefreq WHEN 'always' THEN 0 WHEN 'hourly' THEN 0
      |          WHEN 'daily' THEN 1 WHEN 'weekly' THEN 7 WHEN 'monthly' THEN 30
      |          WHEN 'yearly' THEN 365 ELSE 7 END
      |    END AS is_due
      |  FROM f)""".stripMargin

  def oracleSql: Map[String, String] = Map(
    // deterministic weighted downsample: keep iff the salted 256-bucket
    // content hash falls under the language's /256 rate
    "q_corpus_sample" -> (MixCte +
      """,
        |samp AS (
        |  SELECT *,
        |    CAST((strpos('0123456789abcdef',
        |         substr(md5('sample:' || CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16
        |      + strpos('0123456789abcdef',
        |         substr(md5('sample:' || CAST(doc_id AS VARCHAR)), 2, 1)) - 1
        |      AS BIGINT) AS sample_bucket
        |  FROM mix)
        |SELECT doc_id, pred_lang, split, n_tokens, sample_bucket
        |FROM samp
        |WHERE sample_bucket < CASE pred_lang
        |  WHEN 'en' THEN 128 WHEN 'de' THEN 64 WHEN 'fr' THEN 32
        |  WHEN 'es' THEN 16 ELSE 0 END""".stripMargin),
    // stratified sequence packing: per-(split, stratum) token cumsum in
    // doc_id order → start offset and 2048-token bin per document
    "q_pack_sequences" -> (MixCte +
      """,
        |st AS (SELECT *, doc_id // 64 AS stratum FROM mix),
        |o AS (
        |  SELECT doc_id, split, stratum, n_tokens,
        |    CAST(sum(n_tokens) OVER (
        |      PARTITION BY split, stratum ORDER BY doc_id) AS BIGINT)
        |      - n_tokens AS offset_start
        |  FROM st)
        |SELECT doc_id, split, stratum, offset_start,
        |  offset_start // 2048 AS bin_local, n_tokens
        |FROM o""".stripMargin),
    "q_canonicalize" ->
      s"""WITH $S, $C
         |SELECT s.url, s.seq, c.hosting_id, c.unit_path
         |FROM seeds s JOIN canon c USING (seq)""".stripMargin,
    "q_frontier_dedup" ->
      s"""WITH $C
         |SELECT unit_path, hosting_id, min(seq) AS first_seq, count(*) AS n_aliases
         |FROM canon GROUP BY unit_path, hosting_id""".stripMargin,
    "q_crawl_order" ->
      s"""WITH $C,
         |deduped AS (
         |  SELECT unit_path, hosting_id, any_value(priority) AS priority,
         |         min(seq) AS first_seq
         |  FROM canon GROUP BY unit_path, hosting_id)
         |SELECT row_number() OVER (ORDER BY priority, first_seq) AS rank,
         |       priority, unit_path, hosting_id, first_seq
         |FROM deduped""".stripMargin,
    "q_page_assign" ->
      s"""WITH $C,
         |deduped AS (
         |  SELECT unit_path, hosting_id, min(seq) AS first_seq
         |  FROM canon GROUP BY unit_path, hosting_id),
         |pol(hosting_id, min_interval_ms, page_size) AS (VALUES
         |  ('thingiverse.com', 1000, 1), ('github.com', 5000, 10),
         |  ('oshwa.org', 5000, 50), ('appropedia.org', 1000, 1),
         |  ('gitlab.com', 5000, 10), ('codeberg.org', 5000, 10)),
         |pos AS (
         |  SELECT unit_path, hosting_id,
         |         row_number() OVER (PARTITION BY hosting_id ORDER BY first_seq) AS pos
         |  FROM deduped)
         |SELECT p.unit_path, p.hosting_id, p.pos,
         |       ((p.pos - 1) // pol.page_size) + 1 AS page
         |FROM pos p JOIN pol USING (hosting_id)""".stripMargin,
    "q_politeness_schedule" ->
      s"""WITH $C,
         |deduped AS (
         |  SELECT unit_path, hosting_id, min(seq) AS first_seq
         |  FROM canon GROUP BY unit_path, hosting_id),
         |pol(hosting_id, min_interval_ms, page_size) AS (VALUES
         |  ('thingiverse.com', 1000, 1), ('github.com', 5000, 10),
         |  ('oshwa.org', 5000, 50), ('appropedia.org', 1000, 1),
         |  ('gitlab.com', 5000, 10), ('codeberg.org', 5000, 10)),
         |pos AS (
         |  SELECT unit_path, hosting_id,
         |         row_number() OVER (PARTITION BY hosting_id ORDER BY first_seq) AS pos
         |  FROM deduped)
         |SELECT p.unit_path, p.hosting_id, p.pos,
         |       CAST((p.pos - 1) * pol.min_interval_ms AS BIGINT) AS scheduled_ms
         |FROM pos p JOIN pol USING (hosting_id)""".stripMargin,
    "q_url_seen_anti" ->
      s"""WITH $C,
         |deduped AS (
         |  SELECT unit_path, hosting_id, min(seq) AS first_seq
         |  FROM canon GROUP BY unit_path, hosting_id),
         |seen AS (
         |  SELECT CASE p_partkey % 5
         |      WHEN 0 THEN 'thingiverse.com/' || CAST(p_partkey // 10000 AS VARCHAR) || '/' || p_partkey
         |      WHEN 1 THEN 'github.com/owner' || (p_partkey % 10) || '/repo' || p_partkey || '/main/okh.toml'
         |      WHEN 2 THEN 'oshwa.org/' || printf('us%06d', p_partkey)
         |      WHEN 3 THEN 'gitlab.com/group' || (p_partkey % 4) || '/proj' || p_partkey || '/main/okh.toml'
         |      ELSE 'codeberg.org/org' || (p_partkey % 3) || '/unit' || p_partkey || '/main/okh.toml'
         |    END AS unit_path
         |  FROM part WHERE p_partkey % 7 = 0)
         |SELECT d.unit_path, d.hosting_id, d.first_seq FROM deduped d
         |WHERE NOT EXISTS (SELECT 1 FROM seen WHERE seen.unit_path = d.unit_path)""".stripMargin,
    "q_fetch_schedule" ->
      """WITH t AS (SELECT p_partkey AS id FROM part),
        |o AS (
        |  SELECT id,
        |    CASE WHEN id % 101 = 0 THEN 'not_found'
        |         WHEN id % 97 = 0 THEN 'ok'
        |         WHEN id % 997 = 0 THEN 'error'
        |         ELSE 'ok' END AS status,
        |    CASE WHEN id % 101 = 0 THEN 0
        |         WHEN id % 97 = 0 THEN 2
        |         WHEN id % 997 = 0 THEN 3
        |         ELSE 0 END AS attempts
        |  FROM t),
        |w AS (
        |  SELECT *, CAST(row_number() OVER (ORDER BY id) AS BIGINT) AS pos,
        |    CAST(sum((attempts + 1) * 1000) OVER (ORDER BY id
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS completed
        |  FROM o)
        |SELECT 'thingiverse.com/' || CAST(id // 10000 AS VARCHAR) || '/' || id AS unit_path,
        |  pos, CAST(attempts AS BIGINT) AS retries, status,
        |  completed - (attempts + 1) * 1000 AS scheduled_ms,
        |  completed AS completed_ms
        |FROM w""".stripMargin,
    "q_robots_gate" ->
      s"""WITH $C,
         |deduped AS (
         |  SELECT unit_path, hosting_id, min(seq) AS first_seq
         |  FROM canon GROUP BY unit_path, hosting_id),
         |rules(r_hosting_id, path_prefix) AS (VALUES
         |  ('github.com', 'github.com/owner3/'),
         |  ('thingiverse.com', 'thingiverse.com/0/9'),
         |  ('oshwa.org', 'oshwa.org/us0001'),
         |  ('gitlab.com', 'gitlab.com/group1/'),
         |  ('codeberg.org', 'codeberg.org/org2/'))
         |SELECT d.unit_path, d.hosting_id, d.first_seq FROM deduped d
         |WHERE NOT EXISTS (
         |  SELECT 1 FROM rules r
         |  WHERE d.hosting_id = r.r_hosting_id
         |    AND starts_with(d.unit_path, r.path_prefix))""".stripMargin,
    "q_manifest_filter" ->
      """WITH names AS (
        |  SELECT p_partkey AS k,
        |    CASE p_partkey % 5
        |      WHEN 0 THEN 'okh.toml' WHEN 1 THEN 'project.okh.yml'
        |      WHEN 2 THEN 'readme.toml' WHEN 3 THEN 'okh-ventilator.yaml'
        |      ELSE 'okh.txt' END AS file_name
        |  FROM part)
        |SELECT k, file_name FROM names
        |WHERE regexp_matches(regexp_replace(file_name, '\.[^.]*$', ''),
        |        '^(.+\.)?okh([_\-:.][0-9a-zA-Z:._\-]+)?$')
        |  AND regexp_matches(regexp_extract(file_name, '(\.[^.]*)$', 1),
        |        '^\.(json|toml|ya?ml)$')""".stripMargin,
    "q_license_join" ->
      """WITH dim(license_name, spdx) AS (VALUES
        |  ('Creative Commons - Attribution', 'CC-BY-4.0'),
        |  ('Creative Commons - Attribution - Share Alike', 'CC-BY-SA-4.0'),
        |  ('Creative Commons - Attribution - No Derivatives', NULL),
        |  ('Creative Commons - Attribution - Non-Commercial', NULL),
        |  ('Creative Commons - Attribution - Non-Commercial - Share Alike', NULL),
        |  ('Creative Commons - Attribution - Non-Commercial - No Derivatives', NULL),
        |  ('Creative Commons - Share Alike', 'CC-BY-SA-4.0'),
        |  ('Creative Commons - No Derivatives', NULL),
        |  ('Creative Commons - Non-Commercial', NULL),
        |  ('Creative Commons - Non Commercial - Share alike', NULL),
        |  ('Creative Commons - Non Commercial - No Derivatives', NULL),
        |  ('Creative Commons - Public Domain Dedication', 'CC0-1.0'),
        |  ('Public Domain', 'CC0-1.0'),
        |  ('GNU - GPL', 'GPL-3.0-or-later'),
        |  ('GNU - LGPL', 'LGPL-3.0-or-later'),
        |  ('BSD', 'BSD-4-Clause'), ('BSD License', 'BSD-4-Clause'),
        |  ('Nokia', NULL), ('All Rights Reserved', NULL),
        |  ('Other', NULL), ('None', NULL)),
        |withl AS (
        |  SELECT p_partkey AS k,
        |    CASE p_partkey % 6
        |      WHEN 0 THEN 'Creative Commons - Attribution'
        |      WHEN 1 THEN 'GNU - GPL'
        |      WHEN 2 THEN 'BSD'
        |      WHEN 3 THEN 'All Rights Reserved'
        |      WHEN 4 THEN 'Creative Commons - Public Domain Dedication'
        |      ELSE 'Creative Commons - Attribution - Non-Commercial'
        |    END AS license_name
        |  FROM part)
        |SELECT w.k, w.license_name, d.spdx, d.spdx IS NOT NULL AS is_open_source
        |FROM withl w LEFT JOIN dim d USING (license_name)""".stripMargin,
    "q_license_resolve" ->
      """WITH t AS (
        |  SELECT p_partkey AS k,
        |    CASE p_partkey % 8
        |      WHEN 0 THEN 'MIT' WHEN 1 THEN 'mit'
        |      WHEN 2 THEN 'Apache License 2.0' WHEN 3 THEN 'ＭＩＴ'
        |      WHEN 4 THEN 'CERN-OHL-S-2.0'
        |      WHEN 5 THEN 'GNU General Public License v3.0 or later'
        |      WHEN 6 THEN 'CC-BY-NC-4.0' ELSE 'TotallyUnknown License' END AS raw_license,
        |    CASE p_partkey % 8
        |      WHEN 0 THEN 'MIT' WHEN 1 THEN 'MIT' WHEN 2 THEN 'Apache-2.0'
        |      WHEN 3 THEN 'MIT' WHEN 4 THEN 'CERN-OHL-S-2.0'
        |      WHEN 5 THEN 'GPL-3.0-or-later' WHEN 6 THEN 'CC-BY-NC-4.0'
        |      ELSE NULL END AS spdx_id
        |  FROM part)
        |SELECT k, raw_license, spdx_id,
        |  CASE WHEN spdx_id IS NULL THEN NULL
        |       WHEN spdx_id = 'CC-BY-NC-4.0' THEN 'true' ELSE 'false' END AS is_blocked,
        |  CASE WHEN spdx_id IS NULL THEN NULL
        |       WHEN spdx_id IN ('MIT','Apache-2.0','CERN-OHL-S-2.0','GPL-3.0-or-later')
        |       THEN 'true' ELSE 'false' END AS is_osi_approved
        |FROM t""".stripMargin,
    "q_image_dedup" ->
      """SELECT l_orderkey AS project_id,
        |       'img://' || (l_partkey % 50) AS image_url,
        |       min(CAST(l_linenumber AS BIGINT)) AS kept_seq,
        |       count(*) AS n_dups
        |FROM lineitem GROUP BY 1, 2""".stripMargin,
    "q_part_names" ->
      """WITH li AS (
        |  SELECT l_orderkey AS project_id, CAST(l_linenumber AS BIGINT) AS seq,
        |         'part-' || (l_partkey % 5) AS name_clean
        |  FROM lineitem),
        |rn AS (
        |  SELECT *, row_number() OVER (PARTITION BY project_id, name_clean ORDER BY seq) AS r
        |  FROM li)
        |SELECT project_id, seq, name_clean,
        |       CASE WHEN r > 1 THEN name_clean || CAST(r - 1 AS VARCHAR) ELSE name_clean END AS name
        |FROM rn""".stripMargin,
    "q_validate" ->
      """SELECT doc_id,
        |  concat_ws(',',
        |    CASE WHEN n_chars <= 0 THEN 'empty' END,
        |    CASE WHEN n_chars > 100000 THEN 'too-long' END,
        |    CASE WHEN lang NOT IN ('en','de','fr','es','it','pt','nl') THEN 'bad-lang' END,
        |    CASE WHEN length(source) = 0 THEN 'no-source' END) AS reasons,
        |  concat_ws(',',
        |    CASE WHEN n_chars <= 0 THEN 'empty' END,
        |    CASE WHEN n_chars > 100000 THEN 'too-long' END,
        |    CASE WHEN lang NOT IN ('en','de','fr','es','it','pt','nl') THEN 'bad-lang' END,
        |    CASE WHEN length(source) = 0 THEN 'no-source' END) = '' AS ok
        |FROM documents""".stripMargin,
    "q_validate_projects" ->
      """SELECT p_partkey AS k,
        |  concat_ws(',',
        |    CASE WHEN p_partkey % 9 = 0 THEN 'invalid-okhv' END,
        |    CASE WHEN p_partkey % 4 = 3 THEN 'unknown-license' END,
        |    CASE WHEN p_partkey % 10 = 3 THEN 'invalid-language' END,
        |    CASE WHEN p_partkey % 12 = 7 THEN 'bad-readme-path' END) AS reasons,
        |  CASE WHEN p_partkey % 8 = 5 THEN 'nonsemver-version' ELSE '' END AS warnings,
        |  concat_ws(',',
        |    CASE WHEN p_partkey % 9 = 0 THEN 'invalid-okhv' END,
        |    CASE WHEN p_partkey % 4 = 3 THEN 'unknown-license' END,
        |    CASE WHEN p_partkey % 10 = 3 THEN 'invalid-language' END,
        |    CASE WHEN p_partkey % 12 = 7 THEN 'bad-readme-path' END) = '' AS ok
        |FROM part""".stripMargin,
    "q_repo_enrich" ->
      """WITH t AS (
        |  SELECT p_partkey AS k,
        |         'owner' || (p_partkey % 10) AS owner,
        |         'repo' || (p_partkey % 37) AS repo,
        |         CASE WHEN p_partkey % 3 = 0 THEN 'v' || (p_partkey % 5) END AS ref
        |  FROM part),
        |e AS (
        |  SELECT *, CASE (length(owner) * 7 + length(repo)) % 3
        |    WHEN 0 THEN 'main' WHEN 1 THEN 'master' ELSE 'develop' END AS default_branch
        |  FROM t)
        |SELECT k, owner, repo, coalesce(ref, default_branch) AS ref, default_branch
        |FROM e""".stripMargin,
    "q_repo_enrich_graphql" ->
      """SELECT p_partkey AS k,
        |  'owner' || (p_partkey % 10) AS owner,
        |  'repo' || p_partkey AS name,
        |  (p_partkey % 2 = 0) AS is_in_organization,
        |  'https://github.com/owner' || (p_partkey % 10) || '/repo' || p_partkey AS url,
        |  CASE WHEN p_partkey % 5 = 0 THEN NULL
        |       ELSE 'Repo ' || p_partkey END AS description,
        |  CASE WHEN p_partkey % 7 = 0 THEN NULL
        |       ELSE CASE p_partkey % 3 WHEN 0 THEN 'main' WHEN 1 THEN 'master'
        |            ELSE 'develop' END END AS default_branch,
        |  CASE WHEN p_partkey % 3 = 0 THEN 'v' || (p_partkey % 5) END AS latest_release,
        |  CASE WHEN p_partkey % 4 = 3 THEN NULL
        |       ELSE CASE p_partkey % 3 WHEN 0 THEN 'MIT' WHEN 1 THEN 'Apache-2.0'
        |            ELSE 'GPL-3.0-or-later' END END AS license_spdx,
        |  CAST(p_partkey % 3 AS BIGINT) AS n_topics,
        |  (p_partkey % 11 = 0) AS is_archived,
        |  CAST(p_partkey % 100 AS BIGINT) AS fork_count,
        |  CAST((p_partkey * 3) % 1000 AS BIGINT) AS stargazer_count,
        |  CAST(5000 - p_partkey % 100 AS BIGINT) AS rl_remaining
        |FROM part""".stripMargin,
    "q_manifest_probe" ->
      """WITH e AS (
        |  SELECT p_partkey AS k,
        |    CASE WHEN p_partkey % 5 = 4 THEN NULL
        |         WHEN p_partkey % 2 = 0 AND 3 < (p_partkey % 7) THEN 3
        |         ELSE p_partkey % 7 END AS best
        |  FROM part)
        |SELECT 'u' || k AS unit_path,
        |  CASE WHEN best IS NULL THEN NULL
        |       WHEN best = 0 THEN 'okh.toml' WHEN best = 1 THEN 'okh.yaml'
        |       WHEN best = 2 THEN 'okh.yml' WHEN best = 3 THEN 'okh.json'
        |       WHEN best = 4 THEN 'okh.ttl' WHEN best = 5 THEN 'okh.rdf'
        |       ELSE 'okh.jsonld' END AS manifest_file
        |FROM e""".stripMargin,
    "q_license_merge" ->
      """WITH base(norm_name, name, is_osi, is_spdx) AS (VALUES
        |  ('mit', 'MIT', true, true),
        |  ('apache-2.0', 'Apache License 2.0', true, true),
        |  ('cc-by-4.0', 'CC Attribution 4.0', false, true),
        |  ('gpl-3.0-or-later', 'GPL v3+', true, true)),
        |extra(norm_name, x_name, x_is_osi) AS (VALUES
        |  ('cc-by-4.0', 'Creative Commons Attribution 4.0', NULL),
        |  ('cern-ohl-s-2.0', 'CERN OHL strong', false))
        |SELECT coalesce(b.norm_name, e.norm_name) AS norm_name,
        |  coalesce(e.x_name, b.name) AS name,
        |  coalesce(e.x_is_osi, b.is_osi) AS is_osi,
        |  coalesce(b.is_spdx, false) AS is_spdx,
        |  r.r_regionkey
        |FROM base b FULL OUTER JOIN extra e ON b.norm_name = e.norm_name
        |CROSS JOIN (SELECT r_regionkey FROM region) r""".stripMargin,
    "q_newest_per_group" ->
      """WITH rn AS (
        |  SELECT o_custkey, o_orderkey, o_orderdate,
        |    row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_orderdate DESC, o_orderkey) AS r
        |  FROM orders)
        |SELECT o_custkey, o_orderkey AS newest_orderkey, o_orderdate AS newest_date
        |FROM rn WHERE r = 1""".stripMargin,
    "q_crawl_meta" ->
      """WITH ev AS (
        |  SELECT 'u' || l_orderkey AS unit_path,
        |         CAST(l_linenumber AS BIGINT) * 1000000
        |           + CAST(l_partkey AS BIGINT) * 1000
        |           + CAST(l_suppkey AS BIGINT) AS run_seq,
        |         CASE WHEN l_partkey % 11 = 0 THEN 'error'
        |              WHEN l_partkey % 13 = 0 THEN 'not_found'
        |              ELSE 'ok' END AS status,
        |         CAST(l_suppkey % 7 AS BIGINT) AS content_hash
        |  FROM lineitem),
        |ok AS (
        |  SELECT unit_path, run_seq, content_hash,
        |         lag(content_hash) OVER (PARTITION BY unit_path ORDER BY run_seq) AS prev_hash
        |  FROM ev WHERE status = 'ok'),
        |okagg AS (
        |  SELECT unit_path,
        |         max(run_seq) AS last_successfully_visited,
        |         CAST(sum(CASE WHEN prev_hash IS NOT NULL AND prev_hash <> content_hash
        |                       THEN 1 ELSE 0 END) AS BIGINT) AS changes,
        |         max(CASE WHEN prev_hash IS NOT NULL AND prev_hash <> content_hash
        |                  THEN run_seq END) AS last_detected_change
        |  FROM ok GROUP BY 1),
        |base AS (
        |  SELECT unit_path, count(*) AS visits, min(run_seq) AS first_visited,
        |         max(run_seq) AS last_visited
        |  FROM ev GROUP BY 1)
        |SELECT b.unit_path, b.visits, b.first_visited, b.last_visited,
        |       o.last_successfully_visited, coalesce(o.changes, 0) AS changes,
        |       o.last_detected_change
        |FROM base b LEFT JOIN okagg o USING (unit_path)""".stripMargin,
    "q_host_counts" ->
      s"""WITH $C
         |SELECT hosting_id, count(*) AS n_units, CAST(sum(cnt) AS BIGINT) AS n_seed_urls
         |FROM (SELECT unit_path, hosting_id, count(*) AS cnt FROM canon
         |      GROUP BY unit_path, hosting_id)
         |GROUP BY hosting_id""".stripMargin,
    "q1_pricing" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(floor(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty,
        |  CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_base_cents,
        |  CAST(sum(CAST(floor(l_extendedprice * (1.0 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS sum_disc_cents,
        |  count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin,
    "q6_forecast" ->
      """SELECT
        |  CAST(sum(CAST(floor(l_extendedprice * l_discount * 100) AS BIGINT)) AS BIGINT) AS revenue_cents,
        |  count(*) AS n_rows
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1994-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1995-01-01 00:00:00'
        |  AND l_discount >= 0.05 AND l_discount <= 0.07
        |  AND l_quantity < 24""".stripMargin,
    "q_rollup_metrics" ->
      """SELECT event_type,
        |  CASE WHEN value >= 0 THEN 'nonneg' ELSE 'neg' END AS value_sign,
        |  count(*) AS n,
        |  CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS sum_value_cents
        |FROM events
        |GROUP BY ROLLUP (event_type,
        |  CASE WHEN value >= 0 THEN 'nonneg' ELSE 'neg' END)""".stripMargin,
    "q3_shipping" ->
      """SELECT l.l_orderkey, o.o_orderdate,
        |  CAST(sum(CAST(floor(l.l_extendedprice * (1.0 - l.l_discount) * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
        |FROM lineitem l
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |WHERE c.c_mktsegment = 'BUILDING'
        |  AND o.o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
        |  AND l.l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
        |GROUP BY 1, 2
        |ORDER BY revenue_cents DESC, l.l_orderkey
        |LIMIT 10""".stripMargin,
    "q12_shipmode" ->
      """SELECT l.l_linestatus,
        |  CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |  CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT','2-HIGH') THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |WHERE l.l_shipdate >= TIMESTAMP '1994-01-01 00:00:00'
        |GROUP BY 1""".stripMargin,
    "q14_promo" ->
      """WITH j AS (
        |  SELECT CASE WHEN starts_with(p.p_type, 'PROMO')
        |           THEN floor(l.l_extendedprice * (1.0 - l.l_discount) * 100) ELSE 0 END AS promo,
        |         floor(l.l_extendedprice * (1.0 - l.l_discount) * 100) AS total
        |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        |  WHERE l.l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
        |    AND l.l_shipdate < TIMESTAMP '1995-04-01 00:00:00')
        |SELECT CAST(sum(promo) AS BIGINT) AS promo_cents,
        |       CAST(sum(total) AS BIGINT) AS total_cents,
        |       CAST(floor(sum(promo) * 1000.0 / sum(total)) AS BIGINT) AS promo_permille
        |FROM j""".stripMargin,
    "q5_region" ->
      """SELECT r.r_name, n.n_name,
        |  CAST(sum(CAST(floor(l.l_extendedprice * (1.0 - l.l_discount) * 100) AS BIGINT)) AS BIGINT) AS revenue_cents,
        |  count(*) AS n_items
        |FROM lineitem l
        |JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |JOIN nation n ON s.s_nationkey = n.n_nationkey
        |JOIN region r ON n.n_regionkey = r.r_regionkey
        |GROUP BY 1, 2""".stripMargin,
    "q_event_windows" ->
      """SELECT date_trunc('hour', ts) AS window_start, event_type,
        |  count(*) AS n_events,
        |  CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS sum_value_cents,
        |  count(DISTINCT user_id) AS n_users
        |FROM events GROUP BY 1, 2""".stripMargin,
    "q_sessionize" ->
      """WITH e AS (
        |  SELECT user_id, ts,
        |         lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts
        |  FROM events),
        |s AS (
        |  SELECT user_id, ts,
        |    CASE WHEN prev_ts IS NULL
        |              OR date_diff('second', prev_ts, ts) > 1800
        |         THEN 1 ELSE 0 END AS new_session
        |  FROM e),
        |x AS (
        |  SELECT user_id, ts,
        |    CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_idx
        |  FROM s)
        |SELECT user_id, session_idx, count(*) AS n_events,
        |       min(ts) AS session_start, max(ts) AS session_end
        |FROM x GROUP BY 1, 2""".stripMargin,
    "q_dedup_exact" ->
      """SELECT md5(text) AS text_hash, min(doc_id) AS canonical_doc_id,
        |       count(*) AS n_copies
        |FROM documents GROUP BY 1""".stripMargin,
    "q_fingerprint" ->
      """SELECT doc_id,
        |       md5(lower(regexp_replace(text, '\s+', ' ', 'g'))) AS fp
        |FROM documents""".stripMargin,
    "q_token_count" ->
      """SELECT doc_id,
        |  CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))
        |    AS BIGINT) AS n_tokens_bpe,
        |  CAST(length(text) AS BIGINT) AS n_chars_m
        |FROM documents""".stripMargin,
    "q_quality" ->
      """SELECT doc_id,
        |  CAST(length(text) AS BIGINT) AS n_chars_m,
        |  CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS BIGINT) AS alpha_chars,
        |  CAST(floor(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) * 1000.0 / length(text)) AS BIGINT) AS alpha_permille,
        |  CAST(floor(length(regexp_replace(text, '[^0-9]', '', 'g')) * 1000.0 / length(text)) AS BIGINT) AS digit_permille,
        |  CAST(floor((length(text)
        |    - length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
        |    - length(regexp_replace(text, '[^0-9]', '', 'g'))
        |    - length(regexp_replace(text, '[^ \t\n]', '', 'g'))) * 1000.0 / length(text)) AS BIGINT) AS punct_permille
        |FROM documents""".stripMargin,
    // the full composition restated in SQL: same gates, same window-min
    // canonical, same md5 bucket arithmetic (strpos ≡ Spark instr)
    "q_training_mix" ->
      """WITH g AS (
        |  SELECT doc_id, text,
        |    CAST(length(text) AS BIGINT) AS n_chars_m,
        |    CAST(floor(length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
        |      * 1000.0 / length(text)) AS BIGINT) AS alpha_permille,
        |    lower(text) AS lt
        |  FROM documents),
        |sc AS (
        |  SELECT *,
        |    (length(lt) - length(replace(lt, ' the ', ''))) // 5
        |      + (length(lt) - length(replace(lt, ' and ', ''))) // 5
        |      + (length(lt) - length(replace(lt, ' is ', ''))) // 4 AS score_en,
        |    (length(lt) - length(replace(lt, ' der ', ''))) // 5
        |      + (length(lt) - length(replace(lt, ' und ', ''))) // 5
        |      + (length(lt) - length(replace(lt, ' die ', ''))) // 5 AS score_de,
        |    (length(lt) - length(replace(lt, ' le ', ''))) // 4
        |      + (length(lt) - length(replace(lt, ' la ', ''))) // 4
        |      + (length(lt) - length(replace(lt, ' et ', ''))) // 4 AS score_fr,
        |    (length(lt) - length(replace(lt, ' el ', ''))) // 4
        |      + (length(lt) - length(replace(lt, ' los ', ''))) // 5
        |      + (length(lt) - length(replace(lt, ' una ', ''))) // 5 AS score_es
        |  FROM g),
        |lg AS (
        |  SELECT *,
        |    CASE
        |      WHEN score_en >= score_de AND score_en >= score_fr AND score_en >= score_es AND score_en > 0 THEN 'en'
        |      WHEN score_de >= score_fr AND score_de >= score_es AND score_de > 0 THEN 'de'
        |      WHEN score_fr >= score_es AND score_fr > 0 THEN 'fr'
        |      WHEN score_es > 0 THEN 'es'
        |      ELSE 'und' END AS pred_lang
        |  FROM sc),
        |gated AS (
        |  SELECT * FROM lg
        |  WHERE n_chars_m >= 40 AND n_chars_m <= 100000
        |    AND alpha_permille >= 500 AND pred_lang IN ('en','de','fr','es')),
        |canon AS (
        |  SELECT *,
        |    min(doc_id) OVER (PARTITION BY
        |      md5(lower(regexp_replace(text, '\s+', ' ', 'g')))) AS canonical
        |  FROM gated),
        |b AS (
        |  SELECT *,
        |    (strpos('0123456789abcdef',
        |       substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16
        |    + strpos('0123456789abcdef',
        |       substr(md5('split:' || CAST(doc_id AS VARCHAR)), 2, 1)) - 1 AS bucket
        |  FROM canon WHERE doc_id = canonical)
        |SELECT doc_id, pred_lang,
        |  CASE WHEN bucket < 13 THEN 'test'
        |       WHEN bucket < 26 THEN 'val'
        |       ELSE 'train' END AS split,
        |  CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens,
        |  n_chars_m, alpha_permille
        |FROM b""".stripMargin,
    "q_lang_id" ->
      """WITH t AS (SELECT doc_id, lower(text) AS lt FROM documents),
        |sc AS (
        |  SELECT doc_id,
        |    (length(lt) - length(replace(lt, ' the ', ''))) // 5
        |      + (length(lt) - length(replace(lt, ' and ', ''))) // 5
        |      + (length(lt) - length(replace(lt, ' is ', ''))) // 4 AS score_en,
        |    (length(lt) - length(replace(lt, ' der ', ''))) // 5
        |      + (length(lt) - length(replace(lt, ' und ', ''))) // 5
        |      + (length(lt) - length(replace(lt, ' die ', ''))) // 5 AS score_de,
        |    (length(lt) - length(replace(lt, ' le ', ''))) // 4
        |      + (length(lt) - length(replace(lt, ' la ', ''))) // 4
        |      + (length(lt) - length(replace(lt, ' et ', ''))) // 4 AS score_fr,
        |    (length(lt) - length(replace(lt, ' el ', ''))) // 4
        |      + (length(lt) - length(replace(lt, ' los ', ''))) // 5
        |      + (length(lt) - length(replace(lt, ' una ', ''))) // 5 AS score_es
        |  FROM t)
        |SELECT doc_id, score_en, score_de, score_fr, score_es,
        |  CASE
        |    WHEN score_en >= score_de AND score_en >= score_fr AND score_en >= score_es AND score_en > 0 THEN 'en'
        |    WHEN score_de >= score_fr AND score_de >= score_es AND score_de > 0 THEN 'de'
        |    WHEN score_fr >= score_es AND score_fr > 0 THEN 'fr'
        |    WHEN score_es > 0 THEN 'es'
        |    ELSE 'und' END AS predicted_lang
        |FROM sc""".stripMargin,
    "q_ngram_jaccard" ->
      """WITH w AS (
        |  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS words
        |  FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id, shingle FROM (
        |    SELECT doc_id,
        |      unnest(list_transform(generate_series(1, len(words) - 4),
        |        i -> array_to_string(words[i:i+4], ' '))) AS shingle
        |    FROM w WHERE len(words) >= 5)),
        |sizes AS (SELECT doc_id, count(*) AS n_shingles FROM sh GROUP BY 1),
        |rare AS (SELECT shingle FROM sh GROUP BY shingle HAVING count(*) <= 1000),
        |idx AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN rare USING (shingle)),
        |inter AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
        |  FROM idx a JOIN idx b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT i.doc_a, i.doc_b, i.inter,
        |  CAST(floor(i.inter * 1000.0 / (sa.n_shingles + sb.n_shingles - i.inter)) AS BIGINT) AS jaccard_permille
        |FROM inter i
        |JOIN sizes sa ON i.doc_a = sa.doc_id
        |JOIN sizes sb ON i.doc_b = sb.doc_id
        |WHERE floor(i.inter * 1000.0 / (sa.n_shingles + sb.n_shingles - i.inter)) >= 100""".stripMargin,
    // closed-form expectation of the thingiverse normalizer over the same
    // deterministic hit JSON: license CASE map, strip_html on the
    // description, fixed trl/drl constants (thingiverse.py:62-90,120-155)
    "q_normalize_thingiverse" ->
      """SELECT
        |  'thingiverse.com/' || CAST(p_partkey // 10000 AS VARCHAR) || '/' || p_partkey AS project_id,
        |  p_name AS name,
        |  'https://www.thingiverse.com/thing:' || p_partkey AS repo,
        |  '2020-01-02T03:04:05+00:00' AS version,
        |  CASE p_partkey % 3 WHEN 0 THEN 'CC-BY-4.0'
        |       WHEN 1 THEN 'GPL-3.0-or-later' ELSE NULL END AS license_spdx,
        |  'A ' || p_brand || ' part.' || chr(10) || 'Nice.' AS "function",
        |  'OTRL-4' AS trl,
        |  'ODRL-3' AS drl
        |FROM part""".stripMargin,
    // full-fidelity RDF oracle: the q_rdf_triples hit template is UNIFORM
    // across projects, so each project emits exactly these 40 (graph,s,p,o)
    // triples with only id/name/type substitutions — the oracle pins every
    // triple of all three graphs (incl. license resolution 'GNU - GPL' →
    // spdxl:GPL-3.0-or-later, rdf_serializer.py quirks) per project
    "q_rdf_triples" ->
      """WITH tpl(graph, s, p, o) AS (VALUES
        |  ('data', ':licensor0', 'a', 'dcterms:Agent'),
        |  ('data', ':licensor0', 'a', 'foaf:Person'),
        |  ('data', ':licensor0', 'a', 'schema:Person'),
        |  ('data', ':licensor0', 'foaf:name', '"A B"'),
        |  ('data', ':licensor0', 'foaf:weblog', '<https://www.thingiverse.com/a_b>'),
        |  ('data', ':licensor0', 'schema:name', '"A B"'),
        |  ('data', ':licensor0', 'schema:url', '<https://www.thingiverse.com/a_b>'),
        |  ('data', ':project', 'a', 'okh:Module'),
        |  ('data', ':project', 'ods:hasSource', ':projectDataSetSource'),
        |  ('data', ':project', 'ods:license', 'spdxl:GPL-3.0-or-later'),
        |  ('data', ':project', 'ods:licensor', ':licensor0'),
        |  ('data', ':project', 'ods:source', '<https://www.thingiverse.com/thing:{ID}>'),
        |  ('data', ':project', 'okh:documentationReadinessLevel', 'otrl:ODRL3'),
        |  ('data', ':project', 'okh:function', '"Makes {TYPE} parts."'),
        |  ('data', ':project', 'okh:hasExport', ':projectExportFile1'),
        |  ('data', ':project', 'okh:hasImage', ':projectImage1'),
        |  ('data', ':project', 'okh:name', '"{NAME}"'),
        |  ('data', ':project', 'okh:technologyReadinessLevel', 'otrl:OTRL4'),
        |  ('data', ':project', 'okh:version', '"2020-01-02T03:04:05+00:00"'),
        |  ('data', ':projectExportFile1', 'a', 'ods:File'),
        |  ('data', ':projectExportFile1', 'ods:fileFormat', 'mime:model/stl'),
        |  ('data', ':projectExportFile1', 'ods:url', '<https://cdn.thingiverse.test/{ID}.stl>'),
        |  ('data', ':projectExportFile1', 'rdfs:label', '"projectExportFile1 of project"'),
        |  ('data', ':projectImage1', 'a', 'okh:Image'),
        |  ('data', ':projectImage1', 'ods:fileFormat', 'mime:image/png'),
        |  ('data', ':projectImage1', 'ods:url', '<https://cdn.thingiverse.test/{ID}.png>'),
        |  ('data', ':projectImage1', 'rdfs:label', '"projectImage1 of project"'),
        |  ('meta', ':projectDataSet', 'a', 'ods:Dataset'),
        |  ('meta', ':projectDataSet', 'ods:hasSource', ':projectDataSetSource'),
        |  ('meta', ':projectDataSet', 'ods:license', 'spdxl:GPL-3.0-or-later'),
        |  ('meta', ':projectDataSet', 'ods:licensor', ':licensor0'),
        |  ('meta', ':projectDataSet', 'rdfs:label', '"Covers all the data in this namespace"'),
        |  ('meta', ':projectDataSet', 'void:rootResource', ':project'),
        |  ('meta', ':projectDataSetSource', 'a', 'ods:Source'),
        |  ('meta', ':projectDataSetSource', 'ods:dataSourcingProcedure', 'okhkrawl:dataSourcingProcedureApi'),
        |  ('meta', ':projectDataSetSource', 'ods:license', 'spdxl:GPL-3.0-or-later'),
        |  ('meta', ':projectDataSetSource', 'ods:licensor', ':licensor0'),
        |  ('meta', ':projectDataSetSource', 'ods:primaryHost', 'okhkrawl:dataProviderThingiverse'),
        |  ('meta', ':projectDataSetSource', 'ods:visits', '1'),
        |  ('meta', ':projectDataSetSource', 'rdfs:label', '"Info related to the source of a data-set"')),
        |proj AS (
        |  SELECT p_partkey AS id, p_name, p_type,
        |    'thingiverse.com/' || CAST(p_partkey // 10000 AS VARCHAR) || '/' || p_partkey AS project_id
        |  FROM part)
        |SELECT proj.project_id, tpl.graph, tpl.s, tpl.p,
        |  replace(replace(replace(tpl.o,
        |    '{ID}', CAST(proj.id AS VARCHAR)),
        |    '{NAME}', proj.p_name),
        |    '{TYPE}', proj.p_type) AS o
        |FROM proj CROSS JOIN tpl""".stripMargin,
    "q_normalize_manifest" ->
      """SELECT
        |  'https://github.com/owner' || (p_partkey % 7) || '/repo' || p_partkey AS project_id,
        |  'Thing ' || p_partkey AS name,
        |  '1.' || (p_partkey % 10) || '.' || (p_partkey % 5) AS version,
        |  CASE WHEN p_partkey % 3 = 0 THEN 'v1.' || (p_partkey % 10) END AS release,
        |  CASE p_partkey % 4 WHEN 0 THEN 'MIT' WHEN 1 THEN 'MIT'
        |       WHEN 2 THEN 'GPL-3.0-or-later' ELSE NULL END AS license_spdx,
        |  'User ' || p_partkey AS licensor_name,
        |  'u' || p_partkey || '@x.org' AS licensor_email,
        |  CASE WHEN p_partkey % 2 = 0 THEN 'Org' || (p_partkey % 5) END AS org_name,
        |  'OTRL-' || (p_partkey % 5 + 1) AS trl,
        |  'ODRL-' || (p_partkey % 4 + 1) AS drl,
        |  CASE WHEN p_partkey % 5 = 0 THEN 'B25J9/00' END AS cpc_patent_class,
        |  CASE WHEN p_partkey % 3 = 1 THEN 'MEC' END AS tsdc,
        |  CASE WHEN p_partkey % 2 = 0 THEN 'README.md' END AS readme_path,
        |  CASE WHEN p_partkey % 2 <> 0
        |       THEN 'https://ex.org/' || p_partkey || '/readme.md' END AS readme_url,
        |  'bom.csv' AS bom_path,
        |  CAST((p_partkey % 100) * 10 + 5 AS BIGINT) AS mass_dg,
        |  CAST(CASE WHEN p_partkey % 2 = 0 THEN p_partkey % 50 + 1 ELSE -1 END AS BIGINT) AS width_mm,
        |  CAST(p_partkey % 3 AS BIGINT) AS n_parts,
        |  CAST(CASE WHEN p_partkey % 5 = 2 THEN 1 ELSE 0 END AS BIGINT) AS n_software,
        |  CASE WHEN p_partkey % 3 >= 1 THEN 'PLA' END AS part1_material,
        |  CASE WHEN p_partkey % 3 = 2 THEN '3DP' END AS part2_tsdc,
        |  CAST(CASE WHEN p_partkey % 2 = 0 THEN 1 ELSE 2 END AS BIGINT) AS n_langs,
        |  CAST(CASE WHEN p_partkey % 7 = 0 THEN 1 ELSE 0 END AS BIGINT) AS n_attestations,
        |  CASE WHEN p_partkey % 5 = 2 THEN 'MIT' END AS sw_license
        |FROM part""".stripMargin,
    // id domain = the synthetic store's 1..count(part) (p_partkey itself
    // is 0-based — the two differ at both ends)
    "q_compact_summary" ->
      """WITH ids AS (
        |  SELECT unnest(generate_series(1, (SELECT count(*) FROM part))) AS id)
        |SELECT
        |  CASE id % 7
        |    WHEN 1 THEN 'github.com/owner' || (id % 10) || '/repo' || id || '/main/okh.toml'
        |    WHEN 2 THEN 'oshwa.org/' || printf('us%06d', id)
        |    WHEN 3 THEN 'appropedia.org/Project_' || id
        |    WHEN 5 THEN 'gitlab.com/group' || (id % 3) || '/proj' || id || '/main/okh.toml'
        |    WHEN 6 THEN 'codeberg.org/org' || (id % 4) || '/unit' || id || '/main/okh.toml'
        |    ELSE 'thingiverse.com/' || CAST(id // 10000 AS VARCHAR) || '/' || id
        |  END AS unit_path,
        |  CAST(CASE WHEN id % 103 <> 0 AND id % 101 <> 0
        |            AND id % 997 = 0 THEN 0 ELSE 1 END AS BIGINT) AS perm,
        |  CAST(CASE WHEN id % 103 <> 0 AND id % 101 <> 0
        |            AND id % 997 = 0 THEN 3 ELSE 0 END AS BIGINT) AS n_err
        |FROM ids""".stripMargin,
    "q_normalize_v1" ->
      """SELECT
        |  'https://legacy.example.org/' || p_partkey AS project_id,
        |  'Legacy Thing ' || p_partkey AS name,
        |  '0.' || (p_partkey % 7) || '.' || (p_partkey % 3) AS version,
        |  CASE WHEN p_partkey % 3 = 0
        |       THEN '2019-0' || (p_partkey % 9 + 1) || '-01' END AS release,
        |  'OKH-LOSHv1.0' AS okhv,
        |  CASE p_partkey % 4 WHEN 0 THEN 'MIT' WHEN 1 THEN 'CC-BY-4.0'
        |       WHEN 2 THEN 'GPL-3.0-or-later' ELSE 'Apache-2.0' END AS license_spdx,
        |  'Old User ' || p_partkey AS licensor_name,
        |  CASE WHEN p_partkey % 2 = 0 THEN 'o' || p_partkey || '@x.org' END AS licensor_email,
        |  CASE WHEN p_partkey % 5 = 0 THEN 'Org' || (p_partkey % 3) END AS org_name,
        |  'Old thing ' || p_partkey || '.' AS "function",
        |  CAST(1 AS BIGINT) AS n_langs,
        |  CASE WHEN p_partkey % 2 = 1 THEN 'img' || p_partkey || '.png' END AS image_path,
        |  'bom.csv' AS bom_path,
        |  'build.md' AS mi_path,
        |  CASE WHEN p_partkey % 4 = 0 THEN 'manual.pdf' END AS manual_path,
        |  CAST(CASE WHEN p_partkey % 6 = 0 THEN 1 ELSE 0 END AS BIGINT) AS n_standards
        |FROM part""".stripMargin,
    "q_slugify" ->
      """SELECT p_partkey AS k,
        |  regexp_replace(regexp_replace(regexp_replace(lower(p_name),
        |    '[^\w\s-]', '', 'g'), '[-\s]+', '-', 'g'), '^[-_]+|[-_]+$', '', 'g') AS slug
        |FROM part""".stripMargin,
    "q_openscad_dims" ->
      """WITH t AS (
        |  SELECT p_partkey AS k,
        |    CASE WHEN p_partkey % 2 = 0
        |      THEN 'cube(size=[' || (p_partkey % 500) || ',' || (p_partkey % 300) || ',' || (p_partkey % 150) || '])'
        |      ELSE 'cylinder(h=' || (p_partkey % 90) || ',r=' || (p_partkey % 40) || ')' END AS openscad,
        |    CASE p_partkey % 3 WHEN 0 THEN 'mm' WHEN 1 THEN 'cm' ELSE 'm' END AS unit,
        |    CASE p_partkey % 3 WHEN 0 THEN 1 WHEN 1 THEN 10 ELSE 1000 END AS mult
        |  FROM part)
        |SELECT k, openscad, unit,
        |  CAST(floor((CASE WHEN k % 2 = 0 THEN k % 500 ELSE k % 40 END) * mult) AS BIGINT) AS width_mm,
        |  CAST(floor((CASE WHEN k % 2 = 0 THEN k % 300 ELSE k % 90 END) * mult) AS BIGINT) AS height_mm,
        |  CAST(floor((CASE WHEN k % 2 = 0 THEN k % 150 ELSE k % 40 END) * mult) AS BIGINT) AS depth_mm
        |FROM t""".stripMargin,
    "q_spdx_split" ->
      """WITH t AS (
        |  SELECT p_partkey AS k,
        |    CASE p_partkey % 4
        |      WHEN 0 THEN 'MIT' WHEN 1 THEN 'MIT AND CC-BY-4.0'
        |      WHEN 2 THEN 'GPL-3.0-or-later OR MIT'
        |      ELSE 'GPL-2.0-only WITH Classpath-exception-2.0' END AS expression,
        |    CASE p_partkey % 4
        |      WHEN 0 THEN ['MIT'] WHEN 1 THEN ['MIT','CC-BY-4.0']
        |      WHEN 2 THEN ['GPL-3.0-or-later','MIT']
        |      ELSE CAST([] AS VARCHAR[]) END AS toks
        |  FROM part)
        |SELECT k, expression, CAST(u.i - 1 AS BIGINT) AS pos, toks[u.i] AS token
        |FROM t, LATERAL (SELECT unnest(generate_series(1, len(toks))) AS i) u""".stripMargin,
    "q_person_parse" ->
      """SELECT p_partkey AS k,
        |  CASE p_partkey % 3
        |    WHEN 0 THEN 'User ' || p_partkey
        |    WHEN 1 THEN 'User ' || p_partkey || ' <u' || p_partkey || '@x.org>'
        |    ELSE 'User ' || p_partkey || ' (Org' || (p_partkey % 5) || ')<u' || p_partkey || '@x.org>'
        |  END AS "user",
        |  'User ' || p_partkey AS name,
        |  CASE WHEN p_partkey % 3 = 2 THEN 'Org' || (p_partkey % 5) END AS org,
        |  CASE WHEN p_partkey % 3 <> 0 THEN 'u' || p_partkey || '@x.org' END AS email
        |FROM part""".stripMargin,
    "q_datetime_parse" ->
      """SELECT o_orderkey,
        |  strftime(o_orderdate, '%Y-%m-%dT%H:%M:%S+00:00') AS iso,
        |  strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS parsed
        |FROM orders""".stripMargin,
    "q_mime_join" ->
      """WITH mime(m_ext, mime_type) AS (VALUES
        |  ('stl', 'model/stl'), ('scad', NULL), ('png', 'image/png'),
        |  ('md', 'text/markdown'), ('kicad_pcb', NULL), ('zip', 'application/zip'),
        |  ('xyz', NULL)),
        |fmt(f_ext, file_type, category) AS (VALUES
        |  ('stl', 'cad', 'export'), ('scad', 'cad', 'source'), ('png', 'image', NULL),
        |  ('md', 'text', NULL), ('kicad_pcb', 'pcb', 'source'), ('zip', NULL, NULL),
        |  ('xyz', NULL, NULL)),
        |t AS (
        |  SELECT p_partkey AS k,
        |    CASE p_partkey % 7
        |      WHEN 0 THEN 'stl' WHEN 1 THEN 'scad' WHEN 2 THEN 'png' WHEN 3 THEN 'md'
        |      WHEN 4 THEN 'kicad_pcb' WHEN 5 THEN 'zip' ELSE 'xyz' END AS ext
        |  FROM part)
        |SELECT t.k, t.ext, m.mime_type, f.file_type, f.category
        |FROM t
        |LEFT JOIN mime m ON t.ext = m.m_ext
        |LEFT JOIN fmt f ON t.ext = f.f_ext""".stripMargin,
    "q_embed_neardup" ->
      """WITH e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |b AS (
        |  SELECT vec_id, emb,
        |    sqrt(list_aggregate(list_transform(emb, x -> x * x), 'sum')) AS nrm,
        |    (CASE WHEN emb[1] >= 0 THEN 1 ELSE 0 END)
        |    + (CASE WHEN emb[2] >= 0 THEN 2 ELSE 0 END)
        |    + (CASE WHEN emb[3] >= 0 THEN 4 ELSE 0 END)
        |    + (CASE WHEN emb[4] >= 0 THEN 8 ELSE 0 END)
        |    + (CASE WHEN emb[5] >= 0 THEN 16 ELSE 0 END)
        |    + (CASE WHEN emb[6] >= 0 THEN 32 ELSE 0 END)
        |    + (CASE WHEN emb[7] >= 0 THEN 64 ELSE 0 END)
        |    + (CASE WHEN emb[8] >= 0 THEN 128 ELSE 0 END) AS block
        |  FROM e),
        |p AS (
        |  SELECT a.vec_id AS id_a, c.vec_id AS id_b,
        |    list_aggregate(list_transform(list_zip(a.emb, c.emb),
        |      s -> s[1] * s[2]), 'sum') / (a.nrm * c.nrm) AS cos
        |  FROM b a JOIN b c ON a.block = c.block AND a.vec_id < c.vec_id)
        |SELECT id_a, id_b, CAST(floor(cos * 1000) AS BIGINT) AS cos_permille
        |FROM p WHERE floor(cos * 1000) >= 300""".stripMargin,
    // embedding-cosine dedup clusters: the planted clone families are the
    // only pairs above 990 permille (distinct vectors peak ≈ 470), so the
    // components are exactly {v, v+1e7, v+2e7} with canonical v
    "q_embed_clusters" ->
      """SELECT vec_id AS doc_id, vec_id AS canonical_doc_id
        |FROM embeddings WHERE vec_id < 20
        |UNION ALL
        |SELECT vec_id + 10000000, vec_id FROM embeddings WHERE vec_id < 20
        |UNION ALL
        |SELECT vec_id + 20000000, vec_id FROM embeddings WHERE vec_id < 20""".stripMargin,
    // sitemap frontier: every field of the planted corpus is key
    // arithmetic (PlantedFixtures.sitemapCorpus scaladoc) — the oracle
    // restates it without touching XML. The duplicate route (hosts ≥ 4
    // also reference sm_0 directly) collapses in the first-wins dedup to
    // the same closed-form row, so the oracle is one row per part key
    "q_sitemap_frontier" ->
      """SELECT
        |  'site' || (p_partkey % 8) || '.example' AS host,
        |  'https://site' || (p_partkey % 8) || '.example/p/' || p_partkey ||
        |    CASE WHEN p_partkey % 11 = 0 THEN '?a=1&b=2' ELSE '' END AS url,
        |  CASE WHEN p_partkey % 5 <> 0
        |    THEN CAST(18262 + p_partkey % 365 AS BIGINT) END AS lastmod_day,
        |  CASE p_partkey % 4 WHEN 0 THEN 'daily' WHEN 1 THEN 'weekly'
        |    WHEN 2 THEN 'monthly' END AS changefreq,
        |  CASE WHEN p_partkey % 7 <> 0
        |    THEN CAST((p_partkey % 10) * 100 AS BIGINT) END AS priority_permille,
        |  'https://site' || (p_partkey % 8) || '.example/sm_' ||
        |    ((p_partkey // 8) % 4) || '.xml' AS sitemap_url
        |FROM part""".stripMargin,
    // recrawl scheduling over the sitemap frontier with planted fetch
    // state: k%3 regimes (never fetched / fetched day 18802+ / fetched day
    // 18400+), changefreq overridden to 'never' for k%17=0, now = 18862,
    // per-host budget 5. Due rule and ranking restated verbatim from
    // frontier/Recrawl.scala
    "q_recrawl_due" -> (RecrawlCte +
      """,
        |r AS (
        |  SELECT host, url, changefreq, priority_permille,
        |    CAST(18862 - last_fetch_day AS BIGINT) AS staleness_days,
        |    row_number() OVER (PARTITION BY host ORDER BY
        |      coalesce(priority_permille, 500) DESC,
        |      18862 - coalesce(last_fetch_day, -1) DESC, url) AS fetch_pos
        |  FROM d WHERE is_due)
        |SELECT host, url, changefreq, priority_permille, staleness_days, fetch_pos
        |FROM r WHERE fetch_pos <= 5""".stripMargin),
    // global-budget apportionment: the unbounded due set counted per host,
    // demand capped at 20, Hamilton largest-remainder split of 100 seats
    // (remainder ties → smaller host string), restated from
    // frontier/Recrawl.allocateBudget
    "q_crawl_budget" -> (RecrawlCte +
      """,
        |c AS (
        |  SELECT host, CAST(count(*) AS BIGINT) AS due_count
        |  FROM d WHERE is_due GROUP BY host),
        |dd AS (SELECT host, due_count, least(due_count, 20) AS demand FROM c),
        |t AS (SELECT sum(demand) AS total FROM dd),
        |b AS (
        |  SELECT host, due_count, demand, total,
        |    CASE WHEN total <= 100 THEN demand
        |      ELSE 100 * demand // total END AS base,
        |    CASE WHEN total <= 100 THEN 0
        |      ELSE (100 * demand) % total END AS rem
        |  FROM dd, t),
        |r AS (
        |  SELECT *, row_number() OVER (ORDER BY rem DESC, host) AS rk,
        |    CASE WHEN total <= 100 THEN 0
        |      ELSE 100 - sum(base) OVER () END AS leftover
        |  FROM b)
        |SELECT host, due_count,
        |  CAST(base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS BIGINT)
        |    AS allocated
        |FROM r""".stripMargin),
    // the crawl e2e fetch log is closed-form: unit_path/hosting from the
    // id residue (six families), status/retries from the outcome residues
    // (precedence robots %103 → not_found %101 → transient-ok %97 →
    // error %997), pos = row_number per host in id order (priority is
    // constant per host), and the virtual-clock schedule = per-host
    // cumulative sum of (retries+1) × interval over non-denied rows
    // (robots-denied rows consume no politeness slot: scheduled =
    // completed = clock so far)
    "q_crawl_e2e" ->
      """WITH ids AS (
        |  SELECT unnest(generate_series(1, (SELECT count(*) FROM part))) AS id),
        |t AS (
        |  SELECT id,
        |    CASE id % 7
        |      WHEN 1 THEN 'github.com/owner' || (id % 10) || '/repo' || id || '/main/okh.toml'
        |      WHEN 2 THEN 'oshwa.org/' || printf('us%06d', id)
        |      WHEN 3 THEN 'appropedia.org/Project_' || id
        |      WHEN 5 THEN 'gitlab.com/group' || (id % 3) || '/proj' || id || '/main/okh.toml'
        |      WHEN 6 THEN 'codeberg.org/org' || (id % 4) || '/unit' || id || '/main/okh.toml'
        |      ELSE 'thingiverse.com/' || CAST(id // 10000 AS VARCHAR) || '/' || id
        |    END AS unit_path,
        |    CASE id % 7
        |      WHEN 1 THEN 'github.com' WHEN 2 THEN 'oshwa.org'
        |      WHEN 3 THEN 'appropedia.org' WHEN 5 THEN 'gitlab.com'
        |      WHEN 6 THEN 'codeberg.org' ELSE 'thingiverse.com' END AS hosting_id,
        |    CASE id % 7 WHEN 3 THEN 1000 WHEN 0 THEN 1000 WHEN 4 THEN 1000
        |      ELSE 5000 END AS interval_ms,
        |    (id % 103 = 0) AS denied,
        |    CASE WHEN id % 103 = 0 THEN 'robots_denied'
        |         WHEN id % 101 = 0 THEN 'not_found'
        |         WHEN id % 97 = 0 THEN 'ok'
        |         WHEN id % 997 = 0 THEN 'error'
        |         ELSE 'ok' END AS status,
        |    CASE WHEN id % 103 = 0 OR id % 101 = 0 THEN 0
        |         WHEN id % 97 = 0 THEN 2
        |         WHEN id % 997 = 0 THEN 3
        |         ELSE 0 END AS retries
        |  FROM ids),
        |w AS (
        |  SELECT *,
        |    CAST(row_number() OVER (PARTITION BY hosting_id ORDER BY id) AS BIGINT) AS pos,
        |    CAST(sum(CASE WHEN denied THEN 0 ELSE (retries + 1) * interval_ms END)
        |      OVER (PARTITION BY hosting_id ORDER BY id
        |            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
        |  FROM t)
        |SELECT unit_path, hosting_id, CAST(id AS BIGINT) AS id, pos,
        |  CASE WHEN denied THEN cum
        |       ELSE cum - (retries + 1) * interval_ms END AS scheduled_ms,
        |  cum AS completed_ms,
        |  CAST(retries AS BIGINT) AS retries, status
        |FROM w""".stripMargin,
    // the configured crawl's closed form: non-github hosts stay the
    // q_crawl_e2e per-host cumsum at DOUBLED intervals; github runs the
    // exact FetchStage R1 window recurrence (budget 4 units / 60 s window,
    // 10 s interval, each fetch charging retries+1 units; denied rows
    // frozen at the clock) — sequential state, expressed as a recursive
    // CTE stepping one fetch per iteration in host order
    "q_crawl_e2e_configured" ->
      """WITH RECURSIVE ids AS (
        |  SELECT unnest(generate_series(1, (SELECT count(*) FROM part))) AS id),
        |t AS (
        |  SELECT id,
        |    CASE id % 7
        |      WHEN 1 THEN 'github.com/owner' || (id % 10) || '/repo' || id || '/main/okh.toml'
        |      WHEN 2 THEN 'oshwa.org/' || printf('us%06d', id)
        |      WHEN 3 THEN 'appropedia.org/Project_' || id
        |      WHEN 5 THEN 'gitlab.com/group' || (id % 3) || '/proj' || id || '/main/okh.toml'
        |      WHEN 6 THEN 'codeberg.org/org' || (id % 4) || '/unit' || id || '/main/okh.toml'
        |      ELSE 'thingiverse.com/' || CAST(id // 10000 AS VARCHAR) || '/' || id
        |    END AS unit_path,
        |    CASE id % 7
        |      WHEN 1 THEN 'github.com' WHEN 2 THEN 'oshwa.org'
        |      WHEN 3 THEN 'appropedia.org' WHEN 5 THEN 'gitlab.com'
        |      WHEN 6 THEN 'codeberg.org' ELSE 'thingiverse.com' END AS hosting_id,
        |    CASE id % 7 WHEN 3 THEN 2000 WHEN 0 THEN 2000 WHEN 4 THEN 2000
        |      ELSE 10000 END AS interval_ms,
        |    (id % 103 = 0) AS denied,
        |    CASE WHEN id % 103 = 0 THEN 'robots_denied'
        |         WHEN id % 101 = 0 THEN 'not_found'
        |         WHEN id % 97 = 0 THEN 'ok'
        |         WHEN id % 997 = 0 THEN 'error'
        |         ELSE 'ok' END AS status,
        |    CASE WHEN id % 103 = 0 OR id % 101 = 0 THEN 0
        |         WHEN id % 97 = 0 THEN 2
        |         WHEN id % 997 = 0 THEN 3
        |         ELSE 0 END AS retries
        |  FROM ids),
        |w AS (
        |  SELECT *,
        |    CAST(row_number() OVER (PARTITION BY hosting_id ORDER BY id) AS BIGINT) AS pos,
        |    CAST(sum(CASE WHEN denied THEN 0 ELSE (retries + 1) * interval_ms END)
        |      OVER (PARTITION BY hosting_id ORDER BY id
        |            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
        |  FROM t WHERE hosting_id <> 'github.com'),
        |gh AS (
        |  SELECT t.*, CAST(row_number() OVER (ORDER BY id) AS BIGINT) AS pos
        |  FROM t WHERE hosting_id = 'github.com'),
        |sim AS (
        |  SELECT CAST(0 AS BIGINT) AS pos, CAST(NULL AS VARCHAR) AS unit_path,
        |         CAST(NULL AS BIGINT) AS id, CAST(NULL AS VARCHAR) AS status,
        |         CAST(NULL AS INTEGER) AS retries, CAST(NULL AS BOOLEAN) AS denied,
        |         CAST(0 AS BIGINT) AS sched, CAST(0 AS BIGINT) AS comp,
        |         CAST(0 AS BIGINT) AS clock, CAST(0 AS BIGINT) AS win_start,
        |         CAST(0 AS BIGINT) AS used
  |  UNION ALL
        |  -- intermediates use FRESH names (n_*): an alias named like a
        |  -- sim column (sched/clock/...) would resolve to the PREVIOUS
        |  -- row's s.* column instead of the lateral alias
        |  SELECT pos, unit_path, id, status, retries, denied,
        |         n_sched, n_comp, n_clock, n_win, n_used
        |  FROM (
        |    SELECT g.pos, g.unit_path, g.id, g.status, g.retries, g.denied,
        |      greatest(s.win_start, (s.clock // 60000) * 60000) AS cur_win,
        |      CASE WHEN cur_win > s.win_start THEN 0 ELSE s.used END AS used_now,
        |      (used_now + g.retries + 1 > 4) AS trip,
        |      CASE WHEN g.denied THEN s.clock
        |           WHEN trip THEN cur_win + 60000
        |           ELSE s.clock END AS n_sched,
        |      CASE WHEN g.denied THEN s.clock
        |           ELSE n_sched + 10000 * (g.retries + 1) END AS n_comp,
        |      CASE WHEN g.denied THEN s.clock ELSE n_comp END AS n_clock,
        |      CASE WHEN g.denied THEN s.win_start
        |           WHEN trip THEN cur_win + 60000
        |           ELSE cur_win END AS n_win,
        |      CASE WHEN g.denied THEN s.used
        |           WHEN trip THEN g.retries + 1
        |           ELSE used_now + g.retries + 1 END AS n_used
        |    FROM sim s JOIN gh g ON g.pos = s.pos + 1) x)
        |SELECT unit_path, hosting_id, CAST(id AS BIGINT) AS id, pos,
        |  CASE WHEN denied THEN cum
        |       ELSE cum - (retries + 1) * interval_ms END AS scheduled_ms,
        |  cum AS completed_ms,
        |  CAST(retries AS BIGINT) AS retries, status
        |FROM w
        |UNION ALL
        |SELECT unit_path, 'github.com' AS hosting_id, CAST(id AS BIGINT) AS id,
        |  pos, sched AS scheduled_ms, comp AS completed_ms,
        |  CAST(retries AS BIGINT) AS retries, status
        |FROM sim WHERE pos > 0""".stripMargin,
    // planted mm→ANN clones: ids 1..19 are the queries (vec_id < 20 over
    // the constant 500-row store); the exact copy (+1e7) and the
    // re-encoded copy (+2e7) tie at cosine exactly 1.0, id order fixes
    // ranks 1/2
    "q_multimodal_ann" ->
      """WITH q AS (
        |  SELECT qid FROM (SELECT unnest(generate_series(1, 19)) AS qid)
        |  WHERE qid % 4 <> 2)
        |SELECT CAST(qid AS BIGINT) AS qid,
        |       CAST(qid + 10000000 AS BIGINT) AS neighbor_id,
        |       CAST(1 AS BIGINT) AS rank
        |FROM q
        |UNION ALL
        |SELECT CAST(qid AS BIGINT), CAST(qid + 20000000 AS BIGINT),
        |       CAST(2 AS BIGINT)
        |FROM q""".stripMargin,
    // planted image clones: every query id pairs with exactly its three
    // clones (exact copy, lossless re-encode, uniform brightness shift),
    // all at pHash Hamming 0
    "q_image_neardup" ->
      """WITH q AS (SELECT unnest(generate_series(1, 19)) AS qid),
        |c AS (SELECT * FROM (VALUES (10000000, 'exact'),
        |       (20000000, 'reencode'), (30000000, 'brightness'))
        |       t(off, variant))
        |SELECT CAST(qid AS BIGINT) AS doc_a,
        |       CAST(qid + off AS BIGINT) AS doc_b, variant,
        |       CAST(1 AS BIGINT) AS detected, CAST(0 AS BIGINT) AS hamming
        |FROM q, c""".stripMargin,
    // planted image components: {qid, +1e7, +2e7, +3e7}, canonical qid
    "q_image_dedup_clusters" ->
      """WITH q AS (SELECT unnest(generate_series(1, 19)) AS qid),
        |o AS (SELECT * FROM (VALUES (0), (10000000), (20000000),
        |       (30000000)) t(off))
        |SELECT CAST(qid + off AS BIGINT) AS doc_id,
        |       CAST(qid AS BIGINT) AS canonical_doc_id
        |FROM q, o""".stripMargin,
    // per-residue caption repair (the constrained family the synthetic
    // captions come from) + the same quality arithmetic
    "q_caption_quality" ->
      """WITH c AS (
        |  SELECT image_id,
        |    CAST(regexp_extract(image_id, '^thing:(\d+)/', 1) AS BIGINT) AS id,
        |    caption
        |  FROM read_parquet('/tmp/graft_mm_store_500/*.parquet')),
        |n AS (
        |  SELECT image_id,
        |    TRIM(CASE
        |      WHEN id % 10 = 3 THEN regexp_replace(caption, '<[^>]*>', '', 'g')
        |      WHEN id % 10 = 7 THEN replace(caption, 'â€”', '—')
        |      ELSE caption END) AS caption_clean
        |  FROM c)
        |SELECT image_id, caption_clean,
        |  CAST(length(caption_clean) AS BIGINT) AS n_chars,
        |  CAST(length(regexp_split_to_array(caption_clean, '\s+')) AS BIGINT)
        |    AS n_tokens,
        |  CASE WHEN length(caption_clean) > 0
        |    THEN CAST(FLOOR(length(regexp_replace(caption_clean, '[^A-Za-z]', '', 'g'))
        |      * 1000.0 / length(caption_clean)) AS BIGINT)
        |    ELSE 0 END AS alpha_permille
        |FROM n""".stripMargin,
    // the pair gate: the vision-prep integer arithmetic ∧ the per-residue
    // caption repair, both straight from the dumped store
    "q_multimodal_pairs" ->
      """WITH c AS (
        |  SELECT image_id,
        |    CAST(regexp_extract(image_id, '^thing:(\d+)/', 1) AS BIGINT) AS id,
        |    caption, w, h
        |  FROM read_parquet('/tmp/graft_mm_store_500/*.parquet')),
        |n AS (
        |  SELECT image_id, w, h,
        |    TRIM(CASE
        |      WHEN id % 10 = 3 THEN regexp_replace(caption, '<[^>]*>', '', 'g')
        |      WHEN id % 10 = 7 THEN replace(caption, 'â€”', '—')
        |      ELSE caption END) AS cc
        |  FROM c),
        |m AS (
        |  SELECT image_id,
        |    CAST(((w + 13) // 14) * ((h + 13) // 14) AS BIGINT) AS n_patches,
        |    CAST(length(regexp_split_to_array(cc, '\s+')) AS BIGINT)
        |      AS caption_tokens,
        |    CASE WHEN length(cc) > 0
        |      THEN CAST(FLOOR(length(regexp_replace(cc, '[^A-Za-z]', '', 'g'))
        |        * 1000.0 / length(cc)) AS BIGINT)
        |      ELSE 0 END AS caption_alpha_permille,
        |    (LEAST(w, h) >= 16 AND w <= 2 * h AND h <= 2 * w) AS keep_image
        |  FROM n)
        |SELECT image_id, n_patches, caption_tokens, caption_alpha_permille,
        |  keep_image,
        |  (caption_tokens >= 3 AND caption_alpha_permille >= 780) AS keep_caption,
        |  (keep_image AND caption_tokens >= 3 AND caption_alpha_permille >= 780)
        |    AS keep
        |FROM m""".stripMargin,
    // integer-arithmetic twin over the dumped store's stored dimensions
    // (decode-extracted w/h ≡ stored w/h is already pinned by
    // q_multimodal_featurize)
    "q_vision_prep" ->
      """SELECT image_id, CAST(w AS BIGINT) AS w, CAST(h AS BIGINT) AS h,
        |  CAST(((w + 13) // 14) * ((h + 13) // 14) AS BIGINT) AS n_patches,
        |  CAST((8 * w + h) // (2 * h) AS BIGINT) AS aspect_q4,
        |  (LEAST(w, h) >= 16 AND w <= 2 * h AND h <= 2 * w) AS keep
        |FROM read_parquet('/tmp/graft_mm_store_500/*.parquet')""".stripMargin,
    // planted near-dup corpus (PlantedFixtures.nearDupDocs): exactly the
    // even-key clone pairs are detected; exact variants pin eq = 1000
    "q_minhash_lsh" ->
      """SELECT p_partkey AS doc_a, p_partkey + 10000000 AS doc_b,
        |  CASE (p_partkey // 2) % 3 WHEN 0 THEN 'upper'
        |       WHEN 1 THEN 'space' ELSE 'append' END AS variant,
        |  CAST(1 AS BIGINT) AS detected,
        |  CAST(CASE WHEN (p_partkey // 2) % 3 = 2 THEN NULL ELSE 1000 END
        |       AS BIGINT) AS eq_exact
        |FROM part WHERE p_partkey % 2 = 0""".stripMargin,
    "q_dedup_clusters" ->
      """SELECT p_partkey AS doc_id, p_partkey AS canonical_doc_id
        |FROM part WHERE p_partkey % 2 = 0
        |UNION ALL
        |SELECT p_partkey + 10000000, p_partkey FROM part WHERE p_partkey % 2 = 0
        |UNION ALL
        |SELECT p_partkey + 20000000, p_partkey FROM part WHERE p_partkey % 2 = 0""".stripMargin,
    // bag-preserving clones (case/whitespace/word order) have bit-identical
    // SimHash: Hamming pinned to 0 per planted pair
    "q_simhash" ->
      """SELECT p_partkey AS doc_a, p_partkey + 10000000 AS doc_b,
        |  CASE (p_partkey // 2) % 3 WHEN 0 THEN 'upper'
        |       WHEN 1 THEN 'space' ELSE 'reverse' END AS variant,
        |  CAST(0 AS BIGINT) AS hamming
        |FROM part WHERE p_partkey % 2 = 0""".stripMargin,
    "q_simhash_pairs" ->
      """SELECT p_partkey AS doc_a, p_partkey + 10000000 AS doc_b,
        |  CASE (p_partkey // 2) % 3 WHEN 0 THEN 'upper'
        |       WHEN 1 THEN 'space' ELSE 'reverse' END AS variant,
        |  CAST(1 AS BIGINT) AS detected,
        |  CAST(0 AS BIGINT) AS hamming
        |FROM part WHERE p_partkey % 2 = 0""".stripMargin,
    // planted ANN neighbors: the exact clone (+1e7) and the ×2 clone
    // (+2e7) of each query vector tie at cosine ≈ 1.0 bit-for-bit (exact
    // power-of-two fp scaling), so the id tie-break fixes ranks 1/2
    "q_ann_lsh" ->
      """SELECT vec_id AS qid, vec_id + 10000000 AS neighbor_id,
        |       CAST(1 AS BIGINT) AS rank
        |FROM embeddings WHERE vec_id < 20
        |UNION ALL
        |SELECT vec_id AS qid, vec_id + 20000000 AS neighbor_id,
        |       CAST(2 AS BIGINT) AS rank
        |FROM embeddings WHERE vec_id < 20""".stripMargin,
    "q_ann_ivf" ->
      """SELECT vec_id AS qid, vec_id + 10000000 AS neighbor_id,
        |       CAST(1 AS BIGINT) AS rank
        |FROM embeddings WHERE vec_id < 20
        |UNION ALL
        |SELECT vec_id AS qid, vec_id + 20000000 AS neighbor_id,
        |       CAST(2 AS BIGINT) AS rank
        |FROM embeddings WHERE vec_id < 20""".stripMargin,
    // identical closed form: the clone ranks are a property of cosine
    // scale-invariance, not of which quantizer built the lists
    "q_ann_ivf_trained" ->
      """SELECT vec_id AS qid, vec_id + 10000000 AS neighbor_id,
        |       CAST(1 AS BIGINT) AS rank
        |FROM embeddings WHERE vec_id < 20
        |UNION ALL
        |SELECT vec_id AS qid, vec_id + 20000000 AS neighbor_id,
        |       CAST(2 AS BIGINT) AS rank
        |FROM embeddings WHERE vec_id < 20""".stripMargin,
    // the Spark query dumps the synthetic store to this fixed path before
    // featurizing; decode-extracted metadata must equal the stored columns
    "q_multimodal_featurize" ->
      """SELECT image_id, w, h, fmt AS fmt_guess, phash
        |FROM read_parquet('/tmp/graft_mm_store_500/*.parquet')""".stripMargin,
    "q_ann_cosine" ->
      """WITH e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |q AS (SELECT vec_id AS qid, emb AS qemb FROM e WHERE vec_id < 20),
        |sims AS (
        |  SELECT q.qid, e.vec_id AS neighbor_id,
        |         list_cosine_similarity(q.qemb, e.emb) AS sim
        |  FROM q, e WHERE q.qid <> e.vec_id),
        |ranked AS (
        |  SELECT qid, neighbor_id,
        |         row_number() OVER (PARTITION BY qid ORDER BY sim DESC, neighbor_id) AS rank
        |  FROM sims)
        |SELECT qid, neighbor_id, rank FROM ranked WHERE rank <= 3""".stripMargin
  )
}
