package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.UrlFunctions
import graft.model.Predicates

/** Frontier / scheduling operators of the crawl engine, each one an
  * oracle-checkable Dataset transformation. These are the Spark-native
  * re-expressions of the reference's fetcher dataflow (SURVEY.md §2):
  * canonicalize → dedup (URL-seen) → priority order → page assignment →
  * politeness schedule → robots gate.
  *
  * Scale notes (10^10 frontier): every operator keys on
  * `url_hash`/`unit_path`, never on raw URLs; dedup is a hash aggregation
  * (map-side partial) not a global sort; the ONLY global-ordering operator is
  * `crawlOrder`, which exists to reproduce the reference's golden serial
  * crawl order on verification samples (SURVEY §2.5 W1) — the production
  * path uses `pageAssign`/`politenessSchedule`, which are per-host window
  * computations that shuffle once on the host key and scale linearly.
  */
object CrawlOps {

  /** Page size per platform — the reference's hard-coded paging
    * (BASELINE.md: github.py:219,233-234; oshwa.py:54,60); the interval is
    * the fetch stage's `defaultPoliteness`. Broadcast dimension, joined on
    * hosting_id.
    */
  private val pageSize: Seq[(String, Int)] = Seq("thingiverse.com" -> 1,
    "github.com" -> 10, "oshwa.org" -> 50, "appropedia.org" -> 1,
    "gitlab.com" -> 10, "codeberg.org" -> 10)

  def politenessDf(spark: SparkSession): DataFrame = {
    import spark.implicits._
    pageSize.map { case (host, n) =>
      (host, graft.fetch.FetchStage.defaultPoliteness(host).minIntervalMs, n)
    }.toDF("hosting_id", "min_interval_ms", "page_size")
  }

  /** Seed URLs → canonical units. Invalid URLs keep a parse_error instead of
    * failing the task (reference yields FailedFetch events, event.py:13-17).
    */
  def canonicalized(spark: SparkSession, sfDir: String): DataFrame =
    Seeds.seeds(spark, sfDir)
      .withColumn("canon", UrlFunctions.canonicalize(col("url")))
      .select(
        col("url"), col("seq"),
        col("canon.hosting_id").as("hosting_id"),
        col("canon.unit_path").as("unit_path"),
        col("canon.parse_error").as("parse_error"))

  /** Deduped frontier: first-wins per canonical unit (URL-seen semantics,
    * thingiverse.py:359-362 / A5 in SURVEY §2.4). Pure hash aggregation —
    * partial aggregation map-side, no window, no sort; at 10^10 rows this is
    * one shuffle on unit_path.
    */
  def frontierDedup(spark: SparkSession, sfDir: String): DataFrame =
    canonicalized(spark, sfDir)
      .filter(col("parse_error").isNull)
      .groupBy(col("unit_path"), col("hosting_id"))
      .agg(min("seq").as("first_seq"), count(lit(1)).as("n_aliases"))

  /** Distributed global rank over `keys` (unique composite assumed): range-
    * partition on the keys, per-partition row_number, plus the broadcast
    * prefix-sum of partition sizes. Two passes, but NO single-partition
    * window — the global sort stays distributed at any scale (the classic
    * sort + zipWithIndex pattern, DataFrame-native).
    */
  def globalRank(df: DataFrame, rankCol: String, keys: Column*): DataFrame = {
    val spark = df.sparkSession
    // sort + zipWithIndex: the RDD lineage fixes the range boundaries ONCE
    // (the partitioner is created with the shuffle dependency), and
    // zipWithIndex's two internal jobs — per-partition counts, then the
    // offset map — run over that same lineage with the sorted shuffle
    // output reused. A previous DataFrame-native form (repartitionByRange +
    // persist + count + window + offset join) was WRONG under lazy
    // execution: the persisted ranged data could be evicted/unpersisted
    // before the rank pass ran, and re-executing the range exchange
    // RESAMPLES its boundaries — offsets from the first sampling paired
    // with row_numbers from the second (caught by the sf0.1 oracle run;
    // invisible at sf0.01 where execution won the unpersist race).
    // Rank stays LONG — an int rank would wrap past 2^31 rows, exactly the
    // scale regime this distributed form exists for.
    val sorted = df.sort(keys: _*)
    val schema = sorted.schema.add(rankCol, org.apache.spark.sql.types.LongType,
      nullable = false)
    val ranked = sorted.rdd.zipWithIndex().map { case (row, idx) =>
      org.apache.spark.sql.Row.fromSeq(row.toSeq :+ (idx + 1L))
    }
    spark.createDataFrame(ranked, schema)
  }

  /** Golden serial crawl order (SURVEY §2.5 W1): rank over
    * (priority, first_seq). Order is data (priority/seq columns), never
    * execution order; the rank itself is computed with the distributed
    * `globalRank` (range partition + offsets), not a single-partition
    * window, so even the verification pass survives a 100× scale-up.
    */
  def crawlOrder(spark: SparkSession, sfDir: String): DataFrame = {
    val deduped = frontierDedup(spark, sfDir)
      .withColumn("priority", UrlFunctions.hostPriority(col("hosting_id")))
    globalRank(deduped, "rank", col("priority"), col("first_seq"))
      .select(col("rank"), col("priority"), col("unit_path"), col("hosting_id"), col("first_seq"))
  }

  /** Per-host fetch position and page assignment (W3/W4: GitHub page =
    * num_fetched // BATCH_SIZE + 1, github.py:382). Window partitioned by
    * host — shuffles once on hosting_id; per-host ordering is exactly the
    * politeness queue order the fetch stage consumes.
    */
  def pageAssign(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("hosting_id")).orderBy(col("first_seq"))
    frontierDedup(spark, sfDir)
      .withColumn("pos", row_number().over(w))
      .join(broadcast(politenessDf(spark)), Seq("hosting_id"))
      .withColumn("page", ((col("pos") - 1) / col("page_size")).cast("long") + 1)
      .select(col("unit_path"), col("hosting_id"), col("pos"), col("page"))
  }

  /** Politeness schedule: the deterministic earliest-start offset of each
    * fetch under the per-host fixed-interval budget (rate_limit.py:37-50).
    * scheduled_ms = (pos-1) * min_interval_ms.
    */
  def politenessSchedule(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("hosting_id")).orderBy(col("first_seq"))
    frontierDedup(spark, sfDir)
      .withColumn("pos", row_number().over(w))
      .join(broadcast(politenessDf(spark)), Seq("hosting_id"))
      .withColumn("scheduled_ms", (col("pos") - 1) * col("min_interval_ms"))
      .select(col("unit_path"), col("hosting_id"), col("pos"), col("scheduled_ms"))
  }

  /** URL-seen anti-join (J6): drop units already fetched in a prior run.
    * The "seen" set here is the deterministic fixture subset (every 7th
    * part key); production path couples this with the per-partition Bloom
    * pre-filter (graft.frontier.SeenFilters) so the exact anti-join only sees
    * Bloom-positive candidates.
    */
  def urlSeenAnti(spark: SparkSession, sfDir: String): DataFrame = {
    // seen = every 7th unit, in the SAME canonical shapes the seed family
    // produces (so the anti-join actually excludes frontier units)
    val seen = spark.read.parquet(s"$sfDir/part.parquet")
      .filter(pmod(col("p_partkey"), lit(7)) === 0)
      .select(col("p_partkey").as("k"))
      .withColumn("unit_path",
        when(pmod(col("k"), lit(5)) === 0,
          concat(lit("thingiverse.com/"), (col("k") / 10000).cast("long").cast("string"),
            lit("/"), col("k").cast("string")))
          .when(pmod(col("k"), lit(5)) === 1,
            concat(lit("github.com/owner"), pmod(col("k"), lit(10)).cast("string"),
              lit("/repo"), col("k").cast("string"), lit("/main/okh.toml")))
          .when(pmod(col("k"), lit(5)) === 2,
            concat(lit("oshwa.org/"), format_string("us%06d", col("k"))))
          .when(pmod(col("k"), lit(5)) === 3,
            concat(lit("gitlab.com/group"), pmod(col("k"), lit(4)).cast("string"),
              lit("/proj"), col("k").cast("string"), lit("/main/okh.toml")))
          .otherwise(
            concat(lit("codeberg.org/org"), pmod(col("k"), lit(3)).cast("string"),
              lit("/unit"), col("k").cast("string"), lit("/main/okh.toml"))))
      .select("unit_path")
    frontierDedup(spark, sfDir)
      .join(seen, Seq("unit_path"), "left_anti")
      .select(col("unit_path"), col("hosting_id"), col("first_seq"))
  }

  /** Robots gate (R5, engine addition per the north rule): disallow rules
    * as (hosting_id, path_prefix) — broadcast joined, prefix-matched, then
    * anti-joined out. Output = allowed frontier.
    */
  val robotsRules: Seq[(String, String)] = Seq(
    ("github.com", "github.com/owner3/"),
    ("thingiverse.com", "thingiverse.com/0/9"),
    ("oshwa.org", "oshwa.org/us0001"),
    ("gitlab.com", "gitlab.com/group1/"),
    ("codeberg.org", "codeberg.org/org2/")
  )

  def robotsGate(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val rules = robotsRules.toDF("r_hosting_id", "path_prefix")
    val frontier = frontierDedup(spark, sfDir)
    val denied = frontier.join(broadcast(rules),
      frontier("hosting_id") === rules("r_hosting_id") &&
        frontier("unit_path").startsWith(rules("path_prefix")), "left_semi")
    frontier.join(denied.select("unit_path"), Seq("unit_path"), "left_anti")
      .select(col("unit_path"), col("hosting_id"), col("first_seq"))
  }

  /** Manifest-name predicate (P1, fetcher/util.py:26-32) applied to
    * deterministic candidate file names. Kept as a builtin-regex filter so
    * it is codegen'd and pushable.
    */
  def manifestFilter(spark: SparkSession, sfDir: String): DataFrame = {
    val names = spark.read.parquet(s"$sfDir/part.parquet")
      .select(col("p_partkey").as("k"))
      .withColumn("file_name",
        element_at(
          array(lit("okh.toml"), lit("project.okh.yml"), lit("readme.toml"),
            lit("okh-ventilator.yaml"), lit("okh.txt")),
          (pmod(col("k"), lit(5)) + 1).cast("int")))
    val stem = regexp_replace(col("file_name"), "\\.[^.]*$", "")
    val suffix = regexp_extract(col("file_name"), "(\\.[^.]*)$", 1)
    names
      .withColumn("stem", stem)
      .withColumn("suffix", suffix)
      .filter(col("stem").rlike(Predicates.ManifestNamePattern) &&
        col("suffix").rlike(Predicates.ManifestSuffixPattern))
      .select(col("k"), col("file_name"))
  }

  /** License resolution (J4): broadcast join of the Thingiverse license
    * dimension (shared/thingiverse.py:19-41) against per-unit license names;
    * open-source predicate = spdx IS NOT NULL (P6).
    */
  def licenseJoin(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val dim = Predicates.ThingiverseLicenseToSpdx.toSeq
      .map { case (name, spdx) => (name, spdx.orNull) }
      .toDF("license_name", "spdx")
    val licenseNames = Seq(
      "Creative Commons - Attribution", "GNU - GPL", "BSD",
      "All Rights Reserved", "Creative Commons - Public Domain Dedication",
      "Creative Commons - Attribution - Non-Commercial")
    val withLicense = spark.read.parquet(s"$sfDir/part.parquet")
      .select(col("p_partkey").as("k"))
      .withColumn("license_name",
        element_at(array(licenseNames.map(lit): _*), (pmod(col("k"), lit(6)) + 1).cast("int")))
    withLicense.join(broadcast(dim), Seq("license_name"), "left_outer")
      .withColumn("is_open_source", col("spdx").isNotNull)
      .select(col("k"), col("license_name"), col("spdx"), col("is_open_source"))
  }

  /** First-wins image dedup per project (A5, normalizer/thingiverse.py:176-193):
    * images keyed by URL within a project, first occurrence (by seq) wins.
    * Derived from lineitem: project = l_orderkey, image URL bucket from
    * l_partkey, seq = l_linenumber.
    */
  def imageDedup(spark: SparkSession, sfDir: String): DataFrame = {
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .select(col("l_orderkey").as("project_id"),
        concat(lit("img://"), pmod(col("l_partkey"), lit(50)).cast("string")).as("image_url"),
        col("l_linenumber").cast("long").as("seq"))
    li.groupBy(col("project_id"), col("image_url"))
      .agg(min("seq").as("kept_seq"), count(lit(1)).as("n_dups"))
  }

  /** Unique part names (A6, dict_utils.py:136-145): clean-name collisions
    * within a project get suffix 1,2,… in list order.
    */
  def partNames(spark: SparkSession, sfDir: String): DataFrame = {
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .select(col("l_orderkey").as("project_id"),
        col("l_linenumber").cast("long").as("seq"),
        concat(lit("part-"), pmod(col("l_partkey"), lit(5)).cast("string")).as("name_clean"))
    val w = Window.partitionBy(col("project_id"), col("name_clean")).orderBy(col("seq"))
    li.withColumn("rn", row_number().over(w))
      .withColumn("name",
        when(col("rn") > 1, concat(col("name_clean"), (col("rn") - 1).cast("string")))
          .otherwise(col("name_clean")))
      .select(col("project_id"), col("seq"), col("name_clean"), col("name"))
  }

  /** U2: license base ∪ extra dimension merge (licenses.py:132-181
    * `_merge_dicts`): full-outer join on the normalized name, extra's
    * non-null fields override base's.
    */
  def licenseMerge(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val base = Seq(
      ("mit", "MIT", true, true), ("apache-2.0", "Apache License 2.0", true, true),
      ("cc-by-4.0", "CC Attribution 4.0", false, true),
      ("gpl-3.0-or-later", "GPL v3+", true, true))
      .toDF("norm_name", "name", "is_osi", "is_spdx")
    val extra = Seq(
      ("cc-by-4.0", "Creative Commons Attribution 4.0", null.asInstanceOf[Any]),
      ("cern-ohl-s-2.0", "CERN OHL strong", false))
      .map { case (n, nm, osi) => (n, nm, osi.asInstanceOf[java.lang.Boolean]) }
      .toDF("norm_name", "x_name", "x_is_osi")
    base.join(extra, Seq("norm_name"), "full_outer")
      .select(col("norm_name"),
        coalesce(col("x_name"), col("name")).as("name"),
        coalesce(col("x_is_osi"), col("is_osi")).as("is_osi"),
        coalesce(col("is_spdx"), lit(false)).as("is_spdx"))
      // anchor row count to the driver table so the query reads sfDir
      .crossJoin(spark.read.parquet(s"$sfDir/region.parquet").select(col("r_regionkey")))
  }

  /** F2/A4: newest item per group (orderBy desc limit 1 semantics,
    * thingiverse.py:297-325 newest-thing probe) as a per-group window.
    */
  def newestPerGroup(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate").desc, col("o_orderkey"))
    spark.read.parquet(s"$sfDir/orders.parquet")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("o_custkey"), col("o_orderkey").as("newest_orderkey"),
        col("o_orderdate").as("newest_date"))
  }

  /** A3: per-hosting project counts (run/stats:57-65). */
  def hostCounts(spark: SparkSession, sfDir: String): DataFrame =
    frontierDedup(spark, sfDir)
      .groupBy("hosting_id")
      .agg(count(lit(1)).as("n_units"), sum("n_aliases").as("n_seed_urls"))

  /** Validation rule columns (P11, validator/strict.py:24-67) over the
    * documents table: failure reasons accumulated as a fixed-order
    * comma-joined string (array types hash differently across engines).
    */
  def validate(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val reasons = concat_ws(",",
      when(col("n_chars") <= 0, lit("empty")),
      when(col("n_chars") > 100000, lit("too-long")),
      when(!col("lang").isin("en", "de", "fr", "es", "it", "pt", "nl"), lit("bad-lang")),
      when(length(col("source")) === 0, lit("no-source")))
    docs.withColumn("reasons", reasons)
      .withColumn("ok", col("reasons") === "")
      .select(col("doc_id"), col("reasons"), col("ok"))
  }

  /** CrawlingMeta re-visit bookkeeping (reference model/data_set.py:17-39,
    * maintained per unit across crawls — e.g. shared/thingiverse.py:198-214):
    * the url_seen EVENT LOG (one row per attempt: unit_path, status,
    * run_seq, content_hash) aggregates to visits / first / last /
    * last_successful visit plus change detection — `changes` counts
    * content-hash transitions between consecutive successful visits and
    * `last_detected_change` is the run that last observed one.
    *
    * Scale: one shuffle on unit_path shared by the window and both
    * aggregations; no global sort, no driver state.
    */
  def crawlingMeta(events: DataFrame): DataFrame =
    metaState(events).select(MetaPublicCols.map(col): _*)

  /** The seven user-facing CrawlingMeta columns (the rest of `metaState` is
    * internal merge state and the resolution counters).
    */
  val MetaPublicCols: Seq[String] = Seq("unit_path", "visits", "first_visited",
    "last_visited", "last_successfully_visited", "changes", "last_detected_change")

  /** Per-unit resolution counters, shared between the pipeline's exclusion
    * fold and the compaction summary so the two can NEVER disagree on
    * resolution semantics: `perm` = the unit reached a permanent outcome,
    * `n_err` = retryable-error attempts recorded.
    */
  val resolutionAggs: Seq[Column] = Seq(
    max(when(col("status").isin("ok", "not_found", "robots_denied"), 1)
      .otherwise(0)).as("perm"),
    sum(when(col("status") === "error", 1L).otherwise(0L)).as("n_err"))

  /** Full per-unit CrawlingMeta state over an event-log SEGMENT (any
    * contiguous run_seq range). Beyond the public columns it carries the
    * boundary state that makes two adjacent segments' states MERGEABLE
    * (`mergeMetaStates`): the first/last successful content hashes and the
    * first successful run_seq — a change across a segment boundary is
    * exactly `left.last_ok_hash != right.first_ok_hash`, detected at
    * `right.first_ok_seq`. The resolution counters (`resolutionAggs`) fold
    * in the SAME events.groupBy, so the compaction summary costs one shared
    * aggregation pass. This is what lets the compacted summary absorb the
    * event history: CrawlingMeta over (summary ∪ delta) ≡ over the full
    * log, without ever re-folding compacted events.
    */
  def metaState(events: DataFrame): DataFrame = {
    // ONE shuffle on unit_path: the running-frame window computes each ok
    // row's previous-ok-row hash in the same sorted pass the aggregation
    // consumes, and ok-only extremes fold into the shared groupBy as
    // conditional aggregates (min_by/max_by skip null ordering keys). The
    // previous two-branch form (ok-filtered window + okAgg, joined back to
    // a second events aggregation) scanned the events twice, shuffled
    // twice and paid a join; semantics are identical — the `prev` struct
    // is non-null exactly for "a previous ok row exists", even when that
    // row's content_hash is null, which is what the lag-over-ok-rows form
    // expressed (guide §2.4: operations keyed the same way share one
    // exchange).
    val w = Window.partitionBy("unit_path").orderBy("run_seq")
      .rowsBetween(Window.unboundedPreceding, -1)
    val isOk = col("status") === "ok"
    val okStruct = when(isOk, struct(col("content_hash").as("h")))
    val okSeq = when(isOk, col("run_seq"))
    val annotated = events
      .withColumn("prev_hash",
        last(okStruct, ignoreNulls = true).over(w).getField("h"))
      .withColumn("changed",
        isOk && col("prev_hash").isNotNull && col("prev_hash") =!= col("content_hash"))
    val aggs = Seq(
      count(lit(1)).as("visits"),
      min(col("run_seq")).as("first_visited"),
      max(col("run_seq")).as("last_visited"),
      max(okSeq).as("last_successfully_visited"),
      sum(when(col("changed"), 1L).otherwise(0L)).as("changes"),
      max(when(col("changed"), col("run_seq"))).as("last_detected_change"),
      min_by(okStruct, okSeq).getField("h").as("first_ok_hash"),
      min(okSeq).as("first_ok_seq"),
      max_by(okStruct, okSeq).getField("h").as("last_ok_hash")) ++ resolutionAggs
    annotated.groupBy("unit_path").agg(aggs.head, aggs.tail: _*)
  }

  /** Merge two adjacent meta-state segments (every run_seq in `left`
    * precedes every run_seq in `right` — the summary/delta shape). Counters
    * add, extremes coalesce in segment order, and the one cross-boundary
    * change (hash differs across the seam) is counted at the right
    * segment's first successful visit. The resolution counters
    * re-aggregate associatively exactly as the exclusion fold does (perm
    * max-of-max, n_err sum-of-sum). This is what makes compaction
    * INCREMENTAL: new summary = merge(old summary, fold(delta events)) ≡
    * fold(all events), so compacting costs the delta, never the history.
    */
  def mergeMetaStates(left: DataFrame, right: DataFrame): DataFrame = {
    val l = left.columns.filter(_ != "unit_path")
      .foldLeft(left)((d, c) => d.withColumnRenamed(c, s"l_$c"))
    val r = right.columns.filter(_ != "unit_path")
      .foldLeft(right)((d, c) => d.withColumnRenamed(c, s"r_$c"))
    val boundary = col("l_last_ok_hash").isNotNull &&
      col("r_first_ok_hash").isNotNull &&
      col("l_last_ok_hash") =!= col("r_first_ok_hash")
    l.join(r, Seq("unit_path"), "full_outer").select(
      col("unit_path"),
      (coalesce(col("l_visits"), lit(0L)) + coalesce(col("r_visits"), lit(0L)))
        .as("visits"),
      coalesce(col("l_first_visited"), col("r_first_visited")).as("first_visited"),
      coalesce(col("r_last_visited"), col("l_last_visited")).as("last_visited"),
      coalesce(col("r_last_successfully_visited"), col("l_last_successfully_visited"))
        .as("last_successfully_visited"),
      (coalesce(col("l_changes"), lit(0L)) + coalesce(col("r_changes"), lit(0L)) +
        when(boundary, 1L).otherwise(0L)).as("changes"),
      coalesce(col("r_last_detected_change"),
        when(boundary, col("r_first_ok_seq")),
        col("l_last_detected_change")).as("last_detected_change"),
      coalesce(col("l_first_ok_hash"), col("r_first_ok_hash")).as("first_ok_hash"),
      coalesce(col("l_first_ok_seq"), col("r_first_ok_seq")).as("first_ok_seq"),
      coalesce(col("r_last_ok_hash"), col("l_last_ok_hash")).as("last_ok_hash"),
      greatest(coalesce(col("l_perm"), lit(0)), coalesce(col("r_perm"), lit(0)))
        .as("perm"),
      (coalesce(col("l_n_err"), lit(0L)) + coalesce(col("r_n_err"), lit(0L)))
        .as("n_err"))
  }
}
