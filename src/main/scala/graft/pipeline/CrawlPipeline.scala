package graft.pipeline

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import graft.fetch.FetchStage
import graft.fixtures.SyntheticStore
import graft.functions.{ImageFunctions, TextNormalize, UrlFunctions}
import graft.operators.CrawlOps
import graft.tables.SnapshotStore

/** The end-to-end crawl (SURVEY §3.4, §7.2): seed → canonicalize →
  * URL-seen anti-join (Bloom-prefiltered) → robots gate → politeness fetch →
  * normalize (caption + image invariants) → snapshot-committed sinks
  * (`results`, `url_seen`), resumable from the latest snapshot.
  *
  * Table layout under `tableRoot`:
  *   url_seen/   FetchLogRow + run_seq (one row per attempt)  partitioned by bucket
  *   results/    north-rule schema + invariants               partitioned by id_group
  *
  * Scale posture: all joins key on unit_path/url_hash; the store join is an
  * equi-join on unit_path (storage-partitioned by the same id_group at
  * scale); the only global sort is the optional fixture-scale `limit` slice
  * of the golden order.
  */
object CrawlPipeline {

  final case class RunSummary(
      version: Long,
      attempted: Long,
      ok: Long,
      notFound: Long,
      error: Long,
      robotsDenied: Long,
      resultRows: Long)

  val NBuckets = 32

  /** A unit's seen-filter bucket: the partition of its url_seen events,
    * its seen-filter file and its url_seen summary row.
    */
  def bucketOf(unitPath: Column): Column =
    pmod(UrlFunctions.urlHash(unitPath), lit(NBuckets.toLong))

  def urlSeenStore(tableRoot: String) = new SnapshotStore(s"$tableRoot/url_seen")
  def resultsStore(tableRoot: String) = new SnapshotStore(s"$tableRoot/results")
  /** url_seen is the fetch log (each attempt's full `FetchLogRow`); this
    * name stays because krawlbench reads the log through it. */
  def fetchLogStore(tableRoot: String) = urlSeenStore(tableRoot)
  /** S10 final sink: the three RDF graphs per project (reference
    * store_final, fetch_result_repository_workdir.py:93-111). Flag-gated in
    * `run` like the reference's raw sink (S9).
    */
  def projectsStore(tableRoot: String) = new SnapshotStore(s"$tableRoot/projects")
  /** S9 raw sink (reference store_raw, gated by `write_raw=False` —
    * fetch_result_repository_workdir.py:79-91): per fetched unit, the
    * data-set metadata as canonical JSON plus the original payload bytes.
    */
  def rawStore(tableRoot: String) = new SnapshotStore(s"$tableRoot/raw")
  /** Resolved-summary twin of the url_seen event log: ONE row per unit
    * (resolution counters, bucket, CrawlingMeta state) folded from all events
    * up to its `covered_version` metric (`compactUrlSeen`). The per-run
    * exclusion reads it plus only the events after that version, so its
    * cost follows candidates + recent activity, not the attempt history.
    */
  def urlSeenSummaryStore(tableRoot: String) =
    new SnapshotStore(s"$tableRoot/url_seen_summary")

  /** Per-unit resolution counters from an event-log slice: `perm` = unit has
    * a permanent outcome, `n_err` = retryable-error attempts. The SAME fold
    * whether it runs over raw events or over summary ∪ delta rows
    * (`perm`/`n_err` re-aggregate associatively: max-of-max, sum-of-sum).
    */
  private def foldResolution(events: DataFrame): DataFrame = {
    val aggs = CrawlOps.resolutionAggs
    events.groupBy("unit_path").agg(aggs.head, aggs.tail: _*)
  }

  /** The committed summary with the covered_version of the SAME snapshot
    * (`readAt`: a compaction committing in between must not pair a new
    * summary with a stale covered version, double-counting the events
    * between them).
    */
  private def summaryWithCovered(spark: SparkSession,
      tableRoot: String): Option[(DataFrame, Long)] =
    for {
      snap <- urlSeenSummaryStore(tableRoot).currentSnapshot
      covered <- snap.metrics.get("covered_version")
      df <- urlSeenSummaryStore(tableRoot).readAt(spark, snap.version)
    } yield (df, covered)

  /** Table maintenance (like Iceberg's): advance the summary to the
    * url_seen version current at the start by ONE merge of the events
    * committed since its covered version, summary' = merge(summary,
    * fold(events in (covered, current])) — the manifests' file delta
    * (`readBetween`); with no summary, just the fold of (-1, current]. Cost
    * is the gap plus the summary, never the history. Valid while url_seen
    * is append-only after `covered_version`; its one rewrite,
    * `startOverHosting`, truncates the summary in the same commit. The fold
    * is `CrawlOps.metaState` (the exclusion's resolution counters and the
    * mergeable CrawlingMeta state), and each row gets its `bucketOf`. The new
    * summary replaces the old in one commit based on the summary version it
    * merged: a concurrent compaction fails it loudly, so `covered_version`
    * never moves back. Writes nothing when no event follows the covered
    * version. Returns the covered version, None with no summary.
    */
  def compactUrlSeen(spark: SparkSession, tableRoot: String): Option[Long] = {
    val summary = urlSeenSummaryStore(tableRoot)
    val seen = urlSeenStore(tableRoot)
    // the summary first: url_seen can only have moved past what it covers
    val basedOn = summary.currentVersion.getOrElse(-1L)
    val prior = summaryWithCovered(spark, tableRoot)
    val covered = prior.fold(-1L)(_._2)
    (for {
      version <- seen.currentVersion.filter(_ > covered)
      events <- seen.readBetween(spark, covered, version)
    } yield {
      val gap = CrawlOps.metaState(events)
      val state = prior.fold(gap)(p => CrawlOps.mergeMetaStates(p._1.drop("bucket"), gap))
        .withColumn("bucket", bucketOf(col("unit_path")))
      SnapshotStore.commit(Seq(summary.write(spark, state, "bucket",
        Map("covered_version" -> version), clusterBeforeWrite = true, replace = true)
        .copy(basedOn = Some(basedOn))))
      summary.expire(keepLast = 1)
      version
    }).orElse(prior.map(_._2))
  }

  /** Seed URL per store id: all SIX platform families by id residue — the
    * multi-host seed list whose cross-host interleaving the golden crawl
    * order (priority, seq) defines. Pure function, shared with the spec's
    * golden expectations. The gitlab/codeberg forge families exercise the
    * forge URL parser's `-/blob` and `raw` branches e2e
    * (hosting_unit_forge.py:74-149 parity).
    */
  def seedUrl(id: Long): String = (id % 7) match {
    case 1 => s"https://github.com/owner${id % 10}/repo$id/blob/main/okh.toml"
    case 2 => f"https://certification.oshwa.org/us$id%06d.html"
    case 3 => s"https://www.appropedia.org/Project_$id"
    case 5 => s"https://gitlab.com/group${id % 3}/proj$id/-/blob/main/okh.toml"
    case 6 => s"https://codeberg.org/org${id % 4}/unit$id/raw/main/okh.toml"
    case _ => s"https://www.thingiverse.com/thing:$id" // 0, 4
  }

  /** Canonical unit path each seed resolves to (golden expectation). */
  def expectedUnitPath(id: Long): String = (id % 7) match {
    case 1 => s"github.com/owner${id % 10}/repo$id/main/okh.toml"
    case 2 => f"oshwa.org/us$id%06d"
    case 3 => s"appropedia.org/Project_$id"
    case 5 => s"gitlab.com/group${id % 3}/proj$id/main/okh.toml"
    case 6 => s"codeberg.org/org${id % 4}/unit$id/main/okh.toml"
    case _ => SyntheticStore.unitPath(id)
  }

  /** `seedUrl` as a codegen'd column expression (VERDICT r1 #9: the frontier
    * hot path must stay inside whole-stage codegen — no Scala UDF).
    * Semantics identical to `seedUrl(id)`; PlanSpec asserts parity.
    */
  def seedUrlCol(id: Column): Column = {
    val m = pmod(id, lit(7L))
    when(m === 1, concat(lit("https://github.com/owner"), pmod(id, lit(10L)),
        lit("/repo"), id, lit("/blob/main/okh.toml")))
      // format_string pads WITHOUT truncating (lpad would silently truncate
      // ids past 6 digits — exact parity with the f"us$id%06d" driver form)
      .when(m === 2, concat(lit("https://certification.oshwa.org/"),
        format_string("us%06d", id), lit(".html")))
      .when(m === 3, concat(lit("https://www.appropedia.org/Project_"), id))
      .when(m === 5, concat(lit("https://gitlab.com/group"), pmod(id, lit(3L)),
        lit("/proj"), id, lit("/-/blob/main/okh.toml")))
      .when(m === 6, concat(lit("https://codeberg.org/org"), pmod(id, lit(4L)),
        lit("/unit"), id, lit("/raw/main/okh.toml")))
      .otherwise(concat(lit("https://www.thingiverse.com/thing:"), id))
  }

  /** The lightweight key projection of a payload store (guide §8: every
    * decision pass reads small rows; only the decode/join stage touches
    * payload bytes). Written by `ensureBucketedStore` as part of the same
    * one-time ingest prep that builds the bucketed byte layout; when
    * present, the frontier scan reads ~50 bytes/row instead of splitting
    * the multi-GB payload files into hundreds of tasks to extract two
    * columns. Identical rows either way — it is a projection of the store,
    * not a computed result.
    */
  def storeKeysDir(storeDir: String): String =
    storeDir.stripSuffix("/") + "_keys"

  /** The store's parquet files, sorted, with their sizes. The key sidecar
    * and the bucketed layout are derived from the store: `ensureBucketedStore`
    * stamps each with the fingerprint it was built from, in a `_` file that
    * parquet reads skip, and each is used only while the store still has it.
    */
  private def storeFingerprint(storeDir: String): String = {
    val root = Paths.get(storeDir)
    val s = Files.walk(root)
    try sha256Hex(s.iterator().asScala.filter(_.toString.endsWith(".parquet"))
      .map(f => s"${root.relativize(f)} ${Files.size(f)}").toVector.sorted.mkString("\n"))
    finally s.close()
  }

  private val Stamp = "_STORE_FINGERPRINT"

  private def stampedWith(dir: String, fp: String): Boolean =
    Files.exists(Paths.get(dir, Stamp)) && Files.readString(Paths.get(dir, Stamp)) == fp

  private def sha256Hex(s: String): String = java.security.MessageDigest
    .getInstance("SHA-256").digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** Frontier from the synthetic store dir: one URL per store row (the
    * store's image_id encodes the payload id; the platform family comes
    * from the id residue). Seeds are (url, seq=id).
    */
  def frontier(spark: SparkSession, storeDir: String): DataFrame = {
    val src =
      if (stampedWith(storeKeysDir(storeDir), storeFingerprint(storeDir)))
        spark.read.parquet(storeKeysDir(storeDir))
      else spark.read.parquet(storeDir)
    val ids = src
      .select(regexp_extract(col("image_id"), "^thing:(\\d+)/", 1).cast("long").as("id"),
        // payload fingerprint delivered with the fetch — drives the
        // CrawlingMeta change detection on re-visits (data_set.py:17-39)
        col("phash").as("content_hash"))
    frontierOf(ids)
  }

  /** The frontier columns over `ids` (an `id` column plus any columns to
    * carry along): seed URL, canonical unit path, hosting id (the path
    * prefix), priority, URL hash and seen-filter bucket.
    */
  def frontierOf(ids: DataFrame): DataFrame =
    ids
      .withColumn("url", seedUrlCol(col("id")))
      .withColumn("seq", col("id"))
      // codegen'd custom Expression (one parse)
      .withColumn("unit_path", graft.functions.CanonicalUnitPath(col("url")))
      .filter(col("unit_path").isNotNull)
      .withColumn("hosting_id", substring_index(col("unit_path"), "/", 1))
      .withColumn("url_hash", UrlFunctions.urlHash(col("unit_path")))
      .withColumn("bucket", bucketOf(col("unit_path")))
      .withColumn("priority", UrlFunctions.hostPriority(col("hosting_id")))

  /** Skew-aware salting (SURVEY §7.4 risk 2): hosts whose frontier share
    * exceeds `threshold` of the total get one politeness bucket per
    * `saltUnit` rows (budget split in FetchStage keeps per-host rates).
    */
  def autoSalts(frontier: DataFrame, threshold: Double = 0.25,
      maxSalts: Int = 32): Map[String, Int] = {
    val counts = frontier.groupBy("hosting_id").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val total = math.max(1L, counts.values.sum)
    counts.collect {
      case (host, n) if n.toDouble / total > threshold =>
        host -> math.min(maxSalts, math.max(2, (n.toDouble / total * maxSalts).toInt))
    }
  }

  /** Robots disallow rules for the pipeline: deterministic id-based fixture
    * (every 103rd thing disallowed) standing in for per-host robots.txt
    * caches joined into the frontier (R5).
    */
  def robotsAllowed(df: DataFrame): DataFrame =
    df.withColumn("robots_denied", pmod(col("id"), lit(103)) === 0)

  /** R5 with REAL robots.txt documents: per-host policies (RFC 9309 parser,
    * `model/Robots`) broadcast and evaluated against each URL's path.
    * Empty map → the deterministic fixture above.
    */
  def robotsAllowed(df: DataFrame, robotsTxtByHost: Map[String, String]): DataFrame =
    if (robotsTxtByHost.isEmpty) robotsAllowed(df)
    else df.withColumn("robots_denied",
      !graft.model.Robots.allowedCol(df.sparkSession, robotsTxtByHost,
        col("hosting_id"), regexp_replace(col("url"), "^https?://[^/]+", "")))

  /** Catalog table name for a bucketed store dir: a 128-bit SHA-256 prefix
    * of the full path (dir.hashCode is 32-bit — two distinct store dirs
    * colliding would silently join the wrong payload bytes).
    */
  def storeTableName(dir: String): String = s"graft_store_b${sha256Hex(dir).take(32)}"

  /** One-time ingest of the payload store into an id-bucketed table — the
    * shared storage layout that makes the payload join storage-partitioned.
    *
    * At 10^10 scale the store is ingested ONCE into this layout (bytes are
    * written exactly once, hashed onto `NBuckets` id buckets); every
    * subsequent payload join then shuffles only the small fetched-key side
    * into the store's bucketing while the image bytes never move and
    * nothing flows through the driver. Idempotent: reuses the bucketed
    * files across sessions (re-registering the external table when a fresh
    * catalog doesn't know it yet) while their stamp matches the store's
    * fingerprint, and rebuilds both derived layouts when it does not.
    */
  def ensureBucketedStore(spark: SparkSession, storeDir: String): String = {
    val dir = storeDir.stripSuffix("/") + "_bucketed"
    val tbl = storeTableName(dir)
    val fp = storeFingerprint(storeDir)
    // (re)build a derived layout under the lock unless it is stamped with fp
    def derive(out: String)(build: => Unit): Unit = if (!stampedWith(out, fp)) synchronized {
      if (!stampedWith(out, fp)) { build; Files.writeString(Paths.get(out, Stamp), fp) }
    }
    // the key sidecar, sharded to the session's parallelism so the frontier
    // scan (and the URL derivation on it) still parallelizes — one file
    // would serialize the frontier parse into one task
    derive(storeKeysDir(storeDir)) {
      spark.read.parquet(storeDir).select(col("image_id"), col("phash"))
        .repartition(math.max(spark.sparkContext.defaultParallelism, 16))
        .write.mode("overwrite").parquet(storeKeysDir(storeDir))
    }
    derive(dir) {
      // pre-cluster on the bucket hash so each task writes exactly one
      // bucket file (otherwise: tasks × buckets small files); overwrite
      // also drops a registration of the stale layout
      spark.read.parquet(storeDir)
        .withColumn("id", regexp_extract(col("image_id"), "^thing:(\\d+)/", 1).cast("long"))
        .repartition(NBuckets, col("id"))
        .write.mode("overwrite").format("parquet")
        .bucketBy(NBuckets, "id")
        .option("path", dir)
        .saveAsTable(tbl)
    }
    if (!spark.catalog.tableExists(tbl)) synchronized {
      if (!spark.catalog.tableExists(tbl)) {
        // files already in the bucketed layout → register, don't rewrite
        val schema = spark.read.parquet(dir).schema
        spark.sql(s"CREATE TABLE $tbl (${schema.toDDL}) USING parquet " +
          s"CLUSTERED BY (id) INTO $NBuckets BUCKETS LOCATION '$dir'")
      }
    }
    tbl
  }

  /** Attach store payload to the fetched keys. Join strategy by run shape:
    *  - bounded slice (`limit=Some`): the fetched side is ≤ limit rows →
    *    broadcast it; bytes never shuffle, no table prep needed.
    *  - full run (`limit=None`): broadcasting the run slice is unbounded
    *    (driver/executor OOM at frontier scale) → storage-partitioned join
    *    against the id-bucketed store table: only the small fetched side
    *    shuffles (into the store's bucketing); the bytes side has no
    *    Exchange and no broadcast (asserted in PlanSpec).
    */
  def payloadJoin(spark: SparkSession, storeDir: String, fetched: DataFrame,
      limit: Option[Long]): DataFrame = limit match {
    case Some(_) =>
      val store = spark.read.parquet(storeDir)
        .withColumn("id",
          regexp_extract(col("image_id"), "^thing:(\\d+)/", 1).cast("long"))
      store.join(broadcast(fetched), Seq("id"))
    case None =>
      val store = spark.table(ensureBucketedStore(spark, storeDir))
      // shuffle_hash (not broadcast) on the fetched side: build a hash map
      // per bucket from the keys, stream the bytes through unshuffled
      store.join(fetched.hint("shuffle_hash"), Seq("id"))
  }

  /** The OKH manifest the synthetic transport delivers per store id (the
    * TOML twin of SyntheticStore's image payload).
    */
  private val manifestTomlUdf =
    udf((id: Long) => graft.fixtures.SyntheticManifests.toml(id))

  /** Retryable errors are excluded from slice selection after this many
    * recorded attempts (CrawlingMeta-style re-visit bookkeeping replacing
    * the retry-forever behavior — reference tracks visits in
    * data_set.py:17-39).
    */
  val MaxErrorRetries = 3

  /** Frontier units eligible for this run: the URL-seen exclusion dataflow.
    * Bucket-routed frontier → Bloom/cuckoo file prefilter, evaluated above
    * the routing so each routed task loads only its own buckets' filters,
    * splitting definitely-new from maybe-seen → resolved-set fold over ONLY
    * the frontier units' state (semi-join first) → exact anti-join of the
    * maybe-seen units. Summary-first (the sustained-10^10
    * maintenance path): with a compacted summary present the fold reads the
    * summary row plus only the events of `seenOpt` NEWER than its covered
    * version; with no events it reads the summary alone. So per-run cost is
    * proportional to candidates + activity since the last compaction, never
    * the full attempt history.
    *
    * Extracted from `run` so PlanSpec can pin the exclusion plan shape
    * (no CartesianProduct / no nested-loop join anywhere in the subtree).
    */
  def selectCandidates(spark: SparkSession, tableRoot: String,
      fullFrontier: DataFrame, seenOpt: Option[DataFrame],
      seenFilters: graft.frontier.SeenFilterStore[_],
      maxErrorRetries: Int = MaxErrorRetries): DataFrame =
    exclude(tableRoot, fullFrontier, seenOpt, summaryWithCovered(spark, tableRoot),
      seenFilters, maxErrorRetries)

  /** `selectCandidates` over a summary snapshot the caller has read. */
  private def exclude(tableRoot: String, fullFrontier: DataFrame,
      events: Option[DataFrame], summary: Option[(DataFrame, Long)],
      seenFilters: graft.frontier.SeenFilterStore[_],
      maxErrorRetries: Int): DataFrame =
    if (events.isEmpty && summary.isEmpty) fullFrontier
    else {
      // the filter directory is a pure function of (tableRoot, kind) —
      // derived here so a caller can never pair a kind with the wrong dir
      val filterDir = s"$tableRoot/${seenFilters.dirName}"
      // both branches split on this one column over the same routed
      // exchange, which the plan then computes once and reuses
      val routed = fullFrontier.repartition(NBuckets, col("bucket"))
        .withColumn("maybe_seen", seenFilters.predicate(filterDir))
      val maybeSeen = routed.filter(col("maybe_seen"))
      // the state to fold is the frontier units': a unit the prefilter
      // calls new has no event and no summary row, so prefiltering this
      // set would only load every filter once more
      val candSet = fullFrontier.select("unit_path")
      val covered = summary.fold(-1L)(_._2)
      val delta = events.map(e => foldResolution(e
        .filter(col("run_seq") > covered)
        .join(candSet, Seq("unit_path"), "left_semi")))
      val fromSummary = summary.map(_._1.select("unit_path", "perm", "n_err")
        .join(candSet, Seq("unit_path"), "left_semi"))
      val perUnit = (fromSummary ++ delta).reduce((s, d) => s.unionByName(d)
        // perm re-aggregates as max-of-max, n_err as sum-of-sum
        .groupBy("unit_path").agg(max("perm").as("perm"), sum("n_err").as("n_err")))
      val resolved = perUnit
        .filter(col("perm") === 1 || col("n_err") >= maxErrorRetries)
        .select("unit_path")
      routed.filter(!col("maybe_seen"))
        .unionByName(maybeSeen.join(resolved, Seq("unit_path"), "left_anti"))
        .drop("maybe_seen")
    }

  /** One crawl run: process up to `limit` frontier units not yet in
    * url_seen, publish every table it writes in one commit, return counters.
    * Re-invoking continues from the committed snapshot (resume, R6). Every
    * attempt is one url_seen row (its `FetchLogRow` plus `run_seq`); the
    * status counters are observed on that write and also recorded as the
    * url_seen commit's metrics.
    *
    * After the commit the seen filters take the run's keys, and once the
    * events committed since the summary's covered version exceed
    * `autoCompactAlpha` × its rows (<= 0: never), `compactUrlSeen` merges
    * exactly those events into it (valid while url_seen is append-only after
    * `covered_version`: `startOverHosting` truncates the summary too).
    */
  def run(spark: SparkSession, storeDir: String, tableRoot: String,
      limit: Option[Long] = None,
      salts: Map[String, Int] = Map.empty,
      rdfSink: Boolean = false, // S10: emit the 3-graph RDF projects table
      rawSink: Boolean = false, // S9: emit meta-json + original payload bytes
      revisit: Boolean = false, // re-crawl resolved units (change detection)
      robotsTxt: Map[String, String] = Map.empty, // real per-host robots.txt
      crashBeforeSeenCommit: Boolean = false, // test hook: injected crash
      // URL-seen sketch kind (north rule: "Bloom/cuckoo"): bloom is the
      // default; cuckoo adds targeted invalidation (CuckooSeen.removeKeys).
      // Each kind owns its directory, so switching kinds on an existing
      // table root just builds the new kind fresh.
      seenFilters: graft.frontier.SeenFilterStore[_] = graft.frontier.SeenFilters.bloom,
      // self-triggering table maintenance, see above (reference parity: the
      // state rewrite happens on every store, fetcher_state.py:26-51)
      autoCompactAlpha: Double = 1.0,
      // budgets from the (validated) config layer — defaults reproduce the
      // shipped constants exactly (CrawlConfig.default)
      politenessBase: Map[String, FetchStage.Politeness] = FetchStage.defaultPoliteness,
      fallbackPoliteness: FetchStage.Politeness = FetchStage.FallbackPoliteness,
      maxErrorRetries: Int = MaxErrorRetries,
      // frontier rows this run may fetch: `krawl fetch <hosting>` passes
      // `col("hosting_id") === h` (the reference's FetcherXCommand fetches
      // only the named hosting, fetcher.py:84-86), `krawl fetch url` the
      // given unit paths. The default is the whole frontier; the optimizer
      // drops the always-true filter, so full-run plans are unchanged
      scope: Column = lit(true)
      ): RunSummary = {
    import spark.implicits._

    val seen = urlSeenStore(tableRoot)
    // the summary first: url_seen can only have moved past what it covers
    val summary = summaryWithCovered(spark, tableRoot)
    val seenSnap = seen.currentSnapshot
    // the url_seen version this run's slice is selected from: the run's
    // events carry run_seq = sliceId + 1, and its commit fails loudly if
    // url_seen has moved on in between
    val sliceId = seenSnap.fold(-1L)(_.version)
    val bloomDir = s"$tableRoot/${seenFilters.dirName}"
    val fullFrontier = robotsAllowed(frontier(spark, storeDir), robotsTxt).filter(scope)

    // URL-seen anti-join with per-bucket Bloom pre-filter (no false
    // negatives by construction; exact anti-join on unit_path settles the
    // Bloom positives; see selectCandidates). url_seen is an append-only
    // EVENT LOG (one row per attempt); a unit is excluded from future slices
    // once it has a permanent outcome or MaxErrorRetries failed attempts.
    // The exclusion reads the summary plus only the events it does not
    // cover (None when it covers sliceId), never the whole history.
    // `revisit` ignores the exclusion and re-crawls the whole frontier
    // (visit counters + change detection).
    val gap = seenSnap.flatMap(snap =>
      seen.readBetween(spark, summary.fold(-1L)(_._2), snap.version))
    // reconcile the filter files with the committed url_seen BEFORE this
    // run uses or updates them — for EVERY run shape (a revisit run also
    // stamps a new VERSION at commit, so skipping the reconcile here would
    // permanently hide keys lost to a crash → Bloom false negatives)
    if (seenSnap.isDefined && !seenFilters.filtersVersion(bloomDir).contains(sliceId)) {
      // crash between the run's commit and filter update (or first read of
      // a pre-existing table): rebuild so filters can't be stale, from the
      // summary (one row per unit up to its covered version) ∪ the gap
      val keys = summary.map(_._1.select(col("bucket"),
          UrlFunctions.urlHash(col("unit_path")).as("url_hash"))) ++
        gap.map(_.select(col("bucket"), col("url_hash")))
      keys.reduceOption(_.unionByName(_)).foreach(seenFilters.rebuild(_, bloomDir, sliceId))
    }
    val candidates =
      if (revisit) fullFrontier
      else exclude(tableRoot, fullFrontier, gap, summary, seenFilters, maxErrorRetries)

    // fixture-scale run slice of the golden order (kill/resume simulation)
    val sliced = limit match {
      case Some(n) => candidates.orderBy(col("priority"), col("seq")).limit(n.toInt)
      case None    => candidates
    }

    // robots-denied units flow THROUGH the fetch stage as pre-resolved
    // status rows (no request, no politeness slot) — one pass, one log.
    // robots Crawl-delay raises the per-host interval to
    // max(platform, robots) (model/Robots.effectiveIntervalMs).
    val politeness =
      if (robotsTxt.isEmpty) politenessBase
      else FetchStage.politenessWithRobots(politenessBase,
        robotsTxt.map { case (h, t) => h -> graft.model.Robots.parse(t) },
        fallbackPoliteness)
    val tasks = FetchStage.toTasks(spark, sliced)
    val log = FetchStage.run(spark, tasks, politeness = politeness,
      salts = salts, fallback = fallbackPoliteness).cache()
    try {
      // normalize + invariants for fetched units: attach the store payload
      // (broadcast for bounded slices, storage-partitioned at limit=None —
      // see payloadJoin)
      val fetched = log.filter(col("status") === "ok")
        .select(col("unit_path"), col("id"), col("pos"), col("scheduled_ms"))
      val results = payloadJoin(spark, storeDir, fetched, limit)
        .withColumn("caption", TextNormalize.normalizeCaptionUdf(col("caption")))
        .withColumn("phash_check", ImageFunctions.phash64(col("bytes")))
        .withColumn("id_group", (col("id") / 10000).cast("long"))
        .select(col("image_id"), col("bytes"), col("w"), col("h"), col("fmt"),
          col("caption"), col("phash"), col("phash_check"), col("unit_path"),
          col("id_group"))

      // S10: 3-graph RDF sink — the FULL normalize→TOML→RDF chain per fetched
      // unit, mirroring the reference's NormalizationListener
      // (fetcher/factory.py:49-59): the delivered manifest payload runs
      // through Normalizers.manifest, the normalized project serializes to
      // the empty-stripped manifest TOML (toml_serializer.py:88-110) stored
      // on normalized_toml, then RdfSerializer emits the three turtle graphs
      // (normalized.okh_toml carries the deflate+base64 TOML,
      // rdf_serializer.py:827-832). Everything after the normalize transform
      // is one typed map — pure per-row serialization, no shuffle.
      val projectsSink = Option.when(rdfSink)(() => {
        // the manifest the platform delivers for a unit: deterministic
        // function of the store id (the fixture transport's payload twin,
        // like SyntheticStore for the image bytes)
        val raws = results
          .select(col("image_id"), col("unit_path"), col("caption"), col("id_group"))
          .withColumn("id",
            regexp_extract(col("image_id"), "^thing:(\\d+)/", 1).cast("long"))
          .withColumn("fmt", lit("toml"))
          .withColumn("content", manifestTomlUdf(col("id")))
        val normalized = graft.normalize.Normalizers.manifest(spark, raws,
          passthrough = Seq("image_id", "unit_path", "caption", "id_group", "id"))
        val docs = normalized.map { r =>
          val imageId = r.getAs[String]("image_id")
          val unitPath = r.getAs[String]("unit_path")
          val idGroup = r.getAs[Long]("id_group")
          val id = r.getAs[Long]("id")
          val hosting = unitPath.takeWhile(_ != '/')
          val p0 = graft.model.ProjectModel.fromRow(r)
          // the fetched payload image, its caption as the depicts LangStr
          // (image+caption pairs are the north-rule payload)
          val lang = p0.documentation_language.headOption.getOrElse("en")
          val img = graft.model.ImageRef(Some(imageId), None,
            Some(s"img://$imageId"), None, None, Seq.empty, Seq.empty,
            Seq(graft.model.LangStr(r.getAs[String]("caption"), lang)))
          val p1 = p0.copy(image = p0.image :+ img)
          val p = p1.copy(normalized_toml =
            Some(graft.serialize.Serializers.projectToToml(p1)))
          // sourcing procedure by platform family (factory.py fetcher kinds:
          // forges deliver manifests, appropedia generates one, the API
          // platforms are API-sourced); forge units record the manifest URL
          val proc = hosting match {
            case "github.com" | "gitlab.com" | "codeberg.org" => "manifest"
            case "appropedia.org" => "generated-manifest"
            case _ => "api"
          }
          val manifestUrl = if (proc == "manifest") Some(seedUrl(id)) else None
          val cm = graft.model.CrawlMeta.initial(hosting, proc,
            manifest = manifestUrl, okhv = Option(r.getAs[String]("okhv")))
          val d = graft.serialize.RdfSerializer.serialize(p, cm)
          (unitPath, d.normalized_okh_toml_ttl, d.meta_ttl, d.data_okh_ttl, idGroup)
        }.toDF("project_id", "normalized_okh_toml_ttl", "meta_ttl",
          "data_okh_ttl", "id_group")
        projectsStore(tableRoot).write(spark, docs, "id_group")
      })
      // S9 raw sink: data-set metadata as canonical JSON + the original
      // payload bytes, straight from the result rows (to_json is builtin —
      // no UDF; bytes ride in the same partition layout as results)
      val rawSinkTask = Option.when(rawSink)(() => {
        val raw = results.select(
          col("unit_path"),
          to_json(struct(
            col("unit_path"), col("image_id"),
            substring_index(col("unit_path"), "/", 1).as("hosting_id"),
            lit("api").as("sourcing_procedure"),
            lit("OKH-LOSHv1.0").as("okhv_fetched"),
            col("phash").as("content_hash"),
            lit(sliceId + 1).as("run_seq"))).as("meta_json"),
          col("bytes").as("orig"), col("fmt"), col("id_group"))
        rawStore(tableRoot).write(spark, raw, "id_group")
      })
      // url_seen is the fetch log: EVERY attempt's full row is a CrawlingMeta
      // event (errors stop being selected after MaxErrorRetries; re-visits
      // accumulate visit/change counters). Its write counts the statuses.
      val seenRows = log.withColumn("run_seq", lit(sliceId + 1))
      val statusObs = Observation("status_counts")
      val statusCols = Seq("ok", "not_found", "error", "robots_denied")
        .map(s => count(when(col("status") === s, 1)).as(s))
      val counted = seenRows.observe(statusObs, statusCols.head, statusCols.tail: _*)
      // every sink stages its data files (independent tables → their write
      // jobs run concurrently; Spark schedules parallel jobs from threads),
      // then ONE commit publishes them all. A run that fails or crashes
      // before that commit publishes nothing, so any later run, under any
      // scope or limit, selects and writes its slice exactly once.
      val changes = awaitAll(Seq(
        () => resultsStore(tableRoot).write(spark, results, "id_group"),
        () => seen.write(spark, counted, "bucket", clusterBeforeWrite = true)
          .copy(basedOn = Some(sliceId))) ++
        projectsSink ++ rawSinkTask)
      val statusCounts = statusObs.get.map { case (k, v) => k -> v.asInstanceOf[Long] }

      if (crashBeforeSeenCommit)
        throw new RuntimeException("injected crash between the sink writes and the run's commit")

      val snaps = SnapshotStore.commit(changes.updated(1, changes(1).copy(metrics = statusCounts)))
      val resultRows = snaps.head.metrics("commit_rows")
      val snap = snaps(1) // url_seen

      // auto-compaction policy: the events committed since the summary's
      // covered version, from the lineage of two manifests (no table scan)
      def autoCompact(): Unit = if (autoCompactAlpha > 0) {
        val summarySnap = urlSeenSummaryStore(tableRoot).currentSnapshot
        val covered = summarySnap.flatMap(_.metrics.get("covered_version")).getOrElse(-1L)
        val summaryRows = summarySnap.map(_.files.map(_.rows).sum).getOrElse(0L)
        if (seen.lineageDelta(covered, snap.version).values.sum >
            autoCompactAlpha * math.max(1L, summaryRows))
          compactUrlSeen(spark, tableRoot)
      }
      // the filter merge and the compaction are independent post-commit
      // maintenance on disjoint state (per-bucket filter files vs the summary
      // table), each crash-safe on its own (a lost filter stamp → reconcile
      // rebuild next run; a lost summary → next compaction), so they run as
      // concurrent jobs — the serial tail of every run shrinks by the
      // smaller of the two. A compaction error surfaces with any filter
      // error attached.
      awaitAll(Seq(() => autoCompact(), () => seenFilters.update(
        seenRows.select(col("bucket"), col("url_hash")), bloomDir, snap.version)))
      RunSummary(
        version = snap.version,
        attempted = statusCounts.values.sum,
        ok = statusCounts("ok"),
        notFound = statusCounts("not_found"),
        error = statusCounts("error"),
        robotsDenied = statusCounts("robots_denied"),
        resultRows = resultRows)
    } finally log.unpersist()
  }

  /** Run `tasks` concurrently and wait for every one of them. The first
    * failure in task order is rethrown with the later ones attached as
    * suppressed, so a failed task never leaves the others running detached.
    */
  private def awaitAll[A](tasks: Seq[() => A]): Seq[A] = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    val started = tasks.map(t => Future(t()))
    val done = started.map(f => scala.util.Try(Await.result(f, Duration.Inf)))
    val errors = done.collect { case scala.util.Failure(e) => e }
    for (first <- errors.headOption) {
      errors.tail.foreach(first.addSuppressed)
      throw first
    }
    done.map(_.get)
  }

  /** Config-driven run: every knob from a VALIDATED `CrawlConfig` (the
    * reference's config-dict path, `config.py:35-117` → `factory.py`) —
    * budgets, retry bounds, sketch kind, sink toggles, and the compaction
    * policy all come from user config instead of code constants. Throws on
    * an invalid config with every violation listed, before any job runs.
    * `scope` restricts the frontier as in `run`.
    */
  def runConfigured(spark: SparkSession, storeDir: String, tableRoot: String,
      config: graft.CrawlConfig,
      limit: Option[Long] = None,
      salts: Map[String, Int] = Map.empty,
      revisit: Boolean = false,
      robotsTxt: Map[String, String] = Map.empty,
      scope: Column = lit(true)): RunSummary = {
    val c = config.validated
    run(spark, storeDir, tableRoot, limit, salts,
      rdfSink = c.rdfSink, rawSink = c.rawSink, revisit = revisit,
      robotsTxt = robotsTxt, seenFilters = c.seenFilters,
      autoCompactAlpha = c.autoCompactAlpha,
      politenessBase = c.politeness,
      fallbackPoliteness = c.fallbackPoliteness,
      maxErrorRetries = c.maxErrorRetries,
      scope = scope)
  }

  /** Scope a `--start-over` reset to ONE hosting family (the reference
    * resets only the named fetcher's saved state, fetcher.py:44-47 +
    * 84-86): url_seen/results keep every OTHER hosting's rows; the
    * derived url_seen summary is dropped entirely (rebuilt by the next
    * compaction) and the per-bucket seen-filter files reconcile
    * automatically on the next run (their stamped version no longer
    * matches the rewritten url_seen). All three resets publish in one
    * commit, which fails if a table moved while its rewrite was written.
    */
  def startOverHosting(spark: SparkSession, tableRoot: String,
      hostingId: String): Unit = {
    // each table keeps the rows `keep` selects, rewritten with the append
    // path's clusterBeforeWrite (its partition keys are hash-random per task)
    def rewrite(store: SnapshotStore, partitionCol: String,
        keep: Column): Option[SnapshotStore.Change] = for {
      snap <- store.currentSnapshot
      remaining <- store.readAt(spark, snap.version).map(_.filter(keep))
    } yield (if (remaining.isEmpty) store.truncation
      else store.write(spark, remaining, partitionCol, clusterBeforeWrite = true,
        replace = true)).copy(basedOn = Some(snap.version))
    val summary = urlSeenSummaryStore(tableRoot)
    val changes = Seq(
      Option.when(summary.currentSnapshot.exists(_.files.nonEmpty))(summary.truncation),
      rewrite(urlSeenStore(tableRoot), "bucket", col("hosting_id") =!= hostingId),
      // NOTE scale trade-off: results is partitioned by id_group, so this
      // predicate cannot prune — resetting one hosting rewrites the other
      // hostings' payload rows too. At fixture/operator scale that is fine;
      // a 10^10-row deployment would instead apply a per-hosting tombstone
      // at read time and fold it into the next compaction.
      rewrite(resultsStore(tableRoot), "id_group",
        substring_index(col("unit_path"), "/", 1) =!= hostingId)).flatten
    if (changes.nonEmpty) SnapshotStore.commit(changes)
  }

  /** The CrawlingMeta view over this table root's url_seen event log. */
  def crawlingMeta(spark: SparkSession, tableRoot: String): Option[DataFrame] =
    urlSeenStore(tableRoot).read(spark).map(CrawlOps.crawlingMeta)

  /** `crawlingMeta` with the summary absorbing history: only the events
    * committed after its covered version (`readBetween`, the gap compaction
    * merges) are window-folded, and merged onto the summary's meta state
    * across the seam by `CrawlOps.mergeMetaStates` (cross-boundary hash
    * changes included). Same output; compacted events are never re-folded.
    */
  def crawlingMetaCompacted(spark: SparkSession, tableRoot: String): Option[DataFrame] = {
    // the summary first: url_seen can only have moved past what it covers
    val prior = summaryWithCovered(spark, tableRoot)
    val seen = urlSeenStore(tableRoot)
    val gap = seen.currentVersion
      .flatMap(v => seen.readBetween(spark, prior.fold(-1L)(_._2), v))
    (prior.map(_._1.drop("bucket")) ++ gap.map(CrawlOps.metaState))
      .reduceOption(CrawlOps.mergeMetaStates)
      .map(_.select(CrawlOps.MetaPublicCols.map(col): _*))
  }

  /** Run to exhaustion (all frontier units either seen or error),
    * `limit`-sized slices per run. Returns the per-run summaries.
    */
  def runUntilDone(spark: SparkSession, storeDir: String, tableRoot: String,
      limit: Long, autoCompactAlpha: Double = 1.0): Seq[RunSummary] = {
    // retryable errors leave the frontier after MaxErrorRetries recorded
    // attempts, so an empty slice (attempted == 0) means true exhaustion —
    // slices always advance into fresh frontier instead of re-fetching
    // known-permanent failures forever
    val (busy, rest) = Iterator.continually(run(spark, storeDir, tableRoot, Some(limit),
      autoCompactAlpha = autoCompactAlpha)).span(_.attempted > 0)
    busy.toVector :+ rest.next()
  }
}
