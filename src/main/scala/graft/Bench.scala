package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.fixtures.SyntheticStore
import graft.pipeline.CrawlPipeline

/** Round benchmark: one JSON line with per-query seconds plus the
  * two-parallelism crawl scaling evidence (BASELINE.md protocol: local[8]
  * vs local[32] standing in for N and 4N executors; efficiency =
  * (thr_32/thr_8)/4).
  *
  * Queries execute through the `noop` sink so projections are fully
  * computed (a bare count() would let Catalyst prune the projected
  * columns away and time only the scan).
  */
object Bench {

  /** The harness's local session; the `graft.tools` mains share it. */
  private[graft] def session(cpus: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"graft-bench-$cpus")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      // binary-payload scans: split small files aggressively so image-decode
      // stages get one task per core instead of ~3 x 128MB coalesced tasks
      .config("spark.sql.files.maxPartitionBytes", "4m")
      .config("spark.sql.files.openCostInBytes", "1m")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def exec(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private def time[A](f: => A): Double = {
    val t0 = System.nanoTime()
    f
    (System.nanoTime() - t0) / 1e9
  }

  /** Headline queries timed per round (subset of SparkEntry.queries chosen
    * to cover scan-agg, shuffle-join, window, LSH fan-out, and ANN shapes).
    */
  val headline: Seq[String] = Seq(
    "q1_pricing", "q3_shipping", "q5_region", "q6_forecast", "q12_shipmode",
    "q14_promo", "q_event_windows", "q_sessionize",
    "q_frontier_dedup", "q_crawl_order", "q_politeness_schedule",
    "q_fetch_schedule", "q_crawl_meta",
    "q_normalize_manifest", "q_normalize_v1", "q_license_resolve", "q_rdf_triples",
    "q_dedup_exact", "q_fingerprint", "q_quality", "q_lang_id",
    "q_ngram_jaccard", "q_minhash_lsh", "q_simhash_pairs", "q_embed_neardup",
    // headline ANN numbers are the scale paths (hyperplane LSH + IVF
    // probe-limited lists); the O(Q×N) brute-force twin stays in the suite
    // as the RECALL ORACLE only — it is correct by design but must never
    // be read as the production ANN cost
    "q_ann_lsh", "q_ann_ivf", "q_ann_ivf_trained",
    // the image family: decode-bounded pHash pigeonhole pairs over the
    // 539-image planted corpus, and the shuffle-free vision-prep scan
    "q_image_neardup", "q_vision_prep",
    // the capstone composition: gates + fingerprint dedup + frozen split
    "q_training_mix", "q_pack_sequences",
    // sitemap-fed frontier: robots discovery + XML parse (scan stage) +
    // index expansion joins + first-wins dedup, then freshness scheduling
    "q_sitemap_frontier", "q_recrawl_due")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val crawlN = sys.env.getOrElse("SPARK_GRAFT_CRAWL_N", "300000").toLong
    // N vs 4N parallelism for the scaling evidence. This sandbox VM's 32
    // "cores" deliver only ~21 effective cores of parallel capacity
    // (measured: pure-CPU work scales 8→32 threads at 0.68 even outside the
    // JVM), so the honest in-capacity pair is 2 vs 8; override via env.
    val scaleN = sys.env.getOrElse("SPARK_GRAFT_SCALE_N", "2").toInt
    val scale4N = scaleN * 4
    // URL-seen sketch kind for the crawl scaling runs (north rule names
    // both): bloom (default) or cuckoo. Cuckoo mode additionally measures
    // targeted invalidation (removeKeys → re-fetch of exactly those units),
    // the op the Bloom sketch cannot express.
    val seenKind = sys.env.getOrElse("SPARK_GRAFT_SEEN", "bloom")
    val seenFilters = CrawlConfig(seenKind = seenKind).seenFilters

    // ---- query suite at the requested parallelism ----
    // SPARK_GRAFT_BENCH_ONLY=crawl skips the query suite (fast iteration on
    // the scaling section while profiling the crawl path)
    val crawlOnly = sys.env.get("SPARK_GRAFT_BENCH_ONLY").contains("crawl")
    // SPARK_GRAFT_BENCH_QUERIES=q_a,q_b times just those queries and skips
    // the scaling section (isolated per-query measurement)
    val onlyQueries = sys.env.get("SPARK_GRAFT_BENCH_QUERIES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
    // any SparkEntry query may be isolated (not just headline members);
    // an unknown name is an error, not a silent empty measurement
    onlyQueries.foreach { qs =>
      val unknown = qs.filterNot(SparkEntry.queries.contains)
      require(unknown.isEmpty, s"unknown SPARK_GRAFT_BENCH_QUERIES: ${unknown.mkString(",")}")
    }
    require(!(crawlOnly && onlyQueries.isDefined),
      "SPARK_GRAFT_BENCH_ONLY=crawl and SPARK_GRAFT_BENCH_QUERIES conflict: " +
        "the first skips the query suite the second selects from")
    var spark = session(cpus)
    val suite = onlyQueries.getOrElse(headline)
    val timings = if (crawlOnly) Seq.empty else suite.map { name =>
      val fn = SparkEntry.queries(name)
      exec(fn(spark, sfDir)) // warmup: JIT + reader metadata + codegen cache
      val sec = time(exec(fn(spark, sfDir)))
      name -> sec
    }

    def renderTimings(t: Seq[(String, Double)]): String =
      t.map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }
        .mkString("{", ",", "}")
    if (onlyQueries.isDefined) {
      // isolated query timing: print and exit before the scaling section
      println(s"""{"metric":"total","value":${timings.map(_._2).sum},""" +
        s""""unit":"sec","queries":${renderTimings(timings)},"sf":"$sfDir"}""")
      PlanCache.clear(spark)
      spark.stop()
      return
    }

    // persist the synthetic store once (shared by both scaling runs);
    // bench images are 32..160 px so per-image decode cost is realistic
    // for an image crawl (unit fixtures stay at 8..64 px)
    val storeDir = s"/tmp/graft_bench_store_${crawlN}_px160"
    SyntheticStore.ensureOnDisk(spark, storeDir, crawlN, minPx = 32, maxPx = 160)
    // one-time ingest into the id-bucketed layout (the storage-partitioned
    // payload-join side at limit=None) — prep, not crawl time
    CrawlPipeline.ensureBucketedStore(spark, storeDir)

    // ---- crawl pipeline scaling: N vs 4N threads, same input ----
    // skew-aware salting derived from the actual frontier host shares
    // (deterministic input → identical salts → both runs execute the same
    // plan; only executor parallelism differs). Scaling-run sinks live on
    // tmpfs: the sandbox shares ONE virtual disk across all threads, while
    // real clusters scale sink bandwidth per node — disk serialization
    // would measure the sandbox, not the engine.
    val salts = CrawlPipeline.autoSalts(CrawlPipeline.frontier(spark, storeDir))
    val shmBase = {
      val d = new java.io.File("/dev/shm")
      if (d.isDirectory && d.canWrite) "/dev/shm" else System.getProperty("java.io.tmpdir")
    }
    def crawlRun(threads: Int, limit: Option[Long] = None,
        keepRoot: Boolean = false): (Double, Long, String) = {
      PlanCache.clear(spark)
      spark.stop()
      spark = session(threads)
      val tableRoot = java.nio.file.Files
        .createTempDirectory(java.nio.file.Paths.get(shmBase), s"graft-bench-$threads")
        .toString
      // warm a trivial job so session startup is outside the timing, and
      // re-register the bucketed store in this fresh session's catalog
      // (files already exist — registration only, no rewrite)
      spark.range(1000).count()
      CrawlPipeline.ensureBucketedStore(spark, storeDir)
      val t0 = System.nanoTime()
      val summary = CrawlPipeline.run(spark, storeDir, tableRoot, limit, salts,
        seenFilters = seenFilters)
      val sec = (System.nanoTime() - t0) / 1e9
      // free the tmpfs space immediately (unless the caller keeps the root
      // for a follow-up measurement, e.g. cuckoo invalidation)
      if (!keepRoot)
        scala.reflect.io.Directory(new java.io.File(tableRoot)).deleteRecursively()
      (sec, summary.attempted, tableRoot)
    }
    // Host steal on this VM drifts over minutes and swings absolute times
    // up to ~2x (the OS itself still scales ~4.0x from N to 4N procs — see
    // calibrate()). So: interleave N/4N runs, take best-of-2 per level, and
    // report an OS-capacity calibration next to the result so any
    // depressed efficiency number can be attributed to host contention.
    def calibrate(threads: Int): Double = {
      import java.util.concurrent.Executors
      val ex = Executors.newFixedThreadPool(threads)
      val t0 = System.nanoTime()
      val fs = (0 until threads).map(_ => ex.submit(new java.util.concurrent.Callable[Long] {
        def call(): Long = { var x = 0L; var i = 0L; while (i < 300000000L) { x ^= i * 0x9E3779B9L; i += 1 }; x }
      }))
      fs.foreach(_.get()); ex.shutdown()
      threads / ((System.nanoTime() - t0) / 1e9) // work units per second
    }
    crawlRun(scale4N, limit = Some(40000L)) // JIT warm-up, untimed
    // os scaling can never truly exceed 1.0 (4N threads cannot deliver more
    // than 4× the per-thread capacity of N threads); a reading > ~1.0 means
    // the calibration window itself was stolen from (BENCH_r04's driver run
    // read 1.404 and poisoned the vs-ceiling number) — retry a few times and
    // FLAG a still-implausible reading instead of silently reporting it
    def calibratePair(): (Double, Int) = {
      var tries = 0
      var os = 0.0
      while ({ val calN = calibrate(scaleN)
               os = (calibrate(scale4N) / calN) / 4.0
               tries += 1
               os > 1.05 && tries < 3 }) ()
      (os, tries - 1)
    }
    // calibrate on BOTH sides of the crawl runs: one short calibration
    // window can itself be stolen from (r4's driver read an impossible
    // 1.404; a later run read 0.382 next to a crawl that scaled at 0.70 —
    // unrepresentatively LOW). vs-ceiling uses the MAX of the two readings
    // (the most conservative ceiling → the smallest vs-ceiling claim).
    val (osCalBefore, calRetries) = calibratePair()
    val runsBoth = Seq(crawlRun(scaleN), crawlRun(scale4N),
      crawlRun(scaleN), crawlRun(scale4N))
    val (osCalAfter, calRetries2) = calibratePair()
    val osScaling = math.max(osCalBefore, osCalAfter)
    val runsN = Seq(runsBoth(0), runsBoth(2))
    val runs4N = Seq(runsBoth(1), runsBoth(3))
    val (sec8, n8, _) = runsN.minBy(_._1)
    val (sec32, n32, _) = runs4N.minBy(_._1)
    val thr8 = n8 / sec8
    val thr32 = n32 / sec32
    val efficiency = (thr32 / thr8) / 4.0
    val allRuns = (runsN.map(r => f"${r._1}%.2f") ++ runs4N.map(r => f"${r._1}%.2f"))
      .mkString("[", ",", "]")

    // cuckoo mode: targeted-invalidation measurement (the Bloom-impossible
    // op the north rule's "Bloom/cuckoo" naming earns its slash for):
    // full crawl kept on disk → removeKeys K resolved units → the next run
    // re-fetches exactly those units
    val invalidation = if (seenFilters != graft.frontier.SeenFilters.cuckoo) "" else {
      import org.apache.spark.sql.functions.col
      val (_, _, root) = crawlRun(scale4N, keepRoot = true)
      val sp = spark // stable identifier for the implicits import
      import sp.implicits._
      val k = sys.env.getOrElse("SPARK_GRAFT_INVALIDATE_N", "1000").toInt
      // MATERIALIZE the key selection before t0: removeKeys' first action
      // would otherwise lazily execute the url_seen scan + distinct +
      // limit inside the timed window, overstating the removal cost
      val keyRows = CrawlPipeline.urlSeenStore(root).read(spark).get
        .filter(col("status") === "ok")
        .select(col("bucket"), col("url_hash")).distinct().limit(k)
        .as[(Long, Long)].collect()
      val keys = sp.createDataset(keyRows.toSeq).toDF("bucket", "url_hash")
      val t0 = System.nanoTime()
      val failed = graft.frontier.CuckooSeen.removeKeys(
        spark, keys, s"$root/${seenFilters.dirName}")
      val removeSec = (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime()
      // autoCompactAlpha = 0: the timed window must measure the targeted
      // refetch itself — the default policy could fire a compaction inside
      // it (the K removed keys append K delta events) and overstate the
      // invalidation latency; compaction cost is a maintenance number, not
      // a refetch number
      val s2 = CrawlPipeline.run(spark, storeDir, root, None, salts,
        seenFilters = seenFilters, autoCompactAlpha = 0)
      val refetchSec = (System.nanoTime() - t1) / 1e9
      scala.reflect.io.Directory(new java.io.File(root)).deleteRecursively()
      f""","invalidation":{"removed_keys":${keyRows.length},"remove_failed":$failed,""" +
        f""""remove_sec":$removeSec%.2f,"refetched_ok":${s2.ok},""" +
        f""""refetch_run_sec":$refetchSec%.2f}"""
    }

    val qs = renderTimings(timings)
    val total = timings.map(_._2).sum
    val scaling =
      f"""{"threads_n":$scaleN,"threads_4n":$scale4N,""" +
        f""""crawl_urls_per_sec_n":$thr8%.1f,"crawl_urls_per_sec_4n":$thr32%.1f,""" +
        f""""crawl_n":$n32,"sec_n":$sec8%.2f,"sec_4n":$sec32%.2f,""" +
        f""""all_run_secs":$allRuns,""" +
        f""""os_cpu_scaling_n_to_4n":$osScaling%.3f,""" +
        f""""os_cal_before":$osCalBefore%.3f,"os_cal_after":$osCalAfter%.3f,""" +
        f""""os_calibration_retries":${calRetries + calRetries2},""" +
        f""""os_calibration_implausible":${osScaling > 1.05},""" +
        f""""efficiency_n_to_4n":$efficiency%.3f,""" +
        f""""seen_kind":"$seenKind",""" +
        f""""efficiency_vs_os_ceiling":${efficiency / math.max(0.01, osScaling)}%.3f$invalidation}"""
    println(
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,""" +
        s""""scaling":$scaling,"sf":"$sfDir"}""")
    PlanCache.clear(spark)
    spark.stop()
  }
}
