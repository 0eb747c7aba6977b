package graft.pipeline

import java.nio.file.Files
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop}
import graft.SparkTestBase
import graft.fixtures.SyntheticStore
import graft.functions.{ImageFunctions, TextNormalize}

/** End-to-end crawl semantics (SURVEY §7.2 minimum slice): golden crawl
  * order, URL-seen set, politeness compliance, kill+resume equivalence, and
  * the north-rule row invariants over the results table.
  */
class CrawlPipelineSpec extends SparkTestBase {
  import spark.implicits._

  private val N = 400L

  private lazy val storeDir: String = {
    val dir = Files.createTempDirectory("graft-store").toString
    SyntheticStore.ensureOnDisk(spark, dir, N)
    dir
  }

  private def freshRoot(): String = Files.createTempDirectory("graft-tables").toString

  /** A meta state with the summary's `bucket` column, from the expression
    * `compactUrlSeen` writes it with.
    */
  private def withBucket(state: org.apache.spark.sql.DataFrame) =
    state.withColumn("bucket", CrawlPipeline.bucketOf(col("unit_path")))

  /** The full url_seen summary (all 13 columns) folded from `events`. */
  private def summaryFold(events: org.apache.spark.sql.DataFrame) =
    withBucket(graft.operators.CrawlOps.metaState(events))

  test("single full run: every unit resolved exactly once; URL-seen set is the golden multi-host set") {
    val root = freshRoot()
    val s = CrawlPipeline.run(spark, storeDir, root)
    assert(s.attempted == N)
    val seen = CrawlPipeline.urlSeenStore(root).read(spark).get
    // golden URL-seen set = all ids except never-succeeding errors (997)
    val expected = (1L to N).filter(id => id % 997 != 0)
      .map(CrawlPipeline.expectedUnitPath).toSet
    val got = seen.select("unit_path").as[String].collect().toSet
    assert(got == expected)
    // statuses partition correctly
    assert(s.robotsDenied == (1L to N).count(_ % 103 == 0))
    assert(s.notFound == (1L to N).count(id => id % 103 != 0 && id % 101 == 0))
    // all six platform families present (incl. the gitlab/codeberg forges)
    val hosts = seen.select("hosting_id").distinct().as[String].collect().toSet
    assert(hosts == Set("thingiverse.com", "github.com", "oshwa.org",
      "appropedia.org", "gitlab.com", "codeberg.org"))
  }

  test("politeness budget per host: starts >= that host's interval apart, order = (priority, seq)") {
    val root = freshRoot()
    CrawlPipeline.run(spark, storeDir, root)
    val fullLog = CrawlPipeline.fetchLogStore(root).read(spark).get.collect()
    val intervals = Map("thingiverse.com" -> 1000L, "appropedia.org" -> 1000L,
      "github.com" -> 5000L, "oshwa.org" -> 5000L,
      "gitlab.com" -> 5000L, "codeberg.org" -> 5000L)
    for ((host, rows) <- fullLog.groupBy(_.getAs[String]("hosting_id"))) {
      val ordered = rows.sortBy(_.getAs[Long]("pos"))
      // pos follows (priority, seq) within the host
      assert(ordered.map(_.getAs[Long]("seq")).toSeq ==
        ordered.map(_.getAs[Long]("seq")).sorted.toSeq, s"$host order broken")
      // robots-denied rows issue no request and consume no politeness slot
      val fetched = ordered.filter(_.getAs[String]("status") != "robots_denied")
      val interval = intervals(host)
      var prevCompleted = Long.MinValue
      fetched.foreach { r =>
        val sched = r.getAs[Long]("scheduled_ms")
        assert(sched >= prevCompleted || prevCompleted == Long.MinValue,
          s"$host fetch started before previous completed")
        assert(r.getAs[Long]("completed_ms") - sched >= interval,
          s"$host fetch shorter than one $interval ms slot")
        prevCompleted = r.getAs[Long]("completed_ms")
      }
      val attempts = fetched.map(r => r.getAs[Int]("retries") + 1L).sum
      if (host == "github.com") {
        // R1 window budget: ≤30 attempts per 60 s window (github.py:229),
        // so total time is AT LEAST the interval-bound and any window of
        // starts carries at most the budget
        assert(fetched.last.getAs[Long]("completed_ms") >= attempts * interval,
          s"$host ran faster than its interval budget")
        val byWindow = fetched.groupBy(_.getAs[Long]("scheduled_ms") / 60000L)
        byWindow.foreach { case (w, rows) =>
          val used = rows.map(r => r.getAs[Int]("retries") + 1L).sum
          assert(used <= 30L, s"$host window $w used $used > 30 requests")
        }
      } else {
        // total virtual time = attempts × interval (budget exactly consumed)
        assert(fetched.last.getAs[Long]("completed_ms") == attempts * interval,
          s"$host budget mismatch")
      }
    }
  }

  test("kill + resume from snapshot == single run (final state identical)") {
    val rootA = freshRoot(); val rootB = freshRoot()
    CrawlPipeline.run(spark, storeDir, rootA) // one shot
    // interrupted: slices of 150 until done
    CrawlPipeline.runUntilDone(spark, storeDir, rootB, 150L)

    def seenSet(root: String) =
      CrawlPipeline.urlSeenStore(root).read(spark).get
        .select("unit_path", "status").as[(String, String)].collect().toSet
    assert(seenSet(rootA) == seenSet(rootB))

    def resultSet(root: String) =
      CrawlPipeline.resultsStore(root).read(spark).get
        .select("image_id", "caption", "phash").as[(String, String, Long)]
        .collect().toSet
    assert(resultSet(rootA) == resultSet(rootB))
    // resume processed strictly new units each run: no duplicate results
    val ids = CrawlPipeline.resultsStore(rootB).read(spark).get
      .select("image_id").as[String].collect()
    assert(ids.length == ids.distinct.length)
  }

  test("crash between payload commits and url_seen commit: resumed slice is " +
      "skipped, not appended twice (idempotent resume)") {
    val root = freshRoot()
    CrawlPipeline.run(spark, storeDir, root, Some(150L)) // slice 1, clean
    // slice 2 crashes after its sink writes, BEFORE the run's one root commit
    intercept[RuntimeException] {
      CrawlPipeline.run(spark, storeDir, root, Some(150L), crashBeforeSeenCommit = true)
    }
    // resume re-selects the same slice (url_seen unchanged) and must skip
    // the already-committed payload appends
    CrawlPipeline.run(spark, storeDir, root, Some(150L))
    CrawlPipeline.runUntilDone(spark, storeDir, root, 150L) // finish the store
    val ids = CrawlPipeline.resultsStore(root).read(spark).get
      .select("image_id").as[String].collect()
    assert(ids.length == ids.distinct.length, "duplicate results rows after crash+resume")
    // final state identical to a clean one-shot run
    val rootClean = freshRoot()
    CrawlPipeline.run(spark, storeDir, rootClean)
    def resultSet(r: String) = CrawlPipeline.resultsStore(r).read(spark).get
      .select("image_id", "caption", "phash").as[(String, String, Long)].collect().toSet
    assert(resultSet(root) == resultSet(rootClean))
    // fetch_log may legitimately carry retryable-error rows repeated across
    // runs, but OK rows appear exactly once
    val okDups = CrawlPipeline.fetchLogStore(root).read(spark).get
      .filter(col("status") === "ok").groupBy("unit_path").count()
      .filter(col("count") > 1).count()
    assert(okDups == 0, "duplicate ok rows in fetch_log after crash+resume")
  }

  test("auto-compaction failure: the bloom update is awaited and the " +
      "fetch-log cache released before the error surfaces") {
    val root = freshRoot()
    // a regular file where the summary table's directory goes: the first
    // run's compaction fails creating it
    Files.createFile(java.nio.file.Paths.get(s"$root/url_seen_summary"))
    val cachedBefore = spark.sparkContext.getPersistentRDDs.size
    intercept[java.io.IOException] {
      CrawlPipeline.run(spark, storeDir, root, limit = Some(150L))
    }
    assert(spark.sparkContext.getPersistentRDDs.size == cachedBefore,
      "fetch-log cache leaked")
    val bloomDir = s"$root/${graft.frontier.SeenFilters.bloom.dirName}"
    assert(graft.frontier.SeenFilters.bloom.filtersVersion(bloomDir) ==
      CrawlPipeline.urlSeenStore(root).currentVersion)
  }

  test("sink failure: every sink write is awaited and the fetch-log cache " +
      "released before the error surfaces; url_seen is not committed") {
    val root = freshRoot()
    // a regular file where the results table's directory goes: the results
    // append fails while the url_seen append runs beside it
    Files.createFile(java.nio.file.Paths.get(s"$root/results"))
    val cachedBefore = spark.sparkContext.getPersistentRDDs.size
    intercept[java.io.IOException] {
      CrawlPipeline.run(spark, storeDir, root, limit = Some(150L))
    }
    assert(spark.sparkContext.getPersistentRDDs.size == cachedBefore,
      "fetch-log cache leaked")
    // the url_seen write beside it finished (it was awaited) but, like
    // every table of the failed run, was not published
    val staged = Files.list(java.nio.file.Paths.get(s"$root/url_seen/data"))
    assert(staged.iterator().asScala.exists(d => Files.exists(d.resolve("_SUCCESS"))),
      "the url_seen write was left running")
    staged.close()
    assert(CrawlPipeline.urlSeenStore(root).currentVersion.isEmpty)
  }

  test("one attempt log: url_seen holds each attempt's full fetch-log row, " +
      "no run writes fetch_log and no job collects the status counts") {
    val root = freshRoot()
    val listener = new UrlSeenScanRecords
    spark.sparkContext.addSparkListener(listener)
    val runs = try {
      val rs = Seq.fill(2)(CrawlPipeline.run(spark, storeDir, root, Some(150L)))
      listener.settle(spark.sparkContext)
      rs
    } finally spark.sparkContext.removeSparkListener(listener)
    val collects = listener.sqlDescriptions
      .filter(_.startsWith("collect at CrawlPipeline.scala"))
    assert(collects.isEmpty, s"status-count jobs: $collects")

    assert(!Files.exists(java.nio.file.Paths.get(s"$root/fetch_log")))
    val commits = java.nio.file.Paths.get(root, "_commits")
    val entry = Files.readString(commits.resolve(
      Files.readString(commits.resolve("CURRENT")).trim + ".json"))
    val tables = graft.tables.Json.parse(entry).asInstanceOf[graft.tables.Json.JObj]
      .apply("tables").asInstanceOf[graft.tables.Json.JObj].v.map(_._1).toSet
    assert(tables == Set("results", "url_seen", "url_seen_summary"))

    val seen = CrawlPipeline.urlSeenStore(root)
    val log = seen.read(spark).get
    assert(log.columns.toSet == org.apache.spark.sql.Encoders
      .product[graft.fetch.FetchLogRow].schema.fieldNames.toSet + "run_seq")
    for (r <- runs) {
      assert(seen.readBetween(spark, r.version - 1, r.version).get.count() == r.attempted)
      assert(seen.readSnapshot(r.version).metrics("ok") == r.ok)
    }

    // each run commits its attempts into its own data/<commit> directory
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("commit"), col("hosting_id")).orderBy(col("priority"), col("seq"))
    val ranked = log
      .withColumn("commit", regexp_extract(input_file_name(), "/data/([^/]+)/", 1))
      .withColumn("rank", row_number().over(w).cast("long"))
    assert(ranked.select("commit").distinct().count() == 2)
    assert(ranked.filter(col("rank") =!= col("pos")).count() == 0,
      "url_seen rows out of (priority, seq) order within their run")
  }

  test("crash in a scoped run, then a run with another scope: its payload " +
      "appends are not skipped as already committed") {
    val root = freshRoot()
    intercept[RuntimeException] {
      CrawlPipeline.run(spark, storeDir, root,
        scope = col("hosting_id") === "github.com", crashBeforeSeenCommit = true)
    }
    CrawlPipeline.run(spark, storeDir, root,
      scope = col("hosting_id") === "thingiverse.com")
    val ok = CrawlPipeline.urlSeenStore(root).read(spark).get
      .filter(col("status") === "ok").select("unit_path").as[String].collect().toSet
    assert(ok.nonEmpty && ok.forall(_.startsWith("thingiverse.com/")), ok.toString)
    val inResults = CrawlPipeline.resultsStore(root).read(spark).get
      .select("unit_path").as[String].collect().toSet
    assert(ok.subsetOf(inResults), s"resolved without results: ${ok -- inResults}")
    val okLogged = CrawlPipeline.fetchLogStore(root).read(spark).get
      .filter(col("status") === "ok").select("unit_path").as[String].collect().toSet
    assert(ok.subsetOf(okLogged), s"no fetch_log row: ${ok -- okLogged}")
  }

  test("crash in a bounded slice, then an unbounded run: every unit lands " +
      "in results once and no ok unit is logged twice") {
    val root = freshRoot()
    intercept[RuntimeException] {
      CrawlPipeline.run(spark, storeDir, root, Some(150L), crashBeforeSeenCommit = true)
    }
    CrawlPipeline.run(spark, storeDir, root)
    val ids = CrawlPipeline.resultsStore(root).read(spark).get
      .select("image_id").as[String].collect()
    val (rows, distinct) = (ids.length, ids.distinct.length)
    val okTwice = CrawlPipeline.fetchLogStore(root).read(spark).get
      .filter(col("status") === "ok").groupBy("unit_path").count()
      .filter(col("count") > 1).count()
    assert(rows == distinct && okTwice == 0,
      s"$rows results rows for $distinct image ids; $okTwice ok units logged twice")
  }

  test("crash in a fetch-url scope, then a hosting run: every unit lands in " +
      "results once") {
    val root = freshRoot()
    // the run `Krawl.fetchUrls` makes for two thingiverse URLs
    val paths = Seq("thingiverse.com/0/7", "thingiverse.com/0/14")
    intercept[RuntimeException] {
      CrawlPipeline.run(spark, storeDir, root, limit = Some(2L), revisit = true,
        scope = col("unit_path").isin(paths: _*), crashBeforeSeenCommit = true)
    }
    CrawlPipeline.run(spark, storeDir, root,
      scope = col("hosting_id") === "thingiverse.com")
    val ids = CrawlPipeline.resultsStore(root).read(spark).get
      .select("image_id").as[String].collect()
    val (rows, distinct) = (ids.length, ids.distinct.length)
    assert(rows > 0 && rows == distinct, s"$rows results rows for $distinct image ids")
  }

  test("url_seen compaction: summary-first exclusion ≡ raw event-log fold " +
      "(both the summary-only and summary+delta merge paths)") {
    // big store so the never-succeeding error class (997) exists → the
    // n_err side of the merge (sum-of-sum) is exercised, not just perm
    val bigStore = Files.createTempDirectory("graft-store-cmp").toString
    SyntheticStore.ensureOnDisk(spark, bigStore, 1200L)
    val rootA = freshRoot(); val rootB = freshRoot(); val rootC = freshRoot()
    // A: control, never compacted (auto-compaction disabled so the raw
    // event-log fold path stays the comparison baseline)
    val sumA = CrawlPipeline.runUntilDone(spark, bigStore, rootA, 500L,
      autoCompactAlpha = 0)
    // B: compacted after EVERY run → each run's exclusion reads the summary
    // with an empty delta
    val sumB = CrawlPipeline.runUntilDone(spark, bigStore, rootB, 500L,
      autoCompactAlpha = 0.01)
    // C: compacted ONCE after the first slice → later runs merge the stale
    // summary with a growing event delta (run_seq > covered_version)
    CrawlPipeline.run(spark, bigStore, rootC, Some(500L), autoCompactAlpha = 0)
    assert(CrawlPipeline.compactUrlSeen(spark, rootC).contains(0L))
    val sumC = CrawlPipeline.runUntilDone(spark, bigStore, rootC, 500L,
      autoCompactAlpha = 0)
    // identical slice progression and identical final state on all paths
    assert(sumA.map(s => (s.attempted, s.ok, s.error)) ==
      sumB.map(s => (s.attempted, s.ok, s.error)))
    assert(sumA.map(s => (s.attempted, s.ok, s.error)).drop(1) ==
      sumC.map(s => (s.attempted, s.ok, s.error)))
    def seenEvents(root: String) =
      CrawlPipeline.urlSeenStore(root).read(spark).get
        .select("unit_path", "status", "run_seq").as[(String, String, Long)]
        .collect().toSet
    assert(seenEvents(rootA) == seenEvents(rootB))
    assert(seenEvents(rootA) == seenEvents(rootC))
    // the compacted summary is one row per unit and its resolved set equals
    // the fold over the raw event log
    CrawlPipeline.compactUrlSeen(spark, rootA)
    val summary = CrawlPipeline.urlSeenSummaryStore(rootA).read(spark).get.cache()
    val units = summary.select("unit_path").as[String].collect()
    assert(units.length == units.distinct.length, "summary must be one row per unit")
    val resolvedFromSummary = summary
      .filter(col("perm") === 1 || col("n_err") >= CrawlPipeline.MaxErrorRetries)
      .select("unit_path").as[String].collect().toSet
    val resolvedFromEvents = CrawlPipeline.urlSeenStore(rootA).read(spark).get
      .groupBy("unit_path").agg(
        max(when(col("status").isin("ok", "not_found", "robots_denied"), 1)
          .otherwise(0)).as("perm"),
        sum(when(col("status") === "error", 1L).otherwise(0L)).as("n_err"))
      .filter(col("perm") === 1 || col("n_err") >= CrawlPipeline.MaxErrorRetries)
      .select("unit_path").as[String].collect().toSet
    assert(resolvedFromSummary == resolvedFromEvents)
    // error units accumulated exactly MaxErrorRetries attempts on the
    // compacted path too (the n_err merge did not over- or under-count)
    val errUnits = (1L to 1200L).filter(id => id % 997 == 0 && id % 103 != 0)
      .map(CrawlPipeline.expectedUnitPath).toSet
    assert(errUnits.nonEmpty)
    val errCounts = summary.filter(col("unit_path").isin(errUnits.toSeq: _*))
      .select("n_err").as[Long].collect()
    assert(errCounts.nonEmpty &&
      errCounts.forall(_ == CrawlPipeline.MaxErrorRetries.toLong))
    summary.unpersist()
    // a resume run on the compacted root attempts nothing (exhausted)
    assert(CrawlPipeline.run(spark, bigStore, rootB, Some(500L)).attempted == 0)
  }

  test("auto-compaction: a long runUntilDone with NO compactEvery keeps the " +
      "uncompacted delta bounded and the summary oracle-equivalent") {
    val bigStore = Files.createTempDirectory("graft-store-auto").toString
    SyntheticStore.ensureOnDisk(spark, bigStore, 1200L)
    val root = freshRoot()
    // default policy only — nobody passes compactEvery or calls
    // compactUrlSeen explicitly (the VERDICT r3 gap: maintenance must not
    // be caller-opt-in)
    CrawlPipeline.runUntilDone(spark, bigStore, root, 150L)
    val summarySnap = CrawlPipeline.urlSeenSummaryStore(root).currentSnapshot
    assert(summarySnap.isDefined, "auto-compaction never produced a summary")
    val covered = summarySnap.get.metrics("covered_version")
    val summaryRows = summarySnap.get.files.map(_.rows).sum
    val seen = CrawlPipeline.urlSeenStore(root)
    // the uncompacted delta the NEXT run's exclusion fold would read is
    // bounded by the policy: alpha × summary rows plus at most the last
    // slice's events (the commit that tripped the trigger compacts, so
    // only post-trigger commits can remain uncovered)
    val deltaRows = ((covered + 1) to seen.currentVersion.get)
      .map(v => seen.readSnapshot(v).metrics.getOrElse("commit_rows", 0L)).sum
    assert(deltaRows <= summaryRows + 200L,
      s"delta $deltaRows not bounded by summary $summaryRows")
    // the auto-maintained summary equals the full fold over the raw log
    val fromSummary = CrawlPipeline.urlSeenSummaryStore(root).read(spark).get
      .select("unit_path", "perm", "n_err")
    val uncovered = seen.read(spark).get.filter(col("run_seq") > covered)
    val merged = fromSummary.unionByName(
        uncovered.groupBy("unit_path").agg(
          max(when(col("status").isin("ok", "not_found", "robots_denied"), 1)
            .otherwise(0)).as("perm"),
          sum(when(col("status") === "error", 1L).otherwise(0L)).as("n_err")))
      .groupBy("unit_path").agg(max("perm").as("perm"), sum("n_err").as("n_err"))
    val raw = seen.read(spark).get.groupBy("unit_path").agg(
      max(when(col("status").isin("ok", "not_found", "robots_denied"), 1)
        .otherwise(0)).as("perm"),
      sum(when(col("status") === "error", 1L).otherwise(0L)).as("n_err"))
    assert(merged.as[(String, Int, Long)].collect().toSet ==
      raw.as[(String, Int, Long)].collect().toSet)
    // exhaustion state unchanged by the auto-compactions
    assert(CrawlPipeline.run(spark, bigStore, root, Some(500L)).attempted == 0)
  }

  test("incremental auto-compaction: the merged summary equals the full " +
      "event-log fold on EVERY column (both the first-commit and " +
      "summary+this-run merge branches)") {
    val bigStore = Files.createTempDirectory("graft-store-inc").toString
    SyntheticStore.ensureOnDisk(spark, bigStore, 900L)
    val root = freshRoot()
    // tiny alpha so compaction fires on every run: run 1 exercises the
    // this-commit-is-the-whole-log branch, runs 2.. the summary+run merge
    // branch (covered == parentVersion on each).
    val runs = CrawlPipeline.runUntilDone(spark, bigStore, root, 250L,
      autoCompactAlpha = 0.01)
    assert(runs.size > 2, "need multiple slices to exercise the merge branch")
    val summarySnap = CrawlPipeline.urlSeenSummaryStore(root).currentSnapshot.get
    val covered = summarySnap.metrics("covered_version")
    val seen = CrawlPipeline.urlSeenStore(root)
    // every non-empty commit is covered (the final exhaustion-probe run
    // appends an empty commit that never trips the row-count policy)
    val uncoveredRows = ((covered + 1) to seen.currentVersion.get)
      .map(v => seen.readSnapshot(v).metrics.getOrElse("commit_rows", 0L)).sum
    assert(uncoveredRows == 0L,
      s"per-run compaction left $uncoveredRows event rows uncovered")
    val cols = Seq("unit_path", "visits", "first_visited", "last_visited",
      "last_successfully_visited", "changes", "last_detected_change",
      "first_ok_hash", "first_ok_seq", "last_ok_hash", "bucket", "perm", "n_err")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(cols.map(col): _*).collect()
        .map(r => cols.map(c => Option(r.getAs[Any](c)).map(_.toString).orNull))
        .toSet
    val fromSummary = rows(CrawlPipeline.urlSeenSummaryStore(root).read(spark).get)
    val fullFold = rows(summaryFold(seen.read(spark).get))
    assert(fromSummary == fullFold,
      "incremental summary diverged from the full event-log fold")

    // cross-seam content change THROUGH the merge-branch write: mutate the
    // store, revisit with a tiny alpha (compaction fires on the revisit
    // commit, covered == parentVersion), and the merged summary must still
    // equal the full fold — including the boundary change/visit counters.
    val mutatedDir = Files.createTempDirectory("graft-store-inc-mut").toString
    spark.read.parquet(bigStore)
      .withColumn("mid",
        regexp_extract(col("image_id"), "^thing:(\\d+)/", 1).cast("long"))
      .withColumn("phash",
        when(pmod(col("mid"), lit(10)) === 0, col("phash") + 1)
          .otherwise(col("phash")))
      .drop("mid")
      .write.mode("overwrite").parquet(mutatedDir)
    CrawlPipeline.run(spark, mutatedDir, root, revisit = true,
      autoCompactAlpha = 0.01)
    val mutSummary = rows(CrawlPipeline.urlSeenSummaryStore(root).read(spark).get)
    val mutFold = rows(summaryFold(seen.read(spark).get))
    assert(mutSummary == mutFold,
      "incremental summary diverged after a revisit with content changes")
    val changed = CrawlPipeline.urlSeenSummaryStore(root).read(spark).get
      .filter(col("changes") > 0).count()
    assert(changed > 0, "the mutation must surface as cross-seam changes")
    // a SECOND mutation + revisit: the prior compaction covered the revisit
    // commit exactly, so this one's covered == parentVersion — the merge
    // branch itself now carries a fresh cross-seam change
    val mutatedDir2 = Files.createTempDirectory("graft-store-inc-mut2").toString
    spark.read.parquet(mutatedDir)
      .withColumn("mid",
        regexp_extract(col("image_id"), "^thing:(\\d+)/", 1).cast("long"))
      .withColumn("phash",
        when(pmod(col("mid"), lit(7)) === 3, col("phash") + 1)
          .otherwise(col("phash")))
      .drop("mid")
      .write.mode("overwrite").parquet(mutatedDir2)
    val coveredBefore = CrawlPipeline.urlSeenSummaryStore(root)
      .currentSnapshot.get.metrics("covered_version")
    assert(coveredBefore == seen.currentVersion.get,
      "precondition: the fallback compaction must cover the revisit commit")
    CrawlPipeline.run(spark, mutatedDir2, root, revisit = true,
      autoCompactAlpha = 0.01)
    val mutSummary2 = rows(CrawlPipeline.urlSeenSummaryStore(root).read(spark).get)
    val mutFold2 = rows(summaryFold(seen.read(spark).get))
    assert(mutSummary2 == mutFold2,
      "merge-branch summary diverged across a cross-seam content change")
    val changed2 = CrawlPipeline.urlSeenSummaryStore(root).read(spark).get
      .filter(col("changes") > 1).count()
    assert(changed2 > 0, "the second mutation must add merge-seam changes")
  }

  test("property: the compaction merge of two adjacent event-log segments " +
      "equals the fold of the whole log") {
    import graft.operators.CrawlOps
    // (unit, status, content_hash) per (run_seq, unit): repeated units, all
    // four statuses, and a 3-value hash alphabet so hashes change across
    // the split
    val event = for {
      status <- Gen.oneOf("ok", "not_found", "robots_denied", "error")
      hash <- Gen.choose(1L, 3L)
    } yield (status, if (status == "ok") hash else 0L)
    val logs = for {
      units <- Gen.choose(1, 6)
      runs <- Gen.choose(1, 6)
      events <- Gen.listOfN(units * runs, Gen.option(event))
      split <- Gen.choose(0L, runs.toLong)
    } yield (units, events, split)
    val cols = Seq("unit_path", "visits", "first_visited", "last_visited",
      "last_successfully_visited", "changes", "last_detected_change",
      "first_ok_hash", "first_ok_seq", "last_ok_hash", "bucket", "perm", "n_err")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(cols.map(col): _*).collect()
        .map(r => cols.map(c => Option(r.getAs[Any](c)).map(_.toString).orNull))
        .toSet
    check(Prop.forAll(logs) { case (units, events, split) =>
      val log = events.zipWithIndex.collect { case (Some((status, hash)), i) =>
        val unit = i % units
        (s"h.test/u$unit", (i / units).toLong, status, hash, unit % 4L)
      }.toDF("unit_path", "run_seq", "status", "content_hash", "bucket")
      val merged = CrawlOps.mergeMetaStates(
        CrawlOps.metaState(log.filter(col("run_seq") < split)),
        CrawlOps.metaState(log.filter(col("run_seq") >= split)))
      rows(withBucket(merged)) == rows(summaryFold(log))
    })
  }

  test("gap compaction: after skipped compactions, compactUrlSeen reads " +
      "only the url_seen events committed since the covered version") {
    val root = freshRoot()
    // one compacted slice (the default policy compacts the first commit),
    // then three slices whose compaction never ran — the state a crash
    // after each run's commit, before its compaction, leaves
    CrawlPipeline.run(spark, storeDir, root, Some(100L))
    val summaryStore = CrawlPipeline.urlSeenSummaryStore(root)
    assert(summaryStore.currentSnapshot.get.metrics("covered_version") == 0L)
    (1 to 3).foreach(_ =>
      CrawlPipeline.run(spark, storeDir, root, Some(100L), autoCompactAlpha = 0))
    val seen = CrawlPipeline.urlSeenStore(root)
    val version = seen.currentVersion.get
    assert(version == 3L)
    val allRows = seen.readSnapshot(version).files.map(_.rows).sum
    val gapRows = allRows - seen.readSnapshot(0L).files.map(_.rows).sum
    assert(gapRows > 0L && gapRows < allRows)

    val records = new UrlSeenScanRecords
    spark.sparkContext.addSparkListener(records)
    val read = try {
      records.settle(spark.sparkContext)
      val before = records.total
      assert(CrawlPipeline.compactUrlSeen(spark, root).contains(version))
      records.settle(spark.sparkContext)
      records.total - before
    } finally spark.sparkContext.removeSparkListener(records)
    assert(read == gapRows,
      s"compaction read $read url_seen records; the gap has $gapRows, all events $allRows")

    val cols = Seq("unit_path", "visits", "first_visited", "last_visited",
      "last_successfully_visited", "changes", "last_detected_change",
      "first_ok_hash", "first_ok_seq", "last_ok_hash", "bucket", "perm", "n_err")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(cols.map(col): _*).collect()
        .map(r => cols.map(c => Option(r.getAs[Any](c)).map(_.toString).orNull))
        .toSet
    assert(summaryStore.currentSnapshot.get.metrics("covered_version") == version)
    assert(rows(summaryStore.read(spark).get) ==
      rows(summaryFold(seen.read(spark).get)))
  }

  test("gap read: a run reads only the url_seen events its summary does not " +
      "cover, none when it covers every version") {
    val root = freshRoot()
    // the default policy compacts the first commit: the summary covers v0
    CrawlPipeline.run(spark, storeDir, root, Some(100L))
    val seen = CrawlPipeline.urlSeenStore(root)
    def covered = CrawlPipeline.urlSeenSummaryStore(root).currentSnapshot.get
      .metrics("covered_version")
    assert(covered == seen.currentVersion.get)
    val records = new UrlSeenScanRecords
    spark.sparkContext.addSparkListener(records)
    // url_seen (files, rows) the jobs of one uncompacted run read
    def read(): (Long, Long) = {
      records.settle(spark.sparkContext)
      val before = (records.files, records.total)
      CrawlPipeline.run(spark, storeDir, root, Some(50L), autoCompactAlpha = 0)
      records.settle(spark.sparkContext)
      (records.files - before._1, records.total - before._2)
    }
    try {
      assert(read() == (0L, 0L), "a run read url_seen although the summary covers it")
      // two more uncompacted slices: the next run reads exactly the files
      // and rows of the three commits after the covered version
      (1 to 2).foreach(_ =>
        CrawlPipeline.run(spark, storeDir, root, Some(50L), autoCompactAlpha = 0))
      val version = seen.currentVersion.get
      assert(covered == 0L && version == 3L)
      val gapFiles = seen.readSnapshot(version).files.size - seen.readSnapshot(0L).files.size
      val gapRows = (1L to version).map(v => seen.readSnapshot(v).metrics("commit_rows")).sum
      assert(read() == (gapFiles.toLong, gapRows),
        s"the $version commits after the summary hold $gapFiles files, $gapRows rows")
    } finally spark.sparkContext.removeSparkListener(records)
  }

  test("seen prefilter: selectCandidates over a parquet frontier loads at " +
      "most 2 × NBuckets filters (each routed task loads only its own buckets')") {
    import graft.frontier.{CountingCodec, SeenFilterStore, SeenFilters}
    val root = freshRoot()
    CrawlPipeline.run(spark, storeDir, root, Some(150L))
    val loads = spark.sparkContext.longAccumulator("filters_loaded")
    val counting = SeenFilterStore(CountingCodec(SeenFilters.bloom.codec, loads))
    val candidates = CrawlPipeline.selectCandidates(spark, root,
      CrawlPipeline.robotsAllowed(CrawlPipeline.frontier(spark, storeDir)),
      CrawlPipeline.urlSeenStore(root).read(spark), counting)
    // every attempt of the first 150 was permanent (no 997-class id at N=400)
    assert(candidates.select("unit_path").as[String].collect().toSet ==
      (1L to N).map(CrawlPipeline.expectedUnitPath).toSet --
        CrawlPipeline.urlSeenStore(root).read(spark).get
          .select("unit_path").as[String].collect())
    assert(loads.value > 0L && loads.value <= 2L * CrawlPipeline.NBuckets,
      s"the exclusion loaded ${loads.value} filters; ${CrawlPipeline.NBuckets} buckets")
  }

  test("frontier key sidecar: identical frontier rows with and without the " +
      "projection written by ensureBucketedStore") {
    val dir = Files.createTempDirectory("graft-store-keys").toString
    SyntheticStore.ensureOnDisk(spark, dir, 300L)
    def frontierRows() = CrawlPipeline.frontier(spark, dir)
      .select("id", "content_hash", "url", "seq", "unit_path", "hosting_id",
        "priority", "url_hash", "bucket")
      .collect().map(_.toSeq).toSet
    val before = frontierRows()
    assert(!new java.io.File(s"${CrawlPipeline.storeKeysDir(dir)}/_SUCCESS").exists())
    CrawlPipeline.ensureBucketedStore(spark, dir)
    assert(new java.io.File(s"${CrawlPipeline.storeKeysDir(dir)}/_SUCCESS").exists(),
      "prep must write the key projection")
    assert(frontierRows() == before, "sidecar-backed frontier rows diverged")
  }

  test("frontier key sidecar: a store rewritten after the prep is read " +
      "afresh, and the next prep rebuilds both derived layouts") {
    val dir = Files.createTempDirectory("graft-store-stale").toString
    SyntheticStore.ensureOnDisk(spark, dir, 120L)
    CrawlPipeline.ensureBucketedStore(spark, dir)
    // other ids in the same store dir, under the prep's sidecar
    spark.range(500L, 560L, 1, 4).as[Long].map(id => SyntheticStore.row(id)).toDF()
      .write.mode("overwrite").parquet(dir)
    val newIds = (500L until 560L).toSet
    def frontierIds() = CrawlPipeline.frontier(spark, dir).select("id").as[Long].collect().toSet
    assert(frontierIds() == newIds, "frontier served the stale key sidecar")
    val tbl = CrawlPipeline.ensureBucketedStore(spark, dir)
    assert(frontierIds() == newIds)
    assert(spark.table(tbl).select("id").as[Long].collect().toSet == newIds,
      "the bucketed layout was not rebuilt for the rewritten store")
  }

  test("cuckoo seen-filter kind: e2e state identical to bloom; targeted " +
      "invalidation re-fetches exactly the invalidated units") {
    import graft.frontier.{CuckooSeen, SeenFilters}
    val rootA = freshRoot(); val rootB = freshRoot()
    CrawlPipeline.run(spark, storeDir, rootA) // bloom (default)
    CrawlPipeline.run(spark, storeDir, rootB, seenFilters = SeenFilters.cuckoo)
    def seenSet(root: String) =
      CrawlPipeline.urlSeenStore(root).read(spark).get
        .select("unit_path", "status").as[(String, String)].collect().toSet
    assert(seenSet(rootA) == seenSet(rootB))
    // resume semantics hold under the cuckoo prefilter too
    val s2 = CrawlPipeline.run(spark, storeDir, rootB, seenFilters = SeenFilters.cuckoo)
    assert(s2.ok == 0 && s2.resultRows == 0)

    // targeted invalidation (the Bloom-impossible op): delete 10 resolved
    // ok units from the sketch → the next run re-fetches exactly those
    val invalidIds = (1L to N).filter(id =>
      id % 103 != 0 && id % 101 != 0 && id % 997 != 0 && id % 97 != 0).take(10)
    val paths = invalidIds.map(CrawlPipeline.expectedUnitPath)
    val keys = CrawlPipeline.urlSeenStore(rootB).read(spark).get
      .filter(col("unit_path").isin(paths: _*))
      .select("bucket", "url_hash").distinct()
    CuckooSeen.removeKeys(spark, keys, s"$rootB/cuckoo")
    val s3 = CrawlPipeline.run(spark, storeDir, rootB, seenFilters = SeenFilters.cuckoo)
    assert(s3.ok == 10L, s"invalidation re-fetched ${s3.ok}, expected 10")
    // the re-visits are recorded as new events (visits=2, no change)
    val meta = CrawlPipeline.crawlingMeta(spark, rootB).get
      .filter(col("unit_path").isin(paths: _*)).collect()
    assert(meta.length == 10)
    meta.foreach(r => assert(r.getAs[Long]("visits") == 2L))
  }

  test("resume does not refetch: second run after completion attempts only retryable errors") {
    val root = freshRoot()
    CrawlPipeline.run(spark, storeDir, root)
    val s2 = CrawlPipeline.run(spark, storeDir, root)
    val nErrors = (1L to N).count(id => id % 997 == 0 && id % 103 != 0)
    assert(s2.attempted == nErrors, s"resume refetched: $s2")
    assert(s2.ok == 0 && s2.resultRows == 0)
  }

  test("north-rule row invariants: caption equality + phash match + PSNR >= 40") {
    val root = freshRoot()
    CrawlPipeline.run(spark, storeDir, root)
    val results = CrawlPipeline.resultsStore(root).read(spark).get.cache()
    // stored phash equals phash recomputed from delivered bytes, for EVERY row
    assert(results.filter(col("phash") =!= col("phash_check")).count() == 0)
    // caption equality vs the reference normalizer applied to the golden caption
    val rows = results.select("image_id", "caption", "bytes", "w", "h", "fmt").collect()
    rows.foreach { r =>
      val id = r.getAs[String]("image_id").stripPrefix("thing:").takeWhile(_ != '/').toLong
      val golden = TextNormalize.normalizeCaption(SyntheticStore.caption(id))
      assert(r.getAs[String]("caption") == golden, s"caption mismatch id=$id")
      // decoded-pixel invariant vs regenerated golden pixels
      val img = ImageFunctions.decode(r.getAs[Array[Byte]]("bytes")).get
      val w = r.getAs[Int]("w"); val h = r.getAs[Int]("h")
      assert(img.getWidth == w && img.getHeight == h)
      val psnr = ImageFunctions.psnr(
        ImageFunctions.pixelsOf(img),
        SyntheticStore.pixels(id, w, h, r.getAs[String]("fmt")))
      assert(psnr >= 40.0, s"PSNR $psnr < 40 for id=$id fmt=${r.getAs[String]("fmt")}")
    }
    results.unpersist()
  }

  test("S10 rdf sink: FULL normalize→TOML→RDF chain per ok unit " +
      "(NormalizationListener parity, factory.py:49-59)") {
    val root = freshRoot()
    val s = CrawlPipeline.run(spark, storeDir, root, rdfSink = true)
    val projects = CrawlPipeline.projectsStore(root).read(spark).get.cache()
    assert(projects.count() == s.ok, "one projects row per ok unit")
    assert(projects.columns.toSet == Set("project_id",
      "normalized_okh_toml_ttl", "meta_ttl", "data_okh_ttl", "id_group"))

    // unit 4: thingiverse (4%7), one part (4%3=1), license MIT (4%4=0),
    // doc language ["en"] (even) — a fully-populated fixture manifest
    val unitId = 4L
    val richRow = projects
      .filter(col("project_id") === CrawlPipeline.expectedUnitPath(unitId)).head()
    val row = projects.filter(col("project_id").startsWith("thingiverse.com/")).head()

    // toml graph: carries the deflate+base64 normalized manifest TOML, and
    // inflating it yields the EXACT projectToToml of the normalized project
    val tomlTtl = richRow.getAs[String]("normalized_okh_toml_ttl")
    assert(tomlTtl.contains("okh:normalizedManifestContent"),
      s"empty toml graph for unit $unitId:\n$tomlTtl")
    val packed = tomlTtl.linesIterator
      .find(_.contains("okh:normalizedManifestContent")).get
      .split("\"")(1)
    val toml = graft.functions.ScalarFunctions.inflateB64(packed)
    // the normalized TOML round-trips through our parser and carries the
    // manifest's normalized fields (licensor agent, parts)
    val back = graft.formats.Toml.parse(toml)
    assert(back.str("name") == s"Thing $unitId")
    assert(back.str("license") == graft.fixtures.SyntheticManifests
      .licenseExpr(unitId).split(" ")(0)) // first-license pick (C12)
    assert(toml.contains("[[part]]"))
    assert(toml.contains("[[licensor]]"))
    assert(toml.contains(s"""name = "User $unitId""""))
    // the fetched payload image rides in with its caption as "text"@lang
    assert(toml.contains("img://thing:"))

    // data graph: license/licensor/part triples from the real normalizer
    val dataTtl = richRow.getAs[String]("data_okh_ttl")
    assert(dataTtl.contains("a okh:Module ;"))
    assert(dataTtl.contains("ods:license spdxl:"))
    assert(dataTtl.contains("ods:licensor :licensor0"))
    assert(dataTtl.contains("a okh:Part ;"))
    assert(dataTtl.contains("okh:hasComponent"))
    assert(dataTtl.contains("okh:depicts \"") && dataTtl.contains("\"@en"),
      "fetched image caption must be a language-tagged depicts literal")
    // the payload image node exists alongside manifest-borne content (the
    // img:// scheme is not http(s) → stays a literal, rdf_serializer.py:
    // 291-310 URL promotion)
    assert(dataTtl.contains("ods:url \"img://thing:"))

    val metaTtl = row.getAs[String]("meta_ttl")
    assert(metaTtl.contains("ods:primaryHost okhkrawl:dataProviderThingiverse"))
    assert(metaTtl.contains("void:rootResource :project"))
    assert(metaTtl.contains("okh:okhv \"OKH-LOSHv1.0\""),
      "okhv_fetched must come from the parsed manifest")
    // forge units record the manifest URL as a ManifestFile node
    val ghRow = projects.filter(col("project_id").startsWith("github.com/")).head()
    assert(ghRow.getAs[String]("meta_ttl")
      .contains("okhkrawl:dataSourcingProcedureManifest"))
    assert(ghRow.getAs[String]("meta_ttl").contains("a okh:ManifestFile"))

    // resume does not duplicate the projects table
    CrawlPipeline.run(spark, storeDir, root, rdfSink = true)
    val ids = CrawlPipeline.projectsStore(root).read(spark).get
      .select("project_id").as[String].collect()
    assert(ids.length == ids.distinct.length)
    projects.unpersist()
  }

  test("retryable errors leave the frontier after MaxErrorRetries attempts; " +
      "runUntilDone exhausts instead of re-fetching failures forever") {
    // need ids ≥ 997 so the never-succeeding outcome class exists
    val bigStore = Files.createTempDirectory("graft-store-big").toString
    SyntheticStore.ensureOnDisk(spark, bigStore, 1200L)
    val root = freshRoot()
    val summaries = CrawlPipeline.runUntilDone(spark, bigStore, root, 500L)
    // terminated (last run attempted nothing) and every error unit was
    // attempted exactly MaxErrorRetries times
    assert(summaries.last.attempted == 0)
    val errorIds = (1L to 1200L).filter(id => id % 997 == 0 && id % 103 != 0)
    assert(errorIds.nonEmpty)
    val meta = CrawlPipeline.crawlingMeta(spark, root).get
    val errMeta = meta.filter(col("unit_path")
      .isin(errorIds.map(CrawlPipeline.expectedUnitPath): _*)).collect()
    errMeta.foreach { r =>
      assert(r.getAs[Long]("visits") == CrawlPipeline.MaxErrorRetries,
        s"error unit visited ${r.getAs[Long]("visits")} times")
      assert(r.isNullAt(r.fieldIndex("last_successfully_visited")))
    }
    // successful units were visited exactly once
    val okMeta = meta.filter(col("last_successfully_visited").isNotNull)
    assert(okMeta.filter(col("visits") =!= 1).count() == 0)
  }

  test("crawlingMetaCompacted ≡ crawlingMeta: the summary absorbs the " +
      "compacted history incl. a cross-seam content change") {
    val root = freshRoot()
    CrawlPipeline.run(spark, storeDir, root) // run 1
    // summary covers run 1 — the change below lands AFTER the seam
    assert(CrawlPipeline.compactUrlSeen(spark, root).contains(0L))
    val mutatedDir = Files.createTempDirectory("graft-store-mut2").toString
    spark.read.parquet(storeDir)
      .withColumn("mid", regexp_extract(col("image_id"), "^thing:(\\d+)/", 1).cast("long"))
      .withColumn("phash",
        when(pmod(col("mid"), lit(10)) === 0, col("phash") + 1).otherwise(col("phash")))
      .drop("mid")
      .write.mode("overwrite").parquet(mutatedDir)
    CrawlPipeline.run(spark, mutatedDir, root, revisit = true) // run 2: change
    CrawlPipeline.run(spark, mutatedDir, root, revisit = true) // run 3: stable
    def asTuples(df: org.apache.spark.sql.DataFrame) = df.collect().map(r =>
      (r.getAs[String]("unit_path"), r.getAs[Long]("visits"),
        r.getAs[Long]("first_visited"), r.getAs[Long]("last_visited"),
        Option(r.getAs[java.lang.Long]("last_successfully_visited")),
        r.getAs[Long]("changes"),
        Option(r.getAs[java.lang.Long]("last_detected_change")))).toSet
    val full = asTuples(CrawlPipeline.crawlingMeta(spark, root).get)
    val fast = asTuples(CrawlPipeline.crawlingMetaCompacted(spark, root).get)
    assert(fast == full, "summary+delta meta must equal the full fold")
    // the cross-seam change IS in there: mutated ok units carry changes=1
    // detected at run 2 (run_seq 1), visits=3
    val mutated = (1L to N).filter(id => id % 10 == 0 && id % 103 != 0 &&
      id % 101 != 0 && id % 997 != 0).map(CrawlPipeline.expectedUnitPath).toSet
    val m = fast.filter(t => mutated.contains(t._1))
    assert(m.nonEmpty && m.forall(t => t._6 == 1L && t._7.contains(1L) && t._2 == 3L))
    // compact again (now covering the change) + one more quiet run: the
    // seam moves past the change and the equality still holds
    CrawlPipeline.compactUrlSeen(spark, root)
    CrawlPipeline.run(spark, mutatedDir, root, revisit = true) // run 4
    val full2 = asTuples(CrawlPipeline.crawlingMeta(spark, root).get)
    val fast2 = asTuples(CrawlPipeline.crawlingMetaCompacted(spark, root).get)
    assert(fast2 == full2)
  }

  test("re-visit: store mutation between runs increments visits/changes and " +
      "stamps last_detected_change (CrawlingMeta, ref data_set.py:17-39)") {
    val root = freshRoot()
    CrawlPipeline.run(spark, storeDir, root) // run 1: everything resolved
    // mutate the store content fingerprint for ids % 10 == 0
    val mutatedDir = Files.createTempDirectory("graft-store-mut").toString
    spark.read.parquet(storeDir)
      .withColumn("mid", regexp_extract(col("image_id"), "^thing:(\\d+)/", 1).cast("long"))
      .withColumn("phash",
        when(pmod(col("mid"), lit(10)) === 0, col("phash") + 1).otherwise(col("phash")))
      .drop("mid")
      .write.mode("overwrite").parquet(mutatedDir)
    CrawlPipeline.run(spark, mutatedDir, root, revisit = true) // run 2
    val meta = CrawlPipeline.crawlingMeta(spark, root).get.cache()

    val mutated = (1L to N).filter(id =>
      id % 10 == 0 && id % 103 != 0 && id % 101 != 0 && id % 997 != 0)
      .map(CrawlPipeline.expectedUnitPath)
    val mutatedMeta = meta.filter(col("unit_path").isin(mutated: _*)).collect()
    assert(mutatedMeta.nonEmpty)
    mutatedMeta.foreach { r =>
      // run_seq is 0-based: run 1 commits url_seen v0, the re-visit v1
      assert(r.getAs[Long]("visits") == 2L)
      assert(r.getAs[Long]("changes") == 1L, s"change not detected: $r")
      assert(r.getAs[Long]("last_detected_change") == 1L)
      assert(r.getAs[Long]("last_successfully_visited") == 1L)
      assert(r.getAs[Long]("first_visited") == 0L)
    }
    // unmutated ok units: re-visited, no change detected
    val un = (1L to N).filter(id =>
      id % 10 != 0 && id % 103 != 0 && id % 101 != 0 && id % 997 != 0)
      .map(CrawlPipeline.expectedUnitPath)
    val unMeta = meta.filter(col("unit_path").isin(un.take(50): _*)).collect()
    unMeta.foreach { r =>
      assert(r.getAs[Long]("visits") == 2L && r.getAs[Long]("changes") == 0L)
      assert(r.isNullAt(r.fieldIndex("last_detected_change")))
    }
    meta.unpersist()
  }

  test("crash before the Bloom VERSION stamp + revisit run: filters are " +
      "rebuilt, no false negatives, no duplicate results") {
    val root = freshRoot()
    CrawlPipeline.run(spark, storeDir, root)
    // simulate a crash between the url_seen commit and the filter stamp
    java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(s"$root/bloom/VERSION"))
    // a LIMITED revisit run must reconcile the filters before stamping a
    // fresh VERSION (previously it skipped the rebuild and stamped anyway,
    // hiding the stale state → Bloom false negatives on later runs)
    CrawlPipeline.run(spark, storeDir, root, limit = Some(50L), revisit = true)
    // the rebuild (from the summary, which covers the first run) left no
    // url_seen unit out: each one's bucket has a file and its key passes
    val bloom = graft.frontier.SeenFilters.bloom
    val keys = CrawlPipeline.urlSeenStore(root).read(spark).get
      .select(col("bucket").cast("long"), col("url_hash")).distinct()
    assert(keys.select("bucket").as[Long].collect()
      .forall(b => Files.exists(java.nio.file.Paths.get(s"$root/bloom/bucket_$b.bloom"))))
    assert(keys.filter(!bloom.predicate(s"$root/bloom")).isEmpty,
      "a url_seen unit fails the rebuilt filters")
    val s3 = CrawlPipeline.run(spark, storeDir, root) // normal resume
    assert(s3.ok == 0, s"stale Bloom caused re-fetches: $s3")
    val ids = CrawlPipeline.resultsStore(root).read(spark).get
      .select("image_id").as[String].collect()
    // every unit at most run-1 + the revisit slice — never a third fetch
    val counts = ids.groupBy(identity).view.mapValues(_.size)
    assert(counts.values.forall(_ <= 2), "a unit was fetched three times")
  }

  test("R5 with real robots.txt: per-host RFC 9309 policies gate the frontier") {
    val robots = Map(
      // all thingiverse thing pages whose id starts with 1 are disallowed
      "thingiverse.com" -> "User-agent: *\nDisallow: /thing:1\n",
      "oshwa.org" -> "User-agent: okh-krawler\nDisallow: /\n")
    val f = CrawlPipeline.robotsAllowed(
      CrawlPipeline.frontier(spark, storeDir), robots)
    val denied = f.filter(col("robots_denied"))
      .select("unit_path").as[String].collect().toSet
    val expectedTv = (1L to N).filter(id => (id % 7 == 0 || id % 7 == 4)
      && id.toString.startsWith("1")).map(CrawlPipeline.expectedUnitPath).toSet
    val expectedOshwa = (1L to N).filter(_ % 7 == 2)
      .map(CrawlPipeline.expectedUnitPath).toSet
    assert(denied == expectedTv ++ expectedOshwa, s"denied mismatch: $denied")
  }

  test("S9 raw sink: meta-json + original payload bytes per ok unit (flag-gated)") {
    val root = freshRoot()
    val s = CrawlPipeline.run(spark, storeDir, root, rawSink = true)
    val raw = CrawlPipeline.rawStore(root).read(spark).get.cache()
    assert(raw.count() == s.ok)
    assert(raw.columns.toSet == Set("unit_path", "meta_json", "orig", "fmt", "id_group"))
    val row = raw.filter(col("unit_path").startsWith("thingiverse.com/")).head()
    // orig bytes are the exact store payload for that unit
    val id = row.getAs[String]("unit_path").split("/").last.toLong
    assert(java.util.Arrays.equals(row.getAs[Array[Byte]]("orig"),
      SyntheticStore.row(id).bytes))
    val meta = row.getAs[String]("meta_json")
    assert(meta.contains("\"sourcing_procedure\":\"api\"") &&
      meta.contains("\"okhv_fetched\":\"OKH-LOSHv1.0\""))
    raw.unpersist()
  }

  test("bucketed-store table names are collision-resistant per directory") {
    // dir.hashCode was 32-bit — a collision would silently join the wrong
    // payload bytes; the name is now a 128-bit SHA-256 prefix of the path
    val a = CrawlPipeline.storeTableName("/tmp/store_a_bucketed")
    val b = CrawlPipeline.storeTableName("/tmp/store_b_bucketed")
    assert(a != b)
    assert(a.matches("graft_store_b[0-9a-f]{32}"))
    assert(a == CrawlPipeline.storeTableName("/tmp/store_a_bucketed")) // stable
  }

  test("golden crawl order: ascending id within each host (F1/F3/F4), interleave = (priority, seq) data") {
    val root = freshRoot()
    CrawlPipeline.run(spark, storeDir, root)
    val log = CrawlPipeline.fetchLogStore(root).read(spark).get
      .select("hosting_id", "pos", "id", "priority", "seq").collect()
    for ((host, rows) <- log.groupBy(_.getAs[String]("hosting_id"))) {
      val byPos = rows.sortBy(_.getAs[Long]("pos")).map(_.getAs[Long]("id"))
      assert(byPos.sameElements(byPos.sorted), s"$host crawl order must be ascending id")
    }
    // the global golden order is reconstructible from data columns alone:
    // sorting by (priority, seq) yields the six families in registry order
    val global = log.sortBy(r => (r.getAs[Int]("priority"), r.getAs[Long]("seq")))
    val hostsInOrder = global.map(_.getAs[String]("hosting_id")).distinct
    assert(hostsInOrder.toSeq ==
      Seq("appropedia.org", "github.com", "oshwa.org", "thingiverse.com",
        "gitlab.com", "codeberg.org"))
  }
}

/** url_seen records read by the jobs it sees: the input records of every
  * task that scanned a parquet file under `/url_seen/data/`. A task is told
  * apart by the scan it ran, whose SQL row metric it reports; the scans
  * come from the SQL plans the listener bus posts (adaptive re-plans too).
  * It also sums those scans' files read (a driver-side metric, so it counts
  * files whose row groups a pushed filter skips) and keeps the description
  * (call site) of every SQL execution.
  */
private final class UrlSeenScanRecords extends org.apache.spark.scheduler.SparkListener {
  import org.apache.spark.scheduler._
  import org.apache.spark.sql.execution.SparkPlanInfo
  import org.apache.spark.sql.execution.ui.{SparkListenerDriverAccumUpdates,
    SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}

  private val scanMetrics = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
  private val records = new java.util.concurrent.atomic.AtomicLong
  private val fileMetrics = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
  private val filesRead = new java.util.concurrent.atomic.AtomicLong
  private val markerJobs = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
  private val markersDone = new java.util.concurrent.atomic.AtomicInteger
  private val descriptions = new java.util.concurrent.ConcurrentLinkedQueue[String]

  def total: Long = records.get

  def files: Long = filesRead.get

  def sqlDescriptions: Seq[String] = descriptions.asScala.toSeq

  /** Wait until the bus has delivered every event posted so far: run a
    * marker job and wait for its end, which comes after them. */
  def settle(sc: org.apache.spark.SparkContext): Unit = {
    val done = markersDone.get
    sc.setJobDescription(UrlSeenScanRecords.Marker)
    try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
    val deadline = System.currentTimeMillis() + 10000L
    while (markersDone.get == done && System.currentTimeMillis() < deadline) Thread.sleep(10)
    assert(markersDone.get > done, "the listener bus did not settle")
  }

  private def note(p: SparkPlanInfo): Unit = {
    if (p.metadata.get("Location").exists(_.contains("/url_seen/data/"))) {
      p.metrics.filter(_.name == "number of output rows")
        .foreach(m => scanMetrics.add(m.accumulatorId))
      p.metrics.filter(_.name == "number of files read")
        .foreach(m => fileMetrics.add(m.accumulatorId))
    }
    p.children.foreach(note)
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      descriptions.add(s.description); note(s.sparkPlanInfo)
    case u: SparkListenerSQLAdaptiveExecutionUpdate => note(u.sparkPlanInfo)
    case d: SparkListenerDriverAccumUpdates =>
      d.accumUpdates.foreach { case (id, v) => if (fileMetrics.contains(id)) filesRead.addAndGet(v) }
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit =
    if (Option(e.properties).exists(_.getProperty("spark.job.description") ==
        UrlSeenScanRecords.Marker)) markerJobs.add(e.jobId)

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    if (markerJobs.contains(e.jobId)) markersDone.incrementAndGet()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (e.taskMetrics != null && e.taskInfo.accumulables.exists(a => scanMetrics.contains(a.id)))
      records.addAndGet(e.taskMetrics.inputMetrics.recordsRead)
}

private object UrlSeenScanRecords {
  val Marker = "url-seen-scan-records-marker"
}
