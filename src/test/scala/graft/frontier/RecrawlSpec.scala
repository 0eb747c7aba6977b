package graft.frontier

import org.apache.spark.sql.functions._
import graft.SparkTestBase
import graft.fetch.FetchStage
import graft.fixtures.PlantedFixtures
import graft.sources.Sitemaps

/** Freshness scheduling branch coverage: first-fetch, lastmod evidence,
  * `never`, interval arithmetic, priority/staleness ranking, budget cap.
  */
class RecrawlSpec extends SparkTestBase {
  import spark.implicits._

  // (host, url, lastmod_day, changefreq, priority_permille, last_fetch_day)
  private def frontier(rows: (String, String, Option[Long], Option[String],
      Option[Long], Option[Long])*) =
    rows.toDF("host", "url", "lastmod_day", "changefreq",
      "priority_permille", "last_fetch_day")

  private val Now = 1000L

  test("due branches: first fetch, lastmod override, never, intervals, default") {
    val f = frontier(
      ("h", "u/first", None, Some("never"), None, None), // never fetched → due
      ("h", "u/never-stale", None, Some("never"), None, Some(1L)), // not due
      ("h", "u/never-changed", Some(999L), Some("never"), None, Some(900L)), // lastmod → due
      ("h", "u/daily-fresh", None, Some("daily"), None, Some(Now)), // 0 < 1 → not due
      ("h", "u/daily-stale", None, Some("daily"), None, Some(Now - 1)), // due
      ("h", "u/weekly-fresh", None, Some("weekly"), None, Some(Now - 6)), // not due
      ("h", "u/weekly-stale", None, Some("weekly"), None, Some(Now - 7)), // due
      ("h", "u/default-fresh", None, None, None, Some(Now - 6)), // default 7 → not due
      ("h", "u/default-stale", None, None, None, Some(Now - 7)), // due
      ("h", "u/yearly-fresh", Some(100L), Some("yearly"), None, Some(Now - 300)), // not due
      ("h", "u/always", None, Some("always"), None, Some(Now))) // interval 0 → due
    val got = Recrawl.due(f, Now, perHostBudget = 100)
      .select("url").as[String].collect().toSet
    assert(got == Set("u/first", "u/never-changed", "u/daily-stale",
      "u/weekly-stale", "u/default-stale", "u/always"))
  }

  test("ranking: priority desc (null=500), staleness desc, url; budget caps per host") {
    val f = frontier(
      ("a", "u/p9", None, Some("daily"), Some(900L), Some(Now - 2)),
      ("a", "u/p-null", None, Some("daily"), None, Some(Now - 50)),
      ("a", "u/p5-stale", None, Some("daily"), Some(500L), Some(Now - 60)),
      ("a", "u/p5-tie1", None, Some("daily"), Some(500L), Some(Now - 10)),
      ("a", "u/p5-tie2", None, Some("daily"), Some(500L), Some(Now - 10)),
      ("a", "u/unfetched", None, None, Some(500L), None), // max staleness
      ("b", "u/other", None, Some("daily"), Some(100L), Some(Now - 2)))
    val got = Recrawl.due(f, Now, perHostBudget = 4)
      .orderBy("host", "fetch_pos")
      .select("host", "url", "fetch_pos", "staleness_days")
      .as[(String, String, Long, Option[Long])].collect().toSeq
    assert(got == Seq(
      ("a", "u/p9", 1L, Some(2L)),
      ("a", "u/unfetched", 2L, None), // staleness null in output, max in ranking
      ("a", "u/p5-stale", 3L, Some(60L)),
      ("a", "u/p-null", 4L, Some(50L)), // null priority ranks as 500, ties → staleness
      ("b", "u/other", 1L, Some(2L))))
  }

  test("allocateBudget: whole demands when they fit; largest-remainder split " +
    "with per-host cap otherwise, remainder ties by host string") {
    val due = (List.fill(5)("a") ++ List.fill(10)("b") ++ List.fill(50)("c"))
      .toDF("host")
    // demand (cap 20): a=5, b=10, c=20; total 35 ≤ 100 → everyone whole
    val fits = Recrawl.allocateBudget(due, globalBudget = 100L, perHostCap = 20L)
      .as[(String, Long, Long)].collect().toSet
    assert(fits == Set(("a", 5L, 5L), ("b", 10L, 10L), ("c", 50L, 20L)))
    // budget 18 < 35: base floor(18·d/35) = a 2, b 5, c 10 (sum 17);
    // remainders 20/5/10 → the 1 leftover seat goes to a
    val tight = Recrawl.allocateBudget(due, globalBudget = 18L, perHostCap = 20L)
      .as[(String, Long, Long)].collect().toSet
    assert(tight == Set(("a", 5L, 3L), ("b", 10L, 5L), ("c", 50L, 10L)))
    // allocation is exhaustive: sums to the budget exactly
    assert(tight.toSeq.map(_._3).sum == 18L)
  }

  test("allocateBudget: no window of its executed plan runs in a single " +
    "partition (totals broadcast back, remainder rank distributed)") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.window.WindowExec
    object Plans extends AdaptiveSparkPlanHelper
    val due = (0 until 40).flatMap(i => List.fill(i % 7 + 1)(s"h$i.org"))
      .toDF("host")
    val out = Recrawl.allocateBudget(due, globalBudget = 50L, perHostCap = 5L)
    assert(out.as[(String, Long, Long)].collect().map(_._3).sum == 50L)
    val unkeyed = Plans.collectWithSubqueries(out.queryExecution.executedPlan) {
      case w: WindowExec if w.partitionSpec.isEmpty => w
    }
    assert(unkeyed.isEmpty,
      s"single-partition window in:\n${out.queryExecution.executedPlan}")
  }

  test("sitemap → recrawl → fetch stage: the due ranking IS the politeness " +
    "order, and the schedule honors the per-host interval") {
    val (robots, docs) =
      PlantedFixtures.sitemapCorpus(spark, "/root/testdata/sf0.001")
    val frontier = Sitemaps.sitemapFrontier(robots, docs)
      .withColumn("last_fetch_day", lit(null).cast("long")) // all first-fetch
    val due = Recrawl.due(frontier, nowDay = 18862L, perHostBudget = 3)

    val tasks = FetchStage.toTasks(spark, due.select(
      col("url").as("unit_path"), col("host").as("hosting_id"),
      regexp_extract(col("url"), "/p/(\\d+)", 1).cast("long").as("id"),
      col("fetch_pos").cast("int").as("priority"), col("fetch_pos").as("seq"),
      xxhash64(col("url")).as("url_hash"), lit(0L).as("bucket"),
      lit(false).as("robots_denied")))
    val interval = 1000L
    val log = FetchStage.run(spark, tasks,
      politeness = Map.empty,
      outcome = _ => FetchStage.Outcome("ok", 0),
      fallback = FetchStage.Politeness(interval, 3)).collect()

    assert(log.length == 8 * 3) // 8 planted hosts × budget
    // per host: fetch position equals the recrawl rank, spacing = interval
    log.groupBy(_.hosting_id).foreach { case (host, rows) =>
      val byPos = rows.sortBy(_.pos)
      assert(byPos.map(_.pos).toSeq == Seq(1L, 2L, 3L), host)
      assert(byPos.map(_.priority).toSeq == Seq(1, 2, 3), host)
      assert(byPos.map(_.scheduled_ms).toSeq ==
        Seq(0L, interval, 2 * interval), host)
    }
    // the URLs fetched are exactly the top-3-per-host of the due ranking
    val dueTop = due.select("url").as[String].collect().toSet
    assert(log.map(_.unit_path).toSet == dueTop)
  }
}
