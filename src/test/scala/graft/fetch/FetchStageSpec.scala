package graft.fetch

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop}
import graft.SparkTestBase

class FetchStageSpec extends SparkTestBase {
  import spark.implicits._

  private def tasks(n: Int, host: String) =
    (1 to n).map(i => FetchTask(s"$host/u$i", host, i.toLong, 1, i.toLong,
      i.toLong * 31, i % 4, content_hash = i.toLong * 7,
      robots_denied = false)).toDS()

  test("robots Crawl-delay raises the per-host politeness interval") {
    val base = Map("a.com" -> FetchStage.Politeness(1000L, 3),
      "b.com" -> FetchStage.Politeness(8000L, 3))
    val robots = Map(
      "a.com" -> graft.model.Robots.parse("User-agent: *\nDisallow:\nCrawl-delay: 5\n"),
      "b.com" -> graft.model.Robots.parse("User-agent: *\nCrawl-delay: 2\n"))
    val merged = FetchStage.politenessWithRobots(base, robots)
    assert(merged("a.com").minIntervalMs == 5000L) // robots wins
    assert(merged("b.com").minIntervalMs == 8000L) // platform wins
  }

  test("robots Crawl-delay for a host ABSENT from the platform map still applies") {
    val base = Map("a.com" -> FetchStage.Politeness(1000L, 3))
    val robots = Map(
      "new-host.org" -> graft.model.Robots.parse("User-agent: *\nCrawl-delay: 7\n"))
    val merged = FetchStage.politenessWithRobots(base, robots)
    // synthesized from the fetch-stage fallback (1000ms, 3 retries), raised
    // to the robots-mandated 7s — previously silently dropped
    assert(merged("new-host.org").minIntervalMs == 7000L)
    assert(merged("new-host.org").maxRetries == 3)
    assert(merged("a.com").minIntervalMs == 1000L)
  }

  test("R1 window budget: exhausted budget sleeps to the window reset (ref rate_limit.py:15-34)") {
    // 100ms interval, 5 requests per 1000ms window → requests 6.. jump to
    // the next window even though the interval alone would allow them
    val pol = Map("api.test" -> FetchStage.Politeness(100L, 3,
      budgetRequests = 5, windowMs = 1000L))
    val log = FetchStage.run(spark, tasks(12, "api.test"), pol,
      outcome = _ => FetchStage.Outcome("ok", 0))
      .orderBy("pos").collect()
    // within every 1000ms window at most 5 fetches start
    val byWindow = log.groupBy(_.scheduled_ms / 1000L).view.mapValues(_.length).toMap
    assert(byWindow.values.max <= 5, s"window overflow: $byWindow")
    // the 6th fetch waited for the reset, not just the interval
    assert(log(5).scheduled_ms == 1000L,
      s"6th fetch started at ${log(5).scheduled_ms}, expected window reset at 1000")
    // and fetches within a window still honor the fixed interval
    log.sliding(2).foreach { case Array(a, b) =>
      assert(b.scheduled_ms >= a.completed_ms)
    }
    // the literal schedule: 3 requests per 10 s window at a 1 s interval
    // start at 0, 1000, 2000, then sleep to the window reset; without a
    // budget the same tasks pace purely by interval
    def scheduled(p: FetchStage.Politeness) =
      FetchStage.run(spark, tasks(5, "api.test"), Map("api.test" -> p),
        outcome = _ => FetchStage.Outcome("ok", 0))
        .orderBy("pos").collect().map(_.scheduled_ms).toSeq
    assert(scheduled(FetchStage.Politeness(1000L, 3, budgetRequests = 3,
      windowMs = 10000L)) == Seq(0L, 1000L, 2000L, 10000L, 11000L))
    assert(scheduled(FetchStage.Politeness(1000L, 3)) ==
      Seq(0L, 1000L, 2000L, 3000L, 4000L))
  }

  test("R1+R3: retries count against the window budget") {
    // every request needs 2 attempts → only 2 fetches (4 attempts ≤ 5) fit
    // per window; the 3rd fetch of a window must wait for the reset
    val pol = Map("api.test" -> FetchStage.Politeness(100L, 3,
      budgetRequests = 5, windowMs = 1000L))
    val log = FetchStage.run(spark, tasks(6, "api.test"), pol,
      outcome = _ => FetchStage.Outcome("ok", 1))
      .orderBy("pos").collect()
    assert(log.forall(_.retries == 1))
    val byWindow = log.groupBy(_.scheduled_ms / 1000L).view
      .mapValues(_.map(_.retries + 1).sum).toMap
    assert(byWindow.values.max <= 5, s"attempt budget overflow: $byWindow")
  }

  test("R2 salted budget split: k buckets each fetch every k x interval (aggregate rate preserved)") {
    val pol = Map("big.host" -> FetchStage.Politeness(1000L, 3))
    val log = FetchStage.run(spark, tasks(40, "big.host"), pol,
      outcome = _ => FetchStage.Outcome("ok", 0),
      salts = Map("big.host" -> 4))
      .collect()
    // per salt bucket: gaps of 4 x 1000ms
    val bySalt = log.groupBy(_.id % 4)
    bySalt.foreach { case (_, rows) =>
      val sorted = rows.sortBy(_.pos)
      sorted.sliding(2).foreach { case Array(a, b) =>
        assert(b.scheduled_ms - a.scheduled_ms >= 4000L, "salted bucket over-fetched")
      case _ => ()
      }
    }
    // aggregate: ≤ 4 fetch starts in any 4-second span ⇒ ~1 req/s host-wide
    val starts = log.map(_.scheduled_ms).sorted
    starts.sliding(5).foreach { w =>
      if (w.length == 5) assert(w.last - w.head >= 4000L, "aggregate host rate exceeded")
    }
  }

  test("a salted host with a window budget stays within it: its salt " +
      "buckets are capped by the budget") {
    // 9 buckets of max(1, 4 / 9) = 1 request each would start 9 requests
    // per window
    val pol = Map("api.test" -> FetchStage.Politeness(100L, 3,
      budgetRequests = 4, windowMs = 1000L))
    val log = FetchStage.run(spark, tasks(40, "api.test"), pol,
      salts = Map("api.test" -> 9)).collect()
    val byWindow = log.groupBy(_.scheduled_ms / 1000L).view
      .mapValues(_.map(_.retries + 1).sum).toMap
    assert(byWindow.values.max <= 4, s"window budget overrun: $byWindow")
  }

  /** Random per-host policies: interval 1–5000 ms, budget 0–8 (mostly
    * with a 100–5000 ms window, sometimes with none), 0–3 retries.
    */
  private val policies: Gen[FetchStage.Politeness] = for {
    interval <- Gen.choose(1L, 5000L)
    budget <- Gen.choose(0, 8)
    window <- Gen.frequency(1 -> Gen.const(0L), 3 -> Gen.choose(100L, 5000L))
    retries <- Gen.choose(0, 3)
  } yield FetchStage.Politeness(interval, retries, budget, window)

  /** Transient failures per task (index = id - 1), some past any retry bound. */
  private val failureCounts: Gen[Vector[Int]] =
    Gen.choose(1, 60).flatMap(n => Gen.containerOfN[Vector, Int](n, Gen.choose(0, 4)))

  private def runHost(p: FetchStage.Politeness, failures: Vector[Int],
      salts: Int): Array[FetchLogRow] =
    FetchStage.run(spark, tasks(failures.size, "h.test"), Map("h.test" -> p),
      outcome = id => FetchStage.Outcome("ok", failures(id.toInt - 1)),
      salts = Map("h.test" -> salts)).collect()

  test("property: in every window a host's attempts over all its salt " +
      "buckets stay within its budget") {
    check(Prop.forAll(policies, failureCounts, Gen.choose(1, 12)) {
      (p, failures, salts) =>
        val log = runHost(p, failures, salts)
        // a request whose attempts alone exceed the budget runs in a
        // window of its own; every other window holds at most the budget
        p.budgetRequests == 0 || p.windowMs == 0 ||
          log.groupBy(_.scheduled_ms / p.windowMs).values.forall(w =>
            w.length == 1 || w.map(_.retries + 1).sum <= p.budgetRequests)
    })
  }

  /** The batch stage's schedule for one unsalted host by `pos`, and the
    * reference for it: `FetchStage.pace` folded over the tasks in
    * (priority, seq) order, each costing min(failures, maxRetries) + 1.
    */
  private def scheduleAndReference(p: FetchStage.Politeness,
      failures: Vector[Int]) = {
    val batch = runHost(p, failures, 1).sortBy(_.pos)
      .map(r => (r.unit_path, r.pos, r.scheduled_ms, r.completed_ms)).toSeq
    var s = FetchStage.PacerState(0L)
    val reference = failures.zipWithIndex.map { case (f, i) =>
      val (start, next) = FetchStage.pace(s, math.min(f, p.maxRetries) + 1L,
        p.minIntervalMs, p.budgetRequests, p.windowMs)
      s = next
      (s"h.test/u${i + 1}", i + 1L, start, next.nextFreeMs)
    }
    (batch, reference)
  }

  test("property: for one unsalted host the batch stage's schedule equals " +
      "the pacing step folded in (priority, seq) order") {
    check(Prop.forAll(policies, failureCounts) { (p, failures) =>
      val (batch, reference) = scheduleAndReference(p, failures)
      batch == reference
    })
    // one fixed case where the window budget trips under retries: 500
    // tasks, 5 requests per 2 s window, the default outcomes' transient
    // failures (two for every 97th id)
    val (batch, reference) = scheduleAndReference(
      FetchStage.Politeness(100L, 3, budgetRequests = 5, windowMs = 2000L),
      Vector.tabulate(500)(i => FetchStage.defaultOutcome(i + 1L).transientFailures))
    assert(batch == reference)
    // a budget sleep shows as an idle gap after the previous completion
    assert(batch.sliding(2).exists { case Seq(a, b) => b._3 > a._4 },
      "fixture must trip the window budget")
    // and cost-3 fetches occur (completed - scheduled = 3 x 100 ms)
    assert(batch.exists(r => r._4 - r._3 == 300L))
  }
}
