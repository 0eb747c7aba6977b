package graft.fetch

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import scala.collection.mutable

/** One frontier entry ready to fetch (post-dedup, post-robots). `url_hash`
  * and `bucket` ride along so downstream sinks never re-join the frontier.
  */
final case class FetchTask(
    unit_path: String,
    hosting_id: String,
    id: Long,
    priority: Int,
    seq: Long,
    url_hash: Long,
    bucket: Long,
    content_hash: Long, // payload fingerprint delivered by the transport
    robots_denied: Boolean)

/** Fetch outcome row — the engine's FetchResult/FailedFetch analogue
  * (reference fetcher/result.py:13-22, fetcher/event.py:13-17): errors are
  * DATA (status rows), never task failures, so Spark task retries stay
  * idempotent (SURVEY §4 "Backoff/retry").
  */
final case class FetchLogRow(
    unit_path: String,
    hosting_id: String,
    id: Long,
    priority: Int,
    seq: Long,
    url_hash: Long,
    bucket: Long,
    content_hash: Long, // fingerprint of the delivered payload (0 unless ok)
    pos: Long, // per-host fetch position (politeness queue order, W4)
    scheduled_ms: Long, // earliest start under the politeness budget
    completed_ms: Long, // virtual-clock completion incl. retries
    retries: Int,
    status: String) // ok | not_found | error | robots_denied

/** The politeness-gated ordered fetch stage (SURVEY §2.9 R1-R4) — the one
  * deliberately non-Catalyst operator: an ordered `mapPartitions` over
  * host-partitioned, politeness-sorted tasks.
  *
  * Semantics mirrored from the reference:
  *  - per-host fixed-interval rate limit (rate_limit.py:37-50); time is a
  *    per-host VIRTUAL clock so tests and benchmarks don't wall-clock-sleep,
  *    while the recorded schedule proves budget compliance (1 fetch per
  *    interval per host, exactly the reference's constants in BASELINE.md)
  *  - bounded in-stage retries with backoff counted against the budget
  *    (github.py:414-457); a row that exhausts retries becomes status=error
  *  - per-host serial order = (priority, seq), recorded as `pos` so crawl
  *    order is data, never execution order (§7.4 risk 1)
  *
  * Scale: `repartition(hosting_id)` gives each host one partition-stream;
  * skewed hosts split into salted buckets with divided budgets
  * (interval × nSalts per bucket keeps the aggregate host rate intact).
  */
object FetchStage {

  /** Transport outcome injector: deterministic function of the task id.
    * The local-store stand-in for HTTP (zero-egress; same boundary the
    * reference uses for its Thingiverse local store, thingiverse.py:344-373).
    * `transientFailures` models 429/5xx responses that succeed on retry.
    */
  final case class Outcome(status: String, transientFailures: Int)

  def defaultOutcome(id: Long): Outcome =
    if (id % 101 == 0) Outcome("not_found", 0) // permanent 404
    else if (id % 97 == 0) Outcome("ok", 2) // two 5xx then success
    else if (id % 997 == 0) Outcome("error", Int.MaxValue) // never succeeds
    else Outcome("ok", 0)

  /** Per-host politeness budget: fixed interval between requests (R2,
    * rate_limit.py:37-50) plus an optional request budget per window (R1,
    * rate_limit.py:15-34 — e.g. GitHub code search: 30 requests/window,
    * github.py:229; exhausted budget sleeps until the window resets).
    * budgetRequests = 0 disables the window budget.
    */
  final case class Politeness(minIntervalMs: Long, maxRetries: Int,
      budgetRequests: Int = 0, windowMs: Long = 0L)

  /** Budget for hosts absent from the politeness map — ONE definition,
    * used both by the fetch loop and by robots-only host synthesis (two
    * diverging literals here would pace robots-only hosts from a different
    * base than the fetch loop actually applies).
    */
  val FallbackPoliteness: Politeness = Politeness(1000L, 3)

  /** Politeness budget honoring robots Crawl-delay per host: interval =
    * max(platform interval, robots delay) (model/Robots.effectiveIntervalMs).
    */
  def politenessWithRobots(base: Map[String, Politeness],
      robots: Map[String, graft.model.Robots.Policy],
      fallback: Politeness = FallbackPoliteness): Map[String, Politeness] =
    // hosts present ONLY in the robots map still get an entry (built from
    // the fetch-stage fallback budget) — otherwise a robots Crawl-delay for
    // an unconfigured host would be silently dropped and the host paced with
    // the bare fallback interval
    (base.keySet ++ robots.keySet).iterator.map { host =>
      val p = base.getOrElse(host, fallback)
      host -> p.copy(minIntervalMs = graft.model.Robots.effectiveIntervalMs(
        p.minIntervalMs, robots.getOrElse(host, graft.model.Robots.Allowed)))
    }.toMap

  def defaultPoliteness: Map[String, Politeness] = Map(
    "thingiverse.com" -> Politeness(1000L, 3),
    // GitHub: 30 requests per 60s window on top of the 5s secondary limit
    "github.com" -> Politeness(5000L, 3, budgetRequests = 30, windowMs = 60000L),
    "oshwa.org" -> Politeness(5000L, 3),
    "appropedia.org" -> Politeness(1000L, 3),
    "gitlab.com" -> Politeness(5000L, 3),
    "codeberg.org" -> Politeness(5000L, 3))

  /** One politeness stream's clock: `nextFreeMs` is the previous request's
    * completion (the earliest start of the next), and (`windowStartMs`,
    * `windowUsed`) the R1 window the last request was charged to.
    */
  final case class PacerState(nextFreeMs: Long, windowStartMs: Long = 0L,
      windowUsed: Long = 0L)

  /** The politeness recurrence (rate_limit.py:15-50): a request costing
    * `cost` slots (attempts + 1 — every retry is a request, charged against
    * both the interval clock and the window budget) starts at the previous
    * request's completion, sleeps to the next window start when the window
    * budget can't cover it, and completes at start + interval × cost.
    * Returns the start and the next state.
    */
  def pace(s: PacerState, cost: Long, intervalMs: Long,
      budgetRequests: Int, windowMs: Long): (Long, PacerState) = {
    val earliest = s.nextFreeMs
    val (start, winStart, used) =
      if (budgetRequests <= 0 || windowMs <= 0)
        (earliest, s.windowStartMs, s.windowUsed)
      else {
        val curWin = math.max(s.windowStartMs, earliest / windowMs * windowMs)
        val usedNow = if (curWin > s.windowStartMs) 0L else s.windowUsed
        if (usedNow + cost > budgetRequests) // sleep until the window resets
          (curWin + windowMs, curWin + windowMs, cost)
        else (earliest, curWin, usedNow + cost)
      }
    (start, PacerState(start + intervalMs * cost, winStart, used))
  }

  /** Salted host bucket: hosts needing more than one politeness stream at
    * scale split across `salts(host)` buckets, each granted interval × k
    * and 1/k of the window budget, so the aggregate per-host rate is
    * unchanged. A host with a window budget gets at most as many buckets
    * as its budget holds whole requests (retries included), so the bucket
    * budgets never sum past the host's.
    */
  def run(
      spark: SparkSession,
      tasks: Dataset[FetchTask],
      politeness: Map[String, Politeness] = defaultPoliteness,
      outcome: Long => Outcome = defaultOutcome,
      salts: Map[String, Int] = Map.empty,
      fallback: Politeness = FallbackPoliteness): Dataset[FetchLogRow] = {
    import spark.implicits._

    val nSalts = salts.map { case (host, n) =>
      val p = politeness.getOrElse(host, fallback)
      val cap = if (p.budgetRequests > 0 && p.windowMs > 0)
        math.max(1, p.budgetRequests / (math.max(0, p.maxRetries) + 1)) else n
      host -> math.min(n, cap)
    }
    // salt assignment as a codegen'd when-chain over the (tiny) salt map —
    // no per-row Scala UDF on the frontier hot path (VERDICT r1 #9);
    // pmod(id, n) == Math.floorMod(id, n) for all ids
    val saltExpr = nSalts.foldLeft(lit(0)) { case (acc, (host, n)) =>
      when(col("hosting_id") === lit(host),
        pmod(col("id"), lit(n.toLong)).cast("int")).otherwise(acc)
    }

    val w = Window.partitionBy(col("hosting_id"), col("salt"))
      .orderBy(col("priority"), col("seq"))
    val scheduled = tasks
      .withColumn("salt", saltExpr)
      .withColumn("pos", row_number().over(w).cast("long"))

    val politenessBc = spark.sparkContext.broadcast(politeness)
    val fallbackBc = spark.sparkContext.broadcast(fallback)
    val saltsBc = spark.sparkContext.broadcast(nSalts.withDefaultValue(1))
    val outcomeFn = outcome // stable reference for closure capture

    // NO second exchange: the `pos` window above already hash-partitioned
    // the tasks on (hosting_id, salt) and its required sort ordering is
    // (hosting_id, salt, priority, seq) — exactly the distribution and
    // in-partition order the per-host virtual-clock fold needs. The
    // previous explicit repartition + sortWithinPartitions re-shuffled and
    // re-sorted the same rows on the same keys (guide §2.4: remove
    // shuffles whose partitioning is already established).
    scheduled
      .as[(String, String, Long, Int, Long, Long, Long, Long, Boolean, Int, Long)]
      .mapPartitions { it =>
        val pol = politenessBc.value
        val saltN = saltsBc.value
        // one politeness clock per (host, salt) stream
        val clocks = mutable.Map.empty[(String, Int), PacerState]
        it.map { case (unitPath, host, id, priority, seq, urlHash, bucket,
            contentHash, robotsDenied, salt, pos) =>
          val key = (host, salt)
          val s = clocks.getOrElse(key, PacerState(0L))
          if (robotsDenied) {
            // robots gate (R5): no request issued, no politeness slot spent
            FetchLogRow(unitPath, host, id, priority, seq, urlHash, bucket, 0L, pos,
              s.nextFreeMs, s.nextFreeMs, 0, "robots_denied")
          } else {
            val p = pol.getOrElse(host, fallbackBc.value)
            val k = math.max(1, saltN(host))
            val o = outcomeFn(id)
            val attempts = math.min(o.transientFailures, p.maxRetries)
            val status =
              if (o.status != "ok") o.status
              else if (o.transientFailures > p.maxRetries) "error"
              else "ok"
            val (start, next) = pace(s, attempts + 1L, p.minIntervalMs * k,
              p.budgetRequests / k, p.windowMs)
            clocks(key) = next
            // the payload fingerprint is only meaningful for delivered content
            FetchLogRow(unitPath, host, id, priority, seq, urlHash, bucket,
              if (status == "ok") contentHash else 0L, pos,
              start, next.nextFreeMs, attempts, status)
          }
        }
      }
  }

  /** Typed view of a frontier DataFrame with the FetchTask columns. */
  def toTasks(spark: SparkSession, df: DataFrame): Dataset[FetchTask] = {
    import spark.implicits._
    val withHash =
      if (df.columns.contains("content_hash")) df
      else df.withColumn("content_hash", lit(0L))
    withHash.select(col("unit_path"), col("hosting_id"), col("id"),
      col("priority").cast("int").as("priority"), col("seq"),
      col("url_hash"), col("bucket"), col("content_hash"),
      col("robots_denied")).as[FetchTask]
  }
}
