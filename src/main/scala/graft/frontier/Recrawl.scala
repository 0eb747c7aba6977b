package graft.frontier

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.CrawlOps

/** Freshness-driven recrawl scheduling over the sitemap-fed frontier
  * (`sources/Sitemaps.scala`). The reference krawler crawls each source
  * once per invocation and relies on the operator re-running it; at a
  * 10^10-URL frontier the engine itself must decide WHICH URLs are worth
  * refetching — the classical freshness model (Cho & Garcia-Molina,
  * "Synchronizing a database to improve freshness", SIGMOD 2000): revisit
  * intervals from the publisher's declared change frequency, overridden
  * by hard evidence (a sitemap `lastmod` newer than our last fetch), under
  * a per-host politeness budget.
  *
  * Day granularity throughout (the sitemap protocol's own resolution) and
  * integer arithmetic only — oracle-parity safe.
  */
object Recrawl {

  /** changefreq → revisit interval in days. `always`/`hourly` are finer
    * than day granularity → 0 (due every scheduling pass); `never` is NOT
    * here — it short-circuits in [[due]] (a `never` page is fetched once,
    * then only on `lastmod` evidence).
    */
  val IntervalDays: Map[String, Long] = Map(
    "always" -> 0L, "hourly" -> 0L, "daily" -> 1L, "weekly" -> 7L,
    "monthly" -> 30L, "yearly" -> 365L)

  /** No declared changefreq → weekly, the crawler's own prior. */
  val DefaultIntervalDays = 7L

  /** Select the URLs due for refetch at `nowDay`, ranked per host and
    * capped at `perHostBudget` (one politeness window's worth of work).
    *
    * Input: (host, url, lastmod_day, changefreq, priority_permille,
    * last_fetch_day) — nullable lastmod/changefreq/priority/last_fetch.
    * Due when, in order:
    *   1. never fetched (`last_fetch_day` null) — first fetch always wins;
    *   2. `lastmod_day > last_fetch_day` — the publisher says it changed;
    *   3. `changefreq = "never"` → NOT due (absent evidence above);
    *   4. otherwise `nowDay - last_fetch_day >= interval(changefreq)`.
    *
    * Ranking per host: declared priority (null → the protocol's 0.5
    * default), then staleness (never-fetched = maximally stale), then URL
    * for a total order. `fetch_pos` is the 1-based position in the host's
    * queue — the same shape `FetchStage` consumes.
    *
    * One shuffle (the per-host window); the due-filter is pushed into the
    * scan stage before it. At 10^10 rows the window ranks only the due
    * subset, and the budget cap bounds the output to hosts × budget.
    */
  /** Just the due FILTER (rule 1–4 above) with no ranking — the scan-stage
    * predicate form for consumers that only need the due set (e.g. the
    * budget apportionment's count-by-host), where paying [[due]]'s
    * per-host sort window would be waste.
    */
  def dueSet(frontier: DataFrame, nowDay: Long): DataFrame = {
    val interval = coalesce(
      element_at(typedlit(IntervalDays), col("changefreq")),
      lit(DefaultIntervalDays))
    val isDue = when(col("last_fetch_day").isNull, lit(true))
      .when(col("lastmod_day").isNotNull &&
        col("lastmod_day") > col("last_fetch_day"), lit(true))
      .when(col("changefreq") === "never", lit(false))
      .otherwise(lit(nowDay) - col("last_fetch_day") >= interval)
    frontier.filter(isDue)
  }

  def due(frontier: DataFrame, nowDay: Long, perHostBudget: Int): DataFrame = {
    val order = Window.partitionBy(col("host")).orderBy(
      coalesce(col("priority_permille"), lit(500L)).desc,
      (lit(nowDay) - coalesce(col("last_fetch_day"), lit(-1L))).desc,
      col("url").asc)

    dueSet(frontier, nowDay)
      .withColumn("staleness_days", lit(nowDay) - col("last_fetch_day"))
      .withColumn("fetch_pos", row_number().over(order).cast("long"))
      .filter(col("fetch_pos") <= perHostBudget)
      .select(col("host"), col("url"), col("changefreq"),
        col("priority_permille"), col("staleness_days"), col("fetch_pos"))
  }

  /** Apportion a GLOBAL fetch budget across hosts by their due-URL counts
    * — the scheduling decision above the per-host politeness queues: a
    * crawl cycle can afford `globalBudget` fetches total, each host
    * deserves a share proportional to its backlog, and no host may get
    * more than `perHostCap` (its politeness ceiling for the cycle).
    *
    * Largest-remainder (Hamilton) apportionment over the CAPPED demand
    * `min(due, cap)`, fully deterministic: if total demand fits the
    * budget everyone gets their demand; otherwise base share =
    * floor(budget × demand/total) and the leftover seats go to the
    * largest remainders (ties → smaller host string). Because every
    * grant is bounded by its own demand, one pass is exact — no
    * iterate-to-fixpoint. The apportionment is fully distributed: the
    * frontier is touched by exactly one count-by-host aggregation, the
    * global total and leftover are one-row aggregates joined back by
    * broadcast, and the remainder rank is `CrawlOps.globalRank` — no
    * single-partition window and nothing collected to the driver at any
    * host cardinality.
    *
    * Input: any frame with a `host` column (one row per due URL).
    * Output: (host, due_count, allocated) — allocated sums to
    * min(globalBudget, Σ min(due, cap)).
    */
  def allocateBudget(due: DataFrame, globalBudget: Long,
      perHostCap: Long = Long.MaxValue): DataFrame = {
    require(globalBudget >= 0 && perHostCap >= 1, "nonnegative budget, cap >= 1")
    // FULLY DISTRIBUTED: the per-host counts never reach the driver
    // (guide §5), and no structure runs in a single partition. Same
    // largest-remainder arithmetic as the driver version it replaced
    // (equivalence pinned in OptimizedOpsSpec): base shares and remainders
    // are plain expressions — DECIMAL(38,0) products, since budget × demand
    // can exceed Long at 10^10 scale — over ONE count-by-host aggregation;
    // the global total and leftover are one-row aggregates broadcast back
    // onto the per-host rows, and the remainder rank is the distributed
    // `globalRank` (hosts are unique, so (rem desc, host) is a total order).
    val perHost = due.groupBy(col("host")).agg(count(lit(1)).as("due_count"))
      .withColumn("demand", least(col("due_count"), lit(perHostCap)))
    val shares = perHost
      .crossJoin(broadcast(perHost.agg(sum(col("demand")).as("total"))))
      .withColumn("prod",
        lit(globalBudget).cast("decimal(38,0)") * col("demand").cast("decimal(38,0)"))
      .withColumn("base", expr("prod div total")) // IntegralDivide → long, exact
      .withColumn("rem", col("prod") -
        col("base").cast("decimal(38,0)") * col("total").cast("decimal(38,0)"))
    val leftover = shares.agg((lit(globalBudget) - sum(col("base"))).as("leftover"))
    CrawlOps.globalRank(shares, "rank", col("rem").desc, col("host").asc)
      .crossJoin(broadcast(leftover))
      .withColumn("allocated",
        when(col("total") <= globalBudget, col("demand"))
          .otherwise(col("base") +
            when(col("rank") <= col("leftover"), 1L).otherwise(0L)))
      .select(col("host"), col("due_count"), col("allocated"))
  }
}
