package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.model.UrlCanonicalizer

/** Column-level URL canonicalization for the frontier.
  *
  * The canonical unit path (graft.model.UrlCanonicalizer, mirroring the
  * reference's hosting_unit_forge.py:74-149 / hosting_unit_web.py:44-94) is
  * THE dedup key of the URL-seen set, so it must be a pure deterministic
  * function usable on executors. It is exposed as a Scala UDF returning a
  * struct; the url_hash used for Bloom filters and bucketing is the builtin
  * `xxhash64` over the canonical path (codegen'd, no UDF in the hot
  * hash/join path — the UDF runs once per frontier row at ingest, after
  * which all joins/aggregations key on the hashed/bucketed columns).
  */
object UrlFunctions {

  final case class CanonicalRow(host: String, hosting_id: String, unit_path: String,
      parse_error: String)

  private val canonicalizeFn: String => CanonicalRow = { url =>
    val host = UrlCanonicalizer.hostOf(url).orNull
    UrlCanonicalizer.parse(url) match {
      case Right(unit) => CanonicalRow(host, unit.hostingId.id, unit.toPathStr, null)
      case Left(fail)  => CanonicalRow(host, null, null, fail.reason)
    }
  }

  // asNondeterministic: a documented white lie (the parse is pure). The
  // frontier operators filter on canon.parse_error; Catalyst pushes a
  // deterministic-UDF-derived predicate below the projection and then
  // re-evaluates the parse for the projected fields — every frontier row
  // paid the URL parse twice (guide §4.4). The marker pins one evaluation.
  val canonicalizeUdf = udf(canonicalizeFn).asNondeterministic()

  /** Adds struct column `canon(host, hosting_id, unit_path, parse_error)`. */
  def canonicalize(urlCol: Column): Column = canonicalizeUdf(urlCol)

  /** Frontier key: 64-bit hash of the canonical unit path (builtin,
    * codegen'd). At 10^10 frontier scale all dedup joins and Bloom filters
    * key on this long, never on the raw URL string.
    */
  def urlHash(unitPath: Column): Column = xxhash64(unitPath)

  /** Platform priority for the golden crawl order: platforms are fetched
    * serially in registry order in the reference (fetcher/factory.py:31-38,
    * 124-128); we encode that serial order as an explicit priority column so
    * the crawl order is data, not execution order (SURVEY §2.5 W1).
    */
  def hostPriority(hostingId: Column): Column =
    when(hostingId === "appropedia.org", 1)
      .when(hostingId === "github.com", 2)
      .when(hostingId === "oshwa.org", 3)
      .when(hostingId === "thingiverse.com", 4)
      .when(hostingId === "gitlab.com", 5)
      .when(hostingId === "codeberg.org", 6)
      .otherwise(99)
}
