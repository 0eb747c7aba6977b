package graft

import graft.fetch.FetchStage.Politeness
import graft.frontier.{SeenFilterStore, SeenFilters}
import graft.tables.Json

/** Typed, validated crawl configuration — the engine twin of the
  * reference's validated user config (`config.py:35-117` `CONFIG_SCHEMA`,
  * cerberus-checked before any fetcher starts): politeness budgets, retry
  * bounds, the URL-seen sketch kind, sink toggles, and the compaction
  * policy stop being code constants and become data the user supplies and
  * the engine REJECTS when invalid (schema-style rule list, every
  * violation reported, not just the first).
  *
  * `CrawlConfig.default` reproduces exactly the constants the pipeline has
  * shipped with since round 1 (ConfigSpec pins schedule equality), so the
  * config layer is purely additive surface.
  */
final case class CrawlConfig(
    politeness: Map[String, Politeness] = graft.fetch.FetchStage.defaultPoliteness,
    fallbackPoliteness: Politeness = graft.fetch.FetchStage.FallbackPoliteness,
    maxErrorRetries: Int = 3,
    seenKind: String = "bloom",
    rdfSink: Boolean = false,
    rawSink: Boolean = false,
    autoCompactAlpha: Double = 1.0) {

  /** Every rule violation (empty = valid). Mirrors the reference schema's
    * per-field constraint style: min/max bounds, allowed enums, dependent
    * fields (a request budget requires a window).
    */
  def validate: Seq[String] = {
    def checkPoliteness(where: String, p: Politeness): Seq[String] = Seq(
      Option.when(p.minIntervalMs < 1)(
        s"$where.minIntervalMs must be >= 1 (got ${p.minIntervalMs})"),
      Option.when(p.maxRetries < 0 || p.maxRetries > 10)(
        s"$where.maxRetries must be in [0, 10] (got ${p.maxRetries})"),
      Option.when(p.budgetRequests < 0)(
        s"$where.budgetRequests must be >= 0 (got ${p.budgetRequests})"),
      Option.when(p.budgetRequests > 0 && p.windowMs < 1)(
        s"$where.windowMs must be >= 1 when budgetRequests is set"),
      Option.when(p.budgetRequests == 0 && p.windowMs != 0)(
        s"$where.windowMs requires budgetRequests")).flatten
    val hostRules = politeness.toSeq.sortBy(_._1).flatMap { case (host, p) =>
      // full hostname grammar, not just a few banned characters: a typo'd
      // "github .com" or "user@host" would otherwise validate and then
      // never match a real host — the exact silent-misconfiguration class
      // this layer exists to reject
      val hostErr = Option.when(!CrawlConfig.HostnameRe.matches(host))(
        s"politeness host '$host' must be a bare lowercase hostname")
      hostErr.toSeq ++ checkPoliteness(s"politeness['$host']", p)
    }
    hostRules ++ checkPoliteness("fallbackPoliteness", fallbackPoliteness) ++ Seq(
      Option.when(maxErrorRetries < 1 || maxErrorRetries > 100)(
        s"maxErrorRetries must be in [1, 100] (got $maxErrorRetries)"),
      Option.when(!SeenFilters.byName.contains(seenKind))(unknownSeenKind),
      Option.when(autoCompactAlpha < 0 || autoCompactAlpha.isNaN)(
        s"autoCompactAlpha must be >= 0 (got $autoCompactAlpha)")).flatten
  }

  /** Validate-or-throw, every violation in the message (the reference
    * raises on its cerberus errors dict the same way).
    */
  def validated: CrawlConfig = {
    val errs = validate
    require(errs.isEmpty, s"invalid crawl config:\n  ${errs.mkString("\n  ")}")
    this
  }

  /** Throws on an unknown kind (a typo'd sketch name must never silently
    * run the wrong filter; `validate` guards the same rule for callers
    * that check first).
    */
  def seenFilters: SeenFilterStore[_] =
    SeenFilters.byName.getOrElse(seenKind, throw new IllegalArgumentException(unknownSeenKind))

  private def unknownSeenKind: String =
    s"seenKind must be one of ${SeenFilters.byName.keys.mkString("/")} (got '$seenKind')"
}

object CrawlConfig {
  /** Bare lowercase hostname: dot-separated LDH labels (letters/digits/
    * hyphens, no leading/trailing hyphen, ≤ 63 chars each) — no scheme,
    * port, path, userinfo, or whitespace.
    */
  val HostnameRe: scala.util.matching.Regex =
    "^[a-z0-9](?:[a-z0-9-]{0,61}[a-z0-9])?(?:\\.[a-z0-9](?:[a-z0-9-]{0,61}[a-z0-9])?)*$".r

  val default: CrawlConfig = CrawlConfig()

  /** Parse the JSON user-config shape (all fields optional — omitted
    * fields keep their defaults, exactly like the reference's
    * defaults-merged config dict):
    *
    * ```json
    * {"politeness": {"github.com": {"min_interval_ms": 5000,
    *    "max_retries": 3, "budget_requests": 30, "window_ms": 60000}},
    *  "fallback": {"min_interval_ms": 1000},
    *  "max_error_retries": 3, "seen_kind": "bloom",
    *  "rdf_sink": false, "raw_sink": false, "auto_compact_alpha": 1.0}
    * ```
    *
    * Unknown top-level or politeness keys are ERRORS (cerberus rejects
    * unknown fields rather than silently ignoring a typo'd budget).
    */
  def fromJson(input: String): Either[Seq[String], CrawlConfig] = {
    val parsed =
      try Json.parse(input)
      catch { case e: Exception =>
        return Left(Seq(s"malformed config JSON: ${e.getMessage}")) }
    fromValue(parsed)
  }

  /** Parse the YAML user-config shape — the reference's actual user config
    * is YAML (`sample-config.yml` via `config.py:35-117`), so the engine
    * accepts the same surface:
    *
    * ```yaml
    * politeness:
    *   github.com:
    *     min_interval_ms: 5000
    *     budget_requests: 30
    *     window_ms: 60000
    * fallback:
    *   min_interval_ms: 1000
    * seen_kind: bloom
    * ```
    *
    * Same schema, same defaults-merge, same unknown-key rejection as
    * `fromJson` (both feed the one `fromValue` core through the subset
    * YAML parser already used for v1 manifests, `formats/Yaml`).
    */
  def fromYaml(input: String): Either[Seq[String], CrawlConfig] = {
    val parsed =
      try graft.formats.Yaml.parse(input)
      catch { case e: Exception =>
        return Left(Seq(s"malformed config YAML: ${e.getMessage}")) }
    fromValue(parsed)
  }

  private def fromValue(parsed: Json.Value): Either[Seq[String], CrawlConfig] = {
    val topKeys = Set("politeness", "fallback", "max_error_retries",
      "seen_kind", "rdf_sink", "raw_sink", "auto_compact_alpha")
    val polKeys = Set("min_interval_ms", "max_retries", "budget_requests",
      "window_ms")
    // error-accumulating typed extractors: a wrong-typed field reports its
    // own per-field violation (and leaves the default in place so the REST
    // of the config still validates) — never a blanket "malformed JSON"
    val errs = scala.collection.mutable.ArrayBuffer.empty[String]
    def longOf(v: Json.Value, where: String, dflt: Long): Long = v match {
      case n: Json.JNum =>
        // exact long form first; then integral decimal/exponent forms
        // ("2000.0", "1e3" — what json emitters produce for whole numbers)
        // via EXACT BigDecimal arithmetic: a double round-trip would
        // silently coerce values like 2^53+1.0 or x.5 near the top of the
        // range instead of erroring
        try n.raw.toLong
        catch { case _: NumberFormatException =>
          try {
            val bd = BigDecimal(n.raw)
            if (bd.isWhole && bd.isValidLong) bd.toLongExact
            else { errs += s"$where must be an integer (got ${n.raw})"; dflt }
          } catch { case _: NumberFormatException =>
            errs += s"$where must be an integer (got ${n.raw})"; dflt }
        }
      case _ => errs += s"$where must be a number"; dflt
    }
    def intOf(v: Json.Value, where: String, dflt: Int): Int = {
      val l = longOf(v, where, dflt.toLong)
      // range-checked narrowing: 2^32+3 must FAIL, not silently wrap to 3
      if (l > Int.MaxValue || l < Int.MinValue) {
        errs += s"$where out of range (got $l)"; dflt
      } else l.toInt
    }
    def boolOf(v: Json.Value, where: String, dflt: Boolean): Boolean = v match {
      case b: Json.JBool => b.v
      case _ => errs += s"$where must be a boolean"; dflt
    }
    def strOf(v: Json.Value, where: String, dflt: String): String = v match {
      case s: Json.JStr => s.v
      case _ => errs += s"$where must be a string"; dflt
    }
    def doubleOf(v: Json.Value, where: String, dflt: Double): Double = v match {
      case n: Json.JNum =>
        try n.toDouble
        catch { case _: NumberFormatException =>
          errs += s"$where must be a number (got ${n.raw})"; dflt }
      case _ => errs += s"$where must be a number"; dflt
    }
    def politenessOf(o: Json.JObj, where: String, base: Politeness): Politeness = {
      errs ++= o.v.map(_._1).filterNot(polKeys)
        .map(k => s"unknown key '$k' in $where")
      def num(k: String, dflt: Long): Long =
        o.get(k).map(longOf(_, s"$where.$k", dflt)).getOrElse(dflt)
      def numInt(k: String, dflt: Int): Int =
        o.get(k).map(intOf(_, s"$where.$k", dflt)).getOrElse(dflt)
      Politeness(
        minIntervalMs = num("min_interval_ms", base.minIntervalMs),
        maxRetries = numInt("max_retries", base.maxRetries),
        budgetRequests = numInt("budget_requests", base.budgetRequests),
        windowMs = num("window_ms", base.windowMs))
    }
    parsed match {
      case j: Json.JObj =>
        errs ++= j.v.map(_._1).filterNot(topKeys)
          .map(k => s"unknown config key '$k'")
        val d = default
        // a present-but-wrong-typed section is an ERROR, never silently
        // the defaults (a dropped politeness override would run the crawl
        // at the wrong pace with zero signal)
        val pol = j.get("politeness") match {
          case Some(po: Json.JObj) =>
            val entries = po.v.map {
              case (host, v: Json.JObj) =>
                host -> politenessOf(v, s"politeness['$host']",
                  d.politeness.getOrElse(host, d.fallbackPoliteness))
              case (host, _) =>
                errs += s"politeness['$host'] must be an object"
                host -> d.politeness.getOrElse(host, d.fallbackPoliteness)
            }
            // hosts present in the defaults but absent from the user map
            // keep their default budgets (defaults-merged, like the
            // reference's schema-defaults dict)
            d.politeness ++ entries.toMap
          case Some(_) => errs += "politeness must be an object"; d.politeness
          case None => d.politeness
        }
        val fb = j.get("fallback") match {
          case Some(o: Json.JObj) => politenessOf(o, "fallback", d.fallbackPoliteness)
          case Some(_) => errs += "fallback must be an object"; d.fallbackPoliteness
          case None => d.fallbackPoliteness
        }
        val cfg = CrawlConfig(
          politeness = pol,
          fallbackPoliteness = fb,
          maxErrorRetries = j.get("max_error_retries")
            .map(intOf(_, "max_error_retries", d.maxErrorRetries))
            .getOrElse(d.maxErrorRetries),
          seenKind = j.get("seen_kind")
            .map(strOf(_, "seen_kind", d.seenKind)).getOrElse(d.seenKind),
          rdfSink = j.get("rdf_sink")
            .map(boolOf(_, "rdf_sink", d.rdfSink)).getOrElse(d.rdfSink),
          rawSink = j.get("raw_sink")
            .map(boolOf(_, "raw_sink", d.rawSink)).getOrElse(d.rawSink),
          autoCompactAlpha = j.get("auto_compact_alpha")
            .map(doubleOf(_, "auto_compact_alpha", d.autoCompactAlpha))
            .getOrElse(d.autoCompactAlpha))
        val all = errs.toSeq ++ cfg.validate
        if (all.nonEmpty) Left(all) else Right(cfg)
      case _ => Left(Seq("config must be a JSON object"))
    }
  }
}
