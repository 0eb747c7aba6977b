package graft.model

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions.udf

/** robots.txt parsing + evaluation (RFC 9309). The reference crawler has no
  * robots handling (verified: zero matches in /root/reference/krawl); the
  * north rule requires a robots-gated queue, so this is engine-native:
  * per-host policies parsed once, broadcast as a small dimension, evaluated
  * per frontier row with RFC longest-match semantics.
  *
  *  - group selection: the group whose User-agent token is the LONGEST
  *    prefix match of our agent wins; '*' is the fallback (RFC 9309 §2.2.1)
  *  - rule evaluation: the rule with the longest matching path prefix wins;
  *    on equal length, Allow wins (§2.2.2); no matching rule → allowed
  *  - '$' anchors end-of-path, '*' matches any run (§2.2.3)
  *  - Crawl-delay (non-standard, widely used) is surfaced so the politeness
  *    budget can take max(platform interval, robots delay)
  */
object Robots {

  final case class Rule(allow: Boolean, path: String) {
    /** '*' → '.*', '$' → end anchor, everything else literal (§2.2.3);
      * compiled once per rule (lazily re-derived after deserialization).
      */
    @transient lazy val regex: java.util.regex.Pattern = {
      val anchored = path.endsWith("$")
      val p = if (anchored) path.dropRight(1) else path
      val sb = new StringBuilder
      p.foreach {
        case '*' => sb.append(".*")
        case c => sb.append(java.util.regex.Pattern.quote(c.toString))
      }
      if (anchored) sb.append("$")
      java.util.regex.Pattern.compile(sb.toString)
    }
  }
  final case class Policy(rules: Seq[Rule], crawlDelayMs: Option[Long])

  val Allowed: Policy = Policy(Seq.empty, None)

  /** Parse one robots.txt document for `userAgent`. */
  def parse(txt: String, userAgent: String = "okh-krawler"): Policy = {
    if (txt == null) return Allowed
    val agentLc = userAgent.toLowerCase
    // split into groups: consecutive user-agent lines open a group; rules
    // attach to every agent of the current group
    final case class Group(agents: Seq[String], rules: Seq[Rule], delay: Option[Long])
    var groups = Vector.empty[Group]
    var agents = Vector.empty[String]
    var rules = Vector.empty[Rule]
    var delay: Option[Long] = None
    var inAgents = true
    def flush(): Unit = {
      if (agents.nonEmpty) groups :+= Group(agents, rules, delay)
      agents = Vector.empty; rules = Vector.empty; delay = None
    }
    txt.split("\n").foreach { raw =>
      val line = raw.split("#", 2)(0).trim // comments stripped (§2.2)
      val colon = line.indexOf(':')
      if (colon > 0) {
        val key = line.substring(0, colon).trim.toLowerCase
        val value = line.substring(colon + 1).trim
        key match {
          case "user-agent" =>
            if (!inAgents) { flush(); inAgents = true }
            agents :+= value.toLowerCase
          case "allow" if agents.nonEmpty =>
            inAgents = false
            if (value.nonEmpty) rules :+= Rule(allow = true, value)
          case "disallow" if agents.nonEmpty =>
            inAgents = false
            // empty Disallow means "allow all" → no rule (§2.2.2)
            if (value.nonEmpty) rules :+= Rule(allow = false, value)
          case "crawl-delay" if agents.nonEmpty =>
            inAgents = false
            delay = scala.util.Try((value.toDouble * 1000).toLong).toOption
          case _ => () // sitemap etc. — ignored
        }
      }
    }
    flush()
    // longest agent-token prefix match; '*' fallback (§2.2.1)
    val matching = groups.flatMap { g =>
      g.agents.collect {
        case a if a != "*" && agentLc.startsWith(a) => (a.length, g)
        case a if a == "*" => (0, g)
      }
    }
    if (matching.isEmpty) Allowed
    else {
      val best = matching.maxBy(_._1)._1
      val chosen = matching.filter(_._1 == best).map(_._2)
      Policy(chosen.flatMap(_.rules),
        chosen.flatMap(_.delay).reduceOption((a: Long, b: Long) => math.max(a, b)))
    }
  }

  /** RFC 9309 §2.2.2: longest matching rule wins; ties → Allow. A rule
    * matches when its pattern matches a PREFIX of the path
    * (`lookingAt`; '$'-anchored patterns must reach the path's end).
    */
  def isAllowed(policy: Policy, path: String): Boolean = {
    val p = if (path == null || path.isEmpty) "/" else path
    val hits = policy.rules
      .filter(_.regex.matcher(p).lookingAt())
      .map(r => (r.path.length, r.allow))
    if (hits.isEmpty) true
    else {
      val best = hits.map(_._1).max
      hits.filter(_._1 == best).exists(_._2) // any Allow at max length wins
    }
  }

  /** Executor-cached per-host predicate over a broadcast host→robots-text
    * map (parsed once per executor, not per row). Unknown host → allowed.
    */
  final class HostAllowed(bc: org.apache.spark.broadcast.Broadcast[Map[String, String]],
      userAgent: String) extends ((String, String) => Boolean) with Serializable {
    @transient private lazy val policies: Map[String, Policy] =
      bc.value.map { case (h, txt) => h -> parse(txt, userAgent) }
    def apply(host: String, path: String): Boolean =
      policies.get(host).forall(isAllowed(_, path))
  }

  /** Column predicate: allowed(host, path) from per-host robots.txt texts
    * (the dimension is tiny — one document per host — and broadcast).
    */
  def allowedCol(spark: SparkSession, robotsTxtByHost: Map[String, String],
      hostCol: Column, pathCol: Column,
      userAgent: String = "okh-krawler"): Column = {
    val bc = spark.sparkContext.broadcast(robotsTxtByHost)
    udf(new HostAllowed(bc, userAgent)).apply(hostCol, pathCol)
  }

  /** Politeness interval honoring robots Crawl-delay: max(platform
    * interval, robots delay) per host.
    */
  def effectiveIntervalMs(platformIntervalMs: Long, policy: Policy): Long =
    math.max(platformIntervalMs, policy.crawlDelayMs.getOrElse(0L))
}
