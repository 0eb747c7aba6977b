package graft.model

import java.net.URI

/** Platform identity — the hosting key every frontier URL dispatches on.
  *
  * Semantics derived from the reference crawler's hosting model
  * (/root/reference/krawl/model/hosting_id.py:69-133): a fixed registry of
  * platform domains, each URL resolving to exactly one hosting id via its
  * hostname. Implemented as a sealed ADT so Spark `Dataset` rows can carry it
  * as a plain string column while driver-side code pattern-matches totally.
  */
sealed abstract class HostingId(val id: String) {
  override def toString: String = id
}

object HostingId {
  case object AppropediaOrg extends HostingId("appropedia.org")
  case object CodebergOrg extends HostingId("codeberg.org")
  case object GithubCom extends HostingId("github.com")
  case object GitlabCom extends HostingId("gitlab.com")
  case object OshwaOrg extends HostingId("oshwa.org")
  case object ThingiverseCom extends HostingId("thingiverse.com")

  val all: Seq[HostingId] =
    Seq(AppropediaOrg, CodebergOrg, GithubCom, GitlabCom, OshwaOrg, ThingiverseCom)

  /** Domain → hosting id (reference: hosting_id.py:110-133). */
  def fromHost(host: String): Option[HostingId] = host match {
    case "appropedia.org" | "www.appropedia.org"  => Some(AppropediaOrg)
    case "codeberg.org"                           => Some(CodebergOrg)
    case "github.com" | "raw.githubusercontent.com" => Some(GithubCom)
    case "gitlab.com"                             => Some(GitlabCom)
    case "oshwa.org" | "certification.oshwa.org"  => Some(OshwaOrg)
    case "thingiverse.com" | "www.thingiverse.com" => Some(ThingiverseCom)
    case _                                        => None
  }
}

/** Canonical unit of storage: one crawled project.
  *
  * Mirrors the reference's two unit-id families
  * (hosting_unit_forge.py:25-149 for git forges,
  * hosting_unit_web.py:22-94 for web platforms) as one sealed trait. The
  * `toPathStr` output is the canonical storage path and THE dedup key of the
  * URL-seen set — two URLs naming the same unit (e.g. github.com blob URL vs
  * raw.githubusercontent.com URL) canonicalize to the same path string.
  */
sealed trait HostingUnitId {
  def hostingId: HostingId
  def toPathStr: String
  def isValid: Boolean
}

/** Git-forge unit (reference: hosting_unit_forge.py:25-72). */
final case class ForgeUnit(
    hostingId: HostingId,
    owner: String,
    repo: String,
    groupHierarchy: Option[String] = None,
    ref: Option[String] = None,
    path: Option[String] = None
) extends HostingUnitId {
  private def opt(o: Option[String]): String = o.fold("")("/" + _)

  /** reference: hosting_unit_forge.py:41-42 */
  def toPathStr: String =
    s"${hostingId.id}/$owner${opt(groupHierarchy)}/$repo${opt(ref)}${opt(path)}"

  def isValid: Boolean = owner.nonEmpty && repo.nonEmpty

  /** Raw-content download URL per platform
    * (reference: hosting_unit_forge.py:185-225).
    */
  def downloadUrl(filePath: Option[String]): String = {
    val refOpt = ref.getOrElse("HEAD")
    hostingId match {
      case HostingId.CodebergOrg =>
        s"https://codeberg.org/$owner/$repo/raw/$refOpt${opt(filePath)}"
      case HostingId.GithubCom =>
        s"https://raw.githubusercontent.com/$owner/$repo/$refOpt${opt(filePath)}"
      case HostingId.GitlabCom =>
        s"https://gitlab.com/$owner${opt(groupHierarchy)}/$repo/-/raw/$refOpt${opt(filePath)}"
      case other =>
        throw new IllegalArgumentException(s"not a forge hosting id: $other")
    }
  }
}

/** Web-platform unit keyed by a project id
  * (reference: hosting_unit_web.py:22-94). For Thingiverse the storage path
  * groups ids by `id/10000` — a partition-bucketing scheme we reuse as the
  * table partition key at scale (hosting_unit_web.py:28-33).
  */
final case class WebUnit(hostingId: HostingId, projectId: String) extends HostingUnitId {
  def toPathStr: String = hostingId match {
    case HostingId.ThingiverseCom if projectId.nonEmpty && projectId.forall(_.isDigit)
        && projectId.length <= 18 =>
      val group = projectId.toLong / 10000
      s"${hostingId.id}/$group/$projectId"
    // defensive: a directly-constructed WebUnit with a non-numeric thing id
    // must never throw inside a Spark expression — fall back to ungrouped
    case _ => s"${hostingId.id}/$projectId"
  }

  def isValid: Boolean = projectId.nonEmpty

  /** reference: hosting_unit_web.py:99-125 */
  def projectHostingUrl: String = hostingId match {
    case HostingId.AppropediaOrg => s"https://www.appropedia.org/$projectId"
    case HostingId.OshwaOrg => s"https://certification.oshwa.org/${projectId.toLowerCase}.html"
    case HostingId.ThingiverseCom => s"https://www.thingiverse.com/thing:$projectId"
    case other => throw new IllegalArgumentException(s"not a web hosting id: $other")
  }
}

/** Pure URL → canonical-unit parser.
  *
  * Re-expresses the reference's `HostingUnitIdForge.from_url`
  * (hosting_unit_forge.py:74-149), `HostingUnitIdWebById.from_url`
  * (hosting_unit_web.py:44-94) and the factory fallback
  * (hosting_unit_factory.py:24-29: try forge parse first, fall back to
  * web-by-id). Pure function of the URL string — safe to call from Spark
  * expressions/typed maps on executors; no I/O, no mutation.
  */
object UrlCanonicalizer {

  final case class ParseFailure(url: String, reason: String)

  /** One-shot parsed view of a URL — the canonicalizer parses each URL
    * exactly once (java.net.URI construction dominates the UDF cost at
    * frontier scale; the naive form paid it 6× per row).
    */
  final case class ParsedUrl(scheme: String, host: String, parts: Array[String]) {
    def isValid: Boolean =
      (scheme == "http" || scheme == "https") && host != null && host.nonEmpty
  }

  def parseUrl(url: String): Option[ParsedUrl] =
    try {
      val u = new URI(url)
      Some(ParsedUrl(
        Option(u.getScheme).map(_.toLowerCase).orNull,
        Option(u.getHost).map(_.toLowerCase).orNull,
        Option(u.getPath).getOrElse("").split("/").filter(_.nonEmpty)))
    } catch { case _: Exception => None }

  def hostOf(url: String): Option[String] =
    parseUrl(url).flatMap(u => Option(u.host))

  /** Basic URL-validity gate (reference: util.py:48-54 uses `validators.url`;
    * we require scheme http(s) + non-empty host).
    */
  def isValidUrl(url: String): Boolean = parseUrl(url).exists(_.isValid)

  /** Forge-family parse (reference: hosting_unit_forge.py:74-149). */
  private def parseForgeParsed(url: String, parsed: ParsedUrl): Either[ParseFailure, ForgeUnit] = {
    val hostOpt = Option(parsed.host)
    val hidOpt = hostOpt.flatMap(HostingId.fromHost)
    (hostOpt, hidOpt) match {
      case (Some(host), Some(hid @ (HostingId.GithubCom | HostingId.CodebergOrg))) =>
        val p = parsed.parts
        if (p.length < 2) Left(ParseFailure(url, s"not a valid $hid project URL"))
        else {
          val owner = p(0)
          val repo = p(1)
          if (host == "raw.githubusercontent.com") {
            // raw URLs: /{owner}/{repo}/{ref}/{path...} (forge.py:95-97)
            val ref = if (p.length >= 3) Some(p(2)) else None
            val path = if (p.length > 3) Some(p.drop(3).mkString("/")) else None
            Right(ForgeUnit(hid, owner, repo, None, ref, path))
          } else if (p.length >= 4 && Set("tree", "blob", "raw").contains(p(2))) {
            val path = if (p.length > 4) Some(p.drop(4).mkString("/")) else None
            Right(ForgeUnit(hid, owner, repo, None, Some(p(3)), path))
          } else if (p.length > 4 && p(2) == "releases" && p(3) == "tag") {
            Right(ForgeUnit(hid, owner, repo, None, Some(p(4)), None))
          } else if (p.length > 3 && p(2) == "commit") {
            Right(ForgeUnit(hid, owner, repo, None, Some(p(3)), None))
          } else {
            val path = if (p.length > 2) Some(p.drop(2).mkString("/")) else None
            Right(ForgeUnit(hid, owner, repo, None, None, path))
          }
        }
      case (_, Some(HostingId.GitlabCom)) =>
        val p = parsed.parts
        if (p.length < 2) Left(ParseFailure(url, "not a valid gitlab.com project URL"))
        else {
          val owner = p(0)
          val repo = p(1)
          if (p.length >= 5 && p(2) == "-" && Set("tree", "blob", "raw").contains(p(3))) {
            val path = if (p.length > 5) Some(p.drop(5).mkString("/")) else None
            Right(ForgeUnit(HostingId.GitlabCom, owner, repo, None, Some(p(4)), path))
          } else if (p.length >= 5 && p(2) == "-" && Set("commit", "tags").contains(p(3))) {
            Right(ForgeUnit(HostingId.GitlabCom, owner, repo, None, Some(p(4)), None))
          } else {
            Right(ForgeUnit(HostingId.GitlabCom, owner, repo, None, None, None))
          }
        }
      case (_, Some(other)) => Left(ParseFailure(url, s"not a forge hosting id: $other"))
      case _                => Left(ParseFailure(url, "unknown platform"))
    }
  }

  /** Web-by-id parse (reference: hosting_unit_web.py:44-94). */
  private def parseWebParsed(url: String, parsed: ParsedUrl): Either[ParseFailure, WebUnit] = {
    Option(parsed.host).flatMap(HostingId.fromHost) match {
      case Some(HostingId.AppropediaOrg) =>
        // project id = URL path sans leading/trailing slash (web.py:59-66)
        val pid = parsed.parts.mkString("/")
        if (pid.isEmpty) Left(ParseFailure(url, "empty appropedia project id"))
        else Right(WebUnit(HostingId.AppropediaOrg, pid))
      case Some(HostingId.OshwaOrg) =>
        val p = parsed.parts
        if (p.length != 1) Left(ParseFailure(url, "oshwa project URLs have exactly one path part"))
        else Right(WebUnit(HostingId.OshwaOrg, p(0).replace(".html", "")))
      case Some(HostingId.ThingiverseCom) =>
        val p = parsed.parts
        if (p.isEmpty) Left(ParseFailure(url, "thingiverse URLs have at least one path part"))
        else {
          val idParts = p(0).split(":")
          if (idParts.length < 2 || idParts(0) != "thing")
            Left(ParseFailure(url, s"not a thing URL: '$url'"))
          else if (idParts(1).isEmpty || !idParts(1).forall(_.isDigit))
            // thing ids are numeric; a non-numeric id must be a parse
            // failure here, not a NumberFormatException later in toPathStr
            // (which runs inside the codegen'd CanonicalUnitPath expression)
            Left(ParseFailure(url, s"non-numeric thing id: '${idParts(1)}'"))
          else Right(WebUnit(HostingId.ThingiverseCom, idParts(1)))
        }
      case Some(other) => Left(ParseFailure(url, s"not a web-by-id hosting id: $other"))
      case None        => Left(ParseFailure(url, "unknown platform"))
    }
  }

  /** Factory semantics (reference: hosting_unit_factory.py:24-29): try the
    * forge parse first, fall back to web-by-id. The URL is URI-parsed ONCE.
    */
  def parse(url: String): Either[ParseFailure, HostingUnitId] =
    parseUrl(url) match {
      case Some(u) if u.isValid =>
        parseForgeParsed(url, u) match {
          case r @ Right(_) => r
          case Left(_)      => parseWebParsed(url, u)
        }
      case _ => Left(ParseFailure(url, "invalid URL"))
    }

  /** Canonical unit path for a URL, or None if unparseable. */
  def canonicalPath(url: String): Option[String] =
    parse(url).toOption.map(_.toPathStr)
}

/** File-URL helpers for the GitHub normalizer — ports the behavior covered by
  * the reference's only unit-test file
  * (/root/reference/tests/normalizer/github.py:25-51 over
  * /root/reference/krawl/normalizer/github.py:22-108).
  */
object GitHubFileHandler {
  val BaseUrl = "https://github.com"
  /** reference: normalizer/github.py:19 */
  val DefaultDevBranches: Seq[String] =
    Seq("master", "main", "dev", "develop", "development", "latest", "current")

  private val slugParts = 2
  private val preVersPathParts = slugParts + 1 // slug + "blob"/"raw" segment

  final case class ProjInfo(slug: String, version: Option[String], devBranch: Option[String])

  private def parts(url: String): Array[String] =
    try Option(new URI(url).getPath).getOrElse("").split("/").filter(_.nonEmpty)
    catch { case _: Exception => Array.empty }

  /** reference: normalizer/github.py:32-41 */
  def extractVersion(url: String): Option[String] = {
    val p = parts(url)
    if (p.length <= preVersPathParts) None else Some(p(preVersPathParts))
  }

  /** reference: normalizer/github.py:52-61 */
  def extractSlug(url: String): Option[String] = {
    val p = parts(url)
    if (p.length < slugParts) None else Some(p.take(slugParts).mkString("/"))
  }

  /** reference: normalizer/github.py:76-87 */
  def isFrozenUrl(info: ProjInfo, url: String): Boolean =
    extractVersion(url) match {
      case None => false
      case Some(v) =>
        info.devBranch match {
          case Some(dev) => v != dev
          case None      => !DefaultDevBranches.contains(v)
        }
    }

  /** reference: normalizer/github.py:93-98 */
  def toUrl(info: ProjInfo, relativePath: String, frozen: Boolean): String =
    s"$BaseUrl/${info.slug}/raw/${info.version.getOrElse("HEAD")}/$relativePath"

  /** reference: normalizer/github.py:100-105 */
  def extractPath(url: String): String =
    parts(url).drop(preVersPathParts).mkString("/")

  /** reference: normalizer/github.py:89-90 */
  def isHomeHostingUrl(info: ProjInfo, url: String): Boolean =
    url.startsWith(s"$BaseUrl/${info.slug}/")
}
