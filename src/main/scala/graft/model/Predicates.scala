package graft.model

/** Pure row predicates and small dimension literals shared by the frontier
  * and normalize stages. Each mirrors a filter/lookup in the reference
  * crawler; all are pure functions usable from Catalyst expressions.
  */
object Predicates {

  /** Accepted OKH manifest file names
    * (reference: krawl/fetcher/util.py:26-32). Stem and suffix are checked
    * with two anchored regexes.
    */
  val ManifestNamePattern = "^(.+\\.)?okh([_\\-:.][0-9a-zA-Z:._\\-]+)?$"
  val ManifestSuffixPattern = "^\\.(json|toml|ya?ml)$"

  private val nameRe = ManifestNamePattern.r
  private val suffixRe = ManifestSuffixPattern.r

  def isAcceptedManifestFileName(fileName: String): Boolean = {
    val dot = fileName.lastIndexOf('.')
    val (stem, suffix) =
      if (dot <= 0) (fileName, "") else (fileName.substring(0, dot), fileName.substring(dot))
    nameRe.findPrefixOf(stem).isDefined && suffixRe.findPrefixOf(suffix).isDefined
  }

  /** Known-broken Thingiverse CDN image URL, dropped during normalize
    * (reference: krawl/shared/thingiverse.py:42 +
    * krawl/normalizer/thingiverse.py:159).
    */
  val BrokenImageUrl = "https://cdn.thingiverse.com/"

  /** Source blocklist applied to flat manifest lists
    * (reference: krawl/fetcher/manifests_list_flat.py:180-191).
    */
  val BlockedUrlPrefixes: Seq[String] = Seq(
    "https://projects.openhardware.science/",
    "https://field-ready-projects.openknowhow.org/"
  )

  def isBlockedUrl(url: String): Boolean =
    BlockedUrlPrefixes.exists(url.startsWith)

  /** Thingiverse license-name → SPDX id; None ⇒ not open source
    * (reference: krawl/shared/thingiverse.py:19-41). Broadcast as a small
    * dimension table for the license join.
    */
  val ThingiverseLicenseToSpdx: Map[String, Option[String]] = Map(
    "Creative Commons - Attribution" -> Some("CC-BY-4.0"),
    "Creative Commons - Attribution - Share Alike" -> Some("CC-BY-SA-4.0"),
    "Creative Commons - Attribution - No Derivatives" -> None,
    "Creative Commons - Attribution - Non-Commercial" -> None,
    "Creative Commons - Attribution - Non-Commercial - Share Alike" -> None,
    "Creative Commons - Attribution - Non-Commercial - No Derivatives" -> None,
    "Creative Commons - Share Alike" -> Some("CC-BY-SA-4.0"),
    "Creative Commons - No Derivatives" -> None,
    "Creative Commons - Non-Commercial" -> None,
    "Creative Commons - Non Commercial - Share alike" -> None,
    "Creative Commons - Non Commercial - No Derivatives" -> None,
    "Creative Commons - Public Domain Dedication" -> Some("CC0-1.0"),
    "Public Domain" -> Some("CC0-1.0"),
    "GNU - GPL" -> Some("GPL-3.0-or-later"),
    "GNU - LGPL" -> Some("LGPL-3.0-or-later"),
    "BSD" -> Some("BSD-4-Clause"),
    "BSD License" -> Some("BSD-4-Clause"),
    "Nokia" -> None,
    "All Rights Reserved" -> None,
    "Other" -> None,
    "None" -> None
  )
}
