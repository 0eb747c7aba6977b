package graft.functions

import java.nio.charset.{Charset, CodingErrorAction}
import org.apache.spark.sql.functions.udf

/** Caption normalization — the reference's strip_html
  * (normalizer/__init__.py:18-37, an HTMLParser that keeps only data and
  * converts character references) and encoding fix (util.py:71-72, ftfy)
  * re-expressed as deterministic pure Scala. Fixture-locked: goldens in
  * NormalizeSpec pin the behavior on the FIXTURES.md F1 caption shapes.
  */
object TextNormalize {

  private val entities = Map(
    "amp" -> "&", "lt" -> "<", "gt" -> ">", "quot" -> "\"",
    "apos" -> "'", "nbsp" -> " ", "mdash" -> "—", "ndash" -> "–")

  /** Drop tags, keep text, convert character references — the
    * HTMLParser(convert_charrefs=True) subset the reference relies on.
    */
  def stripHtml(html: String): String = {
    if (html == null) return null
    val sb = new StringBuilder(html.length)
    var i = 0
    while (i < html.length) {
      html.charAt(i) match {
        // a '<' opens a tag only when followed by a letter, '/', '!' or '?'
        // (HTMLParser emits a bare '<' as data otherwise)
        case '<' if i + 1 < html.length &&
            (html.charAt(i + 1).isLetter || "/!?".contains(html.charAt(i + 1))) =>
          val end = html.indexOf('>', i)
          i = if (end < 0) html.length else end + 1
        case '&' =>
          val semi = html.indexOf(';', i)
          if (semi > i && semi - i <= 32) {
            val name = html.substring(i + 1, semi)
            if (name.startsWith("#")) {
              // numeric character reference. Malformed digits ('&#foo;',
              // '&#x;') are DATA, not errors (HTMLParser emits them
              // literally); out-of-range/surrogate code points map to U+FFFD
              // (html._replace_charref); supplementary-plane code points
              // need Character.toChars, not the truncating .toChar.
              val hex = name.length > 1 && (name.charAt(1) == 'x' || name.charAt(1) == 'X')
              val digits = if (hex) name.substring(2) else name.substring(1)
              val radix = if (hex) 16 else 10
              if (digits.isEmpty || !digits.forall(c => Character.digit(c, radix) >= 0)) {
                sb.append('&'); i += 1
              } else {
                val cp =
                  try java.lang.Long.parseLong(digits, radix)
                  catch { case _: NumberFormatException => Long.MaxValue }
                if (cp == 0L || cp > 0x10FFFFL || (cp >= 0xD800L && cp <= 0xDFFFL))
                  sb.append('�')
                else if (cp >= 0x80L && cp <= 0x9FL)
                  // C1 range maps through windows-1252 (html._invalid_charrefs:
                  // '&#146;' is the cp1252 right single quote, not a control char)
                  sb.append(new String(Array(cp.toByte), cp1252))
                else sb.appendAll(Character.toChars(cp.toInt))
                i = semi + 1
              }
            } else entities.get(name) match {
              case Some(rep) => sb.append(rep); i = semi + 1
              case None      => sb.append('&'); i += 1
            }
          } else { sb.append('&'); i += 1 }
        case c => sb.append(c); i += 1
      }
    }
    sb.toString
  }

  private val cp1252 = Charset.forName("windows-1252")
  private val utf8 = Charset.forName("UTF-8")

  /** Mojibake repair for the classic UTF-8-bytes-read-as-cp1252 case
    * (e.g. "â€”" → "—"): if the string re-encodes to cp1252 and those bytes
    * decode as strictly-valid UTF-8 with fewer characters, take the repaired
    * form. Deterministic, no heuristics beyond the round-trip check.
    */
  def fixEncoding(s: String): String = {
    if (s == null) return null
    // cheap pre-check: mojibake always contains a high-latin1 lead byte char
    if (!s.exists(c => c >= 0xC2 && c <= 0xF4)) return s
    val enc = cp1252.newEncoder()
      .onMalformedInput(CodingErrorAction.REPORT)
      .onUnmappableCharacter(CodingErrorAction.REPORT)
    try {
      val bytes = enc.encode(java.nio.CharBuffer.wrap(s))
      val dec = utf8.newDecoder()
        .onMalformedInput(CodingErrorAction.REPORT)
        .onUnmappableCharacter(CodingErrorAction.REPORT)
      val repaired = dec.decode(bytes).toString
      if (repaired.length < s.length) repaired else s
    } catch {
      case _: java.nio.charset.CharacterCodingException => s
    }
  }

  /** Full caption normalization pipeline: encoding fix then HTML strip —
    * the order the reference applies (fetch → normalize listeners).
    */
  def normalizeCaption(s: String): String =
    if (s == null) null else stripHtml(fixEncoding(s))

  val normalizeCaptionUdf = udf(normalizeCaption _)
}
