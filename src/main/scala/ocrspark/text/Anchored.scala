package ocrspark.text

import java.util.regex.{Matcher, Pattern}

/** A compiled pattern plus the text positions where its match can start.
  *
  * `Matcher.find` tries a match at every char position. A pattern that
  * begins with a literal or a digit can only match where that literal or
  * digit occurs, so [[find]] and [[replaceAll]] probe only the positions
  * the pattern's [[Anchored.Anchor]] yields, in increasing order. Each
  * probe is `region(i, n)` + `lookingAt()` with transparent, non-anchoring
  * bounds, so `\b` and `$` still see the whole text. The first probe that
  * matches is the match `Matcher.find` returns: find tries the same
  * positions in the same order, and the anchor only skips positions where
  * no match can start. TextProps pins this for every pattern-table entry.
  *
  * Callers pass the text together with its [[Normalize.foldString]] copy
  * (same indices), which the literal anchors search.
  */
final class Anchored(source: String, flags: Int, anchor: Anchored.Anchor) {

  private val pattern: Pattern = Pattern.compile(source, flags)

  /** The leftmost match starting at or after `from`, the same match as
    * `pattern.matcher(text).find(from)`, or null when there is none. */
  def find(text: String, folded: String, from: Int): Matcher =
    search(null, text, folded, from)

  /** `pattern.matcher(text).replaceAll(replacement)`, returning `text`
    * itself when nothing matches. The replacement may refer to groups
    * only as `$n` with a single digit n, as the pattern tables do; the
    * expansion is done here because `region` resets the matcher's append
    * position. */
  def replaceAll(text: String, folded: String, replacement: String): String = {
    var m = search(null, text, folded, 0)
    if (m == null) return text
    val sb = new java.lang.StringBuilder(text.length + 16)
    var copied = 0
    while (m != null) {
      sb.append(text, copied, m.start())
      appendExpanded(sb, m, replacement)
      copied = m.end()
      m = search(m, text, folded, if (m.end() == m.start()) m.end() + 1 else m.end())
    }
    sb.append(text, copied, text.length).toString
  }

  private def search(reuse: Matcher, text: String, folded: String,
                     from: Int): Matcher = {
    var m = reuse
    var i = anchor.next(text, folded, from)
    while (i >= 0) {
      if (m == null) // created on the first probe only
        m = pattern.matcher(text).useTransparentBounds(true).useAnchoringBounds(false)
      m.region(i, text.length)
      if (m.lookingAt()) return m
      i = anchor.next(text, folded, i + 1)
    }
    null
  }

  private def appendExpanded(sb: java.lang.StringBuilder, m: Matcher,
                             replacement: String): Unit = {
    var k = 0
    while (k < replacement.length) {
      val c = replacement.charAt(k)
      if (c == '$') {
        val g = m.group(replacement.charAt(k + 1) - '0')
        if (g != null) sb.append(g)
        k += 2
      } else {
        require(c != '\\', s"escapes are not supported in '$replacement'")
        sb.append(c)
        k += 1
      }
    }
  }
}

object Anchored {

  /** Where a pattern's match can start: `next(text, folded, from)` is the
    * first such position at or after `from`, or -1. */
  sealed abstract class Anchor {
    def next(text: String, folded: String, from: Int): Int
  }

  /** At an occurrence of the pattern's leading literal, given already
    * case-folded. Under `CASE_INSENSITIVE|UNICODE_CASE` a text char
    * matches a literal char exactly when their [[Normalize.foldChar]]s
    * are equal (the fold must be idempotent on the literal, which the
    * `require` checks), so the folded text holds every start. */
  final case class Lit(folded: String) extends Anchor {
    require(folded.nonEmpty && Normalize.foldString(folded) == folded,
      s"'$folded' is not a case-folded literal")
    def next(text: String, foldedText: String, from: Int): Int =
      foldedText.indexOf(folded, from)
  }

  /** At a `\d` code point (Unicode digits, astral ones included). */
  case object Digit extends Anchor {
    def next(text: String, folded: String, from: Int): Int = digitAt(text, from)
  }

  /** 1..k chars before the first digit of a digit run, for a pattern
    * whose match starts with 1 to k non-digit chars and then a digit
    * (that digit starts a run, since the char before it is no digit). */
  final case class BeforeDigitRun(k: Int) extends Anchor {
    def next(text: String, folded: String, from: Int): Int = {
      var p = digitAt(text, from + 1)
      while (p > 0 && Character.isDigit(Character.codePointBefore(text, p)))
        p = digitAt(text, p + 1)
      if (p < 0) -1 else math.max(from, p - k)
    }
  }

  /** First index at or after `from` where a `\d` code point starts, or -1. */
  private def digitAt(text: String, from: Int): Int = {
    val n = text.length
    var i = from
    while (i < n) {
      val c = text.charAt(i)
      if (c < 0x80) {
        if (c >= '0' && c <= '9') return i
        i += 1
      } else {
        val cp = text.codePointAt(i)
        if (Character.isDigit(cp)) return i
        i += Character.charCount(cp)
      }
    }
    -1
  }
}
