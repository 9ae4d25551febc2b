package ocrspark.text

import java.util.regex.{Matcher, Pattern}

/** Spanish-legal text normalization — the byte-identity core (F1).
  *
  * Re-expresses `correct_peruvian_legal_text` (reference
  * `/root/reference/app.py:434-451`) and its pattern tables
  * (`app.py:85-144`) with `java.util.regex` such that output bytes equal
  * CPython `re` output on the golden corpus
  * (`src/test/resources/golden/golden.json`, generated by
  * `tools/gen_golden.py` executing the reference's own functions).
  *
  * Python→Java fidelity notes (SURVEY.md §2.7 quirks 1-10, §7.5):
  *   - Python str-pattern `re.IGNORECASE` ⇒ `CASE_INSENSITIVE | UNICODE_CASE`;
  *     Python `\b`/`\w`/`\s`/`\d` are Unicode-aware ⇒ `UNICODE_CHARACTER_CLASS`.
  *   - `re.escape(k)` ⇒ `Pattern.quote(k)`; replacement `\1` ⇒ `$1`;
  *     literal replacements are `Matcher.quoteReplacement`-ed.
  *   - The 48 correction entries apply in dict insertion order
  *     (Python ≥3.7 semantics) — held here as an ordered `Vector`.
  *   - Python `str.strip()` strips Unicode whitespace (incl. NBSP) ⇒
  *     custom [[pyStrip]] (Java `String.strip` misses U+00A0).
  *
  * Scale note: normalization is the dominant per-row cost at 10^12-doc
  * scale. All patterns are compiled once per JVM (executor-shared), and
  * each pattern-table regex is tried only where its match can start
  * ([[Anchored]]). The 48 word corrections apply via a single
  * hand-rolled word-run scanner ([[applyCorrections]]) and the five always-on whitespace regexes via
  * single-pass kernels — each differentially pinned against its regex
  * original (TextProps properties incl. full-BMP \w and \s sweeps,
  * [[applyCorrectionsSequential]] cross-checks in GoldenSpec/TextProps)
  * and byte-identical on the CPython golden corpus. Equivalence of
  * one-pass vs sequential order holds because every replacement is a
  * single \b-delimited word that is a fixed point of the table.
  */
object Normalize {

  /** Unicode-faithful flag set mirroring CPython `re` on `str`. */
  private[text] val UniFlags =
    Pattern.CASE_INSENSITIVE | Pattern.UNICODE_CASE | Pattern.UNICODE_CHARACTER_CLASS

  // ---------------------------------------------------------------------
  // Correction dictionary — reference app.py:85-110, insertion order.
  // (wrong → canonical); identity entries canonicalize case under
  // IGNORECASE; OCR 'l'-variants listed explicitly ('l' ≢ 'I' under
  // case folding, so e.g. 'PROVlNClAL' is NOT covered — quirk 5).
  // ---------------------------------------------------------------------
  val corrections: Vector[(String, String)] = Vector(
    "FISCALÍA" -> "FISCALÍA", "FISCALIA" -> "FISCALÍA", "FlSCALÍA" -> "FISCALÍA",
    "MINISTERIO" -> "MINISTERIO", "MlNlSTERlO" -> "MINISTERIO",
    "PÚBLICO" -> "PÚBLICO", "PUBLICO" -> "PÚBLICO", "PÚBLlCO" -> "PÚBLICO",
    "INVESTIGACIÓN" -> "INVESTIGACIÓN", "INVESTIGACION" -> "INVESTIGACIÓN",
    "PROVIDENCIA" -> "PROVIDENCIA", "PROVlDENCIA" -> "PROVIDENCIA",
    "CARPETA" -> "CARPETA", "CARFETA" -> "CARPETA",
    "EXPEDIENTE" -> "EXPEDIENTE", "EXPEDlENTE" -> "EXPEDIENTE",
    "RESOLUCIÓN" -> "RESOLUCIÓN", "RESOLUCION" -> "RESOLUCIÓN",
    "DISTRITO" -> "DISTRITO", "DlSTRlTO" -> "DISTRITO",
    "AREQUIPA" -> "AREQUIPA", "AREQUlPA" -> "AREQUIPA",
    "CHIVAY" -> "CHIVAY", "CHlVAY" -> "CHIVAY",
    "PENAL" -> "PENAL", "PENAЛ" -> "PENAL",
    "CIVIL" -> "CIVIL", "ClVlL" -> "CIVIL",
    "CORPORATIVA" -> "CORPORATIVA", "CORPORATlVA" -> "CORPORATIVA",
    "DELITO" -> "DELITO", "DELlTO" -> "DELITO",
    "CONTRA" -> "CONTRA", "CÖNTRA" -> "CONTRA",
    "PATRIMONIO" -> "PATRIMONIO", "PATRlMONlO" -> "PATRIMONIO",
    "USURPACIÓN" -> "USURPACIÓN", "USURPACION" -> "USURPACIÓN",
    "APROPIACIÓN" -> "APROPIACIÓN", "APROPIACION" -> "APROPIACIÓN",
    "CÓDIGO" -> "CÓDIGO", "CODIGO" -> "CÓDIGO",
    "ARTÍCULO" -> "ARTÍCULO", "ARTICULO" -> "ARTÍCULO",
    "TÍTULO" -> "TÍTULO", "TITULO" -> "TÍTULO",
    "PROCEDIMIENTO" -> "PROCEDIMIENTO", "PROCEDlMlENTO" -> "PROCEDIMIENTO",
  )

  // ---------------------------------------------------------------------
  // Pattern-based corrections — reference app.py:112-144, list order,
  // applied with IGNORECASE|MULTILINE. Replacement `\n` → `$n`.
  // ---------------------------------------------------------------------
  val patternTable: Vector[(String, String)] = Vector(
    // Carpeta Fiscal (app.py:114-115)
    """CARPETA\s+FISCAL[:\s]*(\d{10}-\d{4}-\d{1,3}-\d{1,2})""" -> "CARPETA FISCAL: $1",
    """CARPETA\s+FlSCAL[:\s]*(\d{10}-\d{4}-\d{1,3}-\d{1,2})""" -> "CARPETA FISCAL: $1",
    // Expediente (app.py:118-119)
    """EXP(?:EDIENTE)?\.?\s*N[°º]?\s*(\d{4,5}-\d{4}-\d{1,3}-\w{2,4}-\w{2})""" -> "EXPEDIENTE N° $1",
    """EXP(?:EDlENTE)?\.?\s*N[°º]?\s*(\d{4,5}-\d{4}-\d{1,3}-\w{2,4}-\w{2})""" -> "EXPEDIENTE N° $1",
    // Resolución (app.py:122-123)
    """RESOLUCIÓN\s*N[°º]?\s*(\d+[-\s]?\d*)""" -> "RESOLUCIÓN N° $1",
    """RESOLUCION\s*N[°º]?\s*(\d+[-\s]?\d*)""" -> "RESOLUCIÓN N° $1",
    // Fiscal office (app.py:126-127)
    """FISCALÍA\s+PROVINCIAL\s+(PENAL|CIVIL|FAMILIA)""" -> "FISCALÍA PROVINCIAL $1",
    """FlSCALÍA\s+PROVlNClAL\s+(PENAL|ClVlL|FAMlLlA)""" -> "FISCALÍA PROVINCIAL $1",
    // Dates (app.py:130-131) — NOTE: the unanchored dd[-/]dd[-/]yyyy rule
    // mangles expediente ids (quirk 2); replicated deliberately.
    """(\d{1,2})[/-](\d{1,2})[/-](\d{4})""" -> "$1/$2/$3",
    """(\d{1,2})\s+de\s+(\w+)\s+del?\s+(\d{4})""" -> "$1 de $2 del $3",
    // License plates (app.py:134-135)
    """\b([A-Z]{3})[-\s]?(\d{3})\b""" -> "$1-$2",
    """\b([A-Z]{2})[-\s]?(\d{4})\b""" -> "$1-$2",
    // Article references (app.py:138-139)
    """Art\.?\s*(\d+)[°º]?""" -> "Artículo $1°",
    """Inc\.?\s*(\d+)""" -> "Inciso $1",
    // Whitespace collapse (app.py:142-143) — \s{2,} matches newlines, so
    // blank-line runs collapse to a single space (quirk 1).
    """\s{2,}""" -> " ",
    """\n{3,}""" -> "\n\n",
  )

  // --- compiled artifacts (one-time, executor-shared) -------------------

  /** Sequential per-entry patterns — reference-faithful slow path, kept
    * for differential testing against the one-pass fast path. */
  private[text] lazy val sequentialCorrections: Vector[(Pattern, String)] =
    corrections.map { case (k, v) =>
      Pattern.compile("\\b" + Pattern.quote(k) + "\\b", UniFlags) ->
        Matcher.quoteReplacement(v)
    }

  /** Where each regex rule's match can start (rules 15-16 are hand
    * kernels): at its case-folded leading literal; at a digit for the
    * dates; 1-4 chars before a digit run for the plates (two or three
    * letters, then an optional separator). */
  private val patternStarts: Array[Anchored.Anchor] = {
    import Anchored._
    Array(
      Lit("carpeta"), Lit("carpeta"), // 1-2
      Lit("exp"), Lit("exp"), // 3-4
      Lit("resolución"), Lit("resolucion"), // 5-6
      Lit("fiscalía"), Lit("flscalía"), // 7-8
      Digit, Digit, // 9-10 dates
      BeforeDigitRun(4), BeforeDigitRun(3), // 11-12 plates
      Lit("art"), Lit("inc"), // 13-14
    )
  }
  require(patternStarts.length == patternTable.length - 2)

  private[text] val anchoredPatterns: Array[(Anchored, String)] =
    patternStarts.zip(patternTable).map { case (a, (p, r)) =>
      new Anchored(p, UniFlags | Pattern.MULTILINE, a) -> r
    }

  // Cleanup-tail regexes (app.py:447-449); \s Unicode-aware like Python.
  // Retained as the differential reference for the hand kernels below.
  private[text] val reCrLf = Pattern.compile("[\\r\\n]+")
  private[text] val reSpTab = Pattern.compile("[ \\t]+")
  private[text] val reTripleNl =
    Pattern.compile("\\n\\s*\\n\\s*\\n+", Pattern.UNICODE_CHARACTER_CLASS)

  /** Python `str.isspace()` superset check: Unicode Zs/Zl/Zp plus the
    * ASCII/C1 controls \t\n\v\f\r \x1c-\x1f \x85. */
  @inline def isPySpace(c: Char): Boolean =
    Character.isWhitespace(c) || Character.isSpaceChar(c) || c == '\u0085'

  /** Python-semantics `str.strip()` (strips NBSP etc., unlike Java). */
  def pyStrip(s: String): String = {
    var i = 0
    var j = s.length
    while (i < j && isPySpace(s.charAt(i))) i += 1
    while (j > i && isPySpace(s.charAt(j - 1))) j -= 1
    if (i == 0 && j == s.length) s else s.substring(i, j)
  }

  // --- hand-rolled correction scanner (the production fast path) --------
  //
  // `\b(?:K1|...|K48)\b` over all-word-char keys matches exactly the word
  // runs whose char-wise case fold equals a key's fold (the \b pair pins
  // both run edges; Java CI matching is simple per-char folding, so
  // lengths are preserved and a run can equal at most one key). That
  // reduces the 48-way alternation scan (~100ns/char) to one code-point
  // pass + a hash probe per candidate word. Equivalence with the 48
  // sequential `\bK\b` passes of the reference is pinned by TextProps'
  // differential properties (word/non-word, 'İ', supplementary letters,
  // NBSP, Cyrillic) and a full \w-vs-isWordCp sweep of the BMP +
  // astral sample.

  /** Java regex `\w` under UNICODE_CHARACTER_CLASS:
    * [\p{Alpha}\p{gc=Mn}\p{gc=Me}\p{gc=Mc}\p{Digit}\p{gc=Pc}\p{IsJoin_Control}]. */
  @inline private[text] def isWordCp(cp: Int): Boolean =
    Character.isAlphabetic(cp) || Character.isDigit(cp) ||
      (Character.getType(cp) match {
        case Character.NON_SPACING_MARK | Character.ENCLOSING_MARK |
             Character.COMBINING_SPACING_MARK |
             Character.CONNECTOR_PUNCTUATION => true
        case _ => false
      }) || cp == 0x200C || cp == 0x200D // ZWNJ/ZWJ (Join_Control)

  /** Java regex CASE_INSENSITIVE|UNICODE_CASE char equivalence class
    * representative: toLowerCase(toUpperCase(c)) (simple fold, char-wise,
    * length-preserving — NOT String.toLowerCase, which expands 'İ'). */
  @inline private[text] def foldChar(c: Char): Char =
    Character.toLowerCase(Character.toUpperCase(c))

  /** [[foldChar]] over every char; indices are kept. */
  private[text] def foldString(s: String): String = {
    val n = s.length
    val a = new Array[Char](n)
    var i = 0
    while (i < n) {
      val c = s.charAt(i)
      a(i) =
        if (c >= 0x80) foldChar(c)
        else if (c >= 'A' && c <= 'Z') (c + 32).toChar
        else c
      i += 1
    }
    new String(a)
  }

  /** char-wise fold of keys → RAW replacement (no Matcher quoting). */
  private val foldedCorrections: java.util.HashMap[String, String] = {
    val m = new java.util.HashMap[String, String]()
    corrections.foreach { case (k, v) => m.put(foldString(k), v) }
    m
  }
  private val minKeyLen = corrections.map(_._1.length).min
  private val maxKeyLen = corrections.map(_._1.length).max

  // --- hand-rolled whitespace kernels ------------------------------------
  //
  // The five always-applicable whitespace regexes (`\s{2,}`, `\n{3,}`,
  // `[\r\n]+`, `[ \t]+`, `\n\s*\n\s*\n+`) are simple run rewrites; each
  // is re-expressed as one lazy-allocating char pass producing the
  // byte-identical replaceAll output (differential ScalaCheck properties
  // in TextProps + the golden corpus pin equivalence). At 10^12 docs
  // these five scans are a material slice of total CPU.

  /** Java regex `\s` under UNICODE_CHARACTER_CLASS = \p{IsWhite_Space}
    * (NOT Character.isWhitespace: includes NBSP/U+2007/U+202F, excludes
    * the 0x1C-0x1F file separators). Verified char-by-char against the
    * regex in TextProps. */
  @inline private[text] def isWsCh(c: Char): Boolean =
    if (c < 0x1680)
      (c >= 0x09 && c <= 0x0D) || c == 0x20 || c == 0x85 || c == 0xA0
    else
      c == 0x1680 || (c >= 0x2000 && c <= 0x200A) ||
        c == 0x2028 || c == 0x2029 || c == 0x202F || c == 0x205F ||
        c == 0x3000

  /** `\s{2,}` → " " (pattern-table rule 15). */
  private[text] def collapseWsRuns(text: String): String = {
    val n = text.length
    var sb: java.lang.StringBuilder = null
    var copied = 0
    var i = 0
    while (i < n) {
      if (isWsCh(text.charAt(i))) {
        var j = i + 1
        while (j < n && isWsCh(text.charAt(j))) j += 1
        if (j - i >= 2) {
          if (sb == null) sb = new java.lang.StringBuilder(n)
          sb.append(text, copied, i).append(' ')
          copied = j
        }
        i = j
      } else i += 1
    }
    if (sb == null) text else { sb.append(text, copied, n); sb.toString }
  }

  /** `\s+` → " " (field values, analyzer page text). */
  private[ocrspark] def squashWs(text: String): String = {
    val n = text.length
    var sb: java.lang.StringBuilder = null
    var copied = 0
    var i = 0
    while (i < n) {
      if (isWsCh(text.charAt(i))) {
        var j = i + 1
        while (j < n && isWsCh(text.charAt(j))) j += 1
        if (j - i >= 2 || text.charAt(i) != ' ') {
          if (sb == null) sb = new java.lang.StringBuilder(n)
          sb.append(text, copied, i).append(' ')
          copied = j
        }
        i = j
      } else i += 1
    }
    if (sb == null) text else { sb.append(text, copied, n); sb.toString }
  }

  /** `\n{3,}` → "\n\n" (pattern-table rule 16). */
  private[text] def collapseNl3(text: String): String = {
    var i = text.indexOf("\n\n\n")
    if (i < 0) return text
    val n = text.length
    val sb = new java.lang.StringBuilder(n)
    var copied = 0
    while (i >= 0) {
      var j = i + 3
      while (j < n && text.charAt(j) == '\n') j += 1
      sb.append(text, copied, i).append("\n\n")
      copied = j
      i = text.indexOf("\n\n\n", j)
    }
    sb.append(text, copied, n)
    sb.toString
  }

  /** `[\r\n]+` → "\n" (cleanup tail 1). */
  private[text] def collapseCrLf(text: String): String = {
    val n = text.length
    var sb: java.lang.StringBuilder = null
    var copied = 0
    var i = 0
    while (i < n) {
      val c = text.charAt(i)
      if (c == '\r' || c == '\n') {
        var j = i + 1
        while (j < n && { val d = text.charAt(j); d == '\r' || d == '\n' }) j += 1
        if (j - i >= 2 || c == '\r') {
          if (sb == null) sb = new java.lang.StringBuilder(n)
          sb.append(text, copied, i).append('\n')
          copied = j
        }
        i = j
      } else i += 1
    }
    if (sb == null) text else { sb.append(text, copied, n); sb.toString }
  }

  /** `[ \t]+` → " " (cleanup tail 2). */
  private[text] def collapseSpTab(text: String): String = {
    val n = text.length
    var sb: java.lang.StringBuilder = null
    var copied = 0
    var i = 0
    while (i < n) {
      val c = text.charAt(i)
      if (c == ' ' || c == '\t') {
        var j = i + 1
        while (j < n && { val d = text.charAt(j); d == ' ' || d == '\t' }) j += 1
        if (j - i >= 2 || c == '\t') {
          if (sb == null) sb = new java.lang.StringBuilder(n)
          sb.append(text, copied, i).append(' ')
          copied = j
        }
        i = j
      } else i += 1
    }
    if (sb == null) text else { sb.append(text, copied, n); sb.toString }
  }

  /** `\n\s*\n\s*\n+` → "\n\n" (cleanup tail 3). The greedy match runs
    * from the first to the LAST '\n' of any maximal whitespace run
    * containing ≥3 newlines (\s subsumes \n, so a match never escapes
    * its whitespace run; trailing non-\n whitespace is not consumed). */
  private[text] def collapseTripleNl(text: String): String = {
    val n = text.length
    var sb: java.lang.StringBuilder = null
    var copied = 0
    var i = 0
    while (i < n) {
      if (isWsCh(text.charAt(i))) {
        var j = i
        var firstNl = -1
        var lastNl = -1
        var nlCount = 0
        while (j < n && isWsCh(text.charAt(j))) {
          if (text.charAt(j) == '\n') {
            if (firstNl < 0) firstNl = j
            lastNl = j
            nlCount += 1
          }
          j += 1
        }
        if (nlCount >= 3) {
          if (sb == null) sb = new java.lang.StringBuilder(n)
          sb.append(text, copied, firstNl).append("\n\n")
          copied = lastNl + 1
        }
        i = j
      } else i += 1
    }
    if (sb == null) text else { sb.append(text, copied, n); sb.toString }
  }

  /** ASCII \w table + key-first-letter prefilter (folded; all 48 keys
    * start with an ASCII letter). */
  private val asciiWord: Array[Boolean] = {
    val a = new Array[Boolean](128)
    var c = '0'; while (c <= '9') { a(c) = true; c = (c + 1).toChar }
    c = 'A'; while (c <= 'Z') { a(c) = true; c = (c + 1).toChar }
    c = 'a'; while (c <= 'z') { a(c) = true; c = (c + 1).toChar }
    a('_') = true
    a
  }
  private val keyFirstFold: Array[Boolean] = {
    val a = new Array[Boolean](128)
    corrections.foreach { case (k, _) =>
      val f = foldChar(k.charAt(0))
      if (f < 128) a(f) = true
    }
    a
  }

  /** Is the char at `i` a word char? ASCII via table; surrogate pairs by
    * code point (astral letters ARE \w in regex). */
  @inline private def isWordAt(text: String, i: Int): Boolean = {
    val c = text.charAt(i)
    if (c < 128) asciiWord(c)
    else if (Character.isHighSurrogate(c) && i + 1 < text.length)
      isWordCp(text.codePointAt(i))
    else isWordCp(c)
  }

  @inline private def wordCharWidth(text: String, i: Int): Int = {
    val c = text.charAt(i)
    if (Character.isHighSurrogate(c) && i + 1 < text.length &&
        Character.isLowSurrogate(text.charAt(i + 1))) 2 else 1
  }

  /** One-scan dict correction (see block comment above). */
  private[text] def applyCorrections(text: String): String = {
    val n = text.length
    var i = 0
    var sb: java.lang.StringBuilder = null // lazy: most rows unchanged
    var copied = 0
    while (i < n) {
      if (isWordAt(text, i)) {
        val start = i
        var j = i
        while (j < n && isWordAt(text, j)) j += wordCharWidth(text, j)
        val len = j - start
        if (len >= minKeyLen && len <= maxKeyLen) {
          val f0 = foldChar(text.charAt(start))
          if (f0 < 128 && keyFirstFold(f0)) {
            val folded = foldString(text.substring(start, j))
            val rep = foldedCorrections.get(folded)
            if (rep != null) {
              if (sb == null) sb = new java.lang.StringBuilder(n + 16)
              sb.append(text, copied, start).append(rep)
              copied = j
            }
          }
        }
        i = j
      } else i += wordCharWidth(text, i)
    }
    if (sb == null) text
    else { sb.append(text, copied, n); sb.toString }
  }

  /** Literal 48-pass translation of app.py:439-440 (test cross-check). */
  private[text] def applyCorrectionsSequential(text: String): String = {
    var t = text
    sequentialCorrections.foreach { case (p, r) =>
      t = p.matcher(t).replaceAll(r)
    }
    t
  }

  /** Full reference chain: dict → pattern list → cleanup → strip
    * (app.py:434-451). Byte-identical to CPython on the golden corpus. */
  def normalizeLegal(text: String): String = {
    var t = applyCorrections(text)
    var folded = foldString(t)
    var i = 0
    while (i < anchoredPatterns.length) {
      val (p, r) = anchoredPatterns(i)
      val u = p.replaceAll(t, folded, r)
      if (u ne t) { t = u; folded = foldString(t) }
      i += 1
    }
    t = collapseWsRuns(t) // \s{2,} → " "
    t = collapseNl3(t) // \n{3,} → "\n\n"
    cleanupTail(t)
  }

  /** Generic cleanup tail only (app.py:447-451) — line-break/space
    * normalization + strip; the defined behavior for non-legal langs.
    * Hand kernels, byte-identical to the regex chain
    * `[\r\n]+`→"\n", `[ \t]+`→" ", `\n\s*\n\s*\n+`→"\n\n" (TextProps). */
  def cleanupTail(text: String): String = {
    var t = collapseCrLf(text)
    t = collapseSpTab(t)
    t = collapseTripleNl(t)
    pyStrip(t)
  }

  /** Language-aware entry point (SURVEY.md §2.9): the reference's OCR
    * languages ('spa','eng','spa+eng' — and 'es'/'en' ISO aliases from
    * the lake schema) get the full legal chain, mirroring the reference
    * applying corrections unconditionally on its supported langs
    * (app.py:494,630); any other lang gets only the generic cleanup
    * tail, so every lang has defined behavior. */
  def normalize(text: String, lang: String): String = {
    if (text == null) return null
    lang match {
      case "spa" | "eng" | "spa+eng" | "es" | "en" | null => normalizeLegal(text)
      case _ => cleanupTail(text)
    }
  }
}
