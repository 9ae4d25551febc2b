package ocrspark.text

import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.forAll

import ocrspark.model.PageResult
import ocrspark.parse.{PdfExtract, PdfWriter}

/** Property-based invariants (SURVEY.md §5.2 #4). */
object TextProps extends Properties("ocrspark.text") {

  // generator: legal-ish vocabulary + noise + unicode + whitespace
  private val word = Gen.oneOf(
    "fiscalia", "PUBLICO", "ministerio", "carpeta", "expediente",
    "resolucion", "PENAL", "civil", "contra", "patrimonio", "usurpacion",
    "articulo", "titulo", "hola", "mundo", "texto", "FISCALÍA", "PÚBLICO",
    "investigación", "ñandú", "año", "Лингв", "中文", "delito", "juez")
  private val ws = Gen.oneOf(" ", "  ", "\t", "\n", "\n\n", "\r\n", "   \n ")
  private val token = Gen.frequency(5 -> word, 2 -> ws,
    1 -> Gen.oneOf(".", ",", ":", "-", "°", "|", "#"))
  private val digitFreeText: Gen[String] =
    Gen.listOfN(40, token).map(_.mkString(""))
  private val anyText: Gen[String] = Gen.frequency(
    4 -> digitFreeText,
    1 -> Gen.listOfN(30, Gen.frequency(3 -> token,
      1 -> Gen.oneOf("12", "2024", "01234-2024-0-0401-JR-PE", "03-04-2024",
        "ABC 123"))).map(_.mkString(" ")))

  property("normalize emits no CR, no double spaces, no edge whitespace") =
    forAll(anyText) { t =>
      val n = Normalize.normalizeLegal(t)
      !n.contains("\r") && !n.contains("  ") && !n.contains(" \n") &&
        n == Normalize.pyStrip(n)
    }

  property("normalize is idempotent on digit-free text (date-mangler excluded)") =
    forAll(digitFreeText) { t =>
      val once = Normalize.normalizeLegal(t)
      Normalize.normalizeLegal(once) == once
    }

  property("one-pass dict correction equals sequential reference order") =
    forAll(anyText) { t =>
      Normalize.applyCorrections(t) == Normalize.applyCorrectionsSequential(t)
    }

  // adversarial generator for the hand-rolled correction scanner: exact
  // keys, case variants, fold corner cases ('İ' folds to I char-wise;
  // 'ı' folds to... see Normalize.foldChar), embedded/prefixed word
  // chars (no \b), supplementary letters (𝐀 is \w in regex), connector
  // punctuation, ZWJ, NBSP edges, Cyrillic Л (in key PENAЛ).
  private val foldy = Gen.oneOf(
    "FISCALIA", "fiscalia", "FlSCALÍA", "fİscalia", "Fıscalia",
    "XFISCALIA", "FISCALIAX", "FISCALIA_", "_FISCALIA", "FISCALIA9",
    "𝐀FISCALIA", "FISCALIA‍x", "penaЛ", "PENAл", "PENAL",
    "min­isterio", "MINISTERIO", "carfeta", "CARFETA",
    "exp‌ediente", "ARTICULO", "articulo.", "(articulo)",
    " PUBLICO ", "中文PUBLICO", "püblico", "PUBLİCO")
  private val foldyText: Gen[String] =
    Gen.listOfN(25, Gen.frequency(3 -> foldy, 2 -> ws,
      1 -> Gen.oneOf(".", "-", "°", "𝒳", "‍", "́")))
      .map(_.mkString(""))

  property("scanner equals sequential correction on adversarial folds") =
    forAll(foldyText) { t =>
      Normalize.applyCorrections(t) == Normalize.applyCorrectionsSequential(t)
    }

  // whitespace-torture generator for the hand ws kernels: every Unicode
  // White_Space char, runs, CRLF mixes, 0x1C-0x1F (NOT \s in Java UCC),
  // NBSP, interleaved words
  private val wsChar = Gen.oneOf(
    "\t", "\n", "\u000B", "\u000C", "\r", " ", "\u0085", "\u00A0",
    "\u1680", "\u2000", "\u2003", "\u2008", "\u200A", "\u2028",
    "\u2029", "\u202F", "\u205F", "\u3000", "\u001C", "\u001F")
  private val wsText: Gen[String] =
    Gen.listOfN(30, Gen.frequency(4 -> wsChar, 2 -> Gen.oneOf("a", "b", "ñ"),
      1 -> Gen.oneOf("\n\n", "\n\n\n", "\r\n\r\n", "\n \n \n", "\n \n\t\n")))
      .map(_.mkString(""))

  property("collapseWsRuns equals regex \\s{2,} replaceAll") =
    forAll(wsText) { t =>
      val ref = java.util.regex.Pattern.compile("\\s{2,}",
        Normalize.UniFlags | java.util.regex.Pattern.MULTILINE)
        .matcher(t).replaceAll(" ")
      Normalize.collapseWsRuns(t) == ref
    }

  property("collapseNl3 equals regex \\n{3,} replaceAll") =
    forAll(wsText) { t =>
      val ref = java.util.regex.Pattern.compile("\\n{3,}",
        Normalize.UniFlags | java.util.regex.Pattern.MULTILINE)
        .matcher(t).replaceAll("\n\n")
      Normalize.collapseNl3(t) == ref
    }

  property("collapseCrLf/SpTab/TripleNl equal the cleanup-tail regexes") =
    forAll(wsText) { t =>
      Normalize.collapseCrLf(t) == Normalize.reCrLf.matcher(t).replaceAll("\n") &&
      Normalize.collapseSpTab(t) == Normalize.reSpTab.matcher(t).replaceAll(" ") &&
      Normalize.collapseTripleNl(t) == Normalize.reTripleNl.matcher(t).replaceAll("\n\n")
    }

  property("isWsCh equals java regex \\s under UNICODE_CHARACTER_CLASS") = {
    val s = java.util.regex.Pattern.compile("\\s",
      java.util.regex.Pattern.UNICODE_CHARACTER_CLASS)
    Prop(((0 to 0xD7FF) ++ (0xE000 to 0xFFFF)).forall { cp =>
      s.matcher(String.valueOf(cp.toChar)).matches() ==
        Normalize.isWsCh(cp.toChar)
    })
  }

  property("isWordCp equals java regex \\w under UNICODE_CHARACTER_CLASS") = {
    val w = java.util.regex.Pattern.compile("\\w",
      java.util.regex.Pattern.UNICODE_CHARACTER_CLASS)
    // full BMP sweep minus surrogates, plus an astral sample
    val cps = (0 to 0xD7FF) ++ (0xE000 to 0xFFFF) ++
      Seq(0x10000, 0x1D400, 0x1D7CE, 0x1F600, 0x2070E)
    Prop(cps.forall { cp =>
      val s = new String(Character.toChars(cp))
      w.matcher(s).matches() == Normalize.isWordCp(cp)
    })
  }

  property("pyStrip is idempotent and strips all edge whitespace") =
    forAll(anyText) { t =>
      val s = Normalize.pyStrip(t)
      Normalize.pyStrip(s) == s &&
        (s.isEmpty || (!Normalize.isPySpace(s.head) && !Normalize.isPySpace(s.last)))
    }

  property("field values are non-empty, trimmed, from the known key set") =
    forAll(anyText) { t =>
      val knownKeys = Fields.fieldPatterns.map(_._1).toSet + "fecha_normalizada"
      Fields.extract(t).forall { case (k, v) =>
        knownKeys.contains(k) && v.nonEmpty && v == Normalize.pyStrip(v)
      }
    }

  property("OCR-path assembly renders exactly one separator per page") =
    forAll(Gen.chooseNum(1, 12), Gen.listOf(Gen.chooseNum(1, 12))) { (total, present) =>
      val results = present.distinct.filter(_ <= total)
        .map(p => PageResult(p, s"pagina$p", 80.0, null))
      val text = PageAssembly.assembleOcrPath(results, total)
      (1 to total).forall(p => text.contains(s"--- Página $p de $total ---")) &&
        "--- Página ".r.findAllIn(text).length == total
    }

  private val lineGen: Gen[String] =
    Gen.listOfN(6, Gen.frequency(8 -> Gen.alphaNumChar,
      2 -> Gen.oneOf('á', 'ñ', 'Í', '(', ')', '\\', ' ', 'Л', '中')))
      .map(_.mkString)

  property("PDF writer → parser round-trips arbitrary page text") =
    forAll(Gen.listOfN(2, Gen.listOfN(3, lineGen)), Gen.oneOf(true, false)) {
      (pages, compress) =>
        val specs = pages.map(lines => PdfWriter.PageSpec(Vector(lines.toVector)))
        val parsed = PdfExtract.parse(PdfWriter.build(specs, compress))
        parsed.isRight && {
          val doc = parsed.toOption.get
          doc.pageCount == pages.length &&
            doc.pages.zip(pages).forall { case (got, want) =>
              got.error == null && got.text == want.mkString("\n")
            }
        }
    }

  property("bucketing is a total function into [0, n)") =
    forAll(Gen.alphaNumStr, Gen.chooseNum(1, 256)) { (url, n) =>
      // mirror of ExtractJob.bucketCol semantics at the Scala level
      val h = org.apache.spark.unsafe.hash.Murmur3_x86_32
        .hashUnsafeBytes2(url.getBytes("UTF-8"),
          org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET,
          url.getBytes("UTF-8").length, 42)
      val b = math.floorMod(h, n)
      b >= 0 && b < n
    }
}
