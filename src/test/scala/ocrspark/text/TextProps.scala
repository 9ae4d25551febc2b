package ocrspark.text

import java.util.regex.{Matcher, Pattern}

import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.{forAll, propBoolean}
import org.scalacheck.rng.Seed
import scala.collection.immutable.ListMap

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

  // --- anchored pattern search vs plain java.util.regex -----------------
  //
  // Adversarial generator for Anchored and the chains built on it: the
  // tables' literals with exotic case folds (ſ folds to s, İ and ı to i,
  // the Kelvin sign to k), astral and full-width digits, astral letters,
  // NBSP, plate-like digit runs and `|#` value tails.
  private val legalBit = Gen.oneOf(
    "CARPETA FISCAL: ", "carpeta  fiscal", "CARPETA FlSCAL:", "CARPETA FIſCAL ",
    "Carpeta Fİscal ", "0123456789-2024-12-3", "1234567890-2024-1-12",
    "EXP. N° ", "EXPEDIENTE Nº ", "exp", "ExPEDlENTE N°", "eXp.n",
    "01234-2024-0-0401-JR-PE", "12345-2024-123-ABCD-XY",
    "RESOLUCIÓN N° ", "resolucion nº", "RESOLUCİON ", "Reſolución", "12-3",
    "FISCALÍA PROVINCIAL PENAL", "FlSCALÍA PROVlNClAL ClVlL",
    "fiſcalía provincial familia", "FISCALIA SUPERIOR ", "SUPREMA",
    "DISTRITO", "DISTRITO FISCAL DE AREQUIPA", "DlSTRlTO FlSCAL DE ",
    "DELITO: ", "DELlTO:", "deliTo ", "CONTRA EL PATRIMONIO", "USURPACIÓN",
    "usurpación", "APROPIACIÓN ILÍCITA", "IMPUTADO: ", "lMPUTADO:",
    "ımputado ", "INVESTIGADO:", "AGRAVIADO: ", "AGRAVlADO", "FECHA: ",
    "fecha:", "12 de marzo del 2024", "1 de enero de 2023", "03/04/2024",
    "3-4-2024", "JUZGADO PENAL ", "JUZGADO ", " DE ", "JUEZ: ", "JUES:",
    "MAGISTRADO: ", "FISCAL: ", "FİSCAL: ", "FIſCAL:", "FlSCAL:", "Art. 5°",
    "ART 12º", "art", "Inc. 3", "INC 4", "inc𝟏𝟐", "JUAN PEREZ",
    "MARÍA ÑAÑEZ")
  private val digitBit = Gen.oneOf(
    "ABC1234", "ABC-123", "AB 1234", "ABC 123", "XY-9876", "abc123",
    "ſſS 123", "KKK-123", "İı 1234", "ABCD1234", "1", "12", "123",
    "1234", "2024", "𝟏𝟐", "𝟏𝟐𝟑", "𝟐𝟎𝟐𝟒", "１２", "１２３４", "٣")
  private val oddBit = Gen.oneOf(
    "ſ", "İ", "ı", "K", "𝐀", "𝒳", " ", " ", "\n", "\n\n",
    " ", "  ", ":", "|#", "||", "#", ".", "-", "/", "°", "º", "a", "Z", "ñ")
  private val anchorText: Gen[String] =
    Gen.choose(1, 24).flatMap(n => Gen.listOfN(n,
      Gen.frequency(4 -> legalBit, 3 -> digitBit, 3 -> oddBit))
    ).map(_.mkString(""))

  /** `n` texts from consecutive seeds after a random base (printed on
    * failure), for properties that need more samples than forAll's 100. */
  private def samples(n: Int)(ok: String => Boolean): Prop = {
    val base = Seed.random()
    val bad = Iterator.range(0, n).map { i =>
      anchorText.pureApply(Gen.Parameters.default, base.reseed(i.toLong))
    }.find(t => !ok(t))
    bad.isEmpty :| s"counterexample (base seed ${base.toBase64}): " +
      bad.map(_.flatMap(c => if (c < 0x20 || c > 0x7E) f"\\u${c.toInt}%04x" else c.toString))
  }

  private def sameMatch(a: Matcher, b: Matcher): Boolean =
    if (a == null || b == null) a == null && b == null
    else a.start() == b.start() && a.end() == b.end() &&
      a.groupCount() == b.groupCount() &&
      (1 to a.groupCount()).forall(g => a.group(g) == b.group(g))

  /** Every anchored table pattern with its plain counterpart and a
    * replacement: the table's own for Normalize, every group for Fields. */
  private lazy val anchoredVsPlain: Seq[(Anchored, Pattern, String)] =
    Normalize.anchoredPatterns.toSeq.zip(Normalize.patternTable).map {
      case ((a, r), (src, _)) =>
        (a, Pattern.compile(src, Normalize.UniFlags | Pattern.MULTILINE), r)
    } ++ Fields.compiled.toSeq.zip(Fields.fieldPatterns).flatMap {
      case ((_, as), (_, srcs)) => as.toSeq.zip(srcs).map { case (a, src) =>
        val p = Pattern.compile(src, Normalize.UniFlags)
        (a, p, (1 to p.matcher("").groupCount()).map("<$" + _ + ">").mkString("[", "", "]"))
      }
    }

  property("anchored find/replaceAll equal Matcher.find/replaceAll on every table pattern") =
    samples(10000) { t =>
      val folded = Normalize.foldString(t)
      anchoredVsPlain.forall { case (a, p, r) =>
        (0 to t.length by math.max(1, t.length / 4)).forall { from =>
          val m = p.matcher(t)
          sameMatch(a.find(t, folded, from), if (m.find(from)) m else null)
        } && a.replaceAll(t, folded, r) == p.matcher(t).replaceAll(r)
      }
    }

  // The unguarded regex chains: the reference order with plain
  // replaceAll / find, no skip of any pattern.
  private lazy val plainRules = Normalize.patternTable.map { case (p, r) =>
    Pattern.compile(p, Normalize.UniFlags | Pattern.MULTILINE) -> r
  }
  private def plainNormalize(text: String): String = {
    var t = Normalize.applyCorrectionsSequential(text)
    plainRules.foreach { case (p, r) => t = p.matcher(t).replaceAll(r) }
    t = Normalize.reCrLf.matcher(t).replaceAll("\n")
    t = Normalize.reSpTab.matcher(t).replaceAll(" ")
    t = Normalize.reTripleNl.matcher(t).replaceAll("\n\n")
    Normalize.pyStrip(t)
  }
  private lazy val plainFieldRules = Fields.fieldPatterns.map { case (f, ps) =>
    f -> ps.map(Pattern.compile(_, Normalize.UniFlags))
  }
  private val reWs = Pattern.compile("\\s+", Pattern.UNICODE_CHARACTER_CLASS)
  private val reTrailJunk = Pattern.compile("[|#]+$")
  private val reLongDate = Pattern.compile(
    "(\\d{1,2})\\s+de\\s+(\\w+)\\s+del?\\s+(\\d{4})", Normalize.UniFlags)
  private def plainExtract(text: String): Map[String, String] = {
    var fields = ListMap.empty[String, String]
    plainFieldRules.foreach { case (f, ps) =>
      ps.iterator.map(_.matcher(text)).filter(_.find()).map { m =>
        val lastIndex = (0 to m.groupCount()).findLast(m.group(_) != null).get
        var v = Normalize.pyStrip(m.group(if (lastIndex >= 1) 1 else 0))
        v = reWs.matcher(v).replaceAll(" ")
        Normalize.pyStrip(reTrailJunk.matcher(v).replaceAll(""))
      }.find(_.nonEmpty).foreach(v => fields = fields.updated(f, v))
    }
    fields.get("fecha").map(reLongDate.matcher(_)).filter(_.find()).foreach { m =>
      fields = fields.updated("fecha_normalizada",
        s"${m.group(1)} de ${m.group(2).toLowerCase(java.util.Locale.ROOT)} del ${m.group(3)}")
    }
    fields
  }

  property("normalizeLegal and Fields.extract equal the unguarded regex chain") =
    samples(50000) { t =>
      Normalize.normalizeLegal(t) == plainNormalize(t) &&
        Fields.extract(t) == plainExtract(t)
    }

  property("squashWs equals regex \\s+ replaceAll") =
    forAll(wsText) { t =>
      Normalize.squashWs(t) == reWs.matcher(t).replaceAll(" ")
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
