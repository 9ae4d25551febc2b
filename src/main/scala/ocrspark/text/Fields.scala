package ocrspark.text

import java.util.regex.{Matcher, Pattern}
import scala.collection.immutable.ListMap

/** Key-field extraction for Peruvian legal documents (F2).
  *
  * Re-expresses `extract_peruvian_legal_fields` and its pattern table
  * (reference `/root/reference/app.py:147-201,505-533`): 12 fields, per
  * field an ordered pattern list where the FIRST match with a non-empty
  * cleaned value wins; value = group(1) when any group matched, else the
  * whole match (quirks 7/9 of SURVEY.md §2.7); keys are absent (not
  * null/empty) when nothing matched — hence a Map, not a struct.
  *
  * Python fidelity: patterns compiled `re.I` ⇒ Java
  * `CASE_INSENSITIVE|UNICODE_CASE|UNICODE_CHARACTER_CLASS`;
  * `match.lastindex` ⇒ highest non-null Java group; value cleanup is
  * `\s+`→' ', trailing `[|#]+` strip, Python-strip. Each pattern is
  * tried only where its match can start ([[Anchored]]).
  */
object Fields {

  /** Field → ordered pattern sources (reference app.py:147-201). */
  val fieldPatterns: Vector[(String, Vector[String])] = Vector(
    "carpeta_fiscal" -> Vector(
      """CARPETA\s+FISCAL[:\s]*(\d{10}-\d{4}-\d{1,3}-\d{1,2})""",
      """CARPETA\s+FlSCAL[:\s]*(\d{10}-\d{4}-\d{1,3}-\d{1,2})""",
    ),
    "expediente" -> Vector(
      """EXP(?:EDIENTE)?\.?\s*N[°º]?\s*[:\s]*(\d{4,5}-\d{4}-\d{1,3}-\w{2,4}-\w{2})""",
      """EXP(?:EDlENTE)?\.?\s*N[°º]?\s*[:\s]*(\d{4,5}-\d{4}-\d{1,3}-\w{2,4}-\w{2})""",
    ),
    // group(2) — the office name — is captured but discarded (quirk 7)
    "fiscalia" -> Vector(
      """FISCALÍA\s+(PROVINCIAL|SUPERIOR|SUPREMA)\s+(.+?)(?:DISTRITO|$)""",
      """FlSCALÍA\s+(PROVlNClAL|SUPERlOR|SUPREMA)\s+(.+?)(?:DlSTRlTO|$)""",
    ),
    "distrito_fiscal" -> Vector(
      """DISTRITO\s+FISCAL\s+DE\s+([A-ZÁÉÍÓÚÑ\s]+)""",
      """DlSTRlTO\s+FlSCAL\s+DE\s+([A-ZÁÉÍÓÚÑ\s]+)""",
    ),
    "delito" -> Vector(
      """DELITO[:\s]+(.+?)(?:\n|$)""",
      """DELlTO[:\s]+(.+?)(?:\n|$)""",
      """CONTRA\s+EL\s+(PATRIMONIO|HONOR|VIDA)""",
      """USURPACIÓN""", // no groups → group(0) (quirk 9)
      """APROPIACIÓN\s+ILÍCITA""",
    ),
    "imputado" -> Vector(
      """IMPUTADO[:\s]+([A-ZÁÉÍÓÚÑ\s,]+?)(?:\n|DELITO|AGRAVIADO)""",
      """lMPUTADO[:\s]+([A-ZÁÉÍÓÚÑ\s,]+?)(?:\n|DELlTO|AGRAVlADO)""",
      """INVESTIGADO[:\s]+([A-ZÁÉÍÓÚÑ\s,]+?)(?:\n|DELITO|AGRAVIADO)""",
    ),
    "agraviado" -> Vector(
      """AGRAVIADO[:\s]+([A-ZÁÉÍÓÚÑ\s,]+?)(?:\n|DELITO|IMPUTADO)""",
      """AGRAVlADO[:\s]+([A-ZÁÉÍÓÚÑ\s,]+?)(?:\n|DELlTO|lMPUTADO)""",
    ),
    // long-form date stores group(1) = just the day (quirk 8)
    "fecha" -> Vector(
      """(\d{1,2})\s+de\s+(\w+)\s+del?\s+(\d{4})""",
      """FECHA[:\s]+(\d{1,2}[/-]\d{1,2}[/-]\d{4})""",
      """(\d{1,2})[/-](\d{1,2})[/-](\d{4})""",
    ),
    "resolucion" -> Vector(
      """RESOLUCIÓN\s*N[°º]?\s*(\d+[-\s]?\d*)""",
      """RESOLUCION\s*N[°º]?\s*(\d+[-\s]?\d*)""",
    ),
    "juzgado" -> Vector(
      """JUZGADO\s+([A-ZÁÉÍÓÚÑ\s]+?)(?:DE|$)""",
      """JUZGADO\s+PENAL\s+([A-ZÁÉÍÓÚÑ\s\d]+)""",
    ),
    "juez" -> Vector(
      """JUE[ZS][:\s]+([A-ZÁÉÍÓÚÑ\s]+?)(?:\n|$)""",
      """MAGISTRADO[:\s]+([A-ZÁÉÍÓÚÑ\s]+?)(?:\n|$)""",
    ),
    "fiscal" -> Vector(
      """FISCAL[:\s]+([A-ZÁÉÍÓÚÑ\s]+?)(?:\n|$)""",
      """FlSCAL[:\s]+([A-ZÁÉÍÓÚÑ\s]+?)(?:\n|$)""",
    ),
  )

  /** Where each field pattern's match can start: at its case-folded
    * leading literal, or at a digit for the two numeric dates. */
  private val fieldStarts: Map[String, Vector[Anchored.Anchor]] = {
    import Anchored._
    Map(
      "carpeta_fiscal" -> Vector(Lit("carpeta"), Lit("carpeta")),
      "expediente" -> Vector(Lit("exp"), Lit("exp")),
      "fiscalia" -> Vector(Lit("fiscalía"), Lit("flscalía")),
      "distrito_fiscal" -> Vector(Lit("distrito"), Lit("dlstrlto")),
      "delito" -> Vector(Lit("delito"), Lit("dellto"), Lit("contra"),
        Lit("usurpación"), Lit("apropiación")),
      "imputado" -> Vector(Lit("imputado"), Lit("lmputado"), Lit("investigado")),
      "agraviado" -> Vector(Lit("agraviado"), Lit("agravlado")),
      "fecha" -> Vector(Digit, Lit("fecha"), Digit),
      "resolucion" -> Vector(Lit("resolución"), Lit("resolucion")),
      "juzgado" -> Vector(Lit("juzgado"), Lit("juzgado")),
      "juez" -> Vector(Lit("jue"), Lit("magistrado")),
      "fiscal" -> Vector(Lit("fiscal"), Lit("flscal")),
    )
  }

  private[text] val compiled: Array[(String, Array[Anchored])] =
    fieldPatterns.map { case (f, ps) =>
      val starts = fieldStarts(f)
      require(starts.length == ps.length, f)
      f -> ps.zip(starts).map { case (p, a) =>
        new Anchored(p, Normalize.UniFlags, a)
      }.toArray
    }.toArray

  private val reTrailJunk = Pattern.compile("""[|#]+$""")
  // fecha post-processing (app.py:528)
  private val reLongDate = Pattern.compile(
    """(\d{1,2})\s+de\s+(\w+)\s+del?\s+(\d{4})""", Normalize.UniFlags)

  /** Python `match.lastindex`: highest group number that participated. */
  private def lastIndex(m: Matcher): Int = {
    var i = m.groupCount()
    while (i >= 1 && m.group(i) == null) i -= 1
    i
  }

  private def cleanValue(raw: String): String = {
    var v = Normalize.squashWs(raw)
    v = reTrailJunk.matcher(v).replaceAll("")
    Normalize.pyStrip(v)
  }

  /** Extract fields; insertion order mirrors the reference's dict order,
    * with `fecha_normalizada` appended last (app.py:524-531). */
  def extract(text: String): Map[String, String] = {
    if (text == null) return Map.empty
    val folded = Normalize.foldString(text)
    var fields = ListMap.empty[String, String]
    var fi = 0
    while (fi < compiled.length) {
      val (name, pats) = compiled(fi)
      var pi = 0
      var done = false
      while (pi < pats.length && !done) {
        val m = pats(pi).find(text, folded, 0)
        if (m != null) {
          val raw =
            if (lastIndex(m) >= 1) Normalize.pyStrip(m.group(1))
            else Normalize.pyStrip(m.group(0))
          val v = cleanValue(raw)
          if (v.nonEmpty) {
            fields = fields.updated(name, v)
            done = true // first match wins (app.py:521)
          }
        }
        pi += 1
      }
      fi += 1
    }
    fields.get("fecha").foreach { dateText =>
      val dm = reLongDate.matcher(dateText)
      if (dm.find()) {
        val norm = s"${dm.group(1)} de ${dm.group(2).toLowerCase(java.util.Locale.ROOT)} del ${dm.group(3)}"
        fields = fields.updated("fecha_normalizada", norm)
      }
    }
    fields
  }
}
