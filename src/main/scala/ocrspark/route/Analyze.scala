package ocrspark.route

import ocrspark.model.Analysis
import ocrspark.parse.PdfExtract

/** Content analysis + routing decision (P5/P6) — re-expresses
  * `analyze_pdf_content` (reference `/root/reference/app.py:230-303`)
  * over the parse stage's output.
  *
  * Faithful details (FIXTURES.md §4): only the first min(3, page_count)
  * pages are sampled; each sampled page contributes its
  * whitespace-normalized text + a trailing space; `text_length` is the
  * Python `len` (code points) of the stripped concatenation; `has_text`
  * iff text_length > 50; density divides by the FULL page count;
  * `sample_text` = first 500 code points of the concatenation, stripped
  * AFTER slicing; a page-level analysis error skips that page; a
  * document-level parse error falls back to route 'ocr' (confidence 0.0,
  * reference's safe default).
  *
  * Thresholds: text_extraction iff len ≥ 800 ∧ ¬has_images (conf 0.9);
  * hybrid iff len ≥ 200 ∧ density > 100 (conf 0.7); else ocr (conf 0.8).
  */
object Analyze {

  val TextExtractionThreshold = 800 // app.py:71
  val HybridMinLength = 200 // app.py:292
  val HybridMinDensity = 100.0 // app.py:292

  val RouteText = "text_extraction"
  val RouteHybrid = "hybrid"
  val RouteOcr = "ocr"

  private def cpLen(s: String): Int = s.codePointCount(0, s.length)

  /** The analyzer's `sample_text`: the first 500 code points, stripped
    * AFTER slicing (app.py:287). */
  def sampleText(s: String): String = ocrspark.text.Normalize.pyStrip(
    if (s.length <= 500 || cpLen(s) <= 500) s
    else s.substring(0, s.offsetByCodePoints(0, 500)))

  /** Analysis over a parsed PDF (or parse failure). */
  def analyzePdf(parsed: Either[String, PdfExtract.Doc],
                 sizeMb: Double): Analysis = parsed match {
    case Left(_) =>
      // reference: exception → defaults with 'ocr' recommendation
      Analysis(has_text = false, has_images = false, text_length = 0,
        page_count = 0, text_density = 0.0,
        processing_recommendation = RouteOcr, confidence = 0.0,
        sample_text = "", file_size_mb = sizeMb)
    case Right(doc) =>
      val pageCount = doc.pageCount
      val toCheck = math.min(3, pageCount)
      val totalText = new StringBuilder
      var imageCount = 0
      doc.pages.take(toCheck).foreach { p =>
        if (p.error == null) { // page error → skip (app.py:278-280)
          val clean = ocrspark.text.Normalize.pyStrip(
            ocrspark.text.Normalize.squashWs(if (p.text == null) "" else p.text))
          totalText.append(clean).append(' ')
          if (p.hasImage) imageCount += 1
        }
      }
      val joined = totalText.toString
      val textLength = cpLen(ocrspark.text.Normalize.pyStrip(joined))
      val hasImages = imageCount > 0
      val density = textLength.toDouble / math.max(1, pageCount)
      val (route, conf) =
        if (textLength >= TextExtractionThreshold && !hasImages)
          (RouteText, 0.9)
        else if (textLength >= HybridMinLength && density > HybridMinDensity)
          (RouteHybrid, 0.7)
        else (RouteOcr, 0.8)
      Analysis(
        has_text = textLength > 50,
        has_images = hasImages,
        text_length = textLength,
        page_count = pageCount,
        text_density = density,
        processing_recommendation = route,
        confidence = conf,
        sample_text = sampleText(joined),
        file_size_mb = sizeMb)
  }
}
