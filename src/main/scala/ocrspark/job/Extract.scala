package ocrspark.job

import java.nio.charset.StandardCharsets

import ocrspark.model.{PageResult, RawPage}
import ocrspark.parse.{HtmlExtract, PdfExtract}
import ocrspark.route.Analyze
import ocrspark.text.{Confidence, Fields, Normalize, PageAssembly}

/** Row-local document extraction — the whole reference `/process`
  * pipeline (app.py:887-1012) as ONE pure function so it runs inside a
  * single codegen'd projection per row: route → per-page normalize →
  * ordered reassembly → field extraction → confidence model. No state,
  * no I/O, no shuffle; Spark's task parallelism replaces the reference's
  * ProcessPoolExecutor (SURVEY.md §3.1).
  */
object Extract {

  /** Per-document result (becomes a struct column; `analysis_*` feeds
    * the /analyze-shaped metadata query, SURVEY.md §3.3). */
  case class DocResult(
      text: String,
      fields: Map[String, String],
      method: String,
      pages: Int,
      confidence: Double,
      processed_pages: Int,
      low_confidence_pages: Int,
      route: String,
      route_confidence: Double,
      has_text: Boolean,
      has_images: Boolean,
      text_length: Int,
      text_density: Double,
      sample_text: String,
      error: String)

  val MethodText = "text_extraction_enhanced" // app.py:646
  val MethodOcr = "advanced_ocr" // app.py:779
  val MethodHtml = "html_extraction" // engine extension (north star)
  val MethodUpstream = "upstream_text" // engine extension: trusted upstream text
  val MethodError = "error"

  private def isPdf(b: Array[Byte]): Boolean =
    b.length >= 5 && b(0) == '%' && b(1) == 'P' && b(2) == 'D' &&
      b(3) == 'F' && b(4) == '-'

  /** Image magic-byte sniffing (PNG/JPEG/GIF/TIFF/BMP) — the formats in
    * the reference's ALLOWED_EXTENSIONS besides pdf (app.py:60). */
  private[job] def isImage(b: Array[Byte]): Boolean = {
    if (b == null || b.length < 4) return false
    (b(0) == 0x89.toByte && b(1) == 'P' && b(2) == 'N' && b(3) == 'G') ||
    (b(0) == 0xFF.toByte && b(1) == 0xD8.toByte && b(2) == 0xFF.toByte) ||
    (b(0) == 'G' && b(1) == 'I' && b(2) == 'F' && b(3) == '8') ||
    (b(0) == 'I' && b(1) == 'I' && b(2) == '*' && b(3) == 0) ||
    (b(0) == 'M' && b(1) == 'M' && b(2) == 0 && b(3) == '*') ||
    (b(0) == 'B' && b(1) == 'M')
  }

  /** The per-row pipeline. `upstreamText` is the lake table's `text`
    * column (pre-extracted by upstream when non-null/non-blank — takes
    * the trusted fast path, mirroring the reference's text-path
    * confidence contract). `forceOcr` mirrors the reference's
    * `force_ocr` form parameter (app.py:906,935-939): skip content
    * analysis and take the OCR-shaped path unconditionally — including
    * past the upstream-text shortcut: forcing OCR means "re-extract
    * from the raw bytes, the cached text is not to be trusted", so the
    * flag wins over a non-blank `text` column. */
  def extractDocument(html: Array[Byte], upstreamText: String,
                      lang: String, forceOcr: Boolean = false): DocResult = {
    try {
      if (forceOcr) {
        if (html == null || html.length == 0)
          return failed("empty payload")
        return forcedOcrPath(html, lang)
      }
      if (upstreamText != null && Normalize.pyStrip(upstreamText).nonEmpty)
        return upstreamPath(upstreamText, lang)
      if (html == null || html.length == 0)
        return failed("empty payload")
      if (isPdf(html)) pdfPath(html, lang)
      else if (isImage(html)) imagePath(html)
      else htmlPath(html, lang)
    } catch {
      case e: Exception =>
        failed(s"${e.getClass.getSimpleName}: ${e.getMessage}")
    }
  }

  /** force_ocr=1 contract (app.py:935-939): no analysis is run; the
    * document goes straight to the OCR-shaped path. The reference's OCR
    * path only reads PDFs (pdfinfo/PdfReader, app.py:665-671), so a
    * non-PDF payload fails there with a document-level error. Analysis
    * columns carry the forced route with confidence 1.0 (the reference
    * response simply omits the analysis dict when forced). */
  private def forcedOcrPath(html: Array[Byte], lang: String): DocResult = {
    val sizeMb = html.length / (1024.0 * 1024.0)
    if (!isPdf(html))
      return failed("OCR forzado: el payload no es un PDF", MethodOcr,
        Analyze.RouteOcr, 1.0, hasImages = isImage(html))
    PdfExtract.parse(html) match {
      case Left(err) => failed(err, MethodOcr, Analyze.RouteOcr, 1.0)
      case Right(doc) if doc.pageCount == 0 =>
        failed(NoPages, MethodOcr, Analyze.RouteOcr, 1.0)
      case Right(doc) =>
        val forced = ocrspark.model.Analysis(has_text = false,
          has_images = false, text_length = 0, page_count = doc.pageCount,
          text_density = 0.0,
          processing_recommendation = Analyze.RouteOcr,
          confidence = 1.0, sample_text = "", file_size_mb = sizeMb)
        ocrShapedPdf(doc, forced, lang)
    }
  }

  /** Image payloads: the reference analyzer gives them a constant
    * analysis dict (has_images, route 'ocr', confidence 0.8 —
    * app.py:864-871) and /process sends them down the OCR path, which
    * only reads PDFs and fails (app.py:665-671,792-795). Mirrored here
    * as a typed document-level error — never parsed as HTML. */
  private def imagePath(html: Array[Byte]): DocResult =
    failed("payload de imagen: la ruta OCR solo procesa PDF", MethodOcr,
      Analyze.RouteOcr, 0.8, hasImages = true)

  private def upstreamPath(text: String, lang: String): DocResult = {
    val norm = Normalize.normalize(text, lang)
    val fields = Fields.extract(norm)
    DocResult(norm, fields, MethodUpstream, pages = 1,
      confidence = Confidence.TextPathConfidence, processed_pages = 1,
      low_confidence_pages = 0, route = "upstream", route_confidence = 1.0,
      has_text = true, has_images = false,
      text_length = norm.length, text_density = norm.length.toDouble,
      sample_text = Analyze.sampleText(norm), error = null)
  }

  private def pdfPath(html: Array[Byte], lang: String): DocResult = {
    val sizeMb = html.length / (1024.0 * 1024.0)
    val parsed = PdfExtract.parse(html)
    val a = Analyze.analyzePdf(parsed, sizeMb)
    parsed match {
      case Left(err) =>
        // reference: unparseable → scanned path → pdfinfo fails → error
        failed(err, MethodOcr, a.processing_recommendation, a.confidence)
      case Right(doc) if doc.pageCount == 0 =>
        failed(NoPages, MethodOcr, a.processing_recommendation, a.confidence)
      case Right(doc) =>
        if (a.processing_recommendation == Analyze.RouteText)
          textPdf(doc, a, lang)
        else ocrShapedPdf(doc, a, lang) // 'hybrid' AND 'ocr' (app.py:942-945)
    }
  }

  private def textPdf(doc: PdfExtract.Doc, a: ocrspark.model.Analysis,
                      lang: String): DocResult = {
    val raw = doc.pages.map(p => RawPage(p.page, p.text, p.error))
    val text = PageAssembly.assembleTextPath(raw, lang)
    val fields = Fields.extract(text)
    DocResult(text, fields, MethodText, pages = doc.pageCount,
      confidence = Confidence.TextPathConfidence, // 95.0, app.py:647
      processed_pages = doc.pageCount, low_confidence_pages = 0,
      route = a.processing_recommendation, route_confidence = a.confidence,
      has_text = a.has_text, has_images = a.has_images,
      text_length = a.text_length, text_density = a.text_density,
      sample_text = a.sample_text, error = null)
  }

  private def ocrShapedPdf(doc: PdfExtract.Doc, a: ocrspark.model.Analysis,
                           lang: String): DocResult = {
    val results = doc.pages.map { p =>
      if (p.error != null)
        // page-conversion failure contract (app.py:717-723)
        PageResult(p.page,
          s"[Error convirtiendo página ${p.page}: ${p.error}]", 0.0, p.error)
      else {
        val norm = Normalize.normalize(if (p.text == null) "" else p.text, lang)
        PageResult(p.page, norm, Confidence.pageConfidence(norm, null), null)
      }
    }
    val text = PageAssembly.assembleOcrPath(results, doc.pageCount)
    val fields = Fields.extract(text)
    val (avg, processed) = Confidence.documentConfidence(results.map(_.confidence))
    DocResult(text, fields, MethodOcr, pages = doc.pageCount,
      confidence = avg, processed_pages = processed,
      low_confidence_pages = doc.pageCount - processed, // app.py:783
      route = a.processing_recommendation, route_confidence = a.confidence,
      has_text = a.has_text, has_images = a.has_images,
      text_length = a.text_length, text_density = a.text_density,
      sample_text = a.sample_text, error = null)
  }

  private def htmlPath(html: Array[Byte], lang: String): DocResult = {
    val r = HtmlExtract.extractMain(new String(html, StandardCharsets.UTF_8))
    val norm = Normalize.normalize(r.text, lang)
    val fields = Fields.extract(norm)
    val conf = Confidence.pageConfidence(norm, null)
    val processed = if (conf > Confidence.MinThreshold) 1 else 0
    DocResult(norm, fields, MethodHtml, pages = 1, confidence = conf,
      processed_pages = processed, low_confidence_pages = 1 - processed,
      route = "html_extraction", route_confidence = 1.0,
      has_text = norm.length > 50, has_images = false,
      text_length = norm.length, text_density = norm.length.toDouble,
      sample_text = Analyze.sampleText(norm), error = null)
  }

  /** Routing-analysis-only result (the /analyze endpoint shape). */
  case class AnalyzeResult(
      route: String,
      route_confidence: Double,
      has_text: Boolean,
      has_images: Boolean,
      text_length: Int,
      pages: Int,
      text_density: Double)

  /** The cheap /analyze path (app.py:258-286): PDF analysis decodes only
    * the first min(3, pages) pages and does NO normalization or field
    * extraction — the reference analyzer samples raw page text. HTML
    * gets the boilerplate-strip only (length of the raw Arc90 output);
    * images get the constant analysis dict (app.py:864-871); upstream
    * text is measured as-is. ~an order of magnitude cheaper than
    * [[extractDocument]] for metadata queries. */
  def analyzeDocument(html: Array[Byte], upstreamText: String,
                      lang: String): AnalyzeResult = {
    try {
      if (upstreamText != null && Normalize.pyStrip(upstreamText).nonEmpty) {
        val t = Normalize.pyStrip(upstreamText)
        val len = t.codePointCount(0, t.length)
        return AnalyzeResult("upstream", 1.0, has_text = true,
          has_images = false, len, pages = 1, len.toDouble)
      }
      if (html == null || html.length == 0)
        return AnalyzeResult("error", 0.0, has_text = false,
          has_images = false, 0, 0, 0.0)
      if (isPdf(html)) {
        val a = Analyze.analyzePdf(PdfExtract.parse(html, maxTextPages = 3),
          html.length / (1024.0 * 1024.0))
        AnalyzeResult(a.processing_recommendation, a.confidence,
          a.has_text, a.has_images, a.text_length, a.page_count,
          a.text_density)
      } else if (isImage(html)) {
        // constant image analysis (app.py:864-871)
        AnalyzeResult(Analyze.RouteOcr, 0.8, has_text = false,
          has_images = true, 0, 0, 0.0)
      } else {
        // raw visible text, no main-content extraction — the analyzer
        // measures the page as-is (like page.extract_text() for PDFs)
        val len = HtmlExtract.visibleTextLength(
          new String(html, StandardCharsets.UTF_8))
        AnalyzeResult("html_extraction", 1.0, has_text = len > 50,
          has_images = false, len, pages = 1, len.toDouble)
      }
    } catch {
      case _: Exception =>
        AnalyzeResult("error", 0.0, has_text = false, has_images = false,
          0, 0, 0.0)
    }
  }

  private val NoPages = "PDF no contiene páginas" // app.py:674

  /** A document-level failure: no text, pages or fields, only the
    * error and the routing it failed on. */
  private def failed(error: String, method: String = MethodError,
                     route: String = "error", routeConfidence: Double = 0.0,
                     hasImages: Boolean = false): DocResult =
    DocResult("", Map.empty, method, pages = 0, confidence = 0.0,
      processed_pages = 0, low_confidence_pages = 0, route = route,
      route_confidence = routeConfidence, has_text = false,
      has_images = hasImages, text_length = 0, text_density = 0.0,
      sample_text = "", error = error)
}
