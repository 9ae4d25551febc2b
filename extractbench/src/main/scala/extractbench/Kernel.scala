package extractbench

import java.nio.charset.StandardCharsets
import java.util.concurrent.atomic.AtomicInteger

import ocrspark.job.Extract
import ocrspark.job.Extract.DocResult
import ocrspark.model.{PageResult, RawPage}
import ocrspark.parse.{HtmlExtract, PdfExtract}
import ocrspark.route.Analyze
import ocrspark.text.{Confidence, Fields, Normalize, PageAssembly}

/** Counts gathered by the traced kernel replica. */
final class KernelCounts {
  var normalizeCalls, normalizeChars = 0L
  var pdfDocs, pdfPages, pdfBytes, pdfParseErrors = 0L
  var htmlDocs, htmlCharsOut = 0L
}

/** Direct calls into the row kernel, outside Spark. */
object Kernel {

  /** Run `f(i)` for i in [0, n) on `threads` threads pulling chunks of
    * 64 indices from a shared counter; returns the per-thread states. */
  def parallel[S](n: Int, threads: Int)(init: => S)(f: (S, Int) => Unit): Seq[S] = {
    val next = new AtomicInteger(0)
    val states = Seq.fill(threads)(init)
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val ts = states.map { s =>
      val t = new Thread(() =>
        try {
          var lo = next.getAndAdd(64)
          while (lo < n) {
            var i = lo
            val hi = math.min(n, lo + 64)
            while (i < hi) { f(s, i); i += 1 }
            lo = next.getAndAdd(64)
          }
        } catch { case e: Throwable => errors.add(e) })
      t.start(); t
    }
    ts.foreach(_.join())
    if (!errors.isEmpty) throw errors.peek()
    states
  }

  /** Magic-byte sniffing, as the engine's router does it. */
  def isPdf(b: Array[Byte]): Boolean =
    b.length >= 5 && b(0) == '%' && b(1) == 'P' && b(2) == 'D' &&
      b(3) == 'F' && b(4) == '-'

  def isImage(b: Array[Byte]): Boolean = {
    if (b == null || b.length < 4) return false
    (b(0) == 0x89.toByte && b(1) == 'P' && b(2) == 'N' && b(3) == 'G') ||
    (b(0) == 0xFF.toByte && b(1) == 0xD8.toByte && b(2) == 0xFF.toByte) ||
    (b(0) == 'G' && b(1) == 'I' && b(2) == 'F' && b(3) == '8') ||
    (b(0) == 'I' && b(1) == 'I' && b(2) == '*' && b(3) == 0) ||
    (b(0) == 'M' && b(1) == 'M' && b(2) == 0 && b(3) == '*') ||
    (b(0) == 'B' && b(1) == 'M')
  }

  /** `Extract.extractDocument` (without `force_ocr`) re-spelled as calls
    * to each layer's public function, each inside a span, so the traced
    * run can split a document's time by layer. The caller checks that
    * its result equals the engine's for every document. */
  final class Replica(t: Tracer, c: KernelCounts) {

    private def normalize(text: String, lang: String): String = {
      c.normalizeCalls += 1
      c.normalizeChars += (if (text == null) 0 else text.length)
      t.span("Normalize.normalize")(Normalize.normalize(text, lang))
    }

    private def fields(text: String): Map[String, String] =
      t.span("Fields.extract")(Fields.extract(text))

    def extract(html: Array[Byte], upstream: String, lang: String): DocResult =
      t.span("Extract.extractDocument") {
        try {
          if (upstream != null && Normalize.pyStrip(upstream).nonEmpty) {
            val norm = normalize(upstream, lang)
            DocResult(norm, fields(norm), Extract.MethodUpstream, pages = 1,
              confidence = Confidence.TextPathConfidence, processed_pages = 1,
              low_confidence_pages = 0, route = "upstream",
              route_confidence = 1.0, has_text = true, has_images = false,
              text_length = norm.length, text_density = norm.length.toDouble,
              sample_text = sample(norm), error = null)
          } else if (html == null || html.length == 0) error("empty payload")
          else if (isPdf(html)) pdf(html, lang)
          else if (isImage(html))
            DocResult("", Map.empty, Extract.MethodOcr, pages = 0,
              confidence = 0.0, processed_pages = 0, low_confidence_pages = 0,
              route = Analyze.RouteOcr, route_confidence = 0.8,
              has_text = false, has_images = true, text_length = 0,
              text_density = 0.0, sample_text = "",
              error = "payload de imagen: la ruta OCR solo procesa PDF")
          else htmlDoc(html, lang)
        } catch {
          case e: Exception =>
            error(s"${e.getClass.getSimpleName}: ${e.getMessage}")
        }
      }

    private def pdf(html: Array[Byte], lang: String): DocResult = {
      c.pdfDocs += 1
      c.pdfBytes += html.length
      val parsed = t.span("PdfExtract.parse")(PdfExtract.parse(html))
      val a = t.span("Analyze.analyzePdf")(
        Analyze.analyzePdf(parsed, html.length / (1024.0 * 1024.0)))
      def failed(err: String) =
        DocResult("", Map.empty, Extract.MethodOcr, pages = 0, confidence = 0.0,
          processed_pages = 0, low_confidence_pages = 0,
          route = a.processing_recommendation,
          route_confidence = a.confidence, has_text = false,
          has_images = false, text_length = 0, text_density = 0.0,
          sample_text = "", error = err)
      parsed match {
        case Left(err) =>
          c.pdfParseErrors += 1
          failed(err)
        case Right(doc) if doc.pageCount == 0 => failed("PDF no contiene páginas")
        case Right(doc) =>
          c.pdfPages += doc.pageCount
          if (a.processing_recommendation == Analyze.RouteText) {
            val text = t.span("PageAssembly.assemble") {
              val total = doc.pages.length
              val sb = new java.lang.StringBuilder
              doc.pages.map(p => RawPage(p.page, p.text, p.error)).foreach { p =>
                if (p.error != null) {
                  sb.append(PageAssembly.separator(p.page, total))
                  sb.append(s"[Error extrayendo texto de la página ${p.page}]")
                } else {
                  val raw = if (p.text == null) "" else p.text
                  if (Normalize.pyStrip(raw).nonEmpty) {
                    sb.append(PageAssembly.separator(p.page, total))
                    sb.append(normalize(raw, lang))
                  }
                }
              }
              sb.toString
            }
            DocResult(text, fields(text), Extract.MethodText, pages = doc.pageCount,
              confidence = Confidence.TextPathConfidence,
              processed_pages = doc.pageCount, low_confidence_pages = 0,
              route = a.processing_recommendation, route_confidence = a.confidence,
              has_text = a.has_text, has_images = a.has_images,
              text_length = a.text_length, text_density = a.text_density,
              sample_text = a.sample_text, error = null)
          } else {
            val (text, avg, processed) = t.span("PageAssembly.assemble") {
              val results = doc.pages.map { p =>
                if (p.error != null)
                  PageResult(p.page,
                    s"[Error convirtiendo página ${p.page}: ${p.error}]", 0.0, p.error)
                else {
                  val norm = normalize(if (p.text == null) "" else p.text, lang)
                  PageResult(p.page, norm, Confidence.pageConfidence(norm, null), null)
                }
              }
              val (avg, processed) = Confidence.documentConfidence(results.map(_.confidence))
              (PageAssembly.assembleOcrPath(results, doc.pageCount), avg, processed)
            }
            DocResult(text, fields(text), Extract.MethodOcr, pages = doc.pageCount,
              confidence = avg, processed_pages = processed,
              low_confidence_pages = doc.pageCount - processed,
              route = a.processing_recommendation, route_confidence = a.confidence,
              has_text = a.has_text, has_images = a.has_images,
              text_length = a.text_length, text_density = a.text_density,
              sample_text = a.sample_text, error = null)
          }
      }
    }

    private def htmlDoc(html: Array[Byte], lang: String): DocResult = {
      c.htmlDocs += 1
      val r = t.span("HtmlExtract.extractMain")(
        HtmlExtract.extractMain(new String(html, StandardCharsets.UTF_8)))
      c.htmlCharsOut += r.text.length
      val norm = normalize(r.text, lang)
      val fs = fields(norm)
      val conf = t.span("PageAssembly.assemble")(Confidence.pageConfidence(norm, null))
      val processed = if (conf > Confidence.MinThreshold) 1 else 0
      DocResult(norm, fs, Extract.MethodHtml, pages = 1, confidence = conf,
        processed_pages = processed, low_confidence_pages = 1 - processed,
        route = "html_extraction", route_confidence = 1.0,
        has_text = norm.length > 50, has_images = false,
        text_length = norm.length, text_density = norm.length.toDouble,
        sample_text = sample(norm), error = null)
    }

    private def error(msg: String): DocResult =
      DocResult("", Map.empty, Extract.MethodError, pages = 0, confidence = 0.0,
        processed_pages = 0, low_confidence_pages = 0, route = "error",
        route_confidence = 0.0, has_text = false, has_images = false,
        text_length = 0, text_density = 0.0, sample_text = "", error = msg)

    private def sample(s: String): String =
      if (s.length <= 500) s
      else Normalize.pyStrip(s.substring(0,
        s.offsetByCodePoints(0, math.min(500, s.codePointCount(0, s.length)))))
  }
}
