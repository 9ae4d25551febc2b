package ocrspark.parse

import org.scalatest.funsuite.AnyFunSuite

class ParseSpec extends AnyFunSuite {

  test("PDF round trip: text written is text parsed, page per page") {
    val pages = Seq(
      PdfWriter.PageSpec(Vector(Vector("hola mundo", "segunda linea"),
        Vector("bloque dos"))),
      PdfWriter.PageSpec(Vector(Vector("pagina dos"))))
    for (compress <- Seq(true, false)) {
      val bytes = PdfWriter.build(pages, compress)
      val doc = PdfExtract.parse(bytes).fold(e => fail(s"parse: $e"), identity)
      assert(doc.pageCount == 2)
      assert(doc.pages(0).text == "hola mundo\nsegunda linea\nbloque dos")
      assert(doc.pages(1).text == "pagina dos")
      assert(doc.pages.forall(_.error == null))
      // layout: first page has two blocks at distinct descending y
      assert(doc.pages(0).blocks.size == 2)
      assert(doc.pages(0).blocks(0).y > doc.pages(0).blocks(1).y)
    }
  }

  test("PDF round trip: non-Latin-1 text via UTF-16BE hex strings") {
    val s = "PENAЛ y FISCALÍA — 中文 test ( ) \\ backslash"
    val bytes = PdfWriter.build(Seq(PdfWriter.PageSpec(Vector(Vector(s)))))
    val doc = PdfExtract.parse(bytes).toOption.get
    assert(doc.pages(0).text == s)
  }

  test("PDF escaped literal strings round trip") {
    val s = "parens (nested) and \\ backslash"
    val bytes = PdfWriter.build(Seq(PdfWriter.PageSpec(Vector(Vector(s)))),
      compress = false)
    val doc = PdfExtract.parse(bytes).toOption.get
    assert(doc.pages(0).text == s)
  }

  test("image XObject detection per page") {
    val bytes = PdfWriter.build(Seq(
      PdfWriter.PageSpec(Vector(Vector("text")), hasImage = false),
      PdfWriter.PageSpec(Vector(Vector("scan")), hasImage = true)))
    val doc = PdfExtract.parse(bytes).toOption.get
    assert(!doc.pages(0).hasImage)
    assert(doc.pages(1).hasImage)
  }

  test("truncated PDF fails at document or page level, not with a throw") {
    val whole = PdfWriter.build(Seq(
      PdfWriter.PageSpec(Vector(Vector("a" * 100))),
      PdfWriter.PageSpec(Vector(Vector("b" * 100)))))
    (1 until 10).foreach { tenth =>
      val cut = java.util.Arrays.copyOfRange(whole, 0, whole.length * tenth / 10)
      PdfExtract.parse(cut) match {
        case Left(msg) => assert(msg != null)
        case Right(doc) => // partial parse OK as long as errors are typed
          assert(doc.pages.forall(p => p.error != null || p.text != null))
      }
    }
  }

  test("non-PDF bytes → Left") {
    assert(PdfExtract.parse("not a pdf".getBytes).isLeft)
    assert(PdfExtract.parse(Array.emptyByteArray).isLeft)
  }

  /** Minimal one-page PDF with a raw (caller-encoded) content stream —
    * no xref (the linear-scan fallback finds the objects), catalog found
    * by type. For adversarial-stream tests the writer can't produce. */
  private def rawStreamPdf(streamDict: String, data: Array[Byte],
                           contentsRef: String = "4 0 R"): Array[Byte] = {
    val head =
      ("%PDF-1.4\n" +
        "1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n" +
        "2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 >> endobj\n" +
        s"3 0 obj << /Type /Page /Parent 2 0 R /Contents $contentsRef >> endobj\n" +
        s"4 0 obj << /Length ${data.length} $streamDict >> stream\n")
        .getBytes("ISO-8859-1")
    val tail = "\nendstream endobj\n".getBytes("ISO-8859-1")
    head ++ data ++ tail
  }

  test("stray delimiter bytes in a content stream terminate (no spin)") {
    // inline-image-shaped garbage: raw ')' ']' '>' '}' bytes between ops
    val content = "BT (hola) Tj )]>}{ (mundo) Tj ET".getBytes("ISO-8859-1")
    PdfExtract.parse(rawStreamPdf("", content)) match {
      case Right(doc) =>
        assert(doc.pageCount == 1)
        assert(doc.pages.head.error != null ||
          doc.pages.head.text.contains("hola"))
      case Left(msg) => assert(msg != null)
    }
  }

  test("FDICT zlib stream degrades to a page error (no infinite loop)") {
    // 0x78BB: valid zlib header with the preset-dictionary flag set
    // ((0x78*256+0xBB) % 31 == 0, FLG bit 5 on) — Inflater returns 0
    // with needsDictionary() forever unless the parser checks it
    val fdict = Array[Byte](0x78, 0xBB.toByte, 1, 2, 3, 4, 0, 0, 0, 0)
    PdfExtract.parse(rawStreamPdf("/Filter /FlateDecode", fdict)) match {
      case Right(doc) => assert(doc.pages.head.error != null)
      case Left(msg) => assert(msg != null)
    }
  }

  test("cyclic indirect references degrade to an error (no stack overflow)") {
    val pdf =
      ("%PDF-1.4\n" +
        "1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n" +
        "2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 >> endobj\n" +
        "3 0 obj << /Type /Page /Parent 2 0 R /Contents 4 0 R >> endobj\n" +
        "4 0 obj 5 0 R endobj\n" +
        "5 0 obj 4 0 R endobj\n").getBytes("ISO-8859-1")
    PdfExtract.parse(pdf) match {
      case Right(doc) => assert(doc.pages.head.error != null)
      case Left(msg) => assert(msg != null)
    }
    // self-referencing stream /Length: load(6) resolving its own length
    val selfLen =
      ("%PDF-1.4\n" +
        "1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n" +
        "2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 >> endobj\n" +
        "3 0 obj << /Type /Page /Parent 2 0 R /Contents 6 0 R >> endobj\n" +
        "6 0 obj << /Length 6 0 R >> stream\nxx\nendstream endobj\n")
        .getBytes("ISO-8859-1")
    PdfExtract.parse(selfLen) match {
      case Right(doc) => assert(doc.pages.head.error != null)
      case Left(msg) => assert(msg != null)
    }
  }

  test("flate bomb hits the inflate cap, not the heap") {
    // ~80 MiB of zeros deflates to ~80 KB; /Length bounds only the
    // compressed side, so without the output cap this OOMs the task
    val deflater = new java.util.zip.Deflater()
    val zeros = new Array[Byte](1 << 20)
    val out = new java.io.ByteArrayOutputStream()
    val buf = new Array[Byte](1 << 16)
    (1 to 80).foreach { _ =>
      deflater.setInput(zeros)
      while (!deflater.needsInput()) {
        val n = deflater.deflate(buf)
        out.write(buf, 0, n)
      }
    }
    deflater.finish()
    while (!deflater.finished()) {
      val n = deflater.deflate(buf)
      out.write(buf, 0, n)
    }
    val bomb = out.toByteArray
    assert(bomb.length < (1 << 20), "bomb should be tiny compressed")
    PdfExtract.parse(rawStreamPdf("/Filter /FlateDecode", bomb)) match {
      case Right(doc) =>
        assert(doc.pages.head.error != null)
        assert(doc.pages.head.error.contains("exceeds"))
      case Left(msg) => assert(msg != null)
    }
  }

  test("flate stream over 512 MiB degrades to a PdfError page error") {
    // zlib header, then non-final stored deflate blocks (LEN 0xFFFF,
    // NLEN 0) up to just past 512 MiB: inflate sizes its buffer from the
    // compressed length, then hits the inflate cap
    val head =
      ("%PDF-1.4\n" +
        "1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n" +
        "2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 >> endobj\n" +
        "3 0 obj << /Type /Page /Parent 2 0 R /Contents 4 0 R >> endobj\n")
    val block = 5 + 0xFFFF
    val dataLen = 2 + ((512 << 20) / block + 1) * block
    val streamHead = (head +
      s"4 0 obj << /Length $dataLen /Filter /FlateDecode >> stream\n")
      .getBytes("ISO-8859-1")
    val tail = "\nendstream endobj\n".getBytes("ISO-8859-1")
    // built in place: one array, not three concatenated copies
    val pdf = new Array[Byte](streamHead.length + dataLen + tail.length)
    System.arraycopy(streamHead, 0, pdf, 0, streamHead.length)
    var p = streamHead.length
    pdf(p) = 0x78; pdf(p + 1) = 0x01; p += 2
    while (p + block <= streamHead.length + dataLen) {
      pdf(p + 1) = 0xFF.toByte; pdf(p + 2) = 0xFF.toByte // LEN; BTYPE 00
      p += block
    }
    System.arraycopy(tail, 0, pdf, p, tail.length)
    assert(dataLen > (512 << 20))
    PdfExtract.parse(pdf) match {
      case Right(doc) =>
        assert(doc.pages.head.error != null)
        assert(doc.pages.head.error.startsWith("PdfError"), doc.pages.head.error)
        assert(doc.pages.head.error.contains("exceeds"), doc.pages.head.error)
      case Left(msg) => fail(s"document-level failure: $msg")
    }
  }

  test("HTML: Arc90 picks main content, strips nav/footer/script/style") {
    val para = "Contenido principal del documento con suficiente texto " * 5
    val html = new String(ocrspark.job.Synth.htmlFor(7L, para + "\nSegundo parrafo largo con mas contenido real aqui."),
      java.nio.charset.StandardCharsets.UTF_8)
    val r = HtmlExtract.extractMain(html)
    assert(r.text.contains("Contenido principal"))
    assert(r.text.contains("Segundo parrafo"))
    assert(!r.text.contains("Sponsored"))
    assert(!r.text.contains("Category 3"))
    assert(!r.text.contains("var x"))
    assert(!r.text.contains("All rights reserved"))
    assert(r.title == "Document 7")
    assert(r.nodeCount > 10)
    assert(r.score > 0)
  }

  test("HTML entities decode; unknown entities pass through") {
    assert(HtmlExtract.decodeEntities("a &amp; b &lt;c&gt; &aacute;&ntilde;") ==
      "a & b <c> áñ")
    assert(HtmlExtract.decodeEntities("&#65;&#x42;") == "AB")
    assert(HtmlExtract.decodeEntities("&bogus; &noend") == "&bogus; &noend")
  }

  test("HTML parser tolerates unclosed and mismatched tags") {
    val r = HtmlExtract.extractMain(
      "<html><body><div><p>uno<p>dos</div><b>tres</body>")
    assert(r.text.contains("uno"))
    assert(r.text.contains("dos"))
  }

  test("visibleTextLength: ws-collapsed raw text, skips tags/comments/raw-text") {
    // "uno dos tres" ws-collapsed = 12
    assert(HtmlExtract.visibleTextLength(
      "<p>uno\n  dos</p> <b>tres</b>") == 12)
    assert(HtmlExtract.visibleTextLength(
      "<script>var x = 1;</script><style>.a{}</style>ab") == 2)
    assert(HtmlExtract.visibleTextLength("<!-- hidden -->ok") == 2)
    assert(HtmlExtract.visibleTextLength("") == 0)
    // includes boilerplate (raw page measure, unlike Arc90): the synth
    // page's visible text exceeds the extracted main content
    val para = "Contenido principal del documento con texto " * 5
    val html = new String(ocrspark.job.Synth.htmlFor(3L, para),
      java.nio.charset.StandardCharsets.UTF_8)
    val vis = HtmlExtract.visibleTextLength(html)
    val main = HtmlExtract.extractMain(html).text.length
    assert(vis > main, s"vis=$vis main=$main")
  }
}
