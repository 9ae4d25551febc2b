package ocrspark.job

import java.nio.charset.StandardCharsets
import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import ocrspark.lake.LakeTable
import ocrspark.parse.PdfWriter

/** Deterministic synthesis of the `pages` lake table
  * `(url, warc_ts, html, text, lang)` — BASELINE.json `input_hint` —
  * from the driver's read-only `documents.parquet` (TESTDATA.md), with
  * no wall-clock and no unseeded randomness: every choice is a pure
  * function of `doc_id` (FIXTURES.md §1.1).
  *
  * Mix (by doc_id mod 20): 35% HTML pages (body = doc text wrapped in
  * boilerplate: nav/header/footer/link lists — what Arc90 must strip),
  * 5% image payloads (PNG/JPEG magic → OCR route), 40% embedded-text
  * PDFs (1–5 pages), 10% "scanned-shaped" PDFs (short text + image
  * XObject → routes hybrid/ocr), 5% corrupt PDFs (truncated → error
  * path), 5% upstream-text rows. Hosts are
  * zipfian-skewed (FIXTURES.md: "host component zipfian-skewed") so
  * skew handling is observable. Every 5th doc gets a legal header so
  * the normalization vocabulary and all 12 fields fire at scale.
  */
object Synth {

  val WarcBase = 1704067200000L // 2024-01-01T00:00:00Z, fixed epoch

  // 40 hosts; selection is zipfian via the harmonic CDF below.
  private val hosts: Vector[String] =
    (0 until 40).map(i => s"site$i.example.org").toVector
  private val harmonic: Vector[Double] = {
    val h = hosts.indices.map(i => 1.0 / (i + 1))
    val total = h.sum
    h.scanLeft(0.0)(_ + _).tail.map(_ / total).toVector
  }

  /** Deterministic pseudo-random in [0,1) from doc_id + stream id. */
  private def unit(docId: Long, stream: Int): Double = {
    var x = docId * 0x9E3779B97F4A7C15L + stream * 0xC2B2AE3D27D4EB4FL
    x ^= x >>> 33; x *= 0xFF51AFD7ED558CCDL; x ^= x >>> 33
    (x >>> 11).toDouble / (1L << 53).toDouble
  }

  def hostFor(docId: Long): String = {
    val u = unit(docId, 1)
    val idx = harmonic.indexWhere(u <= _)
    hosts(if (idx < 0) hosts.length - 1 else idx)
  }

  def urlFor(docId: Long): String = {
    val kind = (docId % 20).toInt
    val ext =
      if (kind >= 8 && kind <= 18) "pdf"
      else if (kind == 7) { if ((docId / 20) % 2 == 0) "png" else "jpg" }
      else "html"
    s"https://${hostFor(docId)}/doc/$docId.$ext"
  }

  // Legal headers rotated into every 5th doc (authored here; exercises
  // the correction dictionary, all pattern rules, and the 12 fields).
  private val legalHeaders = Vector(
    "MlNlSTERlO PUBLICO\nFISCALIA  PROVINCIAL  PENAL  CORPORATIVA DE AREQUlPA\n" +
      "DISTRITO FISCAL DE AREQUIPA\nCARPETA FlSCAL: 5006014504-2024-215-0\n\n" +
      "PROVlDENCIA N° 01-2024\nChivay, 15 de Marzo del 2024\n" +
      "IMPUTADO: JUAN CARLOS QUISPE MAMANI\nAGRAVIADO: MARIA LOPEZ DE TORRES\n" +
      "DELITO: CONTRA EL PATRIMONIO - USURPACION\nArt. 202 Inc. 2 del CODIGO PENAL",
    "EXPEDlENTE N° 01234-2024-0-0401-JR-PE\nRESOLUCION N° 05\n" +
      "JUZGADO PENAL UNIPERSONAL DE AREQUIPA\nJUEZ: PEDRO SANCHEZ RIVERA\n" +
      "FISCAL: ANA TORRES DELGADO\nfecha: 03-04-2024",
    "CORTE SUPERIOR DE JUSTICIA\nexpediente n° 00456-2023-0-0402-JP-CI\n" +
      "resolucion numero tres\nMAGISTRADO: LUISA FERNANDEZ CACERES\n" +
      "FISCALÍA SUPREMA PENAL DE LIMA\nDISTRITO FISCAL DE LIMA SUR\n" +
      "INVESTIGADO: CARLOS RAMOS PAREDES\nDELlTO: CONTRA LA VIDA\n" +
      "el 7 de Agosto del 2023\nart. 106 inc. 1",
    "CARPETA FISCAL 1234567890-2024-123-12\nAPROPIACION ILICITA en agravio\n" +
      "vehiculo de placa ABC 123\ntitulo II del codigo\nFECHA: 12/11/2024",
  )

  def bodyFor(docId: Long, docText: String): String = {
    val base = if (docText == null) "" else docText
    if (docId % 5 == 0)
      legalHeaders(((docId / 5) % legalHeaders.length).toInt) + "\n\n" + base
    else base
  }

  private def wrapLines(s: String, width: Int): Vector[String] = {
    val out = Vector.newBuilder[String]
    s.split('\n').foreach { para =>
      if (para.length <= width) out += para
      else {
        var line = new StringBuilder
        para.split(' ').foreach { w =>
          if (line.length + w.length + 1 > width && line.nonEmpty) {
            out += line.toString; line = new StringBuilder
          }
          if (line.nonEmpty) line.append(' ')
          line.append(w)
        }
        if (line.nonEmpty) out += line.toString
      }
    }
    out.result()
  }

  /** Text-PDF: body split across 1–5 pages of blocks of wrapped lines. */
  def textPdfFor(docId: Long, body: String): Array[Byte] = {
    val lines = wrapLines(body, 80)
    val perPage = 60
    val nPages = math.max(1, math.min(5, (lines.length + perPage - 1) / perPage))
    val pages = (0 until nPages).map { p =>
      val pageLines = lines.slice(p * perPage, (p + 1) * perPage)
      val blocks = pageLines.grouped(4).toVector
      PdfWriter.PageSpec(blocks)
    }
    PdfWriter.build(pages, compress = unit(docId, 2) < 0.7)
  }

  /** Scanned-shaped PDF: image XObjects + very little embedded text
    * (routes to ocr, or hybrid when text is mid-range). */
  def scannedPdfFor(docId: Long, body: String): Array[Byte] = {
    val nPages = 1 + (unit(docId, 3) * 4).toInt
    val snippet = bodySnippet(body, if (docId % 40 == 16) 300 else 40)
    val pages = (0 until nPages).map { p =>
      val text =
        if (p == 0 && snippet.nonEmpty) wrapLines(snippet, 60)
        else Vector.empty[String]
      PdfWriter.PageSpec(if (text.isEmpty) Vector.empty else Vector(text),
        hasImage = true)
    }
    PdfWriter.build(pages)
  }

  private def bodySnippet(body: String, n: Int): String =
    if (body.length <= n) body else body.substring(0, n)

  /** Corrupt PDF. Two flavors, mirroring the reference's two failure
    * layers: header-only garbage → document-level error (pdfinfo AND
    * PdfReader both fail, app.py:665-671); truncated-but-scannable →
    * per-page conversion errors (app.py:715-723). */
  def corruptPdfFor(docId: Long, body: String): Array[Byte] = {
    if (docId % 40 == 18)
      s"%PDF-1.4\n@@corrupted payload $docId@@".getBytes(StandardCharsets.ISO_8859_1)
    else {
      val whole = textPdfFor(docId, body + ("relleno de pagina " * 200))
      java.util.Arrays.copyOfRange(whole, 0, (whole.length * 2) / 5)
    }
  }

  /** HTML page with boilerplate around the real content. */
  def htmlFor(docId: Long, body: String): Array[Byte] = {
    val paras = body.split('\n').filter(_.nonEmpty)
      .map(p => s"<p>${escapeHtml(p)}</p>").mkString("\n      ")
    val navLinks = (0 until 8)
      .map(i => s"""<a href="/cat/$i">Category $i news and updates</a>""")
      .mkString("<li>", "</li><li>", "</li>")
    val html =
      s"""<!DOCTYPE html>
         |<html><head><title>Document $docId</title>
         |<meta charset="utf-8"><script>var x = ${docId};</script>
         |<style>.main { color: #222; }</style></head>
         |<body>
         |  <header><nav><ul>$navLinks</ul></nav></header>
         |  <div id="sidebar"><ul>$navLinks</ul>
         |    <a href="/ads">Sponsored content click here win big</a></div>
         |  <div id="main" class="main">
         |      $paras
         |  </div>
         |  <footer><a href="/about">About</a> <a href="/tos">Terms</a>
         |    <p>© 2024 Example Org. All rights reserved.</p></footer>
         |</body></html>""".stripMargin
    html.getBytes(StandardCharsets.UTF_8)
  }

  private def escapeHtml(s: String): String =
    s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")

  /** Deterministic image dimensions for [[imageFor]] payloads — simple
    * closed form so tests can hand-compute them. */
  def imageDims(docId: Long): (Int, Int) =
    (320 + ((docId / 20) % 8).toInt * 80, 240 + ((docId / 40) % 6).toInt * 60)

  /** Image payload: deterministic fake PNG/JPEG with REAL headers —
    * correct magic bytes (so the engine's sniffing routes it) plus a
    * well-formed PNG IHDR chunk / JPEG APP0+SOF0 segment chain carrying
    * [[imageDims]], so header-level metadata extraction reads true
    * dimensions; body is SplitMix64 filler (pixels are never decoded —
    * no codecs in sandbox). The reference accepts png/jpg uploads
    * (ALLOWED_EXTENSIONS, app.py:60) and sends them down the OCR path. */
  def imageFor(docId: Long): Array[Byte] = {
    val png = (docId / 20) % 2 == 0
    val (w, h) = imageDims(docId)
    val header: Array[Byte] =
      if (png)
        // signature + IHDR: len=13, tag, w/h BE32, bit depth 8,
        // truecolor, deflate, adaptive filter, no interlace, CRC
        // (unchecked placeholder)
        Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0D, 0x0A, 0x1A, 0x0A,
          0, 0, 0, 13, 'I', 'H', 'D', 'R',
          (w >>> 24).toByte, (w >>> 16).toByte, (w >>> 8).toByte, w.toByte,
          (h >>> 24).toByte, (h >>> 16).toByte, (h >>> 8).toByte, h.toByte,
          8, 2, 0, 0, 0, 0, 0, 0, 0)
      else
        // SOI + APP0 (JFIF, len 16) + SOF0 (len 17: precision 8,
        // height/width BE16, 3 components à 3 bytes)
        Array[Byte](0xFF.toByte, 0xD8.toByte,
          0xFF.toByte, 0xE0.toByte, 0, 16, 'J', 'F', 'I', 'F', 0,
          1, 1, 0, 0, 1, 0, 1, 0, 0,
          0xFF.toByte, 0xC0.toByte, 0, 17, 8,
          (h >>> 8).toByte, h.toByte, (w >>> 8).toByte, w.toByte, 3,
          1, 0x22, 0, 2, 0x11, 1, 3, 0x11, 1)
    val n = 512 + (unit(docId, 7) * 4096).toInt
    val out = new Array[Byte](header.length + n)
    System.arraycopy(header, 0, out, 0, header.length)
    var x = docId * 0x9E3779B97F4A7C15L + 0xD1B54A32D192ED03L
    var i = header.length
    while (i < out.length) {
      x ^= x >>> 33; x *= 0xFF51AFD7ED558CCDL; x ^= x >>> 33
      out(i) = x.toByte
      i += 1
    }
    out
  }

  /** Kind selector: 0-6 html, 7 image, 8-15 text pdf, 16-17 scanned,
    * 18 corrupt, 19 upstream-text. */
  def kindFor(docId: Long): String = (docId % 20) match {
    case k if k <= 6 => "html"
    case 7 => "image"
    case k if k <= 15 => "pdf"
    case 16 | 17 => "scanned"
    case 18 => "corrupt"
    case _ => "upstream"
  }

  case class SynthPage(url: String, warc_ts: Timestamp, html: Array[Byte],
                       text: String, lang: String)

  /** Repeat a body until ≥ n chars (deterministic) — gives the corpus a
    * cohort of long text-PDFs that clear the 800-char text_extraction
    * threshold (driver doc texts are ~300-500 chars, which routes
    * everything to hybrid/ocr otherwise). */
  private def expandTo(body: String, n: Int): String = {
    if (body.isEmpty) return body
    val sb = new StringBuilder(body)
    while (sb.length < n) { sb.append('\n').append(body) }
    sb.toString
  }

  def pageFor(docId: Long, docText: String, lang: String): SynthPage = {
    val body = bodyFor(docId, docText)
    val (html, upstream) = kindFor(docId) match {
      case "html" => (htmlFor(docId, body), null)
      case "image" => (imageFor(docId), null)
      case "pdf" =>
        val b = if (docId % 3 == 0) expandTo(body, 1000) else body
        (textPdfFor(docId, b), null)
      case "scanned" => (scannedPdfFor(docId, body), null)
      case "corrupt" => (corruptPdfFor(docId, body), null)
      case _ => (htmlFor(docId, body), body)
    }
    SynthPage(urlFor(docId), new Timestamp(WarcBase + docId * 1000L),
      html, upstream, lang)
  }

  // ---- audio/video cohort (multimodal metadata queries) -------------

  /** Closed-form WAV spec for cohort member i: 8 kHz mono 16-bit PCM,
    * frames a multiple of 8 so durationMs = frames/8 exactly. Tests can
    * hand-compute: (sampleFrames, durationMs). */
  def wavSpec(i: Long): (Int, Long) = {
    val frames = 800 + (i % 16).toInt * 400
    (frames, frames / 8L)
  }

  /** Deterministic PCM WAV: real RIFF/fmt/data chunks carrying
    * [[wavSpec]]'s geometry; sample payload is SplitMix64 filler (the
    * samples are never decoded — header metadata only). */
  def wavFor(i: Long): Array[Byte] = {
    val (frames, _) = wavSpec(i)
    val dataBytes = frames * 2 // mono 16-bit
    val out = new Array[Byte](44 + dataBytes)
    def w32le(o: Int, v: Long): Unit = {
      out(o) = v.toByte; out(o + 1) = (v >>> 8).toByte
      out(o + 2) = (v >>> 16).toByte; out(o + 3) = (v >>> 24).toByte
    }
    def w16le(o: Int, v: Int): Unit = {
      out(o) = v.toByte; out(o + 1) = (v >>> 8).toByte
    }
    def tag(o: Int, s: String): Unit =
      (0 until 4).foreach(j => out(o + j) = s(j).toByte)
    tag(0, "RIFF"); w32le(4, 36L + dataBytes); tag(8, "WAVE")
    tag(12, "fmt "); w32le(16, 16)
    w16le(20, 1) // PCM
    w16le(22, 1) // mono
    w32le(24, 8000) // sample rate
    w32le(28, 16000) // byte rate
    w16le(32, 2) // block align
    w16le(34, 16) // bits/sample
    tag(36, "data"); w32le(40, dataBytes)
    var x = i * 0x9E3779B97F4A7C15L + 0xD1B54A32D192ED03L
    var j = 44
    while (j < out.length) {
      x ^= x >>> 33; x *= 0xFF51AFD7ED558CCDL; x ^= x >>> 33
      out(j) = x.toByte
      j += 1
    }
    out
  }

  /** Closed-form MP4 duration (ms) for cohort member i. */
  def mp4DurationMs(i: Long): Long = 100L * (i % 50 + 5)

  /** Closed-form MP4 frame count for cohort member i — the sum of the
    * two stts entries [[mp4For]] writes ((frames−5, delta 512) and
    * (5, delta 256)), so tests exercise real multi-entry summation. */
  def mp4Frames(i: Long): Long = 12L + 3L * (i % 16)

  /** Deterministic minimal MP4: ftyp + moov(mvhd v0 with timescale 600
    * and duration 600·durationMs/1000, plus a trak→mdia→minf→stbl→stts
    * tree whose two stts entries sum to [[mp4Frames]]) + an mdat filler
    * box. */
  def mp4For(i: Long): Array[Byte] = {
    val mdat = 256
    // moov = 8 + mvhd(108) + trak(64); trak = 8 + mdia(56);
    // mdia = 8 + minf(48); minf = 8 + stbl(40); stbl = 8 + stts(32)
    val out = new Array[Byte](16 + 180 + 8 + mdat)
    def w32be(o: Int, v: Long): Unit = {
      out(o) = (v >>> 24).toByte; out(o + 1) = (v >>> 16).toByte
      out(o + 2) = (v >>> 8).toByte; out(o + 3) = v.toByte
    }
    def tag(o: Int, s: String): Unit =
      (0 until 4).foreach(j => out(o + j) = s(j).toByte)
    w32be(0, 16); tag(4, "ftyp"); tag(8, "isom"); w32be(12, 0)
    w32be(16, 180); tag(20, "moov")
    w32be(24, 108); tag(28, "mvhd") // v0 mvhd is 108 bytes
    // +8 version/flags = 0; creation/modification 0
    w32be(44, 600) // timescale (ticks/sec)
    w32be(48, mp4DurationMs(i) * 600 / 1000) // duration in ticks
    w32be(52, 0x00010000L) // rate 1.0
    // volume/reserved/matrix/predefined stay 0; next_track_id:
    w32be(128, 2)
    w32be(132, 64); tag(136, "trak")
    w32be(140, 56); tag(144, "mdia")
    w32be(148, 48); tag(152, "minf")
    w32be(156, 40); tag(160, "stbl")
    w32be(164, 32); tag(168, "stts")
    // stts: version/flags 0 at 172, entry_count 2 at 176, then
    // (sample_count, sample_delta) pairs
    w32be(176, 2)
    w32be(180, mp4Frames(i) - 5); w32be(184, 512)
    w32be(188, 5); w32be(192, 256)
    w32be(196, mdat + 8L); tag(200, "mdat")
    var x = i * 0xC2B2AE3D27D4EB4FL + 0x165667B19E3779F9L
    var j = 204
    while (j < out.length) {
      x ^= x >>> 33; x *= 0xFF51AFD7ED558CCDL; x ^= x >>> 33
      out(j) = x.toByte
      j += 1
    }
    out
  }

  /** Closed-form TIFF dimensions for cohort member i. */
  def tiffDims(i: Long): (Int, Int) =
    (640 + 16 * (i % 8).toInt, 480 + 12 * (i % 5).toInt)

  /** Deterministic TIFF: real header + IFD0 with ImageWidth/ImageLength
    * carrying [[tiffDims]]; alternates byte order (even i little-endian
    * `II*\0`, odd big-endian `MM\0*`) AND tag value type (even LONG,
    * odd SHORT) so both reader paths are exercised; strip data is
    * SplitMix64 filler (pixels never decoded). */
  def tiffFor(i: Long): Array[Byte] = {
    val little = i % 2 == 0
    val n = 38 + 128 + (i % 7).toInt * 32
    val out = new Array[Byte](n)
    def w16(o: Int, v: Int): Unit =
      if (little) { out(o) = v.toByte; out(o + 1) = (v >>> 8).toByte }
      else { out(o) = (v >>> 8).toByte; out(o + 1) = v.toByte }
    def w32(o: Int, v: Long): Unit =
      if (little) {
        out(o) = v.toByte; out(o + 1) = (v >>> 8).toByte
        out(o + 2) = (v >>> 16).toByte; out(o + 3) = (v >>> 24).toByte
      } else {
        out(o) = (v >>> 24).toByte; out(o + 1) = (v >>> 16).toByte
        out(o + 2) = (v >>> 8).toByte; out(o + 3) = v.toByte
      }
    if (little) { out(0) = 'I'; out(1) = 'I'; out(2) = 0x2A; out(3) = 0 }
    else { out(0) = 'M'; out(1) = 'M'; out(2) = 0; out(3) = 0x2A }
    w32(4, 8) // IFD0 offset
    val (w, h) = tiffDims(i)
    val typ = if (little) 4 else 3 // LONG vs SHORT value encoding
    w16(8, 2) // entry count
    w16(10, 256); w16(12, typ); w32(14, 1) // ImageWidth
    if (typ == 4) w32(18, w) else w16(18, w)
    w16(22, 257); w16(24, typ); w32(26, 1) // ImageLength
    if (typ == 4) w32(30, h) else w16(30, h)
    w32(34, 0) // next-IFD offset: none
    var x = i * 0x9E3779B97F4A7C15L + 0x165667B19E3779F9L
    var j = 38
    while (j < out.length) {
      x ^= x >>> 33; x *= 0xFF51AFD7ED558CCDL; x ^= x >>> 33
      out(j) = x.toByte
      j += 1
    }
    out
  }

  /** Auxiliary a/v+tiff media table for the multimodal queries: `n`
    * WAV, `n` MP4, and `n` TIFF payloads under negative ids, built
    * distributed — no driver-side byte arrays. Unioned with the
    * pages-derived media in m1/m2 so the metadata engine is exercised
    * on every container it parses. The negative id space overlaps
    * xxhash64(url) in principle (xxhash64 is full-range), but a
    * collision with these 3n specific ids has probability 3n/2^64 per
    * url — astronomically unlikely, and harmless (the union would
    * merely carry two rows with one id). */
  def avMediaDF(spark: SparkSession, n: Int): DataFrame = {
    import spark.implicits._
    spark.range(0, n.toLong * 3)
      .as[Long]
      .map { i =>
        val id = -(i + 1)
        val bytes = (i % 3) match {
          case 0 => wavFor(i / 3)
          case 1 => mp4For(i / 3)
          case _ => tiffFor(i / 3)
        }
        (id, bytes)
      }
      .toDF("id", "html")
  }

  /** The pages table as a DataFrame, synthesized lazily from
    * `{sfDir}/documents.parquet`. Column pruning still applies upstream
    * (only doc_id/text/lang are read). `replicate` fans each document
    * out to N distinct pages (distinct doc ids → distinct urls/bodies) —
    * used to size bench corpora; correctness queries use the default 1
    * so their outputs stay stable. */
  def pagesDF(spark: SparkSession, sfDir: String,
              replicate: Int = 1): DataFrame = {
    import spark.implicits._
    val base = spark.read.parquet(s"$sfDir/documents.parquet")
      .select($"doc_id", $"text", $"lang")
      .as[(Long, String, String)]
    val fanned =
      if (replicate <= 1) base
      else base.flatMap { case (id, text, lang) =>
        (0 until replicate).map(r => (id + r * 10000000L, text, lang))
      }
    // documents.parquet is a single file (one input split): spread the
    // generator across the session's parallelism — deterministic hash
    // repartition on doc_id, NOT round-robin.
    val parts = math.max(
      spark.sessionState.conf.numShufflePartitions,
      spark.sparkContext.defaultParallelism)
    fanned.toDF("doc_id", "text", "lang")
      .repartition(parts, $"doc_id")
      .as[(Long, String, String)]
      .map { case (id, text, lang) => pageFor(id, text, lang) }.toDF()
  }

  /** Materialize the pages table once per (sfDir, workRoot) as parquet —
    * benches and repeated queries then read columnar storage instead of
    * re-synthesizing. Atomic via rename; safe to call concurrently
    * within one JVM. */
  def ensurePages(spark: SparkSession, sfDir: String,
                  workRoot: String = "/tmp/graft_pages",
                  replicate: Int = 1): String = synchronized {
    val sfName = new java.io.File(sfDir).getName +
      (if (replicate > 1) s"_x$replicate" else "")
    val dest = new java.io.File(workRoot, sfName)
    val marker = new java.io.File(dest, "_SUCCESS")
    if (!marker.exists()) {
      val tmp = new java.io.File(workRoot, s".tmp_$sfName")
      org.apache.commons.io.FileUtils.deleteQuietly(tmp)
      // many files → many input splits: a single parquet file would cap
      // the downstream scan stage at one task regardless of cores. The
      // output is local (published by File.renameTo), so it is written
      // through LakeTable.LocalFs: no chmod process per file.
      pagesDF(spark, sfDir, replicate)
        .repartition(64, col("url")).sortWithinPartitions("url")
        .write.options(LakeTable.LocalFs.options)
        .mode("overwrite").parquet(tmp.getPath)
      org.apache.commons.io.FileUtils.deleteQuietly(dest)
      if (!tmp.renameTo(dest))
        throw new java.io.IOException(s"rename $tmp -> $dest failed")
    }
    dest.getPath
  }
}
