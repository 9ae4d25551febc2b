package ocrspark.parse

import java.nio.charset.StandardCharsets
import java.util.zip.Inflater

/** Minimal PDF text extractor — plays the role of PyPDF2's
  * `PdfReader.pages[i].extract_text()` plus the image-XObject walk in the
  * reference's analyzer (`/root/reference/app.py:251-276,621-631`), over
  * the honest subset [[PdfWriter]] emits (SURVEY.md §2.9, §7.5 risk 3):
  * classic xref + trailer (with linear-scan fallback for damaged files),
  * Flate or raw content streams, BT/ET Td/TD/Tm/T* Tj/TJ text operators.
  *
  * Output reconstructs page → block → line spans by content order with
  * y-coordinates (the north star's layout parse): one block per BT/ET
  * text object, one line per Tj/TJ span group.
  *
  * Everything here is row-local: the parser runs inside a UDF on
  * executors; per-page failures degrade to a page-level `error` (the
  * reference's per-page exception contract), document-level failures to
  * `Left(msg)` (reference routes those to OCR, app.py:299-301).
  */
object PdfExtract {

  // ------------------------------------------------------------------
  // object model
  // ------------------------------------------------------------------
  sealed trait PVal
  case class PNum(v: Double) extends PVal
  case class PName(s: String) extends PVal
  case class PStr(s: String) extends PVal
  case class PBool(b: Boolean) extends PVal
  case object PNull extends PVal
  case class PArr(v: Vector[PVal]) extends PVal
  case class PDict(m: Map[String, PVal]) extends PVal
  case class PRef(num: Int) extends PVal
  case class PStream(dict: PDict, data: Array[Byte]) extends PVal

  case class Line(y: Double, x: Double, text: String)
  case class Block(y: Double, lines: Vector[Line])
  case class Page(page: Int, blocks: Vector[Block], text: String,
                  hasImage: Boolean, error: String)
  case class Doc(pageCount: Int, pages: Vector[Page])

  class PdfError(msg: String) extends RuntimeException(msg)

  // ------------------------------------------------------------------
  // lexer
  // ------------------------------------------------------------------
  private class Lexer(val b: Array[Byte], var p: Int) {
    def len: Int = b.length
    @inline def peek: Int = if (p < len) b(p) & 0xFF else -1
    @inline def at(i: Int): Int = if (i < len) b(i) & 0xFF else -1
    def isWs(c: Int): Boolean =
      c == ' ' || c == '\n' || c == '\r' || c == '\t' || c == 0 || c == 12
    def isDelim(c: Int): Boolean =
      c == '(' || c == ')' || c == '<' || c == '>' || c == '[' || c == ']' ||
        c == '{' || c == '}' || c == '/' || c == '%'
    def skipWs(): Unit = {
      var go = true
      while (go) {
        while (p < len && isWs(peek)) p += 1
        if (peek == '%') { while (p < len && peek != '\n' && peek != '\r') p += 1 }
        else go = false
      }
    }
    def token(): String = { // bare keyword/number token
      skipWs()
      val s = p
      while (p < len && !isWs(peek) && !isDelim(peek)) p += 1
      new String(b, s, p - s, StandardCharsets.ISO_8859_1)
    }

    /** Fast path for content-stream numbers: [+-]?digits[.digits]
      * parsed directly from bytes (no String, no ref-lookahead — content
      * streams contain no indirect references). Falls back to
      * Double.parseDouble via token() on long/exotic forms so the value
      * is bit-identical to the general path. */
    def parseNumber(): Double = {
      skipWs()
      val s = p
      var neg = false
      if (peek == '+') p += 1
      else if (peek == '-') { neg = true; p += 1 }
      // accumulate ALL digits into one long and divide once by 10^frac:
      // both operands exact for ≤15 digits, so the single IEEE division
      // equals Double.parseDouble's correctly-rounded result
      var mantissa = 0L
      var digits = 0
      var fracDigits = -1 // -1 = no dot seen
      var exotic = false
      var go = true
      while (go && p < len) {
        val ch = peek
        if (ch >= '0' && ch <= '9') {
          mantissa = mantissa * 10 + (ch - '0'); digits += 1
          if (fracDigits >= 0) fracDigits += 1
          p += 1
        } else if (ch == '.') {
          if (fracDigits >= 0) exotic = true // second dot
          fracDigits = 0
          p += 1
        } else go = false
      }
      if (exotic || digits == 0 || digits > 15 ||
          (p < len && !isWs(peek) && !isDelim(peek))) {
        // exotic (1e5, 1.2.3, empty, trailing junk) — general path
        p = s
        return token().toDouble
      }
      val value =
        if (fracDigits <= 0) mantissa.toDouble
        else mantissa / math.pow(10, fracDigits)
      if (neg) -value else value
    }
    def expect(kw: String): Unit = {
      val t = token()
      if (t != kw) throw new PdfError(s"expected '$kw' got '$t' @$p")
    }

    def parseVal(): PVal = {
      skipWs()
      peek match {
        case '/' =>
          p += 1
          val s = p
          while (p < len && !isWs(peek) && !isDelim(peek)) p += 1
          PName(new String(b, s, p - s, StandardCharsets.ISO_8859_1))
        case '(' => parseLiteralString()
        case '<' =>
          if (at(p + 1) == '<') parseDict()
          else parseHexString()
        case '[' =>
          p += 1
          val items = Vector.newBuilder[PVal]
          skipWs()
          while (peek != ']') {
            items += parseVal(); skipWs()
            if (p >= len) throw new PdfError("unterminated array")
          }
          p += 1
          PArr(items.result())
        case c if c == '+' || c == '-' || c == '.' || (c >= '0' && c <= '9') =>
          parseNumberOrRef()
        case _ =>
          token() match {
            case "true" => PBool(true)
            case "false" => PBool(false)
            case "null" => PNull
            case t => throw new PdfError(s"unexpected token '$t' @$p")
          }
      }
    }

    private def parseNumberOrRef(): PVal = {
      val save = p
      val t1 = token()
      val n1 = try t1.toDouble catch {
        case _: NumberFormatException => throw new PdfError(s"bad number '$t1'")
      }
      // lookahead for "G R" (indirect reference)
      if (n1 == math.floor(n1) && n1 >= 0) {
        val save2 = p
        skipWs()
        val c = peek
        if (c >= '0' && c <= '9') {
          val t2 = token()
          skipWs()
          if (t2.forall(_.isDigit) && peek == 'R' &&
              (isWs(at(p + 1)) || isDelim(at(p + 1)) || at(p + 1) == -1)) {
            p += 1
            return PRef(n1.toInt)
          }
        }
        p = save2
      }
      PNum(n1)
    }

    def parseDict(): PVal = {
      p += 2 // <<
      var m = Map.empty[String, PVal]
      skipWs()
      while (!(peek == '>' && at(p + 1) == '>')) {
        if (p >= len) throw new PdfError("unterminated dict")
        val k = parseVal() match {
          case PName(s) => s
          case other => throw new PdfError(s"dict key not a name: $other")
        }
        m += (k -> parseVal())
        skipWs()
      }
      p += 2
      PDict(m)
    }

    private def parseLiteralString(): PStr = {
      p += 1
      val out = new java.io.ByteArrayOutputStream
      var depth = 1
      while (depth > 0) {
        if (p >= len) throw new PdfError("unterminated string")
        val c = peek; p += 1
        c match {
          case '\\' =>
            val e = peek; p += 1
            e match {
              case 'n' => out.write('\n')
              case 'r' => out.write('\r')
              case 't' => out.write('\t')
              case 'b' => out.write('\b')
              case 'f' => out.write(12)
              case '(' => out.write('(')
              case ')' => out.write(')')
              case '\\' => out.write('\\')
              case '\n' => () // line continuation
              case '\r' => if (peek == '\n') p += 1
              case d if d >= '0' && d <= '7' =>
                var v = d - '0'
                var k = 0
                while (k < 2 && peek >= '0' && peek <= '7') {
                  v = v * 8 + (peek - '0'); p += 1; k += 1
                }
                out.write(v & 0xFF)
              case other => out.write(other)
            }
          case '(' => depth += 1; out.write('(')
          case ')' =>
            depth -= 1
            if (depth > 0) out.write(')')
          case other => out.write(other)
        }
      }
      PStr(decodeTextString(out.toByteArray))
    }

    private def parseHexString(): PStr = {
      p += 1
      val out = new java.io.ByteArrayOutputStream
      var hi = -1
      while (peek != '>') {
        if (p >= len) throw new PdfError("unterminated hex string")
        val c = peek; p += 1
        val d = Character.digit(c, 16)
        if (d >= 0) {
          if (hi < 0) hi = d
          else { out.write(hi * 16 + d); hi = -1 }
        }
      }
      p += 1
      if (hi >= 0) out.write(hi * 16) // odd final digit: pad 0
      PStr(decodeTextString(out.toByteArray))
    }
  }

  /** PDF text-string decode: UTF-16BE when BOM-prefixed, else Latin-1
    * (stand-in for PDFDocEncoding, which is Latin-1-compatible over our
    * writer's output range). */
  private def decodeTextString(bytes: Array[Byte]): String =
    if (bytes.length >= 2 && (bytes(0) & 0xFF) == 0xFE && (bytes(1) & 0xFF) == 0xFF)
      new String(bytes, 2, bytes.length - 2, StandardCharsets.UTF_16BE)
    else new String(bytes, StandardCharsets.ISO_8859_1)

  // ------------------------------------------------------------------
  // document structure
  // ------------------------------------------------------------------
  private def find(b: Array[Byte], needle: String, from: Int): Int = {
    val n = needle.getBytes(StandardCharsets.ISO_8859_1)
    var i = from
    val last = b.length - n.length
    while (i <= last) {
      var j = 0
      while (j < n.length && b(i + j) == n(j)) j += 1
      if (j == n.length) return i
      i += 1
    }
    -1
  }

  /** Last occurrence, scanning BACKWARD — startxref/trailer sit near the
    * end of the file, so this is O(tail) not O(file). */
  private def rfind(b: Array[Byte], needle: String): Int = {
    val n = needle.getBytes(StandardCharsets.ISO_8859_1)
    var i = b.length - n.length
    while (i >= 0) {
      var j = 0
      while (j < n.length && b(i + j) == n(j)) j += 1
      if (j == n.length) return i
      i -= 1
    }
    -1
  }

  /** Object offsets via the xref table; throws on any irregularity
    * (caller falls back to linear scan). */
  private def xrefOffsets(b: Array[Byte]): Map[Int, Int] = {
    val sx = rfind(b, "startxref")
    if (sx < 0) throw new PdfError("no startxref")
    val lx = new Lexer(b, sx)
    lx.expect("startxref")
    val xrefPos = lx.token().toInt
    val l = new Lexer(b, xrefPos)
    l.expect("xref")
    var offsets = Map.empty[Int, Int]
    var more = true
    while (more) {
      l.skipWs()
      if (l.peek == 't') more = false // trailer
      else {
        val start = l.token().toInt
        val count = l.token().toInt
        var i = 0
        while (i < count) {
          val off = l.token().toInt
          l.token() // generation
          val kind = l.token()
          if (kind == "n") offsets += ((start + i) -> off)
          else if (kind != "f") throw new PdfError(s"bad xref kind '$kind'")
          i += 1
        }
      }
    }
    offsets
  }

  /** Fallback: linear scan for "N 0 obj" headers. */
  private def scanOffsets(b: Array[Byte]): Map[Int, Int] = {
    var offsets = Map.empty[Int, Int]
    var i = find(b, " obj", 0)
    while (i >= 0) {
      // walk back over "N G"
      var j = i - 1
      while (j >= 0 && (b(j) & 0xFF).toChar.isDigit) j -= 1 // generation
      val genStart = j + 1
      if (genStart < i && j >= 0 && b(j) == ' ') {
        var k = j - 1
        while (k >= 0 && (b(k) & 0xFF).toChar.isDigit) k -= 1
        val numStart = k + 1
        if (numStart < j) {
          val num = new String(b, numStart, j - numStart,
            StandardCharsets.ISO_8859_1).toInt
          offsets += (num -> numStart)
        }
      }
      i = find(b, " obj", i + 1)
    }
    offsets
  }

  private class Objects(b: Array[Byte], offsets: Map[Int, Int]) {
    private val cache = scala.collection.mutable.Map.empty[Int, PVal]
    // objects currently being loaded: a corrupt file whose object graph
    // is cyclic (e.g. `1 0 obj 2 0 R` / `2 0 obj 1 0 R`, or a stream
    // whose /Length references itself) would otherwise recurse until
    // StackOverflowError — an Error, which escapes the per-row UDF's
    // `catch Exception` and kills the Spark task instead of degrading
    // to a parse error
    private val loading = scala.collection.mutable.Set.empty[Int]

    def apply(num: Int): PVal = cache.getOrElse(num, {
      if (!loading.add(num)) throw new PdfError(s"circular object ref $num")
      try {
        val v = load(num)
        cache(num) = v
        v
      } finally loading.remove(num)
    })

    def resolve(v: PVal): PVal = {
      var cur = v
      var depth = 0
      while (cur.isInstanceOf[PRef]) {
        if (depth > 64) throw new PdfError("indirect reference chain too deep")
        cur = apply(cur.asInstanceOf[PRef].num)
        depth += 1
      }
      cur
    }

    private def load(num: Int): PVal = {
      val off = offsets.getOrElse(num, throw new PdfError(s"missing obj $num"))
      val l = new Lexer(b, off)
      l.expect(num.toString)
      l.expect("0")
      l.expect("obj")
      val v = l.parseVal()
      l.skipWs()
      // stream?
      if (l.peek == 's' && l.at(l.p + 1) == 't' &&
          new String(b, l.p, math.min(6, b.length - l.p),
            StandardCharsets.ISO_8859_1) == "stream") {
        l.p += 6
        if (l.peek == '\r') l.p += 1
        if (l.peek == '\n') l.p += 1
        val dict = v match {
          case d: PDict => d
          case other => throw new PdfError(s"stream without dict: $other")
        }
        val length = resolve(dict.m.getOrElse("Length",
          throw new PdfError("stream missing /Length"))) match {
          case PNum(n) => n.toInt
          case other => throw new PdfError(s"bad /Length $other")
        }
        if (l.p + length > b.length) throw new PdfError("stream overruns file")
        val data = java.util.Arrays.copyOfRange(b, l.p, l.p + length)
        PStream(dict, data)
      } else v
    }
  }

  /** Decompressed-size cap per stream: a crafted flate bomb (KBs of
    * input inflating to GBs — /Length only bounds the COMPRESSED side)
    * must fail the page, not OOM the executor. 64 MiB is ~100× the
    * largest realistic single content stream. */
  private val MaxInflatedBytes = 64 << 20

  private def inflate(data: Array[Byte]): Array[Byte] = {
    val inf = new Inflater()
    inf.setInput(data)
    // initial size ≤ 1 MiB; min() before the multiply, so a > 512 MiB
    // stream cannot overflow Int into a negative size
    val out = new java.io.ByteArrayOutputStream(math.min(data.length, 1 << 18) * 4)
    val buf = new Array[Byte](8192)
    try {
      while (!inf.finished()) {
        val n = inf.inflate(buf)
        if (n == 0 && !inf.finished()) {
          // zero progress and not done: truncated input, an FDICT zlib
          // header (needsDictionary — inflate() would return 0 with
          // needsInput() false forever), or any other stuck state. All
          // must throw or this loop never exits.
          if (inf.needsInput()) throw new PdfError("truncated flate data")
          if (inf.needsDictionary())
            throw new PdfError("flate stream requires preset dictionary")
          throw new PdfError("flate stream makes no progress")
        }
        out.write(buf, 0, n)
        if (out.size() > MaxInflatedBytes)
          throw new PdfError(s"flate stream exceeds $MaxInflatedBytes bytes")
      }
    } finally inf.end()
    out.toByteArray
  }

  private def streamData(s: PStream, objs: Objects): Array[Byte] =
    objs.resolve(s.dict.m.getOrElse("Filter", PNull)) match {
      case PName("FlateDecode") => inflate(s.data)
      case PNull => s.data
      case PArr(Vector(PName("FlateDecode"))) => inflate(s.data)
      case other => throw new PdfError(s"unsupported filter $other")
    }

  // ------------------------------------------------------------------
  // content-stream text extraction
  // ------------------------------------------------------------------
  private def extractBlocks(content: Array[Byte]): Vector[Block] = {
    val l = new Lexer(content, 0)
    val blocks = Vector.newBuilder[Block]
    var curLines: Vector[Line] = Vector.empty
    var inText = false
    var x = 0.0
    var y = 0.0
    var leading = 14.0
    val operands = scala.collection.mutable.ArrayBuffer.empty[PVal]

    def num(i: Int): Double = operands(operands.length - i) match {
      case PNum(v) => v
      case _ => 0.0
    }
    def emit(s: String): Unit =
      if (inText) curLines :+= Line(y, x, s)
    def flushBlock(): Unit = {
      if (curLines.nonEmpty) blocks += Block(curLines.head.y, curLines)
      curLines = Vector.empty
    }

    while ({ l.skipWs(); l.p < l.len }) {
      val c = l.peek
      if (c == '+' || c == '-' || c == '.' || (c >= '0' && c <= '9')) {
        operands += PNum(l.parseNumber()) // no refs in content streams
      } else if (c == '/' || c == '(' || c == '<' || c == '[') {
        operands += l.parseVal()
      } else {
        val op = l.token()
        // a stray delimiter byte (')', ']', '>', '{', '}' — e.g. inline
        // image data, which is raw binary between ID..EI) makes token()
        // return "" WITHOUT advancing: skip the byte or this loop spins
        // forever on the same position
        if (op.isEmpty) l.p += 1
        op match {
          case "BT" => inText = true; x = 0; y = 0; flushBlock()
          case "ET" => inText = false; flushBlock()
          case "Td" if operands.length >= 2 => x += num(2); y += num(1)
          case "TD" if operands.length >= 2 =>
            leading = -num(1); x += num(2); y += num(1)
          case "Tm" if operands.length >= 6 => x = num(2); y = num(1)
          case "T*" => y -= leading
          case "TL" if operands.length >= 1 => leading = num(1)
          case "Tj" if operands.length >= 1 =>
            operands.last match { case PStr(s) => emit(s); case _ => () }
          case "TJ" if operands.length >= 1 =>
            operands.last match {
              case PArr(items) =>
                emit(items.collect { case PStr(s) => s }.mkString)
              case _ => ()
            }
          case "'" if operands.length >= 1 =>
            y -= leading
            operands.last match { case PStr(s) => emit(s); case _ => () }
          case _ => () // Tf, graphics ops, Do, q/Q, cm … — ignored
        }
        operands.clear()
      }
    }
    flushBlock()
    blocks.result()
  }

  // ------------------------------------------------------------------
  // public API
  // ------------------------------------------------------------------

  /** Parse a PDF. Left(reason) for document-level failure; per-page
    * failures surface as Page(error != null). */
  /** Parse a PDF. `maxTextPages` bounds how many pages get their content
    * streams decoded and text extracted (the page tree and page count
    * always cover the whole document) — the analyzer samples only the
    * first 3 pages (reference app.py:258-261), so the analyze fast path
    * passes 3 and skips decompress+text for the rest. */
  def parse(bytes: Array[Byte], maxTextPages: Int = Int.MaxValue): Either[String, Doc] = {
    try {
      if (bytes == null || bytes.length < 8 ||
          new String(bytes, 0, 5, StandardCharsets.ISO_8859_1) != "%PDF-")
        return Left("not a PDF (missing %PDF- header)")

      val offsets =
        try xrefOffsets(bytes)
        catch { case _: Exception => scanOffsets(bytes) }
      if (offsets.isEmpty) return Left("no objects found")
      val objs = new Objects(bytes, offsets)

      // trailer /Root, fallback: find the catalog by type
      val root: PDict = {
        val viaTrailer =
          try {
            val tpos = rfind(bytes, "trailer")
            if (tpos < 0) None
            else {
              val l = new Lexer(bytes, tpos)
              l.expect("trailer")
              l.parseVal() match {
                case PDict(m) => m.get("Root").map(objs.resolve).collect {
                  case d: PDict => d
                }
                case _ => None
              }
            }
          } catch { case _: Exception => None }
        viaTrailer.orElse {
          offsets.keys.toVector.sorted.iterator.map(n =>
            try objs.resolve(objs(n)) catch { case _: Exception => PNull })
            .collectFirst { case d @ PDict(m) if m.get("Type").contains(PName("Catalog")) => d }
        }.getOrElse(throw new PdfError("no catalog"))
      }

      val pagesDict = objs.resolve(root.m.getOrElse("Pages",
        throw new PdfError("catalog missing /Pages"))) match {
        case d: PDict => d
        case other => throw new PdfError(s"bad /Pages $other")
      }
      val kids = objs.resolve(pagesDict.m.getOrElse("Kids", PArr(Vector()))) match {
        case PArr(v) => v
        case _ => Vector.empty
      }

      val pages = kids.zipWithIndex.take(maxTextPages).map { case (kidRef, idx) =>
        val pageNum = idx + 1
        try {
          val pd = objs.resolve(kidRef) match {
            case d: PDict => d
            case other => throw new PdfError(s"bad page obj $other")
          }
          val hasImage = (for {
            res <- pd.m.get("Resources").map(objs.resolve)
            resDict <- Some(res).collect { case d: PDict => d }
            xo <- resDict.m.get("XObject").map(objs.resolve)
            xoDict <- Some(xo).collect { case d: PDict => d }
          } yield xoDict.m.values.exists { ref =>
            objs.resolve(ref) match {
              case PStream(d, _) => d.m.get("Subtype").contains(PName("Image"))
              case PDict(m) => m.get("Subtype").contains(PName("Image"))
              case _ => false
            }
          }).getOrElse(false)

          val blocks = pd.m.get("Contents").map(objs.resolve) match {
            case Some(s: PStream) => extractBlocks(streamData(s, objs))
            case Some(PArr(parts)) =>
              val all = new java.io.ByteArrayOutputStream
              parts.foreach { pr =>
                objs.resolve(pr) match {
                  case s: PStream =>
                    val d = streamData(s, objs); all.write(d, 0, d.length)
                  case _ => ()
                }
              }
              extractBlocks(all.toByteArray)
            case _ => Vector.empty
          }
          val text = blocks.iterator
            .flatMap(_.lines.iterator.map(_.text)).mkString("\n")
          Page(pageNum, blocks, text, hasImage, null)
        } catch {
          case e: Exception =>
            Page(pageNum, Vector.empty, "", hasImage = false,
              error = s"${e.getClass.getSimpleName}: ${e.getMessage}")
        }
      }
      Right(Doc(kids.length, pages))
    } catch {
      case e: Exception => Left(String.valueOf(e.getMessage))
    }
  }

}
