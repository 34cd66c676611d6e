package graft.kernel

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.ISO_8859_1

/** Hand-built PDF layout parser + page chunker.
  *
  * Re-implements from scratch the per-chunk text-extraction contract of the
  * reference (`/root/reference/app/services/ocr.py:31-77`: PDF bytes →
  * `{text, pages[{page_number, dimensions{width,height},
  * layout{confidence}}]}`) and the ≤10-page PDF splitter
  * (`/root/reference/app/services/pdf_splitter.py:46-129`,
  * `max_pages_per_chunk=10` at `pdf_splitter.py:12`).
  *
  * Supported PDF subset (documented scope):
  *  - classic xref-table files AND PDF 1.5+ cross-reference streams
  *    (`/Type /XRef`, W-field decoding, `/Prev` chains, PNG-predictor
  *    DecodeParms) with compressed object streams (`/Type /ObjStm`) —
  *    the layout virtually every post-2005 real-crawl PDF uses; objects
  *    are located by a full body scan (robust to stale xref offsets),
  *    ObjStm members are expanded from the decoded stream, and the
  *    newest xref chain's type-2 entries pick the current version when
  *    an object exists both directly and compressed;
  *  - trailer `/Root` → page-tree walk in Kids order with MediaBox
  *    inheritance; 1.5 files without a `trailer` keyword recover the
  *    trailer dict from the xref stream dictionaries (newest-wins merge
  *    along the `/Prev` chain);
  *  - streams with direct or indirect `/Length`, `/Filter /FlateDecode`
  *    or none, `/DecodeParms` PNG predictors (2–15);
  *  - content-stream text operators `BT ET Tf Td TD T* Tm Tj TJ ' "`;
  *    literal strings (escapes, octal, nested parens) and hex strings.
  *
  * === Text normalization spec (FROZEN — byte-identity contract) ===
  *  - Every `Td / TD / T* / Tm` after text has been shown in the current BT block
  *    emits exactly one '\n'; `'` and `"` emit '\n' before their string.
  *  - `TJ` concatenates its strings; kerning numbers are ignored.
  *  - Page text always ends with a single '\n', so chunk text is the plain
  *    concatenation of page texts and document text is the plain
  *    concatenation of chunk texts in chunk order (associative — the merge
  *    order contract of `/root/reference/app/services/document_saver.py:76-81`).
  *  - String bytes decode as Latin-1 (writer emits ASCII).
  */
object Pdf {

  // ------------------------------------------------------------ object model
  sealed trait PObj
  final case class PNum(v: Double) extends PObj
  final case class PName(v: String) extends PObj
  final case class PStr(bytes: Array[Byte]) extends PObj
  final case class PArr(items: Vector[PObj]) extends PObj
  final case class PDict(m: Map[String, PObj]) extends PObj
  final case class PRef(num: Int) extends PObj
  final case class PBool(v: Boolean) extends PObj
  case object PNull extends PObj
  final case class PStream(dict: PDict, raw: Array[Byte]) extends PObj

  final class ParseError(msg: String) extends RuntimeException(msg)

  // ------------------------------------------------------------------ lexer
  /** Positional parser over the PDF bytes viewed as Latin-1 (1:1 bytes). */
  private final class Lexer(val s: String) {
    var pos = 0
    def eof: Boolean = pos >= s.length
    private def isWs(c: Char) = c == ' ' || c == '\n' || c == '\r' || c == '\t' || c == '\u0000' || c == '\f'
    private def isDelim(c: Char) = "()<>[]{}/%".indexOf(c) >= 0
    def skipWs(): Unit = {
      var go = true
      while (go && !eof) {
        val c = s.charAt(pos)
        if (isWs(c)) pos += 1
        else if (c == '%') { while (!eof && s.charAt(pos) != '\n' && s.charAt(pos) != '\r') pos += 1 }
        else go = false
      }
    }
    def peek: Char = if (eof) ' ' else s.charAt(pos)
    def startsWith(lit: String): Boolean = s.regionMatches(pos, lit, 0, lit.length)

    def parseObj(): PObj = {
      skipWs()
      if (eof) throw new ParseError("eof")
      val c = peek
      if (c == '/') { // name
        pos += 1
        val b = pos
        while (!eof && !isWs(s.charAt(pos)) && !isDelim(s.charAt(pos))) pos += 1
        PName(s.substring(b, pos))
      } else if (startsWith("<<")) {
        pos += 2
        val m = Map.newBuilder[String, PObj]
        var go = true
        while (go) {
          skipWs()
          if (startsWith(">>")) { pos += 2; go = false }
          else if (eof) go = false
          else parseObj() match {
            case PName(k) => m += k -> parseObj()
            case _        => throw new ParseError(s"dict key not a name @$pos")
          }
        }
        PDict(m.result())
      } else if (c == '<') { // hex string
        pos += 1
        val b = new ByteArrayOutputStream()
        var hi = -1
        while (!eof && peek != '>') {
          val h = Character.digit(peek, 16)
          if (h >= 0) { if (hi < 0) hi = h else { b.write(hi * 16 + h); hi = -1 } }
          pos += 1
        }
        if (hi >= 0) b.write(hi * 16)
        if (!eof) pos += 1
        PStr(b.toByteArray)
      } else if (c == '(') { // literal string
        pos += 1
        val b = new ByteArrayOutputStream()
        var depth = 1
        while (!eof && depth > 0) {
          val ch = s.charAt(pos)
          if (ch == '\\' && pos + 1 < s.length) {
            val e = s.charAt(pos + 1)
            pos += 2
            e match {
              case 'n' => b.write('\n'); case 'r' => b.write('\r'); case 't' => b.write('\t')
              case 'b' => b.write('\b'); case 'f' => b.write('\f')
              case '(' => b.write('('); case ')' => b.write(')'); case '\\' => b.write('\\')
              case '\n' => // line continuation
              case '\r' => if (!eof && peek == '\n') pos += 1
              case d if d >= '0' && d <= '7' =>
                var v = d - '0'; var k = 0
                while (k < 2 && !eof && peek >= '0' && peek <= '7') { v = v * 8 + (peek - '0'); pos += 1; k += 1 }
                b.write(v & 0xff)
              case other => b.write(other)
            }
          } else {
            if (ch == '(') depth += 1
            else if (ch == ')') depth -= 1
            if (depth > 0) b.write(ch)
            pos += 1
          }
        }
        PStr(b.toByteArray)
      } else if (c == '[') {
        pos += 1
        val items = Vector.newBuilder[PObj]
        var go = true
        while (go) {
          skipWs()
          if (peek == ']') { pos += 1; go = false }
          else if (eof) go = false
          else items += parseObj()
        }
        PArr(items.result())
      } else if (c == ']' || c == '}') { pos += 1; PNull }
      else if (startsWith("true")) { pos += 4; PBool(true) }
      else if (startsWith("false")) { pos += 5; PBool(false) }
      else if (startsWith("null")) { pos += 4; PNull }
      else if (c.isDigit || c == '+' || c == '-' || c == '.') {
        // number, or "N G R" reference
        val save = pos
        val n1 = parseNumber()
        val save2 = pos
        skipWs()
        if (!eof && peek.isDigit && n1 == n1.floor && n1 >= 0) {
          val gPos = pos
          try {
            parseNumber()
            skipWs()
            if (!eof && peek == 'R' &&
                (pos + 1 >= s.length || isWs(s.charAt(pos + 1)) || isDelim(s.charAt(pos + 1)))) {
              pos += 1
              return PRef(n1.toInt)
            }
          } catch { case _: ParseError => }
          pos = save2
          val _ = gPos; val __ = save
          PNum(n1)
        } else { pos = save2; PNum(n1) }
      } else throw new ParseError(s"unexpected char '$c' @$pos")
    }

    def parseNumber(): Double = {
      skipWs()
      val b = pos
      if (!eof && (peek == '+' || peek == '-')) pos += 1
      while (!eof && (peek.isDigit || peek == '.')) pos += 1
      if (pos == b) throw new ParseError(s"not a number @$pos")
      s.substring(b, pos).toDouble
    }
  }

  // ------------------------------------------------------------- doc parsing
  final case class PdfDoc(objects: Map[Int, PObj], trailer: PDict) {
    def resolve(o: PObj): PObj = o match {
      case PRef(n) => objects.getOrElse(n, PNull)
      case other   => other
    }
    def dictOf(o: PObj): PDict = resolve(o) match {
      case d: PDict       => d
      case PStream(d, _)  => d
      case _              => PDict(Map.empty)
    }
  }

  // ----------------------------------------------- stream filter decoding
  /** FlateDecode under [[Compress.MaxDecodedBytes]]: a truncated,
    * dictionary-requiring or oversized stream is a [[ParseError]].
    */
  def inflate(data: Array[Byte]): Array[Byte] = {
    val max = Compress.MaxDecodedBytes
    val out = try Compress.inflate(data, 0, data.length, raw = false, max + 1)
      catch { case e: IllegalArgumentException => throw new ParseError(e.getMessage) }
    if (out.length > max) throw new ParseError(s"flate stream decodes past $max bytes")
    out
  }

  private def numOf(doc: PdfDoc, o: PObj, dflt: Int): Int =
    doc.resolve(o) match { case PNum(v) => v.toInt; case _ => dflt }

  /** PDF LZW (§7.4.4 — the TIFF variant): 9→12-bit codes MSB-first,
    * Clear=256, EOD=257, `EarlyChange` widens one code early (the
    * default). Table bombs bounded by output scaling with input.
    */
  def lzwDecode(data: Array[Byte], earlyChange: Boolean = true): Array[Byte] = {
    val out = new ByteArrayOutputStream(data.length * 3 + 64)
    val dict = new Array[Array[Byte]](4096)
    var dictSize = 258
    var width = 9
    var bitBuf = 0
    var bitCnt = 0
    var prev: Array[Byte] = null
    val early = if (earlyChange) 1 else 0
    var i = 0
    var done = false
    while (!done && (i < data.length || bitCnt >= width)) {
      while (bitCnt < width && i < data.length) {
        bitBuf = (bitBuf << 8) | (data(i) & 0xff)
        bitCnt += 8
        i += 1
      }
      if (bitCnt < width) done = true
      else {
        val code = (bitBuf >>> (bitCnt - width)) & ((1 << width) - 1)
        bitCnt -= width
        if (code == 256) { dictSize = 258; width = 9; prev = null }
        else if (code == 257) done = true
        else {
          val entry: Array[Byte] =
            if (code < 256) Array(code.toByte)
            else if (code < dictSize && dict(code) != null) dict(code)
            else if (code == dictSize && prev != null) prev :+ prev(0)
            else throw new ParseError(s"LZW code $code out of table ($dictSize)")
          out.write(entry, 0, entry.length)
          if (prev != null && dictSize < 4096) {
            dict(dictSize) = prev :+ entry(0)
            dictSize += 1
          }
          if (dictSize + early >= (1 << width) && width < 12) width += 1
          prev = entry
          if (out.size() > data.length.toLong * 512 + (1 << 16))
            throw new ParseError("LZW expansion bomb")
        }
      }
    }
    out.toByteArray
  }

  /** RunLengthDecode (§7.4.5): length byte 0–127 = copy n+1 literals,
    * 129–255 = repeat next byte 257−n times, 128 = EOD. Output past
    * [[Compress.MaxDecodedBytes]] fails the stream.
    */
  def rleDecode(data: Array[Byte]): Array[Byte] = {
    val out = new ByteArrayOutputStream(data.length * 2 + 16)
    var i = 0
    var done = false
    while (!done && i < data.length) {
      val n = data(i) & 0xff
      i += 1
      if (n == 128) done = true
      else if (n < 128) {
        if (i + n + 1 > data.length) throw new ParseError("RLE literal overruns")
        out.write(data, i, n + 1)
        i += n + 1
      } else {
        if (i >= data.length) throw new ParseError("RLE repeat overruns")
        val b = data(i); i += 1
        var k = 0
        while (k < 257 - n) { out.write(b); k += 1 }
      }
      // each 2-byte repeat writes 128 bytes: 1 MiB on the wire is 64 MiB
      if (out.size() > Compress.MaxDecodedBytes)
        throw new ParseError(s"RLE stream decodes past ${Compress.MaxDecodedBytes} bytes")
    }
    out.toByteArray
  }

  /** ASCIIHexDecode (§7.4.2): hex pairs, whitespace ignored, `>` EOD,
    * odd trailing digit padded with 0.
    */
  def ahxDecode(data: Array[Byte]): Array[Byte] = {
    val out = new ByteArrayOutputStream(data.length / 2 + 8)
    var hi = -1
    var i = 0
    var done = false
    while (!done && i < data.length) {
      val c = (data(i) & 0xff).toChar
      i += 1
      if (c == '>') done = true
      else if (!c.isWhitespace) {
        val v =
          if (c >= '0' && c <= '9') c - '0'
          else if (c >= 'a' && c <= 'f') c - 'a' + 10
          else if (c >= 'A' && c <= 'F') c - 'A' + 10
          else throw new ParseError(s"bad hex char '$c' in ASCIIHex stream")
        if (hi < 0) hi = v else { out.write(hi * 16 + v); hi = -1 }
      }
    }
    if (hi >= 0) out.write(hi * 16)
    out.toByteArray
  }

  /** ASCII85Decode (§7.4.3): 5 chars `!`..`u` → 4 bytes base-85, `z` =
    * four zero bytes, `~>` EOD, partial final group truncates.
    */
  def a85Decode(data: Array[Byte]): Array[Byte] = {
    val out = new ByteArrayOutputStream(data.length * 4 / 5 + 8)
    val grp = new Array[Int](5)
    var n = 0
    var i = 0
    var done = false
    while (!done && i < data.length) {
      val c = (data(i) & 0xff).toChar
      i += 1
      if (c == '~') done = true
      else if (c == 'z' && n == 0) { out.write(0); out.write(0); out.write(0); out.write(0) }
      else if (!c.isWhitespace) {
        if (c < '!' || c > 'u') throw new ParseError(s"bad base85 char '$c'")
        grp(n) = c - '!'
        n += 1
        if (n == 5) {
          var v = 0L
          var k = 0
          while (k < 5) { v = v * 85 + grp(k); k += 1 }
          out.write(((v >> 24) & 0xff).toInt); out.write(((v >> 16) & 0xff).toInt)
          out.write(((v >> 8) & 0xff).toInt); out.write((v & 0xff).toInt)
          n = 0
        }
      }
    }
    if (n == 1) throw new ParseError("base85 group of one char")
    if (n > 1) {
      var v = 0L
      var k = 0
      while (k < 5) { v = v * 85 + (if (k < n) grp(k) else 84); k += 1 }
      var k2 = 0
      while (k2 < n - 1) { out.write(((v >> (24 - 8 * k2)) & 0xff).toInt); k2 += 1 }
    }
    out.toByteArray
  }

  /** Decoded bytes of a stream: the `/Filter` CHAIN (none, a bare name,
    * or an array applied in order — FlateDecode, LZWDecode,
    * RunLengthDecode, ASCIIHexDecode, ASCII85Decode) with per-filter
    * `/DecodeParms` (PNG predictors 10–15 for Flate/LZW; TIFF predictor
    * 2 unsupported — raised, not silently misdecoded).
    */
  def decodeStream(doc: PdfDoc, st: PStream): Array[Byte] = {
    val d = st.dict.m
    val filters: Vector[PObj] = doc.resolve(d.getOrElse("Filter", PNull)) match {
      case PNull       => Vector.empty
      case PArr(items) => items.map(doc.resolve)
      case one         => Vector(one)
    }
    val parmsList: Vector[Map[String, PObj]] =
      doc.resolve(d.getOrElse("DecodeParms", PNull)) match {
        case PArr(items) => items.map(o => doc.dictOf(o).m)
        case PNull       => Vector.empty
        case one         => Vector(doc.dictOf(one).m)
      }
    def unpredict(data: Array[Byte], parms: Map[String, PObj]): Array[Byte] =
      numOf(doc, parms.getOrElse("Predictor", PNum(1)), 1) match {
        case 1 => data
        case p if p >= 10 =>
          val cols = numOf(doc, parms.getOrElse("Columns", PNum(1)), 1)
          val colors = numOf(doc, parms.getOrElse("Colors", PNum(1)), 1)
          val bpc = numOf(doc, parms.getOrElse("BitsPerComponent", PNum(8)), 8)
          // PNG row filters (each row: a filter-type byte + `columns*bpp`
          // bytes); real-world 1.5 xref streams are near-universally 12 (Up)
          val bpp = math.max(1, colors * bpc / 8)
          val rowLen = cols * bpp
          if (rowLen <= 0) throw new ParseError("bad predictor columns")
          try Media.unfilterPng(data, 0, data.length / (rowLen + 1), rowLen, bpp)
          catch { case e: IllegalArgumentException => throw new ParseError(e.getMessage) }
        case p => throw new ParseError(s"unsupported predictor $p")
      }
    if (filters.isEmpty)
      unpredict(st.raw, parmsList.headOption.getOrElse(Map.empty))
    else {
      var data = st.raw
      var i = 0
      while (i < filters.length) {
        val parms = if (i < parmsList.length) parmsList(i) else Map.empty[String, PObj]
        data = filters(i) match {
          case PName("FlateDecode") => unpredict(inflate(data), parms)
          case PName("LZWDecode") =>
            val early = numOf(doc, parms.getOrElse("EarlyChange", PNum(1)), 1) == 1
            unpredict(lzwDecode(data, early), parms)
          case PName("RunLengthDecode") => rleDecode(data)
          case PName("ASCIIHexDecode")  => ahxDecode(data)
          case PName("ASCII85Decode")   => a85Decode(data)
          case other => throw new ParseError(s"unsupported filter $other")
        }
        i += 1
      }
      data
    }
  }

  /** Decode a `/Type /XRef` stream's entry table: `/W` gives the three
    * field widths, `/Index` the (start, count) subsections (default
    * `[0 Size]`). Returns `(objnum, type, field2, field3)` rows — type 1
    * is a direct object at offset field2; type 2 lives in object stream
    * field2 at index field3.
    */
  def xrefEntries(doc: PdfDoc, st: PStream): Vector[(Int, Int, Long, Long)] = {
    val d = st.dict.m
    val data = decodeStream(doc, st)
    val w = doc.resolve(d.getOrElse("W", PNull)) match {
      case PArr(items) if items.length == 3 => items.map(numOf(doc, _, 0))
      case _ => throw new ParseError("xref stream missing /W [3]")
    }
    val size = numOf(doc, d.getOrElse("Size", PNull), 0)
    val index: Vector[(Int, Int)] = doc.resolve(d.getOrElse("Index", PNull)) match {
      case PArr(items) =>
        items.map(numOf(doc, _, 0)).grouped(2)
          .collect { case Vector(a, b) => (a, b) }.toVector
      case _ => Vector((0, size))
    }
    val rowLen = w.sum
    if (rowLen <= 0) throw new ParseError("zero-width xref rows")
    var p = 0
    val out = Vector.newBuilder[(Int, Int, Long, Long)]
    def field(width: Int): Long = {
      var v = 0L; var j = 0
      while (j < width) { v = (v << 8) | (data(p) & 0xff); p += 1; j += 1 }
      v
    }
    index.foreach { case (start, count) =>
      var k = 0
      while (k < count && p + rowLen <= data.length) {
        // a zero-width type field defaults to type 1 (spec 7.5.8.3)
        val typ = if (w(0) == 0) 1 else field(w(0)).toInt
        val f2 = field(w(1)); val f3 = field(w(2))
        out += ((start + k, typ, f2, f3))
        k += 1
      }
    }
    out.result()
  }

  /** Parse all `N G obj … endobj` bodies by scanning the file (robust to
    * stale xref tables), then expand PDF 1.5 compressed object streams
    * and recover the trailer from xref streams when no `trailer` keyword
    * exists. The newest xref chain's type-2 entries select the compressed
    * version of an object that also has a (stale) direct definition.
    */
  def parseDoc(bytes: Array[Byte]): PdfDoc = {
    val s = new String(bytes, ISO_8859_1)
    if (!s.startsWith("%PDF-")) throw new ParseError("missing %PDF- header")
    val objs = scala.collection.mutable.LinkedHashMap.empty[Int, PObj]
    val objAt = scala.collection.mutable.Map.empty[Int, Int] // body offset of "N G obj" → objnum
    val offOf = scala.collection.mutable.Map.empty[Int, Int] // objnum → body offset (last wins)
    var i = 0
    while ({ i = s.indexOf(" obj", i); i >= 0 }) {
      // walk back over "N G " to find the object number
      var k = i - 1
      while (k >= 0 && s.charAt(k).isDigit) k -= 1 // gen
      if (k > 0 && s.charAt(k) == ' ') {
        var e = k; k -= 1
        while (k >= 0 && s.charAt(k).isDigit) k -= 1
        if (e - 1 > k) {
          val num = s.substring(k + 1, e).toInt
          val lex = new Lexer(s)
          lex.pos = i + 4
          try {
            val body = lex.parseObj()
            lex.skipWs()
            val obj = body match {
              case d: PDict if lex.startsWith("stream") =>
                var p = lex.pos + 6
                if (p < s.length && s.charAt(p) == '\r') p += 1
                if (p < s.length && s.charAt(p) == '\n') p += 1
                val len = d.m.get("Length") match {
                  case Some(PNum(v)) => v.toInt
                  case Some(PRef(n)) =>
                    // indirect length: fall back to scanning for endstream
                    val _ = n
                    val e2 = s.indexOf("endstream", p)
                    if (e2 < 0) throw new ParseError("no endstream") else {
                      var q = e2
                      if (q > p && s.charAt(q - 1) == '\n') q -= 1
                      if (q > p && s.charAt(q - 1) == '\r') q -= 1
                      q - p
                    }
                  case _ => throw new ParseError("stream without Length")
                }
                val raw = bytes.slice(p, p + len)
                PStream(d, raw)
              case other => other
            }
            objs(num) = obj
            objAt(k + 1) = num
            offOf(num) = k + 1
          } catch { case _: ParseError => } // skip unparsable object
        }
      }
      i += 4
    }
    val tIdx = s.lastIndexOf("trailer")
    var trailer =
      if (tIdx < 0) PDict(Map.empty)
      else {
        val lex = new Lexer(s); lex.pos = tIdx + 7
        lex.parseObj() match { case d: PDict => d; case _ => PDict(Map.empty) }
      }
    var doc = PdfDoc(objs.toMap, trailer)

    // ---- encrypted documents (standard security handler): decrypt
    // strings and stream bytes in place BEFORE ObjStm expansion — member
    // objects of a decrypted ObjStm come out as plaintext and must not
    // be touched again (§7.6.2: the crypt filter applies to the object
    // stream as a whole, not its members)
    PdfCrypt.findEncryption(doc).foreach { enc =>
      PdfCrypt.decryptObjects(doc, enc).foreach { case (n2, o2) => objs(n2) = o2 }
      doc = PdfDoc(objs.toMap, trailer)
    }

    def typeIs(d: PDict, t: String): Boolean =
      doc.resolve(d.m.getOrElse("Type", PNull)) == PName(t)

    // ---- PDF 1.5: expand compressed object streams (/ObjStm) ----
    // header: N pairs "objnum offset", offsets relative to /First.
    // Members are kept BOTH by objnum (gap filling) and by
    // (container stream, index) so an xref type-2 entry can later pick
    // the exact version it names — two ObjStms may both carry the same
    // objnum across incremental updates, and map iteration order must
    // not decide which one wins.
    val fromStm = scala.collection.mutable.Map.empty[Int, PObj]
    val stmMember = scala.collection.mutable.Map.empty[(Int, Int), (Int, PObj)]
    doc.objects.foreach {
      case (stmNum, st @ PStream(d, _)) if typeIs(d, "ObjStm") =>
        try {
          val data = new String(decodeStream(doc, st), ISO_8859_1)
          val n = numOf(doc, d.m.getOrElse("N", PNull), 0)
          val first = numOf(doc, d.m.getOrElse("First", PNull), 0)
          val hdr = new Lexer(data)
          val pairs = Vector.fill(n)((hdr.parseNumber().toInt, hdr.parseNumber().toInt))
          pairs.zipWithIndex.foreach { case ((onum, off), idx) =>
            try {
              val lx = new Lexer(data); lx.pos = first + off
              val obj = lx.parseObj()
              fromStm(onum) = obj
              stmMember((stmNum, idx)) = (onum, obj)
            } catch { case _: ParseError => }
          }
        } catch { case _: ParseError => } // corrupt ObjStm: C5 isolation
      case _ =>
    }
    fromStm.foreach { case (num, o) => if (!objs.contains(num)) objs(num) = o }
    doc = PdfDoc(objs.toMap, trailer)

    // ---- PDF 1.5: xref streams — trailer recovery + current-version
    // selection along the /Prev chain (newest first) ----
    val xrefNums = doc.objects.collect {
      case (num, PStream(d, _)) if typeIs(d, "XRef") => num
    }.toSet
    if (xrefNums.nonEmpty) {
      def xrefAtOffset(off: Int): Option[Int] = objAt.get(off).filter(xrefNums)
      // newest = the startxref target, else the xref stream latest in file
      val sxIdx = s.lastIndexOf("startxref")
      val viaStartxref =
        if (sxIdx < 0) None
        else try {
          val lx = new Lexer(s); lx.pos = sxIdx + 9
          xrefAtOffset(lx.parseNumber().toInt)
        } catch { case _: ParseError => None }
      val newest = viaStartxref
        .orElse(xrefNums.toVector.sortBy(n => offOf.getOrElse(n, -1)).lastOption)
      var chain = Vector.empty[Int]
      val seen = scala.collection.mutable.Set.empty[Int]
      var cur = newest
      while (cur.isDefined && seen.add(cur.get)) {
        chain :+= cur.get
        cur = doc.objects(cur.get) match {
          case PStream(d, _) => d.m.get("Prev") match {
            case Some(PNum(v)) => xrefAtOffset(v.toInt)
            case _ => None
          }
          case _ => None
        }
      }
      // recovered trailer: the xref dicts merged oldest→newest, but an
      // explicit `trailer` keyword (hybrid files) still wins
      if (!trailer.m.contains("Root")) {
        val merged = chain.reverse.foldLeft(Map.empty[String, PObj]) { (acc, num) =>
          acc ++ doc.dictOf(PRef(num)).m
        }
        trailer = PDict(merged ++ trailer.m)
      }
      // W-decoded entries, first-seen (= newest) wins per object: a
      // type-2 entry says the CURRENT version is the compressed one, and
      // names exactly WHICH one — (object stream f2, index f3)
      val current = scala.collection.mutable.Map.empty[Int, (Int, Long, Long)]
      chain.foreach { num =>
        doc.objects(num) match {
          case st: PStream =>
            val entries = try xrefEntries(doc, st)
                          catch { case _: ParseError => Vector.empty }
            entries.foreach { case (onum, typ, f2, f3) =>
              if (!current.contains(onum)) current(onum) = ((typ, f2, f3))
            }
          case _ =>
        }
      }
      current.foreach {
        case (onum, (2, f2, f3)) =>
          stmMember.get((f2.toInt, f3.toInt)) match {
            case Some((n, o)) if n == onum => objs(onum) = o
            case _ => fromStm.get(onum).foreach(o => objs(onum) = o)
          }
        case _ =>
      }
    }
    PdfDoc(objs.toMap, trailer)
  }

  // ------------------------------------------------------------- page model
  /** Per-font text decoding truth: `twoByte` for Type0 (CID) fonts whose
    * show strings are 2-byte codes; `toUnicode` the /ToUnicode CMap when
    * present. Fonts with neither stay on the Latin-1 passthrough (the
    * WinAnsi≈Latin-1 default the frozen extraction spec pins).
    */
  final case class FontInfo(twoByte: Boolean, toUnicode: Option[Map[Int, String]])

  final case class PdfPage(content: Array[Byte], width: Double, height: Double,
                           fonts: Map[String, FontInfo] = Map.empty)

  /** Parse a /ToUnicode CMap (Adobe CMap syntax, §9.10.3): `bfchar`
    * blocks map source codes to UTF-16BE strings; `bfrange` blocks map
    * code intervals to either an incrementing base string or an explicit
    * array. Malformed entries stop their block (C5 posture: partial maps
    * beat thrown pages); ranges longer than 65 536 codes are ignored as
    * bombs.
    */
  def parseCMap(bytes: Array[Byte]): Map[Int, String] = {
    val s = new String(bytes, ISO_8859_1)
    val out = Map.newBuilder[Int, String]
    def codeOf(b: Array[Byte]): Int = b.foldLeft(0)((a, x) => (a << 8) | (x & 0xff))
    def strOf(b: Array[Byte]): String =
      new String(b, java.nio.charset.StandardCharsets.UTF_16BE)
    var i = 0
    while ({ i = s.indexOf("beginbfchar", i); i >= 0 }) {
      val end = s.indexOf("endbfchar", i)
      val lex = new Lexer(s); lex.pos = i + "beginbfchar".length
      var ok = end >= 0
      while (ok && { lex.skipWs(); lex.pos < end }) {
        try (lex.parseObj(), lex.parseObj()) match {
          case (PStr(src), PStr(dst)) if src.nonEmpty => out += codeOf(src) -> strOf(dst)
          case _ => ok = false
        } catch { case _: ParseError => ok = false }
      }
      i = if (end >= 0) end + "endbfchar".length else s.length
    }
    i = 0
    while ({ i = s.indexOf("beginbfrange", i); i >= 0 }) {
      val end = s.indexOf("endbfrange", i)
      val lex = new Lexer(s); lex.pos = i + "beginbfrange".length
      var ok = end >= 0
      while (ok && { lex.skipWs(); lex.pos < end }) {
        try (lex.parseObj(), lex.parseObj(), lex.parseObj()) match {
          case (PStr(lo), PStr(hi), PStr(d0))
            if lo.nonEmpty && d0.length >= 2 && codeOf(hi) - codeOf(lo) <= 65536 =>
            val l = codeOf(lo); val h = codeOf(hi)
            var c = l
            while (c <= h) {
              val base = d0.clone()
              // increment the TRAILING 16-bit code unit (§9.10.3 note)
              val n2 = base.length
              val last = (((base(n2 - 2) & 0xff) << 8) | (base(n2 - 1) & 0xff)) + (c - l)
              base(n2 - 2) = (last >> 8).toByte; base(n2 - 1) = last.toByte
              out += c -> strOf(base)
              c += 1
            }
          case (PStr(lo), PStr(hi), PArr(items))
            if lo.nonEmpty && codeOf(hi) - codeOf(lo) <= 65536 =>
            val l = codeOf(lo)
            items.zipWithIndex.foreach {
              case (PStr(db), k) => out += (l + k) -> strOf(db)
              case _             =>
            }
          case _ => ok = false
        } catch { case _: ParseError => ok = false }
      }
      i = if (end >= 0) end + "endbfrange".length else s.length
    }
    out.result()
  }

  /** A node's own `/Resources` sub-dictionary `kind` (`/Font`,
    * `/XObject`), if it declares one. Resources are inheritable
    * (§7.7.3.4): a page-tree walk keeps its ancestors' entry when a node
    * declares none, and a declared one REPLACES it, never merges.
    */
  private def ownResource(doc: PdfDoc, d: PDict, kind: String): Option[PDict] =
    doc.resolve(d.m.getOrElse("Resources", PNull)) match {
      case rd: PDict => doc.resolve(rd.m.getOrElse(kind, PNull)) match {
        case sub: PDict => Some(sub)
        case _          => None
      }
      case _ => None
    }

  /** Fonts visible to a page's content stream: the node's own
    * /Resources /Font entries, else the inherited ones
    * ([[ownResource]]). Only fonts that change text decoding are kept:
    * Type0 (2-byte codes) and anything with a /ToUnicode CMap; plain
    * unmapped fonts stay on the default Latin-1 path.
    */
  private def fontsOf(doc: PdfDoc, d: PDict,
                      inherited: Map[String, FontInfo]): Map[String, FontInfo] =
    ownResource(doc, d, "Font") match {
      case Some(fd) =>
        fd.m.flatMap { case (name, fo) =>
          doc.resolve(fo) match {
            case f: PDict =>
              val twoByte =
                doc.resolve(f.m.getOrElse("Subtype", PNull)) == PName("Type0")
              val tu = doc.resolve(f.m.getOrElse("ToUnicode", PNull)) match {
                case st: PStream =>
                  try {
                    val m = parseCMap(decodeStream(doc, st))
                    if (m.isEmpty) None else Some(m)
                  } catch { case _: ParseError => None }
                case _ => None
              }
              if (!twoByte && tu.isEmpty) None
              else Some(name -> FontInfo(twoByte, tu))
            case _ => None
          }
        }
      case None => inherited
    }

  /** The page-tree walk under [[pages]], [[pageLinks]] and [[pageImages]]:
    * from the catalog's `/Pages` in Kids order, `inherit` folds every
    * node's dict into the state its kids see (starting from `root`), and
    * `visit` gets each `/Page` leaf with its folded state.
    *
    * Cycle/depth/budget guards (same posture as [[outlines]]): a crafted
    * or corrupt Pages tree with a cyclic or deeply nested Kids chain
    * must terminate the walk, not throw StackOverflowError past the C5
    * per-row isolation (ADVICE r05). Visited PRef ids are walked once;
    * depth is bounded (real page trees are < ~64 deep — Acrobat itself
    * balances to ~50); the node budget caps inline-dict bombs.
    */
  private def eachPage[S](doc: PdfDoc, root: S)(inherit: (PDict, S) => S)(
      visit: (PDict, S) => Unit): Unit = {
    val catalog = doc.dictOf(doc.trailer.m.getOrElse("Root", PNull))
    val seenRefs = scala.collection.mutable.Set.empty[Int]
    var nodeBudget = 1000000
    def walk(o: PObj, inherited: S, depth: Int): Unit = {
      val refId = o match { case PRef(n) => n; case _ => -1 }
      if (depth > 256 || nodeBudget <= 0 || (refId >= 0 && !seenRefs.add(refId)))
        return
      nodeBudget -= 1
      doc.resolve(o) match {
        case d: PDict =>
          val s = inherit(d, inherited)
          doc.resolve(d.m.getOrElse("Type", PNull)) match {
            case PName("Pages") =>
              doc.resolve(d.m.getOrElse("Kids", PNull)) match {
                case PArr(kids) => kids.foreach(walk(_, s, depth + 1))
                case _          =>
              }
            case PName("Page") => visit(d, s)
            case _ =>
          }
        case _ =>
      }
    }
    walk(catalog.m.getOrElse("Pages", PNull), root, 0)
  }

  /** Walk the page tree in Kids order, inheriting MediaBox and fonts;
    * returns the decoded (de-flated) content bytes per page.
    */
  def pages(doc: PdfDoc): Vector[PdfPage] = {
    val out = Vector.newBuilder[PdfPage]

    def mediaBox(d: PDict, inherited: Option[(Double, Double)]): Option[(Double, Double)] =
      doc.resolve(d.m.getOrElse("MediaBox", PNull)) match {
        case PArr(Vector(a, b, c, dd)) =>
          (doc.resolve(a), doc.resolve(b), doc.resolve(c), doc.resolve(dd)) match {
            case (PNum(x0), PNum(y0), PNum(x1), PNum(y1)) => Some((x1 - x0, y1 - y0))
            case _ => inherited
          }
        case _ => inherited
      }

    def contentBytes(o: PObj, depth: Int = 0): Array[Byte] = doc.resolve(o) match {
      // depth-bounded: a Contents ARRAY whose elements are refs can be
      // crafted to cycle (a → b → a), and recursion here would overflow
      // the stack — a VirtualMachineError the C5 isolation cannot catch
      case _ if depth > 32 => Array.emptyByteArray
      case st: PStream => decodeStream(doc, st)
      case PArr(items) =>
        val b = new ByteArrayOutputStream()
        items.foreach { it => b.write(contentBytes(it, depth + 1)); b.write('\n') }
        b.toByteArray
      case _ => Array.emptyByteArray
    }

    eachPage(doc, (Option.empty[(Double, Double)], Map.empty[String, FontInfo])) {
      case (d, (mb, fonts)) => (mediaBox(d, mb), fontsOf(doc, d, fonts))
    } { case (d, (mb, fonts)) =>
      val (w, h) = mb.getOrElse((612.0, 792.0))
      out += PdfPage(contentBytes(d.m.getOrElse("Contents", PNull)), w, h, fonts)
    }
    out.result()
  }

  // ------------------------------------------------------------ outlines
  /** Bookmarks (`/Outlines` tree, §12.3.3): `(depth, title)` in
    * reading order — the document's own table of contents, the
    * structure signal long PDFs carry. Titles are PDF TEXT STRINGS:
    * UTF-16BE when they lead with the FE FF BOM, PDFDocEncoding
    * (≈ Latin-1) otherwise. Cycles and malformed nodes terminate the
    * walk instead of looping; a document without outlines yields
    * nothing.
    */
  def outlines(doc: PdfDoc): Vector[(Int, String)] = {
    val out = Vector.newBuilder[(Int, String)]
    val seen = scala.collection.mutable.Set.empty[Int]
    def textString(b: Array[Byte]): String =
      if (b.length >= 2 && (b(0) & 0xff) == 0xfe && (b(1) & 0xff) == 0xff)
        new String(b, 2, b.length - 2, java.nio.charset.StandardCharsets.UTF_16BE)
      else new String(b, java.nio.charset.StandardCharsets.ISO_8859_1)
    def walk(o: PObj, depth: Int): Unit = {
      // the seen-set stops cycles, but a crafted linear First chain can
      // still recurse arbitrarily deep — bound it like the page walks
      if (depth > 256) return
      var cur = o
      var guard = 0
      while (cur != PNull && guard < 10000) {
        guard += 1
        val id = cur match { case PRef(n) => n; case _ => -1 }
        if (id >= 0 && !seen.add(id)) return // cycle
        doc.resolve(cur) match {
          case d: PDict =>
            doc.resolve(d.m.getOrElse("Title", PNull)) match {
              case PStr(b) => out += ((depth, textString(b)))
              case _ =>
            }
            d.m.get("First").foreach(f => walk(f, depth + 1))
            cur = d.m.getOrElse("Next", PNull)
          case _ => cur = PNull
        }
      }
    }
    val root = doc.dictOf(doc.trailer.m.getOrElse("Root", PNull))
    doc.resolve(root.m.getOrElse("Outlines", PNull)) match {
      case d: PDict => d.m.get("First").foreach(f => walk(f, 0))
      case _ =>
    }
    out.result()
  }

  // ------------------------------------------------------------ outlinks
  /** URI link annotations per page (`/Annots` → `/Subtype /Link` →
    * `/A << /S /URI /URI (…) >>`) — the PDF side of the crawl's edge
    * list: PDFs cite the web exactly like HTML pages do, and frontier
    * discovery reads both. Internal GoTo destinations are skipped;
    * malformed annotations contribute nothing.
    */
  def pageLinks(doc: PdfDoc): Vector[(Int, String)] = {
    val out = Vector.newBuilder[(Int, String)]
    var pageIdx = 0
    eachPage(doc, ())((_, _) => ()) { (d, _) =>
      doc.resolve(d.m.getOrElse("Annots", PNull)) match {
        case PArr(annots) => annots.foreach { ao =>
          doc.resolve(ao) match {
            case ad: PDict
              if doc.resolve(ad.m.getOrElse("Subtype", PNull)) == PName("Link") =>
              doc.resolve(ad.m.getOrElse("A", PNull)) match {
                case act: PDict
                  if doc.resolve(act.m.getOrElse("S", PNull)) == PName("URI") =>
                  doc.resolve(act.m.getOrElse("URI", PNull)) match {
                    case PStr(b) =>
                      val uri = new String(b,
                        java.nio.charset.StandardCharsets.ISO_8859_1).trim
                      if (uri.nonEmpty) out += ((pageIdx, uri))
                    case _ =>
                  }
                case _ =>
              }
            case _ =>
          }
        }
        case _ =>
      }
      pageIdx += 1
    }
    out.result()
  }

  // ------------------------------------------------------ embedded images
  /** One image XObject: `codec` says what `data` holds —
    * `"gray"`: decoded 8-bit luminance samples (width*height bytes;
    * CCITT G4 scans and Flate/LZW DeviceGray bitmaps land here),
    * `"jpeg"`: the undecoded DCTDecode payload (feed [[Jpeg]]),
    * `"raw"`: unpacked samples of some other colorspace/depth
    * (caller interprets via bpc/colorSpace).
    */
  final case class PdfImage(pageIdx: Int, name: String, width: Int,
                            height: Int, bitsPerComponent: Int,
                            colorSpace: String, codec: String,
                            data: Array[Byte])

  /** Embedded image XObjects per page — the scanned-document payload
    * (a scanner PDF is one full-page image and NO text operators; the
    * reference app rasterizes pages for its vision call,
    * `/root/reference/app/services/vision_service.py:41-53` — this is
    * the from-scratch analog that skips the detour when the page IS
    * an image). CCITTFaxDecode is decoded here via [[Ccitt]] (G4 only,
    * `/K < 0` — G3 refused loudly; `/BlackIs1` honored); DCTDecode
    * payloads pass through for the [[Jpeg]] kernel; other filters run
    * the ordinary [[decodeStream]] chain.
    */
  def pageImages(doc: PdfDoc): Vector[PdfImage] = {
    val out = Vector.newBuilder[PdfImage]
    var pageIdx = 0
    // the nearest /XObject dict, inherited like fonts ([[ownResource]])
    eachPage(doc, Map.empty[String, PObj]) { (d, inherited) =>
      ownResource(doc, d, "XObject").fold(inherited)(_.m)
    } { (_, xobjects) =>
      xobjects.toVector.sortBy(_._1).foreach { case (name, xo) =>
        doc.resolve(xo) match {
          case st: PStream
            if doc.resolve(st.dict.m.getOrElse("Subtype", PNull)) == PName("Image") =>
            out += imageOf(doc, st, pageIdx, name)
          case _ =>
        }
      }
      pageIdx += 1
    }
    out.result()
  }

  private def imageOf(doc: PdfDoc, st: PStream, pageIdx: Int,
                      name: String): PdfImage = {
    val d = st.dict.m
    def num(k: String, dflt: Int): Int = numOf(doc, d.getOrElse(k, PNum(dflt)), dflt)
    val w = num("Width", 0)
    val h = num("Height", 0)
    if (w <= 0 || h <= 0) throw new ParseError(s"image $name has no dimensions")
    val bpc = num("BitsPerComponent", 8)
    val cs = doc.resolve(d.getOrElse("ColorSpace", PNull)) match {
      case PName(n) => n
      case _        => ""
    }
    val filters = doc.resolve(d.getOrElse("Filter", PNull)) match {
      case PNull       => Vector.empty[PObj]
      case PArr(items) => items.map(doc.resolve)
      case one         => Vector(one)
    }
    filters.lastOption match {
      case Some(PName("DCTDecode")) =>
        if (filters.length > 1)
          throw new ParseError("chained filters before DCTDecode unsupported")
        PdfImage(pageIdx, name, w, h, bpc, cs, "jpeg", st.raw)
      case Some(PName("CCITTFaxDecode")) =>
        if (filters.length > 1)
          throw new ParseError("chained filters before CCITTFaxDecode unsupported")
        val parms = doc.resolve(d.getOrElse("DecodeParms", PNull)) match {
          case pd: PDict => pd.m
          case _         => Map.empty[String, PObj]
        }
        val k = numOf(doc, parms.getOrElse("K", PNum(0)), 0)
        if (k >= 0)
          throw new ParseError(s"CCITTFax K=$k (G3) unsupported — G4 (/K < 0) only")
        val cols = numOf(doc, parms.getOrElse("Columns", PNum(1728)), 1728)
        val rows = numOf(doc, parms.getOrElse("Rows", PNum(h)), h)
        val blackIs1 = doc.resolve(parms.getOrElse("BlackIs1", PBool(false))) match {
          case PBool(b) => b; case _ => false
        }
        if (cols != w || rows != h)
          throw new ParseError(s"CCITTFax geometry $cols x $rows != image $w x $h")
        val bits = Ccitt.decodeG4(st.raw, cols, rows) // 1 = fax black
        // gray luminance: fax black -> 0, white -> 255 (BlackIs1 only
        // changes the PACKED-bit convention, not fax-coding colors)
        val _ = blackIs1
        PdfImage(pageIdx, name, w, h, 8, "DeviceGray", "gray",
          bits.map(b => if (b == 1) 0.toByte else 0xff.toByte))
      case _ =>
        val data = decodeStream(doc, st)
        if (bpc == 8 && cs == "DeviceGray" && data.length >= w * h)
          PdfImage(pageIdx, name, w, h, 8, cs, "gray",
            java.util.Arrays.copyOf(data, w * h))
        else PdfImage(pageIdx, name, w, h, bpc, cs, "raw", data)
    }
  }

  // ------------------------------------------------------- text extraction
  /** Decode one show-string under a font's truth: 2-byte codes for
    * Type0, mapped through /ToUnicode when present. Unmapped codes emit
    * nothing — "no mapping" means the file carries no byte-level text
    * truth for that glyph, and emitting raw CIDs would be garbage that
    * poisons dedup hashes downstream.
    */
  private def decodeShown(fi: FontInfo, b: Array[Byte]): String = {
    val step = if (fi.twoByte) 2 else 1
    fi.toUnicode match {
      case Some(m) =>
        val sb = new java.lang.StringBuilder(b.length)
        var i = 0
        while (i + step <= b.length) {
          val code =
            if (step == 2) ((b(i) & 0xff) << 8) | (b(i + 1) & 0xff)
            else b(i) & 0xff
          m.get(code).foreach(sb.append)
          i += step
        }
        sb.toString
      case None =>
        if (fi.twoByte) "" else new String(b, ISO_8859_1)
    }
  }

  /** Extract text from one decoded content stream per the frozen spec. */
  def pageText(content: Array[Byte]): String = pageText(content, Map.empty)

  /** [[pageText]] with the page's font resources: `Tf` switches the
    * active font, and show strings under a Type0 / ToUnicode font decode
    * through [[decodeShown]] instead of the Latin-1 passthrough.
    */
  def pageText(content: Array[Byte], fonts: Map[String, FontInfo]): String = {
    val lex = new Lexer(new String(content, ISO_8859_1))
    val sb = new java.lang.StringBuilder
    val operands = scala.collection.mutable.ArrayBuffer.empty[PObj]
    var textShown = false
    var curFont: Option[FontInfo] = None

    def strOf(o: PObj): String = o match {
      case PStr(b) => curFont match {
        case Some(fi) => decodeShown(fi, b)
        case None     => new String(b, ISO_8859_1)
      }
      case _ => ""
    }
    def newlineIfShown(): Unit = if (textShown) sb.append('\n')

    while (!lex.eof) {
      lex.skipWs()
      if (!lex.eof) {
        val c = lex.peek
        if (c == '/' || c == '<' || c == '(' || c == '[' || c.isDigit || c == '+' || c == '-' || c == '.') {
          try operands += lex.parseObj()
          catch { case _: ParseError => lex.pos += 1 }
        } else {
          // operator token
          val b = lex.pos
          while (!lex.eof && {
            val ch = lex.peek
            !(ch == ' ' || ch == '\n' || ch == '\r' || ch == '\t' || ch == '\f' || ch == '\u0000' ||
              "()<>[]{}/%".indexOf(ch) >= 0)
          }) lex.pos += 1
          val op = lex.s.substring(b, lex.pos)
          if (lex.pos == b) lex.pos += 1
          op match {
            case "BT" => textShown = false
            case "ET" =>
            case "Tj" => if (operands.nonEmpty) { sb.append(strOf(operands.last)); textShown = true }
            case "TJ" => operands.lastOption match {
              case Some(PArr(items)) =>
                items.foreach { case p: PStr => sb.append(strOf(p)); case _ => }
                textShown = true
              case _ =>
            }
            case "'" =>
              newlineIfShown()
              if (operands.nonEmpty) { sb.append(strOf(operands.last)); textShown = true }
            case "\"" =>
              newlineIfShown()
              if (operands.nonEmpty) { sb.append(strOf(operands.last)); textShown = true }
            case "Td" | "TD" | "T*" | "Tm" => newlineIfShown(); textShown = false
            case "Tf" =>
              // operands are [/Name size]; the name selects the font
              curFont = operands.headOption.collect {
                case PName(n) => fonts.get(n)
              }.flatten
            case _ => // colors, graphics — ignored
          }
          operands.clear()
        }
      }
    }
    sb.append('\n')
    sb.toString
  }

  // --------------------------------------------------------------- chunking
  /** Pages per chunk — the reference's `max_pages_per_chunk`
    * (`pdf_splitter.py:12`, `ocr.py:97`). A chunk boundary is extraction
    * semantics (it fixes the text-concat unit), so it is preserved exactly.
    */
  val MaxPagesPerChunk = 10

  /** Split a PDF into consecutive ≤10-page sub-PDFs, re-serialized
    * deterministically (uncompressed) so identical source payloads yield
    * byte-identical chunks — the property the content-hash memoization
    * (`cache_manager.py:23-25`) relies on.
    */
  def chunkBytes(pdf: Array[Byte]): Vector[Array[Byte]] = {
    val ps = pages(parseDoc(pdf))
    if (ps.isEmpty) Vector(pdf)
    else ps.grouped(MaxPagesPerChunk).map { grp =>
      // font-mapped pages re-serialize WITH their Type0/ToUnicode font
      // objects so a chunk stays a self-contained extraction unit; pages
      // without mapped fonts write the plain layout
      PdfWriter.buildRaw(grp.map(_.content), compress = false,
        grp.map(p => (p.width, p.height)), grp.map(_.fonts))
    }.toVector
  }

  // ------------------------------------------------------------- chunk result
  final case class PageMeta(page_number: Int, width: Double, height: Double, confidence: Double)
  final case class ChunkResult(text: String, pages: Vector[PageMeta])

  /** bytes(pdf chunk) → ChunkResult — the reference's per-chunk extraction
    * contract (`ocr.py:56-69`): page_number restarts at 1 per chunk, and
    * confidence is rounded to 4 decimals (`ocr.py:65`; deterministic 1.0
    * here — no probabilistic OCR backend exists in this engine).
    */
  def extractChunk(chunk: Array[Byte]): ChunkResult = {
    val ps = pages(parseDoc(chunk))
    chunkResultOf(ps)
  }

  private def chunkResultOf(ps: Vector[PdfPage]): ChunkResult = {
    val sb = new java.lang.StringBuilder
    val metas = Vector.newBuilder[PageMeta]
    ps.zipWithIndex.foreach { case (p, i) =>
      sb.append(pageText(p.content, p.fonts))
      metas += PageMeta(i + 1, p.width, p.height,
        math.rint(1.0 * 10000) / 10000)
    }
    ChunkResult(sb.toString, metas.result())
  }

  /** Whole-document extraction with one parse: equivalent to
    * `chunkBytes(pdf).map(extractChunk)` (asserted in PdfKernelSpec) but
    * without re-serializing each 10-page group to bytes and re-parsing
    * it — the fused per-row pipeline path uses this; the chunk-bytes path
    * remains for the content-hash memoization dataflow, where chunk BYTES
    * are the cache key. Page content/dimensions pass through `chunkBytes`'s
    * writer→parser roundtrip unchanged (PdfKernelSpec roundtrip tests),
    * so text and page metadata are identical either way.
    */
  def extractDocChunks(pdf: Array[Byte]): Vector[ChunkResult] = {
    val ps = pages(parseDoc(pdf))
    if (ps.isEmpty) Vector(chunkResultOf(ps)) // == extractChunk over the 1 passthrough chunk
    else ps.grouped(MaxPagesPerChunk).map(chunkResultOf).toVector
  }
}
