package graft.kernel

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.{ISO_8859_1, UTF_16BE}
import java.util.zip.Deflater

/** Minimal, fully deterministic PDF writer.
  *
  * Produces the co-designed input domain for the hand-built parser in
  * [[Pdf]]: classic xref-table PDFs with one content stream per page,
  * Helvetica Type1 font, `BT/Tf/Td/Tj/ET` text operators, optional
  * FlateDecode streams. Used (a) by the fixture generator for the ~10 %
  * binary payload rows of the page table (the reference's PDF ingestion
  * path, `/root/reference/app/api/routes.py:25-26`), and (b) by the
  * chunker in [[Pdf.chunkBytes]] to re-serialize ≤10-page sub-PDFs
  * (mirroring `/root/reference/app/services/pdf_splitter.py:46-129`).
  *
  * One [[Emitter]] writes every file: the `%PDF-x.y` header, each object
  * at a recorded offset, and the classic xref table and trailer. Two
  * layouts sit on it:
  *  - classic (PDF 1.4, [[classic]]): catalog 1, page tree 2, page
  *    3 + 2i with its content stream 4 + 2i, then the builder's own
  *    objects, an xref table and a `trailer`. Every builder but the 1.5
  *    pair writes it: [[build]], [[buildRaw]] (plain or font-mapped),
  *    [[buildType0]], [[buildWithLinks]], [[buildWithOutlines]],
  *    [[buildWithImages]], [[buildWithFilters]], [[buildEncrypted]];
  *  - 1.5 ([[build15]], [[buildRaw15]]): content streams, one `/ObjStm`
  *    holding every dictionary, and a `/Type /XRef` stream instead of the
  *    table and trailer.
  */
object PdfWriter {

  /** Escape a PDF literal string. */
  def esc(s: String): String = {
    val sb = new StringBuilder(s.length + 8)
    s.foreach {
      case '\\' => sb.append("\\\\")
      case '('  => sb.append("\\(")
      case ')'  => sb.append("\\)")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case c    => sb.append(c)
    }
    sb.toString
  }

  /** Escape only `\`, `(` and `)`; unlike [[esc]], CR and LF pass through
    * raw. The link URIs and ASCII outline titles are written this way.
    */
  private def escDelims(s: String): String =
    s.replace("\\", "\\\\").replace("(", "\\(").replace(")", "\\)")

  /** Content stream for one page: one Td+Tj per line, top-down. */
  def pageContent(lines: Seq[String]): Array[Byte] =
    textContent(lines)(l => "(" + esc(l) + ")")

  /** [[pageContent]] with each line's show-string operand from `show`. */
  private def textContent(lines: Seq[String])(show: String => String): Array[Byte] = {
    val sb = new StringBuilder
    sb.append("BT\n/F1 12 Tf\n72 720 Td\n")
    lines.zipWithIndex.foreach { case (l, i) =>
      if (i > 0) sb.append("0 -14 Td\n")
      sb.append(show(l)).append(" Tj\n")
    }
    sb.append("ET")
    sb.toString.getBytes(ISO_8859_1)
  }

  private def deflate(raw: Array[Byte]): Array[Byte] = {
    val d = new Deflater(Deflater.DEFAULT_COMPRESSION)
    d.setInput(raw); d.finish()
    val out = new ByteArrayOutputStream(raw.length / 2 + 32)
    val buf = new Array[Byte](8192)
    while (!d.finished()) out.write(buf, 0, d.deflate(buf))
    d.end()
    out.toByteArray
  }

  private def fmtNum(d: Double): String =
    if (d == d.floor && !d.isInfinite) d.toLong.toString else d.toString

  private def hexStr(b: Array[Byte]): String =
    "<" + b.map(x => f"${x & 0xff}%02X").mkString + ">"

  /** `raw` encoded through a `/Filter` chain given in decode order (so
    * encoding applies it reversed), with the dictionary entry naming the
    * chain; no filters leave `raw` as it is with no entry.
    */
  private def filtered(raw: Array[Byte], filters: Seq[String]): (Array[Byte], String) =
    (filters.reverse.foldLeft(raw)((acc, f) => encodeFilter(f, acc)), filters match {
      case Seq()  => ""
      case Seq(f) => s" /Filter /$f"
      case fs     => s" /Filter [ ${fs.map("/" + _).mkString(" ")} ]"
    })

  private def flate(compress: Boolean): Seq[String] =
    if (compress) Seq("FlateDecode") else Nil

  private val Helvetica = "<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>"

  private def f1(fontObj: Int): String = s"/Font << /F1 $fontObj 0 R >>"

  private def pageTree(kids: Seq[Int]): String =
    s"<< /Type /Pages /Kids [ ${kids.map(k => s"$k 0 R").mkString(" ")} ] /Count ${kids.size} >>"

  private def pageDict(parent: Int, box: (Double, Double), resources: String,
                       contents: Int, annots: String = ""): String =
    s"<< /Type /Page /Parent $parent 0 R /MediaBox [ 0 0 ${fmtNum(box._1)} ${fmtNum(box._2)} ] " +
      s"/Resources << $resources >>$annots /Contents $contents 0 R >>"

  /** The output of one file: its header, then objects written at
    * recorded offsets (`offsets(num)`; 0 for a number never written).
    */
  private final class Emitter(version: String, size: Int) {
    private val out = new ByteArrayOutputStream(4096)
    val offsets = new Array[Long](size)
    def w(s: String): Unit = out.write(s.getBytes(ISO_8859_1))
    w(s"%PDF-$version\n%âãÏÓ\n")

    def pos: Long = out.size()
    def bytes: Array[Byte] = out.toByteArray

    def obj(num: Int, dict: String): Unit = {
      offsets(num) = out.size()
      w(s"$num 0 obj\n$dict\nendobj\n")
    }

    /** A stream object whose dictionary is built from the body length. */
    def stream(num: Int, body: Array[Byte])(dict: Int => String): Unit = {
      offsets(num) = out.size()
      w(s"$num 0 obj\n${dict(body.length)}\nstream\n")
      out.write(body)
      w("\nendstream\nendobj\n")
    }

    /** The xref table over objects `0 until size` and the trailer;
      * `trailer` adds entries after `/Root`.
      */
    def xrefTable(trailer: String): Array[Byte] = {
      val at = out.size()
      w(s"xref\n0 $size\n0000000000 65535 f \n")
      (1 until size).foreach(i => w(f"${offsets(i)}%010d 00000 n \n"))
      w(s"trailer\n<< /Size $size /Root 1 0 R$trailer >>\nstartxref\n$at\n%%EOF\n")
      bytes
    }
  }

  /** One page of the classic layout: MediaBox, the body of its
    * `/Resources` dict, its content stream already encoded with the
    * `/Filter` entry naming the encoding, and entries written between
    * `/Resources` and `/Contents`.
    */
  private final case class Page(box: (Double, Double), resources: String,
                                content: (Array[Byte], String), annots: String = "")

  /** The classic layout of `total` objects: catalog (1; `catalog` adds
    * entries), page tree (2), each page (3 + 2i) with its content stream
    * (4 + 2i). `rest` then writes the builder's other objects in file
    * order, and the xref table and trailer (`trailer` adds entries) end
    * the file.
    */
  private def classic(pages: Seq[Page], total: Int, catalog: String = "",
                      trailer: String = "")(rest: Emitter => Unit): Array[Byte] = {
    val e = new Emitter("1.4", total)
    e.obj(1, s"<< /Type /Catalog /Pages 2 0 R$catalog >>")
    e.obj(2, pageTree(pages.indices.map(3 + 2 * _)))
    pages.zipWithIndex.foreach { case (p, i) =>
      e.obj(3 + 2 * i, pageDict(2, p.box, p.resources, 4 + 2 * i, p.annots))
      val (body, filter) = p.content
      e.stream(4 + 2 * i, body)(len => s"<< /Length $len$filter >>")
    }
    rest(e)
    e.xrefTable(trailer)
  }

  /** Build a PDF whose page i shows `pages(i)` as lines of text.
    * @param mediaBox (width, height) per page, defaults to US-Letter.
    */
  def build(pages: Seq[Seq[String]], compress: Boolean,
            mediaBox: (Double, Double) = (612.0, 792.0)): Array[Byte] = {
    require(pages.nonEmpty, "pdf needs at least one page")
    buildRaw(pages.map(pageContent), compress, Seq.fill(pages.size)(mediaBox))
  }

  /** Build from already-rendered content streams (the chunker's path).
    * `pageFonts(i)` are page i's font resources under the names its
    * content stream uses (missing maps are empty): each distinct
    * [[Pdf.FontInfo]] becomes a font object (Type0 for 2-byte fonts) with
    * its /ToUnicode CMap stream, so a font-mapped chunk stays a
    * self-contained extraction unit. Helvetica is `/F1` on every page
    * that maps no `F1` itself; with no font maps that is the whole
    * resource dict.
    */
  def buildRaw(contents: Seq[Array[Byte]], compress: Boolean,
               boxes: Seq[(Double, Double)],
               pageFonts: Seq[Map[String, Pdf.FontInfo]] = Nil): Array[Byte] = {
    val n = contents.size
    val fonts = pageFonts.padTo(n, Map.empty[String, Pdf.FontInfo])
    val helv = 3 + 2 * n
    // distinct FontInfos in first-appearance order → (fontObj, cmapObj)
    val distinct = scala.collection.mutable.LinkedHashMap.empty[Pdf.FontInfo, (Int, Int)]
    fonts.foreach(_.values.foreach { fi =>
      if (!distinct.contains(fi)) {
        val base = helv + 1 + 2 * distinct.size
        distinct(fi) = (base, base + 1)
      }
    })
    val pages = (0 until n).map { i =>
      val entries = fonts(i).toSeq.sortBy(_._1)
        .map { case (name, fi) => s"/$name ${distinct(fi)._1} 0 R" } ++
        (if (fonts(i).contains("F1")) Nil else Seq(s"/F1 $helv 0 R"))
      Page(boxes(i), s"/Font << ${entries.mkString(" ")} >>",
        filtered(contents(i), flate(compress)))
    }
    classic(pages, helv + 1 + 2 * distinct.size) { e =>
      e.obj(helv, Helvetica)
      distinct.foreach { case (fi, (fontObj, cmapObj)) =>
        val subtype = if (fi.twoByte) "Type0" else "Type1"
        val tu = fi.toUnicode.map(_ => s" /ToUnicode $cmapObj 0 R").getOrElse("")
        e.obj(fontObj, s"<< /Type /Font /Subtype /$subtype /BaseFont /Graft$tu >>")
        fi.toUnicode.foreach(m =>
          e.stream(cmapObj, cmapBytes(fi.twoByte, m))(len => s"<< /Length $len >>"))
      }
    }
  }

  /** [[build]] plus URI link annotations: page i carries `links(i)` as
    * `/Annots` Link annotations with URI actions — the PDF-outlink
    * fixture for [[Pdf.pageLinks]]. One page also gets a GoTo (internal)
    * annotation that extraction must skip.
    */
  def buildWithLinks(pages: Seq[Seq[String]], links: Seq[Seq[String]],
                     compress: Boolean): Array[Byte] = {
    require(pages.nonEmpty && pages.size == links.size)
    // page i's annotations are objects annAt(i) until annAt(i + 1)
    val annAt = links.scanLeft(3 + 2 * pages.size)(_ + _.size)
    val gotoObj = annAt.last // internal annot on page 0
    val fontObj = gotoObj + 1
    val ps = pages.indices.map { i =>
      val refs = (annAt(i) until annAt(i + 1)) ++ (if (i == 0) Seq(gotoObj) else Nil)
      val annots = if (refs.nonEmpty) s" /Annots [ ${refs.map(o => s"$o 0 R").mkString(" ")} ]" else ""
      Page((612.0, 792.0), f1(fontObj), filtered(pageContent(pages(i)), flate(compress)), annots)
    }
    classic(ps, fontObj + 1) { e =>
      links.indices.foreach { i =>
        links(i).zipWithIndex.foreach { case (uri, k) =>
          e.obj(annAt(i) + k, s"<< /Type /Annot /Subtype /Link " +
            s"/Rect [ 50 ${700 - 20 * k} 300 ${715 - 20 * k} ] " +
            s"/A << /S /URI /URI (${escDelims(uri)}) >> >>")
        }
      }
      e.obj(gotoObj, "<< /Type /Annot /Subtype /Link /Rect [ 50 50 100 60 ] " +
        "/A << /S /GoTo /D [ 3 0 R /Fit ] >> >>")
      e.obj(fontObj, Helvetica)
    }
  }

  /** [[build]] plus an `/Outlines` bookmark tree from a flat
    * `(depth, title)` list (depth 0 = top level, increments of at most
    * +1). Non-ASCII titles are emitted as UTF-16BE-with-BOM hex text
    * strings (§7.9.2.2), ASCII ones as literal strings — both reader
    * paths exercised.
    */
  def buildWithOutlines(pages: Seq[Seq[String]],
                        outline: Seq[(Int, String)],
                        compress: Boolean): Array[Byte] = {
    require(pages.nonEmpty)
    outline.headOption.foreach { case (d, _) => require(d == 0, "first item depth 0") }
    val k = outline.length
    val fontObj = 3 + 2 * pages.size
    val rootObj = fontObj + 1
    def itemObj(i: Int): Int = rootObj + 1 + i
    // tree relations from the flat list
    val depth = outline.map(_._1).toArray
    val parent = Array.fill(k)(-1)
    val stack = scala.collection.mutable.Stack.empty[Int]
    (0 until k).foreach { i =>
      while (stack.nonEmpty && depth(stack.top) >= depth(i)) stack.pop()
      require(stack.isEmpty && depth(i) == 0 ||
        stack.nonEmpty && depth(i) == depth(stack.top) + 1,
        s"outline depth jump at item $i")
      parent(i) = if (stack.isEmpty) -1 else stack.top
      stack.push(i)
    }
    def kidsOf(p: Int): Seq[Int] = (0 until k).filter(parent(_) == p)
    def firstLast(ch: Seq[Int]): String =
      if (ch.isEmpty) "" else s" /First ${itemObj(ch.head)} 0 R /Last ${itemObj(ch.last)} 0 R"
    def titleStr(t: String): String =
      if (t.forall(c => c >= 0x20 && c < 0x7f)) "(" + escDelims(t) + ")"
      else hexStr(Array[Byte](0xfe.toByte, 0xff.toByte) ++ t.getBytes(UTF_16BE))
    val ps = pages.map(p =>
      Page((612.0, 792.0), f1(fontObj), filtered(pageContent(p), flate(compress))))
    classic(ps, rootObj + 1 + k, catalog = s" /Outlines $rootObj 0 R") { e =>
      e.obj(fontObj, Helvetica)
      e.obj(rootObj, s"<< /Type /Outlines /Count $k${firstLast(kidsOf(-1))} >>")
      (0 until k).foreach { i =>
        val sibs = kidsOf(parent(i))
        val at = sibs.indexOf(i)
        val prev = if (at > 0) s" /Prev ${itemObj(sibs(at - 1))} 0 R" else ""
        val next = if (at < sibs.length - 1) s" /Next ${itemObj(sibs(at + 1))} 0 R" else ""
        val par = if (parent(i) < 0) rootObj else itemObj(parent(i))
        e.obj(itemObj(i), s"<< /Title ${titleStr(outline(i)._2)} " +
          s"/Parent $par 0 R$prev$next${firstLast(kidsOf(i))} >>")
      }
    }
  }

  /** One embedded image for [[buildWithImages]]: `codec` ∈
    * `"g4"` (data = 0/1 pixels, width*height — encoded via
    * [[Ccitt.encodeG4]] into a /CCITTFaxDecode stream),
    * `"jpeg"` (data = a ready JFIF payload → /DCTDecode),
    * `"gray"` (data = 8-bit luminance samples → /FlateDecode).
    */
  final case class ImageSpec(name: String, width: Int, height: Int,
                             codec: String, data: Array[Byte])

  /** [[build]] plus image XObjects per page — the scanned-document
    * fixture shape: page i shows `pages(i)`'s text AND draws every
    * image in `images(i)` via `Do`. Geometry in the content stream is
    * cosmetic; extraction reads the XObject streams themselves.
    */
  def buildWithImages(pages: Seq[Seq[String]],
                      images: Seq[Seq[ImageSpec]],
                      compress: Boolean): Array[Byte] = {
    require(pages.nonEmpty && pages.size == images.size)
    // page i's images are objects imgAt(i) until imgAt(i + 1)
    val imgAt = images.scanLeft(3 + 2 * pages.size)(_ + _.size)
    val fontObj = imgAt.last
    val ps = pages.indices.map { i =>
      val refs = images(i).zipWithIndex.map { case (s, k) => s"/${s.name} ${imgAt(i) + k} 0 R" }
      val xobj = if (refs.nonEmpty) s" /XObject << ${refs.mkString(" ")} >>" else ""
      val draw = images(i).map(s =>
        s"q ${s.width} 0 0 ${s.height} 50 50 cm /${s.name} Do Q\n").mkString
      Page((612.0, 792.0), f1(fontObj) + xobj,
        filtered(pageContent(pages(i)) ++ draw.getBytes(ISO_8859_1), flate(compress)))
    }
    classic(ps, fontObj + 1) { e =>
      images.indices.foreach { i =>
        images(i).zipWithIndex.foreach { case (s, k) =>
          val (body, entries) = s.codec match {
            case "g4" =>
              require(s.data.length == s.width * s.height, s"g4 pixels for ${s.name}")
              (Ccitt.encodeG4(s.data, s.width, s.height),
                s"/BitsPerComponent 1 /ColorSpace /DeviceGray /Filter /CCITTFaxDecode " +
                  s"/DecodeParms << /K -1 /Columns ${s.width} /Rows ${s.height} >>")
            case "jpeg" =>
              (s.data,
                "/BitsPerComponent 8 /ColorSpace /DeviceGray /Filter /DCTDecode")
            case "gray" =>
              require(s.data.length == s.width * s.height, s"gray pixels for ${s.name}")
              (deflate(s.data),
                "/BitsPerComponent 8 /ColorSpace /DeviceGray /Filter /FlateDecode")
            case other => throw new IllegalArgumentException(s"unknown codec '$other'")
          }
          e.stream(imgAt(i) + k, body)(len => s"<< /Type /XObject /Subtype /Image " +
            s"/Width ${s.width} /Height ${s.height} $entries /Length $len >>")
        }
      }
      e.obj(fontObj, Helvetica)
    }
  }


  // ---------------------------------------- filter encoders (fixtures)
  /** PDF LZW encoder (TIFF variant, EarlyChange=1) — width schedule
    * mirrors the DECODER's table size (one behind the encoder's `next`),
    * Clear emitted at table saturation.
    */
  def lzwEncode(data: Array[Byte]): Array[Byte] = {
    val out = new ByteArrayOutputStream(data.length + 64)
    var bitBuf = 0L
    var bitCnt = 0
    var width = 9
    def emit(code: Int): Unit = {
      bitBuf = (bitBuf << width) | code
      bitCnt += width
      while (bitCnt >= 8) {
        out.write(((bitBuf >> (bitCnt - 8)) & 0xff).toInt)
        bitCnt -= 8
      }
    }
    var table = scala.collection.mutable.HashMap.empty[Seq[Byte], Int]
    var next = 258
    emit(256) // Clear
    if (data.nonEmpty) {
      var w = Vector(data(0))
      var i = 1
      def codeOf(s: Seq[Byte]): Int =
        if (s.length == 1) s.head & 0xff else table(s)
      def postEmit(): Unit = {
        // decoder's table is one entry behind the encoder's `next`
        if ((next - 1) + 1 >= (1 << width) && width < 12) width += 1
      }
      while (i < data.length) {
        val c = data(i)
        val wc = w :+ c
        if (wc.length > 1 && (table.contains(wc))) w = wc
        else if (wc.length == 1) w = wc
        else {
          emit(codeOf(w))
          table(wc) = next
          next += 1
          postEmit()
          if (next == 4095) { // reset before the table pins at 4096
            emit(256)
            table = scala.collection.mutable.HashMap.empty
            next = 258
            width = 9
          }
          w = Vector(c)
        }
        i += 1
      }
      emit(codeOf(w))
      next += 1 // the decoder adds an entry for this code too
      postEmit()
    }
    emit(257) // EOD
    if (bitCnt > 0) out.write(((bitBuf << (8 - bitCnt)) & 0xff).toInt)
    out.toByteArray
  }

  def rleEncode(data: Array[Byte]): Array[Byte] = {
    val out = new ByteArrayOutputStream(data.length + data.length / 128 + 8)
    var i = 0
    while (i < data.length) {
      var run = 1
      while (i + run < data.length && run < 128 && data(i + run) == data(i)) run += 1
      if (run >= 2) {
        out.write(257 - run); out.write(data(i))
        i += run
      } else {
        var lit = 1
        while (i + lit < data.length && lit < 128 &&
          (i + lit + 1 >= data.length || data(i + lit) != data(i + lit + 1))) lit += 1
        out.write(lit - 1)
        out.write(data, i, lit)
        i += lit
      }
    }
    out.write(128) // EOD
    out.toByteArray
  }

  def ahxEncode(data: Array[Byte]): Array[Byte] =
    (data.map(b => f"${b & 0xff}%02X").mkString + ">").getBytes(ISO_8859_1)

  def a85Encode(data: Array[Byte]): Array[Byte] = {
    val sb = new StringBuilder(data.length * 5 / 4 + 8)
    var i = 0
    while (i + 4 <= data.length) {
      var v = 0L
      var k = 0
      while (k < 4) { v = (v << 8) | (data(i + k) & 0xff); k += 1 }
      val g = new Array[Char](5)
      var j = 4
      while (j >= 0) { g(j) = ('!' + (v % 85)).toChar; v /= 85; j -= 1 }
      sb.appendAll(g)
      i += 4
    }
    val rem = data.length - i
    if (rem > 0) {
      var v = 0L
      var k = 0
      while (k < 4) { v = (v << 8) | (if (k < rem) data(i + k) & 0xff else 0); k += 1 }
      val g = new Array[Char](5)
      var j = 4
      while (j >= 0) { g(j) = ('!' + (v % 85)).toChar; v /= 85; j -= 1 }
      sb.appendAll(g.take(rem + 1))
    }
    sb.append("~>")
    sb.toString.getBytes(ISO_8859_1)
  }

  private def encodeFilter(name: String, data: Array[Byte]): Array[Byte] = name match {
    case "FlateDecode"     => deflate(data)
    case "LZWDecode"       => lzwEncode(data)
    case "RunLengthDecode" => rleEncode(data)
    case "ASCIIHexDecode"  => ahxEncode(data)
    case "ASCII85Decode"   => a85Encode(data)
    case other             => throw new IllegalArgumentException(s"no encoder for $other")
  }

  /** Classic build whose content streams ride the given `/Filter` chain
    * (decode order, per spec; encoding applies the chain reversed) —
    * the fixture domain for the non-Flate filters old crawl PDFs use.
    */
  def buildWithFilters(pages: Seq[Seq[String]], filters: Seq[String],
                       mediaBox: (Double, Double) = (612.0, 792.0)): Array[Byte] = {
    require(pages.nonEmpty && filters.nonEmpty)
    val fontObj = 3 + 2 * pages.size
    classic(pages.map(p => Page(mediaBox, f1(fontObj), filtered(pageContent(p), filters))),
      fontObj + 1)(_.obj(fontObj, Helvetica))
  }

  /** Encrypted build (standard security handler): same page/text
    * semantics as [[build]], classic xref layout, but every content
    * stream and the /Info title string are encrypted under per-object
    * keys, with `/Encrypt` + `/ID` in the trailer. `aes = false` writes
    * V2 R3 RC4-128; `aes = true` writes V4 R4 `/CFM /AESV2`
    * (AES-128-CBC, deterministic per-object IV so fixture bytes are
    * reproducible). A non-empty `userPw` produces a genuinely
    * password-protected file — the parser must REFUSE it, which the
    * spec pins.
    */
  def buildEncrypted(pages: Seq[Seq[String]], compress: Boolean,
                     aes: Boolean = false, userPw: String = "",
                     ownerPw: String = "owner",
                     mediaBox: (Double, Double) = (612.0, 792.0),
                     r6: Boolean = false): Array[Byte] = {
    require(pages.nonEmpty, "pdf needs at least one page")
    val n = pages.size
    val fontObj = 3 + 2 * n
    val infoObj = fontObj + 1
    val encObj = fontObj + 2

    // deterministic key material
    val r = if (r6) 6 else if (aes) 4 else 3
    val perm = -3904
    val id0 = PdfCrypt.md5(s"graft-fixture-$n-$aes-$r6".getBytes(ISO_8859_1))
    val pwU = userPw.getBytes(ISO_8859_1)
    val pwO = ownerPw.getBytes(ISO_8859_1)
    // R6 (AES-256): a random-stand-in 32-byte file key wrapped in /UE
    // and /OE per §7.6.4; pre-R6: Algorithm 2/3 derivation
    val (enc, uEntry, oEntry, ueEntry, oeEntry, permsEntry) =
      if (r6) {
        val fileKey = PdfCrypt.sha256(s"graft-r6-filekey-$n".getBytes(ISO_8859_1))
        val vSaltU = PdfCrypt.md5(s"vsu$n".getBytes(ISO_8859_1)).take(8)
        val kSaltU = PdfCrypt.md5(s"ksu$n".getBytes(ISO_8859_1)).take(8)
        val (u, ue) = PdfCrypt.userEntryV5(6, pwU, vSaltU, kSaltU, fileKey)
        val vSaltO = PdfCrypt.md5(s"vso$n".getBytes(ISO_8859_1)).take(8)
        val kSaltO = PdfCrypt.md5(s"kso$n".getBytes(ISO_8859_1)).take(8)
        val o = PdfCrypt.hash2B(pwO, vSaltO, u) ++ vSaltO ++ kSaltO
        val oe = PdfCrypt.aesCbcNoPad(PdfCrypt.hash2B(pwO, kSaltO, u),
          new Array[Byte](16), fileKey, encrypt = true)
        val pm = PdfCrypt.permsV5(fileKey, perm, encryptMetadata = true)
        (PdfCrypt.Encryption(fileKey, aes = true, encObj, v5 = true),
          u, o, ue, oe, pm)
      } else {
        val o = PdfCrypt.ownerEntry(pwO, pwU, r, 128)
        val key = PdfCrypt.fileKey(pwU, o, perm, id0, r, 128)
        (PdfCrypt.Encryption(key, aes, encObj),
          PdfCrypt.userEntry(key, id0, r), o,
          Array.empty[Byte], Array.empty[Byte], Array.empty[Byte])
      }

    val ps = pages.zipWithIndex.map { case (p, i) =>
      val (body, filter) = filtered(pageContent(p), flate(compress))
      Page(mediaBox, f1(fontObj), (PdfCrypt.encryptBytes(enc, 4 + 2 * i, 0, body), filter))
    }
    classic(ps, encObj + 1, trailer = s" /Info $infoObj 0 R /Encrypt $encObj 0 R " +
      s"/ID [ ${hexStr(id0)} ${hexStr(id0)} ]") { e =>
      e.obj(fontObj, Helvetica)
      // Info dict: an encrypted STRING outside any stream
      val title = PdfCrypt.encryptBytes(enc, infoObj, 0,
        s"Fixture Title $n".getBytes(ISO_8859_1))
      e.obj(infoObj, s"<< /Title ${hexStr(title)} >>")
      // Encrypt dict: its own strings are NOT encrypted (§7.6.2)
      e.obj(encObj,
        if (r6)
          s"<< /Filter /Standard /V 5 /R 6 /Length 256 " +
            s"/CF << /StdCF << /CFM /AESV3 /Length 32 >> >> /StmF /StdCF /StrF /StdCF " +
            s"/P $perm /O ${hexStr(oEntry)} /U ${hexStr(uEntry)} " +
            s"/OE ${hexStr(oeEntry)} /UE ${hexStr(ueEntry)} " +
            s"/Perms ${hexStr(permsEntry)} >>"
        else {
          val cf =
            if (aes) " /CF << /StdCF << /CFM /AESV2 /Length 16 >> >> /StmF /StdCF /StrF /StdCF"
            else ""
          val v = if (aes) 4 else 2
          s"<< /Filter /Standard /V $v /R $r /Length 128 " +
            s"/P $perm /O ${hexStr(oEntry)} /U ${hexStr(uEntry)}$cf >>"
        })
    }
  }

  /** Serialize a ToUnicode map as an Adobe CMap (§9.10.3): sorted
    * bfchar blocks of ≤100 entries, 4-hex-digit codes for 2-byte fonts.
    */
  def cmapBytes(twoByte: Boolean, m: Map[Int, String]): Array[Byte] = {
    val sb = new StringBuilder
    sb.append("/CIDInit /ProcSet findresource begin\n12 dict begin\nbegincmap\n")
    sb.append("1 begincodespacerange\n")
    sb.append(if (twoByte) "<0000> <FFFF>\n" else "<00> <FF>\n")
    sb.append("endcodespacerange\n")
    m.toSeq.sortBy(_._1).grouped(100).foreach { grp =>
      sb.append(s"${grp.size} beginbfchar\n")
      grp.foreach { case (code, str) =>
        val dst = str.getBytes(java.nio.charset.StandardCharsets.UTF_16BE)
          .map(b => f"${b & 0xff}%02X").mkString
        // hex width follows the CODE, not just the font type: a 1-byte
        // font may still map codes > 0xFF (arbitrary-width bfchar src),
        // and an odd-length hex string would parse back as a DIFFERENT
        // code after the lexer pads the trailing nibble
        val w =
          if (code > 0xffff) 6 else if (twoByte || code > 0xff) 4 else 2
        sb.append(s"<${("%0" + w + "X").format(code)}> <$dst>\n")
      }
      sb.append("endbfchar\n")
    }
    sb.append("endcmap\nCMapName currentdict /CMap defineresource pop\nend\nend")
    sb.toString.getBytes(ISO_8859_1)
  }

  /** Type0/CID fixture: text shown as TWO-BYTE codes through a
    * generated /ToUnicode CMap (codes assigned per distinct char, offset
    * 0x0100 so no code equals its Unicode value) — the embedded-subset
    * shape real crawl PDFs have, where Tj bytes are meaningless without
    * the CMap.
    */
  def buildType0(pages: Seq[Seq[String]], compress: Boolean,
                 mediaBox: (Double, Double) = (612.0, 792.0)): Array[Byte] = {
    require(pages.nonEmpty, "pdf needs at least one page")
    val chars = pages.flatten.flatten.distinct.sorted
    val enc: Map[Char, Int] = chars.zipWithIndex.map { case (c, i) => c -> (0x0100 + i) }.toMap
    val toUni: Map[Int, String] = enc.map { case (c, code) => code -> c.toString }
    val fi = Pdf.FontInfo(twoByte = true, toUnicode = Some(toUni))
    val contents = pages.map(textContent(_)(l => "<" + l.map(c => f"${enc(c)}%04X").mkString + ">"))
    buildRaw(contents, compress, Seq.fill(pages.size)(mediaBox),
      Seq.fill(pages.size)(Map("F1" -> fi)))
  }

  /** PDF 1.5-style build: same page/text semantics as [[build]], but the
    * modern file layout — document dictionaries (catalog, page tree,
    * pages, font) packed into a compressed object stream (`/ObjStm`) and
    * the cross-reference emitted as a `/Type /XRef` stream (`/W [1 4 2]`)
    * behind FlateDecode + PNG Up predictor (`/Predictor 12`), with no
    * `trailer` keyword. This is the shape virtually every post-2005
    * real-crawl PDF has, and it keeps the parser's 1.5 path inside the
    * co-designed fixture domain.
    */
  def build15(pages: Seq[Seq[String]], compress: Boolean,
              mediaBox: (Double, Double) = (612.0, 792.0)): Array[Byte] = {
    require(pages.nonEmpty, "pdf needs at least one page")
    buildRaw15(pages.map(pageContent), compress, Seq.fill(pages.size)(mediaBox))
  }

  /** 1.5 layout from already-rendered content streams. */
  def buildRaw15(contents: Seq[Array[Byte]], compress: Boolean,
                 boxes: Seq[(Double, Double)]): Array[Byte] = {
    val n = contents.size
    // numbering: 1..n content streams (streams may not live in an
    // ObjStm), n+1 the ObjStm, n+2 catalog, n+3 pages, n+4..2n+3 page
    // dicts, 2n+4 font (all compressed), 2n+5 the xref stream
    val objStm = n + 1; val catalog = n + 2; val pagesObj = n + 3
    def pageObj(i: Int) = n + 4 + i
    val fontObj = 2 * n + 4; val xrefObj = 2 * n + 5
    val e = new Emitter("1.5", xrefObj + 1)

    contents.zipWithIndex.foreach { case (raw, i) =>
      val (body, filter) = filtered(raw, flate(compress))
      e.stream(i + 1, body)(len => s"<< /Length $len$filter >>")
    }
    // the compressed object stream: header = N (objnum, offset) pairs,
    // offsets relative to /First
    val inner: Seq[(Int, String)] = Seq(
      catalog -> s"<< /Type /Catalog /Pages $pagesObj 0 R >>",
      pagesObj -> pageTree((0 until n).map(pageObj))) ++
      (0 until n).map(i => pageObj(i) -> pageDict(pagesObj, boxes(i), f1(fontObj), i + 1)) :+
      (fontObj -> Helvetica)
    val bodySb = new StringBuilder
    val innerOffs = inner.map { case (_, src) =>
      val o = bodySb.length; bodySb.append(src).append('\n'); o
    }
    val hdr = inner.zip(innerOffs)
      .map { case ((num, _), o) => s"$num $o" }.mkString(" ") + "\n"
    e.stream(objStm, deflate((hdr + bodySb).getBytes(ISO_8859_1)))(len =>
      s"<< /Type /ObjStm /N ${inner.size} /First ${hdr.length} /Filter /FlateDecode /Length $len >>")
    // xref stream: W [1 4 2] rows for objects 0..xrefObj, Up-predicted
    val rowLen = 7
    val rows = new Array[Byte]((xrefObj + 1) * rowLen)
    def setRow(i: Int, typ: Int, f2: Long, f3: Int): Unit = {
      val p = i * rowLen
      rows(p) = typ.toByte
      rows(p + 1) = ((f2 >> 24) & 0xff).toByte
      rows(p + 2) = ((f2 >> 16) & 0xff).toByte
      rows(p + 3) = ((f2 >> 8) & 0xff).toByte
      rows(p + 4) = (f2 & 0xff).toByte
      rows(p + 5) = ((f3 >> 8) & 0xff).toByte
      rows(p + 6) = (f3 & 0xff).toByte
    }
    setRow(0, 0, 0, 65535)
    (1 to objStm).foreach(i => setRow(i, 1, e.offsets(i), 0))
    inner.zipWithIndex.foreach { case ((num, _), k) => setRow(num, 2, objStm, k) }
    val xrefAt = e.pos
    setRow(xrefObj, 1, xrefAt, 0)
    // Predictor 12: every row Up-filtered (type byte 2, delta vs row above)
    val pred = new Array[Byte]((xrefObj + 1) * (rowLen + 1))
    (0 to xrefObj).foreach { r =>
      pred(r * (rowLen + 1)) = 2
      (0 until rowLen).foreach { c =>
        val above = if (r > 0) rows((r - 1) * rowLen + c) else 0: Byte
        pred(r * (rowLen + 1) + 1 + c) = (rows(r * rowLen + c) - above).toByte
      }
    }
    e.stream(xrefObj, deflate(pred))(len =>
      s"<< /Type /XRef /Size ${xrefObj + 1} /Root $catalog 0 R " +
        s"/W [ 1 4 2 ] /Filter /FlateDecode " +
        s"/DecodeParms << /Predictor 12 /Columns $rowLen >> /Length $len >>")
    e.w(s"startxref\n$xrefAt\n%%EOF\n")
    e.bytes
  }
}
