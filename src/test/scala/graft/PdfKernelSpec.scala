package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.kernel.{Pdf, PdfWriter}
import java.nio.charset.StandardCharsets.ISO_8859_1

class PdfKernelSpec extends AnyFunSuite {

  private def pdf(pages: Seq[Seq[String]], compress: Boolean = false) =
    PdfWriter.build(pages, compress)

  test("writer → parser roundtrip, uncompressed") {
    val bytes = pdf(Seq(Seq("hello world", "line two"), Seq("page two")))
    assert(new String(bytes.take(5), ISO_8859_1) === "%PDF-")
    val doc = Pdf.parseDoc(bytes)
    val ps = Pdf.pages(doc)
    assert(ps.length === 2)
    assert(ps.head.width === 612.0 && ps.head.height === 792.0)
    assert(Pdf.pageText(ps(0).content) === "hello world\nline two\n")
    assert(Pdf.pageText(ps(1).content) === "page two\n")
  }

  test("writer → parser roundtrip, FlateDecode") {
    val bytes = pdf(Seq(Seq("compressed content here", "with two lines")), compress = true)
    val ps = Pdf.pages(Pdf.parseDoc(bytes))
    assert(Pdf.pageText(ps.head.content) === "compressed content here\nwith two lines\n")
  }

  test("string escapes and special chars survive") {
    val line = "parens (nested (deep)) and \\ backslash"
    val ps = Pdf.pages(Pdf.parseDoc(pdf(Seq(Seq(line)))))
    assert(Pdf.pageText(ps.head.content) === line + "\n")
  }

  test("content-stream operators: TJ array, quote, hex strings") {
    val content = ("BT /F1 12 Tf 72 720 Td [(Hel) -120 (lo)] TJ 0 -14 Td (next) Tj " +
      "(third)' <776F726C64> Tj ET").getBytes(ISO_8859_1)
    assert(Pdf.pageText(content) === "Hello\nnext\nthirdworld\n")
  }

  test("chunker: 25 pages → chunks of 10/10/5 with exact boundary math") {
    val pages = (1 to 25).map(i => Seq(s"page $i body"))
    val chunks = Pdf.chunkBytes(pdf(pages, compress = true))
    assert(chunks.length === 3)
    val counts = chunks.map(c => Pdf.pages(Pdf.parseDoc(c)).length)
    assert(counts === Vector(10, 10, 5))
  }

  test("fuzz: random documents roundtrip + chunk-associativity (400 seeded samples)") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val lineGen = Gen.chooseNum(0, 40).flatMap(k =>
      Gen.listOfN(k, Gen.oneOf(
        Gen.alphaNumStr.map(_.take(30)),
        Gen.oneOf("paren ( close )", "back \\ slash", "tabs\tand\rctrl",
          "octal  bell", "ümlaut ß ç", "", "  spaces  "))).map(_.map(identity)))
    val docGen = for {
      nPages <- Gen.chooseNum(1, 23)
      pages <- Gen.listOfN(nPages, lineGen)
      compress <- Gen.oneOf(true, false)
    } yield (pages.map(_.toSeq), compress)
    var seed = Seed(11L)
    (1 to 400).foreach { k =>
      val ((pages, compress), _) = (docGen.pureApply(Gen.Parameters.default, seed), ())
      seed = seed.next
      val bytes = PdfWriter.build(pages.map(p => if (p.isEmpty) Seq("") else p), compress)
      val whole = Pdf.extractChunk(bytes)
      assert(whole.pages.size === pages.size, s"sample #$k page count")
      // chunk associativity: concat of chunk texts == whole-doc text
      val viaChunks = Pdf.chunkBytes(bytes).map(Pdf.extractChunk)
      assert(viaChunks.map(_.text).mkString === whole.text, s"sample #$k assoc")
      assert(Pdf.extractDocChunks(bytes) === viaChunks, s"sample #$k direct==bytes")
    }
  }

  test("extractDocChunks == chunkBytes.map(extractChunk) over fixture PDFs") {
    graft.fixtures.PageGen.pages(200, seed = 5L)
      .filter(p => new String(p.html.take(5)) == "%PDF-")
      .foreach { p =>
        val direct = Pdf.extractDocChunks(p.html)
        val viaBytes = Pdf.chunkBytes(p.html).map(Pdf.extractChunk)
        assert(direct === viaBytes, p.url)
      }
  }

  test("chunk concat == whole-document extraction (associativity contract)") {
    val pages = (1 to 23).map(i => Seq(s"alpha $i", s"beta $i"))
    val whole = pdf(pages, compress = true)
    val viaChunks = Pdf.chunkBytes(whole).map(c => Pdf.extractChunk(c).text).mkString
    val direct = Pdf.pages(Pdf.parseDoc(whole)).map(p => Pdf.pageText(p.content)).mkString
    assert(viaChunks === direct)
  }

  test("chunker is deterministic: identical payloads → identical chunk bytes") {
    val pages = (1 to 12).map(i => Seq(s"dup page $i"))
    val a = Pdf.chunkBytes(pdf(pages, compress = true))
    val b = Pdf.chunkBytes(pdf(pages, compress = true))
    assert(a.length === b.length)
    a.zip(b).foreach { case (x, y) => assert(x.sameElements(y)) }
  }

  test("extractChunk: page_number restarts at 1, confidence 1.0 at 4dp, mediabox dims") {
    val r = Pdf.extractChunk(pdf(Seq(Seq("a"), Seq("b"))))
    assert(r.pages.map(_.page_number) === Vector(1, 2))
    assert(r.pages.forall(p => p.confidence === 1.0))
    assert(r.pages.forall(p => p.width === 612.0 && p.height === 792.0))
    assert(r.text === "a\nb\n")
  }

  test("custom mediabox propagates") {
    val bytes = PdfWriter.build(Seq(Seq("wide")), compress = false, mediaBox = (1024.0, 512.0))
    val p = Pdf.pages(Pdf.parseDoc(bytes)).head
    assert(p.width === 1024.0 && p.height === 512.0)
  }

  test("non-PDF bytes raise ParseError") {
    intercept[Pdf.ParseError](Pdf.parseDoc("<html>not a pdf</html>".getBytes(ISO_8859_1)))
  }

  // ------------------------------------------------ PDF 1.5 (round-4 add)

  test("pdf 1.5: xref-stream + ObjStm file extracts byte-identically to classic") {
    val content = Seq(Seq("modern layout", "second line"), Seq("page two here"))
    for (compress <- Seq(false, true)) {
      val classic = PdfWriter.build(content, compress)
      val modern = PdfWriter.build15(content, compress)
      val s15 = new String(modern, ISO_8859_1)
      // really 1.5-shaped: no trailer keyword, no classic xref table
      assert(!s15.contains("trailer"), "1.5 file must have no trailer keyword")
      assert(!s15.contains("xref\n0 "), "1.5 file must have no xref table")
      assert(s15.contains("/ObjStm") && s15.contains("/XRef") &&
        s15.contains("/Predictor 12"))
      val psC = Pdf.pages(Pdf.parseDoc(classic))
      val psM = Pdf.pages(Pdf.parseDoc(modern))
      assert(psM.length === psC.length)
      psC.zip(psM).foreach { case (c, m) =>
        assert(Pdf.pageText(m.content) === Pdf.pageText(c.content))
        assert(m.width === c.width && m.height === c.height)
      }
    }
  }

  test("pdf 1.5: trailer is recovered from the xref stream dict (no keyword)") {
    val doc = Pdf.parseDoc(PdfWriter.build15(Seq(Seq("root recovery")), compress = true))
    assert(doc.trailer.m.contains("Root"), "Root must come from the /XRef dict")
    assert(Pdf.pages(doc).nonEmpty)
  }

  test("pdf 1.5: W-field xref entries describe the layout exactly") {
    val n = 3
    val bytes = PdfWriter.build15(Seq.fill(n)(Seq("x")), compress = false)
    val doc = Pdf.parseDoc(bytes)
    val xrefSt = doc.objects.collectFirst {
      case (_, st @ Pdf.PStream(d, _))
        if doc.resolve(d.m.getOrElse("Type", Pdf.PNull)) == Pdf.PName("XRef") => st
    }.get
    val entries = Pdf.xrefEntries(doc, xrefSt)
    // objects: 0 free, 1..n content + objstm direct (type 1), the inner
    // dicts compressed (type 2: catalog, pages, n pages, font), xref direct
    assert(entries.length === 2 * n + 6)
    val byType = entries.groupBy(_._2).view.mapValues(_.length).toMap
    assert(byType(0) === 1 && byType(1) === n + 2 && byType(2) === n + 3)
    // every type-1 offset points at the "N G obj" header of that object
    val s = new String(bytes, ISO_8859_1)
    entries.filter(_._2 == 1).foreach { case (num, _, off, _) =>
      assert(s.startsWith(s"$num 0 obj", off.toInt), s"offset of obj $num")
    }
    // every type-2 entry points into the single ObjStm
    val objStmNum = doc.objects.collectFirst {
      case (num, Pdf.PStream(d, _))
        if doc.resolve(d.m.getOrElse("Type", Pdf.PNull)) == Pdf.PName("ObjStm") => num
    }.get
    assert(entries.filter(_._2 == 2).forall(_._3 == objStmNum.toLong))
  }

  test("pdf 1.5: chunker handles modern files (25 pages → 10/10/5)") {
    val pages = (1 to 25).map(i => Seq(s"page $i"))
    val chunks = Pdf.chunkBytes(PdfWriter.build15(pages, compress = true))
    assert(chunks.map(c => Pdf.pages(Pdf.parseDoc(c)).length) === Vector(10, 10, 5))
    val whole = chunks.map(c => Pdf.extractChunk(c).text).mkString
    assert(whole === (1 to 25).map(i => s"page $i\n").mkString)
  }

  test("pdf 1.5: newest xref's type-2 entry overrides a stale direct object") {
    // an incremental-update shape: object 4 (the page dict) exists BOTH
    // directly (old version → contents obj 1 "OLD") and inside an ObjStm
    // (new version → contents obj 2 "NEW"); the xref stream marks obj 4
    // type 2, so the compressed version is current. A parser that only
    // body-scans would return "OLD" — this pins the W-decode as
    // load-bearing, not dead code.
    val out = new java.io.ByteArrayOutputStream()
    def w(str: String): Int = { val at = out.size(); out.write(str.getBytes(ISO_8859_1)); at }
    def stream(num: Int, dict: String, body: String): Int =
      w(s"$num 0 obj\n<< $dict /Length ${body.length} >>\nstream\n$body\nendstream\nendobj\n")
    w("%PDF-1.5\n%âãÏÓ\n")
    val cOld = "BT /F1 12 Tf 72 720 Td (OLD) Tj ET"
    val cNew = "BT /F1 12 Tf 72 720 Td (NEW) Tj ET"
    stream(1, "", cOld)
    stream(2, "", cNew)
    w("4 0 obj\n<< /Type /Page /Parent 3 0 R /MediaBox [ 0 0 612 792 ] /Contents 1 0 R >>\nendobj\n")
    val inner = Seq(
      3 -> "<< /Type /Pages /Kids [ 4 0 R ] /Count 1 >>",
      4 -> "<< /Type /Page /Parent 3 0 R /MediaBox [ 0 0 612 792 ] /Contents 2 0 R >>",
      6 -> "<< /Type /Catalog /Pages 3 0 R >>")
    val bodySb = new StringBuilder
    val offs = inner.map { case (_, src) => val o = bodySb.length; bodySb.append(src).append('\n'); o }
    val hdr = inner.zip(offs).map { case ((num, _), o) => s"$num $o" }.mkString(" ") + "\n"
    val stmAt = stream(5, s"/Type /ObjStm /N 3 /First ${hdr.length}", hdr + bodySb)
    // a SECOND ObjStm (an even older incremental generation) also carries
    // object 4, pointing back at the OLD content — the xref's (stream,
    // index) fields must select stream 5's member, not whichever ObjStm
    // happens to expand last in map iteration order
    val stale = "4 0\n<< /Type /Page /Parent 3 0 R /MediaBox [ 0 0 612 792 ] /Contents 1 0 R >>\n"
    val staleFirst = stale.indexOf('\n') + 1
    val staleAt = stream(8, s"/Type /ObjStm /N 1 /First $staleFirst", stale)
    val _ = staleAt
    // xref stream, uncompressed, W [1 4 2]: 0 free, 1/2 direct, 3 in
    // stm 5 idx 0, 4 in stm 5 idx 1 (the OVERRIDE), 5 direct, 6 in stm 5
    // idx 2, 7 (this stream) direct, 8 direct — offsets patched after
    def row(t: Int, f2: Long, f3: Int): Array[Byte] =
      Array[Byte](t.toByte, ((f2 >> 24) & 0xff).toByte, ((f2 >> 16) & 0xff).toByte,
        ((f2 >> 8) & 0xff).toByte, (f2 & 0xff).toByte,
        ((f3 >> 8) & 0xff).toByte, (f3 & 0xff).toByte)
    val xrefAt = out.size()
    val xrows = Array(row(0, 0, 65535), row(1, 9999, 0), row(1, 9999, 0),
      row(2, 5, 0), row(2, 5, 1), row(1, stmAt, 0), row(2, 5, 2),
      row(1, xrefAt, 0), row(1, staleAt, 0)).flatten
    w(s"7 0 obj\n<< /Type /XRef /Size 9 /Root 6 0 R /W [ 1 4 2 ] /Length ${xrows.length} >>\nstream\n")
    out.write(xrows)
    w(s"\nendstream\nendobj\nstartxref\n$xrefAt\n%%EOF\n")
    val doc = Pdf.parseDoc(out.toByteArray)
    val ps = Pdf.pages(doc)
    assert(ps.length === 1)
    assert(Pdf.pageText(ps.head.content) === "NEW\n",
      "type-2 xref entry must select the compressed (updated) page dict")
  }

  // ------------------------------------------------- stream filters

  test("filters: LZW/RLE/ASCIIHex/ASCII85 round-trip, including the LZW width boundaries") {
    val r = new scala.util.Random(31)
    for (n <- Seq(0, 1, 5, 300, 5000, 40000)) {
      // low-entropy data grows the LZW table through 511/1023/2047 and
      // (at 40k) past the 4095 reset
      val data = Array.tabulate[Byte](n)(i => ((i / 7 + r.nextInt(3)) % 17).toByte)
      assert(Pdf.lzwDecode(PdfWriter.lzwEncode(data)).toSeq === data.toSeq, s"lzw n=$n")
      assert(Pdf.rleDecode(PdfWriter.rleEncode(data)).toSeq === data.toSeq, s"rle n=$n")
      assert(Pdf.ahxDecode(PdfWriter.ahxEncode(data)).toSeq === data.toSeq, s"ahx n=$n")
      assert(Pdf.a85Decode(PdfWriter.a85Encode(data)).toSeq === data.toSeq, s"a85 n=$n")
    }
    // random (high-entropy) payloads too
    for (seed <- 1 to 10) {
      val rr = new scala.util.Random(seed)
      val data = new Array[Byte](rr.nextInt(3000) + 1)
      rr.nextBytes(data)
      assert(Pdf.lzwDecode(PdfWriter.lzwEncode(data)).toSeq === data.toSeq, s"lzw seed=$seed")
      assert(Pdf.a85Decode(PdfWriter.a85Encode(data)).toSeq === data.toSeq, s"a85 seed=$seed")
    }
    // a85 'z' shortcut and hostile inputs
    assert(Pdf.a85Decode("z~>".getBytes(ISO_8859_1)).toSeq === Seq[Byte](0, 0, 0, 0))
    intercept[Pdf.ParseError](Pdf.ahxDecode("4G>".getBytes(ISO_8859_1)))
    intercept[Pdf.ParseError](Pdf.a85Decode("~>".getBytes(ISO_8859_1)))
    intercept[Pdf.ParseError](Pdf.lzwDecode(Array.fill[Byte](40)(-1)))
    // RLE bomb: each `0x81 b` pair repeats b 128 times, so 1 MiB of pairs
    // decodes past the 64 MiB cap
    val rleBomb = Array.tabulate[Byte](2 * ((1 << 19) + 1))(i => if (i % 2 == 0) 0x81.toByte else 0)
    intercept[Pdf.ParseError](Pdf.rleDecode(rleBomb))
  }

  test("filters: FlateDecode /Predictor 15 undoes every PNG row filter") {
    import graft.fixtures.MediaGen
    import Pdf.{PDict, PName, PNum, PStream}
    val (w, h) = (7, 11) // 11 rows cycle None/Sub/Up/Average/Paeth twice over
    val r = new scala.util.Random(15)
    val img = Array.fill[Byte](w * h * 3)(r.nextInt(256).toByte)
    val png = MediaGen.png(img, w, h, 3)
    // the one IDAT chunk: its zlib stream is the filtered rows
    val at = (8 until png.length - 3).find(i => new String(png, i, 4, ISO_8859_1) == "IDAT").get
    val len = java.nio.ByteBuffer.wrap(png, at - 4, 4).getInt
    val idat = java.util.Arrays.copyOfRange(png, at + 4, at + 4 + len)
    val parms = PDict(Map("Predictor" -> PNum(15), "Columns" -> PNum(w), "Colors" -> PNum(3)))
    val st = PStream(PDict(Map("Filter" -> PName("FlateDecode"), "DecodeParms" -> parms)), idat)
    val doc = Pdf.PdfDoc(Map.empty, PDict(Map.empty))
    assert(Pdf.decodeStream(doc, st).toSeq === img.toSeq)
  }

  test("filtered pdfs: every filter and a chained [ASCII85 Flate] extract identically") {
    val pages = Seq(Seq("filter page one", "line two"), Seq("page deux"))
    val want = Pdf.pages(Pdf.parseDoc(PdfWriter.build(pages, compress = false)))
      .map(p => Pdf.pageText(p.content))
    for (fs <- Seq(Seq("LZWDecode"), Seq("RunLengthDecode"),
        Seq("ASCIIHexDecode"), Seq("ASCII85Decode"),
        Seq("ASCII85Decode", "FlateDecode"),
        Seq("ASCIIHexDecode", "LZWDecode"))) {
      val bytes = PdfWriter.buildWithFilters(pages, fs)
      val got = Pdf.pages(Pdf.parseDoc(bytes)).map(p => Pdf.pageText(p.content))
      assert(got === want, s"filters $fs")
      // chunker handles filtered sources (re-serializes uncompressed)
      val viaChunks = Pdf.chunkBytes(bytes).flatMap(c =>
        Pdf.pages(Pdf.parseDoc(c)).map(p => Pdf.pageText(p.content)))
      assert(viaChunks === want, s"chunker under $fs")
    }
  }

  // ---------------------------------------- standard security handler

  test("rc4 matches the published test vectors") {
    import graft.kernel.PdfCrypt
    def hex(b: Array[Byte]) = b.map(x => f"${x & 0xff}%02x").mkString
    // the two classic ARCFOUR vectors (key "Key"/"Wiki", public folklore
    // reproduced in the original cypherpunks posting and RFC 6229 notes)
    assert(hex(PdfCrypt.rc4("Key".getBytes(ISO_8859_1),
      "Plaintext".getBytes(ISO_8859_1))) === "bbf316e8d940af0ad3")
    assert(hex(PdfCrypt.rc4("Wiki".getBytes(ISO_8859_1),
      "pedia".getBytes(ISO_8859_1))) === "1021bf0420")
    // symmetry: decrypt(encrypt(x)) == x for a binary payload
    val key = Array[Byte](1, 2, 3, 4, 5)
    val data = Array.tabulate[Byte](257)(i => i.toByte)
    assert(PdfCrypt.rc4(key, PdfCrypt.rc4(key, data)).toSeq === data.toSeq)
  }

  test("encrypted pdf (RC4-128, empty user password): text and Info string decrypt") {
    val pages = Seq(Seq("secret line one", "secret line two"), Seq("page two"))
    val bytes = PdfWriter.buildEncrypted(pages, compress = true)
    val doc = Pdf.parseDoc(bytes)
    val ps = Pdf.pages(doc)
    assert(ps.length === 2)
    assert(Pdf.pageText(ps(0).content) === "secret line one\nsecret line two\n")
    assert(Pdf.pageText(ps(1).content) === "page two\n")
    // the /Info title is a string OUTSIDE any stream — string decryption
    val info = doc.dictOf(doc.trailer.m("Info")).m
    doc.resolve(info("Title")) match {
      case Pdf.PStr(b) => assert(new String(b, ISO_8859_1) === "Fixture Title 2")
      case other       => fail(s"Title not a string: $other")
    }
    // the raw file must NOT contain the plaintext (it is actually encrypted)
    assert(!new String(bytes, ISO_8859_1).contains("secret line"))
  }

  test("encrypted pdf (AESV2): round-trips, uncompressed and FlateDecode") {
    for (compress <- Seq(false, true)) {
      val bytes = PdfWriter.buildEncrypted(
        Seq(Seq("aes body", "second")), compress = compress, aes = true)
      val ps = Pdf.pages(Pdf.parseDoc(bytes))
      assert(Pdf.pageText(ps.head.content) === "aes body\nsecond\n",
        s"compress=$compress")
      assert(!new String(bytes, ISO_8859_1).contains("aes body"))
    }
  }

  test("encrypted pdf: chunker splits and chunks re-extract to the same text") {
    val pages = (1 to 23).map(i => Seq(s"enc page $i"))
    val bytes = PdfWriter.buildEncrypted(pages, compress = true)
    val chunks = Pdf.chunkBytes(bytes)
    assert(chunks.map(c => Pdf.pages(Pdf.parseDoc(c)).length) === Vector(10, 10, 3))
    val whole = Pdf.pages(Pdf.parseDoc(bytes)).map(p => Pdf.pageText(p.content))
    val viaChunks = chunks.flatMap(c =>
      Pdf.pages(Pdf.parseDoc(c)).map(p => Pdf.pageText(p.content)))
    assert(viaChunks === whole)
  }

  test("password-protected pdf is refused, not garbled") {
    val bytes = PdfWriter.buildEncrypted(Seq(Seq("locked")), compress = false,
      userPw = "hunter2")
    val e = intercept[Pdf.ParseError](Pdf.parseDoc(bytes))
    assert(e.getMessage.contains("non-empty user password"))
  }

  // ------------------------------------------ Type0 / ToUnicode fonts

  test("parseCMap: bfchar, incrementing bfrange, array bfrange") {
    val cmap = """/CIDInit /ProcSet findresource begin
      |begincmap
      |2 beginbfchar
      |<0041> <0061>
      |<0042> <00620063>
      |endbfchar
      |1 beginbfrange
      |<0100> <0103> <0041>
      |endbfrange
      |1 beginbfrange
      |<0200> <0201> [ <20AC> <00580059> ]
      |endbfrange
      |endcmap end""".stripMargin.getBytes(ISO_8859_1)
    val m = Pdf.parseCMap(cmap)
    assert(m(0x41) === "a")
    assert(m(0x42) === "bc") // multi-char destination
    assert((0x100 to 0x103).map(m) === Seq("A", "B", "C", "D"))
    assert(m(0x200) === "€" && m(0x201) === "XY")
  }

  test("type0/ToUnicode pdf: two-byte codes decode to the original text") {
    val pages = Seq(Seq("CID hello", "wörld €2"), Seq("page zwei"))
    val bytes = PdfWriter.buildType0(pages, compress = true)
    // raw Tj bytes are CODES, not text: plaintext must be absent
    assert(!new String(bytes, ISO_8859_1).contains("CID hello"))
    val ps = Pdf.pages(Pdf.parseDoc(bytes))
    assert(ps.length === 2)
    assert(Pdf.pageText(ps(0).content, ps(0).fonts) === "CID hello\nwörld €2\n")
    assert(Pdf.pageText(ps(1).content, ps(1).fonts) === "page zwei\n")
    // without the font map the codes are meaningless — NOT the text
    assert(Pdf.pageText(ps(0).content) !== "CID hello\nwörld €2\n")
  }

  test("type0 pdf: chunker preserves the font map across re-serialization") {
    val pages = (1 to 12).map(i => Seq(s"cid page $i"))
    val bytes = PdfWriter.buildType0(pages, compress = true)
    val chunks = Pdf.chunkBytes(bytes)
    assert(chunks.length === 2)
    val viaChunks = chunks.flatMap(c =>
      Pdf.extractChunk(c).text.split("\n").filter(_.nonEmpty))
    val direct = Pdf.extractDocChunks(bytes).flatMap(_.text.split("\n").filter(_.nonEmpty))
    assert(direct === (1 to 12).map(i => s"cid page $i").toVector)
    assert(viaChunks === direct, "chunk re-serialization lost the ToUnicode map")
  }

  test("type0 without ToUnicode emits nothing (honest absence, no CID garbage)") {
    val fi = Pdf.FontInfo(twoByte = true, toUnicode = None)
    val content = "BT /F1 12 Tf 72 720 Td <01000101> Tj ET".getBytes(ISO_8859_1)
    assert(Pdf.pageText(content, Map("F1" -> fi)) === "\n")
    // and unmapped codes under a partial map are dropped, mapped ones kept
    val part = Pdf.FontInfo(twoByte = true, toUnicode = Some(Map(0x100 -> "Q")))
    assert(Pdf.pageText(content, Map("F1" -> part)) === "Q\n")
  }

  test("encryption round-trip property: assorted page counts, both ciphers") {
    for (n <- Seq(1, 3, 11); aes <- Seq(false, true)) {
      val pages = (1 to n).map(i => Seq(s"pg $i alpha", s"pg $i beta"))
      val bytes = PdfWriter.buildEncrypted(pages, compress = true, aes = aes)
      val ps = Pdf.pages(Pdf.parseDoc(bytes))
      assert(ps.length === n, s"n=$n aes=$aes")
      (0 until n).foreach { i =>
        assert(Pdf.pageText(ps(i).content) === s"pg ${i + 1} alpha\npg ${i + 1} beta\n",
          s"n=$n aes=$aes page=$i")
      }
    }
  }

  test("embedded images: G4 scan, DCT photo and raw gray extract with exact pixels") {
    import graft.kernel.{PdfWriter, Jpeg}
    // page 1: a G4 1-bit "scan" + text; page 2: a JPEG + a raw gray strip
    val (gw, gh) = (96, 40)
    val g4px = Array.tabulate(gw * gh) { i =>
      val (x, y) = (i % gw, i / gw)
      if ((x / 7 + y / 5) % 2 == 0) 1.toByte else 0.toByte
    }
    val (jw, jh) = (32, 24)
    val jLuma = Array.tabulate(jw * jh)(i => 40 + (i % jw) * 5)
    val jpegBytes = graft.fixtures.MediaGen.jpeg(jLuma, jw, jh)
    val grayPx = Array.tabulate(64 * 9)(i => ((i * 37) % 256).toByte)
    val bytes = PdfWriter.buildWithImages(
      pages = Seq(Seq("scan caption"), Seq("photo caption")),
      images = Seq(
        Seq(PdfWriter.ImageSpec("Scan", gw, gh, "g4", g4px)),
        Seq(PdfWriter.ImageSpec("Photo", jw, jh, "jpeg", jpegBytes),
          PdfWriter.ImageSpec("Strip", 64, 9, "gray", grayPx))),
      compress = true)
    val doc = Pdf.parseDoc(bytes)
    // text extraction is unaffected by the image resources
    val ps = Pdf.pages(doc)
    assert(Pdf.pageText(ps(0).content) === "scan caption\n")
    val imgs = Pdf.pageImages(doc)
    assert(imgs.map(i => (i.pageIdx, i.name, i.codec)) === Vector(
      (0, "Scan", "gray"), (1, "Photo", "jpeg"), (1, "Strip", "gray")))
    // G4: fax black -> 0 luminance, white -> 255, positions exact
    val scan = imgs(0)
    assert((scan.width, scan.height) === ((gw, gh)))
    assert(scan.data.toSeq === g4px.map(b =>
      if (b == 1) 0.toByte else 0xff.toByte).toSeq, "G4 pixel drift")
    // JPEG payload decodes through the from-scratch kernel, near-lossless
    val photo = Jpeg.decode(imgs(1).data)
    assert((photo.width, photo.height) === ((jw, jh)))
    val maxErr = photo.samples.zip(jLuma).map { case (a, b) => math.abs(a - b) }.max
    assert(maxErr <= 2, s"JPEG luma drift $maxErr")
    // raw gray strip byte-exact
    assert(imgs(2).data.toSeq === grayPx.toSeq)
    // G3 (/K >= 0) is refused loudly, not misdecoded
    val g4doc = PdfWriter.buildWithImages(
      Seq(Seq("x")), Seq(Seq(PdfWriter.ImageSpec("S", 8, 8, "g4",
        Array.fill(64)(0.toByte)))), compress = false)
    val s = new String(g4doc, java.nio.charset.StandardCharsets.ISO_8859_1)
    val patched = s.replace("/K -1", "/K 00")
      .getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
    val e = intercept[Pdf.ParseError](Pdf.pageImages(Pdf.parseDoc(patched)))
    assert(e.getMessage.contains("G4"), e.getMessage)
    // /Resources is inheritable (§7.7.3.4): an /XObject dict on the
    // parent /Pages node reaches a leaf page that declares none
    val one = new String(PdfWriter.buildWithImages(Seq(Seq("inherited")),
      Seq(Seq(PdfWriter.ImageSpec("Strip", 64, 9, "gray", grayPx))), compress = false), ISO_8859_1)
    val xobj = "/XObject << /Strip 5 0 R >>"
    assert(one.contains(s" $xobj >> /Contents"), "fixture must carry the page's XObject dict")
    val inherited = one.replace(s" $xobj", "")
      .replace("/Kids [ 3 0 R ] /Count 1", s"/Kids [ 3 0 R ] /Count 1 /Resources << $xobj >>")
    val got = Pdf.pageImages(Pdf.parseDoc(inherited.getBytes(ISO_8859_1)))
    assert(got.map(i => (i.pageIdx, i.name, i.codec)) === Vector((0, "Strip", "gray")))
    assert(got.head.data.toSeq === grayPx.toSeq)
  }

  test("outlines: bookmark tree flattens in reading order; UTF-16 titles; cycles safe") {
    import graft.kernel.PdfWriter
    val toc = Seq(
      (0, "Chapter 1"), (1, "Section 1.1"), (2, "Deep 1.1.1"),
      (1, "Sección 1.2 — résumé"), // non-ASCII → UTF-16BE hex string
      (0, "Chapter 2"), (1, "Section 2.1"))
    val bytes = PdfWriter.buildWithOutlines(
      Seq(Seq("page one"), Seq("page two")), toc, compress = true)
    val doc = Pdf.parseDoc(bytes)
    assert(Pdf.outlines(doc) === toc.toVector)
    // text unaffected; no outlines -> empty
    assert(Pdf.pageText(Pdf.pages(doc).head.content) === "page one\n")
    assert(Pdf.outlines(Pdf.parseDoc(
      PdfWriter.build(Seq(Seq("x")), compress = false))) === Vector())
    // a crafted cycle (item's Next pointing at itself) terminates
    val s = new String(bytes, ISO_8859_1)
    // find the first outline item object number and wire Next -> itself
    val m = "/Title \\(Chapter 1\\) /Parent (\\d+) 0 R /Next (\\d+) 0 R".r
      .findFirstMatchIn(s)
    assert(m.isDefined)
    val selfRef = s.indexOf("/Next " + m.get.group(2))
    val itemNum = m.get.group(2).toInt - 1 // Chapter 1 is the item before its Next sibling
    val cycled = s.substring(0, selfRef) + s"/Next $itemNum 0 R" +
      s.substring(selfRef + ("/Next " + m.get.group(2) + " 0 R").length)
    val got = Pdf.outlines(Pdf.parseDoc(cycled.getBytes(ISO_8859_1)))
    assert(got.nonEmpty && got.length <= toc.length, "cycle must terminate")
  }

  test("page-tree walks terminate on a cyclic Kids chain (no stack overflow)") {
    import graft.kernel.PdfWriter
    // PdfWriter emits the page tree as `2 0 obj << /Type /Pages /Kids
    // [ 3 0 R ] ... >>`; pointing Kids back at the Pages node itself is
    // the crafted cycle the r05 ADVICE names — every tree walk must
    // return (seen-set) instead of recursing to StackOverflowError,
    // which would escape the C5 per-row isolation.
    val bytes = PdfWriter.build(Seq(Seq("page one")), compress = false)
    val s = new String(bytes, ISO_8859_1)
    val cycled = s.replaceFirst("/Kids \\[ 3 0 R \\]", "/Kids [ 2 0 R ]")
    assert(cycled != s, "fixture must contain the expected Kids array")
    val doc = Pdf.parseDoc(cycled.getBytes(ISO_8859_1))
    assert(Pdf.pages(doc) === Vector(), "cyclic page tree yields no pages")
    assert(Pdf.pageLinks(doc) === Vector())
    assert(Pdf.pageImages(doc) === Vector())
    // a deep-but-acyclic Pages chain is bounded by the depth guard, not
    // the stack: 5000 nested Pages nodes, each a fresh object id
    val n = 5000
    val sb = new StringBuilder("%PDF-1.4\n")
    val offs = Array.newBuilder[Int]
    def obj(num: Int, body: String): Unit = {
      offs += sb.length
      sb.append(s"$num 0 obj\n$body\nendobj\n"); ()
    }
    obj(1, "<< /Type /Catalog /Pages 2 0 R >>")
    (2 to n).foreach(i => obj(i, s"<< /Type /Pages /Kids [ ${i + 1} 0 R ] /Count 1 >>"))
    obj(n + 1, "<< /Type /Pages /Kids [ ] /Count 0 >>")
    val xrefAt = sb.length
    sb.append(s"xref\n0 ${n + 2}\n0000000000 65535 f \n")
    offs.result().foreach(o => sb.append(f"$o%010d 00000 n \n"))
    sb.append(s"trailer\n<< /Size ${n + 2} /Root 1 0 R >>\nstartxref\n$xrefAt\n%%EOF\n")
    val deep = Pdf.parseDoc(sb.toString.getBytes(ISO_8859_1))
    assert(Pdf.pages(deep) === Vector(), "deep chain terminates via depth bound")
    assert(Pdf.pageLinks(deep) === Vector())
    assert(Pdf.pageImages(deep) === Vector())
  }

  test("pageLinks: URI annotations extract per page; GoTo and junk skipped") {
    import graft.kernel.PdfWriter
    val bytes = PdfWriter.buildWithLinks(
      pages = Seq(Seq("page one"), Seq("page two"), Seq("page three")),
      links = Seq(
        Seq("https://a.example/x", "https://b.example/y?q=(1)"),
        Seq(),
        Seq("https://c.example/z")),
      compress = true)
    val doc = Pdf.parseDoc(bytes)
    assert(Pdf.pageLinks(doc) === Vector(
      (0, "https://a.example/x"), (0, "https://b.example/y?q=(1)"),
      (2, "https://c.example/z")),
      "URI annotations must extract in page order; the GoTo annot must not")
    // text unaffected
    assert(Pdf.pageText(Pdf.pages(doc)(1).content) === "page two\n")
    // documents with no annotations yield nothing
    assert(Pdf.pageLinks(Pdf.parseDoc(PdfWriter.build(Seq(Seq("t")), compress = false))) === Vector())
  }

  test("hash2B (R6 password hash): cross-validated golden vectors") {
    import graft.kernel.PdfCrypt
    // pinned against an INDEPENDENT Algorithm 2.B implementation
    // (python `cryptography` + hashlib, written separately from the
    // spec text) — a round-count off-by-one here would agree with our
    // own writer but break on real-world R6 files, so the vectors are
    // the guard self-consistency cannot be
    def hex(b: Array[Byte]) = b.map(x => f"$x%02x").mkString
    assert(hex(PdfCrypt.hash2B(Array.empty, Array.tabulate(8)(_.toByte),
      Array.empty)) ===
      "1403c04eb647d2e60452dfc4eb0a5e0cf322e8a83a759eabbd17d498a93ba041")
    assert(hex(PdfCrypt.hash2B(Array.empty, Array.fill(8)(0xff.toByte),
      Array.empty)) ===
      "47d51b9c3d77a95f476d54a54f8300c6a044dbb7c694f0ce515507f9e90ac9cb")
    assert(hex(PdfCrypt.hash2B("hunter2".getBytes,
      Array[Byte](1, 2, 3, 4, 5, 6, 7, 8), Array.empty)) ===
      "897cfbd0db11862913e5229b5371bdd76771680bf494a48e45cc2629ebc44399")
    assert(hex(PdfCrypt.hash2B("owner".getBytes, Array.fill(8)(0x10.toByte),
      Array.fill(48)('U'.toByte))) ===
      "1b29c2bdf5340e59a6a1e6483c3f1aede5caf9ef888d78f0d3299a1e0e0ca654")
  }

  test("hash2B (R6 password hash): shape, determinism, input sensitivity") {
    import graft.kernel.PdfCrypt
    val salt = Array.tabulate(8)(_.toByte)
    val h = PdfCrypt.hash2B(Array.empty, salt, Array.empty)
    assert(h.length === 32)
    assert(PdfCrypt.hash2B(Array.empty, salt, Array.empty).toSeq === h.toSeq,
      "2.B must be deterministic")
    assert(PdfCrypt.hash2B(Array.empty, salt.map(b => (b + 1).toByte),
      Array.empty).toSeq !== h.toSeq, "salt must matter")
    assert(PdfCrypt.hash2B("pw".getBytes, salt, Array.empty).toSeq !== h.toSeq,
      "password must matter")
    assert(PdfCrypt.hash2B(Array.empty, salt, "u".getBytes).toSeq !== h.toSeq,
      "udata must matter")
  }

  test("encrypted pdf (AES-256 / R6): round-trips, strings decrypt, chunker composes") {
    for (compress <- Seq(false, true)) {
      val bytes = PdfWriter.buildEncrypted(
        Seq(Seq("r6 body line", "second line")), compress = compress, r6 = true)
      val doc = Pdf.parseDoc(bytes)
      val ps = Pdf.pages(doc)
      assert(Pdf.pageText(ps.head.content) === "r6 body line\nsecond line\n",
        s"compress=$compress")
      assert(!new String(bytes, ISO_8859_1).contains("r6 body"),
        "plaintext must not appear in the file")
      val info = doc.dictOf(doc.trailer.m("Info")).m
      doc.resolve(info("Title")) match {
        case Pdf.PStr(b) => assert(new String(b, ISO_8859_1) === "Fixture Title 1")
        case other       => fail(s"Title not a string: $other")
      }
    }
    // chunker: split → per-chunk re-extraction equals the whole document
    val many = (1 to 17).map(i => Seq(s"r6 page $i"))
    val whole = PdfWriter.buildEncrypted(many, compress = true, r6 = true)
    val chunks = Pdf.chunkBytes(whole)
    assert(chunks.map(c => Pdf.pages(Pdf.parseDoc(c)).length) === Vector(10, 7))
    val viaChunks = chunks.flatMap(c =>
      Pdf.pages(Pdf.parseDoc(c)).map(p => Pdf.pageText(p.content)))
    assert(viaChunks === Pdf.pages(Pdf.parseDoc(whole)).map(p => Pdf.pageText(p.content)))
    // R6 with a real user password is refused, not garbled
    val locked = PdfWriter.buildEncrypted(Seq(Seq("locked r6")),
      compress = false, r6 = true, userPw = "hunter2")
    val e = intercept[Pdf.ParseError](Pdf.parseDoc(locked))
    assert(e.getMessage.contains("non-empty user password"))
    // a corrupted /UE (wrong wrapped key) trips the /Perms integrity check
    val good = PdfWriter.buildEncrypted(Seq(Seq("x")), compress = false, r6 = true)
    val s = new String(good, ISO_8859_1)
    val ueAt = s.indexOf("/UE <") + 5
    val corrupted = good.clone()
    corrupted(ueAt) = (if (s.charAt(ueAt) == '0') '1' else '0').toByte
    val e2 = intercept[Pdf.ParseError](Pdf.parseDoc(corrupted))
    assert(e2.getMessage.contains("Perms integrity"),
      s"corrupt UE must fail the Perms check, got: ${e2.getMessage}")
  }

  test("builder bytes are pinned: seeded calls to every public builder hash to fixed digests") {
    import graft.kernel.PdfWriter.ImageSpec
    def sha(b: Array[Byte]): Array[Byte] =
      java.security.MessageDigest.getInstance("SHA-256").digest(b)
    // one digest per builder: SHA-256 over the concatenated per-call digests
    val calls = scala.collection.mutable.LinkedHashMap.empty[String, Vector[Array[Byte]]]
    def pin(name: String, bytes: Array[Byte]): Unit =
      calls(name) = calls.getOrElse(name, Vector.empty) :+ sha(bytes)
    val alphabet = "abcXYZ 019.,()\\\n\ré"
    for (round <- 0 until 24) {
      val rnd = new scala.util.Random(round)
      val compress = round % 2 == 0
      def str(max: Int): String =
        Seq.fill(1 + rnd.nextInt(max))(alphabet(rnd.nextInt(alphabet.length))).mkString
      val n = 1 + rnd.nextInt(if (round % 6 == 5) 14 else 4)
      val pages = Seq.fill(n)(Seq.fill(1 + rnd.nextInt(3))(str(20)))
      val box = Seq((612.0, 792.0), (595.5, 842.25), (100.0, 200.75))(round % 3)
      val boxes = Seq.fill(n)(Seq((612.0, 792.0), (300.5, 400.0))(rnd.nextInt(2)))
      val contents = pages.map(PdfWriter.pageContent)
      def font(): Pdf.FontInfo = Pdf.FontInfo(rnd.nextBoolean(),
        if (rnd.nextInt(3) == 0) None
        else Some(Seq.fill(1 + rnd.nextInt(5))(rnd.nextInt(0x20000) -> str(3)).toMap))
      val fonts = Seq.fill(n)(Seq.fill(rnd.nextInt(3))(
        Seq("F1", "F2", "G7")(rnd.nextInt(3)) -> font()).toMap)
      pin("build", PdfWriter.build(pages, compress, box))
      pin("build15", PdfWriter.build15(pages, compress, box))
      pin("buildRaw", PdfWriter.buildRaw(contents, compress, boxes))
      pin("buildRaw15", PdfWriter.buildRaw15(contents, compress, boxes))
      pin("buildRaw fonts", PdfWriter.buildRaw(contents, compress, boxes, fonts))
      val noFonts = PdfWriter.buildRaw(contents, compress, boxes, Seq.fill(n)(Map.empty))
      assert(noFonts.toSeq === PdfWriter.buildRaw(contents, compress, boxes).toSeq,
        "empty font maps must write buildRaw's bytes")
      pin("buildType0", PdfWriter.buildType0(pages, compress, box))
      pin("buildWithLinks", PdfWriter.buildWithLinks(pages,
        Seq.fill(n)(Seq.fill(rnd.nextInt(3))("https://h.example/" + str(12))), compress))
      val outline = (0 until rnd.nextInt(6)).foldLeft(Vector.empty[(Int, String)]) { (acc, _) =>
        val d = if (acc.isEmpty) 0 else rnd.nextInt(acc.last._1 + 2)
        acc :+ (d -> (if (rnd.nextBoolean()) "T " + str(10).filter(c => c >= 0x20 && c < 0x7f)
                      else "Sección " + str(6)))
      }
      pin("buildWithOutlines", PdfWriter.buildWithOutlines(pages, outline, compress))
      val images = Seq.fill(n)(Seq.tabulate(rnd.nextInt(3)) { k =>
        val (w, h) = (8 + rnd.nextInt(24), 4 + rnd.nextInt(12))
        Seq("g4", "gray", "jpeg")(rnd.nextInt(3)) match {
          case "g4"   => ImageSpec(s"G$k", w, h, "g4", Array.fill(w * h)(rnd.nextInt(2).toByte))
          case "gray" => ImageSpec(s"Y$k", w, h, "gray", Array.fill(w * h)(rnd.nextInt(256).toByte))
          case _      => ImageSpec(s"J$k", w, h, "jpeg",
            graft.fixtures.MediaGen.jpeg(Array.fill(w * h)(rnd.nextInt(256)), w, h))
        }
      })
      pin("buildWithImages", PdfWriter.buildWithImages(pages, images, compress))
      val filters = Seq.fill(1 + rnd.nextInt(3))(Seq("FlateDecode", "LZWDecode",
        "RunLengthDecode", "ASCIIHexDecode", "ASCII85Decode")(rnd.nextInt(5)))
      pin("buildWithFilters", PdfWriter.buildWithFilters(pages, filters, box))
      for (cipher <- Seq("rc4", "aesv2", "r6"); userPw <- Seq("", "user"))
        pin("buildEncrypted", PdfWriter.buildEncrypted(pages, compress,
          aes = cipher == "aesv2", userPw = userPw, mediaBox = box, r6 = cipher == "r6"))
      pin("chunkBytes", Pdf.chunkBytes(PdfWriter.buildType0(pages, compress, box)).reduce(_ ++ _))
      pin("chunkBytes", Pdf.chunkBytes(PdfWriter.build15(pages, compress, box)).reduce(_ ++ _))
    }
    val got = calls.map { case (k, v) => k -> sha(v.reduce(_ ++ _)).map("%02x".format(_)).mkString }
    // computed at the commit before the writer shared one emitter
    val pinned = Map(
      "build" -> "a27bae063b9a49a0e3abb0a87a23e7fb4dd93013f676534296c8f3c431e1d79b",
      "build15" -> "fd318b92b7d176ff81d4185342561174db097769df0f39fb3250f8ec09b3690f",
      "buildRaw" -> "5e5f75274deec5cfa2bff0582aea13a179fe1f7550fbc1b8de3ff81edd038c78",
      "buildRaw15" -> "1a7e7dddc08b3f61c0285589c119483a5b54dcc0468473a4fb38c4c7fc272293",
      "buildRaw fonts" -> "65943c43fe5307fbe177e8ff3632c92e3d0d56d5bd9f58648d65b1536317cd71",
      "buildType0" -> "e90bbb799cf6b3235ed91f9f9700a43505d9667de95030b4dbe293a527188faf",
      "buildWithLinks" -> "29ac632d84e8c9d5f1af195ff254cc43a9808df6458451e7c42f8dc4ecdb9c77",
      "buildWithOutlines" -> "d522f2c647bec54c0dbf91c7f2e356275b4a9ad70e602ebc7e1f6c0607068be6",
      "buildWithImages" -> "0936476432ffabf8968fafcd3952172a50ab47b608a583edf4a1c3bc086a3225",
      "buildWithFilters" -> "2ad41e75c455913c654066bd4dc1afc632ab4638bf4e729761295e4e4761e85e",
      "buildEncrypted" -> "d78522ef73120a097c362c1bf226da56f23d198152ba91b23110db440f773392",
      "chunkBytes" -> "01fe70bee6e90e0aa954dae4980e585b4d07a7522658e400d6ffa24b521bd3ca")
    got.foreach { case (k, h) => assert(h === pinned.getOrElse(k, ""), s"$k bytes drifted") }
    assert(got.keySet === pinned.keySet)
  }
}
