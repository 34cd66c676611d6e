package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.kernel.{Avc, Media, Vp8, Webm, WebP}
import graft.fixtures.MediaGen

/** Pure-kernel codec tests (no Spark): the writer/decoder pairs form a
  * co-designed input domain, so every decode is checked against the
  * exact source pixels/samples it was built from. The differentials check
  * against independent implementations instead: the JDK's codecs, and
  * libwebp's decodes of the VP8 streams in `src/test/resources/vp8/`.
  */
class MediaSpec extends AnyFunSuite {

  test("png: round-trips exact pixels through all five row filters (grey + rgb)") {
    val r = new scala.util.Random(11)
    // h >= 10 ⇒ every filter type 0..4 appears at least twice (y % 5)
    for (ch <- Seq(1, 3)) {
      val (w, h) = (17, 12)
      val img = Array.fill[Byte](w * h * ch)(r.nextInt(256).toByte)
      val d = Media.decodePng(MediaGen.png(img, w, h, ch))
      assert(d.codec === "png" && d.width === w && d.height === h)
      val want = Array.tabulate(w * h) { i =>
        if (ch == 1) img(i) & 0xff
        else ((img(i * 3) & 0xff) * 299 + (img(i * 3 + 1) & 0xff) * 587 +
          (img(i * 3 + 2) & 0xff) * 114) / 1000
      }
      assert(d.samples.toSeq === want.toSeq, s"channels=$ch")
    }
  }

  test("png: indexed-colour (type 3) resolves through the PLTE table") {
    val r = new scala.util.Random(13)
    val nEntries = 200
    val palette = Array.fill[Byte](nEntries * 3)(r.nextInt(256).toByte)
    val (w, h) = (19, 11)
    val idx = Array.fill[Byte](w * h)(r.nextInt(nEntries).toByte)
    val d = Media.decodePng(MediaGen.pngIndexed(idx, w, h, palette))
    assert(d.codec === "png" && d.width === w && d.height === h)
    val want = idx.map { b =>
      val i = b & 0xff
      ((palette(i * 3) & 0xff) * 299 + (palette(i * 3 + 1) & 0xff) * 587 +
        (palette(i * 3 + 2) & 0xff) * 114) / 1000
    }
    assert(d.samples.toSeq === want.toSeq)
    // an index past the palette must fail the row, not read garbage
    val tooBig = Array.fill[Byte](w * h)(250.toByte) // >= 200 entries
    intercept[Exception](Media.decodePng(MediaGen.pngIndexed(tooBig, w, h, palette)))
    // missing PLTE rejected
    val noPlte = MediaGen.png(idx, w, h, 1)
    val typed = noPlte.clone(); typed(25) = 3 // IHDR colour-type byte
    intercept[Exception](Media.decodePng(typed))
  }

  test("bmp: bottom-up padded rows decode to top-down luminance") {
    // top half pure white, bottom half pure black — if the decoder gets
    // the bottom-up file order wrong, the halves swap
    val (w, h) = (5, 4) // w*3=15 ⇒ rows padded to 16 bytes
    val img = new Array[Byte](w * h * 3)
    for (i <- 0 until w * h * 3 / 2) img(i) = 0xff.toByte
    val d = Media.decodeBmp(MediaGen.bmp(img, w, h))
    assert(d.width === w && d.height === h)
    assert(d.samples.take(w * h / 2).forall(_ === 255))
    assert(d.samples.drop(w * h / 2).forall(_ === 0))
  }

  test("wav: PCM samples, rate and frame count decode exactly") {
    val samples = Array.tabulate(300)(i => (math.sin(i / 10.0) * 20000).toInt.toShort)
    val d = Media.decodeWav(MediaGen.wav(samples, 16000))
    assert(d.codec === "wav" && d.sampleRate === 16000 && d.frames === 300)
    assert(d.samples.toSeq === samples.map(_.toInt).toSeq)
  }

  test("malformed payloads are rejected, not mis-decoded") {
    val r = new scala.util.Random(5)
    val img = Array.fill[Byte](8 * 8 * 3)(r.nextInt(256).toByte)
    val goodPng = MediaGen.png(img, 8, 8, 3)
    // truncated IDAT
    intercept[Exception](Media.decodePng(goodPng.take(goodPng.length - 20)))
    // interlaced flag set → explicit rejection (IHDR data: sig 8 + len 4
    // + type 4 + w 4 + h 4 + depth 1 + colour 1 + compression 1 +
    // filter 1 ⇒ interlace byte at offset 28; CRC is not validated)
    val interlaced = goodPng.clone(); interlaced(28) = 1
    intercept[Exception](Media.decodePng(interlaced))
    // compressed BMP rejected
    val bmpBytes = MediaGen.bmp(img, 8, 8)
    val rle = bmpBytes.clone(); rle(30) = 1
    intercept[Exception](Media.decodeBmp(rle))
    // WAV with a non-PCM format code
    val wavBytes = MediaGen.wav(Array[Short](1, 2, 3), 8000)
    val nonPcm = wavBytes.clone(); nonPcm(20) = 3
    intercept[Exception](Media.decodeWav(nonPcm))
    // crafted negative chunk length must throw, not loop forever
    // (fmt chunk length at offset 16..19 → 0xFFFFFFFF = -1)
    val negLen = wavBytes.clone()
    negLen(16) = 0xff.toByte; negLen(17) = 0xff.toByte
    negLen(18) = 0xff.toByte; negLen(19) = 0xff.toByte
    intercept[Exception](Media.decodeWav(negLen))
  }

  test("fuzz: random images/audio round-trip exactly (300 seeded samples)") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val caseGen = for {
      w <- Gen.chooseNum(1, 40)
      h <- Gen.chooseNum(1, 30)
      ch <- Gen.oneOf(1, 3)
      kind <- Gen.oneOf("png", "bmp", "wav")
      n <- Gen.chooseNum(1, 400)
      rate <- Gen.oneOf(8000, 16000, 44100)
    } yield (kind, w, h, ch, n, rate)
    var seed = Seed(23L)
    val r = new scala.util.Random(23)
    (1 to 300).foreach { k =>
      val (kind, w, h, ch, n, rate) = caseGen.pureApply(Gen.Parameters.default, seed)
      seed = seed.next
      kind match {
        case "png" =>
          val img = Array.fill[Byte](w * h * ch)(r.nextInt(256).toByte)
          val d = Media.decodePng(MediaGen.png(img, w, h, ch))
          assert(d.width === w && d.height === h, s"sample #$k dims")
          val want = Array.tabulate(w * h) { i =>
            if (ch == 1) img(i) & 0xff
            else ((img(i * 3) & 0xff) * 299 + (img(i * 3 + 1) & 0xff) * 587 +
              (img(i * 3 + 2) & 0xff) * 114) / 1000
          }
          assert(d.samples.toSeq === want.toSeq, s"sample #$k pixels")
        case "bmp" =>
          val img = Array.fill[Byte](w * h * 3)(r.nextInt(256).toByte)
          val d = Media.decodeBmp(MediaGen.bmp(img, w, h))
          assert(d.width === w && d.height === h, s"sample #$k dims")
          val want = Array.tabulate(w * h) { i =>
            ((img(i * 3) & 0xff) * 114 + (img(i * 3 + 1) & 0xff) * 587 +
              (img(i * 3 + 2) & 0xff) * 299) / 1000 // fixture pixels are BGR rows
          }
          assert(d.samples.toSeq === want.toSeq, s"sample #$k pixels")
        case _ =>
          val samples = Array.fill[Short](n)(r.nextInt(65536).toShort)
          val d = Media.decodeWav(MediaGen.wav(samples, rate))
          assert(d.sampleRate === rate && d.frames === n, s"sample #$k header")
          assert(d.samples.toSeq === samples.map(_.toInt).toSeq, s"sample #$k samples")
      }
    }
  }

  private def maxErr(got: Array[Int], want: Array[Int]): Int =
    got.zip(want).map { case (a, b) => math.abs(a - b) }.max

  test("png: Adam7 interlaced and 16-bit-depth images decode exactly") {
    val r = new scala.util.Random(17)
    // Adam7, grey and RGB, dims chosen so several passes have partial rows
    for (ch <- Seq(1, 3); (w, h) <- Seq((21, 13), (8, 8), (3, 2), (1, 1))) {
      val img = Array.fill[Byte](w * h * ch)(r.nextInt(256).toByte)
      val d = Media.decodePng(MediaGen.pngAdvanced(img, w, h, ch, depth = 8, interlaced = true))
      assert(d.width === w && d.height === h, s"adam7 ch=$ch ${w}x$h")
      val want = Array.tabulate(w * h) { i =>
        if (ch == 1) img(i) & 0xff
        else ((img(i * 3) & 0xff) * 299 + (img(i * 3 + 1) & 0xff) * 587 +
          (img(i * 3 + 2) & 0xff) * 114) / 1000
      }
      assert(d.samples.toSeq === want.toSeq, s"adam7 ch=$ch ${w}x$h pixels")
    }
    // 16-bit depth: the decoder keeps each sample's high byte
    for (ch <- Seq(1, 3); interlaced <- Seq(false, true)) {
      val (w, h) = (15, 11)
      val img16 = Array.fill[Byte](w * h * ch * 2)(r.nextInt(256).toByte)
      val d = Media.decodePng(MediaGen.pngAdvanced(img16, w, h, ch, depth = 16,
        interlaced = interlaced))
      val want = Array.tabulate(w * h) { i =>
        def hi(c: Int) = img16((i * ch + c) * 2) & 0xff
        if (ch == 1) hi(0) else (hi(0) * 299 + hi(1) * 587 + hi(2) * 114) / 1000
      }
      assert(d.samples.toSeq === want.toSeq, s"16-bit ch=$ch interlaced=$interlaced")
    }
  }

  test("wav: G.711 mu-law/A-law, float32, 24-bit PCM and extensible headers") {
    // independent expansion twins, from the published G.711 formulas
    def mulaw(b: Int): Int = {
      val u = ~b & 0xff
      var t = ((u & 0x0f) << 3) + 0x84
      t <<= (u & 0x70) >> 4
      if ((u & 0x80) != 0) 0x84 - t else t - 0x84
    }
    def alaw(b: Int): Int = {
      val a = b ^ 0x55
      val seg = (a & 0x70) >> 4
      var t = (a & 0x0f) << 4
      if (seg == 0) t += 8 else if (seg == 1) t += 0x108 else { t += 0x108; t <<= seg - 1 }
      if ((a & 0x80) != 0) t else -t
    }
    val allBytes = Array.tabulate(256)(_.toByte)
    val du = Media.decodeWav(MediaGen.wavOf(allBytes, 8000, format = 7, channels = 1, bits = 8))
    assert(du.codec === "wav" && du.sampleRate === 8000 && du.frames === 256)
    assert(du.samples.toSeq === (0 until 256).map(mulaw))
    // canonical anchors: 0x00 → -32124, 0xff/0x7f → 0
    assert(du.samples(0) === -32124 && du.samples(0xff) === 0 && du.samples(0x7f) === 0)
    val da = Media.decodeWav(MediaGen.wavOf(allBytes, 8000, format = 6, channels = 1, bits = 8))
    assert(da.samples.toSeq === (0 until 256).map(alaw))
    assert(da.samples(0x55) === -8 && da.samples(0xd5) === 8)

    // float32: clamped and scaled to the 16-bit domain
    val floats = Array(0.0f, 1.0f, -1.0f, 0.5f, -0.25f, 2.0f, -3.0f)
    val fb = new java.io.ByteArrayOutputStream()
    floats.foreach { f =>
      val bits = java.lang.Float.floatToIntBits(f)
      (0 until 4).foreach(i => fb.write((bits >> (8 * i)) & 0xff))
    }
    val df = Media.decodeWav(MediaGen.wavOf(fb.toByteArray, 16000, format = 3,
      channels = 1, bits = 32))
    assert(df.samples.toSeq === Seq(0, 32767, -32767, 16384, -8192, 32767, -32767))

    // 24-bit PCM: high 16 bits kept, sign preserved
    val vals24 = Seq(0, 1 << 8, -(1 << 8), (1 << 23) - 1, -(1 << 23))
    val b24 = new java.io.ByteArrayOutputStream()
    vals24.foreach(v => (0 until 3).foreach(i => b24.write((v >> (8 * i)) & 0xff)))
    val d24 = Media.decodeWav(MediaGen.wavOf(b24.toByteArray, 44100, format = 1,
      channels = 1, bits = 24))
    assert(d24.samples.toSeq === vals24.map(_ >> 8))

    // WAVE_FORMAT_EXTENSIBLE wrapping plain 16-bit PCM
    val pcm = Array.tabulate(50)(i => (i * 321 - 8000).toShort)
    val pb = new java.io.ByteArrayOutputStream()
    pcm.foreach(s => { pb.write(s & 0xff); pb.write((s >> 8) & 0xff) })
    val dx = Media.decodeWav(MediaGen.wavOf(pb.toByteArray, 22050, format = 1,
      channels = 1, bits = 16, extensible = true))
    assert(dx.samples.toSeq === pcm.map(_.toInt).toSeq)

    // unknown format code still rejected
    intercept[Exception](Media.decodeWav(
      MediaGen.wavOf(allBytes, 8000, format = 2, channels = 1, bits = 8)))
  }

  test("gif: LZW round-trips exactly, sequential and interlaced, with frame counts") {
    val r = new scala.util.Random(41)
    for ((w, h, interlaced, extra) <- Seq(
        (23, 14, false, 0), (32, 21, true, 0), (17, 9, false, 5), (40, 33, true, 3))) {
      val nColors = 2 + r.nextInt(254)
      val pal = Array.fill[Byte](nColors * 3)(r.nextInt(256).toByte)
      val idx = Array.tabulate(w * h)(_ => r.nextInt(nColors).toByte)
      val d = Media.decodeGif(MediaGen.gif(idx, w, h, pal, interlaced, extra))
      assert(d.codec === "gif" && d.width === w && d.height === h)
      assert(d.frames === 1 + extra, s"frame count (interlaced=$interlaced)")
      val want = idx.map { b =>
        val i = b & 0xff
        ((pal(i * 3) & 0xff) * 299 + (pal(i * 3 + 1) & 0xff) * 587 +
          (pal(i * 3 + 2) & 0xff) * 114) / 1000
      }
      assert(d.samples.toSeq === want.toSeq, s"pixels (interlaced=$interlaced extra=$extra)")
    }
    // long repetitive runs force LZW table overflow + CLEAR mid-stream
    val pal2 = Array.fill[Byte](256 * 3)(r.nextInt(256).toByte)
    val big = Array.tabulate(300 * 200)(i => ((i / 7) % 256).toByte)
    val d2 = Media.decodeGif(MediaGen.gif(big, 300, 200, pal2))
    assert(d2.width === 300 && d2.samples.length === 300 * 200)
    val want2 = big.map { b =>
      val i = b & 0xff
      ((pal2(i * 3) & 0xff) * 299 + (pal2(i * 3 + 1) & 0xff) * 587 +
        (pal2(i * 3 + 2) & 0xff) * 114) / 1000
    }
    assert(d2.samples.toSeq === want2.toSeq, "table-overflow stream must round-trip")
    // two-colour image exercises the min code size floor (2)
    val tiny = Media.decodeGif(MediaGen.gif(
      Array.tabulate(12 * 5)(i => (i % 2).toByte), 12, 5,
      Array[Byte](0, 0, 0, -1, -1, -1)))
    assert(tiny.samples.toSeq === Seq.tabulate(12 * 5)(i => if (i % 2 == 0) 0 else 255))

    // malformed: truncated stream and out-of-range palette index throw
    val good = MediaGen.gif(Array.tabulate(8 * 8)(i => (i % 4).toByte), 8, 8,
      Array.fill[Byte](4 * 3)(60))
    intercept[Exception](Media.decodeGif(good.take(good.length / 2)))
    intercept[Exception](Media.decodeGif("GIF89a".getBytes ++ Array[Byte](1, 2)))
  }

  test("flac: mono subframe cycle (constant/verbatim/fixed/escape) round-trips exactly") {
    import graft.kernel.Flac
    // smooth-ish signal so fixed predictors see small residuals, plus
    // spikes so rice params vary
    val n = 1500
    val samples = Array.tabulate(n) { i =>
      ((math.sin(i / 9.0) * 9000).toInt + (if (i % 97 == 0) 15000 else 0)).toShort
    }
    val d = Flac.decode(MediaGen.flac(samples, 22050, blockSize = 256))
    assert(d.codec === "flac" && d.sampleRate === 22050 && d.frames === n)
    assert(d.samples.toSeq === samples.map(_.toInt).toSeq)
    // a constant stream exercises the constant subframe
    val flat = Array.fill[Short](600)(-1234)
    val df = Flac.decode(MediaGen.flac(flat, 8000, blockSize = 192))
    assert(df.samples.toSeq === flat.map(_.toInt).toSeq)
    // partial final frame
    val odd = Array.tabulate(777)(i => (i * 37 - 9000).toShort)
    assert(Flac.decode(MediaGen.flac(odd, 16000)).samples.toSeq === odd.map(_.toInt).toSeq)
    // LPC subframes (frame index 4 in the cycle needs >= 5 frames)
    val lpcN = 6 * 128
    val lpcS = Array.tabulate(lpcN)(i => ((math.sin(i / 5.0) * 7000).toInt).toShort)
    assert(Flac.decode(MediaGen.flac(lpcS, 32000, blockSize = 128)).samples.toSeq
      === lpcS.map(_.toInt).toSeq)
    // wasted bits: samples divisible by 8, verbatim subframes at 13 bits
    val w8 = Array.tabulate(500)(i => ((i * 24 - 6000) & ~7).toShort)
    assert(Flac.decode(MediaGen.flac(w8, 8000, wastedBits = 3)).samples.toSeq
      === w8.map(_.toInt).toSeq)
    // spec-valid extreme compression (round-3 ADVICE): a long silent
    // stream of CONSTANT subframes compresses far past the old 256×
    // amplification bound and must still decode — the bound protects
    // executor memory from crafted streams, not real silence
    val silent = Array.fill[Short](400000)(0)
    val silentBytes = MediaGen.flac(silent, 44100, blockSize = 65535)
    assert(400000.0 / silentBytes.length > 256,
      s"fixture not extreme enough: ${silentBytes.length} bytes")
    val ds = Flac.decode(silentBytes)
    assert(ds.frames === 400000 && ds.samples.forall(_ == 0))
  }

  test("flac: mid-side stereo reconstructs and averages like the WAV path") {
    import graft.kernel.Flac
    val r = new scala.util.Random(62)
    val n = 900
    val left = Array.fill[Short](n)(r.nextInt(65536).toShort)
    val right = Array.fill[Short](n)(r.nextInt(65536).toShort)
    val d = Flac.decode(MediaGen.flac(left, 44100, stereoRight = right))
    assert(d.sampleRate === 44100 && d.frames === n)
    val want = Array.tabulate(n)(i => (left(i) + right(i)) / 2)
    assert(d.samples.toSeq === want.toSeq)
  }

  test("flac: malformed streams are rejected, not hung") {
    import graft.kernel.Flac
    val good = MediaGen.flac(Array.tabulate(300)(i => (i * 3).toShort), 8000)
    intercept[Exception](Flac.decode(good.take(good.length / 2))) // truncated frame
    intercept[Exception](Flac.decode("fLaC".getBytes)) // no STREAMINFO
    val badSync = good.clone()
    // find the first frame (after the 4+4+34 byte header region) and break sync
    badSync(42) = 0
    intercept[Exception](Flac.decode(badSync))
  }

  test("zip/docx: office text extraction round-trips through the from-scratch container") {
    import graft.kernel.{Docx, Zip}
    val paras = Seq(
      "Plain heading",
      "Markup & entities: <w:t> \"quoted\" 'apos'",
      "Unicode: déjà vu — ünïcødé",
      "tab\there break\nthere",
      "", // empty paragraph
      "x" * 300) // long run split across <w:r> elements
    val payload = MediaGen.docx(paras)
    assert(Zip.isZip(payload) && Docx.isDocx(payload))
    val got = Docx.extractText(payload)
    val want = paras.mkString("\n")
    assert(got === want)
    // container facts
    val es = Zip.entries(payload)
    assert(es.map(_.name).toSet === Set("[Content_Types].xml", "word/document.xml"))
    assert(es.forall(_.method == 8), "fixture entries are deflated")
    // stored entries work too
    val stored = MediaGen.zip(Seq("a.txt" -> "hello".getBytes), deflate = false)
    assert(new String(Zip.extractByName(stored, "a.txt").get) === "hello")
    assert(!Docx.isDocx(stored))
    // malformed: truncation and a corrupted central directory fail cleanly
    intercept[Exception](Zip.entries(payload.take(30)))
    val corrupt = payload.clone()
    // EOCD sits at the tail; its cdOff field points at the central dir —
    // break the central signature there
    val eocdAt = (payload.length - 22 to 0 by -1).find(i =>
      payload(i) == 'P' && payload(i + 1) == 'K' &&
        payload(i + 2) == 5 && payload(i + 3) == 6).get
    val cdOff = (payload(eocdAt + 16) & 0xff) | ((payload(eocdAt + 17) & 0xff) << 8) |
      ((payload(eocdAt + 18) & 0xff) << 16) | ((payload(eocdAt + 19) & 0xff) << 24)
    corrupt(cdOff) = 'X'
    intercept[Exception](Docx.extractText(corrupt))
    // entity handling incl. numeric references
    val entXml = MediaGen.zip(Seq(
      "[Content_Types].xml" -> "<Types/>".getBytes,
      "word/document.xml" ->
        ("""<w:document><w:body><w:p><w:r><w:t>&#65;&#x42;&amp;</w:t></w:r></w:p>""" +
          """</w:body></w:document>""").getBytes))
    assert(Docx.extractText(entXml) === "AB&")
    // XML-equivalence edge cases: newline-separated attributes, expanded
    // empty elements, '>' inside attribute values, UTF-16 parts
    def docOf(body: String, bytes: Array[Byte] = null) = MediaGen.zip(Seq(
      "word/document.xml" ->
        (if (bytes != null) bytes
         else s"<w:document><w:body>$body</w:body></w:document>".getBytes)))
    assert(Docx.extractText(docOf(
      "<w:p><w:r><w:t\n  xml:space=\"preserve\">multi attr</w:t></w:r>" +
        "<w:r><w:tab></w:tab></w:r><w:r><w:t>end</w:t></w:r></w:p>"))
      === "multi attr\tend")
    assert(Docx.extractText(docOf(
      "<w:p><w:fldSimple w:instr=\" IF A > B \"><w:r><w:t>field</w:t></w:r></w:fldSimple></w:p>"))
      === "field")
    val u16 = "<w:document><w:body><w:p><w:r><w:t>utf sixteen</w:t></w:r></w:p></w:body></w:document>"
    assert(Docx.extractText(docOf("", bytes =
      Array[Byte](0xff.toByte, 0xfe.toByte) ++
        u16.getBytes(java.nio.charset.StandardCharsets.UTF_16LE))) === "utf sixteen")
    // comments: unquoted '>' inside must not terminate a tag scan, and
    // comment content inside a <w:t> run must not leak into the text
    assert(Docx.extractText(docOf(
      "<!-- a > b --><w:p><w:r><w:t>be<!-- not > text -->fore</w:t></w:r></w:p>"))
      === "before")
    // CDATA: literal text inside a run (no entity expansion), noise outside
    assert(Docx.extractText(docOf(
      "<![CDATA[skip me]]><w:p><w:r><w:t><![CDATA[a<&>b]]>+tail</w:t></w:r></w:p>"))
      === "a<&>b+tail")
    intercept[Exception](Docx.extractText(docOf("<w:p><!-- unterminated")))
  }

  private def argbLuma(a: Int): Int =
    (((a >> 16) & 0xff) * 299 + ((a >> 8) & 0xff) * 587 + (a & 0xff) * 114) / 1000

  test("webp lossless: literal streams round-trip exactly") {
    import graft.kernel.WebP
    val r = new scala.util.Random(51)
    for ((w, h) <- Seq((23, 14), (1, 1), (40, 1), (1, 30), (64, 48))) {
      val px = Array.fill(w * h)(0xff000000 | r.nextInt(0x1000000))
      val d = WebP.decode(MediaGen.webpLossless(px, w, h))
      assert(d.codec === "webp" && d.width === w && d.height === h, s"${w}x$h")
      assert(d.samples.toSeq === px.map(argbLuma).toSeq, s"${w}x$h pixels")
    }
    // varying alpha channel too
    val px2 = Array.fill(19 * 11)(new scala.util.Random(52).nextInt())
    val d2 = WebP.decode(MediaGen.webpLossless(px2, 19, 11))
    assert(d2.samples.toSeq === px2.map(argbLuma).toSeq)
  }

  test("webp lossless: LZ77 runs and colour cache round-trip") {
    import graft.kernel.WebP
    val r = new scala.util.Random(53)
    // long runs + repeated colours from a small pool → cache hits + runs
    val pool = Array.fill(9)(0xff000000 | r.nextInt(0x1000000))
    val (w, h) = (50, 30)
    val px = new Array[Int](w * h)
    var i = 0
    while (i < px.length) {
      val c = pool(r.nextInt(pool.length))
      val run = 1 + r.nextInt(12)
      var k = 0
      while (k < run && i < px.length) { px(i) = c; i += 1; k += 1 }
    }
    for ((lz, cb) <- Seq((true, 0), (false, 4), (true, 6))) {
      val d = WebP.decode(MediaGen.webpLossless(px, w, h, useLz77 = lz, cacheBits = cb))
      assert(d.samples.toSeq === px.map(argbLuma).toSeq, s"lz=$lz cache=$cb")
    }
  }

  test("webp lossless: subtract-green and all 14 predictor modes round-trip") {
    import graft.kernel.WebP
    val r = new scala.util.Random(54)
    val (w, h) = (37, 29) // 4x4 predictor blocks → 10x8 grid cycles all modes
    val px = Array.fill(w * h)(0xff000000 | r.nextInt(0x1000000))
    for ((sg, pred) <- Seq((true, false), (false, true), (true, true))) {
      val d = WebP.decode(MediaGen.webpLossless(px, w, h,
        subtractGreen = sg, predictor = pred))
      assert(d.samples.toSeq === px.map(argbLuma).toSeq, s"sg=$sg pred=$pred")
    }
    // smooth gradients (the content predictors exist for)
    val grad = Array.tabulate(w * h)(i =>
      0xff000000 | (((i % w) * 4 & 0xff) << 16) | (((i / w) * 5 & 0xff) << 8) | ((i * 3) & 0xff))
    val dg = WebP.decode(MediaGen.webpLossless(grad, w, h,
      subtractGreen = true, predictor = true, useLz77 = true))
    assert(dg.samples.toSeq === grad.map(argbLuma).toSeq)
  }

  test("webp lossless: colour-indexed palettes with sub-byte bundling") {
    import graft.kernel.WebP
    val r = new scala.util.Random(55)
    for (nColors <- Seq(2, 4, 13, 47)) { // widths bits 3, 2, 1, 0
      val (w, h) = (21, 9)
      val idx = Array.tabulate(w * h)(_ => r.nextInt(nColors))
      val px = idx.map(i => 0xff000000 | (i << 8)) // indices in green
      val d = WebP.decode(MediaGen.webpLossless(px, w, h, paletteSize = nColors))
      // the writer's deterministic palette maps idx -> colour
      val want = idx.map(i => argbLuma(
        0xff000000 | ((i * 37 % 256) << 16) | ((i * 73 % 256) << 8) | (i * 151 % 256)))
      assert(d.samples.toSeq === want.toSeq, s"nColors=$nColors")
    }
  }

  test("webp lossless: cross-colour transform and meta-prefix groups round-trip") {
    import graft.kernel.WebP
    val r = new scala.util.Random(57)
    val (w, h) = (33, 21)
    val px = Array.fill(w * h)(0xff000000 | r.nextInt(0x1000000))
    for ((ct, mg, sg, pd) <- Seq(
        (true, false, false, false), (false, true, false, false),
        (true, true, false, false), (true, false, true, true))) {
      val d = WebP.decode(MediaGen.webpLossless(px, w, h,
        colorTf = ct, metaGroups = mg, subtractGreen = sg, predictor = pd))
      assert(d.samples.toSeq === px.map(argbLuma).toSeq, s"ct=$ct mg=$mg sg=$sg pd=$pd")
    }
  }

  test("webp lossless: fuzz across shapes, content classes and feature combos") {
    import graft.kernel.WebP
    val r = new scala.util.Random(56)
    (1 to 50).foreach { k =>
      val w = 1 + r.nextInt(60); val h = 1 + r.nextInt(40)
      val px = r.nextInt(3) match {
        case 0 => Array.fill(w * h)(0xff000000 | r.nextInt(0x1000000))
        case 1 => Array.tabulate(w * h)(i => // gradient: long runs after transforms
          0xff000000 | (((i % w) * 3 & 0xff) << 16) | (((i / w) * 7 & 0xff) << 8) | ((i / 5) & 0xff))
        case _ => // few colours: cache hits + runs
          val pool = Array.fill(4)(0xff000000 | r.nextInt(0x1000000))
          Array.fill(w * h)(pool(r.nextInt(4)))
      }
      val d = WebP.decode(MediaGen.webpLossless(px, w, h,
        useLz77 = r.nextBoolean(),
        cacheBits = if (r.nextBoolean()) 0 else 1 + r.nextInt(8),
        subtractGreen = r.nextBoolean(),
        predictor = r.nextBoolean(),
        colorTf = r.nextBoolean(),
        metaGroups = r.nextBoolean()))
      assert(d.width === w && d.height === h, s"sample #$k dims")
      assert(d.samples.toSeq === px.map(argbLuma).toSeq, s"sample #$k (w=$w h=$h)")
    }
  }

  test("webp: lossy VP8 and malformed containers are rejected") {
    import graft.kernel.WebP
    val good = MediaGen.webpLossless(Array.fill(16)(0xff112233.toInt), 4, 4)
    // swap the chunk id to the lossy codec
    val lossy = good.clone()
    val at = (0 until lossy.length - 3).find(i =>
      lossy(i) == 'V' && lossy(i + 1) == 'P' && lossy(i + 2) == '8' && lossy(i + 3) == 'L').get
    lossy(at + 3) = ' '
    intercept[Exception](WebP.decode(lossy))
    intercept[Exception](WebP.decode(good.take(good.length - 4)))
    intercept[Exception](WebP.decode("RIFF1234WEBP".getBytes))
  }

  test("tiff: G4 fax compression — single and multi-strip, JDK-readable") {
    val (w, h) = (101, 46)
    val px = Array.tabulate[Byte](w * h) { i =>
      val (x, y) = (i % w, i / w)
      if ((x / 5 + y / 7) % 2 == 0) 1 else 0
    }
    // decoded luminance: fax black -> 0, white -> 255
    val want = px.map(b => if (b == 1) 0 else 255)
    for (rps <- Seq(0, 10, 7)) {
      val bytes = MediaGen.tiffG4(px, w, h, rowsPerStrip = rps)
      val d = Media.decodeTiff(bytes)
      assert(d.codec === "tiff" && d.width === w && d.height === h, s"rps=$rps")
      assert(d.samples.toSeq === want.toSeq, s"rps=$rps pixel drift")
      // the JDK's TIFF reader agrees on our G4 archive bytes
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
      assert(img != null, s"rps=$rps: JDK rejected the TIFF")
      val jdk = Array.tabulate(w * h)(i =>
        if ((img.getRGB(i % w, i / w) & 0xffffff) == 0) 0 else 255)
      assert(jdk.toSeq === want.toSeq, s"rps=$rps JDK pixel drift")
    }
    // bilevel G4 claims with wrong photometric are refused
    val bad = MediaGen.tiffG4(px, w, h)
    val ifdOff = (bad(4) & 0xff) | ((bad(5) & 0xff) << 8)
    val n = (bad(ifdOff) & 0xff) | ((bad(ifdOff + 1) & 0xff) << 8)
    (0 until n).foreach { e =>
      val at = ifdOff + 2 + e * 12
      if (((bad(at) & 0xff) | ((bad(at + 1) & 0xff) << 8)) == 262)
        bad(at + 8) = 1 // PhotometricInterpretation -> BlackIsZero
    }
    intercept[Exception](Media.decodeTiff(bad))
  }

  test("tiff: strips round-trip exactly across byte orders, PackBits and polarity") {
    val r = new scala.util.Random(47)
    for ((ch, pb, be) <- Seq((1, false, false), (1, true, true), (3, true, false), (3, false, true))) {
      val (w, h) = (21, 13)
      val img = Array.fill[Byte](w * h * ch)(r.nextInt(256).toByte)
      val d = Media.decodeTiff(MediaGen.tiff(img, w, h, ch, packBits = pb, bigEndian = be))
      assert(d.codec === "tiff" && d.width === w && d.height === h && d.frames === 1,
        s"ch=$ch pb=$pb be=$be")
      val want = Array.tabulate(w * h) { i =>
        if (ch == 1) img(i) & 0xff
        else ((img(i * 3) & 0xff) * 299 + (img(i * 3 + 1) & 0xff) * 587 +
          (img(i * 3 + 2) & 0xff) * 114) / 1000
      }
      assert(d.samples.toSeq === want.toSeq, s"ch=$ch pb=$pb be=$be pixels")
    }
    // WhiteIsZero polarity inverts
    val g = Array.tabulate[Byte](8 * 4)(i => i.toByte)
    val inv = Media.decodeTiff(MediaGen.tiff(g, 8, 4, 1, whiteIsZero = true))
    assert(inv.samples.toSeq === g.map(b => 255 - (b & 0xff)).toSeq)
    // multi-page scans: frames counts the IFD chain
    val mp = Media.decodeTiff(MediaGen.tiff(g, 8, 4, 1, extraPages = 3))
    assert(mp.frames === 4 && mp.width === 8)
    // PackBits with long runs (the >128 split path)
    val runs = Array.fill[Byte](300 * 2)(7)
    val dr = Media.decodeTiff(MediaGen.tiff(runs, 300, 2, 1, packBits = true))
    assert(dr.samples.forall(_ === 7))
    // unsupported compression (LZW=5) rejected; truncated strip fails
    val good = MediaGen.tiff(g, 8, 4, 1)
    val lzw = good.clone()
    // compression tag value: find entry with tag 259 in IFD (LE)
    val ifdOff = (good(4) & 0xff) | ((good(5) & 0xff) << 8)
    val n = (good(ifdOff) & 0xff) | ((good(ifdOff + 1) & 0xff) << 8)
    val at = (0 until n).map(e => ifdOff + 2 + e * 12)
      .find(o => ((good(o) & 0xff) | ((good(o + 1) & 0xff) << 8)) == 259).get
    lzw(at + 8) = 5
    intercept[Exception](Media.decodeTiff(lzw))
    intercept[Exception](Media.decodeTiff(good.take(20)))
    // crafted 0xFFFFFFFF dims: the Long product wraps negative and would
    // sail past a product-only bound — must throw, not return width=-1
    val hugeDims = good.clone()
    val wAt = (0 until n).map(e => ifdOff + 2 + e * 12)
      .find(o => ((hugeDims(o) & 0xff) | ((hugeDims(o + 1) & 0xff) << 8)) == 256).get
    (0 until 4).foreach(i => hugeDims(wAt + 8 + i) = 0xff.toByte)
    val hAt = (0 until n).map(e => ifdOff + 2 + e * 12)
      .find(o => ((hugeDims(o) & 0xff) | ((hugeDims(o + 1) & 0xff) << 8)) == 257).get
    (0 until 4).foreach(i => hugeDims(hAt + 8 + i) = 0xff.toByte)
    intercept[Exception](Media.decodeTiff(hugeDims))
  }

  test("avi/mjpeg: first frame decodes via the jpeg kernel; frames and fps from the header") {
    val r = new scala.util.Random(43)
    val (w, h, fps, n) = (24, 16, 25, 7)
    val first = Array.fill(w * h)(r.nextInt(256))
    val frames = first +: Seq.fill(n - 1)(Array.fill(w * h)(r.nextInt(256)))
    val payload = MediaGen.aviMjpeg(frames.map(f => MediaGen.jpeg(f, w, h)), w, h, fps)
    val d = Media.decodeAvi(payload)
    assert(d.codec === "mjpeg" && d.width === w && d.height === h)
    assert(d.frames === n && d.sampleRate === fps)
    // first frame's luma within jpeg rounding tolerance
    assert(d.samples.zip(first).map { case (a, b) => math.abs(a - b) }.max <= 4)
    // dispatch: RIFF AVI must not be mistaken for RIFF WAVE
    val f = graft.ops.Multimodal.decodeOne(
      graft.ops.Multimodal.Media(1L, "u", "video", payload))
    assert(f.ok && f.codec === "mjpeg" && f.n_frames === n)
    // truncated movi fails the row
    intercept[Exception](Media.decodeAvi(payload.take(payload.length - 30)))
    // dims disagreeing with avih are rejected, not silently accepted
    val lying = payload.clone()
    val avihAt = (0 until lying.length - 3).find(i =>
      lying(i) == 'a' && lying(i + 1) == 'v' && lying(i + 2) == 'i' && lying(i + 3) == 'h').get
    lying(avihAt + 8 + 32) = 99.toByte // dwWidth
    intercept[Exception](Media.decodeAvi(lying))
  }

  test("mp4: box walk round-trips codec/dims/duration/counts; malformed boxes rejected") {
    import graft.ops.Multimodal
    // video-only
    val v = MediaGen.mp4(w = 320, h = 180, fps = 25, nFrames0 = 50, codec = "avc1")
    assert(Media.isMp4(v))
    val vi = Media.probeMp4(v)
    assert(vi.brand === "isom" && vi.durationMs === 2000L)
    assert(vi.tracks.map(_.handler) === Vector("vide"))
    val vt = vi.tracks.head
    assert(vt.codec === "avc1" && vt.width === 320 && vt.height === 180)
    assert(vt.sampleCount === 50L && vt.durationMs === 2000L)
    assert(vi.mdatOffset > 0 && vi.mdatLength > 0)
    // video + audio, a different codec fourcc
    val av = MediaGen.mp4(w = 64, h = 48, fps = 30, nFrames0 = 90, codec = "hvc1",
      audioRate = 16000, audioSamples = 48000)
    val ai = Media.probeMp4(av)
    assert(ai.tracks.map(_.handler) === Vector("vide", "soun"))
    assert(ai.tracks(0).codec === "hvc1" && ai.tracks(0).sampleCount === 90L)
    assert(ai.tracks(1).codec === "mp4a" && ai.tracks(1).sampleRate === 16000)
    assert(ai.tracks(1).durationMs === 3000L) // 48000 samples @ 16 kHz
    // dispatch through the feature stage: real container metadata, ok row
    val f = Multimodal.decodeOne(Multimodal.Media(1L, "u", "video", av))
    assert(f.ok && f.codec === "hvc1" && f.width === 64 && f.height === 48)
    assert(f.n_frames === 90 && f.sample_rate === 16000 && f.sampled_frames === 18)
    // malformed: box overrunning the file, truncation, missing moov
    val lying = v.clone()
    lying(0) = 0x7f.toByte // ftyp size becomes enormous
    intercept[Exception](Media.probeMp4(lying))
    intercept[Exception](Media.probeMp4(v.take(40)))
    intercept[Exception](Media.probeMp4(
      Array[Byte](0, 0, 0, 16) ++ "ftypisom".getBytes ++ be32int(0x200)))
    // feature stage isolates the failure as a row, never a throw
    assert(!Multimodal.decodeOne(Multimodal.Media(2L, "u", "video", v.take(40))).ok)
  }

  test("h264: avcC SPS round-trips dims/profile/fps through real exp-Golomb bitstreams") {
    // Baseline profile, dims an exact multiple of 16 (no cropping):
    // 320/2 + 192/2 + 24 = 280 even → fixture writes profile 66
    val base = MediaGen.mp4(320, 192, 24, 10, "avc1")
    val s1 = Media.avcSps(base).get
    assert(s1.profileIdc === 66 && s1.levelIdc === 30)
    assert(s1.width === 320 && s1.height === 192)
    assert(s1.fps === 24.0 && s1.frameMbsOnly && s1.chromaFormatIdc === 1)
    // High profile (scaling-list skip path) + frame cropping: 180 is not
    // a multiple of 16, so the SPS codes 192 and crops 12 rows off
    val crop = MediaGen.mp4(320, 180, 25, 10, "avc1")
    val s2 = Media.avcSps(crop).get
    assert(s2.profileIdc === 100 && s2.bitDepthLuma === 8)
    assert(s2.width === 320 && s2.height === 180 && s2.fps === 25.0)
    // container-level probe still reports the same presentation dims
    val ct = Media.probeMp4(crop).tracks.head
    assert(ct.width === s2.width && ct.height === s2.height)
    // non-AVC codec and non-MP4 bytes → None (not a throw)
    assert(Media.avcSps(MediaGen.mp4(64, 48, 30, 5, "hvc1")).isEmpty)
    assert(Media.avcSps("not an mp4 at all".getBytes).isEmpty)
  }

  test("h264: emulation prevention strips/inserts as exact inverses; fuzz never hangs") {
    // §7.4.1: 00 00 03 encodes RBSP 00 00
    assert(Avc.rbsp(Array[Byte](0, 0, 3, 0, 0, 3, 1), 0, 7).toSeq ===
      Seq[Byte](0, 0, 0, 0, 1))
    // 00 00 03 03 → RBSP 00 00 03 (the escaped escape)
    assert(Avc.rbsp(Array[Byte](0, 0, 3, 3, 9), 0, 5).toSeq === Seq[Byte](0, 0, 3, 9))
    // the fixture SPS genuinely contains long zero runs (num_units_in_tick
    // = 0x00000001 spans >3 zero bytes), so the writer MUST have inserted
    // emulation bytes for the parse to land on the right fields
    val sps = MediaGen.avcSps(176, 144, 30, profileIdc = 66, levelIdc = 13)
    assert((0 until sps.length - 2).exists(i =>
      sps(i) == 0 && sps(i + 1) == 0 && sps(i + 2) == 3),
      "expected at least one emulation-prevention byte in the fixture SPS")
    val p = Avc.parseSps(Avc.rbsp(sps, 0, sps.length))
    assert(p.width === 176 && p.height === 144 && p.levelIdc === 13 && p.fps === 30.0)
    // garbage must throw or parse — never loop or crash the JVM
    val r = new scala.util.Random(5)
    (0 until 300).foreach { _ =>
      val g = new Array[Byte](r.nextInt(64))
      r.nextBytes(g)
      if (g.length > 0) g(0) = 0x67.toByte // force the SPS NAL type gate open
      try { Avc.parseSps(g); () } catch { case _: IllegalArgumentException | _: ArrayIndexOutOfBoundsException => () }
    }
  }

  test("webm: EBML walk round-trips tracks/duration; first VP8 frame decodes to real pixels") {
    val r = new scala.util.Random(21)
    val lumas = Seq.fill(12)(Array.fill(32 * 24)(r.nextInt(256)))
    val f = MediaGen.webmVp8(lumas, 32, 24, fps = 12, qi = 8,
      audioRate = 48000, audioBlocks = 4)
    assert(Webm.isWebm(f))
    val info = Webm.probe(f)
    assert(info.docType === "webm" && info.timecodeScaleNs === 1000000L)
    assert(math.abs(info.durationMs - 1000.0) < 1.0)
    val v = info.tracks.find(_.trackType == 1).get
    assert(v.codecId === "V_VP8" && v.width === 32 && v.height === 24)
    assert(v.blockCount === 12)
    val a = info.tracks.find(_.trackType == 2).get
    assert(a.codecId === "A_OPUS" && a.samplingHz === 48000.0 && a.blockCount === 4)
    // the demuxed first frame decodes BIT-IDENTICALLY to the same luma
    // plane routed through the RIFF/WebP container path
    val frame = Webm.firstVideoFrame(f).get
    val viaWebm = Vp8.decodeFrame(frame)
    val viaWebp = WebP.decode(MediaGen.vp8(lumas.head, 32, 24, qi = 8))
    assert(viaWebm.width === 32 && viaWebm.height === 24)
    assert(viaWebm.y.toSeq === viaWebp.samples.toSeq)
    // streamed form: unknown-size Segment (all-ones vint) parses identically
    val streamed = MediaGen.webm(Seq(frame), 32, 24, 12, unknownSegmentSize = true)
    assert(Webm.probe(streamed).tracks.find(_.trackType == 1).get.blockCount === 1)
    // V_VP9 stays metadata-only (codec-library boundary)
    val vp9 = MediaGen.webm(Seq(Array.fill(40)(1.toByte)), 320, 180, 30, codecId = "V_VP9")
    val t9 = Webm.probe(vp9).tracks.head
    assert(t9.codecId === "V_VP9" && t9.width === 320 && t9.height === 180)
    // malformed inputs are rejected, not mis-walked
    intercept[Exception](Webm.probe(f.take(30)))
    assert(!Webm.isWebm("RIFF....".getBytes))
    // feature stage: REAL pixels for the VP8 path, full metadata row
    import graft.ops.Multimodal
    val feat = Multimodal.decodeOne(Multimodal.Media(9L, "u", "video", f))
    assert(feat.ok && feat.codec === "V_VP8")
    assert(feat.width === 32 && feat.height === 24)
    assert(feat.n_frames === 12 && feat.sample_rate === 48000)
    // corrupt EBML structure isolates as a row (C5), never a throw
    val bad = f.take(30)
    val fb = Multimodal.decodeOne(Multimodal.Media(10L, "u", "video", bad))
    assert(!fb.ok && fb.error.nonEmpty)
  }

  test("mp3: frame walk counts frames, rate, duration across versions; ID3 skipped") {
    import graft.kernel.Mp3
    // MPEG1 Layer III, 128 kbps, 44.1 kHz stereo, ID3v2 prefix
    val f = MediaGen.mp3(frames = 30, bitrateIdx = 9, srIdx = 0, id3Body = 100)
    val i = Mp3.probe(f)
    assert(i.version === "1" && i.layer === 3)
    assert(i.bitrateKbps === 128 && i.sampleRate === 44100 && i.channels === 2)
    assert(i.frames === 30L && i.id3Bytes === 110)
    assert(i.durationMs === 30L * 1152 * 1000 / 44100)
    assert(!i.vbr)
    // VBR flags when bitrate varies; MPEG2 halves rate and frame size
    assert(Mp3.probe(MediaGen.mp3(10, bitrateIdx = 9, vbr = true)).vbr)
    val m2 = Mp3.probe(MediaGen.mp3(8, bitrateIdx = 5, srIdx = 1, mpeg2 = true, mono = true))
    assert(m2.version === "2" && m2.sampleRate === 24000 && m2.channels === 1)
    assert(m2.durationMs === 8L * 576 * 1000 / 24000)
    // malformed: mid-stream rate change is rejected; garbage is rejected
    val mixed = MediaGen.mp3(3, srIdx = 0) ++ MediaGen.mp3(3, srIdx = 1)
    intercept[IllegalArgumentException](Mp3.probe(mixed))
    intercept[IllegalArgumentException](Mp3.probe("definitely not mp3".getBytes))
    // ID3 tag claiming to overrun the file is rejected
    val lying = MediaGen.mp3(2, id3Body = 50).take(20)
    intercept[IllegalArgumentException](Mp3.probe(lying))
  }

  test("ogg: opus/vorbis id headers + page walk give rate, channels, exact duration") {
    import graft.kernel.Ogg
    val o = Ogg.probe(MediaGen.oggOpus(2, 48000, preSkip = 312,
      audioPages = 5, samplesPerPage = 3840))
    assert(o.codec === "opus" && o.channels === 2 && o.sampleRate === 48000)
    assert(o.preSkip === 312 && o.pages === 7L)
    assert(o.durationMs === 5L * 3840 * 1000 / 48000)
    val v = Ogg.probe(MediaGen.oggVorbis(1, 16000, audioPages = 4, samplesPerPage = 1024))
    assert(v.codec === "vorbis" && v.channels === 1 && v.sampleRate === 16000)
    assert(v.durationMs === 4L * 1024 * 1000 / 16000)
    // malformed: truncation, unknown codec header, trailing junk
    intercept[IllegalArgumentException](
      Ogg.probe(MediaGen.oggOpus(1, 48000, 0, 2, 960).dropRight(10)))
    intercept[IllegalArgumentException](
      Ogg.probe(MediaGen.oggPageForTest("FLACHEAD".getBytes)))
    // feature stage carries the audio-container truth
    import graft.ops.Multimodal
    val fo = Multimodal.decodeOne(Multimodal.Media(3L, "u", "audio",
      MediaGen.oggOpus(2, 48000, 312, 3, 960)))
    assert(fo.ok && fo.codec === "opus" && fo.sample_rate === 48000 && fo.n_frames === 5)
    val fm = Multimodal.decodeOne(Multimodal.Media(4L, "u", "audio", MediaGen.mp3(6)))
    assert(fm.ok && fm.codec === "mp3" && fm.sample_rate === 44100 && fm.n_frames === 6)
  }

  test("vp9: keyframe uncompressed header yields profile/depth/dims/render size") {
    import graft.kernel.Vp9
    val i0 = Vp9.parseKeyframeHeader(MediaGen.vp9Keyframe(320, 180, profile = 0))
    assert(i0.profile === 0 && i0.bitDepth === 8)
    assert(i0.width === 320 && i0.height === 180)
    assert(i0.renderWidth === 320 && i0.renderHeight === 180)
    // profile 2 is 10-bit; render size can differ (anamorphic)
    val i2 = Vp9.parseKeyframeHeader(
      MediaGen.vp9Keyframe(1920, 1080, profile = 2, renderW = 853, renderH = 480))
    assert(i2.profile === 2 && i2.bitDepth === 10)
    assert(i2.width === 1920 && i2.renderWidth === 853 && i2.renderHeight === 480)
    // profile 1 reads the subsampling bits
    val i1 = Vp9.parseKeyframeHeader(MediaGen.vp9Keyframe(64, 48, profile = 1))
    assert(i1.profile === 1 && i1.width === 64)
    // malformed: bad marker, bad sync code, truncation
    intercept[IllegalArgumentException](
      Vp9.parseKeyframeHeader(Array[Byte](0, 0, 0, 0)))
    val badSync = MediaGen.vp9Keyframe(64, 48); badSync(1) = 0x00
    intercept[IllegalArgumentException](Vp9.parseKeyframeHeader(badSync))
    intercept[IllegalArgumentException](
      Vp9.parseKeyframeHeader(MediaGen.vp9Keyframe(64, 48).take(3)))
    // through WebM + feature stage: bitstream dims override the container
    val f = MediaGen.webm(Seq(MediaGen.vp9Keyframe(320, 180)), 999, 999, 30,
      codecId = "V_VP9")
    import graft.ops.Multimodal
    val feat = Multimodal.decodeOne(Multimodal.Media(11L, "u", "video", f))
    assert(feat.ok && feat.codec === "V_VP9")
    assert(feat.width === 320 && feat.height === 180) // not the lying 999
  }

  private def be32int(v: Int): Array[Byte] =
    Array(((v >> 24) & 0xff).toByte, ((v >> 16) & 0xff).toByte,
      ((v >> 8) & 0xff).toByte, (v & 0xff).toByte)

  test("mp4/mjpeg: first frame extracts via stco/stsz and decodes through the jpeg kernel") {
    import graft.ops.Multimodal
    val r = new scala.util.Random(47)
    val (w, h, fps, n) = (24, 16, 25, 6)
    val first = Array.fill(w * h)(r.nextInt(256))
    val frames = first +: Seq.fill(n - 1)(Array.fill(w * h)(r.nextInt(256)))
    val payload = MediaGen.mp4(w, h, fps, n, "jpeg",
      samples = frames.map(f => MediaGen.jpeg(f, w, h)))
    val info = Media.probeMp4(payload)
    val vt = info.tracks.head
    assert(vt.codec === "jpeg" && vt.sampleCount === n.toLong)
    // stco points INSIDE mdat, stsz matches the first jpeg's true size
    assert(vt.firstSampleOffset === info.mdatOffset.toLong)
    assert(vt.firstSampleSize === MediaGen.jpeg(first, w, h).length.toLong)
    // the feature stage decodes the real first frame: luma within jpeg
    // rounding tolerance, real thumbnail, full frame count from stsz
    val f = Multimodal.decodeOne(Multimodal.Media(1L, "u", "video", payload))
    assert(f.ok && f.codec === "jpeg" && f.width === w && f.height === h)
    assert(f.n_frames === n && f.sampled_frames === 2)
    val d = Media.Decoded("jpeg", w, h, 0, n,
      graft.kernel.Jpeg.decode(MediaGen.jpeg(first, w, h)).samples, 255)
    assert(d.samples.zip(first).map { case (a, b) => math.abs(a - b) }.max <= 4)
    assert(f.thumb_bytes > 0 && f.thumb_bytes <= 64)
    // a fake-payload mp4 still takes the metadata path, not a crash
    val fake = Multimodal.decodeOne(Multimodal.Media(2L, "u", "video",
      MediaGen.mp4(w, h, fps, n, "avc1")))
    assert(fake.ok && fake.codec === "avc1" && fake.n_frames === n)
  }

  test("mp4: 64-bit largesize boxes and v1 time fields parse correctly") {
    def be64(v: Long): Array[Byte] = be32int((v >> 32).toInt) ++ be32int(v.toInt)
    def box(typ: String, body: Array[Byte]): Array[Byte] =
      be32int(8 + body.length) ++ typ.getBytes("ISO-8859-1") ++ body
    def large(typ: String, body: Array[Byte]): Array[Byte] =
      be32int(1) ++ typ.getBytes("ISO-8859-1") ++ be64(16L + body.length) ++ body
    def full(typ: String, version: Int, body: Array[Byte]): Array[Byte] =
      box(typ, Array[Byte](version.toByte, 0, 0, 0) ++ body)
    // mvhd v1: cre(8) mod(8) timescale(4) duration(8): 90_000 ticks at
    // 30 Hz = 3_000_000 ms — a duration only 64 bits can carry honestly
    val mvhd1 = full("mvhd", 1, be64(0) ++ be64(0) ++ be32int(30) ++ be64(90000L) ++
      new Array[Byte](80))
    // trak with mdhd v1 + hdlr + stsd/stsz via the normal layouts
    val mdhd1 = full("mdhd", 1, be64(0) ++ be64(0) ++ be32int(1000) ++ be64(4500L) ++
      be32int(0))
    val hdlr = full("hdlr", 0, be32int(0) ++ "vide".getBytes ++ new Array[Byte](13))
    val entry = {
      val b = new Array[Byte](6) ++ be32int(1).drop(2) ++
        new Array[Byte](16) ++
        Array[Byte](0, 99, 0, 88) ++ // width 99, height 88
        new Array[Byte](46)
      be32int(8 + b.length) ++ "vp09".getBytes ++ b
    }
    val stbl = box("stbl",
      full("stsd", 0, be32int(1) ++ entry) ++
        full("stsz", 0, be32int(0) ++ be32int(7)) ++
        full("co64", 0, be32int(1) ++ be64(999L))) // 64-bit chunk offsets
    val trak = box("trak",
      box("mdia", mdhd1 ++ hdlr ++ box("minf", stbl)))
    val file = box("ftyp", "isom".getBytes ++ be32int(0x200)) ++
      box("moov", mvhd1 ++ trak) ++
      large("mdat", Array.tabulate(32)(_.toByte)) // largesize mdat
    val info = Media.probeMp4(file)
    assert(info.durationMs === 3000000L) // v1 mvhd: 90000 / 30 Hz
    assert(info.mdatLength === 32L) // largesize header = 16 bytes
    val t = info.tracks.head
    assert(t.handler === "vide" && t.codec === "vp09")
    assert(t.durationMs === 4500L) // v1 mdhd: 4500 / 1000 Hz
    assert(t.width === 99 && t.height === 88 && t.sampleCount === 7L)
    assert(t.firstSampleOffset === 999L) // via the co64 64-bit table
  }

  test("jpeg: grayscale round-trip within coefficient-rounding tolerance") {
    val r = new scala.util.Random(31)
    val (w, h) = (37, 22) // partial edge blocks on both axes
    val img = Array.fill(w * h)(r.nextInt(256))
    val d = graft.kernel.Jpeg.decode(
      MediaGen.jpeg(img, w, h, color = false))
    assert(d.codec === "jpeg" && d.width === w && d.height === h)
    // quant tables are all-ones, so the only loss is FDCT coefficient
    // rounding: per-sample error stays within a few levels
    val e = maxErr(d.samples, img)
    info(s"grayscale max |err| = $e")
    assert(e <= 4, s"round-trip error $e exceeds the rounding bound")
    // a constant image is exactly representable (DC only, integral)
    val flat = Array.fill(16 * 16)(200)
    assert(graft.kernel.Jpeg.decode(MediaGen.jpeg(flat, 16, 16)).samples.toSeq
      === flat.toSeq)
  }

  test("jpeg: 4:4:4 and 4:2:0 colour scans decode luma through interleaved MCUs") {
    val r = new scala.util.Random(32)
    val (w, h) = (33, 17)
    val img = Array.fill(w * h)(r.nextInt(256))
    for (ss <- Seq(1, 2)) {
      val d = graft.kernel.Jpeg.decode(
        MediaGen.jpeg(img, w, h, color = true, subsample = ss))
      assert(d.width === w && d.height === h, s"subsample $ss")
      val e = maxErr(d.samples, img)
      info(s"colour ss=$ss max |err| = $e")
      assert(e <= 4, s"subsample $ss error $e")
    }
  }

  test("jpeg: restart markers reset predictors mid-scan") {
    val r = new scala.util.Random(33)
    val (w, h) = (48, 40) // 6x5 MCUs at 4:4:4 grayscale
    val img = Array.fill(w * h)(r.nextInt(256))
    val d = graft.kernel.Jpeg.decode(
      MediaGen.jpeg(img, w, h, restartInterval = 4))
    val e = maxErr(d.samples, img)
    info(s"restart-interval max |err| = $e")
    assert(e <= 4)
  }

  test("jpeg: fuzz round-trips across shapes, modes and restart intervals") {
    val r = new scala.util.Random(34)
    (1 to 60).foreach { k =>
      val w = 1 + r.nextInt(50); val h = 1 + r.nextInt(40)
      val img = r.nextInt(3) match {
        case 0 => Array.fill(w * h)(r.nextInt(256))
        case 1 => Array.tabulate(w * h)(i => (i * 13 + 7) % 256)
        case _ => Array.tabulate(w * h)(i => if ((i / w + i % w) % 9 == 0) 255 else 16)
      }
      val color = r.nextBoolean()
      val ss = if (color && r.nextBoolean()) 2 else 1
      val ri = if (r.nextBoolean()) 0 else 1 + r.nextInt(5)
      val d = graft.kernel.Jpeg.decode(
        MediaGen.jpeg(img, w, h, color = color, subsample = ss, restartInterval = ri))
      assert(d.width === w && d.height === h, s"sample #$k dims")
      val e = maxErr(d.samples, img)
      assert(e <= 4, s"sample #$k (w=$w h=$h color=$color ss=$ss ri=$ri) err=$e")
    }
  }

  test("jpeg progressive: successive-approximation scans reconstruct the baseline exactly") {
    val r = new scala.util.Random(35)
    for ((w, h, color, ss, ri) <- Seq(
        (37, 22, false, 1, 0),  // grayscale, partial edge blocks
        (24, 16, true, 2, 0),   // 4:2:0 interleaved DC scans
        (48, 40, false, 1, 3),  // restart markers in every scan kind
        (33, 17, true, 1, 2))) { // 4:4:4 colour + restarts
      val img = Array.fill(w * h)(r.nextInt(256))
      val prog = graft.kernel.Jpeg.decode(
        MediaGen.jpegProgressive(img, w, h, color = color, subsample = ss, restartInterval = ri))
      assert(prog.codec === "jpeg" && prog.width === w && prog.height === h,
        s"(w=$w h=$h color=$color ss=$ss ri=$ri)")
      // progressive transmits the SAME quantized coefficients as the
      // baseline twin — the decoded planes must be bit-identical
      val base = graft.kernel.Jpeg.decode(
        MediaGen.jpeg(img, w, h, color = color, subsample = ss, restartInterval = ri))
      assert(prog.samples.toSeq === base.samples.toSeq,
        s"progressive != baseline (w=$w h=$h color=$color ss=$ss ri=$ri)")
      assert(maxErr(prog.samples, img) <= 4)
    }
  }

  test("jpeg progressive: fuzz round-trips across shapes, modes and restarts") {
    val r = new scala.util.Random(36)
    (1 to 60).foreach { k =>
      val w = 1 + r.nextInt(50); val h = 1 + r.nextInt(40)
      // mix content classes: noise rarely yields the long zero-history
      // runs that exercise ZRL-in-refinement; gradients and sparse
      // structure do (the bug class the first fuzz missed)
      val img = r.nextInt(3) match {
        case 0 => Array.fill(w * h)(r.nextInt(256))
        case 1 => Array.tabulate(w * h)(i => (i * 13 + 7) % 256)
        case _ => Array.tabulate(w * h)(i => if ((i / w + i % w) % 9 == 0) 255 else 16)
      }
      val color = r.nextBoolean()
      val ss = if (color && r.nextBoolean()) 2 else 1
      val ri = if (r.nextBoolean()) 0 else 1 + r.nextInt(5)
      val d = graft.kernel.Jpeg.decode(
        MediaGen.jpegProgressive(img, w, h, color = color, subsample = ss, restartInterval = ri))
      assert(d.width === w && d.height === h, s"sample #$k dims")
      val e = maxErr(d.samples, img)
      assert(e <= 4, s"sample #$k (w=$w h=$h color=$color ss=$ss ri=$ri) err=$e")
    }
  }

  test("jpeg: malformed and unsupported inputs are rejected, not mis-decoded") {
    val img = Array.fill(16 * 16)(128)
    val good = MediaGen.jpeg(img, 16, 16)
    // flipping SOF0 → SOF2 leaves a baseline full-band scan header, which
    // is malformed progressive (a DC scan with Se=63) — must throw
    val prog = good.clone()
    val sof = (0 until prog.length - 1).find(i =>
      (prog(i) & 0xff) == 0xff && (prog(i + 1) & 0xff) == 0xc0).get
    prog(sof + 1) = 0xc2.toByte
    intercept[Exception](graft.kernel.Jpeg.decode(prog))
    // a lossless SOF3 is rejected explicitly
    val lossless = good.clone(); lossless(sof + 1) = 0xc3.toByte
    intercept[Exception](graft.kernel.Jpeg.decode(lossless))
    // truncated scan
    intercept[Exception](graft.kernel.Jpeg.decode(good.take(good.length - 8)))
    // not a JPEG at all
    intercept[Exception](graft.kernel.Jpeg.decode(Array[Byte](1, 2, 3)))
  }

  test("adversarial payloads fail fast — never hang, never kill the task") {
    val r = new scala.util.Random(7)
    val img = Array.fill[Byte](8 * 8 * 3)(r.nextInt(256).toByte)
    val goodPng = MediaGen.png(img, 8, 8, 3)
    // zlib FDICT (preset dictionary) bit set in the IDAT stream header:
    // Inflater.inflate() then returns 0 with needsInput()==false and
    // finished()==false forever — the decoder must throw, not spin
    // (CRC is not validated, so mutating the chunk body is enough)
    val fdict = goodPng.clone()
    val at = (0 until fdict.length - 3).find(i =>
      fdict(i) == 'I' && fdict(i + 1) == 'D' && fdict(i + 2) == 'A' && fdict(i + 3) == 'T').get
    // data[0]=CMF stays 0x78; FLG 0x20 sets FDICT with a valid FCHECK
    // ((0x7800 + 0x20) % 31 == 0)
    fdict(at + 5) = 0x20
    intercept[Exception](Media.decodePng(fdict))

    // crafted WAV data-chunk length near Int.MaxValue: Int math would wrap
    // the bound check negative and attempt a multi-GB allocation whose
    // OutOfMemoryError escapes a per-row catch — must throw an Exception
    val wavBytes = MediaGen.wav(Array.tabulate(100)(i => i.toShort), 8000)
    val huge = wavBytes.clone()
    // data chunk length field at bytes 40..43 (LE) → 0x7FFFFFF0
    huge(40) = 0xf0.toByte; huge(41) = 0xff.toByte
    huge(42) = 0xff.toByte; huge(43) = 0x7f.toByte
    intercept[Exception](Media.decodeWav(huge))

    // same FDICT stream through the PDF FlateDecode path
    intercept[Exception](graft.kernel.Pdf.inflate(Array[Byte](0x78, 0x20, 1, 2, 3)))

    // a PNG whose IHDR claims 8192x8192 RGBA16 over a one-byte IDAT: the
    // decoder must size its buffers by what the stream yields, not by
    // the claimed 512 MiB
    val claim = {
      def chunk(typ: String, body: Array[Byte]): Array[Byte] =
        java.nio.ByteBuffer.allocate(4).putInt(body.length).array() ++
          typ.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1) ++ body ++ new Array[Byte](4)
      val ihdr = java.nio.ByteBuffer.allocate(13).putInt(8192).putInt(8192)
        .put(16.toByte).put(6.toByte).put(0.toByte).put(0.toByte).put(0.toByte).array()
      val d = new java.util.zip.Deflater()
      d.setInput(Array[Byte](0)); d.finish()
      val z = new Array[Byte](64)
      val zn = d.deflate(z); d.end()
      goodPng.take(8) ++ chunk("IHDR", ihdr) ++ chunk("IDAT", z.take(zn)) ++
        chunk("IEND", Array.emptyByteArray)
    }
    val mx = java.lang.management.ManagementFactory.getThreadMXBean
      .asInstanceOf[com.sun.management.ThreadMXBean]
    val before = mx.getThreadAllocatedBytes(Thread.currentThread.getId)
    intercept[Exception](Media.decodePng(claim))
    val allocated = mx.getThreadAllocatedBytes(Thread.currentThread.getId) - before
    assert(allocated < (16L << 20), s"claimed PNG allocated $allocated bytes")

    // a PDF content stream inflating to 64 MiB + 1 (~64 KB on the wire)
    // fails its row instead of decoding
    val pdfBomb = graft.kernel.PdfWriter.buildRaw(Seq(new Array[Byte]((64 << 20) + 1)),
      compress = true, Seq((612.0, 792.0)))
    assert(pdfBomb.length < (1 << 20), "bomb fixture must be small on the wire")
    val row = graft.pipeline.Extraction.extractDoc(graft.pipeline.RawDoc("bomb.pdf", pdfBomb))
    assert(row.source_type === "pdf")
    assert(!row.ok, "an over-cap flate stream must fail its row")
  }

  test("audio thumbnail survives >34M samples (index math must not wrap Int)") {
    val samples = new Array[Int](34200000) // > Int.MaxValue / 63
    samples((63L * samples.length / 64).toInt) = 12800
    val t = graft.ops.Multimodal.thumbnail1d(samples)
    assert(t.length === 64)
    assert(t(63) === ((12800 >> 8) & 0xff).toByte)
  }

  test("garbage fuzz: random or bit-flipped payloads behind every magic fail the row, never hang") {
    import graft.ops.Multimodal
    val r = new scala.util.Random(99)
    val magics = Seq[Array[Byte]](
      Array('B', 'M'),
      "RIFFWAVE".getBytes(java.nio.charset.StandardCharsets.ISO_8859_1),
      Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte),
      Array(0xff, 0xd8, 0xff).map(_.toByte),
      "GIF89a".getBytes,
      "IMG1".getBytes, "AUD1".getBytes, "VID1".getBytes,
      Array[Byte](0, 0, 0, 24) ++ "ftypisom".getBytes)
    (1 to 400).foreach { k =>
      val body = new Array[Byte](r.nextInt(300))
      r.nextBytes(body)
      val payload = magics(r.nextInt(magics.length)) ++ body
      val f = Multimodal.decodeOne(Multimodal.Media(k.toLong, "u", "x", payload))
      assert(f.error != null, s"sample #$k must produce a row") // ok=false or a lucky decode
    }
    // bit-flip VALID payloads of every codec — same contract
    MediaGen.media(80).foreach { m =>
      val p = m.payload.clone()
      (1 to 8).foreach { _ =>
        val i = r.nextInt(p.length)
        p(i) = (p(i) ^ (1 << r.nextInt(8))).toByte
      }
      val f = Multimodal.decodeOne(Multimodal.Media(m.media_id, m.doc_url, m.kind, p))
      assert(f.error != null)
    }
  }

  test("writers are deterministic byte generators") {
    val r1 = MediaGen.media(40).map(_.payload.toSeq)
    val r2 = MediaGen.media(40).map(_.payload.toSeq)
    assert(r1 === r2)
  }

  // ------------------------------------------- VP8 (lossy WebP, round 4)

  /** The "VP8 " chunk payload of a lossy WebP container. */
  private def vp8Payload(webp: Array[Byte]): Array[Byte] = {
    var off = 12; var p: Array[Byte] = null
    while (p == null) {
      val id = new String(webp.slice(off, off + 4), "ISO-8859-1")
      val sz = (webp(off + 4) & 0xff) | ((webp(off + 5) & 0xff) << 8) |
        ((webp(off + 6) & 0xff) << 16) | ((webp(off + 7) & 0xff) << 24)
      if (id == "VP8 ") p = webp.slice(off + 8, off + 8 + sz) else off += 8 + sz + (sz & 1)
    }
    p
  }

  test("vp8: boolean encoder round-trips through the RFC decoder (property)") {
    import graft.kernel.Vp8
    val r = new scala.util.Random(81)
    for (trial <- 0 until 40) {
      val n = 50 + r.nextInt(3000)
      val probs = Array.fill(n)(1 + r.nextInt(254))
      val bits = Array.fill(n)(r.nextInt(2))
      val e = new MediaGen.Vp8BoolEnc
      var i = 0
      while (i < n) { e.put(probs(i), bits(i)); i += 1 }
      val bytes = e.result()
      val d = new Vp8.Bool(bytes, 0, bytes.length)
      i = 0
      while (i < n) {
        assert(d.bit(probs(i)) === bits(i), s"trial $trial bit $i")
        i += 1
      }
    }
  }

  test("vp8: lossy round-trip error is bounded and scales with quant index") {
    import graft.kernel.WebP
    val r = new scala.util.Random(82)
    def maxErr(w: Int, h: Int, qi: Int, luma: Array[Int]): Int = {
      val d = WebP.decode(MediaGen.vp8(luma, w, h, qi))
      assert(d.codec === "webp" && d.width === w && d.height === h)
      d.samples.zip(luma).map(t => math.abs(t._1 - t._2)).max
    }
    // smooth gradient: near-exact at tiny quant
    val (w, h) = (64, 48)
    val grad = Array.tabulate(w * h)(i => ((i % w) * 3 + (i / w) * 2) % 256)
    assert(maxErr(w, h, 0, grad) <= 2)
    assert(maxErr(w, h, 8, grad) <= 8)
    // noise at a coarse quantizer still bounded by the step size
    val noise = Array.fill(w * h)(r.nextInt(256))
    assert(maxErr(w, h, 0, noise) <= 4)
    assert(maxErr(w, h, 30, noise) <= graft.kernel.Vp8Tables.acQLookup(30) + 4)
    // non-multiple-of-16 dims and a 1-pixel image
    val odd = Array.tabulate(17 * 13)(i => i * 7 % 256)
    assert(maxErr(17, 13, 4, odd) <= 6)
    assert(maxErr(1, 1, 4, Array(200)) <= 6)
    // flat image compresses to skipped macroblocks
    val flatBytes = MediaGen.vp8(Array.fill(64 * 64)(128), 64, 64, 12)
    assert(flatBytes.length < 100, s"flat image should skip-code: ${flatBytes.length}")
  }

  test("vp8: malformed streams are rejected, not hung") {
    import graft.kernel.{Vp8, WebP}
    val good = MediaGen.vp8(Array.tabulate(32 * 32)(_ % 256), 32, 32, 10)
    intercept[Exception](Vp8.decodeFrame(Array[Byte](1, 2, 3)))
    val badStart = good.slice(20, good.length)
    badStart(3) = 0x42 // break the 0x9d012a start code
    intercept[Exception](Vp8.decodeFrame(badStart))
    // truncations at every prefix either throw or decode bounded output
    val payload = vp8Payload(good)
    for (cut <- Seq(5, 9, 12, payload.length / 2)) {
      try { Vp8.decodeFrame(payload.take(cut)); () }
      catch { case _: Exception => () }
    }
    // garbage fuzz through the container path
    val r = new scala.util.Random(83)
    for (_ <- 0 until 200) {
      val junk = good.clone()
      val at = 20 + r.nextInt(junk.length - 20)
      junk(at) = r.nextInt(256).toByte
      try { WebP.decode(junk); () }
      catch { case _: Exception => () }
    }
  }

  test("vp8: 17 libwebp-encoded streams decode byte-exactly against libwebp's own decode") {
    // tools/vp8_differential.py encoded these streams with the system
    // libwebp — unfiltered and loop-filtered (normal + simple filter,
    // sharpness, segment deltas), segmented, multi-partition, odd dims,
    // q10…q90 — and recorded sha256(Y ‖ U ‖ V) of libwebp's own decode
    val src = scala.io.Source.fromResource("vp8/libwebp_yuv.tsv")
    val want = try src.getLines().map(_.split('\t')).toList finally src.close()
    assert(want.size === 17)
    val filtered = want.map { case Array(name, w, h, digest) =>
      val in = getClass.getResourceAsStream(s"/vp8/$name.webp")
      val webp = try in.readAllBytes() finally in.close()
      val f = Vp8.decodeFrame(vp8Payload(webp))
      assert((f.width, f.height) === ((w.toInt, h.toInt)), name)
      val planes = (f.y ++ f.u ++ f.v).map(_.toByte)
      val got = java.security.MessageDigest.getInstance("SHA-256").digest(planes)
        .map("%02x".format(_)).mkString
      assert(got === digest, s"$name: decoded planes differ from libwebp's")
      f.filtered
    }
    assert(filtered.toSet === Set(false, true), "both loop-filter paths are covered")
  }

  // ---- differentials vs INDEPENDENT implementations (round-3 ADVICE):
  // the MediaGen writers and graft decoders are co-designed, so a matched
  // misread of a spec detail would pass every round-trip. Where the JDK
  // ships an independent codec for free (javax.imageio for PNG/GIF/JPEG,
  // java.util.zip for the ZIP container) we cross-check BOTH directions:
  // our bytes must parse in the JDK, and JDK bytes must parse in ours.

  private def imageioLuma(bytes: Array[Byte]): (Int, Int, Array[Int]) = {
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
    assert(img != null, "javax.imageio could not parse the payload")
    val (w, h) = (img.getWidth, img.getHeight)
    val out = new Array[Int](w * h)
    val raster = img.getRaster
    val indexed = img.getColorModel.isInstanceOf[java.awt.image.IndexColorModel]
    val bands = raster.getNumBands
    val px = new Array[Int](math.max(bands, 1))
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        // raw raster samples, NOT getRGB: getRGB routes single-band gray
        // through a linear→sRGB colorspace conversion that shifts every
        // value; indexed images need the palette lookup though
        out(y * w + x) =
          if (indexed) argbLuma(img.getRGB(x, y))
          else if (bands >= 3) {
            raster.getPixel(x, y, px)
            (px(0) * 299 + px(1) * 587 + px(2) * 114) / 1000
          } else raster.getSample(x, y, 0)
        x += 1
      }
      y += 1
    }
    (w, h, out)
  }

  test("differential png: ours <-> javax.imageio agree pixel-exactly") {
    val r = new scala.util.Random(71)
    val (w, h) = (29, 17)
    // ours -> JDK (grey + rgb, incl. 16-bit and Adam7 variants)
    for (ch <- Seq(1, 3)) {
      val img = Array.fill[Byte](w * h * ch)(r.nextInt(256).toByte)
      val want = Media.decodePng(MediaGen.png(img, w, h, ch)).samples.toSeq
      val (jw, jh, jl) = imageioLuma(MediaGen.png(img, w, h, ch))
      assert((jw, jh) === ((w, h)))
      assert(jl.toSeq === want, s"channels=$ch")
      val (_, _, jli) = imageioLuma(
        MediaGen.pngAdvanced(img, w, h, ch, interlaced = true))
      assert(jli.toSeq === want, s"interlaced channels=$ch")
    }
    // JDK -> ours: TYPE_INT_RGB pixels written by the JDK PNG encoder
    val bi = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    val px = Array.fill(w * h)(r.nextInt(0x1000000))
    for (y <- 0 until h; x <- 0 until w) bi.setRGB(x, y, px(y * w + x))
    val bos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(bi, "png", bos))
    val d = Media.decodePng(bos.toByteArray)
    assert(d.width === w && d.height === h)
    assert(d.samples.toSeq === px.map(p => argbLuma(0xff000000 | p)).toSeq)
  }

  test("differential gif: ours <-> javax.imageio agree pixel-exactly") {
    val r = new scala.util.Random(72)
    val (w, h) = (31, 13)
    val palette = Array.tabulate[Byte](48)(i => ((i * 37 + 11) % 256).toByte)
    val indices = Array.fill[Byte](w * h)((r.nextInt(16)).toByte)
    // ours -> JDK
    val bytes = MediaGen.gif(indices, w, h, palette)
    val want = Media.decodeGif(bytes).samples.toSeq
    val (jw, jh, jl) = imageioLuma(bytes)
    assert((jw, jh) === ((w, h)) && jl.toSeq === want)
    // JDK -> ours: indexed image through the JDK GIF encoder
    val bi = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_BYTE_INDEXED)
    val px = Array.fill(w * h)(r.nextInt(0x1000000))
    for (y <- 0 until h; x <- 0 until w) bi.setRGB(x, y, px(y * w + x))
    val bos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(bi, "gif", bos))
    val ours = Media.decodeGif(bos.toByteArray)
    val (ew, eh, el) = imageioLuma(bos.toByteArray) // JDK's own read-back
    assert(ours.width === ew && ours.height === eh)
    assert(ours.samples.toSeq === el.toSeq)
  }

  test("differential jpeg: ours <-> javax.imageio agree within codec tolerance") {
    import graft.kernel.Jpeg
    val (w, h) = (48, 32)
    // smooth gradient: near-lossless at quant=1, so small tolerances hold
    val luma = Array.tabulate(w * h)(i => ((i % w) * 3 + (i / w) * 2) % 256)
    // ours -> JDK, grey + 4:2:0 color
    for ((color, ss) <- Seq((false, 1), (true, 2))) {
      val bytes = MediaGen.jpeg(luma, w, h, color = color, subsample = ss)
      val ours = Jpeg.decode(bytes).samples
      val (jw, jh, jl) = imageioLuma(bytes)
      assert((jw, jh) === ((w, h)))
      val maxDiff = ours.zip(jl).map(t => math.abs(t._1 - t._2)).max
      assert(maxDiff <= 4, s"color=$color max luma diff $maxDiff")
    }
    // JDK -> ours: grayscale image through the JDK JPEG encoder
    val bi = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    for (y <- 0 until h; x <- 0 until w) {
      val v = luma(y * w + x); bi.setRGB(x, y, (v << 16) | (v << 8) | v)
    }
    val bos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(bi, "jpg", bos))
    val ours = Jpeg.decode(bos.toByteArray)
    assert(ours.width === w && ours.height === h)
    val (_, _, jdk) = imageioLuma(bos.toByteArray)
    val maxDiff = ours.samples.zip(jdk).map(t => math.abs(t._1 - t._2)).max
    assert(maxDiff <= 4, s"JDK-encoded jpeg: max luma diff $maxDiff")
  }

  test("differential zip: ours <-> java.util.zip agree on entries and bytes") {
    import graft.kernel.Zip
    val r = new scala.util.Random(73)
    val files = Seq(
      "a/first.txt" -> "hello zip differential".getBytes,
      "b/second.bin" -> Array.fill[Byte](5000)(r.nextInt(256).toByte),
      "empty.txt" -> Array.empty[Byte])
    // ours -> JDK, deflated and stored
    for (deflate <- Seq(true, false)) {
      val bytes = MediaGen.zip(files, deflate = deflate)
      val zis = new java.util.zip.ZipInputStream(
        new java.io.ByteArrayInputStream(bytes))
      val got = Iterator.continually(zis.getNextEntry).takeWhile(_ != null)
        .map(e => e.getName -> zis.readAllBytes().toSeq).toMap
      assert(got === files.map(f => f._1 -> f._2.toSeq).toMap,
        s"deflate=$deflate")
    }
    // JDK -> ours, both methods
    for (method <- Seq(java.util.zip.ZipOutputStream.DEFLATED,
        java.util.zip.ZipOutputStream.STORED)) {
      val bos = new java.io.ByteArrayOutputStream()
      val zos = new java.util.zip.ZipOutputStream(bos)
      zos.setMethod(method)
      files.foreach { case (name, data) =>
        val e = new java.util.zip.ZipEntry(name)
        if (method == java.util.zip.ZipOutputStream.STORED) {
          e.setSize(data.length)
          val crc = new java.util.zip.CRC32(); crc.update(data)
          e.setCrc(crc.getValue)
        }
        zos.putNextEntry(e); zos.write(data); zos.closeEntry()
      }
      zos.close()
      val bytes = bos.toByteArray
      assert(Zip.isZip(bytes))
      val names = Zip.entries(bytes).map(_.name)
      assert(names.toSet === files.map(_._1).toSet, s"method=$method")
      files.foreach { case (name, data) =>
        assert(Zip.extractByName(bytes, name).get.toSeq === data.toSeq,
          s"method=$method entry=$name")
      }
    }
  }
}
