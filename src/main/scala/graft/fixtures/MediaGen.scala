package graft.fixtures

import graft.ops.Multimodal.Media
import scala.util.Random

/** Deterministic media-payload generator for the multimodal operators.
  * Emits a mix of REAL standard formats (decoded for real by
  * [[graft.kernel.Media]]) and the stub container (the stand-in for
  * codec-library formats, parsed by [[graft.ops.Multimodal.decodeOne]]):
  *
  *  real:  BMP (24 bpp BI_RGB, padded bottom-up rows), WAV (RIFF PCM
  *         16-bit mono), PNG (8-bit grey/RGB, rows forward-filtered
  *         cycling all five PNG filter types, zlib via JDK `Deflater`)
  *  stub:  `IMG1` + be32(w) + be32(h) + pixel bytes
  *         `AUD1` + be32(rate) + be32(n) + sample bytes
  *         `VID1` + be32(w) + be32(h) + be32(fps) + be32(frames) + bytes
  *
  * Seeded, no wall-clock — same (n, seed) always yields identical bytes.
  */
object MediaGen {

  private def be32(v: Int): Array[Byte] =
    Array(((v >> 24) & 0xff).toByte, ((v >> 16) & 0xff).toByte,
      ((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
  private def le16(v: Int): Array[Byte] =
    Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)
  private def le32(v: Int): Array[Byte] =
    Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)

  private def body(r: Random, n: Int): Array[Byte] = {
    val b = new Array[Byte](n)
    r.nextBytes(b)
    b
  }

  /** 24 bpp uncompressed BMP (bottom-up, 4-byte-padded rows). */
  def bmp(pixelsTopDown: Array[Byte], w: Int, h: Int): Array[Byte] = {
    require(pixelsTopDown.length == w * h * 3)
    val rowBytes = ((24 * w + 31) / 32) * 4
    val out = new java.io.ByteArrayOutputStream()
    out.write('B'); out.write('M')
    out.write(le32(54 + rowBytes * h)); out.write(le32(0)); out.write(le32(54))
    out.write(le32(40)); out.write(le32(w)); out.write(le32(h)) // positive h = bottom-up
    out.write(le16(1)); out.write(le16(24)); out.write(le32(0))
    out.write(le32(rowBytes * h)); out.write(le32(2835)); out.write(le32(2835))
    out.write(le32(0)); out.write(le32(0))
    val row = new Array[Byte](rowBytes)
    var y = h - 1
    while (y >= 0) { // file order is bottom row first
      java.util.Arrays.fill(row, 0.toByte)
      System.arraycopy(pixelsTopDown, y * w * 3, row, 0, w * 3)
      out.write(row)
      y -= 1
    }
    out.toByteArray
  }

  /** RIFF/WAVE PCM, 16-bit mono. */
  def wav(samples: Array[Short], rate: Int): Array[Byte] = {
    val body = new java.io.ByteArrayOutputStream()
    samples.foreach(s => body.write(le16(s & 0xffff)))
    wavOf(body.toByteArray, rate, format = 1, channels = 1, bits = 16)
  }

  /** Generic mono RIFF/WAVE over raw sample bytes: `format` 1 = PCM
    * (8/16/24/32-bit), 3 = IEEE float32, 6 = A-law, 7 = μ-law; set
    * `extensible` to wrap the code in a WAVE_FORMAT_EXTENSIBLE fmt chunk
    * (SubFormat GUID leads with the real code).
    */
  def wavOf(data: Array[Byte], rate: Int, format: Int, channels: Int,
            bits: Int, extensible: Boolean = false): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    val fmtLen = if (extensible) 40 else 16
    out.write("RIFF".getBytes); out.write(le32(12 + 8 + fmtLen + 8 + data.length - 8))
    out.write("WAVE".getBytes)
    out.write("fmt ".getBytes); out.write(le32(fmtLen))
    out.write(le16(if (extensible) 0xfffe else format))
    out.write(le16(channels)); out.write(le32(rate))
    out.write(le32(rate * channels * bits / 8))
    out.write(le16(channels * bits / 8)); out.write(le16(bits))
    if (extensible) {
      out.write(le16(22)) // cbSize
      out.write(le16(bits)) // valid bits
      out.write(le32(0)) // channel mask
      out.write(le16(format)) // SubFormat GUID: format code first, 14-byte tail
      out.write(Array[Byte](0, 0, 0, 0, 0x10, 0, 0x80.toByte, 0, 0,
        0xaa.toByte, 0, 0x38, 0x9b.toByte, 0x71))
    }
    out.write("data".getBytes); out.write(le32(data.length))
    out.write(data)
    out.toByteArray
  }

  /** PNG, 8-bit depth, `channels` ∈ {1 grey, 3 RGB}; row `y` is
    * forward-filtered with filter type `y % 5`, so a decoder must
    * implement all five reconstruction filters to get the pixels back.
    */
  def png(img: Array[Byte], w: Int, h: Int, channels: Int): Array[Byte] = {
    require(channels == 1 || channels == 3)
    pngOf(img, w, h, channels, colorType = if (channels == 1) 0 else 2, palette = null)
  }

  /** Indexed-colour PNG (colour type 3): one palette index per pixel +
    * a PLTE chunk of RGB triples.
    */
  def pngIndexed(indices: Array[Byte], w: Int, h: Int,
                 palette: Array[Byte]): Array[Byte] = {
    require(palette.nonEmpty && palette.length % 3 == 0 && palette.length <= 768)
    pngOf(indices, w, h, channels = 1, colorType = 3, palette = palette)
  }

  /** Grey/RGB PNG with explicit bit depth (8 or 16 — 16-bit samples are
    * big-endian pairs in `img`) and optional Adam7 interlacing.
    */
  def pngAdvanced(img: Array[Byte], w: Int, h: Int, channels: Int,
                  depth: Int = 8, interlaced: Boolean = false): Array[Byte] = {
    require(channels == 1 || channels == 3)
    pngOf(img, w, h, channels, colorType = if (channels == 1) 0 else 2,
      palette = null, depth = depth, interlaced = interlaced)
  }

  private def pngOf(img: Array[Byte], w: Int, h: Int, channels: Int,
                    colorType: Int, palette: Array[Byte],
                    depth: Int = 8, interlaced: Boolean = false): Array[Byte] = {
    require(depth == 8 || depth == 16)
    val bytesPerSample = depth / 8
    val bpp = channels * bytesPerSample
    require(img.length == w * h * bpp)
    def paeth(a: Int, b: Int, c: Int): Int = {
      val pp = a + b - c
      val pa = math.abs(pp - a); val pb = math.abs(pp - b); val pc = math.abs(pp - c)
      if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
    }
    val rawOut = new java.io.ByteArrayOutputStream()
    val passes = if (interlaced) graft.kernel.Media.Adam7 else Array((0, 0, 1, 1))
    passes.foreach { case (xs, ys, xstep, ystep) =>
      val pw = math.max(0, (w - xs + xstep - 1) / xstep)
      val ph = math.max(0, (h - ys + ystep - 1) / ystep)
      if (pw > 0 && ph > 0) {
        val stride = pw * bpp
        // gather the pass's pixels into a contiguous sub-image
        val sub = new Array[Byte](stride * ph)
        var y = 0
        while (y < ph) {
          var x = 0
          while (x < pw) {
            val srcPix = ((ys + y * ystep) * w + (xs + x * xstep)) * bpp
            System.arraycopy(img, srcPix, sub, (y * pw + x) * bpp, bpp)
            x += 1
          }
          y += 1
        }
        // forward-filter rows cycling all five filter types
        y = 0
        while (y < ph) {
          val f = y % 5
          rawOut.write(f)
          var x = 0
          while (x < stride) {
            val cur = sub(y * stride + x) & 0xff
            val a = if (x >= bpp) sub(y * stride + x - bpp) & 0xff else 0
            val b = if (y > 0) sub((y - 1) * stride + x) & 0xff else 0
            val c = if (y > 0 && x >= bpp) sub((y - 1) * stride + x - bpp) & 0xff else 0
            val pred = f match {
              case 0 => 0
              case 1 => a
              case 2 => b
              case 3 => (a + b) / 2
              case 4 => paeth(a, b, c)
            }
            rawOut.write((cur - pred) & 0xff)
            x += 1
          }
          y += 1
        }
      }
    }
    val defl = new java.util.zip.Deflater()
    defl.setInput(rawOut.toByteArray); defl.finish()
    val idat = new java.io.ByteArrayOutputStream()
    val buf = new Array[Byte](8192)
    while (!defl.finished()) idat.write(buf, 0, defl.deflate(buf))
    defl.end()
    def chunk(typ: String, data: Array[Byte]): Array[Byte] = {
      val crc = new java.util.zip.CRC32()
      crc.update(typ.getBytes); crc.update(data)
      be32(data.length) ++ typ.getBytes ++ data ++ be32(crc.getValue.toInt)
    }
    val ihdr = be32(w) ++ be32(h) ++
      Array[Byte](depth.toByte, colorType.toByte, 0, 0, if (interlaced) 1 else 0)
    val plte = if (palette == null) Array.empty[Byte] else chunk("PLTE", palette)
    Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte) ++
      chunk("IHDR", ihdr) ++ plte ++
      chunk("IDAT", idat.toByteArray) ++ chunk("IEND", Array.empty)
  }

  // ----------------------------------------------------------- JPEG writer
  /** Canonical Huffman code assignment from (BITS, HUFFVAL) — the exact
    * construction of T.81 Annex C, shared shape with the decoder's DECODE
    * tables. Returns symbol → (code, length).
    */
  private def canonicalCodes(bits: Array[Int], vals: Array[Int]): Map[Int, (Int, Int)] = {
    var code = 0; var k = 0
    val out = Map.newBuilder[Int, (Int, Int)]
    var l = 1
    while (l <= 16) {
      var i = 0
      while (i < bits(l)) { out += vals(k) -> ((code, l)); code += 1; k += 1; i += 1 }
      code <<= 1
      l += 1
    }
    out.result()
  }

  // DC: 12 categories spread over lengths 2..6 — multi-length codes so the
  // decoder's length-walking DECODE loop is genuinely exercised
  private val DcBits = Array(0, 0, 1, 2, 3, 4, 2, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0)
  private val DcVals = (0 to 11).toArray
  // AC: EOB and 0x01 short (length 4), every other run/size byte at length
  // 10 — covers any symbol the encoder can emit, no all-ones code
  private val AcBits = Array(0, 0, 0, 0, 2, 0, 0, 0, 0, 0, 254, 0, 0, 0, 0, 0, 0)
  private val AcVals = Array(0x00, 0x01) ++ (2 to 255)
  private lazy val DcCodes = canonicalCodes(DcBits, DcVals)
  private lazy val AcCodes = canonicalCodes(AcBits, AcVals)

  private final class BitWriter(out: java.io.ByteArrayOutputStream) {
    private var buf = 0
    private var cnt = 0
    def put(code: Int, len: Int): Unit = {
      var i = len - 1
      while (i >= 0) {
        buf = (buf << 1) | ((code >> i) & 1)
        cnt += 1
        if (cnt == 8) {
          out.write(buf)
          if (buf == 0xff) out.write(0x00) // byte stuffing
          buf = 0; cnt = 0
        }
        i -= 1
      }
    }
    /** Pad the final partial byte with 1s (T.81 F.1.2.3). */
    def flush(): Unit = if (cnt > 0) { put(0xff, 8 - cnt) }
  }

  private def fdctQuantBlock(s: Array[Double]): Array[Int] = {
    // quant table is all-ones, so quantization is plain rounding
    val out = new Array[Int](64)
    var u = 0
    while (u < 8) {
      var v = 0
      while (v < 8) {
        var acc = 0.0
        var x = 0
        while (x < 8) {
          var y = 0
          while (y < 8) {
            acc += s(y * 8 + x) * graft.kernel.Jpeg.CosTable(x)(u) *
              graft.kernel.Jpeg.CosTable(y)(v)
            y += 1
          }
          x += 1
        }
        val cu = if (u == 0) 0.70710678118654752440 else 1.0
        val cv = if (v == 0) 0.70710678118654752440 else 1.0
        out(v * 8 + u) = math.rint(acc * cu * cv / 4.0).toInt
        v += 1
      }
      u += 1
    }
    out
  }

  private def encodeBlock(w: BitWriter, coefNatural: Array[Int], pred: Int): Int = {
    def category(v: Int): Int = { var t = 0; var a = math.abs(v); while (a > 0) { a >>= 1; t += 1 }; t }
    def magnitude(v: Int, t: Int): Int = if (v >= 0) v else v + (1 << t) - 1
    val dc = coefNatural(0)
    val diff = dc - pred
    val t = category(diff)
    val (c, l) = DcCodes(t)
    w.put(c, l)
    if (t > 0) w.put(magnitude(diff, t), t)
    // AC in zigzag order with run-lengths
    var k = 1
    var run = 0
    while (k < 64) {
      val v = coefNatural(graft.kernel.Jpeg.ZigZag(k))
      if (v == 0) run += 1
      else {
        while (run > 15) { val (zc, zl) = AcCodes(0xf0); w.put(zc, zl); run -= 16 }
        val sz = category(v)
        val (ac, al) = AcCodes((run << 4) | sz)
        w.put(ac, al)
        w.put(magnitude(v, sz), sz)
        run = 0
      }
      k += 1
    }
    if (run > 0) { val (ec, el) = AcCodes(0x00); w.put(ec, el) } // EOB
    dc
  }

  /** Baseline JFIF writer over a top-down 0–255 luminance plane.
    * `color = false` emits 1-component grayscale; `color = true` emits
    * 3-component YCbCr with constant neutral chroma (Cb = Cr = 128 ⇒
    * all-zero chroma blocks) — `subsample = 1` is 4:4:4, `2` is 4:2:0,
    * both exercising the decoder's MCU/interleave logic for real.
    * `restartInterval > 0` emits DRI + RST0–7 markers. Quant tables are
    * all-ones (near-lossless: the only loss is coefficient rounding), so
    * decoders can be asserted against the source pixels within a tight
    * tolerance.
    */
  def jpeg(luma: Array[Int], w: Int, h: Int, color: Boolean = false,
           subsample: Int = 1, restartInterval: Int = 0,
           exifOrientation: Int = 0, exifMake: String = "",
           exifDateTime: String = ""): Array[Byte] = {
    require(luma.length == w * h && w > 0 && h > 0)
    require(subsample == 1 || subsample == 2)
    val out = new java.io.ByteArrayOutputStream()
    def word(v: Int): Unit = { out.write((v >> 8) & 0xff); out.write(v & 0xff) }
    def marker(m: Int): Unit = { out.write(0xff); out.write(m) }
    marker(0xd8) // SOI
    if (exifOrientation > 0) {
      // APP1 Exif: big-endian TIFF, IFD0 with Orientation (+ Make /
      // Exif-sub-IFD DateTimeOriginal when given)
      val tiff = new java.io.ByteArrayOutputStream()
      def t16(v: Int): Unit = { tiff.write((v >> 8) & 0xff); tiff.write(v & 0xff) }
      def t32(v: Int): Unit = { t16((v >>> 16) & 0xffff); t16(v & 0xffff) }
      val makeB = (exifMake + "\u0000").getBytes("US-ASCII")
      val dtB = (exifDateTime + "\u0000").getBytes("US-ASCII")
      val nIfd0 = 1 + (if (exifMake.nonEmpty) 1 else 0) +
        (if (exifDateTime.nonEmpty) 1 else 0)
      val ifd0 = 8
      val ifd0End = ifd0 + 2 + nIfd0 * 12 + 4
      val exifIfdOff = if (exifDateTime.nonEmpty) ifd0End else 0
      val exifIfdEnd = if (exifDateTime.nonEmpty) exifIfdOff + 2 + 12 + 4 else ifd0End
      val makeOff = exifIfdEnd
      val dtOff = makeOff + (if (exifMake.nonEmpty) makeB.length else 0)
      tiff.write('M'); tiff.write('M'); t16(42); t32(ifd0)
      t16(nIfd0)
      t16(0x0112); t16(3); t32(1); t16(exifOrientation); t16(0)
      if (exifMake.nonEmpty) {
        t16(0x010f); t16(2); t32(makeB.length)
        if (makeB.length <= 4) { tiff.write(makeB); (makeB.length until 4).foreach(_ => tiff.write(0)) }
        else t32(makeOff)
      }
      if (exifDateTime.nonEmpty) { t16(0x8769); t16(4); t32(1); t32(exifIfdOff) }
      t32(0) // next IFD
      if (exifDateTime.nonEmpty) {
        t16(1)
        t16(0x9003); t16(2); t32(dtB.length); t32(dtOff)
        t32(0)
      }
      if (exifMake.nonEmpty && makeB.length > 4) tiff.write(makeB)
      if (exifDateTime.nonEmpty) tiff.write(dtB)
      val payload = "Exif\u0000\u0000".getBytes("US-ASCII") ++ tiff.toByteArray
      marker(0xe1); word(2 + payload.length); out.write(payload)
    }
    // DQT: table 0, all ones (in zigzag order — all ones either way)
    marker(0xdb); word(2 + 65); out.write(0x00)
    (0 until 64).foreach(_ => out.write(1))
    // SOF0
    val nc = if (color) 3 else 1
    marker(0xc0); word(8 + 3 * nc); out.write(8)
    word(h); word(w); out.write(nc)
    val ss = if (color) subsample else 1
    out.write(1); out.write((ss << 4) | ss); out.write(0) // Y
    if (color) {
      out.write(2); out.write(0x11); out.write(0) // Cb
      out.write(3); out.write(0x11); out.write(0) // Cr
    }
    // DHT: DC table 0 + AC table 0 (shared by all components)
    def dht(tc: Int, bits: Array[Int], vals: Array[Int]): Unit = {
      marker(0xc4); word(2 + 1 + 16 + vals.length)
      out.write((tc << 4) | 0)
      (1 to 16).foreach(l => out.write(bits(l)))
      vals.foreach(out.write)
    }
    dht(0, DcBits, DcVals)
    dht(1, AcBits, AcVals)
    if (restartInterval > 0) { marker(0xdd); word(4); word(restartInterval) }
    // SOS
    marker(0xda); word(6 + 2 * nc); out.write(nc)
    out.write(1); out.write(0x00)
    if (color) { out.write(2); out.write(0x00); out.write(3); out.write(0x00) }
    out.write(0); out.write(63); out.write(0) // Ss/Se/AhAl
    // entropy-coded scan
    val bw = new BitWriter(out)
    val mcuW = 8 * ss; val mcuH = 8 * ss
    val mcusX = (w + mcuW - 1) / mcuW
    val mcusY = (h + mcuH - 1) / mcuH
    var predY = 0; var predCb = 0; var predCr = 0
    val blk = new Array[Double](64)
    var rst = 0; var sinceRst = 0
    var my = 0
    while (my < mcusY) {
      var mx = 0
      while (mx < mcusX) {
        if (restartInterval > 0 && sinceRst == restartInterval) {
          bw.flush()
          marker(0xd0 + (rst & 7))
          rst += 1; sinceRst = 0
          predY = 0; predCb = 0; predCr = 0
        }
        var by = 0
        while (by < ss) {
          var bx = 0
          while (bx < ss) {
            var yy = 0
            while (yy < 8) {
              var xx = 0
              while (xx < 8) {
                // edge replication for partial blocks
                val px = math.min(w - 1, (mx * ss + bx) * 8 + xx)
                val py = math.min(h - 1, (my * ss + by) * 8 + yy)
                blk(yy * 8 + xx) = luma(py * w + px) - 128.0
                xx += 1
              }
              yy += 1
            }
            predY = encodeBlock(bw, fdctQuantBlock(blk), predY)
            bx += 1
          }
          by += 1
        }
        if (color) {
          // neutral chroma: level-shifted zeros ⇒ all-zero coefficients
          val zeros = new Array[Int](64)
          predCb = { encodeBlock(bw, zeros, predCb); 0 }
          predCr = { encodeBlock(bw, zeros, predCr); 0 }
        }
        sinceRst += 1
        mx += 1
      }
      my += 1
    }
    bw.flush()
    marker(0xd9) // EOI
    out.toByteArray
  }

  // ------------------------------------------------------ ZIP/DOCX writers
  /** Minimal correct ZIP writer (local headers + central directory +
    * EOCD, real CRC-32s, STORED or raw-DEFLATE entries).
    */
  def zip(entries: Seq[(String, Array[Byte])], deflate: Boolean = true): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    case class Central(name: Array[Byte], method: Int, crc: Long,
                       csize: Int, usize: Int, off: Int)
    val centrals = entries.map { case (nameStr, data) =>
      val name = nameStr.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val crc = { val c = new java.util.zip.CRC32(); c.update(data); c.getValue }
      val packed =
        if (!deflate) data
        else {
          val d = new java.util.zip.Deflater(java.util.zip.Deflater.DEFAULT_COMPRESSION, true)
          d.setInput(data); d.finish()
          val buf = new java.io.ByteArrayOutputStream()
          val tmp = new Array[Byte](8192)
          while (!d.finished()) buf.write(tmp, 0, d.deflate(tmp))
          d.end()
          buf.toByteArray
        }
      val method = if (deflate) 8 else 0
      val off = out.size()
      out.write(Array[Byte]('P', 'K', 3, 4))
      out.write(le16(20)); out.write(le16(0)); out.write(le16(method))
      out.write(le16(0)); out.write(le16(0)) // time/date
      out.write(le32(crc.toInt)); out.write(le32(packed.length)); out.write(le32(data.length))
      out.write(le16(name.length)); out.write(le16(0))
      out.write(name); out.write(packed)
      Central(name, method, crc, packed.length, data.length, off)
    }
    val cdOff = out.size()
    centrals.foreach { c =>
      out.write(Array[Byte]('P', 'K', 1, 2))
      out.write(le16(20)); out.write(le16(20)); out.write(le16(0)); out.write(le16(c.method))
      out.write(le16(0)); out.write(le16(0))
      out.write(le32(c.crc.toInt)); out.write(le32(c.csize)); out.write(le32(c.usize))
      out.write(le16(c.name.length)); out.write(le16(0)); out.write(le16(0))
      out.write(le16(0)); out.write(le16(0)); out.write(le32(0))
      out.write(le32(c.off)); out.write(c.name)
    }
    val cdSize = out.size() - cdOff
    out.write(Array[Byte]('P', 'K', 5, 6))
    out.write(le16(0)); out.write(le16(0))
    out.write(le16(centrals.size)); out.write(le16(centrals.size))
    out.write(le32(cdSize)); out.write(le32(cdOff)); out.write(le16(0))
    out.toByteArray
  }

  /** WordprocessingML document: each paragraph becomes `<w:p>` with the
    * text split across multiple `<w:r>/<w:t>` runs; tabs and line breaks
    * in the input map to `<w:tab/>`/`<w:br/>`; XML-special characters
    * are entity-escaped.
    */
  def docx(paragraphs: Seq[String]): Array[Byte] = {
    def esc(s: String): String = s.flatMap {
      case '&' => "&amp;"
      case '<' => "&lt;"
      case '>' => "&gt;"
      case c => c.toString
    }
    val body = paragraphs.map { para =>
      val runs = para.split("(?=[\\t\\n])|(?<=[\\t\\n])", -1).map {
        case "\t" => "<w:r><w:tab/></w:r>"
        case "\n" => "<w:r><w:br/></w:r>"
        case "" => ""
        case txt =>
          // split long runs so multi-run paragraphs are the norm
          val mid = txt.length / 2
          if (txt.length > 8)
            s"""<w:r><w:t xml:space="preserve">${esc(txt.substring(0, mid))}</w:t></w:r>""" +
              s"""<w:r><w:t xml:space="preserve">${esc(txt.substring(mid))}</w:t></w:r>"""
          else s"""<w:r><w:t xml:space="preserve">${esc(txt)}</w:t></w:r>"""
      }.mkString
      s"<w:p><w:pPr></w:pPr>$runs</w:p>"
    }.mkString
    val xml =
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
        """<w:document xmlns:w="http://schemas.openxmlformats.org/wordprocessingml/2006/main">""" +
        s"<w:body>$body</w:body></w:document>"
    val contentTypes =
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
        """<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">""" +
        """<Default Extension="xml" ContentType="application/xml"/></Types>"""
    zip(Seq(
      "[Content_Types].xml" -> contentTypes.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      "word/document.xml" -> xml.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
  }

  // ----------------------------------------------------------- FLAC writer
  /** FLAC writer over 16-bit samples: STREAMINFO + fixed-blocksize
    * frames. Mono streams cycle subframe types (constant where the block
    * allows, verbatim, fixed orders 1/2 with Rice residuals — one frame
    * per cycle using the escape/raw partition form); stereo encodes
    * mid-side with verbatim subframes (side at 17 bits). CRCs are
    * written as zeros (the decoder checks structure, not checksums).
    */
  def flac(samples: Array[Short], rate: Int, stereoRight: Array[Short] = null,
           blockSize: Int = 256, wastedBits: Int = 0): Array[Byte] = {
    require(wastedBits == 0 || stereoRight == null,
      "wasted bits apply to mono fixtures only (mid/side lose divisibility)")
    if (wastedBits > 0)
      require(samples.forall(s => (s & ((1 << wastedBits) - 1)) == 0),
        "wasted-bits samples must be divisible by 2^wasted")
    require(samples.nonEmpty && rate > 0 && blockSize >= 16 && blockSize <= 65535)
    val stereo = stereoRight != null
    if (stereo) require(stereoRight.length == samples.length)
    val out = new java.io.ByteArrayOutputStream()
    out.write("fLaC".getBytes)
    // STREAMINFO (last metadata block)
    val si = new MsbWriter
    si.put(blockSize, 16); si.put(blockSize, 16)
    si.put(0, 24); si.put(0, 24)
    si.put(rate, 20)
    si.put(if (stereo) 1 else 0, 3) // channels - 1
    si.put(15, 5) // bps - 1 = 16-bit
    si.putLong(samples.length.toLong, 36)
    (0 until 16).foreach(_ => si.put(0, 8)) // md5 unset
    val siBytes = si.result()
    out.write(0x80); out.write(0); out.write(0); out.write(siBytes.length)
    out.write(siBytes)

    var off = 0
    var frameIdx = 0
    while (off < samples.length) {
      val n = math.min(blockSize, samples.length - off)
      val w = new MsbWriter
      w.put(0x3ffe, 14); w.put(0, 1); w.put(0, 1)
      w.put(7, 4) // block size: 16-bit value follows
      w.put(0, 4) // sample rate: from STREAMINFO
      w.put(if (stereo) 10 else 0, 4) // mid-side or 1 channel
      w.put(4, 3) // 16-bit samples
      w.put(0, 1)
      require(frameIdx < 128, "fixture frame index fits one coded byte")
      w.put(frameIdx, 8)
      w.put(n - 1, 16)
      w.put(0, 8) // CRC-8 unchecked
      def riceResidual(res: Array[Int], startAt: Int, escaped: Boolean): Unit = {
        w.put(0, 2) // method 0: 4-bit params
        w.put(0, 4) // partition order 0
        if (escaped) {
          // raw width sized to the largest residual: fixed-2 over
          // arbitrary 16-bit samples spans 18 bits — a hardcoded width
          // would silently truncate-and-wrong-sign large residuals
          var width = 1
          var i = startAt
          while (i < res.length) {
            val v = res(i)
            while (v < -(1 << (width - 1)) || v >= (1 << (width - 1))) width += 1
            i += 1
          }
          w.put(15, 4) // escape
          w.put(width, 5)
          i = startAt
          while (i < res.length) { w.put(res(i) & ((1 << width) - 1), width); i += 1 }
        } else {
          // param: enough bits for the largest zigzagged value
          var maxU = 0
          var i = startAt
          while (i < res.length) {
            val u = (res(i) << 1) ^ (res(i) >> 31)
            if (u > maxU) maxU = u; i += 1
          }
          var k = 0
          while ((maxU >> k) > 7 && k < 14) k += 1 // cap unary quotients at 7
          w.put(k, 4)
          i = startAt
          while (i < res.length) {
            val u = (res(i) << 1) ^ (res(i) >> 31)
            val q = u >>> k
            var z = 0
            while (z < q) { w.put(0, 1); z += 1 }
            w.put(1, 1)
            if (k > 0) w.put(u & ((1 << k) - 1), k)
            i += 1
          }
        }
      }
      // kind: 0 constant, 1 verbatim, 2 = fixed order 1, 3 = fixed
      // order 2, 4 = LPC order 2 (quantized [2,-1] at shift 5 — exactly
      // the fixed-2 predictor, exercising the LPC decode path)
      def subframe(xs0: Array[Int], bps0: Int, kind: Int, escaped: Boolean): Unit = {
        w.put(0, 1) // padding
        val wasted = if (kind == 1) wastedBits else 0
        val xs = if (wasted == 0) xs0 else xs0.map(_ >> wasted)
        val bps = bps0 - wasted
        def wastedFlag(): Unit =
          if (wasted == 0) w.put(0, 1)
          else { // flag 1 + unary(wasted-1): zeros then terminating 1
            w.put(1, 1)
            (1 until wasted).foreach(_ => w.put(0, 1))
            w.put(1, 1)
          }
        kind match {
          case 0 => // constant
            w.put(0, 6); wastedFlag()
            w.put(xs(0) & ((1 << bps) - 1), bps)
          case 1 => // verbatim
            w.put(1, 6); wastedFlag()
            xs.foreach(v => w.put(v & ((1 << bps) - 1), bps))
          case 4 => // LPC order 2
            w.put(0x20 | 1, 6); wastedFlag()
            w.put(xs(0) & ((1 << bps) - 1), bps)
            w.put(xs(1) & ((1 << bps) - 1), bps)
            w.put(11, 4) // precision 12
            w.put(5, 5) // shift
            w.put(2 << 5, 12); w.put((-1 << 5) & 0xfff, 12) // [2,-1] quantized
            val res = new Array[Int](xs.length)
            var i = 2
            while (i < xs.length) {
              res(i) = xs(i) - (((2L << 5) * xs(i - 1) + (-1L << 5) * xs(i - 2)) >> 5).toInt
              i += 1
            }
            riceResidual(res, 2, escaped)
          case k => // fixed order k-1
            val o = k - 1
            w.put(0x08 | o, 6); wastedFlag()
            (0 until o).foreach(i => w.put(xs(i) & ((1 << bps) - 1), bps))
            val res = new Array[Int](xs.length)
            var i = o
            while (i < xs.length) {
              val pred = if (o == 1) xs(i - 1) else 2 * xs(i - 1) - xs(i - 2)
              res(i) = xs(i) - pred
              i += 1
            }
            riceResidual(res, o, escaped)
        }
      }
      if (!stereo) {
        val xs = Array.tabulate(n)(i => samples(off + i).toInt)
        val allSame = xs.forall(_ == xs(0))
        frameIdx % 5 match {
          // a flat frame is always CONSTANT (like a real encoder) — this
          // is what lets silent fixtures reach real-world >256:1 ratios
          case _ if allSame => subframe(xs, 16, 0, escaped = false)
          case 0 => subframe(xs, 16, 1, escaped = false)
          case 1 => subframe(xs, 16, if (n >= 2) 2 else 1, escaped = false)
          case 2 => subframe(xs, 16, if (n >= 3) 3 else 1, escaped = false)
          case 3 => subframe(xs, 16, if (n >= 3) 3 else 1, escaped = true)
          case _ => subframe(xs, 16, if (n >= 3) 4 else 1, escaped = false)
        }
      } else {
        val l = Array.tabulate(n)(i => samples(off + i).toInt)
        val rr = Array.tabulate(n)(i => stereoRight(off + i).toInt)
        val mid = Array.tabulate(n)(i => (l(i) + rr(i)) >> 1)
        val side = Array.tabulate(n)(i => l(i) - rr(i))
        subframe(mid, 16, 1, escaped = false)
        subframe(side, 17, 1, escaped = false)
      }
      w.alignZero()
      w.put(0, 16) // CRC-16 unchecked
      out.write(w.result())
      off += n
      frameIdx += 1
    }
    out.toByteArray
  }

  private final class MsbWriter {
    private val out = new java.io.ByteArrayOutputStream()
    private var acc = 0L
    private var n = 0
    def put(v: Int, k: Int): Unit = putLong(v.toLong & ((1L << k) - 1), k)
    def putLong(v: Long, k: Int): Unit = {
      acc = (acc << k) | (v & ((1L << k) - 1))
      n += k
      while (n >= 8) { out.write(((acc >>> (n - 8)) & 0xff).toInt); n -= 8 }
    }
    def alignZero(): Unit = if (n % 8 != 0) put(0, 8 - n % 8)
    def result(): Array[Byte] = { require(n == 0, "unaligned"); out.toByteArray }
  }

  // -------------------------------------------------- WebP-lossless writer
  /** VP8L (lossless WebP) writer over ARGB pixels. Emits a spec-valid
    * bitstream with selectable features so the decoder's paths are all
    * exercised: plain literals, LZ77 dist-1 runs, a colour cache,
    * SUBTRACT_GREEN, the PREDICTOR transform (cycling through all 14
    * modes block by block), or a colour-indexed palette with sub-byte
    * bundling. Prefix codes are complete by construction (the
    * 2^k-n/2n-2^k length split); code lengths ride the code-length code
    * with 17/18 zero runs.
    */
  def webpLossless(pixels: Array[Int], w: Int, h: Int,
                   useLz77: Boolean = false, cacheBits: Int = 0,
                   subtractGreen: Boolean = false, predictor: Boolean = false,
                   colorTf: Boolean = false, metaGroups: Boolean = false,
                   paletteSize: Int = 0): Array[Byte] = {
    require(pixels.length == w * h && w > 0 && h > 0 && w <= 16384 && h <= 16384)
    require(cacheBits >= 0 && cacheBits <= 11)
    val bw = new LsbWriter
    bw.put(w - 1, 14); bw.put(h - 1, 14)
    bw.put(0, 1) // alpha hint
    bw.put(0, 3) // version

    var coded = pixels
    var codedW = w
    // transforms, in read order (decoder inverts in reverse read order)
    if (subtractGreen) {
      bw.put(1, 1); bw.put(2, 2)
      coded = coded.map { a =>
        val g = (a >> 8) & 0xff
        val r = (((a >> 16) & 0xff) - g) & 0xff
        val b = ((a & 0xff) - g) & 0xff
        (a & 0xff00ff00) | (r << 16) | b
      }
    }
    if (colorTf) {
      // cross-colour transform with per-block elements; forward direction
      // subtracts the deltas the decoder's inverse will add back (r2b is
      // applied against the RESTORED red, i.e. the original value)
      bw.put(1, 1); bw.put(1, 2)
      val sb = 2
      bw.put(sb - 2, 3)
      val gw = (codedW + (1 << sb) - 1) >> sb
      val gh = (h + (1 << sb) - 1) >> sb
      val elems = Array.tabulate(gw * gh)(i =>
        0xff000000 | (((i * 29) % 256) << 16) | (((i * 17) % 256) << 8) | ((i * 11) % 256))
      writeImageStream(bw, elems, gw, gh, isMain = false, useLz77 = false, cacheBits = 0)
      def delta(t: Int, c: Int): Int = (t.toByte * c.toByte) >> 5
      val res = new Array[Int](coded.length)
      var i = 0
      var y = 0
      while (y < h) {
        var x = 0
        while (x < codedW) {
          val e = elems((y >> sb) * gw + (x >> sb))
          val g2r = e & 0xff; val g2b = (e >> 8) & 0xff; val r2b = (e >> 16) & 0xff
          val a = coded(i)
          val g = (a >> 8) & 0xff
          val r0 = (a >> 16) & 0xff
          val b0 = a & 0xff
          val r = (r0 - delta(g2r, g)) & 0xff
          val b = (b0 - delta(g2b, g) - delta(r2b, r0)) & 0xff
          res(i) = (a & 0xff00ff00) | (r << 16) | b
          x += 1; i += 1
        }
        y += 1
      }
      coded = res
    }
    if (predictor) {
      bw.put(1, 1); bw.put(0, 2)
      val sb = 2 // 4x4 blocks: small images still cycle many modes
      bw.put(sb - 2, 3)
      val gw = (codedW + (1 << sb) - 1) >> sb
      val gh = (h + (1 << sb) - 1) >> sb
      val modes = Array.tabulate(gw * gh)(i => 0xff000000 | ((i % 14) << 8))
      writeImageStream(bw, modes, gw, gh, isMain = false, useLz77 = false, cacheBits = 0)
      // residuals against the decoder's exact prediction rules
      val res = new Array[Int](coded.length)
      var i = 0
      var y = 0
      while (y < h) {
        var x = 0
        while (x < codedW) {
          val l = if (x > 0) coded(i - 1) else 0
          val t = if (y > 0) coded(i - codedW) else 0
          val tl = if (x > 0 && y > 0) coded(i - codedW - 1) else 0
          val tr = if (y > 0) coded(i - codedW + 1) else 0
          val mode =
            if (x == 0 && y == 0) -1
            else if (y == 0) 101
            else if (x == 0) 102
            else ((modes((y >> sb) * gw + (x >> sb)) >> 8) & 0xff)
          val pred = WebPPred.predict(mode, l, t, tl, tr)
          res(i) = WebPPred.subPix(coded(i), pred)
          x += 1; i += 1
        }
        y += 1
      }
      coded = res
    }
    if (paletteSize > 0) {
      // pixels must already be indices 0..paletteSize-1 in the green
      // channel; a deterministic palette maps idx -> colour
      bw.put(1, 1); bw.put(3, 2)
      bw.put(paletteSize - 1, 8)
      val pal = Array.tabulate(paletteSize)(i =>
        0xff000000 | ((i * 37 % 256) << 16) | ((i * 73 % 256) << 8) | (i * 151 % 256))
      // delta-code the palette per channel
      val deltas = Array.tabulate(paletteSize)(i =>
        if (i == 0) pal(0) else WebPPred.subPix(pal(i), pal(i - 1)))
      writeImageStream(bw, deltas, paletteSize, 1, isMain = false, useLz77 = false, cacheBits = 0)
      val widthBits =
        if (paletteSize <= 2) 3 else if (paletteSize <= 4) 2
        else if (paletteSize <= 16) 1 else 0
      if (widthBits > 0) {
        val perPixel = 1 << widthBits
        val ibits = 8 >> widthBits
        val packedW = (codedW + perPixel - 1) / perPixel
        val packed = new Array[Int](packedW * h)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < codedW) {
            val idx = (coded(y * codedW + x) >> 8) & 0xff
            val pi = y * packedW + x / perPixel
            packed(pi) = 0xff000000 |
              ((((packed(pi) >> 8) & 0xff) | (idx << (ibits * (x % perPixel)))) << 8)
            x += 1
          }
          y += 1
        }
        coded = packed; codedW = packedW
      }
    }
    bw.put(0, 1) // no more transforms
    writeImageStream(bw, coded, codedW, h, isMain = true, useLz77, cacheBits,
      metaGroups = metaGroups)
    val payload = 0x2f.toByte +: bw.result()
    val vp8l = "VP8L".getBytes ++ le32(payload.length) ++ payload ++
      (if ((payload.length & 1) == 1) Array[Byte](0) else Array.empty[Byte])
    val body = "WEBP".getBytes ++ vp8l
    "RIFF".getBytes ++ le32(body.length) ++ body
  }

  private final class LsbWriter {
    private val out = new java.io.ByteArrayOutputStream()
    private var acc = 0L
    private var n = 0
    def put(v: Int, k: Int): Unit = {
      acc |= (v.toLong & ((1L << k) - 1)) << n
      n += k
      while (n >= 8) { out.write((acc & 0xff).toInt); acc >>>= 8; n -= 8 }
    }
    def result(): Array[Byte] = {
      if (n > 0) { out.write((acc & 0xff).toInt); acc = 0; n = 0 }
      out.toByteArray
    }
  }

  /** MSB-first canonical codes from lengths, (code, len) per symbol —
    * the same (length, symbol) ordering the decoder reconstructs.
    */
  private def canonicalMsb(lengths: Array[Int]): Array[(Int, Int)] = {
    val out = new Array[(Int, Int)](lengths.length)
    val maxLen = if (lengths.isEmpty) 0 else lengths.max
    var code = 0
    var l = 1
    while (l <= maxLen) {
      var s = 0
      while (s < lengths.length) {
        if (lengths(s) == l) { out(s) = (code, l); code += 1 }
        s += 1
      }
      code <<= 1
      l += 1
    }
    out
  }

  /** Complete-code lengths for the used symbols: with n used symbols and
    * k = ceil(log2 n), the first 2^k - n get length k-1 and the rest k
    * (Kraft sum exactly 1). n == 1 yields the single-symbol code.
    */
  private def completeLengths(alphabet: Int, used: Seq[Int]): Array[Int] = {
    val lengths = new Array[Int](alphabet)
    val n = used.size
    require(n >= 1)
    if (n == 1) { lengths(used.head) = 1; return lengths }
    var k = 0
    while ((1 << k) < n) k += 1
    val shorter = (1 << k) - n
    used.zipWithIndex.foreach { case (s, i) =>
      lengths(s) = if (i < shorter) k - 1 else k
    }
    lengths
  }

  private object WebPPred {
    def avg2(a: Int, b: Int): Int = (a + b) / 2
    def avgPix(a: Int, b: Int): Int =
      (avg2(a >>> 24, b >>> 24) << 24) | (avg2((a >> 16) & 0xff, (b >> 16) & 0xff) << 16) |
        (avg2((a >> 8) & 0xff, (b >> 8) & 0xff) << 8) | avg2(a & 0xff, b & 0xff)
    def clamp255(v: Int): Int = if (v < 0) 0 else if (v > 255) 255 else v
    def casFull(l: Int, t: Int, tl: Int): Int = {
      def ch(sh: Int) = clamp255(((l >>> sh) & 0xff) + ((t >>> sh) & 0xff) - ((tl >>> sh) & 0xff))
      (ch(24) << 24) | (ch(16) << 16) | (ch(8) << 8) | ch(0)
    }
    def casHalf(l: Int, t: Int, tl: Int): Int = {
      def ch(sh: Int) = {
        val ave = avg2((l >>> sh) & 0xff, (t >>> sh) & 0xff)
        clamp255(ave + (ave - ((tl >>> sh) & 0xff)) / 2)
      }
      (ch(24) << 24) | (ch(16) << 16) | (ch(8) << 8) | ch(0)
    }
    def sel(l: Int, t: Int, tl: Int): Int = {
      // spec rule: predict T when Σ|L−TL| <= Σ|T−TL| (see WebP.select)
      def d(a: Int, b: Int, sh: Int) = math.abs(((a >>> sh) & 0xff) - ((b >>> sh) & 0xff))
      val pL = d(l, tl, 24) + d(l, tl, 16) + d(l, tl, 8) + d(l, tl, 0)
      val pT = d(t, tl, 24) + d(t, tl, 16) + d(t, tl, 8) + d(t, tl, 0)
      if (pL <= pT) t else l
    }
    def predict(mode: Int, l: Int, t: Int, tl: Int, tr: Int): Int = mode match {
      case -1 | 0 => 0xff000000
      case 101 | 1 => l
      case 102 | 2 => t
      case 3 => tr
      case 4 => tl
      case 5 => avgPix(avgPix(l, tr), t)
      case 6 => avgPix(l, tl)
      case 7 => avgPix(l, t)
      case 8 => avgPix(tl, t)
      case 9 => avgPix(t, tr)
      case 10 => avgPix(avgPix(l, tl), avgPix(t, tr))
      case 11 => sel(l, t, tl)
      case 12 => casFull(l, t, tl)
      case 13 => casHalf(l, t, tl)
      case m => throw new IllegalArgumentException(s"mode $m")
    }
    def subPix(a: Int, b: Int): Int = {
      val aa = (((a >>> 24) - (b >>> 24)) & 0xff) << 24
      val rr = ((((a >> 16) & 0xff) - ((b >> 16) & 0xff)) & 0xff) << 16
      val gg = ((((a >> 8) & 0xff) - ((b >> 8) & 0xff)) & 0xff) << 8
      val bb = ((a & 0xff) - (b & 0xff)) & 0xff
      aa | rr | gg | bb
    }
  }

  /** VP8L length/distance prefix encoding: value → (code, extraBits,
    * extraVal), the inverse of the decoder's prefixValue.
    */
  private def lz77Prefix(v: Int): (Int, Int, Int) = {
    require(v >= 1)
    if (v <= 4) (v - 1, 0, 0)
    else {
      var code = 4
      while (true) {
        val extra = (code - 2) >> 1
        val offset = (2 + (code & 1)) << extra
        if (v >= offset + 1 && v <= offset + (1 << extra)) return (code, extra, v - offset - 1)
        code += 1
        require(code < 40, s"value $v out of prefix range")
      }
      throw new IllegalStateException
    }
  }

  private val ClOrderW =
    Array(17, 18, 0, 1, 2, 3, 4, 5, 16, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15)

  /** Emit one prefix code's lengths: simple form when possible, else the
    * normal code-length-coded form (literal lengths, 17/18 zero runs).
    */
  private def writeCode(bw: LsbWriter, lengths: Array[Int]): Array[(Int, Int)] = {
    val used = lengths.indices.filter(lengths(_) > 0)
    if (used.size <= 2 && used.forall(_ <= 255) &&
        used.forall(s => lengths(s) == 1) && used.nonEmpty) {
      // simple code
      bw.put(1, 1)
      bw.put(used.size - 1, 1)
      if (used.head <= 1 && used.size == 1) { bw.put(0, 1); bw.put(used.head, 1) }
      else { bw.put(1, 1); bw.put(used.head, 8) }
      if (used.size == 2) bw.put(used(1), 8)
      return canonicalMsb(lengths)
    }
    bw.put(0, 1) // normal form
    // CL symbols we will emit: each distinct nonzero length + zero runs
    val clUsed0 = (used.map(lengths(_)) ++ {
      // zero runs: 17/18 for runs >= 3, literal 0 for shorter gaps
      val needZero = lengths.contains(0)
      if (needZero) Seq(0, 17, 18) else Seq.empty
    }).distinct.sorted
    // pad to a power of two with unused CL symbols for a complete code
    var padded = clUsed0
    var k = 0
    while ((1 << k) < padded.size) k += 1
    val pool = (0 to 18).filterNot(padded.contains)
    padded = (padded ++ pool.take((1 << k) - padded.size)).sorted
    val clLen = if (padded.size == 1) 1 else k
    val clLengths = new Array[Int](19)
    padded.foreach(clLengths(_) = clLen)
    val clCodes = canonicalMsb(clLengths)
    val numCl = math.max(4,
      ClOrderW.lastIndexWhere(s => clLengths(s) > 0) + 1)
    bw.put(numCl - 4, 4)
    (0 until numCl).foreach(i => bw.put(clLengths(ClOrderW(i)), 3))
    bw.put(0, 1) // no max-symbol limit
    // prefix-code bits go MSB-first into the LSB-first stream — put(c, l)
    // would bit-reverse every non-palindromic code; a single-symbol CL
    // code (full alphabet, one distinct length) transmits zero bits
    val clSingle = padded.size == 1
    def putCl(sym: Int): Unit = if (!clSingle) {
      val (c, l) = clCodes(sym)
      var b = l - 1
      while (b >= 0) { bw.put((c >> b) & 1, 1); b -= 1 }
    }
    // emit lengths with zero-run compression
    var i = 0
    while (i < lengths.length) {
      if (lengths(i) != 0) {
        putCl(lengths(i))
        i += 1
      } else {
        var run = 0
        while (i + run < lengths.length && lengths(i + run) == 0) run += 1
        var left = run
        while (left > 0) {
          if (left >= 11) {
            val take = math.min(left, 138)
            putCl(18); bw.put(take - 11, 7)
            left -= take
          } else if (left >= 3) {
            val take = math.min(left, 10)
            putCl(17); bw.put(take - 3, 3)
            left -= take
          } else {
            putCl(0)
            left -= 1
          }
        }
        i += run
      }
    }
    canonicalMsb(lengths)
  }

  /** One entropy-coded image stream (tokens → five prefix codes → data).
    * With `metaGroups`, a 4×4-block checkerboard huffman image selects
    * between two groups carrying IDENTICAL code tables — the group
    * indexing machinery is exercised without per-group histograms.
    */
  private def writeImageStream(bw: LsbWriter, px: Array[Int], w: Int, h: Int,
                               isMain: Boolean, useLz77: Boolean,
                               cacheBits: Int, metaGroups: Boolean = false): Unit = {
    val cacheSize = if (cacheBits > 0) 1 << cacheBits else 0
    if (cacheBits > 0) { bw.put(1, 1); bw.put(cacheBits, 4) } else bw.put(0, 1)
    var nGroups = 1
    if (isMain) {
      if (metaGroups) {
        bw.put(1, 1)
        val metaBits = 2
        bw.put(metaBits - 2, 3)
        val mw = (w + 3) >> 2; val mh = (h + 3) >> 2
        val meta = Array.tabulate(mw * mh)(i =>
          0xff000000 | ((((i % mw) + (i / mw)) % 2) << 8)) // checkerboard 0/1
        writeImageStream(bw, meta, mw, mh, isMain = false, useLz77 = false, cacheBits = 0)
        nGroups = 2
      } else bw.put(0, 1)
    }
    // ---- tokenize ----
    sealed trait Tok
    case class Lit(argb: Int) extends Tok
    case class Run(len: Int) extends Tok // dist 1
    case class Hit(idx: Int) extends Tok
    val cache = new Array[Int](math.max(cacheSize, 1))
    val cacheSet = new Array[Boolean](math.max(cacheSize, 1))
    def cacheIdx(a: Int): Int = (0x1e35a7bd * a) >>> (32 - cacheBits)
    val toks = scala.collection.mutable.ArrayBuffer.empty[Tok]
    var i = 0
    while (i < px.length) {
      var run = 0
      if (useLz77 && i > 0) {
        while (i + run < px.length && px(i + run) == px(i - 1) && run < 4000) run += 1
      }
      if (run >= 3) {
        toks += Run(run)
        var k = 0
        while (k < run) {
          if (cacheBits > 0) { val ci = cacheIdx(px(i + k)); cache(ci) = px(i + k); cacheSet(ci) = true }
          k += 1
        }
        i += run
      } else {
        val a = px(i)
        if (cacheBits > 0 && cacheSet(cacheIdx(a)) && cache(cacheIdx(a)) == a)
          toks += Hit(cacheIdx(a))
        else toks += Lit(a)
        if (cacheBits > 0) { val ci = cacheIdx(a); cache(ci) = a; cacheSet(ci) = true }
        i += 1
      }
    }
    // ---- histograms ----
    val greenUsed = scala.collection.mutable.SortedSet.empty[Int]
    val redUsed = scala.collection.mutable.SortedSet.empty[Int]
    val blueUsed = scala.collection.mutable.SortedSet.empty[Int]
    val alphaUsed = scala.collection.mutable.SortedSet.empty[Int]
    val distUsed = scala.collection.mutable.SortedSet.empty[Int]
    toks.foreach {
      case Lit(a) =>
        greenUsed += ((a >> 8) & 0xff)
        redUsed += ((a >> 16) & 0xff)
        blueUsed += (a & 0xff)
        alphaUsed += (a >>> 24)
      case Run(len) =>
        greenUsed += (256 + lz77Prefix(len)._1)
        distUsed += lz77Prefix(2)._1 // plane code 2 == distance 1
      case Hit(idx) => greenUsed += (280 + idx)
    }
    // codes must be decodable even if a channel never occurs (all-run
    // streams): seed each with symbol 0
    if (redUsed.isEmpty) redUsed += 0
    if (blueUsed.isEmpty) blueUsed += 0
    if (alphaUsed.isEmpty) alphaUsed += 0
    if (distUsed.isEmpty) distUsed += 0
    if (greenUsed.isEmpty) greenUsed += 0
    // single-symbol codes transmit ZERO bits per symbol (the decoder
    // short-circuits them) — track singleness alongside the code table.
    // With meta groups, every group carries the same tables: write the
    // five codes once per group, keep one table for emission
    def coded(alphabet: Int, used: Seq[Int]): (Array[(Int, Int)], Boolean) =
      (writeCode(bw, completeLengths(alphabet, used)), used.size == 1)
    var greenC: (Array[(Int, Int)], Boolean) = null
    var redC: (Array[(Int, Int)], Boolean) = null
    var blueC: (Array[(Int, Int)], Boolean) = null
    var alphaC: (Array[(Int, Int)], Boolean) = null
    var distC: (Array[(Int, Int)], Boolean) = null
    (0 until nGroups).foreach { _ =>
      greenC = coded(256 + 24 + cacheSize, greenUsed.toSeq)
      redC = coded(256, redUsed.toSeq)
      blueC = coded(256, blueUsed.toSeq)
      alphaC = coded(256, alphaUsed.toSeq)
      distC = coded(40, distUsed.toSeq)
    }
    def emit(cw: (Array[(Int, Int)], Boolean), sym: Int): Unit = if (!cw._2) {
      val (c, l) = cw._1(sym)
      var b = l - 1
      while (b >= 0) { bw.put((c >> b) & 1, 1); b -= 1 }
    }
    // ---- data ----
    toks.foreach {
      case Lit(a) =>
        emit(greenC, (a >> 8) & 0xff)
        emit(redC, (a >> 16) & 0xff)
        emit(blueC, a & 0xff)
        emit(alphaC, a >>> 24)
      case Run(len) =>
        val (lc, le, lv) = lz77Prefix(len)
        emit(greenC, 256 + lc); if (le > 0) bw.put(lv, le)
        val (dc, de, dv) = lz77Prefix(2)
        emit(distC, dc); if (de > 0) bw.put(dv, de)
      case Hit(idx) => emit(greenC, 280 + idx)
    }
  }

  /** Bilevel G4 fax TIFF (Compression 4, PhotometricInterpretation 0,
    * BitsPerSample 1): `px` is 0 = white / 1 = black; each
    * `rowsPerStrip` band is its own independent G4 stream (the
    * multi-strip layout real fax archives use). Little-endian.
    */
  def tiffG4(px: Array[Byte], w: Int, h: Int, rowsPerStrip: Int = 0): Array[Byte] = {
    require(px.length == w * h)
    val rps = if (rowsPerStrip <= 0) h else math.min(rowsPerStrip, h)
    val strips = (0 until h by rps).map { y0 =>
      val rows = math.min(rps, h - y0)
      graft.kernel.Ccitt.encodeG4(
        java.util.Arrays.copyOfRange(px, y0 * w, (y0 + rows) * w), w, rows)
    }
    val out = new java.io.ByteArrayOutputStream()
    def w16(v: Int): Unit = { out.write(v & 0xff); out.write((v >> 8) & 0xff) }
    def w32(v: Int): Unit = { w16(v & 0xffff); w16((v >>> 16) & 0xffff) }
    val n = strips.length
    val stripOff0 = 8
    val offsets = strips.scanLeft(stripOff0)(_ + _.length).init
    var cursor = stripOff0 + strips.map(_.length).sum
    if ((cursor & 1) == 1) cursor += 1
    val ifdOff = cursor
    val nEntries = 9
    cursor += 2 + nEntries * 12 + 4
    val offArrOff = cursor; if (n > 1) cursor += 4 * n
    val cntArrOff = cursor
    out.write('I'); out.write('I'); out.write(42); out.write(0)
    w32(ifdOff)
    strips.foreach(s => out.write(s))
    while (out.size() < ifdOff) out.write(0)
    def entry(tag: Int, typ: Int, count: Int, value: Int): Unit = {
      w16(tag); w16(typ); w32(count)
      if (typ == 3 && count == 1) { w16(value); w16(0) } else w32(value)
    }
    w16(nEntries)
    entry(256, 4, 1, w)
    entry(257, 4, 1, h)
    entry(258, 3, 1, 1)
    entry(259, 3, 1, 4)
    entry(262, 3, 1, 0)
    entry(273, 4, n, if (n == 1) offsets(0) else offArrOff)
    entry(277, 3, 1, 1)
    entry(278, 4, 1, rps)
    entry(279, 4, n, if (n == 1) strips(0).length else cntArrOff)
    w32(0)
    if (n > 1) {
      offsets.foreach(w32)
      strips.foreach(s => w32(s.length))
    }
    out.toByteArray
  }

  // ---------------------------------------------------------- TIFF writer
  /** Baseline TIFF writer: 8-bit gray (either photometric polarity) or
    * RGB, one strip, Compression 1 or PackBits (32773), either byte
    * order, plus `extraPages` chained 1×1 IFDs (multi-page scan shape).
    */
  def tiff(img: Array[Byte], w: Int, h: Int, channels: Int,
           packBits: Boolean = false, bigEndian: Boolean = false,
           whiteIsZero: Boolean = false, extraPages: Int = 0): Array[Byte] = {
    require(img.length == w * h * channels && (channels == 1 || channels == 3))
    require(!whiteIsZero || channels == 1)
    val out = new java.io.ByteArrayOutputStream()
    def w16(v: Int): Unit =
      if (bigEndian) { out.write((v >> 8) & 0xff); out.write(v & 0xff) }
      else { out.write(v & 0xff); out.write((v >> 8) & 0xff) }
    def w32(v: Int): Unit =
      if (bigEndian) { out.write((v >> 24) & 0xff); out.write((v >> 16) & 0xff)
        out.write((v >> 8) & 0xff); out.write(v & 0xff) }
      else { out.write(v & 0xff); out.write((v >> 8) & 0xff)
        out.write((v >> 16) & 0xff); out.write((v >> 24) & 0xff) }

    def packBitsCompress(data: Array[Byte]): Array[Byte] = {
      val o = new java.io.ByteArrayOutputStream()
      var i = 0
      while (i < data.length) {
        var run = 1
        while (i + run < data.length && data(i + run) == data(i) && run < 128) run += 1
        if (run >= 2) { o.write(1 - run); o.write(data(i)); i += run }
        else {
          var lit = 1
          while (i + lit < data.length && lit < 128 &&
            !(i + lit + 1 < data.length && data(i + lit + 1) == data(i + lit))) lit += 1
          o.write(lit - 1); o.write(data, i, lit); i += lit
        }
      }
      o.toByteArray
    }
    val strip = if (packBits) packBitsCompress(img) else img
    val photometric = if (channels == 3) 2 else if (whiteIsZero) 0 else 1

    // layout: header(8) | strip | [bits array] | IFD0 | per extra page:
    // 1-byte strip + IFD
    val stripOff = 8
    var cursor = stripOff + strip.length
    if ((cursor & 1) == 1) cursor += 1
    val bitsOff = cursor
    if (channels == 3) cursor += 6
    val ifd0Off = cursor
    val nEntries = 9
    val ifdSize = 2 + nEntries * 12 + 4
    // header
    if (bigEndian) { out.write('M'); out.write('M'); out.write(0); out.write(42) }
    else { out.write('I'); out.write('I'); out.write(42); out.write(0) }
    w32(ifd0Off)
    out.write(strip)
    while (out.size() < bitsOff) out.write(0)
    if (channels == 3) { w16(8); w16(8); w16(8) }
    def entry(tag: Int, typ: Int, count: Int, value: Int): Unit = {
      w16(tag); w16(typ); w32(count)
      // inline values sit in the HIGH-order position of the 4-byte field
      // for SHORTs: write as 16-bit then pad (endianness-correct)
      if (typ == 3 && count == 1) { w16(value); w16(0) } else w32(value)
    }
    def writeIfd(iw: Int, ih: Int, ch: Int, sOff: Int, sCnt: Int,
                 compression: Int, photo: Int, bOff: Int, next: Int): Unit = {
      w16(nEntries)
      entry(256, 4, 1, iw)
      entry(257, 4, 1, ih)
      if (ch == 3) entry(258, 3, 3, bOff) else entry(258, 3, 1, 8)
      entry(259, 3, 1, compression)
      entry(262, 3, 1, photo)
      entry(273, 4, 1, sOff)
      entry(277, 3, 1, ch)
      entry(278, 4, 1, ih)
      entry(279, 4, 1, sCnt)
      w32(next)
    }
    var nextOff = if (extraPages > 0) ifd0Off + ifdSize else 0
    writeIfd(w, h, channels, stripOff, strip.length,
      if (packBits) 32773 else 1, photometric, bitsOff, nextOff)
    // extra pages: 1×1 gray, data byte embedded right after each IFD
    (0 until extraPages).foreach { k =>
      val ifdOff = out.size()
      val dataOff = ifdOff + ifdSize
      val next = if (k == extraPages - 1) 0 else dataOff + 2
      writeIfd(1, 1, 1, dataOff, 1, 1, 1, 0, next)
      out.write(0x55); out.write(0) // sample + pad
    }
    out.toByteArray
  }

  // ------------------------------------------------------ AVI/MJPEG writer
  /** Minimal RIFF AVI containing a Motion-JPEG video stream: LIST hdrl
    * (avih with µs/frame, frame count, dims) + LIST movi with one `00dc`
    * chunk per baseline-JPEG frame (from [[jpeg]]).
    */
  def aviMjpeg(jpegFrames: Seq[Array[Byte]], w: Int, h: Int, fps: Int): Array[Byte] = {
    require(jpegFrames.nonEmpty && fps > 0)
    def chunk(id: String, data: Array[Byte]): Array[Byte] =
      id.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1) ++ le32(data.length) ++
        data ++ (if ((data.length & 1) == 1) Array[Byte](0) else Array.empty[Byte])
    def list(typ: String, children: Array[Byte]): Array[Byte] =
      chunk("LIST", typ.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1) ++ children)
    val avih = new java.io.ByteArrayOutputStream()
    avih.write(le32(1000000 / fps)) // dwMicroSecPerFrame
    avih.write(le32(0)); avih.write(le32(0)); avih.write(le32(0))
    avih.write(le32(jpegFrames.length)) // dwTotalFrames
    avih.write(le32(0)); avih.write(le32(1)); avih.write(le32(0)) // 1 stream
    avih.write(le32(w)); avih.write(le32(h))
    (0 until 4).foreach(_ => avih.write(le32(0)))
    val hdrl = list("hdrl", chunk("avih", avih.toByteArray))
    val movi = list("movi", jpegFrames.map(f => chunk("00dc", f)).reduce(_ ++ _))
    val body = "AVI ".getBytes(java.nio.charset.StandardCharsets.ISO_8859_1) ++ hdrl ++ movi
    "RIFF".getBytes(java.nio.charset.StandardCharsets.ISO_8859_1) ++
      le32(body.length) ++ body
  }

  // ------------------------------------------------------------ MP4 writer
  /** Minimal valid ISO-BMFF (ISO/IEC 14496-12) MP4: ftyp + moov with a
    * video trak (VisualSampleEntry `codec`, real tkhd/mdhd/hdlr/stbl
    * chain, per-frame stsz table) and an optional audio trak (`mp4a`
    * AudioSampleEntry with the 16.16 sample rate), then an mdat of
    * deterministic bytes. Codec-level frame payloads are fake (container
    * metadata is the testable truth; frame decode is out of scope), but
    * every box layout is spec-correct — `Media.probeMp4` round-trips all
    * declared fields and real demuxers accept the structure.
    */
  // ---------------------------------------------- H.264 SPS/PPS writer

  /** MSB-first bit writer with the exp-Golomb encodes of H.264 headers;
    * `bytes` appends the §7.3.2.11 rbsp_trailing_bits (stop bit + pad).
    * The write-side twin of [[graft.kernel.Avc.BitReader]] — MediaSpec
    * round-trips them against each other.
    */
  private final class BitW {
    private val buf = scala.collection.mutable.ArrayBuffer.empty[Byte]
    private var cur = 0
    private var nBits = 0
    def u(v: Long, n: Int): BitW = {
      var i = n - 1
      while (i >= 0) {
        cur = (cur << 1) | ((v >> i) & 1L).toInt
        nBits += 1
        if (nBits == 8) { buf += cur.toByte; cur = 0; nBits = 0 }
        i -= 1
      }
      this
    }
    def ue(v: Int): BitW = {
      val k = v + 1
      val len = 63 - java.lang.Long.numberOfLeadingZeros(k.toLong)
      u(0L, len.toInt)
      u(k.toLong, len.toInt + 1)
    }
    def se(v: Int): BitW = ue(if (v > 0) 2 * v - 1 else -2 * v)
    def bytes: Array[Byte] = {
      val b = new BitW
      b.buf ++= buf; b.cur = cur; b.nBits = nBits
      b.u(1L, 1)
      if (b.nBits != 0) b.u(0L, 8 - b.nBits)
      b.buf.toArray
    }
  }

  /** §7.4.1 emulation prevention: a 0x00 0x00 run followed by a byte
    * <= 3 gets a 0x03 inserted (the exact inverse of `Avc.rbsp`).
    */
  private def emulationPrevent(rb: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(rb.length + 8)
    var zeros = 0
    rb.foreach { b0 =>
      val b = b0 & 0xff
      if (zeros >= 2 && b <= 3) { out.write(3); zeros = 0 }
      out.write(b)
      zeros = if (b == 0) zeros + 1 else 0
    }
    out.toByteArray
  }

  /** A REAL H.264 SPS NAL for the fixture's avc1 tracks — every field
    * written per §7.3.2.1.1 so [[graft.kernel.Avc.parseSps]] exercises
    * genuine bitstream layout (exp-Golomb, cropping arithmetic, VUI
    * timing, High-profile scaling lists), not hand-picked bytes.
    * Non-multiple-of-16 dimensions are expressed through frame cropping
    * exactly as an encoder would (4:2:0 crop units — even residues
    * required, which all fixture dims satisfy).
    */
  def avcSps(w: Int, h: Int, fps: Int, profileIdc: Int = 66,
             levelIdc: Int = 30): Array[Byte] = {
    require(w > 0 && h > 0 && fps > 0)
    val mbW = (w + 15) / 16
    val mbH = (h + 15) / 16
    val padW = mbW * 16 - w
    val padH = mbH * 16 - h
    require(padW % 2 == 0 && padH % 2 == 0,
      s"odd crop residue ($padW,$padH) unrepresentable in 4:2:0 crop units")
    val b = new BitW
    b.u(profileIdc.toLong, 8).u(0L, 8).u(levelIdc.toLong, 8).ue(0)
    if (profileIdc == 100) {
      b.ue(1) // chroma_format_idc 4:2:0
      b.ue(0).ue(0).u(0L, 1) // bit depths, transform bypass
      b.u(1L, 1) // seq_scaling_matrix_present: exercise the list skipper
      // list 0 present with genuine deltas; lists 1-7 absent
      b.u(1L, 1)
      b.se(8).se(-8)
      (0 until 14).foreach(_ => b.se(0))
      (1 until 8).foreach(_ => b.u(0L, 1))
    }
    b.ue(0) // log2_max_frame_num_minus4
    b.ue(0) // pic_order_cnt_type 0
    b.ue(0) // log2_max_pic_order_cnt_lsb_minus4
    b.ue(1) // max_num_ref_frames
    b.u(0L, 1) // gaps_in_frame_num_value_allowed
    b.ue(mbW - 1).ue(mbH - 1)
    b.u(1L, 1) // frame_mbs_only
    b.u(1L, 1) // direct_8x8_inference
    if (padW > 0 || padH > 0)
      b.u(1L, 1).ue(0).ue(padW / 2).ue(0).ue(padH / 2)
    else b.u(0L, 1)
    b.u(1L, 1) // vui_parameters_present
    b.u(0L, 1).u(0L, 1).u(0L, 1).u(0L, 1) // aspect/overscan/signal/chroma-loc
    b.u(1L, 1) // timing_info_present
    b.u(1L, 32) // num_units_in_tick
    b.u(2L * fps, 32) // time_scale (a frame = two field ticks)
    b.u(1L, 1) // fixed_frame_rate
    b.u(0L, 1).u(0L, 1).u(0L, 1).u(0L, 1) // hrd x2, pic_struct, restriction
    Array(0x67.toByte) ++ emulationPrevent(b.bytes)
  }

  /** Minimal-but-complete PPS NAL (§7.3.2.2) — unparsed by the probe
    * but structurally true, so the avcC is a faithful record.
    */
  def avcPps(): Array[Byte] = {
    val b = new BitW
    b.ue(0).ue(0) // pps_id, sps_id
    b.u(0L, 1).u(0L, 1) // entropy CAVLC, no bottom-field order
    b.ue(0).ue(0).ue(0) // one slice group, ref counts 1
    b.u(0L, 1).u(0L, 2) // no weighted pred
    b.se(0).se(0).se(0) // init QP/QS/chroma offset
    b.u(1L, 1).u(0L, 1).u(0L, 1) // deblocking control, flags
    Array(0x68.toByte) ++ emulationPrevent(b.bytes)
  }

  /** `avcC` box (AVCDecoderConfigurationRecord, 14496-15 §5.2.4.1.1). */
  private def avcCBox(w: Int, h: Int, fps: Int, profileIdc: Int,
                      levelIdc: Int): Array[Byte] = {
    def be16(v: Int): Array[Byte] = Array(((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
    val sps = avcSps(w, h, fps, profileIdc, levelIdc)
    val pps = avcPps()
    val body = Array(1.toByte, profileIdc.toByte, 0.toByte, levelIdc.toByte,
      0xff.toByte, 0xe1.toByte) ++
      be16(sps.length) ++ sps ++ Array(1.toByte) ++ be16(pps.length) ++ pps
    be32(8 + body.length) ++ "avcC".getBytes(
      java.nio.charset.StandardCharsets.ISO_8859_1) ++ body
  }

  def mp4(w: Int, h: Int, fps: Int, nFrames0: Int, codec: String = "avc1",
          audioRate: Int = 0, audioSamples: Int = 0,
          data: Array[Byte] = null,
          samples: Seq[Array[Byte]] = null): Array[Byte] = {
    // `samples` = real per-frame codec payloads (e.g. JPEG frames for an
    // MJPEG track): stsz carries their true sizes and stco points at the
    // first one inside mdat, so a demuxer can actually extract frames
    val nFrames = if (samples != null) samples.length else nFrames0
    require(w > 0 && h > 0 && fps > 0 && nFrames > 0 && codec.length == 4)
    val ISO = java.nio.charset.StandardCharsets.ISO_8859_1
    def be16(v: Int): Array[Byte] = Array(((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
    def zeros(n: Int): Array[Byte] = new Array[Byte](n)
    def box(typ: String, parts: Array[Byte]*): Array[Byte] = {
      val body = parts.flatten.toArray
      be32(8 + body.length) ++ typ.getBytes(ISO) ++ body
    }
    def full(typ: String, version: Int, flags: Int, parts: Array[Byte]*): Array[Byte] =
      box(typ, Array[Byte](version.toByte, ((flags >> 16) & 0xff).toByte,
        ((flags >> 8) & 0xff).toByte, (flags & 0xff).toByte) ++ parts.flatten)
    val matrix = be32(0x10000) ++ be32(0) ++ be32(0) ++
      be32(0) ++ be32(0x10000) ++ be32(0) ++
      be32(0) ++ be32(0) ++ be32(0x40000000)
    val durMs = nFrames * 1000 / fps

    def tkhd(trackId: Int, tw: Int, th: Int): Array[Byte] =
      full("tkhd", 0, 7, be32(0), be32(0), be32(trackId), be32(0), be32(durMs),
        zeros(8), be16(0), be16(0), be16(0), be16(0), matrix,
        be32(tw << 16), be32(th << 16))
    def mdhd(timescale: Int, duration: Int): Array[Byte] =
      full("mdhd", 0, 0, be32(0), be32(0), be32(timescale), be32(duration),
        be16(0x55c4) /* 'und' */, be16(0))
    def hdlr(handler: String): Array[Byte] =
      full("hdlr", 0, 0, be32(0), handler.getBytes(ISO), zeros(12), Array[Byte](0))
    val dinf = box("dinf", full("dref", 0, 0, be32(1), full("url ", 0, 1)))
    def stblOf(entry: Array[Byte], sizes: Seq[Int], stcoOff: Int): Array[Byte] =
      box("stbl",
        full("stsd", 0, 0, be32(1), entry),
        full("stts", 0, 0, be32(1), be32(sizes.length), be32(1)),
        full("stsc", 0, 0, be32(1), be32(1), be32(sizes.length), be32(1)),
        full("stsz", 0, 0, be32(0), be32(sizes.length),
          sizes.flatMap(sz => be32(sz).toSeq).toArray),
        full("stco", 0, 0, be32(1), be32(stcoOff)))

    val visualEntry = {
      // avc1 entries carry a REAL avcC child (SPS/PPS written bit-by-bit
      // — see avcSps); profile alternates deterministically so both the
      // Baseline and the High-profile scaling-list paths appear in the
      // fixture population
      // odd dims are unrepresentable in 4:2:0 crop units (real encoders
      // require even dims for 4:2:0) — such rows stay avcC-less, which
      // is itself a real shape (avc3 streams carry SPS in-band instead)
      val cfg =
        if (codec == "avc1" && w % 2 == 0 && h % 2 == 0)
          avcCBox(w, h, fps,
            profileIdc = if ((w / 2 + h / 2 + fps) % 2 == 0) 66 else 100,
            levelIdc = 30)
        else Array.emptyByteArray
      val body = zeros(6) ++ be16(1) ++ // SampleEntry: reserved + dri
        be16(0) ++ be16(0) ++ zeros(12) ++ // pre_defined/reserved
        be16(w) ++ be16(h) ++
        be32(0x00480000) ++ be32(0x00480000) ++ be32(0) ++ be16(1) ++
        zeros(32) ++ be16(0x18) ++ be16(0xffff) ++ cfg
      be32(8 + body.length) ++ codec.getBytes(ISO) ++ body
    }
    val vidSizes: Seq[Int] =
      if (samples != null) samples.map(_.length) else Seq.fill(nFrames)(64)

    def buildMoov(stcoOff: Int): Array[Byte] = {
      val videoTrak = box("trak", tkhd(1, w, h),
        box("mdia", mdhd(fps, nFrames), hdlr("vide"),
          box("minf", full("vmhd", 0, 1, be16(0), zeros(6)), dinf,
            stblOf(visualEntry, vidSizes, stcoOff))))
      val audioTrak =
        if (audioRate <= 0) Array.emptyByteArray
        else {
          val entry = {
            val body = zeros(6) ++ be16(1) ++
              zeros(8) ++ be16(2) ++ be16(16) ++ be16(0) ++ be16(0) ++
              be32(audioRate << 16)
            be32(8 + body.length) ++ "mp4a".getBytes(ISO) ++ body
          }
          box("trak", tkhd(2, 0, 0),
            box("mdia", mdhd(audioRate, audioSamples), hdlr("soun"),
              box("minf", full("smhd", 0, 0, be16(0), be16(0)), dinf,
                stblOf(entry, Seq.fill(audioSamples)(128), stcoOff))))
        }
      val mvhd = full("mvhd", 0, 0, be32(0), be32(0), be32(1000), be32(durMs),
        be32(0x00010000), be16(0x0100), be16(0), zeros(8), matrix,
        zeros(24), be32(3))
      box("moov", mvhd, videoTrak, audioTrak)
    }

    val mdatBody =
      if (samples != null) samples.toArray.flatten
      else if (data != null) data
      else Array.tabulate(math.min(w * h * nFrames, 4096))(i =>
        ((i * 131 + w * 7 + h * 13 + nFrames) & 0xff).toByte)
    val ftypB = box("ftyp", "isom".getBytes(ISO), be32(0x200),
      "isom".getBytes(ISO), "mp41".getBytes(ISO))
    // stco carries an ABSOLUTE file offset: build moov once with a
    // placeholder to learn its length (the value never changes box
    // sizes), then rebuild pointing at the real mdat body start
    val moov0 = buildMoov(0)
    val moov = buildMoov(ftypB.length + moov0.length + 8)
    require(moov.length == moov0.length, "stco two-pass length drift")
    ftypB ++ moov ++ box("mdat", mdatBody)
  }

  // ------------------------------------------------------------ GIF writer
  /** GIF89a writer: global colour table, optional 4-pass interlacing,
    * real LZW compression (variable-width codes with the decoder-lag
    * width rule, CLEAR on table overflow), `extraFrames` additional 1×1
    * image blocks to make the file an animation (the decoder counts
    * them without decoding their data).
    */
  def gif(indices: Array[Byte], w: Int, h: Int, palette: Array[Byte],
          interlaced: Boolean = false, extraFrames: Int = 0): Array[Byte] = {
    require(indices.length == w * h && w > 0 && h > 0)
    require(palette.length >= 6 && palette.length % 3 == 0 && palette.length <= 768)
    val nColors = palette.length / 3
    var sizeField = 0
    while ((2 << sizeField) < nColors) sizeField += 1
    val out = new java.io.ByteArrayOutputStream()
    out.write("GIF89a".getBytes(java.nio.charset.StandardCharsets.ISO_8859_1))
    out.write(le16(w)); out.write(le16(h))
    out.write(0x80 | sizeField); out.write(0); out.write(0)
    out.write(palette)
    (0 until (2 << sizeField) * 3 - palette.length).foreach(_ => out.write(0))

    def lzwBlock(data: Array[Byte], minCode: Int): Unit = {
      out.write(minCode)
      val body = new java.io.ByteArrayOutputStream()
      var acc = 0L; var accN = 0
      var width = minCode + 1
      val clear = 1 << minCode; val end = clear + 1
      def emit(code: Int): Unit = {
        acc |= code.toLong << accN; accN += width
        while (accN >= 8) { body.write((acc & 0xff).toInt); acc >>>= 8; accN -= 8 }
      }
      val dict = new java.util.HashMap[Integer, Integer]()
      var next = end + 1
      emit(clear)
      var prefix = data(0) & 0xff
      var i = 1
      while (i < data.length) {
        val c = data(i) & 0xff
        val key = Integer.valueOf((prefix << 8) | c)
        val hit = dict.get(key)
        if (hit != null) prefix = hit.intValue()
        else {
          emit(prefix)
          if (next < 4096) {
            dict.put(key, Integer.valueOf(next)); next += 1
            // decoder adds its entry one code later, so the width grows
            // one step after the power-of-two boundary (the GIF "+1" rule)
            if (next == (1 << width) + 1 && width < 12) width += 1
          } else {
            emit(clear)
            dict.clear(); next = end + 1; width = minCode + 1
          }
          prefix = c
        }
        i += 1
      }
      emit(prefix); emit(end)
      if (accN > 0) body.write((acc & 0xff).toInt)
      val bytes = body.toByteArray
      var o = 0
      while (o < bytes.length) {
        val n = math.min(255, bytes.length - o)
        out.write(n); out.write(bytes, o, n)
        o += n
      }
      out.write(0) // block terminator
    }

    // frame 1: full canvas
    out.write(0x2c)
    out.write(le16(0)); out.write(le16(0)); out.write(le16(w)); out.write(le16(h))
    out.write(if (interlaced) 0x40 else 0x00)
    val ordered =
      if (!interlaced) indices
      else {
        val o2 = new Array[Byte](indices.length)
        var r = 0
        for ((start, step) <- Seq((0, 8), (4, 8), (2, 4), (1, 2))) {
          var y = start
          while (y < h) {
            System.arraycopy(indices, y * w, o2, r * w, w)
            r += 1; y += step
          }
        }
        o2
      }
    val minCode = math.max(2, 32 - Integer.numberOfLeadingZeros(nColors - 1))
    lzwBlock(ordered, minCode)
    // animation frames: 1×1 blocks the decoder counts but does not decode
    (0 until extraFrames).foreach { _ =>
      out.write(0x2c)
      out.write(le16(0)); out.write(le16(0)); out.write(le16(1)); out.write(le16(1))
      out.write(0x00)
      lzwBlock(Array[Byte](0), minCode)
    }
    out.write(0x3b)
    out.toByteArray
  }

  /** Progressive (SOF2) JFIF writer over the same luminance plane as
    * [[jpeg]] — spectral selection + successive approximation per T.81
    * Annex G, emitting the four scan kinds the decoder must handle:
    *
    *  1. DC first (interleaved when colour), Al=1;
    *  2. Y AC first, band 1–63 at Al=1, with CROSS-BLOCK EOB runs;
    *  3. DC refinement (Ah=1 → Al=0): one raw bit per block;
    *  4. Y AC refinement: newly-significant ±1 coefficients with
    *     zero-history runs, correction bits for already-significant ones
    *     (buffered across EOB runs exactly as the decoder consumes them);
    *  5. (colour) chroma AC first+refinement scans — all-zero bands, pure
    *     EOB runs (neutral chroma), well-formed but skippable.
    *
    * `restartInterval > 0` inserts RST markers (with EOB-run flush +
    * predictor reset) into every scan. Quant all-ones, so the decode is
    * bit-identical to the baseline twin's coefficients.
    */
  def jpegProgressive(luma: Array[Int], w: Int, h: Int, color: Boolean = false,
                      subsample: Int = 1, restartInterval: Int = 0): Array[Byte] = {
    require(luma.length == w * h && w > 0 && h > 0)
    require(subsample == 1 || subsample == 2)
    val out = new java.io.ByteArrayOutputStream()
    def word(v: Int): Unit = { out.write((v >> 8) & 0xff); out.write(v & 0xff) }
    def marker(m: Int): Unit = { out.write(0xff); out.write(m) }
    marker(0xd8)
    marker(0xdb); word(2 + 65); out.write(0x00)
    (0 until 64).foreach(_ => out.write(1))
    val nc = if (color) 3 else 1
    val ss = if (color) subsample else 1
    marker(0xc2); word(8 + 3 * nc); out.write(8) // SOF2
    word(h); word(w); out.write(nc)
    out.write(1); out.write((ss << 4) | ss); out.write(0)
    if (color) {
      out.write(2); out.write(0x11); out.write(0)
      out.write(3); out.write(0x11); out.write(0)
    }
    def dht(tc: Int, bits: Array[Int], vals: Array[Int]): Unit = {
      marker(0xc4); word(2 + 1 + 16 + vals.length)
      out.write((tc << 4) | 0)
      (1 to 16).foreach(l => out.write(bits(l)))
      vals.foreach(out.write)
    }
    dht(0, DcBits, DcVals)
    dht(1, AcBits, AcVals)
    if (restartInterval > 0) { marker(0xdd); word(4); word(restartInterval) }

    // ---- precompute Y coefficients (zigzag order) over the padded grid
    val mcusX = (w + 8 * ss - 1) / (8 * ss); val mcusY = (h + 8 * ss - 1) / (8 * ss)
    val ybw = mcusX * ss; val ybh = mcusY * ss
    val blk = new Array[Double](64)
    val yCoefs = Array.tabulate(ybw * ybh) { bi =>
      val bx = bi % ybw; val by = bi / ybw
      var yy = 0
      while (yy < 8) {
        var xx = 0
        while (xx < 8) {
          val px = math.min(w - 1, bx * 8 + xx)
          val py = math.min(h - 1, by * 8 + yy)
          blk(yy * 8 + xx) = luma(py * w + px) - 128.0
          xx += 1
        }
        yy += 1
      }
      val nat = fdctQuantBlock(blk)
      Array.tabulate(64)(k => nat(graft.kernel.Jpeg.ZigZag(k)))
    }

    def sos(ids: Seq[Int], sStart: Int, sEnd: Int, ah: Int, al: Int): Unit = {
      marker(0xda); word(6 + 2 * ids.length); out.write(ids.length)
      ids.foreach { id => out.write(id); out.write(0x00) }
      out.write(sStart); out.write(sEnd); out.write((ah << 4) | al)
    }
    def category(v: Int): Int = { var t = 0; var a = math.abs(v); while (a > 0) { a >>= 1; t += 1 }; t }
    def magnitude(v: Int, t: Int): Int = if (v >= 0) v else v + (1 << t) - 1

    // ---- scan 1: DC first, Al=1, interleaved over all components ----
    sos((1 to nc), 0, 0, 0, 1)
    locally {
      val bw = new BitWriter(out)
      var pred = 0 // chroma DC is all-zero: its predictor chain never moves
      var rst = 0; var since = 0
      var my = 0
      while (my < mcusY) {
        var mx = 0
        while (mx < mcusX) {
          if (restartInterval > 0 && since == restartInterval) {
            bw.flush(); marker(0xd0 + (rst & 7)); rst += 1; since = 0; pred = 0
          }
          var by = 0
          while (by < ss) {
            var bx = 0
            while (bx < ss) {
              val v = yCoefs((my * ss + by) * ybw + (mx * ss + bx))(0) >> 1
              val diff = v - pred; pred = v
              val t = category(diff)
              val (c, l) = DcCodes(t); bw.put(c, l)
              if (t > 0) bw.put(magnitude(diff, t), t)
              bx += 1
            }
            by += 1
          }
          if (color) { // two all-zero chroma DC diffs (category 0)
            val (c, l) = DcCodes(0); bw.put(c, l); bw.put(c, l)
          }
          since += 1
          mx += 1
        }
        my += 1
      }
      bw.flush()
    }

    // blocks visited by single-component scans: the component's own grid
    val lbw = (w + 7) / 8; val lbh = (h + 7) / 8

    // ---- scan 2: Y AC first, band 1..63, Al=1, cross-block EOB runs ----
    sos(Seq(1), 1, 63, 0, 1)
    locally {
      val bw = new BitWriter(out)
      var eobrun = 0
      def flushEob(): Unit = while (eobrun > 0) {
        val n = math.min(eobrun, 32767)
        val rr = 31 - Integer.numberOfLeadingZeros(n)
        val (c, l) = AcCodes(rr << 4); bw.put(c, l)
        if (rr > 0) bw.put(n - (1 << rr), rr)
        eobrun -= n
      }
      var rst = 0; var since = 0
      var bi = 0
      while (bi < lbw * lbh) {
        if (restartInterval > 0 && since == restartInterval) {
          flushEob(); bw.flush(); marker(0xd0 + (rst & 7)); rst += 1; since = 0
        }
        val zz = yCoefs((bi / lbw) * ybw + (bi % lbw))
        var last = 0
        var k = 1
        // sent value is |v|>>Al with sign (toward zero), so ±1 sends as 0
        while (k < 64) { if (math.abs(zz(k)) >> 1 != 0) last = k; k += 1 }
        if (last == 0) eobrun += 1
        else {
          flushEob()
          var r = 0
          k = 1
          while (k <= last) {
            val v = { val a = zz(k); if (a >= 0) a >> 1 else -((-a) >> 1) }
            if (v == 0) r += 1
            else {
              while (r > 15) { val (zc, zl) = AcCodes(0xf0); bw.put(zc, zl); r -= 16 }
              val s = category(v)
              val (c, l) = AcCodes((r << 4) | s); bw.put(c, l)
              bw.put(magnitude(v, s), s)
              r = 0
            }
            k += 1
          }
          if (last < 63) eobrun += 1
        }
        since += 1
        bi += 1
      }
      flushEob(); bw.flush()
    }

    // ---- scan 3: DC refinement (Ah=1, Al=0): one raw bit per block ----
    sos((1 to nc), 0, 0, 1, 0)
    locally {
      val bw = new BitWriter(out)
      var rst = 0; var since = 0
      var my = 0
      while (my < mcusY) {
        var mx = 0
        while (mx < mcusX) {
          if (restartInterval > 0 && since == restartInterval) {
            bw.flush(); marker(0xd0 + (rst & 7)); rst += 1; since = 0
          }
          var by = 0
          while (by < ss) {
            var bx = 0
            while (bx < ss) {
              bw.put(yCoefs((my * ss + by) * ybw + (mx * ss + bx))(0) & 1, 1)
              bx += 1
            }
            by += 1
          }
          if (color) { bw.put(0, 1); bw.put(0, 1) } // chroma DC bits (zero)
          since += 1
          mx += 1
        }
        my += 1
      }
      bw.flush()
    }

    // ---- scan 4: Y AC refinement, band 1..63, Ah=1 → Al=0 ----
    sos(Seq(1), 1, 63, 1, 0)
    locally {
      val bw = new BitWriter(out)
      var eobrun = 0
      val runBits = scala.collection.mutable.ArrayBuffer.empty[Int]
      def flushEob(): Unit = if (eobrun > 0) {
        // eobrun is capped at 32767 before it grows past one symbol, so
        // the buffered correction bits always belong to this one run
        val n = eobrun
        val rr = 31 - Integer.numberOfLeadingZeros(n)
        val (c, l) = AcCodes(rr << 4); bw.put(c, l)
        if (rr > 0) bw.put(n - (1 << rr), rr)
        runBits.foreach(b => bw.put(b, 1)); runBits.clear()
        eobrun = 0
      }
      var rst = 0; var since = 0
      var bi = 0
      while (bi < lbw * lbh) {
        if (restartInterval > 0 && since == restartInterval) {
          flushEob(); bw.flush(); marker(0xd0 + (rst & 7)); rst += 1; since = 0
        }
        val zz = yCoefs((bi / lbw) * ybw + (bi % lbw))
        var any = false
        var k = 1
        while (k < 64 && !any) { any = math.abs(zz(k)) == 1; k += 1 }
        if (!any) {
          // EOB-only block: queue its correction bits behind the run
          k = 1
          while (k < 64) { if (zz(k) != 0) runBits += (math.abs(zz(k)) & 1); k += 1 }
          eobrun += 1
          if (eobrun == 32767) flushEob()
        } else {
          flushEob()
          val pending = scala.collection.mutable.ArrayBuffer.empty[Int]
          def flushPending(): Unit = { pending.foreach(b => bw.put(b, 1)); pending.clear() }
          var r = 0
          // pending ZRLs must flush at ANY nonzero coefficient (correction
          // or newly significant): a correction bit buffered while r > 15
          // would otherwise ride a ZRL whose decoder-side span ends at the
          // 16th zero — before the coefficient the bit belongs to
          def zrls(): Unit =
            while (r > 15) { val (zc, zl) = AcCodes(0xf0); bw.put(zc, zl); flushPending(); r -= 16 }
          k = 1
          while (k < 64) {
            val a = math.abs(zz(k))
            if (a == 0) r += 1
            else if (a > 1) { zrls(); pending += (a & 1) }
            else {
              zrls()
              val (c, l) = AcCodes((r << 4) | 1); bw.put(c, l)
              bw.put(if (zz(k) > 0) 1 else 0, 1)
              flushPending()
              r = 0
            }
            k += 1
          }
          if (r > 0 || pending.nonEmpty) {
            runBits ++= pending; eobrun += 1 // block's tail rides the next EOB run
          }
        }
        since += 1
        bi += 1
      }
      flushEob(); bw.flush()
    }

    // ---- chroma AC scans (all-zero bands — pure EOB runs) ----
    if (color) {
      val cbw = ((w + ss - 1) / ss + 7) / 8
      val cbh = ((h + ss - 1) / ss + 7) / 8
      def emitEobOnlyScan(compId: Int, ah: Int, al: Int): Unit = {
        sos(Seq(compId), 1, 63, ah, al)
        val bw = new BitWriter(out)
        // EOB runs cannot span restart boundaries — split per interval
        val group = if (restartInterval > 0) restartInterval else Int.MaxValue
        var n = cbw * cbh
        var rst = 0
        var first = true
        while (n > 0) {
          if (!first) { bw.flush(); marker(0xd0 + (rst & 7)); rst += 1 }
          first = false
          var take = math.min(n, math.min(group, 32767))
          n -= take
          while (take > 0) {
            val part = math.min(take, 32767)
            val rr = 31 - Integer.numberOfLeadingZeros(part)
            val (c, l) = AcCodes(rr << 4); bw.put(c, l)
            if (rr > 0) bw.put(part - (1 << rr), rr)
            take -= part
          }
        }
        bw.flush()
      }
      emitEobOnlyScan(2, 0, 1); emitEobOnlyScan(2, 1, 0)
      emitEobOnlyScan(3, 0, 1); emitEobOnlyScan(3, 1, 0)
    }

    marker(0xd9)
    out.toByteArray
  }

  def media(n: Int, seed: Long = 42L): IndexedSeq[Media] = {
    val r = new Random(seed)
    (0 until n).map { i =>
      val host = r.nextInt(20)
      r.nextInt(10) match {
        case 9 =>
          val w = 4 + r.nextInt(28); val h = 4 + r.nextInt(20)
          if (r.nextBoolean()) { // lossless (VP8L)
            val px = Array.fill(w * h)(0xff000000 | r.nextInt(0x1000000))
            Media(i.toLong, s"https://host$host.example.com/img/$i.webp", "image",
              webpLossless(px, w, h,
                useLz77 = r.nextBoolean(),
                cacheBits = if (r.nextBoolean()) 0 else 4,
                subtractGreen = r.nextBoolean(),
                predictor = r.nextBoolean()))
          } else { // lossy (VP8 keyframe)
            val luma = Array.fill(w * h)(r.nextInt(256))
            Media(i.toLong, s"https://host$host.example.com/img/$i.webp", "image",
              vp8(luma, w, h, qi = r.nextInt(40)))
          }
        case 8 =>
          val w = 4 + r.nextInt(28); val h = 4 + r.nextInt(20)
          if (r.nextInt(3) == 0) { // G4 fax scan
            val px = Array.tabulate[Byte](w * h)(p =>
              if (((p % w) / (1 + r.nextInt(4)) + (p / w) / 3) % 2 == 0) 1 else 0)
            Media(i.toLong, s"https://host$host.example.com/img/$i.tif", "image",
              tiffG4(px, w, h, rowsPerStrip = if (r.nextBoolean()) 0 else 1 + r.nextInt(h)))
          } else {
            val ch = if (r.nextBoolean()) 1 else 3
            Media(i.toLong, s"https://host$host.example.com/img/$i.tif", "image",
              tiff(body(r, w * h * ch), w, h, ch,
                packBits = r.nextBoolean(), bigEndian = r.nextBoolean(),
                extraPages = if (r.nextBoolean()) 0 else r.nextInt(4)))
          }
        case 7 =>
          val w = 4 + r.nextInt(28); val h = 4 + r.nextInt(20)
          val nColors = 2 + r.nextInt(254)
          val pal = body(r, nColors * 3)
          val idx = Array.tabulate(w * h)(_ => r.nextInt(nColors).toByte)
          Media(i.toLong, s"https://host$host.example.com/img/$i.gif", "image",
            gif(idx, w, h, pal, interlaced = r.nextBoolean(),
              extraFrames = if (r.nextBoolean()) 0 else r.nextInt(8)))
        case 6 =>
          val w = 4 + r.nextInt(28); val h = 4 + r.nextInt(20)
          val px = Array.fill(w * h)(r.nextInt(256))
          val color = r.nextBoolean()
          val ss = if (color && r.nextBoolean()) 2 else 1
          val ri = if (r.nextBoolean()) 0 else 2
          Media(i.toLong, s"https://host$host.example.com/img/$i.jpg", "image",
            if (r.nextBoolean())
              jpeg(px, w, h, color = color, subsample = ss, restartInterval = ri)
            else
              jpegProgressive(px, w, h, color = color, subsample = ss, restartInterval = ri))
        case 0 =>
          val w = 8 + r.nextInt(56); val h = 8 + r.nextInt(40)
          Media(i.toLong, s"https://host$host.example.com/img/$i", "image",
            "IMG1".getBytes ++ be32(w) ++ be32(h) ++ body(r, w * h))
        case 1 =>
          val rate = 8000 + 4000 * r.nextInt(3); val ns = 256 + r.nextInt(1024)
          Media(i.toLong, s"https://host$host.example.com/aud/$i", "audio",
            "AUD1".getBytes ++ be32(rate) ++ be32(ns) ++ body(r, ns))
        case 2 =>
          val w = 8 + r.nextInt(24); val h = 8 + r.nextInt(16)
          val fps = 10 + r.nextInt(20); val frames = 1 + r.nextInt(30)
          r.nextInt(4) match {
            case 0 => // real Motion-JPEG AVI
              Media(i.toLong, s"https://host$host.example.com/vid/$i.avi", "video",
                aviMjpeg(Seq.tabulate(frames)(_ =>
                  jpeg(Array.fill(w * h)(r.nextInt(256)), w, h)), w, h, fps))
            case 1 => // ISO-BMFF MP4 (real container walk; MJPEG variant
              // carries REAL decodable JPEG samples, others fake payloads)
              val withAudio = r.nextBoolean()
              val aRate = if (withAudio) 8000 + 4000 * r.nextInt(3) else 0
              val aN = if (withAudio) 64 + r.nextInt(512) else 0
              if (r.nextBoolean())
                Media(i.toLong, s"https://host$host.example.com/vid/$i.mp4", "video",
                  mp4(w, h, fps, frames, "jpeg", aRate, aN,
                    samples = Seq.tabulate(frames)(_ =>
                      jpeg(Array.fill(w * h)(r.nextInt(256)), w, h))))
              else
                Media(i.toLong, s"https://host$host.example.com/vid/$i.mp4", "video",
                  mp4(w, h, fps, frames, Seq("avc1", "hvc1", "vp09")(r.nextInt(3)),
                    aRate, aN, data = body(r, math.min(w * h * frames, 4096))))
            case 2 => // Matroska/WebM: real EBML walk; V_VP8 rows carry
              // REAL keyframes the VP8 kernel decodes, V_VP9 fake payloads
              val nf = math.min(frames, 6)
              if (r.nextBoolean())
                Media(i.toLong, s"https://host$host.example.com/vid/$i.webm", "video",
                  webmVp8(Seq.fill(nf)(Array.fill(w * h)(r.nextInt(256))),
                    w, h, fps, qi = r.nextInt(40),
                    audioRate = if (r.nextBoolean()) 48000 else 0,
                    audioBlocks = 4))
              else
                Media(i.toLong, s"https://host$host.example.com/vid/$i.webm", "video",
                  webm(Seq.fill(nf)(vp9Keyframe(w, h,
                      profile = if (r.nextBoolean()) 0 else 2,
                      junk = 64 + r.nextInt(256), seed = r.nextLong())),
                    w, h, fps, codecId = "V_VP9"))
            case _ => // stub container (stand-in for codec-library formats)
              Media(i.toLong, s"https://host$host.example.com/vid/$i", "video",
                "VID1".getBytes ++ be32(w) ++ be32(h) ++ be32(fps) ++ be32(frames) ++
                  body(r, math.min(w * h * frames, 4096)))
          }
        case 3 =>
          val w = 4 + r.nextInt(28); val h = 4 + r.nextInt(20)
          Media(i.toLong, s"https://host$host.example.com/img/$i.bmp", "image",
            bmp(body(r, w * h * 3), w, h))
        case 4 =>
          val rate = 8000 + 4000 * r.nextInt(3); val ns = 64 + r.nextInt(512)
          val payload = r.nextInt(7) match {
            case 4 =>
              val mono = Array.tabulate(ns)(_ => r.nextInt(65536).toShort)
              if (r.nextBoolean()) flac(mono, rate, blockSize = 64)
              else flac(mono, rate,
                stereoRight = Array.tabulate(ns)(_ => r.nextInt(65536).toShort),
                blockSize = 64)
            case 0 => wavOf(body(r, ns), rate, format = 7, channels = 1, bits = 8) // μ-law
            case 1 => wavOf(body(r, ns), rate, format = 6, channels = 1, bits = 8) // A-law
            case 2 => // extensible-wrapped 16-bit PCM
              wavOf(body(r, ns * 2), rate, format = 1, channels = 1, bits = 16,
                extensible = true)
            case 5 => // MPEG audio: real frame headers, exact walk
              mp3(frames = 4 + r.nextInt(12), bitrateIdx = 1 + r.nextInt(14),
                srIdx = r.nextInt(3), mono = r.nextBoolean(),
                id3Body = if (r.nextBoolean()) 0 else 32 + r.nextInt(200),
                vbr = r.nextBoolean(), mpeg2 = r.nextBoolean(),
                seed = r.nextLong())
            case 6 => // Ogg: Opus or Vorbis id headers, page walk
              if (r.nextBoolean())
                oggOpus(1 + r.nextInt(2), 48000, 312,
                  audioPages = 2 + r.nextInt(8), samplesPerPage = 960 * 4,
                  seed = r.nextLong())
              else
                oggVorbis(1 + r.nextInt(2), 8000 + 4000 * r.nextInt(3),
                  audioPages = 2 + r.nextInt(8), samplesPerPage = 1024,
                  seed = r.nextLong())
            case _ => wav(Array.tabulate(ns)(_ => r.nextInt(65536).toShort), rate)
          }
          Media(i.toLong, s"https://host$host.example.com/aud/$i.wav", "audio", payload)
        case _ =>
          val ch = if (r.nextBoolean()) 1 else 3
          val w = 4 + r.nextInt(28); val h = 4 + r.nextInt(20)
          val depth = if (r.nextInt(4) == 0) 16 else 8
          val payload = pngOf(body(r, w * h * ch * (depth / 8)), w, h, ch,
            colorType = if (ch == 1) 0 else 2, palette = null,
            depth = depth, interlaced = r.nextInt(3) == 0)
          Media(i.toLong, s"https://host$host.example.com/img/$i.png", "image", payload)
      }
    }
  }

  // ===================================================== VP8 (lossy WebP)

  /** RFC 6386 boolean arithmetic encoder (7.x reference shape): carry
    * propagates into already-emitted bytes; [[graft.kernel.Vp8.Bool]]
    * round-trips it bit-exactly (MediaSpec property test).
    */
  final class Vp8BoolEnc {
    private val buf = scala.collection.mutable.ArrayBuffer.empty[Byte]
    private var range = 255
    private var bottom = 0L // 32-bit window, Long for carry visibility
    private var bitCount = 24

    private def carry(): Unit = {
      var i = buf.length - 1
      while (buf(i) == -1) { buf(i) = 0; i -= 1 }
      buf(i) = (buf(i) + 1).toByte
    }

    def put(prob: Int, bit: Int): Unit = {
      val split = 1 + (((range - 1) * prob) >> 8)
      if (bit != 0) { bottom += split; range -= split }
      else range = split
      while (range < 128) {
        range <<= 1
        if ((bottom & (1L << 31)) != 0) carry()
        bottom = (bottom << 1) & 0xffffffffL
        bitCount -= 1
        if (bitCount == 0) {
          buf += ((bottom >> 24) & 0xff).toByte
          bottom &= 0xffffffL
          bitCount = 8
        }
      }
    }

    def literal(n: Int, v: Int): Unit = {
      var k = n - 1
      while (k >= 0) { put(128, (v >> k) & 1); k -= 1 }
    }

    def maybeSigned(n: Int, v: Int): Unit =
      if (v == 0) put(128, 0)
      else { put(128, 1); literal(n, math.abs(v)); put(128, if (v < 0) 1 else 0) }

    /** Emit the tree path to `leaf` (leaves stored as -(id+1)). */
    def tree(t: Array[Int], probs: Array[Int], probOff: Int, leaf: Int,
             from: Int = 0): Unit = {
      def walk(i: Int, path: List[(Int, Int)]): Option[List[(Int, Int)]] = {
        var b = 0
        var found: Option[List[(Int, Int)]] = None
        while (b < 2 && found.isEmpty) {
          val v = t(i + b)
          if (v <= 0) { if (-v - 1 == leaf) found = Some(((i, b)) :: path) }
          else found = walk(v, ((i, b)) :: path)
          b += 1
        }
        found
      }
      walk(from, Nil).getOrElse(throw new IllegalArgumentException(s"leaf $leaf unreachable"))
        .reverse.foreach { case (i, b) => put(probs(probOff + (i >> 1)), b) }
    }

    def result(): Array[Byte] = {
      // flush the 32-bit window (standard tail: 32 zero bits)
      var k = 0
      while (k < 32) {
        if ((bottom & (1L << 31)) != 0) carry()
        bottom = (bottom << 1) & 0xffffffffL
        bitCount -= 1
        if (bitCount == 0) {
          buf += ((bottom >> 24) & 0xff).toByte
          bottom &= 0xffffffL
          bitCount = 8
        }
        k += 1
      }
      buf.toArray
    }
  }

  /** Lossy-WebP fixture writer: a VP8 keyframe (RFC 6386) holding `luma`
    * as the Y plane with flat chroma. Every macroblock is B_PRED with
    * all-B_DC sub-modes — the smallest spec-complete mode set — with
    * residuals forward-DCT'd, quantized at index `qi` and reconstructed
    * encoder-side exactly as the decoder will, so prediction never
    * drifts. `filter_level` is always 0 (decoded output is bit-exact,
    * see [[graft.kernel.Vp8]]); skipped MBs are used whenever every
    * block quantizes to zero. Returns a full RIFF/WEBP container.
    */
  def vp8(luma: Array[Int], w: Int, h: Int, qi: Int = 12): Array[Byte] = {
    import graft.kernel.Vp8Tables._
    require(luma.length == w * h && w > 0 && h > 0 && w <= 16383 && h <= 16383)
    require(qi >= 0 && qi <= 127)
    val mbW = (w + 15) >> 4
    val mbH = (h + 15) >> 4
    val yStride = mbW * 16 + 1 + 4
    val Y = new Array[Int]((mbH * 16 + 1) * yStride)
    var x = 0
    while (x < yStride) { Y(x) = 127; x += 1 }
    var yy = 1
    while (yy <= mbH * 16) { Y(yy * yStride) = 129; yy += 1 }
    // chroma is flat 128: with DC prediction every chroma block's
    // residual is zero everywhere, so chroma never contributes tokens
    val dcq = dcQLookup(qi)
    val acq = acQLookup(qi)

    def srcAt(px: Int, py: Int): Int =
      luma(math.min(h - 1, py) * w + math.min(w - 1, px))

    def fdct(in: Array[Int], out: Array[Int]): Unit = {
      val tmp = new Array[Int](16)
      var r = 0
      while (r < 4) {
        val o = r * 4
        val a1 = (in(o) + in(o + 3)) * 8; val b1 = (in(o + 1) + in(o + 2)) * 8
        val c1 = (in(o + 1) - in(o + 2)) * 8; val d1 = (in(o) - in(o + 3)) * 8
        tmp(o) = a1 + b1; tmp(o + 2) = a1 - b1
        tmp(o + 1) = (c1 * 2217 + d1 * 5352 + 14500) >> 12
        tmp(o + 3) = (d1 * 2217 - c1 * 5352 + 7500) >> 12
        r += 1
      }
      r = 0
      while (r < 4) {
        val a1 = tmp(r) + tmp(r + 12); val b1 = tmp(r + 4) + tmp(r + 8)
        val c1 = tmp(r + 4) - tmp(r + 8); val d1 = tmp(r) - tmp(r + 12)
        out(r) = (a1 + b1 + 7) >> 4
        out(r + 8) = (a1 - b1 + 7) >> 4
        out(r + 4) = ((c1 * 2217 + d1 * 5352 + 12000) >> 16) + (if (d1 != 0) 1 else 0)
        out(r + 12) = (d1 * 2217 - c1 * 5352 + 51000) >> 16
        r += 1
      }
    }

    // pass A: reconstruct, collecting quantized levels per Y block
    val levels = Array.ofDim[Int](mbH * mbW * 16, 16)
    val skips = new Array[Boolean](mbH * mbW)
    val res = new Array[Int](16)
    val freq = new Array[Int](16)
    val recon = new Array[Int](16)
    var mbY = 0
    while (mbY < mbH) {
      var mbX = 0
      while (mbX < mbW) {
        val yOff = (mbY * 16 + 1) * yStride + mbX * 16 + 1
        if (mbY > 0 && mbX == mbW - 1) {
          var k = 0
          while (k < 4) { Y(yOff - yStride + 16 + k) = Y(yOff - yStride + 15); k += 1 }
        }
        var anyNz = false
        var sb = 0
        while (sb < 16) {
          val sx = sb & 3; val sy = sb >> 2
          val bo = yOff + sy * 4 * yStride + sx * 4
          // B_DC prediction (matches the decoder exactly)
          var sum = 4
          var i = 0
          while (i < 4) { sum += Y(bo - yStride + i) + Y(bo - 1 + i * yStride); i += 1 }
          val dc = sum >> 3
          // residual vs (edge-replicated) source
          i = 0
          while (i < 16) {
            val px = mbX * 16 + sx * 4 + (i & 3)
            val py = mbY * 16 + sy * 4 + (i >> 2)
            res(i) = srcAt(px, py) - dc
            i += 1
          }
          fdct(res, freq)
          val lv = levels((mbY * mbW + mbX) * 16 + sb)
          i = 0
          while (i < 16) {
            val q = if (i == 0) dcq else acq
            val c = freq(i)
            val a = math.abs(c)
            val l = math.min(2047, a / q) // truncating quantizer (valid; decoder just multiplies)
            lv(i) = if (c < 0) -l else l
            if (l != 0) anyNz = true
            // dequantized coefficients feed the reconstruction
            freq(i) = lv(i) * q
            i += 1
          }
          graft.kernel.Vp8.idct4x4(freq, recon)
          i = 0
          while (i < 16) {
            val o = bo + (i >> 2) * yStride + (i & 3)
            val v = dc + recon(i)
            Y(o) = if (v < 0) 0 else if (v > 255) 255 else v
            i += 1
          }
          sb += 1
        }
        skips(mbY * mbW + mbX) = !anyNz
        mbX += 1
      }
      mbY += 1
    }

    // pass B: first partition — headers + per-MB modes/skip
    val e0 = new Vp8BoolEnc
    e0.put(128, 0) // color space
    e0.put(128, 0) // clamping
    e0.put(128, 0) // segmentation disabled
    e0.put(128, 0) // filter type
    e0.literal(6, 0) // filter level 0 (bit-exact decode contract)
    e0.literal(3, 0) // sharpness
    e0.put(128, 0) // lf deltas disabled
    e0.literal(2, 0) // one token partition
    e0.literal(7, qi)
    var k5 = 0
    while (k5 < 5) { e0.put(128, 0); k5 += 1 } // no quant deltas
    e0.put(128, 0) // refresh entropy (ignored for stills)
    var pi = 0
    while (pi < 4 * 8 * 3 * 11) { e0.put(coeffUpdateProbs(pi), 0); pi += 1 }
    e0.put(128, 1) // mb_no_coeff_skip enabled
    e0.literal(8, 128) // prob_skip_false
    // mode stream: every MB B_PRED, all sub-modes B_DC, chroma DC.
    // B_DC neighbors are always B_DC (borders too), so the sub-mode
    // context is constant (0,0)
    mbY = 0
    while (mbY < mbH) {
      var mbX = 0
      while (mbX < mbW) {
        e0.put(128, if (skips(mbY * mbW + mbX)) 1 else 0)
        e0.tree(kfYModeTree, kfYModeProbs, 0, 4) // B_PRED
        var sb = 0
        while (sb < 16) { e0.tree(bModeTree, kfBModeProbs, 0, 0); sb += 1 }
        e0.tree(uvModeTree, kfUvModeProbs, 0, 0) // chroma DC
        mbX += 1
      }
      mbY += 1
    }
    val part0 = e0.result()

    // pass C: token partition. Contexts mirror the decoder's nz state.
    val e1 = new Vp8BoolEnc
    val aboveNz = new Array[Int](mbW * 9)
    val leftNz = new Array[Int](9)
    val yNz = new Array[Int](16)
    val cNz = new Array[Int](4)
    def putBlock(lv: Array[Int], typ: Int, ctx0: Int): Int = {
      // last nonzero position in ZIGZAG order (the token order)
      var last = -1
      var i = 0
      while (i < 16) { if (lv(zigzag(i)) != 0) last = i; i += 1 }
      var n = 0
      var ctx = ctx0
      var from = 0
      while (n <= last) {
        val off = ((typ * 8 + bands(n)) * 3 + ctx) * 11
        val lvl = lv(zigzag(n))
        val a = math.abs(lvl)
        if (a == 0) { e1.tree(tokenTree, probsDefault, off, 1, from); ctx = 0; from = 2 }
        else {
          if (a == 1) { e1.tree(tokenTree, probsDefault, off, 2, from); ctx = 1 }
          else if (a <= 4) { e1.tree(tokenTree, probsDefault, off, a + 1, from); ctx = 2 }
          else {
            var cat = 5
            while (cat > 0 && a < catBase(cat)) cat -= 1
            e1.tree(tokenTree, probsDefault, off, 6 + cat, from); ctx = 2
            val cp = cats(cat)
            val extra = a - catBase(cat)
            var k = cp.length - 1
            var bi = 0
            while (k >= 0) { e1.put(cp(bi), (extra >> k) & 1); k -= 1; bi += 1 }
          }
          e1.put(128, if (lvl < 0) 1 else 0)
          from = 0
        }
        n += 1
      }
      if (last < 15) { // EOB; never follows a ZERO (trailing zeros are
        // not emitted, so the previous token was nonzero or this is the
        // first token of the block)
        val off = ((typ * 8 + bands(last + 1)) * 3 + ctx) * 11
        e1.tree(tokenTree, probsDefault, off, 0, from)
      }
      if (last >= 0) 1 else 0
    }
    mbY = 0
    while (mbY < mbH) {
      java.util.Arrays.fill(leftNz, 0)
      var mbX = 0
      while (mbX < mbW) {
        if (skips(mbY * mbW + mbX)) {
          var k = 0
          while (k < 8) { leftNz(k) = 0; aboveNz(mbX * 9 + k) = 0; k += 1 }
          // B_PRED MBs have no Y2: dc ctx (index 8) untouched
        } else {
          var sb = 0
          while (sb < 16) {
            val sx = sb & 3; val sy = sb >> 2
            val ctx = (if (sx == 0) leftNz(sy) else yNz(sb - 1)) +
              (if (sy == 0) aboveNz(mbX * 9 + sx) else yNz(sb - 4))
            val nz = putBlock(levels((mbY * mbW + mbX) * 16 + sb), 3, ctx)
            yNz(sb) = nz
            if (sx == 3) leftNz(sy) = nz
            if (sy == 3) aboveNz(mbX * 9 + sx) = nz
            sb += 1
          }
          // chroma: all-zero blocks, still tokenized (EOB each)
          var pl = 0
          while (pl < 2) {
            val base = 4 + pl * 2
            var cb = 0
            while (cb < 4) {
              val sx = cb & 1; val sy = cb >> 1
              val ctx = (if (sx == 0) leftNz(base + sy) else cNz(cb - 1)) +
                (if (sy == 0) aboveNz(mbX * 9 + base + sx) else cNz(cb - 2))
              val off = ((2 * 8 + bands(0)) * 3 + ctx) * 11
              e1.tree(tokenTree, probsDefault, off, 0) // EOB
              cNz(cb) = 0
              if (sx == 1) leftNz(base + sy) = 0
              if (sy == 1) aboveNz(mbX * 9 + base + sx) = 0
              cb += 1
            }
            pl += 1
          }
        }
        mbX += 1
      }
      mbY += 1
    }
    val part1 = e1.result()

    // frame assembly
    val part0Len = part0.length
    require(part0Len < (1 << 19), "first partition too large")
    val tag = part0Len << 5 // keyframe=0, version=0, show=0 bit... show_frame:
    val tagShown = tag | (1 << 4)
    val frame = new java.io.ByteArrayOutputStream()
    frame.write(tagShown & 0xff); frame.write((tagShown >> 8) & 0xff); frame.write((tagShown >> 16) & 0xff)
    frame.write(0x9d); frame.write(0x01); frame.write(0x2a)
    frame.write(w & 0xff); frame.write((w >> 8) & 0x3f)
    frame.write(h & 0xff); frame.write((h >> 8) & 0x3f)
    frame.write(part0, 0, part0.length)
    frame.write(part1, 0, part1.length)
    val payload = frame.toByteArray
    val riff = new java.io.ByteArrayOutputStream()
    def fourcc(s: String): Unit = riff.write(s.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1))
    def le32w(v: Int): Unit = { riff.write(v & 0xff); riff.write((v >> 8) & 0xff); riff.write((v >> 16) & 0xff); riff.write((v >> 24) & 0xff) }
    val chunk = payload.length + (payload.length & 1)
    fourcc("RIFF"); le32w(4 + 8 + chunk); fourcc("WEBP")
    fourcc("VP8 "); le32w(payload.length); riff.write(payload, 0, payload.length)
    if ((payload.length & 1) == 1) riff.write(0)
    riff.toByteArray
  }

  private def probsDefault: Array[Int] = graft.kernel.Vp8Tables.coeffProbs

  // ------------------------------------------- VP8 P-frame sequences
  /** One interframe's content: a whole-frame motion vector in EIGHTH-pel
    * units (components must be even — all legal VP8 MVs are, being coded
    * in quarter-pel), plus an optional residual target: when set, each
    * macroblock carries AC-only luma residuals steering the frame toward
    * `target` (DC forced to zero so the Y2 block stays empty — the
    * decoder round-trips the ENCODER's reconstruction, which is what the
    * tests compare against).
    */
  /** `splitOf`: per MB, `Some((partitionId, perPartitionMVs))` encodes a
    * SPLITMV macroblock (partition ids 0=16x8 1=8x16 2=8x8 3=4x4, one
    * MV per partition, eighth-pel even components); `None` falls back
    * to the whole-MB `mvOf`/`(dx8, dy8)` path. Split MBs are
    * motion-only (no residual support in the fixture).
    */
  /** `ref` selects the prediction reference (0=LAST 1=GOLDEN 2=ALTREF);
    * `refreshGolden`/`refreshAltref` update those buffers from this
    * frame's reconstruction (§9.7) — LAST always refreshes in fixtures.
    *
    * `intraOf`: per MB, `Some(yMode)` (0=DC 1=V 2=H 3=TM) encodes an
    * INTRA macroblock inside the interframe — chroma DC, residual
    * skipped, predicted from this frame's reconstructed neighbors with
    * the 127 (above) / 129 (left) frame-edge values. It takes precedence
    * over `splitOf`/`mvOf` for that MB and is not combined with `target`.
    */
  final case class Vp8Move(dx8: Int, dy8: Int, target: Option[Array[Int]] = None,
                           mvOf: Option[(Int, Int) => (Int, Int)] = None,
                           splitOf: Option[(Int, Int) => Option[(Int, Seq[(Int, Int)])]] = None,
                           ref: Int = 0, refreshGolden: Boolean = false,
                           refreshAltref: Boolean = false,
                           intraOf: Option[(Int, Int) => Option[Int]] = None)

  /** Encode a raw VP8 frame SEQUENCE: a keyframe from `luma0`, then one
    * interframe per [[Vp8Move]] — every MB `intraOf` leaves out is inter
    * with the move's reference and
    * MV (ZERO/NEAREST/NEAR/NEW chosen against the same `find_near_mvs`
    * contexts the decoder computes, via the SHARED
    * [[graft.kernel.Vp8Video.findNearMvs]] so the two can never drift),
    * skip-coded when residual-free. Chroma is flat 128 throughout (MC of
    * a constant plane is exact for every sub-pel phase: the six-tap
    * kernels sum to 128). Frames are WebM SimpleBlock payloads —
    * [[webm]] muxes them, `Vp8Video.decodeSequence` decodes them.
    */
  def vp8Sequence(luma0: Array[Int], w: Int, h: Int, moves: Seq[Vp8Move],
                  qi: Int = 12): Vector[Array[Byte]] = {
    import graft.kernel.{Vp8, Vp8Video}
    import graft.kernel.Vp8Tables._
    require(luma0.length == w * h && w > 0 && h > 0)
    val mbW = (w + 15) >> 4
    val mbH = (h + 15) >> 4
    val w16 = mbW * 16; val h16 = mbH * 16
    val acq = acQLookup(qi)

    val out = Vector.newBuilder[Array[Byte]]
    val kfRaw = vp8RawFrame(luma0, w, h, qi)
    out += kfRaw
    // rolling reference = the DECODER's reconstruction of what was sent
    val kfRef = Vp8Video.toRef(Vp8.decodeFrame(kfRaw))
    // reference state mirrors the decoder's: keyframes refresh all three
    var refLast = kfRef
    var refGolden = kfRef
    var refAltref = kfRef

    def fdct(in: Array[Int], o: Array[Int]): Unit = {
      val tmp = new Array[Int](16)
      var r = 0
      while (r < 4) {
        val off = r * 4
        val a1 = (in(off) + in(off + 3)) * 8; val b1 = (in(off + 1) + in(off + 2)) * 8
        val c1 = (in(off + 1) - in(off + 2)) * 8; val d1 = (in(off) - in(off + 3)) * 8
        tmp(off) = a1 + b1; tmp(off + 2) = a1 - b1
        tmp(off + 1) = (c1 * 2217 + d1 * 5352 + 14500) >> 12
        tmp(off + 3) = (d1 * 2217 - c1 * 5352 + 7500) >> 12
        r += 1
      }
      r = 0
      while (r < 4) {
        val a1 = tmp(r) + tmp(r + 12); val b1 = tmp(r + 4) + tmp(r + 8)
        val c1 = tmp(r + 4) - tmp(r + 8); val d1 = tmp(r) - tmp(r + 12)
        o(r) = (a1 + b1 + 7) >> 4
        o(r + 8) = (a1 - b1 + 7) >> 4
        o(r + 4) = ((c1 * 2217 + d1 * 5352 + 12000) >> 16) + (if (d1 != 0) 1 else 0)
        o(r + 12) = (d1 * 2217 - c1 * 5352 + 51000) >> 16
        r += 1
      }
    }

    def putMvComponent(e: Vp8BoolEnc, p: Array[Int], v8: Int): Unit = {
      require((v8 & 1) == 0, s"mv component $v8 not even (quarter-pel)")
      val x0 = v8 / 2
      val a = math.abs(x0)
      require(a <= 1023, s"mv component $v8 out of range")
      if (a < 8) {
        e.put(p(0), 0)
        e.tree(Vp8Video.smallMvTree, p, 2, a)
        if (a != 0) e.put(p(1), if (x0 < 0) 1 else 0)
      } else {
        e.put(p(0), 1)
        var i = 0
        while (i < 3) { e.put(p(9 + i), (a >> i) & 1); i += 1 }
        i = 9
        while (i > 3) { e.put(p(9 + i), (a >> i) & 1); i -= 1 }
        if ((a & 0xfff0) != 0) e.put(p(9 + 3), (a >> 3) & 1)
        e.put(p(1), if (x0 < 0) 1 else 0)
      }
    }

    moves.foreach { mv =>
      require((mv.dx8 & 1) == 0 && (mv.dy8 & 1) == 0, "MV must be even (quarter-pel)")
      // ---- per-MB plan: prediction, residual levels, skip flags
      val predY = new Array[Int](w16 * h16)
      val curY = new Array[Int](w16 * h16)
      val mcBuf = new Array[Int](256)
      val ref = mv.ref match {
        case 0 => refLast
        case 1 => refGolden
        case _ => refAltref
      }
      def mvAt(mbX: Int, mbY: Int): (Int, Int) =
        mv.mvOf.map(f => f(mbX, mbY)).getOrElse((mv.dx8, mv.dy8))
      def splitAt(mbX: Int, mbY: Int): Option[(Int, Seq[(Int, Int)])] =
        mv.splitOf.flatMap(f => f(mbX, mbY))
      require(mv.target.isEmpty || mv.splitOf.isEmpty,
        "fixture does not combine residuals with SPLITMV")
      require(mv.target.isEmpty || mv.intraOf.isEmpty,
        "fixture does not combine residuals with intra MBs")
      def intraAt(mbX: Int, mbY: Int): Option[Int] = {
        val m = mv.intraOf.flatMap(f => f(mbX, mbY))
        require(m.forall(y => y >= 0 && y <= 3), s"intra MB mode $m is not DC/V/H/TM")
        m
      }
      /** 16x16 intra prediction of MB (mbX, mbY) into `curY` from its
        * reconstructed neighbors, mirroring the decoder's edge values.
        */
      def predictIntra(mbX: Int, mbY: Int, mode: Int): Unit = {
        val x0 = mbX * 16; val y0 = mbY * 16
        def above(i: Int): Int = if (mbY > 0) curY((y0 - 1) * w16 + x0 + i) else 127
        def left(j: Int): Int = if (mbX > 0) curY((y0 + j) * w16 + x0 - 1) else 129
        val corner = if (mbY == 0) 127 else if (mbX == 0) 129 else curY((y0 - 1) * w16 + x0 - 1)
        val n = (if (mbY > 0) 16 else 0) + (if (mbX > 0) 16 else 0)
        val sum = (0 until 16).map(i =>
          (if (mbY > 0) above(i) else 0) + (if (mbX > 0) left(i) else 0)).sum
        val dc = if (n == 0) 128 else (sum + n / 2) / n
        for (j <- 0 until 16; i <- 0 until 16)
          curY((y0 + j) * w16 + x0 + i) = mode match {
            case 0 => dc
            case 1 => above(i)
            case 2 => left(j)
            case _ => math.max(0, math.min(255, left(j) + above(i) - corner))
          }
      }
      /** Per-subblock MVs of an MB (all 16 equal for whole-MB modes). */
      def subMvsOf(mbX: Int, mbY: Int): (Array[Int], Array[Int]) =
        splitAt(mbX, mbY) match {
          case Some((part, mvs)) =>
            require(mvs.length == Vp8Video.splitCounts(part),
              s"partition $part needs ${Vp8Video.splitCounts(part)} MVs")
            val fill = Vp8Video.splitFills(part)
            val xs = new Array[Int](16); val ys = new Array[Int](16)
            var b = 0
            while (b < 16) {
              val (vx, vy) = mvs(fill(b))
              require((vx & 1) == 0 && (vy & 1) == 0, "sub-MV must be even")
              xs(b) = vx; ys(b) = vy
              b += 1
            }
            (xs, ys)
          case None =>
            val (dx8, dy8) = mvAt(mbX, mbY)
            require((dx8 & 1) == 0 && (dy8 & 1) == 0, "MV must be even (quarter-pel)")
            (Array.fill(16)(dx8), Array.fill(16)(dy8))
        }
      var mbY = 0
      while (mbY < mbH) {
        var mbX = 0
        while (mbX < mbW) {
          if (intraAt(mbX, mbY).isDefined) () // predicted after the inter MBs
          else if (splitAt(mbX, mbY).isEmpty) {
            val (dx8, dy8) = mvAt(mbX, mbY)
            require((dx8 & 1) == 0 && (dy8 & 1) == 0, "MV must be even (quarter-pel)")
            Vp8Video.mcBlock(ref.y, w16, h16,
              mbX * 16 + (dx8 >> 3), mbY * 16 + (dy8 >> 3),
              dx8 & 7, dy8 & 7, mcBuf, 0, 16, 16, 16)
            var r = 0
            while (r < 16) {
              System.arraycopy(mcBuf, r * 16, predY, (mbY * 16 + r) * w16 + mbX * 16, 16)
              r += 1
            }
          } else {
            // split: per-4x4 MC, mirroring the decoder exactly
            val (xs, ys) = subMvsOf(mbX, mbY)
            var b = 0
            while (b < 16) {
              val sx = b & 3; val sy = b >> 2
              Vp8Video.mcBlock(ref.y, w16, h16,
                mbX * 16 + sx * 4 + (xs(b) >> 3), mbY * 16 + sy * 4 + (ys(b) >> 3),
                xs(b) & 7, ys(b) & 7, mcBuf, 0, 4, 4, 4)
              var r = 0
              while (r < 4) {
                System.arraycopy(mcBuf, r * 4, predY,
                  (mbY * 16 + sy * 4 + r) * w16 + mbX * 16 + sx * 4, 4)
                r += 1
              }
              b += 1
            }
          }
          mbX += 1
        }
        mbY += 1
      }
      val levels = Array.ofDim[Int](mbH * mbW * 16, 16)
      val skips = new Array[Boolean](mbW * mbH)
      java.util.Arrays.fill(skips, true)
      mv.target match {
        case None =>
          System.arraycopy(predY, 0, curY, 0, predY.length)
        case Some(target) =>
          require(target.length == w * h, "target plane size mismatch")
          def tAt(px: Int, py: Int): Int =
            target(math.min(h - 1, py) * w + math.min(w - 1, px))
          val res = new Array[Int](16)
          val freq = new Array[Int](16)
          val rec = new Array[Int](16)
          var my = 0
          while (my < mbH) {
            var mx = 0
            while (mx < mbW) {
              var anyNz = false
              var sb = 0
              while (sb < 16) {
                val bx = mx * 16 + (sb & 3) * 4
                val by = my * 16 + (sb >> 2) * 4
                var i = 0
                while (i < 16) {
                  res(i) = tAt(bx + (i & 3), by + (i >> 2)) -
                    predY((by + (i >> 2)) * w16 + bx + (i & 3))
                  i += 1
                }
                fdct(res, freq)
                freq(0) = 0 // AC-only: Y2 stays empty, no forward WHT
                val lv = levels((my * mbW + mx) * 16 + sb)
                i = 1
                while (i < 16) {
                  val a = math.abs(freq(i))
                  val l = math.min(2047, a / acq)
                  lv(i) = if (freq(i) < 0) -l else l
                  if (l != 0) anyNz = true
                  freq(i) = lv(i) * acq
                  i += 1
                }
                graft.kernel.Vp8.idct4x4(freq, rec)
                i = 0
                while (i < 16) {
                  val o = (by + (i >> 2)) * w16 + bx + (i & 3)
                  val v = predY(o) + rec(i)
                  curY(o) = if (v < 0) 0 else if (v > 255) 255 else v
                  i += 1
                }
                sb += 1
              }
              skips(my * mbW + mx) = !anyNz
              if (!anyNz) { // skipped MB reconstructs as pure prediction
                var r2 = 0
                while (r2 < 16) {
                  System.arraycopy(predY, (my * 16 + r2) * w16 + mx * 16,
                    curY, (my * 16 + r2) * w16 + mx * 16, 16)
                  r2 += 1
                }
              }
              mx += 1
            }
            my += 1
          }
      }
      // intra MBs, in raster order: their inter neighbors are final, and
      // an intra neighbor above or to the left is predicted first
      for (my <- 0 until mbH; mx <- 0 until mbW; mode <- intraAt(mx, my))
        predictIntra(mx, my, mode)

      // ---- part 0: interframe header + modes
      val e0 = new Vp8BoolEnc
      e0.put(128, 0) // segmentation disabled
      e0.put(128, 0) // filter type
      e0.literal(6, 0) // filter level 0
      e0.literal(3, 0) // sharpness
      e0.put(128, 0) // lf deltas disabled
      e0.literal(2, 0) // one token partition
      e0.literal(7, qi)
      var k5 = 0
      while (k5 < 5) { e0.put(128, 0); k5 += 1 } // no quant deltas
      e0.put(128, if (mv.refreshGolden) 1 else 0)
      e0.put(128, if (mv.refreshAltref) 1 else 0)
      if (!mv.refreshGolden) e0.literal(2, 0) // copy_to_golden: none
      if (!mv.refreshAltref) e0.literal(2, 0) // copy_to_altref: none
      e0.put(128, 0) // sign_bias_golden
      e0.put(128, 0) // sign_bias_altref
      e0.put(128, 1) // refresh_entropy_probs (no updates follow → defaults persist)
      e0.put(128, 1) // refresh_last
      var pi = 0
      while (pi < 4 * 8 * 3 * 11) { e0.put(coeffUpdateProbs(pi), 0); pi += 1 }
      e0.put(128, 1) // mb_no_coeff_skip
      e0.literal(8, 128) // prob_skip_false
      e0.literal(8, 128) // prob_intra
      e0.literal(8, 128) // prob_last
      e0.literal(8, 128) // prob_gf
      e0.put(128, 0) // y mode probs: no update
      e0.put(128, 0) // uv mode probs: no update
      var c2 = 0
      while (c2 < 2) {
        var i = 0
        while (i < 19) { e0.put(Vp8Video.mvUpdateProbs(c2)(i), 0); i += 1 }
        c2 += 1
      }
      val grid = Array.fill(mbW * mbH)(Vp8Video.OutsideMb)
      val aboveMvX = new Array[Int](mbW * 4)
      val aboveMvY = new Array[Int](mbW * 4)
      val leftMvX = new Array[Int](4)
      val leftMvY = new Array[Int](4)
      mbY = 0
      while (mbY < mbH) {
        java.util.Arrays.fill(leftMvX, 0)
        java.util.Arrays.fill(leftMvY, 0)
        var mbX = 0
        while (mbX < mbW) {
          e0.put(128, if (skips(mbY * mbW + mbX)) 1 else 0) // skip
          val intra = intraAt(mbX, mbY)
          // intra MBs contribute zero MVs to the sub-MV contexts
          val (smX, smY) =
            if (intra.isDefined) (new Array[Int](16), new Array[Int](16))
            else subMvsOf(mbX, mbY)
          intra match {
            case Some(yMode) =>
              e0.put(128, 0) // is_inter = 0
              e0.tree(Vp8Video.yModeTree, Vp8Video.yModeDefaultProbs, 0, yMode)
              e0.tree(uvModeTree, Vp8Video.uvModeDefaultProbs, 0, 0) // chroma DC
              grid(mbY * mbW + mbX) = Vp8Video.OutsideMb
            case None =>
              e0.put(128, 1) // is_inter
              if (mv.ref == 0) e0.put(128, 0) // LAST
              else {
                e0.put(128, 1)
                e0.put(128, if (mv.ref == 1) 0 else 1) // GOLDEN / ALTREF
              }
              val (bestX0, bestY0, nearestX0, nearestY0, nearX0, nearY0, cnt) =
                Vp8Video.findNearMvs(grid, mbW, mbX, mbY, curBias = false, _ => false)
              val (bestX, bestY) = Vp8Video.clampMv(bestX0, bestY0, mbX, mbY, mbW, mbH)
              val (nearestX, nearestY) = Vp8Video.clampMv(nearestX0, nearestY0, mbX, mbY, mbW, mbH)
              val (nearX, nearY) = Vp8Video.clampMv(nearX0, nearY0, mbX, mbY, mbW, mbH)
              val mp = Array(
                Vp8Video.modeContexts(cnt(0))(0), Vp8Video.modeContexts(cnt(1))(1),
                Vp8Video.modeContexts(cnt(2))(2), Vp8Video.modeContexts(cnt(3))(3))
              splitAt(mbX, mbY) match {
                case Some((part, mvs)) =>
                  e0.tree(Vp8Video.mvRefTree, mp, 0, 4) // SPLIT
                  e0.tree(Vp8Video.splitPartTree, Vp8Video.splitPartProbs, 0, part)
                  val fill = Vp8Video.splitFills(part)
                  var k = 0
                  while (k < Vp8Video.splitCounts(part)) {
                    var fi = 0
                    while (fill(fi) != k) fi += 1
                    val sx = fi & 3; val sy = fi >> 2
                    val lX = if (sx == 0) leftMvX(sy) else smX(fi - 1)
                    val lY = if (sx == 0) leftMvY(sy) else smY(fi - 1)
                    val aX = if (sy == 0) aboveMvX(mbX * 4 + sx) else smX(fi - 4)
                    val aY = if (sy == 0) aboveMvY(mbX * 4 + sx) else smY(fi - 4)
                    val lez = lX == 0 && lY == 0
                    val aez = aX == 0 && aY == 0
                    val lea = lX == aX && lY == aY
                    val ctx =
                      if (lea && lez) 4 else if (lea) 3
                      else if (aez) 2 else if (lez) 1 else 0
                    val (vx, vy) = mvs(k)
                    val probs = Vp8Video.subMvRefProbs(ctx)
                    if (vx == lX && vy == lY)
                      e0.tree(Vp8Video.subMvRefTree, probs, 0, 0) // LEFT
                    else if (vx == aX && vy == aY)
                      e0.tree(Vp8Video.subMvRefTree, probs, 0, 1) // ABOVE
                    else if (vx == 0 && vy == 0)
                      e0.tree(Vp8Video.subMvRefTree, probs, 0, 2) // ZERO
                    else {
                      e0.tree(Vp8Video.subMvRefTree, probs, 0, 3) // NEW
                      putMvComponent(e0, Vp8Video.mvDefaultProbs(0), vy - bestY)
                      putMvComponent(e0, Vp8Video.mvDefaultProbs(1), vx - bestX)
                    }
                    k += 1
                  }
                  grid(mbY * mbW + mbX) = Vp8Video.MbInfo(mv.ref, smX(15), smY(15), split = true)
                case None =>
                  val dx8 = smX(0); val dy8 = smY(0)
                  if (dx8 == 0 && dy8 == 0)
                    e0.tree(Vp8Video.mvRefTree, mp, 0, 0) // ZERO
                  else if (dx8 == nearestX && dy8 == nearestY)
                    e0.tree(Vp8Video.mvRefTree, mp, 0, 1) // NEAREST
                  else if (dx8 == nearX && dy8 == nearY)
                    e0.tree(Vp8Video.mvRefTree, mp, 0, 2) // NEAR
                  else {
                    e0.tree(Vp8Video.mvRefTree, mp, 0, 3) // NEW
                    putMvComponent(e0, Vp8Video.mvDefaultProbs(0), dy8 - bestY)
                    putMvComponent(e0, Vp8Video.mvDefaultProbs(1), dx8 - bestX)
                  }
                  grid(mbY * mbW + mbX) = Vp8Video.MbInfo(mv.ref, dx8, dy8, split = false)
              }
          }
          var sb2 = 0
          while (sb2 < 4) {
            leftMvX(sb2) = smX(sb2 * 4 + 3); leftMvY(sb2) = smY(sb2 * 4 + 3)
            aboveMvX(mbX * 4 + sb2) = smX(12 + sb2)
            aboveMvY(mbX * 4 + sb2) = smY(12 + sb2)
            sb2 += 1
          }
          mbX += 1
        }
        mbY += 1
      }
      val part0 = e0.result()

      // ---- part 1: tokens (Y2 empty + AC-only Y + empty chroma for
      // non-skipped MBs; nothing for skipped ones)
      val e1 = new Vp8BoolEnc
      val aboveNz = new Array[Int](mbW * 9)
      val leftNz = new Array[Int](9)
      val yNz = new Array[Int](16)
      def putBlock(lv: Array[Int], typ: Int, first: Int, ctx0: Int): Int = {
        var last = -1
        var i = first
        while (i < 16) { if (lv(zigzag(i)) != 0) last = i; i += 1 }
        var n = first
        var ctx = ctx0
        var from = 0
        while (n <= last) {
          val off = ((typ * 8 + bands(n)) * 3 + ctx) * 11
          val lvl = lv(zigzag(n))
          val a = math.abs(lvl)
          if (a == 0) { e1.tree(tokenTree, probsDefault, off, 1, from); ctx = 0; from = 2 }
          else {
            if (a == 1) { e1.tree(tokenTree, probsDefault, off, 2, from); ctx = 1 }
            else if (a <= 4) { e1.tree(tokenTree, probsDefault, off, a + 1, from); ctx = 2 }
            else {
              var cat = 5
              while (cat > 0 && a < catBase(cat)) cat -= 1
              e1.tree(tokenTree, probsDefault, off, 6 + cat, from); ctx = 2
              val cp = cats(cat)
              val extra = a - catBase(cat)
              var k = cp.length - 1
              var bi = 0
              while (k >= 0) { e1.put(cp(bi), (extra >> k) & 1); k -= 1; bi += 1 }
            }
            e1.put(128, if (lvl < 0) 1 else 0)
            from = 0
          }
          n += 1
        }
        if (last < 15) {
          val off = ((typ * 8 + bands(last + 1)) * 3 + ctx) * 11
          e1.tree(tokenTree, probsDefault, off, 0, from)
        }
        if (last >= first) 1 else 0
      }
      val zeroLv = new Array[Int](16)
      mbY = 0
      while (mbY < mbH) {
        java.util.Arrays.fill(leftNz, 0)
        var mbX = 0
        while (mbX < mbW) {
          if (skips(mbY * mbW + mbX)) {
            var k = 0
            while (k < 9) { leftNz(k) = 0; aboveNz(mbX * 9 + k) = 0; k += 1 }
          } else {
            // Y2: present (whole-MB inter mode) but all-zero
            val y2Ctx = leftNz(8) + aboveNz(mbX * 9 + 8)
            putBlock(zeroLv, 1, 0, y2Ctx)
            leftNz(8) = 0; aboveNz(mbX * 9 + 8) = 0
            var sb = 0
            while (sb < 16) {
              val sx = sb & 3; val sy = sb >> 2
              val ctx = (if (sx == 0) leftNz(sy) else yNz(sb - 1)) +
                (if (sy == 0) aboveNz(mbX * 9 + sx) else yNz(sb - 4))
              val nz = putBlock(levels((mbY * mbW + mbX) * 16 + sb), 0, 1, ctx)
              yNz(sb) = nz
              if (sx == 3) leftNz(sy) = nz
              if (sy == 3) aboveNz(mbX * 9 + sx) = nz
              sb += 1
            }
            var pl = 0
            while (pl < 2) {
              val base = 4 + pl * 2
              var cb = 0
              while (cb < 4) {
                val sx = cb & 1; val sy = cb >> 1
                val ctx = (if (sx == 0) leftNz(base + sy) else 0) +
                  (if (sy == 0) aboveNz(mbX * 9 + base + sx) else 0)
                putBlock(zeroLv, 2, 0, ctx)
                if (sx == 1) leftNz(base + sy) = 0
                if (sy == 1) aboveNz(mbX * 9 + base + sx) = 0
                cb += 1
              }
              pl += 1
            }
          }
          mbX += 1
        }
        mbY += 1
      }
      val part1 = e1.result()

      val part0Len = part0.length
      require(part0Len < (1 << 19), "first partition too large")
      val tag = (part0Len << 5) | (1 << 4) | 1 // show_frame, interframe
      val frame = new java.io.ByteArrayOutputStream()
      frame.write(tag & 0xff); frame.write((tag >> 8) & 0xff); frame.write((tag >> 16) & 0xff)
      frame.write(part0, 0, part0.length)
      frame.write(part1, 0, part1.length)
      out += frame.toByteArray

      // roll the reference state forward, mirroring the decoder's §9.7
      // order (chroma stays flat 128)
      val recon = graft.kernel.Vp8Video.RefFrame(w, h, curY,
        Array.fill(mbW * 8 * mbH * 8)(128), Array.fill(mbW * 8 * mbH * 8)(128))
      if (mv.refreshGolden) refGolden = recon
      if (mv.refreshAltref) refAltref = recon
      refLast = recon
    }
    out.result()
  }

  // ============================================================== WebM

  /** The raw VP8 keyframe inside [[vp8]]'s RIFF/WEBP container —
    * WebM SimpleBlocks carry the bare frame, not the RIFF wrapper.
    */
  private def vp8RawFrame(luma: Array[Int], w: Int, h: Int, qi: Int): Array[Byte] = {
    val riff = vp8(luma, w, h, qi)
    val len = (riff(16) & 0xff) | ((riff(17) & 0xff) << 8) |
      ((riff(18) & 0xff) << 16) | ((riff(19) & 0xff) << 24)
    java.util.Arrays.copyOfRange(riff, 20, 20 + len)
  }

  // EBML element writers (RFC 8794): id bytes as written on the wire,
  // minimal-length size vint, big-endian numeric bodies
  private def ebmlSize(v: Long): Array[Byte] = {
    require(v >= 0)
    var len = 1
    while (len < 8 && v >= (1L << (7 * len)) - 1) len += 1 // reserve all-ones
    val out = new Array[Byte](len)
    var i = len - 1
    var x = v
    while (i >= 0) { out(i) = (x & 0xff).toByte; x >>= 8; i -= 1 }
    out(0) = (out(0) | (0x100 >> len)).toByte
    out
  }
  private def ebmlId(id: Long): Array[Byte] = {
    val len = if (id <= 0xff) 1 else if (id <= 0xffff) 2
      else if (id <= 0xffffff) 3 else 4
    Array.tabulate(len)(i => ((id >> (8 * (len - 1 - i))) & 0xff).toByte)
  }
  private def el(id: Long, body: Array[Byte]*): Array[Byte] = {
    val b = body.flatten.toArray
    ebmlId(id) ++ ebmlSize(b.length) ++ b
  }
  private def uintEl(id: Long, v: Long): Array[Byte] = {
    var len = 1
    while (len < 8 && v >= (1L << (8 * len))) len += 1
    el(id, Array.tabulate(len)(i => ((v >> (8 * (len - 1 - i))) & 0xff).toByte))
  }
  private def floatEl(id: Long, v: Float): Array[Byte] =
    el(id, be32(java.lang.Float.floatToIntBits(v)))
  private def strEl(id: Long, s: String): Array[Byte] =
    el(id, s.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1))

  /** Matroska/WebM mux of raw codec frames (for `V_VP8`, real keyframes
    * from [[vp8]] — [[graft.kernel.Webm.firstVideoFrame]] +
    * [[graft.kernel.Vp8.decodeFrame]] then recover REAL pixels from the
    * container). One cluster per 8 frames, keyframe-flagged
    * SimpleBlocks, ms timecode scale. Optional audio track
    * (`A_OPUS`-labelled random payloads — codec-library boundary).
    */
  def webm(frames: Seq[Array[Byte]], w: Int, h: Int, fps: Int,
           codecId: String = "V_VP8",
           audioRate: Int = 0, audioBlocks: Int = 0,
           unknownSegmentSize: Boolean = false): Array[Byte] = {
    require(frames.nonEmpty && fps > 0)
    val header = el(0x1a45dfa3L,
      uintEl(0x4286L, 1), uintEl(0x42f7L, 1), uintEl(0x42f2L, 4),
      uintEl(0x42f3L, 8), strEl(0x4282L, "webm"),
      uintEl(0x4287L, 2), uintEl(0x4285L, 2))
    val durMs = frames.size * 1000.0f / fps
    val info = el(0x1549a966L,
      uintEl(0x2ad7b1L, 1000000L), floatEl(0x4489L, durMs))
    val videoEntry = el(0xaeL,
      uintEl(0xd7L, 1), uintEl(0x83L, 1), strEl(0x86L, codecId),
      el(0xe0L, uintEl(0xb0L, w), uintEl(0xbaL, h)))
    val audioEntry =
      if (audioRate <= 0) Array.emptyByteArray
      else el(0xaeL,
        uintEl(0xd7L, 2), uintEl(0x83L, 2), strEl(0x86L, "A_OPUS"),
        el(0xe1L, floatEl(0xb5L, audioRate.toFloat)))
    val tracks = el(0x1654ae6bL, videoEntry, audioEntry)
    def simpleBlock(track: Int, tcRel: Int, payload: Array[Byte]): Array[Byte] =
      el(0xa3L, Array((0x80 | track).toByte,
        ((tcRel >> 8) & 0xff).toByte, (tcRel & 0xff).toByte,
        0x80.toByte), payload)
    val r = new Random(w * 31 + h)
    val audioPayloads = Seq.fill(audioBlocks)(body(r, 48))
    val clusters = frames.zipWithIndex.grouped(8).map { grp =>
      val baseTc = grp.head._2 * 1000L / fps
      val blocks = grp.flatMap { case (f, i) =>
        simpleBlock(1, (i * 1000 / fps - baseTc).toInt, f)
      }
      val audio = if (grp.head._2 == 0)
        audioPayloads.zipWithIndex.flatMap { case (a, i) => simpleBlock(2, i, a) }
      else Seq.empty[Byte]
      el(0x1f43b675L, uintEl(0xe7L, baseTc), blocks.toArray, audio.toArray)
    }.toSeq
    val segBody = (Seq(info, tracks) ++ clusters).flatten.toArray
    val segment =
      if (unknownSegmentSize)
        // streamed form: size = all-ones 1-byte vint (unknown, to EOF)
        ebmlId(0x18538067L) ++ Array(0xff.toByte) ++ segBody
      else el(0x18538067L, segBody)
    header ++ segment
  }

  /** Convenience: encode luma planes through the real VP8 encoder and
    * mux them.
    */
  def webmVp8(lumaFrames: Seq[Array[Int]], w: Int, h: Int, fps: Int,
              qi: Int = 12, audioRate: Int = 0, audioBlocks: Int = 0): Array[Byte] =
    webm(lumaFrames.map(l => vp8RawFrame(l, w, h, qi)), w, h, fps,
      "V_VP8", audioRate, audioBlocks)

  // ============================================================ MP3 / Ogg

  /** MPEG-1/2 Layer III frame stream (headers per 11172-3 §2.4.1.3;
    * payloads are deterministic junk — the header walk is what the
    * probe parses). Optional ID3v2 prefix with a syncsafe length.
    */
  def mp3(frames: Int, bitrateIdx: Int = 9, srIdx: Int = 0,
          mono: Boolean = false, id3Body: Int = 0, vbr: Boolean = false,
          mpeg2: Boolean = false, seed: Long = 7L): Array[Byte] = {
    require(frames > 0 && bitrateIdx >= 1 && bitrateIdx <= 14 && srIdx >= 0 && srIdx <= 2)
    val r = new Random(seed)
    val out = new java.io.ByteArrayOutputStream()
    if (id3Body > 0) {
      out.write("ID3".getBytes); out.write(4); out.write(0); out.write(0)
      out.write((id3Body >> 21) & 0x7f); out.write((id3Body >> 14) & 0x7f)
      out.write((id3Body >> 7) & 0x7f); out.write(id3Body & 0x7f)
      out.write(body(r, id3Body))
    }
    val v1Rates = Array(44100, 48000, 32000)
    val sr = if (mpeg2) v1Rates(srIdx) / 2 else v1Rates(srIdx)
    val brTab =
      if (mpeg2) Array(0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160)
      else Array(0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320)
    val spf = if (mpeg2) 576 else 1152
    (0 until frames).foreach { i =>
      val bi = if (vbr && i % 2 == 1) math.max(1, bitrateIdx - 2) else bitrateIdx
      val len = spf / 8 * brTab(bi) * 1000 / sr
      out.write(0xff)
      out.write(0xe0 | ((if (mpeg2) 2 else 3) << 3) | (1 << 1) | 1) // layer III, no CRC
      out.write((bi << 4) | (srIdx << 2)) // no padding
      out.write(if (mono) 0xc0 else 0x00)
      val junk = body(r, len - 4)
      var j = 0 // frame bodies must not fake a sync run at a frame start
      while (j < junk.length) { if ((junk(j) & 0xff) == 0xff) junk(j) = 0x7f; j += 1 }
      out.write(junk)
    }
    out.toByteArray
  }

  /** One Ogg page (RFC 3533): 255-chunked lacing, CRC left zero (the
    * probe reads structure, not integrity).
    */
  private def oggPage(htype: Int, granule: Long, serial: Int, seq: Int,
                      payload: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    out.write("OggS".getBytes); out.write(0); out.write(htype)
    (0 until 8).foreach(i => out.write(((granule >> (8 * i)) & 0xff).toInt))
    out.write(le32(serial)); out.write(le32(seq)); out.write(le32(0))
    val full = payload.length / 255
    val rem = payload.length % 255
    out.write(full + 1)
    (0 until full).foreach(_ => out.write(255))
    out.write(rem)
    out.write(payload)
    out.toByteArray
  }

  /** Ogg Opus stream (RFC 7845): OpusHead BOS page, OpusTags page, then
    * audio pages whose granules tick at 48 kHz offset by pre-skip.
    */
  def oggOpus(channels: Int, inputRate: Int, preSkip: Int,
              audioPages: Int, samplesPerPage: Int, seed: Long = 7L): Array[Byte] = {
    val r = new Random(seed)
    val head = "OpusHead".getBytes ++ Array[Byte](1, channels.toByte) ++
      le16(preSkip) ++ le32(inputRate) ++ le16(0) ++ Array[Byte](0)
    val tags = "OpusTags".getBytes ++ le32(0) ++ le32(0)
    val out = new java.io.ByteArrayOutputStream()
    out.write(oggPage(0x02, 0L, 0x1234, 0, head))
    out.write(oggPage(0x00, 0L, 0x1234, 1, tags))
    (0 until audioPages).foreach { i =>
      out.write(oggPage(0x00, preSkip + (i + 1).toLong * samplesPerPage,
        0x1234, 2 + i, body(r, 40 + r.nextInt(600))))
    }
    out.toByteArray
  }

  /** Ogg Vorbis stream (Vorbis I §4.2.2 id header; granules in native
    * sample-rate units).
    */
  def oggVorbis(channels: Int, rate: Int, audioPages: Int,
                samplesPerPage: Int, seed: Long = 7L): Array[Byte] = {
    val r = new Random(seed)
    val head = Array[Byte](1) ++ "vorbis".getBytes ++ le32(0) ++
      Array[Byte](channels.toByte) ++ le32(rate) ++
      le32(0) ++ le32(0) ++ le32(0) ++ Array[Byte](0x44, 1)
    val out = new java.io.ByteArrayOutputStream()
    out.write(oggPage(0x02, 0L, 0x777, 0, head))
    (0 until audioPages).foreach { i =>
      out.write(oggPage(0x00, (i + 1).toLong * samplesPerPage,
        0x777, 1 + i, body(r, 40 + r.nextInt(600))))
    }
    out.toByteArray
  }

  /** Test hook: a single BOS page around an arbitrary first packet
    * (for exercising the unknown-codec rejection path).
    */
  def oggPageForTest(payload: Array[Byte]): Array[Byte] =
    oggPage(0x02, 0L, 1, 0, payload)

  /** A VP9 keyframe whose UNCOMPRESSED HEADER is real (§6.2 bit
    * layout — marker, profile, sync code, color config, frame/render
    * size) followed by junk tile data: [[graft.kernel.Vp9]] parses
    * exactly the declarative prefix, like the H.264 SPS.
    */
  def vp9Keyframe(w: Int, h: Int, profile: Int = 0,
                  renderW: Int = 0, renderH: Int = 0,
                  junk: Int = 64, seed: Long = 3L): Array[Byte] = {
    require(w >= 1 && h >= 1 && profile >= 0 && profile <= 3)
    val b = new BitW
    b.u(2L, 2) // frame_marker
    b.u(profile & 1L, 1).u((profile >> 1) & 1L, 1)
    if (profile == 3) b.u(0L, 1)
    b.u(0L, 1) // show_existing_frame
    b.u(0L, 1) // frame_type KEY
    b.u(1L, 1) // show_frame
    b.u(0L, 1) // error_resilient_mode
    b.u(0x498342L, 24) // frame_sync_code
    if (profile >= 2) b.u(0L, 1) // 10-bit
    b.u(1L, 3) // color_space BT.601
    b.u(0L, 1) // color_range
    if (profile == 1 || profile == 3) { b.u(1L, 1); b.u(1L, 1); b.u(0L, 1) }
    b.u(w - 1L, 16).u(h - 1L, 16)
    if (renderW > 0) b.u(1L, 1).u(renderW - 1L, 16).u(renderH - 1L, 16)
    else b.u(0L, 1)
    b.bytes ++ body(new Random(seed), junk)
  }

  // ============================================================== feeds

  /** RSS 2.0 feed fixture: `items` = (title, link, guid, rfc822 pubDate,
    * description). Descriptions ship as CDATA (the wild-RSS norm) and
    * titles carry entities.
    */
  def rssFeed(feedTitle: String, feedLink: String,
              items: Seq[(String, String, String, String, String)],
              gzip: Boolean = false): Array[Byte] = {
    val sb = new StringBuilder
    sb ++= "<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n"
    sb ++= "<rss version=\"2.0\" xmlns:dc=\"http://purl.org/dc/elements/1.1/\">\n<channel>\n"
    sb ++= s"<title>${xmlEsc(feedTitle)}</title>\n<link>$feedLink</link>\n"
    sb ++= "<description>fixture</description>\n"
    items.foreach { case (t, l, g, d, desc) =>
      sb ++= "<item>\n"
      sb ++= s"<title>${xmlEsc(t)}</title>\n<link>$l</link>\n"
      sb ++= s"<guid isPermaLink=\"false\">$g</guid>\n"
      if (d.nonEmpty) sb ++= s"<pubDate>$d</pubDate>\n"
      sb ++= s"<description><![CDATA[$desc]]></description>\n</item>\n"
    }
    sb ++= "</channel>\n</rss>\n"
    val raw = sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    if (!gzip) raw else {
      val bo = new java.io.ByteArrayOutputStream()
      val gz = new java.util.zip.GZIPOutputStream(bo)
      gz.write(raw); gz.finish()
      bo.toByteArray
    }
  }

  /** Atom 1.0 feed fixture: `entries` = (title, href, id, w3c updated,
    * summary). Each entry also carries a rel=enclosure link BEFORE the
    * alternate one — parsers must pick the alternate.
    */
  def atomFeed(feedTitle: String, feedHref: String,
               entries: Seq[(String, String, String, String, String)]): Array[Byte] = {
    val sb = new StringBuilder
    sb ++= "<?xml version=\"1.0\" encoding=\"utf-8\"?>\n"
    sb ++= "<feed xmlns=\"http://www.w3.org/2005/Atom\">\n"
    sb ++= s"<title>${xmlEsc(feedTitle)}</title>\n"
    sb ++= s"<link rel=\"self\" href=\"$feedHref/feed.xml\"/>\n"
    sb ++= s"<link rel=\"alternate\" href=\"$feedHref\"/>\n"
    entries.foreach { case (t, href, id, upd, sum) =>
      sb ++= "<entry>\n"
      sb ++= s"<title>${xmlEsc(t)}</title>\n"
      sb ++= s"<link rel=\"enclosure\" href=\"$href.mp3\" type=\"audio/mpeg\"/>\n"
      sb ++= s"<link rel=\"alternate\" href=\"$href\"/>\n"
      sb ++= s"<id>$id</id>\n<updated>$upd</updated>\n"
      sb ++= s"<summary>${xmlEsc(sum)}</summary>\n</entry>\n"
    }
    sb ++= "</feed>\n"
    sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8)
  }

  private def xmlEsc(s: String): String =
    s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")

  // ============================================================== WARC

  /** WARC archive fixture writer (crawl convention: each record is its
    * own gzip member, members concatenated) — the co-designed input for
    * [[graft.sources.Warc]]. Pages become `response` records wrapped in
    * a minimal HTTP response; a leading `warcinfo` record exercises the
    * skip path.
    */
  def warcGz(pages: Seq[(String, java.sql.Timestamp, Array[Byte])],
             gzipMembers: Boolean = true): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    def member(record: Array[Byte]): Unit =
      if (gzipMembers) {
        val gz = new java.util.zip.GZIPOutputStream(out)
        gz.write(record); gz.finish()
      } else out.write(record)
    warcInto(pages, member)
    out.toByteArray
  }

  /** `.warc.zst` fixture twin of [[warcGz]] (IIPC zstd-WARC convention):
    * one zstd frame per record; with `dict`, a leading SKIPPABLE frame
    * (magic 0x184D2A5D) carries the shared raw-content dictionary —
    * itself zstd-compressed when `compressDict` — and every record frame
    * is compressed against it.
    */
  def warcZst(pages: Seq[(String, java.sql.Timestamp, Array[Byte])],
              dict: Option[Array[Byte]] = None,
              compressDict: Boolean = false): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    dict.foreach { d =>
      val content = if (compressDict) com.github.luben.zstd.Zstd.compress(d, 3) else d
      out.write(Array(0x5d, 0x2a, 0x4d, 0x18).map(_.toByte)) // LE 0x184D2A5D
      val n = content.length
      out.write(Array(n & 0xff, (n >> 8) & 0xff, (n >> 16) & 0xff, (n >> 24) & 0xff)
        .map(_.toByte))
      out.write(content)
    }
    def member(record: Array[Byte]): Unit = {
      val z = new com.github.luben.zstd.ZstdOutputStream(out, 3)
      dict.foreach(z.setDict)
      z.write(record)
      z.close() // ends the frame; ByteArrayOutputStream ignores the close
    }
    warcInto(pages, member)
    out.toByteArray
  }

  /** warcGz twin whose HTTP responses use REAL wire encodings — the form
    * heritrix/wget actually capture. `encodings(i)` picks page i's shape:
    * `"identity"` (plain, as [[warcGz]]), `"chunked"` (RFC 9112 §7.1
    * framing with a chunk extension and a trailer field), `"gzip"`,
    * `"deflate"` (zlib-wrapped), `"deflate-raw"` (the historic bare-
    * deflate server bug), `"zstd"`, `"chunked+gzip"` (content coding
    * inside transfer coding), `"br"` (bytes gzip'd but labeled br — the
    * UNDECODABLE case: readers must fall back to the raw body).
    */
  def warcGzHttp(pages: Seq[(String, java.sql.Timestamp, Array[Byte])],
                 encodings: Seq[String]): Array[Byte] = {
    require(pages.length == encodings.length, "one encoding per page")
    val out = new java.io.ByteArrayOutputStream()
    def member(record: Array[Byte]): Unit = {
      val gz = new java.util.zip.GZIPOutputStream(out)
      gz.write(record); gz.finish()
    }
    def crlf(lines: Seq[String]): String = lines.mkString("", "\r\n", "\r\n")
    var i = -1
    warcInto(pages, member, http = { html =>
      i += 1
      val (hdrs, body) = encodedHttpBody(html, encodings(i))
      (crlf(Seq("HTTP/1.1 200 OK",
        "Content-Type: text/html; charset=UTF-8") ++ hdrs ++ Seq(""))
        .getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)) ++ body
    })
    out.toByteArray
  }

  /** `(extra HTTP headers, encoded body)` for one wire shape. */
  private def encodedHttpBody(html: Array[Byte],
                              encoding: String): (Seq[String], Array[Byte]) = {
    def gz(b: Array[Byte]): Array[Byte] = {
      val bo = new java.io.ByteArrayOutputStream()
      val g = new java.util.zip.GZIPOutputStream(bo)
      g.write(b); g.finish()
      bo.toByteArray
    }
    def defl(b: Array[Byte], zlibWrapped: Boolean): Array[Byte] = {
      val d = new java.util.zip.Deflater(6, !zlibWrapped)
      try {
        d.setInput(b); d.finish()
        val bo = new java.io.ByteArrayOutputStream()
        val buf = new Array[Byte](8192)
        while (!d.finished()) bo.write(buf, 0, d.deflate(buf))
        bo.toByteArray
      } finally d.end()
    }
    // chunk sizes deliberately uneven; first chunk carries an extension
    // and the last-chunk line is followed by a trailer field — both must
    // be tolerated per RFC 9112
    def chunk(b: Array[Byte]): Array[Byte] = {
      val bo = new java.io.ByteArrayOutputStream()
      val crlfB = "\r\n".getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
      var p = 0
      var first = true
      while (p < b.length) {
        val n = math.min(if (first) 7 else 611, b.length - p)
        val ext = if (first) ";graft=1" else ""
        bo.write(s"${n.toHexString}$ext".getBytes); bo.write(crlfB)
        bo.write(b, p, n); bo.write(crlfB)
        p += n
        first = false
      }
      bo.write("0\r\nX-Trailer: done\r\n\r\n".getBytes)
      bo.toByteArray
    }
    encoding match {
      case "identity" =>
        (Seq(s"Content-Length: ${html.length}"), html)
      case "chunked" =>
        (Seq("Transfer-Encoding: chunked"), chunk(html))
      case "gzip" =>
        val b = gz(html); (Seq("Content-Encoding: gzip", s"Content-Length: ${b.length}"), b)
      case "deflate" =>
        val b = defl(html, zlibWrapped = true)
        (Seq("Content-Encoding: deflate", s"Content-Length: ${b.length}"), b)
      case "deflate-raw" =>
        val b = defl(html, zlibWrapped = false)
        (Seq("Content-Encoding: deflate", s"Content-Length: ${b.length}"), b)
      case "zstd" =>
        val b = com.github.luben.zstd.Zstd.compress(html, 3)
        (Seq("Content-Encoding: zstd", s"Content-Length: ${b.length}"), b)
      case "chunked+gzip" =>
        (Seq("Content-Encoding: gzip", "Transfer-Encoding: chunked"), chunk(gz(html)))
      case "br" => // labeled br, bytes gzip — readers cannot decode this
        val b = gz(html)
        (Seq("Content-Encoding: br", s"Content-Length: ${b.length}"), b)
      case other => throw new IllegalArgumentException(s"unknown encoding '$other'")
    }
  }

  /** WARC archive whose responses carry explicit HTTP statuses —
    * `entries` = `(url, ts, status, location, body)`; 3xx rows get a
    * `Location` header (the redirect-graph fixture for
    * [[graft.sources.Warc.readResponses]]).
    */
  def warcGzStatus(entries: Seq[(String, java.sql.Timestamp, Int, String, Array[Byte])]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    def member(record: Array[Byte]): Unit = {
      val gz = new java.util.zip.GZIPOutputStream(out)
      gz.write(record); gz.finish()
    }
    def crlf(lines: Seq[String]): String = lines.mkString("", "\r\n", "\r\n")
    val reasons = Map(200 -> "OK", 301 -> "Moved Permanently", 302 -> "Found",
      404 -> "Not Found", 500 -> "Internal Server Error")
    entries.foreach { case (url, ts, status, location, bodyBytes) =>
      val date = java.time.Instant.ofEpochMilli(ts.getTime).toString
      val http = (crlf(Seq(
        s"HTTP/1.1 $status ${reasons.getOrElse(status, "Status")}") ++
        (if (location.nonEmpty) Seq(s"Location: $location") else Nil) ++ Seq(
        "Content-Type: text/html; charset=UTF-8",
        s"Content-Length: ${bodyBytes.length}",
        "")).getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)) ++ bodyBytes
      member((crlf(Seq(
        "WARC/1.1",
        "WARC-Type: response",
        s"WARC-Target-URI: $url",
        s"WARC-Date: $date",
        s"Content-Length: ${http.length}",
        "Content-Type: application/http; msgtype=response",
        "")).getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
        ) ++ http ++ "\r\n\r\n".getBytes)
    }
    out.toByteArray
  }

  /** [[warcGz]] plus `revisit` records (ISO 28500 §6.7.2
    * identical-payload-digest profile): each `(url, ts, refersToUrl)`
    * emits a revisit pointing at that page's payload via
    * `WARC-Payload-Digest: sha256:<hex>` + `WARC-Refers-To-Target-URI`,
    * with an HTTP-headers-only block (the convention — the payload is
    * NOT restored).
    */
  def warcGzWithRevisits(pages: Seq[(String, java.sql.Timestamp, Array[Byte])],
                         revisits: Seq[(String, java.sql.Timestamp, String)]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    def member(record: Array[Byte]): Unit = {
      val gz = new java.util.zip.GZIPOutputStream(out)
      gz.write(record); gz.finish()
    }
    warcInto(pages, member)
    def crlf(lines: Seq[String]): String = lines.mkString("", "\r\n", "\r\n")
    val byUrl = pages.map(p => p._1 -> p._3).toMap
    revisits.foreach { case (url, ts, refersTo) =>
      val payload = byUrl.getOrElse(refersTo,
        throw new IllegalArgumentException(s"revisit refers to unknown $refersTo"))
      val digest = java.security.MessageDigest.getInstance("SHA-256")
        .digest(payload).map(b => f"$b%02x").mkString
      val http = crlf(Seq(
        "HTTP/1.1 200 OK",
        "Content-Type: text/html; charset=UTF-8",
        "")).getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
      member((crlf(Seq(
        "WARC/1.1",
        "WARC-Type: revisit",
        s"WARC-Target-URI: $url",
        s"WARC-Date: ${java.time.Instant.ofEpochMilli(ts.getTime)}",
        s"WARC-Refers-To-Target-URI: $refersTo",
        s"WARC-Payload-Digest: sha256:$digest",
        "WARC-Profile: http://netpreserve.org/warc/1.1/revisit/identical-payload-digest",
        s"Content-Length: ${http.length}",
        "Content-Type: application/http; msgtype=response",
        "")).getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
        ) ++ http ++ "\r\n\r\n".getBytes)
    }
    out.toByteArray
  }

  private def httpPlain(html: Array[Byte]): Array[Byte] = {
    def crlf(lines: Seq[String]): String = lines.mkString("", "\r\n", "\r\n")
    (crlf(Seq(
      "HTTP/1.1 200 OK",
      "Content-Type: text/html; charset=UTF-8",
      s"Content-Length: ${html.length}",
      "")).getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)) ++ html
  }

  private def warcInto(pages: Seq[(String, java.sql.Timestamp, Array[Byte])],
                       member: Array[Byte] => Unit,
                       http: Array[Byte] => Array[Byte] = httpPlain): Unit = {
    def crlf(lines: Seq[String]): String = lines.mkString("", "\r\n", "\r\n")
    val info = "software: graft-fixtures\r\nformat: WARC File Format 1.1\r\n"
      .getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
    member((crlf(Seq(
      "WARC/1.1",
      "WARC-Type: warcinfo",
      "WARC-Date: 2024-01-01T00:00:00Z",
      s"Content-Length: ${info.length}",
      "Content-Type: application/warc-fields",
      "")).getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
      ++ info ++ "\r\n\r\n".getBytes)
    )
    pages.foreach { case (url, ts, html) =>
      val date = java.time.Instant.ofEpochMilli(ts.getTime).toString
      val httpMsg = http(html)
      val rec = (crlf(Seq(
        "WARC/1.1",
        "WARC-Type: response",
        s"WARC-Target-URI: $url",
        s"WARC-Date: $date",
        s"Content-Length: ${httpMsg.length}",
        "Content-Type: application/http; msgtype=response",
        "")).getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
        ) ++ httpMsg ++ "\r\n\r\n".getBytes
      member(rec)
    }
  }
}
