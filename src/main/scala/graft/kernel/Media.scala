package graft.kernel

/** From-scratch decoders for the multimodal column (SURVEY.md
  * "multimodal binary columns") covering every standard format this
  * sandbox can decode WITHOUT codec libraries:
  *
  *  - BMP: uncompressed BI_RGB, 8/24/32 bpp (plain header + pixel rows);
  *  - WAV: RIFF/WAVE PCM, 8/16-bit (chunked header + raw samples);
  *  - PNG: 8-bit greyscale/RGB/RGBA, non-interlaced — zlib streams via
  *    [[Compress.inflate]] (the capped decoder PDF FlateDecode uses too)
  *    and the five per-row filters of the PNG specification, undone by
  *    [[unfilterPng]] (which the PDF predictors share).
  *
  * JPEG ([[Jpeg]]), lossy WebP and VP8 video ([[Vp8]], [[Vp8Video]])
  * decode in kernels of their own; only codec-library formats such as
  * H.264 video stay behind the documented stub container in
  * [[graft.ops.Multimodal]]. Everything here is a real decode.
  *
  * All functions throw on malformed input — callers isolate failures
  * per-row (C5), mirroring the reference's chunk-failure tolerance
  * (`/root/reference/app/services/ocr.py:75-77`).
  */
object Media {

  final case class Decoded(codec: String, width: Int, height: Int,
                           sampleRate: Int, frames: Int,
                           samples: Array[Int], sampleMax: Int)

  private def le16(b: Array[Byte], o: Int): Int =
    (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8)
  private def le32(b: Array[Byte], o: Int): Int =
    (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8) |
      ((b(o + 2) & 0xff) << 16) | ((b(o + 3) & 0xff) << 24)
  private def be32(b: Array[Byte], o: Int): Int =
    ((b(o) & 0xff) << 24) | ((b(o + 1) & 0xff) << 16) |
      ((b(o + 2) & 0xff) << 8) | (b(o + 3) & 0xff)

  /** BT.601 integer luma — THE cross-decoder contract: every image
    * decoder's grey output goes through these exact weights and this
    * exact rounding, so decoders can never drift from one another.
    */
  private[kernel] def luma601(r: Int, g: Int, b: Int): Int =
    (r * 299 + g * 587 + b * 114) / 1000

  def isBmp(p: Array[Byte]): Boolean =
    p.length >= 2 && p(0) == 'B' && p(1) == 'M'
  def isWav(p: Array[Byte]): Boolean =
    p.length >= 12 && p(0) == 'R' && p(1) == 'I' && p(2) == 'F' && p(3) == 'F' &&
      p(8) == 'W' && p(9) == 'A' && p(10) == 'V' && p(11) == 'E'
  private val PngSig = Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte)
  def isPng(p: Array[Byte]): Boolean =
    p.length >= 8 && java.util.Arrays.equals(java.util.Arrays.copyOf(p, 8), PngSig)
  def isGif(p: Array[Byte]): Boolean =
    p.length >= 6 && p(0) == 'G' && p(1) == 'I' && p(2) == 'F' && p(3) == '8' &&
      (p(4) == '7' || p(4) == '9') && p(5) == 'a'
  def isTiff(p: Array[Byte]): Boolean =
    p.length >= 8 && ((p(0) == 'I' && p(1) == 'I' && p(2) == 42 && p(3) == 0) ||
      (p(0) == 'M' && p(1) == 'M' && p(2) == 0 && p(3) == 42))
  def isAvi(p: Array[Byte]): Boolean =
    p.length >= 12 && p(0) == 'R' && p(1) == 'I' && p(2) == 'F' && p(3) == 'F' &&
      p(8) == 'A' && p(9) == 'V' && p(10) == 'I' && p(11) == ' '
  def isMp4(p: Array[Byte]): Boolean =
    p.length >= 12 && p(4) == 'f' && p(5) == 't' && p(6) == 'y' && p(7) == 'p'

  // ------------------------------------------------- MP4 / ISO-BMFF probe

  final case class Mp4Track(handler: String, codec: String,
                            width: Int, height: Int, sampleRate: Int,
                            sampleCount: Long, durationMs: Long,
                            firstSampleOffset: Long, firstSampleSize: Long)
  final case class Mp4Info(brand: String, durationMs: Long,
                           tracks: Vector[Mp4Track],
                           mdatOffset: Int, mdatLength: Long)

  private def be64(b: Array[Byte], o: Int): Long =
    (be32(b, o).toLong << 32) | (be32(b, o + 4).toLong & 0xffffffffL)

  /** MP4 (ISO/IEC 14496-12 ISO base media file format) box walk —
    * container-level truth for the crawl's video column without a codec
    * library: brand, movie duration, per-track handler ('vide'/'soun'),
    * sample-entry codec fourcc (avc1, hvc1, vp09, mp4a, …), visual
    * dimensions, audio sample rate, sample (frame) count and track
    * duration, plus the `mdat` extent for payload statistics. Frame
    * DECODE stays out of scope (H.264-era entropy coding needs a codec
    * library — the documented stub boundary); everything the container
    * itself declares is parsed for real.
    *
    * Structure per the spec: a file is a sequence of boxes
    * `be32 size | fourcc type | payload` (size 1 → 64-bit largesize
    * follows; size 0 → to end of enclosing scope); `moov`→`trak`→`mdia`→
    * `minf`→`stbl` are pure containers; full boxes (`mvhd`/`mdhd`/…)
    * prefix a version byte that switches 32/64-bit time fields. All
    * reads are bounds-checked — malformed input throws (C5: caller
    * isolates per row).
    */
  // (type, bodyStart, boxEnd) triples of the direct children in
  // [start, end); strict — a box overrunning its parent throws
  private def mp4Boxes(p: Array[Byte], start: Int, end: Int): Vector[(String, Int, Int)] = {
    val out = Vector.newBuilder[(String, Int, Int)]
    var off = start
    while (off < end) {
      require(off + 8 <= end, "truncated box header")
      var size = be32(p, off).toLong & 0xffffffffL
      val typ = new String(p, off + 4, 4, java.nio.charset.StandardCharsets.ISO_8859_1)
      var hdr = 8
      if (size == 1) {
        require(off + 16 <= end, "truncated largesize")
        size = be64(p, off + 8); hdr = 16
      } else if (size == 0) size = (end - off).toLong
      require(size >= hdr && off + size <= end,
        s"bad box size $size for '$typ'")
      out += ((typ, off + hdr, (off + size).toInt))
      off = (off + size).toInt
    }
    out.result()
  }
  private def mp4Find(bs: Vector[(String, Int, Int)], typ: String): Option[(Int, Int)] =
    bs.collectFirst { case (t, b, e) if t == typ => (b, e) }

  def probeMp4(p: Array[Byte]): Mp4Info = {
    require(isMp4(p), "not ISO-BMFF")
    def boxes(start: Int, end: Int): Vector[(String, Int, Int)] = mp4Boxes(p, start, end)
    def find(bs: Vector[(String, Int, Int)], typ: String): Option[(Int, Int)] =
      mp4Find(bs, typ)

    val top = boxes(0, p.length)
    val brand = find(top, "ftyp").map { case (b, e) =>
      require(b + 4 <= e, "truncated ftyp")
      new String(p, b, 4, java.nio.charset.StandardCharsets.ISO_8859_1)
    }.getOrElse("")
    val mdat = find(top, "mdat")
    val (moovB, moovE) = find(top, "moov")
      .getOrElse(throw new IllegalArgumentException("no moov box"))
    val moov = boxes(moovB, moovE)

    // full-box (timescale, duration) with the v0/v1 32/64-bit switch;
    // `at` = offset of the timescale field for version 0
    def timeFields(b: Int, at0: Int): (Long, Long) = {
      val v = p(b) & 0xff
      // v1 widens creation/modification to 64-bit, shifting timescale by
      // +8 and making duration itself 64-bit
      if (v == 1) (be32(p, b + at0 + 8).toLong & 0xffffffffL, be64(p, b + at0 + 12))
      else (be32(p, b + at0).toLong & 0xffffffffL, be32(p, b + at0 + 4).toLong & 0xffffffffL)
    }
    def durMs(b: Int, at0: Int): Long = {
      val (scale, dur) = timeFields(b, at0)
      if (scale == 0) 0L else dur * 1000L / scale
    }
    // mvhd v0: vf(4) cre(4) mod(4) → timescale at body+12
    val movieDurMs = find(moov, "mvhd").map { case (b, _) => durMs(b, 12) }.getOrElse(0L)

    val tracks = moov.collect { case ("trak", tb, te) =>
      val trak = boxes(tb, te)
      val (mdiaB, mdiaE) = find(trak, "mdia")
        .getOrElse(throw new IllegalArgumentException("trak without mdia"))
      val mdia = boxes(mdiaB, mdiaE)
      // mdhd v0: vf(4) cre(4) mod(4) → timescale at body+12
      val trackDurMs = find(mdia, "mdhd").map { case (b, _) => durMs(b, 12) }.getOrElse(0L)
      // hdlr: vf(4) pre_defined(4) handler_type(4)
      val handler = find(mdia, "hdlr").map { case (b, e) =>
        require(b + 12 <= e, "truncated hdlr")
        new String(p, b + 8, 4, java.nio.charset.StandardCharsets.ISO_8859_1)
      }.getOrElse("")
      val stbl = find(mdia, "minf").map { case (b, e) => boxes(b, e) }
        .flatMap(minf => find(minf, "stbl")).map { case (b, e) => boxes(b, e) }
        .getOrElse(Vector.empty)
      // stsd: vf(4) entry_count(4), first entry: size(4) format(4) …;
      // VisualSampleEntry carries width/height at entry+32, Audio the
      // 16.16 sample rate at entry+32 (both per ISO 14496-12 layouts)
      val (codec, w, h, rate) = find(stbl, "stsd").map { case (b, e) =>
        require(b + 16 <= e, "truncated stsd")
        val entry = b + 8
        val fmt = new String(p, entry + 4, 4, java.nio.charset.StandardCharsets.ISO_8859_1)
        val isVideo = handler == "vide"
        val isAudio = handler == "soun"
        val wv = if (isVideo && entry + 36 <= e) be32(p, entry + 32) >>> 16 else 0
        val hv = if (isVideo && entry + 36 <= e) be32(p, entry + 32) & 0xffff else 0
        val rv = if (isAudio && entry + 36 <= e) be32(p, entry + 32) >>> 16 else 0
        (fmt, wv, hv, rv)
      }.getOrElse(("", 0, 0, 0))
      // stsz: vf(4) sample_size(4) sample_count(4) [sizes…]; the first
      // size is either the fixed sample_size or the table's first entry
      val (nSamples, firstSize) = find(stbl, "stsz").map { case (b, e) =>
        require(b + 12 <= e, "truncated stsz")
        val fixed = be32(p, b + 4).toLong & 0xffffffffL
        val n = be32(p, b + 8).toLong & 0xffffffffL
        val first =
          if (fixed != 0) fixed
          else if (n >= 1 && b + 16 <= e) be32(p, b + 12).toLong & 0xffffffffL
          else 0L
        (n, first)
      }.getOrElse((0L, 0L))
      // first chunk offset: stco (32-bit) or co64 (64-bit) first entry
      val firstOff = find(stbl, "stco").map { case (b, e) =>
        if (be32(p, b + 4) >= 1 && b + 12 <= e) be32(p, b + 8).toLong & 0xffffffffL else 0L
      }.orElse(find(stbl, "co64").map { case (b, e) =>
        if (be32(p, b + 4) >= 1 && b + 16 <= e) be64(p, b + 8) else 0L
      }).getOrElse(0L)
      Mp4Track(handler, codec, w, h, rate, nSamples, trackDurMs, firstOff, firstSize)
    }
    Mp4Info(brand, movieDurMs, tracks,
      mdat.map(_._1).getOrElse(-1),
      mdat.map { case (b, e) => (e - b).toLong }.getOrElse(0L))
  }

  /** Codec-level H.264 probe: walk to the first `avc1`/`avc3` sample
    * entry's `avcC` configuration box and parse its SPS ([[Avc]]) —
    * BITSTREAM dimensions/profile/level/fps, vs the container-declared
    * values [[probeMp4]] reports (they disagree on cropped/anamorphic
    * streams; the SPS is authoritative). `None` when the file is not
    * ISO-BMFF or carries no AVC track; malformed avcC/SPS bytes throw
    * (C5: caller isolates per row). Child boxes of a VisualSampleEntry
    * start after its 78-byte fixed layout (ISO 14496-12 §12.1.3).
    */
  def avcSps(p: Array[Byte]): Option[Avc.SpsInfo] = {
    if (!isMp4(p)) return None
    val top = mp4Boxes(p, 0, p.length)
    mp4Find(top, "moov").toVector.flatMap { case (mb, me) =>
      mp4Boxes(p, mb, me).collect { case ("trak", tb, te) => (tb, te) }
    }.flatMap { case (tb, te) =>
      for {
        (mdB, mdE) <- mp4Find(mp4Boxes(p, tb, te), "mdia")
        (mfB, mfE) <- mp4Find(mp4Boxes(p, mdB, mdE), "minf")
        (sbB, sbE) <- mp4Find(mp4Boxes(p, mfB, mfE), "stbl")
        (sdB, sdE) <- mp4Find(mp4Boxes(p, sbB, sbE), "stsd")
        if sdB + 16 <= sdE
        entry = sdB + 8
        fmt = new String(p, entry + 4, 4, java.nio.charset.StandardCharsets.ISO_8859_1)
        if fmt == "avc1" || fmt == "avc3"
        entryEnd = entry + be32(p, entry)
        if entry + 86 <= entryEnd && entryEnd <= sdE
        (acB, acE) <- mp4Find(mp4Boxes(p, entry + 86, entryEnd), "avcC")
      } yield Avc.parseAvcC(p, acB, acE)
    }.headOption
  }

  /** BMP → per-pixel 0–255 luminance (BT.601 integer weights for 24/32
    * bpp; the raw index byte for 8 bpp — palettes carry presentation, not
    * content). Bottom-up and top-down row orders both normalized to
    * top-down.
    */
  def decodeBmp(p: Array[Byte]): Decoded = {
    require(isBmp(p) && p.length >= 54, "not a BMP")
    val dataOff = le32(p, 10)
    val hdrSize = le32(p, 14)
    require(hdrSize >= 40, s"unsupported BMP header size $hdrSize")
    val w = le32(p, 18)
    val hRaw = le32(p, 22)
    val h = math.abs(hRaw)
    val bpp = le16(p, 28)
    val compression = le32(p, 30)
    require(compression == 0, s"compressed BMP (method $compression) unsupported")
    require(bpp == 8 || bpp == 24 || bpp == 32, s"unsupported bpp $bpp")
    require(w > 0 && h > 0 && w.toLong * h <= (64L << 20), s"implausible dims ${w}x$h")
    val rowBytes = ((bpp * w + 31) / 32) * 4
    require(dataOff.toLong + rowBytes.toLong * h <= p.length, "truncated BMP pixel array")
    val out = new Array[Int](w * h)
    val bytesPerPx = bpp / 8
    var y = 0
    while (y < h) {
      val srcRow = if (hRaw > 0) h - 1 - y else y // bottom-up when positive
      var row = dataOff + srcRow * rowBytes
      var x = 0
      while (x < w) {
        val v =
          if (bpp == 8) p(row) & 0xff
          else {
            val b = p(row) & 0xff; val g = p(row + 1) & 0xff; val r = p(row + 2) & 0xff
            luma601(r, g, b)
          }
        out(y * w + x) = v
        row += bytesPerPx
        x += 1
      }
      y += 1
    }
    Decoded("bmp", w, h, 0, 1, out, 255)
  }

  /** ITU-T G.711 μ-law byte → 16-bit linear (the public reference
    * expansion: bias 0x84, 3-bit exponent segments).
    */
  def mulawToLinear(b: Int): Int = {
    val u = ~b & 0xff
    var t = ((u & 0x0f) << 3) + 0x84
    t <<= (u & 0x70) >> 4
    if ((u & 0x80) != 0) 0x84 - t else t - 0x84
  }

  /** ITU-T G.711 A-law byte → 16-bit linear (0x55 toggle, segmented). */
  def alawToLinear(b: Int): Int = {
    val a = b ^ 0x55
    val seg = (a & 0x70) >> 4
    var t = (a & 0x0f) << 4
    if (seg == 0) t += 8
    else if (seg == 1) t += 0x108
    else { t += 0x108; t <<= seg - 1 }
    if ((a & 0x80) != 0) t else -t
  }

  /** WAV (RIFF) → signed 16-bit-domain sample amplitudes per frame
    * (multi-channel frames averaged). Formats: PCM 8 (unsigned,
    * recentred) / 16 / 24 / 32-bit, IEEE float32, G.711 A-law and μ-law;
    * WAVE_FORMAT_EXTENSIBLE resolves through its SubFormat GUID. Wider
    * PCM is scaled down to the 16-bit domain (high bits kept).
    */
  def decodeWav(p: Array[Byte]): Decoded = {
    require(isWav(p), "not a RIFF/WAVE")
    // the walk runs in Long: a crafted len near Int.MaxValue would wrap an
    // Int `off` negative (and `dataOff + dataLen` negative, slipping past
    // an Int bound check into a multi-GB allocation whose OutOfMemoryError
    // is not an Exception and escapes the per-row catch) — C5 again
    var off = 12L
    var rate = 0; var channels = 0; var bits = 0; var format = 0
    var dataOff = -1; var dataLen = 0
    while (off + 8 <= p.length) {
      val o = off.toInt // safe: off + 8 <= p.length <= Int.MaxValue
      val id = new String(p, o, 4, java.nio.charset.StandardCharsets.ISO_8859_1)
      val len = le32(p, o + 4)
      // a crafted negative length would walk `off` backwards forever —
      // garbage must fail the row, never hang the task (C5)
      require(len >= 0, s"negative chunk length in $id")
      if (id == "fmt ") {
        format = le16(p, o + 8)
        channels = le16(p, o + 10)
        rate = le32(p, o + 12)
        bits = le16(p, o + 22)
        if (format == 0xfffe) { // WAVE_FORMAT_EXTENSIBLE: code leads the GUID
          require(len >= 40, "truncated extensible fmt chunk")
          format = le16(p, o + 8 + 24)
        }
      } else if (id == "data") { dataOff = o + 8; dataLen = len }
      off += 8L + len + (len & 1) // chunks are word-aligned
    }
    val bitsOk = format match {
      case 1 => bits == 8 || bits == 16 || bits == 24 || bits == 32 // PCM
      case 3 => bits == 32 // IEEE float
      case 6 | 7 => bits == 8 // G.711 A-law / μ-law
      case _ => false
    }
    require(rate > 0 && channels > 0 && bitsOk,
      s"missing/odd fmt chunk (format $format, $bits bits)")
    require(dataOff >= 0 && dataOff.toLong + dataLen.toLong <= p.length,
      "missing/truncated data chunk")
    val bytesPerSample = bits / 8
    val frame = channels * bytesPerSample
    val n = dataLen / frame
    val out = new Array[Int](n)
    var i = 0
    while (i < n) {
      var acc = 0
      var c = 0
      while (c < channels) {
        val o = dataOff + i * frame + c * bytesPerSample
        val s = format match {
          case 1 =>
            if (bits == 16) le16(p, o).toShort.toInt
            else if (bits == 8) ((p(o) & 0xff) - 128) << 8 // unsigned → 16-bit scale
            else if (bits == 24)
              (((p(o) & 0xff) | ((p(o + 1) & 0xff) << 8) | (p(o + 2) << 16)) >> 8)
            else le32(p, o) >> 16 // 32-bit PCM → high 16
          case 3 =>
            val f = java.lang.Float.intBitsToFloat(le32(p, o))
            require(!f.isNaN, "NaN float sample")
            math.rint(math.max(-1.0f, math.min(1.0f, f)) * 32767.0).toInt
          case 6 => alawToLinear(p(o) & 0xff)
          case _ => mulawToLinear(p(o) & 0xff)
        }
        acc += s
        c += 1
      }
      out(i) = acc / channels
      i += 1
    }
    Decoded("wav", 0, 0, rate, n, out, 32768)
  }

  /** Baseline TIFF → first page's per-pixel 0–255 luminance; `frames`
    * counts the IFD chain (multi-page scans — the reference's OCR input
    * domain). Supported: both byte orders (II/MM), 8-bit grayscale
    * (either photometric polarity) and RGB, strip layout, Compression
    * 1 (none) and 32773 (PackBits). LZW/CCITT/JPEG-in-TIFF are rejected
    * explicitly. All offsets walked in Long; crafted values fail the row.
    */
  def decodeTiff(p: Array[Byte]): Decoded = {
    require(isTiff(p), "not a TIFF")
    val le = p(0) == 'I'
    def u16(o: Int): Int = if (le) le16(p, o) else ((p(o) & 0xff) << 8) | (p(o + 1) & 0xff)
    def u32(o: Int): Long =
      (if (le) le32(p, o) else be32(p, o)) & 0xffffffffL
    def checked(o: Long, need: Long): Int = {
      require(o >= 0 && o + need <= p.length, s"offset $o past EOF")
      o.toInt
    }
    // entry value as a Long array (SHORT/LONG; inline when it fits 4 bytes)
    def values(entryOff: Int): Array[Long] = {
      val typ = u16(entryOff + 2)
      val n = u32(entryOff + 4)
      require(n <= (1 << 20), "implausible tag count")
      val width = typ match {
        case 3 => 2 // SHORT
        case 4 => 4 // LONG
        case 1 => 1 // BYTE
        case t => throw new IllegalArgumentException(s"unsupported TIFF tag type $t")
      }
      val at =
        if (n * width <= 4) entryOff + 8
        else checked(u32(entryOff + 8), n * width)
      Array.tabulate(n.toInt) { i =>
        width match {
          case 1 => (p(at + i) & 0xff).toLong
          case 2 => u16(at + 2 * i).toLong
          case _ => u32(at + 4 * i)
        }
      }
    }
    var ifd = u32(4)
    var canvas: Array[Int] = null
    var (w, h) = (0, 0)
    var frames = 0
    while (ifd != 0) {
      require(frames < 10000, "implausible page count")
      val base = checked(ifd, 2)
      val nEntries = u16(base)
      checked(ifd + 2, nEntries.toLong * 12 + 4)
      if (canvas == null) {
        var width0 = 0L; var height0 = 0L
        var bits: Array[Long] = Array(8)
        var compression = 1L
        var photometric = 1L
        var samplesPerPx = 1L
        var planarConfig = 1L
        var stripOffsets: Array[Long] = null
        var stripCounts: Array[Long] = null
        var rowsPerStrip = 0L
        var e = 0
        while (e < nEntries) {
          val eo = base + 2 + e * 12
          u16(eo) match {
            case 256 => width0 = values(eo)(0)
            case 257 => height0 = values(eo)(0)
            case 258 => bits = values(eo)
            case 259 => compression = values(eo)(0)
            case 262 => photometric = values(eo)(0)
            case 273 => stripOffsets = values(eo)
            case 277 => samplesPerPx = values(eo)(0)
            case 278 => rowsPerStrip = values(eo)(0)
            case 279 => stripCounts = values(eo)
            case 284 => planarConfig = values(eo)(0)
            case _ => () // other tags skipped
          }
          e += 1
        }
        // bound each axis BEFORE multiplying: both are unsigned-32 reads,
        // so a crafted 0xFFFFFFFF pair would wrap the Long product
        // negative and sail past a product-only check
        require(width0 > 0 && width0 <= (64L << 20) &&
          height0 > 0 && height0 <= (64L << 20) &&
          width0 * height0 <= (64L << 20),
          s"implausible dims ${width0}x$height0")
        // planar (RRR..GGG..BBB) layouts would decode to garbage luma
        // through the interleaved path — reject, never mis-decode; with a
        // single sample per pixel planar and chunky are byte-identical
        require(planarConfig == 1L || samplesPerPx == 1L,
          s"planar configuration $planarConfig unsupported for RGB")
        require(samplesPerPx == 1 || samplesPerPx == 3,
          s"samples/pixel $samplesPerPx unsupported")
        require(photometric <= 2, s"photometric $photometric unsupported")
        require(compression == 1 || compression == 32773 || compression == 4,
          s"compression $compression unsupported (none/PackBits/G4 only)")
        if (compression == 4L) {
          // CCITT G4 fax strips: bilevel, photometric 0, each strip an
          // independent T.6 stream over rowsPerStrip rows
          require(bits.forall(_ == 1) && samplesPerPx == 1 && photometric == 0,
            "G4 TIFF must be 1-bit single-sample WhiteIsZero")
        } else
          require(bits.forall(_ == 8), "only 8-bit samples supported")
        require(stripOffsets != null && stripCounts != null &&
          stripOffsets.length == stripCounts.length, "missing strip tags")
        w = width0.toInt; h = height0.toInt
        val spp = samplesPerPx.toInt
        val expected = w.toLong * h * spp
        val rps = (if (rowsPerStrip <= 0) height0 else rowsPerStrip).toInt
        val data = new java.io.ByteArrayOutputStream()
        stripOffsets.indices.foreach { i =>
          val at = checked(stripOffsets(i), stripCounts(i))
          val cnt = stripCounts(i).toInt
          if (compression == 4L) {
            val rows = math.min(rps, h - i * rps)
            require(rows > 0, "more strips than rows")
            val bitsPx = Ccitt.decodeG4(
              java.util.Arrays.copyOfRange(p, at, at + cnt), w, rows)
            // expand to 8-bit sample space: fax white (coding 0) = sample
            // 0, black = 255 — the photometric-0 inversion below then
            // renders white 255 / black 0
            val g = new Array[Byte](bitsPx.length)
            var k = 0
            while (k < bitsPx.length) {
              g(k) = if (bitsPx(k) == 1) 0xff.toByte else 0; k += 1
            }
            data.write(g)
          }
          else if (compression == 1L) data.write(p, at, cnt)
          else { // PackBits
            var o = at; val end = at + cnt
            while (o < end && data.size() < expected) {
              val n = p(o); o += 1
              if (n >= 0) {
                require(o + n + 1 <= end, "PackBits literal past strip")
                data.write(p, o, n + 1); o += n + 1
              } else if (n != -128) {
                require(o < end, "PackBits run past strip")
                val b = p(o); o += 1
                var k = 0
                while (k < 1 - n) { data.write(b); k += 1 }
              } // -128: no-op
            }
          }
        }
        require(data.size() >= expected, s"strip data ${data.size()} < $expected")
        val img = data.toByteArray
        canvas = new Array[Int](w * h)
        var i = 0
        while (i < w * h) {
          val v =
            if (spp == 1) {
              val g = img(i) & 0xff
              if (photometric == 0L) 255 - g else g // WhiteIsZero inverts
            } else luma601(img(i * 3) & 0xff, img(i * 3 + 1) & 0xff, img(i * 3 + 2) & 0xff)
          canvas(i) = v
          i += 1
        }
      }
      frames += 1
      ifd = u32(checked(ifd + 2 + nEntries * 12, 4))
    }
    require(canvas != null, "TIFF with no pages")
    Decoded("tiff", w, h, 0, frames, canvas, 255)
  }

  /** AVI (RIFF) with Motion-JPEG video → first frame's luminance via the
    * from-scratch [[Jpeg]] decoder, plus the video frame count and frame
    * rate from the `avih` header. The RIFF LIST tree is walked in Long
    * (crafted lengths fail, never wrap); `00dc`/`00db` chunks inside
    * `movi` are the video frames — later frames are counted structurally
    * without decoding, so a long clip costs one frame's decode. This is
    * the classic pre-codec-library video format a from-scratch engine CAN
    * decode for real; modern codecs (H.264 etc.) remain behind the stub
    * container.
    */
  def decodeAvi(p: Array[Byte]): Decoded = {
    require(isAvi(p), "not a RIFF AVI")
    var microSecPerFrame = 0L
    var avihW = 0; var avihH = 0
    var firstFrame: Array[Byte] = null
    var frames = 0
    // stream 00 only: a multi-stream AVI (e.g. video + a second video or
    // preview stream) must not have its chunk counts conflated
    def isVideoChunk(id: String): Boolean =
      id.length == 4 && id(0) == '0' && id(1) == '0' &&
        (id.substring(2) == "dc" || id.substring(2) == "db")
    def walk(from: Long, to: Long, depth: Int): Unit = {
      require(depth < 6, "RIFF nesting too deep")
      var off = from
      while (off + 8 <= to) {
        val o = off.toInt
        val id = new String(p, o, 4, java.nio.charset.StandardCharsets.ISO_8859_1)
        val len = le32(p, o + 4)
        require(len >= 0, s"negative chunk length in $id")
        require(off + 8 + len <= to, s"truncated chunk $id")
        if (id == "LIST") {
          require(len >= 4, "short LIST")
          walk(off + 12, off + 8 + len, depth + 1)
        } else if (id == "avih") {
          require(len >= 40, "short avih")
          microSecPerFrame = le32(p, o + 8) & 0xffffffffL
          avihW = le32(p, o + 40); avihH = le32(p, o + 44)
        } else if (isVideoChunk(id)) {
          frames += 1
          if (firstFrame == null && len > 0)
            firstFrame = java.util.Arrays.copyOfRange(p, o + 8, o + 8 + len)
        }
        off += 8L + len + (len & 1) // word-aligned
      }
    }
    walk(12, math.min(p.length.toLong, 8L + le32(p, 4)), 0)
    require(firstFrame != null, "no video frames")
    require(Jpeg.isJpeg(firstFrame), "non-MJPEG video stream unsupported")
    val d = Jpeg.decode(firstFrame)
    require(avihW <= 0 || (d.width == avihW && d.height == avihH),
      s"frame dims ${d.width}x${d.height} disagree with avih ${avihW}x$avihH")
    val fps = if (microSecPerFrame > 0) math.round(1e6 / microSecPerFrame).toInt else 0
    Decoded("mjpeg", d.width, d.height, fps, frames, d.samples, 255)
  }

  /** GIF87a/89a → first frame's per-pixel 0–255 luminance (palette
    * resolved, BT.601) on the full logical-screen canvas; `frames` counts
    * every image block in the file (animation length). LZW is decoded
    * from scratch (variable-width codes, CLEAR/END, 4096-entry table);
    * both interlaced (4-pass) and sequential row orders are supported.
    * Frames after the first only contribute to the count — their data
    * sub-blocks are skipped structurally (no LZW work), so a long
    * animation costs one frame's decode.
    */
  def decodeGif(p: Array[Byte]): Decoded = {
    require(isGif(p), "not a GIF")
    require(p.length >= 13, "truncated GIF header")
    val w = le16(p, 6); val h = le16(p, 8)
    require(w > 0 && h > 0 && w.toLong * h <= (64L << 20), s"implausible dims ${w}x$h")
    val flags = p(10) & 0xff
    var off = 13
    var gct: Array[Byte] = null
    if ((flags & 0x80) != 0) {
      val n = 3 * (2 << (flags & 7))
      require(off + n <= p.length, "truncated global colour table")
      gct = java.util.Arrays.copyOfRange(p, off, off + n)
      off += n
    }
    def lumaOf(pal: Array[Byte], idx: Int): Int = {
      require(idx * 3 + 2 < pal.length, s"palette index $idx out of range")
      luma601(pal(idx * 3) & 0xff, pal(idx * 3 + 1) & 0xff, pal(idx * 3 + 2) & 0xff)
    }
    def skipSubBlocks(at: Int): Int = {
      var o = at
      while ({ require(o < p.length, "truncated sub-blocks"); (p(o) & 0xff) != 0 }) {
        o += 1 + (p(o) & 0xff)
        require(o <= p.length, "truncated sub-block")
      }
      o + 1
    }
    var frames = 0
    var canvas: Array[Int] = null
    var done = false
    while (!done) {
      require(off < p.length, "missing trailer")
      (p(off) & 0xff) match {
        case 0x3b => done = true // trailer
        case 0x21 => // extension: label + sub-blocks
          require(off + 2 <= p.length, "truncated extension")
          off = skipSubBlocks(off + 2)
        case 0x2c => // image descriptor
          require(off + 10 <= p.length, "truncated image descriptor")
          val ix = le16(p, off + 1); val iy = le16(p, off + 3)
          val iw = le16(p, off + 5); val ih = le16(p, off + 7)
          val f = p(off + 9) & 0xff
          off += 10
          var lct: Array[Byte] = null
          if ((f & 0x80) != 0) {
            val n = 3 * (2 << (f & 7))
            require(off + n <= p.length, "truncated local colour table")
            lct = java.util.Arrays.copyOfRange(p, off, off + n)
            off += n
          }
          require(off < p.length, "missing LZW code size")
          val minCode = p(off) & 0xff
          off += 1
          frames += 1
          if (canvas != null || frames > 1) {
            // later frames: structure-skip only
            off = skipSubBlocks(off)
          } else {
            require(iw > 0 && ih > 0 && ix.toLong + iw <= w && iy.toLong + ih <= h,
              "frame exceeds canvas")
            val pal = if (lct != null) lct else gct
            require(pal != null, "no colour table")
            val indices = lzwDecode(p, off, minCode, iw * ih)
            off = skipSubBlocks(off)
            canvas = new Array[Int](w * h)
            val interlaced = (f & 0x40) != 0
            // 4-pass interlace row order per the GIF spec
            val rowOf: Int => Int =
              if (!interlaced) identity
              else {
                val order = new Array[Int](ih)
                var r = 0
                for ((start, step) <- Seq((0, 8), (4, 8), (2, 4), (1, 2))) {
                  var y = start
                  while (y < ih) { order(r) = y; r += 1; y += step }
                }
                order
              }
            var ry = 0
            while (ry < ih) {
              val y = rowOf(ry)
              var x = 0
              while (x < iw) {
                canvas((iy + y) * w + (ix + x)) = lumaOf(pal, indices(ry * iw + x))
                x += 1
              }
              ry += 1
            }
          }
        case other => throw new IllegalArgumentException(f"unknown GIF block 0x$other%02x")
      }
    }
    require(canvas != null, "GIF with no image data")
    Decoded("gif", w, h, 0, frames, canvas, 255)
  }

  /** GIF LZW: variable-width codes (minCode+1 .. 12 bits), CLEAR resets
    * the table, END terminates; emits exactly `nOut` palette indices.
    * Sub-block framing is handled inline (the bitstream crosses block
    * boundaries). Bounded: the table caps at 4096 and every loop advances
    * the input or the output, so crafted input fails, never hangs.
    */
  private def lzwDecode(p: Array[Byte], start: Int, minCode: Int,
                        nOut: Int): Array[Int] = {
    require(minCode >= 1 && minCode <= 11, s"bad LZW min code size $minCode")
    val clear = 1 << minCode
    val end = clear + 1
    val out = new Array[Int](nOut)
    var outN = 0
    // table: prefix link + last byte per code
    val prefix = new Array[Int](4096)
    val suffix = new Array[Int](4096)
    var next = end + 1
    var width = minCode + 1
    var prev = -1
    // bit reader over sub-blocks
    var o = start
    var blockLeft = 0
    var acc = 0L
    var accN = 0
    def fill(): Boolean = {
      while (accN < width) {
        if (blockLeft == 0) {
          require(o < p.length, "truncated LZW stream")
          blockLeft = p(o) & 0xff; o += 1
          if (blockLeft == 0) return false // block terminator: stream over
        }
        require(o < p.length, "truncated LZW stream")
        acc |= (p(o) & 0xffL) << accN
        accN += 8; o += 1; blockLeft -= 1
      }
      true
    }
    val stack = new Array[Int](4096)
    while (outN < nOut) {
      require(fill(), "LZW stream ended early")
      val code = (acc & ((1 << width) - 1)).toInt
      acc >>>= width; accN -= width
      if (code == clear) {
        next = end + 1; width = minCode + 1; prev = -1
      } else if (code == end) {
        throw new IllegalArgumentException(s"LZW END with ${nOut - outN} pixels missing")
      } else {
        require(code < next || (code == next && prev >= 0), s"LZW code $code out of range")
        // expand code (KwKwK case: code == next uses prev + firstChar(prev))
        var sp = 0
        var c = code
        if (c == next) {
          // will push firstChar(prev) at the end — placeholder via prev expansion
          c = prev
          stack(sp) = -1; sp += 1 // mark: append first char of prev after expansion
        }
        while (c >= clear + 2) { stack(sp) = suffix(c); sp += 1; c = prefix(c) }
        require(c < clear, s"corrupt LZW chain at $c")
        val first = c
        // emit: first char, then stack reversed (resolving the KwKwK marker)
        var emitFirstOfPrev = false
        if (sp > 0 && stack(0) == -1) { emitFirstOfPrev = true }
        out(outN) = first; outN += 1
        var i = sp - 1
        while (i >= (if (emitFirstOfPrev) 1 else 0) && outN < nOut) {
          out(outN) = stack(i); outN += 1; i -= 1
        }
        if (emitFirstOfPrev && outN < nOut) { out(outN) = first; outN += 1 }
        // add table entry prev+first
        if (prev >= 0 && next < 4096) {
          prefix(next) = prev; suffix(next) = first
          next += 1
          if (next < 4096 && (next & (next - 1)) == 0 && width < 12) width += 1
        }
        prev = code
      }
    }
    out
  }

  /** Undo the PNG row filters (None/Sub/Up/Average/Paeth) of `rows`
    * rows at `raw(off)`, each a filter-type byte + `stride` bytes with
    * `bpp` (≥ 1) bytes per pixel → the `rows * stride` unfiltered bytes.
    */
  private[kernel] def unfilterPng(raw: Array[Byte], off: Int, rows: Int, stride: Int,
                                  bpp: Int): Array[Byte] = {
    val img = new Array[Byte](stride * rows)
    var y = 0
    while (y < rows) {
      val f = raw(off + y * (1 + stride)) & 0xff
      val src = off + y * (1 + stride) + 1
      val dst = y * stride
      var x = 0
      while (x < stride) {
        val cur = raw(src + x) & 0xff
        val a = if (x >= bpp) img(dst + x - bpp) & 0xff else 0
        val b = if (y > 0) img(dst - stride + x) & 0xff else 0
        val c = if (y > 0 && x >= bpp) img(dst - stride + x - bpp) & 0xff else 0
        val v = f match {
          case 0 => cur
          case 1 => cur + a
          case 2 => cur + b
          case 3 => cur + (a + b) / 2
          case 4 =>
            val pp = a + b - c
            val pa = math.abs(pp - a); val pb = math.abs(pp - b); val pc = math.abs(pp - c)
            cur + (if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c)
          case other => throw new IllegalArgumentException(s"filter $other invalid")
        }
        img(dst + x) = v.toByte
        x += 1
      }
      y += 1
    }
    img
  }

  /** Adam7 pass geometry: (xStart, yStart, xStep, yStep) per the PNG
    * spec; a non-interlaced image is the single pass (0,0,1,1).
    */
  private[graft] val Adam7 = Array(
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2))

  /** PNG (8/16-bit depth, colour types 0/2/3/6, sequential or Adam7
    * interlaced) → per-pixel 0–255 luminance. IDAT chunks are
    * concatenated, inflated with [[Compress.inflate]], and each row of each
    * pass reconstructed from its filter byte exactly per the spec
    * (None/Sub/Up/Average/Paeth); indexed-colour images resolve through
    * their PLTE table; 16-bit samples keep their high byte (the spec's
    * own 16→8 reduction). Sub-byte depths are rejected explicitly, not
    * mis-decoded.
    */
  def decodePng(p: Array[Byte]): Decoded = {
    require(isPng(p), "not a PNG")
    var off = 8
    var w = 0; var h = 0; var channels = 0; var colorType = -1
    var depth = 0; var interlace = 0
    var palette: Array[Byte] = null
    val idat = new java.io.ByteArrayOutputStream()
    var sawEnd = false
    while (!sawEnd && off + 8 <= p.length) {
      val len = be32(p, off)
      val typ = new String(p, off + 4, 4, java.nio.charset.StandardCharsets.ISO_8859_1)
      require(len >= 0 && off + 12 + len <= p.length, s"truncated chunk $typ")
      typ match {
        case "IHDR" =>
          w = be32(p, off + 8); h = be32(p, off + 12)
          depth = p(off + 16) & 0xff
          colorType = p(off + 17) & 0xff
          interlace = p(off + 20) & 0xff
          require(depth == 8 || (depth == 16 && colorType != 3),
            s"bit depth $depth unsupported for colour type $colorType")
          require(interlace <= 1, s"interlace method $interlace invalid")
          channels = colorType match {
            case 0 => 1
            case 2 => 3
            case 3 => 1 // indexed: one palette index per pixel
            case 6 => 4
            case t => throw new IllegalArgumentException(s"colour type $t unsupported")
          }
          require(w > 0 && h > 0 && w.toLong * h <= (64L << 20), s"implausible dims ${w}x$h")
        case "PLTE" =>
          require(len > 0 && len % 3 == 0 && len <= 768, s"bad PLTE length $len")
          palette = java.util.Arrays.copyOfRange(p, off + 8, off + 8 + len)
        case "IDAT" => idat.write(p, off + 8, len)
        case "IEND" => sawEnd = true
        case _ => () // ancillary chunks skipped
      }
      off += 12 + len
    }
    require(colorType != 3 || palette != null, "indexed PNG missing PLTE")
    require(w > 0 && idat.size() > 0, "missing IHDR/IDAT")
    val bytesPerSample = depth / 8
    val bpp = channels * bytesPerSample
    val passes: Array[(Int, Int, Int, Int)] =
      if (interlace == 0) Array((0, 0, 1, 1)) else Adam7
    def passDims(pass: (Int, Int, Int, Int)): (Int, Int) = {
      val (xs, ys, xstep, ystep) = pass
      (math.max(0, (w - xs + xstep - 1) / xstep), math.max(0, (h - ys + ystep - 1) / ystep))
    }
    val rawLen = passes.map { pass =>
      val (pw, ph) = passDims(pass)
      if (pw == 0 || ph == 0) 0L else ph.toLong * (1 + pw.toLong * bpp)
    }.sum
    require(rawLen <= Int.MaxValue, "raw image too large")
    // sized by what the IDAT stream yields, not by what IHDR claims
    val idatBytes = idat.toByteArray
    val raw = Compress.inflate(idatBytes, 0, idatBytes.length, raw = false, rawLen.toInt)
    require(raw.length == rawLen, s"IDAT inflated to ${raw.length}, expected $rawLen")

    val nPal = if (palette == null) 0 else palette.length / 3
    def lumaAt(img: Array[Byte], o: Int): Int =
      if (colorType == 3) {
        val idx = img(o) & 0xff
        require(idx < nPal, s"palette index $idx out of range ($nPal entries)")
        luma601(palette(idx * 3) & 0xff, palette(idx * 3 + 1) & 0xff,
          palette(idx * 3 + 2) & 0xff)
      } else if (channels == 1) img(o) & 0xff
      else luma601(img(o) & 0xff, img(o + bytesPerSample) & 0xff,
        img(o + 2 * bytesPerSample) & 0xff)

    val out = new Array[Int](w * h)
    var rawOff = 0
    passes.foreach { pass =>
      val (xs, ys, xstep, ystep) = pass
      val (pw, ph) = passDims(pass)
      if (pw > 0 && ph > 0) {
        val stride = pw * bpp
        val img = unfilterPng(raw, rawOff, ph, stride, bpp)
        rawOff += ph * (1 + stride)
        // scatter the pass's pixels onto the canvas (16-bit: high byte)
        var py = 0
        while (py < ph) {
          var px = 0
          while (px < pw) {
            out((ys + py * ystep) * w + (xs + px * xstep)) =
              lumaAt(img, (py * pw + px) * bpp)
            px += 1
          }
          py += 1
        }
      }
    }
    Decoded("png", w, h, 0, 1, out, 255)
  }
}
