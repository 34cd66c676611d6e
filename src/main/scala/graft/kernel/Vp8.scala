package graft.kernel

/** From-scratch VP8 (lossy WebP) intra-frame decoder — RFC 6386, same
  * per-spec discipline as [[WebP]]'s VP8L path. Retires the lossy-WebP
  * stub: a web crawl's image column is JPEG + lossy WebP before anything
  * else (reference raster path:
  * `/root/reference/app/services/vision_service.py`).
  *
  * Scope (the keyframe envelope — WebP stills are always keyframes):
  *  - boolean arithmetic decoder (RFC 7.3), keyframe header (9.x)
  *    including segmentation, loop-filter headers, multiple token
  *    partitions, quantizer indices with per-segment deltas, and
  *    coefficient probability updates;
  *  - intra prediction: 16x16 / chroma DC, V, H, TM and all ten 4x4
  *    B_PRED sub-modes (12.2/12.3) with RFC edge extension (127 above,
  *    129 left, top-right replication at the frame's right edge);
  *  - coefficient tokens over the [[Vp8Tables]] default + updated
  *    probabilities, value categories 1–6, dequantization (14.1),
  *    inverse WHT for Y2 (14.3) and the exact integer inverse DCT
  *    (14.4);
  *  - the in-loop deblocking filter (15): both the normal filter
  *    (high-edge-variance logic, 27/18/9-tap macroblock edges, luma +
  *    chroma) and the simple filter, with sharpness-adjusted interior
  *    limits, per-segment filter levels and the intra/B_PRED loop-filter
  *    deltas; applied in-place in MB raster order after reconstruction
  *    (intra prediction consumes unfiltered neighbors, per spec).
  *    `Frame.filtered` reports whether the stream carried a nonzero
  *    filter level.
  *
  * The per-frame pieces — [[tokenPartitions]], [[QuantHeader]] and the
  * macroblock core [[Recon]] (bordered planes, intra predictors,
  * residual tokens + inverse transforms, crop) — are shared with
  * [[Vp8Video]]'s interframes, which add only motion compensation.
  *
  * The whole path — unfiltered and filtered, segmented, multi-partition,
  * odd dims, q10…q90 — decodes byte-exactly against the system
  * libwebp's own output (MediaSpec: 17 streams from tools/vp8_differential.py,
  * each matched to the digest of libwebp's decode), and libwebp decodes [[graft.fixtures.MediaGen.vp8]]
  * fixture streams byte-exactly in the reverse direction.
  *
  * Output is the Y (luma) plane plus subsampled U/V, the same
  * grey-plane convention as the other image kernels (C5 isolation
  * upstream in [[graft.ops.Multimodal]]).
  */
object Vp8 {
  import Vp8Tables._

  final class Vp8Error(msg: String) extends RuntimeException(msg)

  // ------------------------------------------------------- boolean decoder
  /** RFC 6386 7.3 boolean decoder, bit-at-a-time refill (clarity over
    * speed — a fixture/crawl image decodes in microseconds either way).
    */
  final class Bool(d: Array[Byte], start: Int, end: Int) {
    require(start >= 0 && start <= end && end <= d.length, "bool range out of payload")
    private var pos = start
    private var bitPos = 0
    private var range = 255
    private var value = 0
    locally {
      var k = 0
      while (k < 16) { value = (value << 1) | nextBit(); k += 1 }
    }
    private def nextBit(): Int = {
      val b = if (pos < end) (d(pos) >> (7 - bitPos)) & 1 else 0
      bitPos += 1
      if (bitPos == 8) { bitPos = 0; pos += 1 }
      b
    }

    def bit(prob: Int): Int = {
      val split = 1 + (((range - 1) * prob) >> 8)
      val big = split << 8
      var out = 0
      if (value >= big) { out = 1; range -= split; value -= big }
      else range = split
      while (range < 128) {
        value = ((value << 1) | nextBit()) & 0xffff
        range <<= 1
      }
      out
    }

    /** n-bit unsigned literal, MSB first, each bit at probability 128. */
    def literal(n: Int): Int = {
      var v = 0; var k = 0
      while (k < n) { v = (v << 1) | bit(128); k += 1 }
      v
    }

    /** sign-magnitude: n-bit magnitude then sign bit. */
    def signed(n: Int): Int = { val m = literal(n); if (bit(128) == 1) -m else m }

    /** optional signed delta: present flag, then sign-magnitude. */
    def maybeSigned(n: Int): Int = if (bit(128) == 1) signed(n) else 0

    /** Token via a [[Vp8Tables]] tree: pair i gated by
      * `probs(probOff + (i >> 1))`, leaves stored as -(id + 1); `from`
      * lets coefficient reads skip the EOB branch after a ZERO token.
      */
    def tree(t: Array[Int], probs: Array[Int], probOff: Int = 0, from: Int = 0): Int = {
      var i = from
      while (true) {
        val b = bit(probs(probOff + (i >> 1)))
        val v = t(i + b)
        if (v <= 0) return -v - 1
        i = v
      }
      0 // unreachable
    }
  }

  // ----------------------------------------------------------- result model
  final case class Frame(width: Int, height: Int, y: Array[Int],
                         u: Array[Int], v: Array[Int], filtered: Boolean)

  private def clip255(v: Int): Int = if (v < 0) 0 else if (v > 255) 255 else v
  private def clampQ(v: Int): Int = if (v < 0) 0 else if (v > 127) 127 else v

  // ---------------------------------------------------- inverse transforms
  /** Exact integer inverse DCT (RFC 6386 14.4). */
  def idct4x4(in: Array[Int], out: Array[Int]): Unit = {
    val tmp = new Array[Int](16)
    var i = 0
    while (i < 4) { // columns
      val i0 = in(i); val i1 = in(i + 4); val i2 = in(i + 8); val i3 = in(i + 12)
      val a1 = i0 + i2
      val b1 = i0 - i2
      val c1 = ((i1 * 35468) >> 16) - (i3 + ((i3 * 20091) >> 16))
      val d1 = (i1 + ((i1 * 20091) >> 16)) + ((i3 * 35468) >> 16)
      tmp(i) = a1 + d1; tmp(i + 12) = a1 - d1
      tmp(i + 4) = b1 + c1; tmp(i + 8) = b1 - c1
      i += 1
    }
    i = 0
    while (i < 4) { // rows, with final rounding
      val o = i * 4
      val i0 = tmp(o); val i1 = tmp(o + 1); val i2 = tmp(o + 2); val i3 = tmp(o + 3)
      val a1 = i0 + i2
      val b1 = i0 - i2
      val c1 = ((i1 * 35468) >> 16) - (i3 + ((i3 * 20091) >> 16))
      val d1 = (i1 + ((i1 * 20091) >> 16)) + ((i3 * 35468) >> 16)
      out(o) = (a1 + d1 + 4) >> 3; out(o + 3) = (a1 - d1 + 4) >> 3
      out(o + 1) = (b1 + c1 + 4) >> 3; out(o + 2) = (b1 - c1 + 4) >> 3
      i += 1
    }
  }

  /** Inverse WHT for the Y2 block (RFC 6386 14.3). */
  def iwht4x4(in: Array[Int], dcOut: Array[Int]): Unit = {
    val tmp = new Array[Int](16)
    var i = 0
    while (i < 4) {
      val a1 = in(i) + in(i + 12)
      val b1 = in(i + 4) + in(i + 8)
      val c1 = in(i + 4) - in(i + 8)
      val d1 = in(i) - in(i + 12)
      tmp(i) = a1 + b1; tmp(i + 4) = c1 + d1
      tmp(i + 8) = a1 - b1; tmp(i + 12) = d1 - c1
      i += 1
    }
    i = 0
    while (i < 4) {
      val o = i * 4
      val a1 = tmp(o) + tmp(o + 3)
      val b1 = tmp(o + 1) + tmp(o + 2)
      val c1 = tmp(o + 1) - tmp(o + 2)
      val d1 = tmp(o) - tmp(o + 3)
      dcOut(o) = (a1 + b1 + 3) >> 3; dcOut(o + 1) = (c1 + d1 + 3) >> 3
      dcOut(o + 2) = (a1 - b1 + 3) >> 3; dcOut(o + 3) = (d1 - c1 + 3) >> 3
      i += 1
    }
  }

  // ------------------------------------------------ shared frame pieces
  /** Token partitions (RFC 9.5): the count from the first partition,
    * then the 3-byte little-endian size table at `part0End`; the last
    * partition runs to the end of the frame.
    */
  private[kernel] def tokenPartitions(d: Array[Byte], br: Bool, part0End: Int): Array[Bool] = {
    val nParts = 1 << br.literal(2)
    val partsStart = part0End + 3 * (nParts - 1)
    if (partsStart > d.length) throw new Vp8Error("truncated partition table")
    val parts = new Array[Bool](nParts)
    var acc = partsStart
    var p = 0
    while (p < nParts) {
      val len =
        if (p == nParts - 1) d.length - acc
        else {
          val o = part0End + 3 * p
          (d(o) & 0xff) | ((d(o + 1) & 0xff) << 8) | ((d(o + 2) & 0xff) << 16)
        }
      if (len < 0 || acc + len > d.length) throw new Vp8Error("bad partition size")
      parts(p) = new Bool(d, acc, acc + len)
      acc += len
      p += 1
    }
    parts
  }

  /** Quantizer indices (RFC 9.6): the base luma AC index and the five
    * deltas, read in header order.
    */
  private[kernel] final class QuantHeader(br: Bool) {
    val yacQi: Int = br.literal(7)
    private val ydcDelta = br.maybeSigned(4)
    private val y2dcDelta = br.maybeSigned(4)
    private val y2acDelta = br.maybeSigned(4)
    private val uvdcDelta = br.maybeSigned(4)
    private val uvacDelta = br.maybeSigned(4)

    /** Dequantization factors (14.1) at index `base`:
      * (ydc, yac, y2dc, y2ac, uvdc, uvac).
      */
    def dequant(base: Int): Array[Int] = {
      val q = clampQ(base)
      Array(dcQLookup(clampQ(q + ydcDelta)), acQLookup(q),
        dcQLookup(clampQ(q + y2dcDelta)) * 2,
        math.max(8, acQLookup(clampQ(q + y2acDelta)) * 155 / 100),
        math.min(132, dcQLookup(clampQ(q + uvdcDelta))),
        acQLookup(clampQ(q + uvacDelta)))
    }
  }

  /** Coefficient probability updates (RFC 9.9), applied to `probs`. */
  private[kernel] def updateCoeffProbs(br: Bool, probs: Array[Int]): Unit = {
    var pi = 0
    while (pi < 4 * 8 * 3 * 11) {
      if (br.bit(coeffUpdateProbs(pi)) == 1) probs(pi) = br.literal(8)
      pi += 1
    }
  }

  // ------------------------------------------------ macroblock reconstruction
  /** One frame's reconstruction, shared by keyframes ([[decodeFrame]])
    * and interframes ([[Vp8Video]]): Y/U/V planes with a 1-px prediction
    * border (127 above, 129 left) plus 4 px of above-right slack on Y,
    * the intra predictors (12.2/12.3), and the residual path —
    * coefficient tokens over `probs` with their nonzero contexts,
    * dequantization, Y2 inverse WHT and the inverse DCT add (13, 14).
    * Inter prediction writes straight into `Y`/`U`/`V` at [[yOff]]/[[cOff]].
    */
  private[kernel] final class Recon(val width: Int, val height: Int, probs: Array[Int]) {
    val mbW: Int = (width + 15) >> 4
    val mbH: Int = (height + 15) >> 4
    val yStride: Int = mbW * 16 + 1 + 4
    val cStride: Int = mbW * 8 + 1
    val Y = new Array[Int]((mbH * 16 + 1) * yStride)
    val U = new Array[Int]((mbH * 8 + 1) * cStride)
    val V = new Array[Int]((mbH * 8 + 1) * cStride)
    locally {
      var x = 0
      while (x < yStride) { Y(x) = 127; x += 1 } // above border (incl. corner + slack)
      x = 0
      while (x < cStride) { U(x) = 127; V(x) = 127; x += 1 }
      var yy = 1
      while (yy <= mbH * 16) { Y(yy * yStride) = 129; yy += 1 } // left border
      yy = 1
      while (yy <= mbH * 8) { U(yy * cStride) = 129; V(yy * cStride) = 129; yy += 1 }
    }

    /** Offset of MB (mbX, mbY)'s top-left luma / chroma sample. */
    def yOff(mbX: Int, mbY: Int): Int = (mbY * 16 + 1) * yStride + mbX * 16 + 1
    def cOff(mbX: Int, mbY: Int): Int = (mbY * 8 + 1) * cStride + mbX * 8 + 1

    // ---- prediction
    private def predDc(plane: Array[Int], bo: Int, stride: Int, size: Int,
                       hasAbove: Boolean, hasLeft: Boolean): Unit = {
      var sum = 0; var cnt = 0
      if (hasAbove) { var i = 0; while (i < size) { sum += plane(bo - stride + i); i += 1 }; cnt += size }
      if (hasLeft) { var i = 0; while (i < size) { sum += plane(bo - 1 + i * stride); i += 1 }; cnt += size }
      val dc = if (cnt == 0) 128 else (sum + cnt / 2) / cnt
      var y0 = 0
      while (y0 < size) { var x0 = 0; while (x0 < size) { plane(bo + y0 * stride + x0) = dc; x0 += 1 }; y0 += 1 }
    }
    private def predV(plane: Array[Int], bo: Int, stride: Int, size: Int): Unit = {
      var y0 = 0
      while (y0 < size) { var x0 = 0; while (x0 < size) { plane(bo + y0 * stride + x0) = plane(bo - stride + x0); x0 += 1 }; y0 += 1 }
    }
    private def predH(plane: Array[Int], bo: Int, stride: Int, size: Int): Unit = {
      var y0 = 0
      while (y0 < size) { val l = plane(bo - 1 + y0 * stride); var x0 = 0; while (x0 < size) { plane(bo + y0 * stride + x0) = l; x0 += 1 }; y0 += 1 }
    }
    private def predTm(plane: Array[Int], bo: Int, stride: Int, size: Int): Unit = {
      val tl = plane(bo - stride - 1)
      var y0 = 0
      while (y0 < size) {
        val l = plane(bo - 1 + y0 * stride)
        var x0 = 0
        while (x0 < size) { plane(bo + y0 * stride + x0) = clip255(l + plane(bo - stride + x0) - tl); x0 += 1 }
        y0 += 1
      }
    }
    private def predMode(plane: Array[Int], bo: Int, stride: Int, size: Int, mode: Int,
                         hasAbove: Boolean, hasLeft: Boolean): Unit = mode match {
      case 0 => predDc(plane, bo, stride, size, hasAbove, hasLeft)
      case 1 => predV(plane, bo, stride, size)
      case 2 => predH(plane, bo, stride, size)
      case 3 => predTm(plane, bo, stride, size)
      case m => throw new Vp8Error(s"bad 16x16/uv mode $m")
    }

    /** Intra-predict MB (mbX, mbY): luma 16x16 with `yMode` 0..3 (DC V H
      * TM; B_PRED = 4 predicts per subblock in [[residuals]]) and both
      * chroma planes with `uvMode`. Frame edges read the borders, except
      * that DC averages only the edges inside the frame.
      */
    def predictIntra(mbX: Int, mbY: Int, yMode: Int, uvMode: Int): Unit = {
      val hasAbove = mbY > 0; val hasLeft = mbX > 0
      if (yMode != 4) predMode(Y, yOff(mbX, mbY), yStride, 16, yMode, hasAbove, hasLeft)
      predMode(U, cOff(mbX, mbY), cStride, 8, uvMode, hasAbove, hasLeft)
      predMode(V, cOff(mbX, mbY), cStride, 8, uvMode, hasAbove, hasLeft)
    }

    /** 4x4 B_PRED (RFC 12.3). `tr` supplies the 4 above-right samples for
      * right-column subblocks (they come from the MB's top edge, not from
      * the not-yet-decoded MB to the right).
      */
    private def predB(plane: Array[Int], bo: Int, stride: Int, mode: Int,
                      tr: Array[Int], useTr: Boolean): Unit = {
      val A = new Array[Int](8)
      var i = 0
      while (i < 4) { A(i) = plane(bo - stride + i); i += 1 }
      if (useTr) { i = 0; while (i < 4) { A(4 + i) = tr(i); i += 1 } }
      else { i = 0; while (i < 4) { A(4 + i) = plane(bo - stride + 4 + i); i += 1 } }
      val L = new Array[Int](4)
      i = 0
      while (i < 4) { L(i) = plane(bo - 1 + i * stride); i += 1 }
      val P = plane(bo - stride - 1)
      @inline def avg3(a: Int, b: Int, c: Int): Int = (a + 2 * b + c + 2) >> 2
      @inline def avg2(a: Int, b: Int): Int = (a + b + 1) >> 1
      @inline def set(x0: Int, y0: Int, v: Int): Unit = plane(bo + y0 * stride + x0) = v
      mode match {
        case 0 => // B_DC
          var sum = 4
          i = 0
          while (i < 4) { sum += A(i) + L(i); i += 1 }
          val dc = sum >> 3
          var y0 = 0
          while (y0 < 4) { var x0 = 0; while (x0 < 4) { set(x0, y0, dc); x0 += 1 }; y0 += 1 }
        case 1 => // B_TM
          var y0 = 0
          while (y0 < 4) { var x0 = 0; while (x0 < 4) { set(x0, y0, clip255(L(y0) + A(x0) - P)); x0 += 1 }; y0 += 1 }
        case 2 => // B_VE
          val t0 = avg3(P, A(0), A(1)); val t1 = avg3(A(0), A(1), A(2))
          val t2 = avg3(A(1), A(2), A(3)); val t3 = avg3(A(2), A(3), A(4))
          var y0 = 0
          while (y0 < 4) { set(0, y0, t0); set(1, y0, t1); set(2, y0, t2); set(3, y0, t3); y0 += 1 }
        case 3 => // B_HE
          val t = Array(avg3(P, L(0), L(1)), avg3(L(0), L(1), L(2)),
            avg3(L(1), L(2), L(3)), avg3(L(2), L(3), L(3)))
          var y0 = 0
          while (y0 < 4) { var x0 = 0; while (x0 < 4) { set(x0, y0, t(y0)); x0 += 1 }; y0 += 1 }
        case 4 => // B_RD (down-right)
          val e = Array(L(3), L(2), L(1), L(0), P, A(0), A(1), A(2), A(3))
          var y0 = 0
          while (y0 < 4) { var x0 = 0; while (x0 < 4) { val k = 3 - y0 + x0; set(x0, y0, avg3(e(k), e(k + 1), e(k + 2))); x0 += 1 }; y0 += 1 }
        case 5 => // B_VR (vertical-right)
          val r00 = avg2(P, A(0)); val r01 = avg2(A(0), A(1))
          val r02 = avg2(A(1), A(2)); val r03 = avg2(A(2), A(3))
          val r10 = avg3(L(0), P, A(0)); val r11 = avg3(P, A(0), A(1))
          val r12 = avg3(A(0), A(1), A(2)); val r13 = avg3(A(1), A(2), A(3))
          set(0, 0, r00); set(1, 0, r01); set(2, 0, r02); set(3, 0, r03)
          set(0, 1, r10); set(1, 1, r11); set(2, 1, r12); set(3, 1, r13)
          set(0, 2, avg3(L(1), L(0), P)); set(1, 2, r00); set(2, 2, r01); set(3, 2, r02)
          set(0, 3, avg3(L(2), L(1), L(0))); set(1, 3, r10); set(2, 3, r11); set(3, 3, r12)
        case 6 => // B_LD (down-left)
          var y0 = 0
          while (y0 < 4) {
            var x0 = 0
            while (x0 < 4) {
              val k = x0 + y0
              val v = if (k < 6) avg3(A(k), A(k + 1), A(k + 2)) else avg3(A(6), A(7), A(7))
              set(x0, y0, v); x0 += 1
            }
            y0 += 1
          }
        case 7 => // B_VL (vertical-left)
          set(0, 0, avg2(A(0), A(1))); set(1, 0, avg2(A(1), A(2))); set(2, 0, avg2(A(2), A(3))); set(3, 0, avg2(A(3), A(4)))
          set(0, 1, avg3(A(0), A(1), A(2))); set(1, 1, avg3(A(1), A(2), A(3))); set(2, 1, avg3(A(2), A(3), A(4))); set(3, 1, avg3(A(3), A(4), A(5)))
          set(0, 2, avg2(A(1), A(2))); set(1, 2, avg2(A(2), A(3))); set(2, 2, avg2(A(3), A(4))); set(3, 2, avg3(A(4), A(5), A(6)))
          set(0, 3, avg3(A(1), A(2), A(3))); set(1, 3, avg3(A(2), A(3), A(4))); set(2, 3, avg3(A(3), A(4), A(5))); set(3, 3, avg3(A(5), A(6), A(7)))
        case 8 => // B_HD (horizontal-down)
          set(0, 0, avg2(P, L(0))); set(1, 0, avg3(L(0), P, A(0))); set(2, 0, avg3(P, A(0), A(1))); set(3, 0, avg3(A(0), A(1), A(2)))
          set(0, 1, avg2(L(0), L(1))); set(1, 1, avg3(P, L(0), L(1))); set(2, 1, avg2(P, L(0))); set(3, 1, avg3(L(0), P, A(0)))
          set(0, 2, avg2(L(1), L(2))); set(1, 2, avg3(L(0), L(1), L(2))); set(2, 2, avg2(L(0), L(1))); set(3, 2, avg3(P, L(0), L(1)))
          set(0, 3, avg2(L(2), L(3))); set(1, 3, avg3(L(1), L(2), L(3))); set(2, 3, avg2(L(1), L(2))); set(3, 3, avg3(L(0), L(1), L(2)))
        case 9 => // B_HU (horizontal-up)
          set(0, 0, avg2(L(0), L(1))); set(1, 0, avg3(L(0), L(1), L(2))); set(2, 0, avg2(L(1), L(2))); set(3, 0, avg3(L(1), L(2), L(3)))
          set(0, 1, avg2(L(1), L(2))); set(1, 1, avg3(L(1), L(2), L(3))); set(2, 1, avg2(L(2), L(3))); set(3, 1, avg3(L(2), L(3), L(3)))
          set(0, 2, avg2(L(2), L(3))); set(1, 2, avg3(L(2), L(3), L(3))); set(2, 2, L(3)); set(3, 2, L(3))
          set(0, 3, L(3)); set(1, 3, L(3)); set(2, 3, L(3)); set(3, 3, L(3))
        case m => throw new Vp8Error(s"bad b-mode $m")
      }
    }

    // ---- residuals
    private val coeffs = new Array[Int](16)
    private val resid = new Array[Int](16)
    private val dcBuf = new Array[Int](16)
    private val aboveNz = new Array[Int](mbW * 9) // 4 Y, 2 U, 2 V, 1 Y2
    private val leftNz = new Array[Int](9)
    private val yNz = new Array[Int](16)
    private val cNz = new Array[Int](4)
    private val topRight = new Array[Int](4)

    /** Read one 4x4 block's tokens into `coeffs` (zigzag undone,
      * dequantized); returns the nonzero flag feeding neighbor contexts.
      */
    private def readCoeffs(bd: Bool, typ: Int, firstCoeff: Int, ctx0: Int,
                           dcq: Int, acq: Int): Int = {
      java.util.Arrays.fill(coeffs, 0)
      var n = firstCoeff
      var ctx = ctx0
      var from = 0
      var nz = 0
      var done = false
      while (!done && n < 16) {
        val off = ((typ * 8 + bands(n)) * 3 + ctx) * 11
        val tok = bd.tree(tokenTree, probs, off, from)
        if (tok == 0) done = true // EOB
        else if (tok == 1) { ctx = 0; from = 2; n += 1 } // ZERO: EOB can't follow
        else {
          var v = 0
          if (tok == 2) { v = 1; ctx = 1 }
          else {
            ctx = 2
            if (tok <= 5) v = tok - 1 // literal 2, 3, 4
            else {
              val cat = tok - 6
              val cp = cats(cat)
              var extra = 0
              var k = 0
              while (k < cp.length) { extra = (extra << 1) | bd.bit(cp(k)); k += 1 }
              v = catBase(cat) + extra
            }
          }
          if (bd.bit(128) == 1) v = -v
          coeffs(zigzag(n)) = v * (if (n == 0) dcq else acq)
          nz = 1
          from = 0
          n += 1
        }
      }
      nz
    }

    private def addResidual(plane: Array[Int], bo: Int, stride: Int): Unit = {
      idct4x4(coeffs, resid)
      var y0 = 0
      while (y0 < 4) {
        var x0 = 0
        while (x0 < 4) {
          val o = bo + y0 * stride + x0
          plane(o) = clip255(plane(o) + resid(y0 * 4 + x0))
          x0 += 1
        }
        y0 += 1
      }
    }

    /** Decode MB (mbX, mbY)'s residual tokens from partition `bd` and add
      * them onto its prediction; MBs arrive in raster order. `hasY2`: the
      * luma DCs ride a Y2 block (every mode but B_PRED and SPLITMV).
      * `bModes` (B_PRED only, else null): the 16 sub-modes, each
      * subblock predicted from its reconstructed neighbors just before
      * its residual. `segQ` is a [[QuantHeader.dequant]] row. Returns
      * whether any block carried a nonzero coefficient.
      */
    def residuals(bd: Bool, mbX: Int, mbY: Int, skip: Boolean, hasY2: Boolean,
                  segQ: Array[Int], bModes: Array[Int]): Boolean = {
      if (mbX == 0) java.util.Arrays.fill(leftNz, 0) // a new MB row
      val yo = yOff(mbX, mbY)
      if (bModes != null) {
        // above-right: replicate the last above sample at the frame's
        // right edge (the slack columns otherwise hold stale data)
        if (mbY > 0 && mbX == mbW - 1) {
          var k = 0
          while (k < 4) { Y(yo - yStride + 16 + k) = Y(yo - yStride + 15); k += 1 }
        }
        var k = 0
        while (k < 4) { topRight(k) = Y(yo - yStride + 16 + k); k += 1 }
      }

      var anyNz = false
      if (!skip && hasY2) {
        val ctx = leftNz(8) + aboveNz(mbX * 9 + 8)
        val y2Nz = readCoeffs(bd, 1, 0, ctx, segQ(2), segQ(3))
        if (y2Nz != 0) anyNz = true
        iwht4x4(coeffs, dcBuf)
        leftNz(8) = y2Nz; aboveNz(mbX * 9 + 8) = y2Nz
      } else if (hasY2) {
        java.util.Arrays.fill(dcBuf, 0)
        leftNz(8) = 0; aboveNz(mbX * 9 + 8) = 0
      } // no Y2: its context is left as it was

      // 16 Y blocks: predict (B_PRED) and/or add residuals in order
      val typ = if (hasY2) 0 else 3
      val first = if (hasY2) 1 else 0
      var sb = 0
      while (sb < 16) {
        val sx = sb & 3; val sy = sb >> 2
        val bo = yo + sy * 4 * yStride + sx * 4
        if (bModes != null) predB(Y, bo, yStride, bModes(sb), topRight, useTr = sx == 3)
        var nz = 0
        if (!skip) {
          val ctx = (if (sx == 0) leftNz(sy) else yNz(sb - 1)) +
            (if (sy == 0) aboveNz(mbX * 9 + sx) else yNz(sb - 4))
          nz = readCoeffs(bd, typ, first, ctx, segQ(0), segQ(1))
          if (nz != 0) anyNz = true
          if (hasY2) coeffs(0) = dcBuf(sb)
          if (nz != 0 || (hasY2 && dcBuf(sb) != 0)) addResidual(Y, bo, yStride)
        }
        yNz(sb) = nz
        if (sx == 3) leftNz(sy) = nz
        if (sy == 3) aboveNz(mbX * 9 + sx) = nz
        sb += 1
      }

      // chroma residuals (type 2), U then V
      val co = cOff(mbX, mbY)
      var pl = 0
      while (pl < 2) {
        val plane = if (pl == 0) U else V
        val base = 4 + pl * 2
        var cb = 0
        while (cb < 4) {
          val sx = cb & 1; val sy = cb >> 1
          val bo = co + sy * 4 * cStride + sx * 4
          var nz = 0
          if (!skip) {
            val ctx = (if (sx == 0) leftNz(base + sy) else cNz(cb - 1)) +
              (if (sy == 0) aboveNz(mbX * 9 + base + sx) else cNz(cb - 2))
            nz = readCoeffs(bd, 2, 0, ctx, segQ(4), segQ(5))
            if (nz != 0) { anyNz = true; addResidual(plane, bo, cStride) }
          }
          cNz(cb) = nz
          if (sx == 1) leftNz(base + sy) = nz
          if (sy == 1) aboveNz(mbX * 9 + base + sx) = nz
          cb += 1
        }
        pl += 1
      }
      anyNz
    }

    /** The `w`×`h` top-left corner of a bordered plane. */
    private def crop(plane: Array[Int], stride: Int, w: Int, h: Int): Array[Int] = {
      val out = new Array[Int](w * h)
      var r = 0
      while (r < h) { System.arraycopy(plane, (r + 1) * stride + 1, out, r * w, w); r += 1 }
      out
    }

    /** The `width`×`height` output frame. */
    def frame(filtered: Boolean): Frame = {
      val cw = (width + 1) / 2; val ch = (height + 1) / 2
      Frame(width, height, crop(Y, yStride, width, height),
        crop(U, cStride, cw, ch), crop(V, cStride, cw, ch), filtered)
    }

    /** The MB-aligned planes without borders, padding pixels included:
      * an interframe's reference for the frames after it.
      */
    def interior(): Vp8Video.RefFrame =
      Vp8Video.RefFrame(width, height, crop(Y, yStride, mbW * 16, mbH * 16),
        crop(U, cStride, mbW * 8, mbH * 8), crop(V, cStride, mbW * 8, mbH * 8))
  }

  // --------------------------------------------------------------- decode
  /** Decode the payload of a WebP 'VP8 ' chunk (a raw VP8 keyframe). */
  def decodeFrame(d: Array[Byte]): Frame = {
    if (d.length < 10) throw new Vp8Error("truncated VP8 frame")
    val tag = (d(0) & 0xff) | ((d(1) & 0xff) << 8) | ((d(2) & 0xff) << 16)
    val keyFrame = (tag & 1) == 0
    val part0Len = tag >>> 5
    if (!keyFrame) throw new Vp8Error("not a keyframe (WebP stills are keyframes)")
    if ((d(3) & 0xff) != 0x9d || (d(4) & 0xff) != 0x01 || (d(5) & 0xff) != 0x2a)
      throw new Vp8Error("bad VP8 start code")
    val width = ((d(6) & 0xff) | ((d(7) & 0xff) << 8)) & 0x3fff
    val height = ((d(8) & 0xff) | ((d(9) & 0xff) << 8)) & 0x3fff
    if (width == 0 || height == 0) throw new Vp8Error("zero dimension")
    if (width.toLong * height > (1L << 26)) throw new Vp8Error("implausible dims")
    val part0End = 10L + part0Len
    if (part0End > d.length) throw new Vp8Error("truncated first partition")
    val br = new Bool(d, 10, part0End.toInt)

    br.bit(128) // color space (0 in conformant streams)
    br.bit(128) // clamping type

    // ---- segmentation header (9.3)
    val segPerMb = new Array[Int](4)
    val segLf = new Array[Int](4)
    var segAbs = false
    var segEnabled = false
    var segUpdateMap = false
    val segTreeProbs = Array(255, 255, 255)
    if (br.bit(128) == 1) {
      segEnabled = true
      segUpdateMap = br.bit(128) == 1
      val updateData = br.bit(128) == 1
      if (updateData) {
        segAbs = br.bit(128) == 1
        var i = 0
        while (i < 4) { segPerMb(i) = br.maybeSigned(7); i += 1 }
        i = 0
        while (i < 4) { segLf(i) = br.maybeSigned(6); i += 1 }
      }
      if (segUpdateMap) {
        var i = 0
        while (i < 3) {
          segTreeProbs(i) = if (br.bit(128) == 1) br.literal(8) else 255
          i += 1
        }
      }
    }

    // ---- loop filter header (9.4)
    val simpleFilter = br.bit(128) == 1
    val filterLevel = br.literal(6)
    val sharpness = br.literal(3)
    // ref/mode lf deltas persist across frames in video; a still decodes
    // with all-zero initial values updated by this header
    val refLfDeltas = new Array[Int](4)
    val modeLfDeltas = new Array[Int](4)
    var lfDeltaEnabled = false
    if (br.bit(128) == 1) {
      lfDeltaEnabled = true
      if (br.bit(128) == 1) { // update
        var i = 0
        while (i < 4) { if (br.bit(128) == 1) refLfDeltas(i) = br.signed(6); i += 1 }
        i = 0
        while (i < 4) { if (br.bit(128) == 1) modeLfDeltas(i) = br.signed(6); i += 1 }
      }
    }

    // ---- token partitions (9.5)
    val parts = tokenPartitions(d, br, part0End.toInt)

    // ---- quantizers (9.6 + 14.1)
    val qh = new QuantHeader(br)
    val segQuants = Array.tabulate(4) { s =>
      qh.dequant(if (segEnabled) { if (segAbs) segPerMb(s) else qh.yacQi + segPerMb(s) } else qh.yacQi)
    }

    // ---- probability updates (9.8–9.10)
    br.bit(128) // refresh entropy probs (meaningless for a still)
    val probs = coeffProbs.clone()
    updateCoeffProbs(br, probs)
    val skipEnabled = br.bit(128) == 1
    val probSkipFalse = if (skipEnabled) br.literal(8) else 0

    val rc = new Recon(width, height, probs)
    import rc.{mbW, mbH, Y, U, V, yStride, cStride}

    // ---- per-row/column B_PRED sub-mode contexts
    val aboveBModes = new Array[Int](mbW * 4) // outside frame = B_DC = 0
    val leftBModes = new Array[Int](4)
    val subModes = new Array[Int](16)

    // per-MB record for the loop-filter pass
    val mbSeg = new Array[Byte](mbW * mbH)
    val mbIsB = new Array[Boolean](mbW * mbH)
    val mbHasCoeffs = new Array[Boolean](mbW * mbH)

    var mbY = 0
    while (mbY < mbH) {
      java.util.Arrays.fill(leftBModes, 0)
      val bd = parts(mbY % parts.length)
      var mbX = 0
      while (mbX < mbW) {
        // ---- modes (partition 0, raster order)
        val segId =
          if (segEnabled && segUpdateMap) {
            val b0 = br.bit(segTreeProbs(0))
            val b1 = if (b0 == 0) br.bit(segTreeProbs(1)) else br.bit(segTreeProbs(2))
            b0 * 2 + b1
          } else 0
        val skip = skipEnabled && br.bit(probSkipFalse) == 1
        val yMode = br.tree(kfYModeTree, kfYModeProbs)
        if (yMode == 4) { // B_PRED: 16 context-coded sub-modes
          var sb = 0
          while (sb < 16) {
            val sx = sb & 3; val sy = sb >> 2
            val above = if (sy == 0) aboveBModes(mbX * 4 + sx) else subModes(sb - 4)
            val left = if (sx == 0) leftBModes(sy) else subModes(sb - 1)
            subModes(sb) = br.tree(bModeTree, kfBModeProbs, (above * 10 + left) * 9)
            sb += 1
          }
        } else {
          // non-B modes imply a uniform sub-mode context (RFC 11.3):
          // DC->B_DC, V->B_VE, H->B_HE, TM->B_TM
          val implied = yMode match { case 0 => 0; case 1 => 2; case 2 => 3; case _ => 1 }
          java.util.Arrays.fill(subModes, implied)
        }
        val uvMode = br.tree(uvModeTree, kfUvModeProbs)
        var sb = 0
        while (sb < 4) {
          aboveBModes(mbX * 4 + sb) = subModes(12 + sb)
          leftBModes(sb) = subModes(sb * 4 + 3)
          sb += 1
        }

        // ---- reconstruction
        rc.predictIntra(mbX, mbY, yMode, uvMode)
        val anyNz = rc.residuals(bd, mbX, mbY, skip, hasY2 = yMode != 4,
          segQuants(segId), if (yMode == 4) subModes else null)
        mbSeg(mbY * mbW + mbX) = segId.toByte
        mbIsB(mbY * mbW + mbX) = yMode == 4
        mbHasCoeffs(mbY * mbW + mbX) = anyNz
        mbX += 1
      }
      mbY += 1
    }

    // ---- in-loop deblocking (RFC 6386 15): in-place, MB raster order,
    // left edge -> inner verticals -> top edge -> inner horizontals,
    // exactly the reference decoder's application order. Intra
    // prediction above consumed UNFILTERED neighbors (the spec applies
    // the filter after reconstruction), so filtering is a pure
    // post-pass over the padded planes.
    if (filterLevel > 0) {
      def clampS(v: Int): Int = if (v < -128) -128 else if (v > 127) 127 else v
      def u2s(v: Int): Int = v - 128
      def s2u(v: Int): Int = {
        val c = clampS(v); c + 128
      }
      // one edge position: plane(base + k*step) walks across the edge,
      // k = 0..7 maps P3 P2 P1 P0 Q0 Q1 Q2 Q3
      def commonAdjust(plane: Array[Int], base: Int, step: Int,
                       useOuterTaps: Boolean): Int = {
        val p1 = u2s(plane(base + 2 * step)); val p0 = u2s(plane(base + 3 * step))
        val q0 = u2s(plane(base + 4 * step)); val q1 = u2s(plane(base + 5 * step))
        val a = clampS((if (useOuterTaps) clampS(p1 - q1) else 0) + 3 * (q0 - p0))
        val f = clampS(a + 4) >> 3
        val e = clampS(a + 3) >> 3
        plane(base + 4 * step) = s2u(q0 - f)
        plane(base + 3 * step) = s2u(p0 + e)
        f
      }
      def filterMask(plane: Array[Int], base: Int, step: Int,
                     interior: Int, edge: Int): Boolean = {
        def px(k: Int): Int = plane(base + k * step)
        math.abs(px(3) - px(4)) * 2 + math.abs(px(2) - px(5)) / 2 <= edge &&
          math.abs(px(0) - px(1)) <= interior &&
          math.abs(px(1) - px(2)) <= interior &&
          math.abs(px(2) - px(3)) <= interior &&
          math.abs(px(7) - px(6)) <= interior &&
          math.abs(px(6) - px(5)) <= interior &&
          math.abs(px(5) - px(4)) <= interior
      }
      def isHev(plane: Array[Int], base: Int, step: Int, t: Int): Boolean =
        math.abs(plane(base + 2 * step) - plane(base + 3 * step)) > t ||
          math.abs(plane(base + 5 * step) - plane(base + 4 * step)) > t
      def subblockFilter(plane: Array[Int], base: Int, step: Int,
                         hevT: Int, interior: Int, edge: Int): Unit =
        if (filterMask(plane, base, step, interior, edge)) {
          val hv = isHev(plane, base, step, hevT)
          val a = (commonAdjust(plane, base, step, hv) + 1) >> 1
          if (!hv) {
            plane(base + 5 * step) = s2u(u2s(plane(base + 5 * step)) - a)
            plane(base + 2 * step) = s2u(u2s(plane(base + 2 * step)) + a)
          }
        }
      def mbFilter(plane: Array[Int], base: Int, step: Int,
                   hevT: Int, interior: Int, edge: Int): Unit =
        if (filterMask(plane, base, step, interior, edge)) {
          if (!isHev(plane, base, step, hevT)) {
            val p2 = u2s(plane(base + step)); val p1 = u2s(plane(base + 2 * step))
            val p0 = u2s(plane(base + 3 * step)); val q0 = u2s(plane(base + 4 * step))
            val q1 = u2s(plane(base + 5 * step)); val q2 = u2s(plane(base + 6 * step))
            val w = clampS(clampS(p1 - q1) + 3 * (q0 - p0))
            var a = clampS((27 * w + 63) >> 7)
            plane(base + 4 * step) = s2u(q0 - a)
            plane(base + 3 * step) = s2u(p0 + a)
            a = clampS((18 * w + 63) >> 7)
            plane(base + 5 * step) = s2u(q1 - a)
            plane(base + 2 * step) = s2u(p1 + a)
            a = clampS((9 * w + 63) >> 7)
            plane(base + 6 * step) = s2u(q2 - a)
            plane(base + step) = s2u(p2 + a)
          } else commonAdjust(plane, base, step, useOuterTaps = true)
        }
      def simpleSegment(plane: Array[Int], base: Int, step: Int, edge: Int): Unit = {
        def px(k: Int): Int = plane(base + k * step)
        if (math.abs(px(3) - px(4)) * 2 + math.abs(px(2) - px(5)) / 2 <= edge)
          commonAdjust(plane, base, step, useOuterTaps = true)
      }

      var fy = 0
      while (fy < mbH) {
        var fx = 0
        while (fx < mbW) {
          val mi = fy * mbW + fx
          var level = if (segEnabled) {
            if (segAbs) segLf(mbSeg(mi)) else filterLevel + segLf(mbSeg(mi))
          } else filterLevel
          if (lfDeltaEnabled) {
            level += refLfDeltas(0) // keyframe MBs reference INTRA
            if (mbIsB(mi)) level += modeLfDeltas(0)
          }
          level = if (level < 0) 0 else if (level > 63) 63 else level
          if (level > 0) {
            var interior = level
            if (sharpness > 0) {
              interior >>= (if (sharpness > 4) 2 else 1)
              if (interior > 9 - sharpness) interior = 9 - sharpness
            }
            if (interior < 1) interior = 1
            val hevT =
              if (level >= 40) 2 else if (level >= 15) 1 else 0 // keyframe table
            val mbEdge = (level + 2) * 2 + interior
            val subEdge = level * 2 + interior
            val inner = mbIsB(mi) || mbHasCoeffs(mi)
            val yOff = rc.yOff(fx, fy)
            val cOffU = rc.cOff(fx, fy)
            if (simpleFilter) {
              // simple filter: luma only, same edge selection
              if (fx > 0) { var r = 0; while (r < 16) { simpleSegment(Y, yOff + r * yStride - 4, 1, mbEdge); r += 1 } }
              if (inner) {
                var c = 4
                while (c < 16) { var r = 0; while (r < 16) { simpleSegment(Y, yOff + r * yStride + c - 4, 1, subEdge); r += 1 }; c += 4 }
              }
              if (fy > 0) { var c = 0; while (c < 16) { simpleSegment(Y, yOff + c - 4 * yStride, yStride, mbEdge); c += 1 } }
              if (inner) {
                var rr = 4
                while (rr < 16) { var c = 0; while (c < 16) { simpleSegment(Y, yOff + (rr - 4) * yStride + c, yStride, subEdge); c += 1 }; rr += 4 }
              }
            } else {
              // normal filter: luma + both chroma planes
              if (fx > 0) {
                var r = 0
                while (r < 16) { mbFilter(Y, yOff + r * yStride - 4, 1, hevT, interior, mbEdge); r += 1 }
                r = 0
                while (r < 8) {
                  mbFilter(U, cOffU + r * cStride - 4, 1, hevT, interior, mbEdge)
                  mbFilter(V, cOffU + r * cStride - 4, 1, hevT, interior, mbEdge)
                  r += 1
                }
              }
              if (inner) {
                var c = 4
                while (c < 16) { var r = 0; while (r < 16) { subblockFilter(Y, yOff + r * yStride + c - 4, 1, hevT, interior, subEdge); r += 1 }; c += 4 }
                var r = 0
                while (r < 8) {
                  subblockFilter(U, cOffU + r * cStride, 1, hevT, interior, subEdge)
                  subblockFilter(V, cOffU + r * cStride, 1, hevT, interior, subEdge)
                  r += 1
                }
              }
              if (fy > 0) {
                var c = 0
                while (c < 16) { mbFilter(Y, yOff + c - 4 * yStride, yStride, hevT, interior, mbEdge); c += 1 }
                c = 0
                while (c < 8) {
                  mbFilter(U, cOffU + c - 4 * cStride, cStride, hevT, interior, mbEdge)
                  mbFilter(V, cOffU + c - 4 * cStride, cStride, hevT, interior, mbEdge)
                  c += 1
                }
              }
              if (inner) {
                var rr = 4
                while (rr < 16) { var c = 0; while (c < 16) { subblockFilter(Y, yOff + (rr - 4) * yStride + c, yStride, hevT, interior, subEdge); c += 1 }; rr += 4 }
                var c = 0
                while (c < 8) {
                  subblockFilter(U, cOffU + c, cStride, hevT, interior, subEdge)
                  subblockFilter(V, cOffU + c, cStride, hevT, interior, subEdge)
                  c += 1
                }
              }
            }
          }
          fx += 1
        }
        fy += 1
      }
    }

    rc.frame(filtered = filterLevel > 0)
  }
}
