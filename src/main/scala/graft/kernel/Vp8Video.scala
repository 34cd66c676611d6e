package graft.kernel

/** VP8 INTER-frame (P-frame) decoding — RFC 6386 §16–18 on top of the
  * validated keyframe decoder in [[Vp8]]: a WebM video track is one
  * keyframe plus a long tail of motion-compensated interframes, so a
  * crawl's video column needs this path for any frame past the first.
  *
  * [[decodeSequence]] carries the decoder state a still image never
  * has: the LAST / GOLDEN / ALTREF reference planes (with the refresh /
  * copy / sign-bias plumbing of §9.7), persistent coefficient and
  * motion-vector probabilities (§9.8 refresh_entropy_probs), and the
  * per-macroblock mode/MV grid that feeds `find_near_mvs` contexts.
  * Per interframe macroblock: intra/inter flag and reference selection
  * (§16.2), the NEAREST / NEAR / ZERO / NEW motion-vector modes with
  * count-derived tree probabilities (§16.3), motion-vector component
  * entropy decoding (§17.2, short tree + long bits), and
  * six-tap sub-pel motion compensation (§18.3) with edge-replicated
  * out-of-frame addressing, written straight into the frame's planes.
  *
  * Everything else a macroblock needs is the keyframe decoder's own
  * code: [[Vp8.tokenPartitions]], [[Vp8.QuantHeader]] and [[Vp8.Recon]]
  * (bordered planes, the DC/V/H/TM intra predictors of intra MBs,
  * coefficient tokens with their nonzero contexts, Y2 — present for
  * every whole-MB mode — and the inverse transforms, the crop). So
  * interframe residuals and intra MBs run the code MediaSpec checks
  * byte-exactly against libwebp.
  *
  * Documented boundaries (loud `Vp8Error`, never silent garbage):
  * B_PRED intra MBs inside an interframe, cross-frame segmentation and
  * interframes with a nonzero loop-filter level. All sit outside the
  * co-designed fixture envelope ([[graft.fixtures.MediaGen.vp8Sequence]]
  * — pure-motion, SPLITMV, AC-residual and intra-MB P-frames, filter
  * level 0); no independent VP8 *video* decoder exists in this
  * environment (libwebp handles stills only), so motion compensation,
  * MV decoding and reference management are validated by round-trip +
  * semantic property tests (decoded P-frame == pixel-translated
  * reference; intra MB == its predictor over the decoded neighbors).
  */
object Vp8Video {
  import Vp8Tables._
  import Vp8.{Bool, Frame, Vp8Error}

  // ------------------------------------------------ interframe tables
  // leaves are -(id+1), matching Vp8Tables' convention.
  // y modes: 0=DC 1=V 2=H 3=TM 4=B_PRED (interframe tree order, §11.2)
  private[graft] val yModeTree = Array(-1, 2, 4, 6, -2, -3, -4, -5)
  private[graft] val yModeDefaultProbs = Array(112, 86, 140, 37)
  private[graft] val uvModeDefaultProbs = Array(162, 101, 204)
  // mv reference modes: 0=ZERO 1=NEAREST 2=NEAR 3=NEW 4=SPLIT (§16.3)
  private[graft] val mvRefTree = Array(-1, 2, -2, 4, -3, 6, -4, -5)
  // counts→probs table (libvpx modecont.c, stored pre-cast to u8 — the
  // reference casts its int table through vp8_prob, wrapping row 5)
  private[graft] val modeContexts: Array[Array[Int]] = Array(
    Array(7, 1, 1, 143),
    Array(14, 18, 14, 107),
    Array(135, 64, 57, 68),
    Array(60, 56, 128, 65),
    Array(234, 160, 1, 1),
    Array(257 & 0xff, 336 & 0xff, 1, 2))
  // SPLITMV partitioning (§16.3.5): ids 0=16x8 1=8x16 2=8x8 3=4x4
  private[graft] val splitPartTree = Array(-4, 2, -3, 4, -1, -2)
  private[graft] val splitPartProbs = Array(110, 111, 150)
  private[graft] val splitFills: Array[Array[Int]] = Array(
    Array(0, 0, 0, 0, 0, 0, 0, 0, 1, 1, 1, 1, 1, 1, 1, 1),
    Array(0, 0, 1, 1, 0, 0, 1, 1, 0, 0, 1, 1, 0, 0, 1, 1),
    Array(0, 0, 1, 1, 0, 0, 1, 1, 2, 2, 3, 3, 2, 2, 3, 3),
    Array.tabulate(16)(identity))
  private[graft] val splitCounts = Array(2, 2, 4, 16)
  // sub-MV modes: 0=LEFT 1=ABOVE 2=ZERO 3=NEW, probs by neighbor context
  private[graft] val subMvRefTree = Array(-1, 2, -2, 4, -3, -4)
  private[graft] val subMvRefProbs: Array[Array[Int]] = Array(
    Array(147, 136, 18), Array(106, 145, 1), Array(179, 121, 1),
    Array(223, 1, 34), Array(208, 1, 1))

  // short-vector tree, values 0..7 (§17.2)
  private[graft] val smallMvTree = Array(2, 8, 4, 6, -1, -2, -3, -4, 10, 12,
    -5, -6, -7, -8)
  // per-component mv probs: [is_short, sign, short(7), bits(10)] = 19
  private[graft] val mvDefaultProbs: Array[Array[Int]] = Array(
    Array(162, 128, 225, 146, 172, 147, 214, 39, 156,
      128, 129, 132, 75, 145, 178, 206, 239, 254, 254), // row (y)
    Array(164, 128, 204, 170, 119, 235, 140, 230, 228,
      128, 130, 130, 74, 148, 180, 203, 236, 254, 254)) // col (x)
  private[graft] val mvUpdateProbs: Array[Array[Int]] = Array(
    Array(237, 246, 253, 253, 254, 254, 254, 254, 254,
      254, 254, 254, 254, 254, 250, 250, 252, 254, 254),
    Array(231, 243, 245, 253, 254, 254, 254, 254, 254,
      254, 254, 254, 254, 254, 251, 251, 254, 254, 254))
  // six-tap sub-pel filters, phase 0..7 in 1/8 pel (§18.3)
  private[graft] val subpelFilters: Array[Array[Int]] = Array(
    Array(0, 0, 128, 0, 0, 0),
    Array(0, -6, 123, 12, -1, 0),
    Array(2, -11, 108, 36, -8, 1),
    Array(0, -9, 93, 50, -6, 0),
    Array(3, -16, 77, 77, -16, 3),
    Array(0, -6, 50, 93, -9, 0),
    Array(1, -8, 36, 108, -11, 2),
    Array(0, -1, 12, 123, -6, 0))

  // --------------------------------------------------- reference planes
  /** MB-aligned reference planes (no prediction borders; MC uses
    * clamped addressing = edge replication for out-of-frame taps). An
    * interframe's is its [[Vp8.Recon.interior]].
    *
    * Padding-envelope note: a KEYFRAME reference is rebuilt from the
    * cropped output by edge replication ([[toRef]]), while an INTERFRAME
    * reference keeps its real reconstructed padding pixels. For
    * non-multiple-of-16 dimensions those can differ in the pad columns
    * a reference decoder would carry from the keyframe's own
    * reconstruction. The fixture encoder shares [[toRef]] for its
    * keyframe reference, so encoder and decoder agree at every step and
    * round-trips stay exact; only interop with external encoders at
    * unaligned dimensions AND pad-reaching MVs is affected.
    */
  final case class RefFrame(w: Int, h: Int, y: Array[Int],
                            u: Array[Int], v: Array[Int])

  private[graft] def toRef(f: Frame): RefFrame = {
    val mbW = (f.width + 15) >> 4
    val mbH = (f.height + 15) >> 4
    val w = mbW * 16; val h = mbH * 16
    val cw = mbW * 8; val ch = mbH * 8
    val y = new Array[Int](w * h)
    val u = new Array[Int](cw * ch)
    val v = new Array[Int](cw * ch)
    var yy = 0
    while (yy < h) {
      val sy = math.min(yy, f.height - 1)
      var x = 0
      while (x < w) {
        y(yy * w + x) = f.y(sy * f.width + math.min(x, f.width - 1))
        x += 1
      }
      yy += 1
    }
    val fcw = (f.width + 1) / 2; val fch = (f.height + 1) / 2
    yy = 0
    while (yy < ch) {
      val sy = math.min(yy, fch - 1)
      var x = 0
      while (x < cw) {
        u(yy * cw + x) = f.u(sy * fcw + math.min(x, fcw - 1))
        v(yy * cw + x) = f.v(sy * fcw + math.min(x, fcw - 1))
        x += 1
      }
      yy += 1
    }
    RefFrame(f.width, f.height, y, u, v)
  }

  // ------------------------------------------------- near-MV machinery
  /** Per-MB mode grid entry the contexts read: ref −1 = intra /
    * out-of-frame, 0 = LAST, 1 = GOLDEN, 2 = ALTREF.
    */
  final case class MbInfo(ref: Int, mvX: Int, mvY: Int, split: Boolean)
  private[graft] val OutsideMb = MbInfo(-1, 0, 0, split = false)

  /** §16.3 `find_near_mvs`: survey left / above / above-left, sign-flip
    * MVs whose reference's bias differs from the current reference's,
    * dedupe, weight 2/2/1 → (best, nearest, near, cnt). Shared verbatim
    * by the decoder AND the fixture encoder so mode contexts can never
    * drift between them.
    */
  private[graft] def findNearMvs(grid: Array[MbInfo], mbW: Int,
                                 mbX: Int, mbY: Int, curBias: Boolean,
                                 biasOf: Int => Boolean)
      : (Int, Int, Int, Int, Int, Int, Array[Int]) = {
    val cnt = new Array[Int](4)
    val mvsX = new Array[Int](3); val mvsY = new Array[Int](3)
    var top = 0 // index of newest list entry (0 = the implicit zero slot)
    def consider(mb: MbInfo, weight: Int): Unit = {
      if (mb.ref >= 0) {
        if (mb.mvX != 0 || mb.mvY != 0) {
          var mx = mb.mvX; var my = mb.mvY
          if (biasOf(mb.ref) != curBias) { mx = -mx; my = -my }
          if (top == 0 || mvsX(top) != mx || mvsY(top) != my) {
            top += 1
            mvsX(top) = mx; mvsY(top) = my
          }
          cnt(top) += weight
        } else cnt(0) += weight
      }
    }
    val above = if (mbY > 0) grid((mbY - 1) * mbW + mbX) else OutsideMb
    val left = if (mbX > 0) grid(mbY * mbW + mbX - 1) else OutsideMb
    val aboveLeft =
      if (mbY > 0 && mbX > 0) grid((mbY - 1) * mbW + mbX - 1) else OutsideMb
    consider(above, 2)
    consider(left, 2)
    consider(aboveLeft, 1)
    cnt(3) = (if (above.split) 2 else 0) + (if (left.split) 2 else 0) +
      (if (aboveLeft.split) 1 else 0)
    if (cnt(2) > cnt(1)) {
      val tx = mvsX(1); mvsX(1) = mvsX(2); mvsX(2) = tx
      val ty = mvsY(1); mvsY(1) = mvsY(2); mvsY(2) = ty
      val tc = cnt(1); cnt(1) = cnt(2); cnt(2) = tc
    }
    val (bestX, bestY) =
      if (cnt(1) >= cnt(0)) (mvsX(1), mvsY(1)) else (0, 0)
    (bestX, bestY, mvsX(1), mvsY(1), mvsX(2), mvsY(2), cnt)
  }

  /** §16.3 clamp: candidate MVs may reach at most 16 px beyond the
    * frame edge (1/8-pel units).
    */
  private[graft] def clampMv(mx: Int, my: Int, mbX: Int, mbY: Int,
                             mbW: Int, mbH: Int): (Int, Int) = {
    val margin = 16 << 3
    val toLeft = -((mbX * 16) << 3) - margin
    val toRight = (((mbW - 1 - mbX) * 16) << 3) + margin
    val toTop = -((mbY * 16) << 3) - margin
    val toBottom = (((mbH - 1 - mbY) * 16) << 3) + margin
    (math.max(toLeft, math.min(toRight, mx)),
      math.max(toTop, math.min(toBottom, my)))
  }

  /** §17.2 `read_mvcomponent` (result ×2: components are coded in
    * quarter-pel, carried in eighth-pel).
    */
  private[graft] def readMvComponent(br: Bool, p: Array[Int]): Int = {
    var x = 0
    if (br.bit(p(0)) == 1) { // long
      var i = 0
      while (i < 3) { x |= br.bit(p(9 + i)) << i; i += 1 }
      i = 9
      while (i > 3) { x |= br.bit(p(9 + i)) << i; i -= 1 }
      if ((x & 0xfff0) == 0 || br.bit(p(9 + 3)) == 1) x |= 8
    } else {
      x = br.tree(smallMvTree, p, 2)
    }
    if (x != 0 && br.bit(p(1)) == 1) x = -x
    x * 2
  }

  // --------------------------------------------- motion compensation
  /** Six-tap (or copy) MC of a `bw`×`bh` block from `ref` at full-pel
    * (px,py) + phase (fx,fy in 0..7), clamped addressing = edge
    * replication; (§18.3: horizontal pass over bh+5 rows, then
    * vertical, each (+64)>>7 with clamping).
    */
  private[graft] def mcBlock(ref: Array[Int], rw: Int, rh: Int,
                             px: Int, py: Int, fx: Int, fy: Int,
                             out: Array[Int], outOff: Int, outStride: Int,
                             bw: Int, bh: Int): Unit = {
    @inline def src(x: Int, y: Int): Int = {
      val cx = if (x < 0) 0 else if (x >= rw) rw - 1 else x
      val cy = if (y < 0) 0 else if (y >= rh) rh - 1 else y
      ref(cy * rw + cx)
    }
    @inline def clip(v: Int): Int = if (v < 0) 0 else if (v > 255) 255 else v
    if (fx == 0 && fy == 0) {
      var y = 0
      while (y < bh) {
        var x = 0
        while (x < bw) { out(outOff + y * outStride + x) = src(px + x, py + y); x += 1 }
        y += 1
      }
    } else if (fy == 0) {
      val f = subpelFilters(fx)
      var y = 0
      while (y < bh) {
        var x = 0
        while (x < bw) {
          var s = 64; var t = 0
          while (t < 6) { s += f(t) * src(px + x + t - 2, py + y); t += 1 }
          out(outOff + y * outStride + x) = clip(s >> 7)
          x += 1
        }
        y += 1
      }
    } else if (fx == 0) {
      val f = subpelFilters(fy)
      var y = 0
      while (y < bh) {
        var x = 0
        while (x < bw) {
          var s = 64; var t = 0
          while (t < 6) { s += f(t) * src(px + x, py + y + t - 2); t += 1 }
          out(outOff + y * outStride + x) = clip(s >> 7)
          x += 1
        }
        y += 1
      }
    } else {
      val fh = subpelFilters(fx); val fv = subpelFilters(fy)
      val tmp = new Array[Int]((bh + 5) * bw)
      var y = 0
      while (y < bh + 5) {
        var x = 0
        while (x < bw) {
          var s = 64; var t = 0
          while (t < 6) { s += fh(t) * src(px + x + t - 2, py + y - 2); t += 1 }
          tmp(y * bw + x) = clip(s >> 7)
          x += 1
        }
        y += 1
      }
      y = 0
      while (y < bh) {
        var x = 0
        while (x < bw) {
          var s = 64; var t = 0
          while (t < 6) { s += fv(t) * tmp((y + t) * bw + x); t += 1 }
          out(outOff + y * outStride + x) = clip(s >> 7)
          x += 1
        }
        y += 1
      }
    }
  }

  // ----------------------------------------------------- sequence state
  private final class State {
    var last: RefFrame = _
    var golden: RefFrame = _
    var altref: RefFrame = _
    var goldenBias = false
    var altrefBias = false
    val coeffP: Array[Int] = coeffProbs.clone()
    val mvP: Array[Array[Int]] = Array(mvDefaultProbs(0).clone(), mvDefaultProbs(1).clone())
    val yP: Array[Int] = yModeDefaultProbs.clone()
    val uvP: Array[Int] = uvModeDefaultProbs.clone()
    def resetEntropy(): Unit = {
      System.arraycopy(coeffProbs, 0, coeffP, 0, coeffP.length)
      System.arraycopy(mvDefaultProbs(0), 0, mvP(0), 0, 19)
      System.arraycopy(mvDefaultProbs(1), 0, mvP(1), 0, 19)
      System.arraycopy(yModeDefaultProbs, 0, yP, 0, 4)
      System.arraycopy(uvModeDefaultProbs, 0, uvP, 0, 3)
    }
  }

  final case class SeqFrame(frame: Frame, keyFrame: Boolean)

  /** Decode a raw-VP8 frame sequence (WebM SimpleBlock payloads, first
    * frame a keyframe) to its SHOWN frames in display order. A hidden
    * frame (`show_frame = 0` in the tag — the libvpx altref-construction
    * pattern) updates reference state but emits no output frame, so
    * frame counts and indices match what a player would display.
    */
  def decodeSequenceFrames(frames: Seq[Array[Byte]]): Vector[SeqFrame] = {
    require(frames.nonEmpty, "empty sequence")
    val st = new State
    val out = Vector.newBuilder[SeqFrame]
    frames.zipWithIndex.foreach { case (d, i) =>
      if (d.length < 3) throw new Vp8Error(s"truncated frame $i")
      val tag = (d(0) & 0xff) | ((d(1) & 0xff) << 8) | ((d(2) & 0xff) << 16)
      val keyFrame = (tag & 1) == 0
      val shown = ((tag >>> 4) & 1) == 1
      if (i == 0 && !keyFrame) throw new Vp8Error("sequence must start with a keyframe")
      val f =
        if (keyFrame) {
          // keyframes reset entropy to defaults (the keyframe decoder
          // applies its own header updates internally; fixture keyframes
          // carry none, and cross-frame persistence of keyframe updates
          // is outside the co-designed envelope)
          st.resetEntropy()
          val kf = Vp8.decodeFrame(d)
          val ref = toRef(kf)
          st.last = ref; st.golden = ref; st.altref = ref
          st.goldenBias = false; st.altrefBias = false
          kf
        } else decodeInter(d, st)
      if (shown) out += SeqFrame(f, keyFrame)
    }
    out.result()
  }

  /** [[decodeSequenceFrames]] without the per-frame metadata. */
  def decodeSequence(frames: Seq[Array[Byte]]): Vector[Frame] =
    decodeSequenceFrames(frames).map(_.frame)

  // ------------------------------------------------- interframe decode
  private def decodeInter(d: Array[Byte], st: State): Frame = {
    if (st.last == null) throw new Vp8Error("interframe before any keyframe")
    val tag = (d(0) & 0xff) | ((d(1) & 0xff) << 8) | ((d(2) & 0xff) << 16)
    val version = (tag >>> 1) & 7
    if (version != 0)
      throw new Vp8Error(s"interframe version $version (bilinear/no-filter " +
        "reconstruction variants) unsupported — six-tap version 0 only")
    val part0Len = tag >>> 5
    val part0End = 3L + part0Len
    if (part0End > d.length) throw new Vp8Error("truncated first partition")
    val br = new Bool(d, 3, part0End.toInt)

    // ---- segmentation (9.3): interframe segmentation state (the MB
    // map AND the per-segment quantizer/filter data) PERSISTS across
    // frames per the spec; that cross-frame state is outside this
    // envelope — refuse loudly rather than dequantize every MB with
    // silently-wrong segment-0 parameters
    if (br.bit(128) == 1)
      throw new Vp8Error("interframe segmentation unsupported (fixture envelope)")

    // ---- loop filter header (9.4)
    br.bit(128) // filter type
    val filterLevel = br.literal(6)
    br.literal(3) // sharpness
    if (br.bit(128) == 1) { // lf delta enabled
      if (br.bit(128) == 1) {
        var i = 0
        while (i < 4) { if (br.bit(128) == 1) br.signed(6); i += 1 }
        i = 0
        while (i < 4) { if (br.bit(128) == 1) br.signed(6); i += 1 }
      }
    }
    if (filterLevel > 0)
      throw new Vp8Error("interframe loop filter unsupported (fixture envelope is level 0)")

    // ---- token partitions (9.5), quantizers (9.6): one segment
    val parts = Vp8.tokenPartitions(d, br, part0End.toInt)
    val qh = new Vp8.QuantHeader(br)
    val segQ = qh.dequant(qh.yacQi)

    // ---- reference refresh plumbing (9.7)
    val refreshGolden = br.bit(128) == 1
    val refreshAltref = br.bit(128) == 1
    val copyGolden = if (!refreshGolden) br.literal(2) else 0
    val copyAltref = if (!refreshAltref) br.literal(2) else 0
    val signBiasGolden = br.bit(128) == 1
    val signBiasAltref = br.bit(128) == 1
    val refreshEntropy = br.bit(128) == 1
    val refreshLast = br.bit(128) == 1

    // ---- entropy updates (9.8–9.10); a refresh=0 frame's updates are
    // scoped to this frame only (state restored afterwards)
    val savedCoeff = if (!refreshEntropy) st.coeffP.clone() else null
    val savedMv = if (!refreshEntropy) Array(st.mvP(0).clone(), st.mvP(1).clone()) else null
    val savedY = if (!refreshEntropy) st.yP.clone() else null
    val savedUv = if (!refreshEntropy) st.uvP.clone() else null
    Vp8.updateCoeffProbs(br, st.coeffP)
    val skipEnabled = br.bit(128) == 1
    val probSkipFalse = if (skipEnabled) br.literal(8) else 0
    val probIntra = br.literal(8)
    val probLast = br.literal(8)
    val probGf = br.literal(8)
    if (br.bit(128) == 1) { // y mode prob update
      var i = 0
      while (i < 4) { st.yP(i) = br.literal(8); i += 1 }
    }
    if (br.bit(128) == 1) { // uv mode prob update
      var i = 0
      while (i < 3) { st.uvP(i) = br.literal(8); i += 1 }
    }
    var c2 = 0
    while (c2 < 2) {
      var i = 0
      while (i < 19) {
        if (br.bit(mvUpdateProbs(c2)(i)) == 1) {
          val x = br.literal(7)
          st.mvP(c2)(i) = if (x > 0) x << 1 else 1
        }
        i += 1
      }
      c2 += 1
    }

    // ---- reconstruction: inter MBs motion-compensate from a REFERENCE
    // into the planes, intra MBs predict from this frame's reconstructed
    // neighbors in them; both then add their residuals
    val rc = new Vp8.Recon(st.last.w, st.last.h, st.coeffP)
    import rc.{mbW, mbH}
    val w16 = mbW * 16; val h16 = mbH * 16
    val cw = mbW * 8; val ch = mbH * 8

    def biasOf(ref: Int): Boolean = ref match {
      case 1 => signBiasGolden
      case 2 => signBiasAltref
      case _ => false
    }
    def refPlanes(ref: Int): RefFrame = ref match {
      case 0 => st.last
      case 1 => st.golden
      case _ => st.altref
    }

    // the mode/MV grid, plus per-4x4 MV context rows for SPLITMV sub-mode
    // decoding: the bottom row of each MB column (above) and the right
    // column of the last MB (left); intra and out-of-frame neighbors
    // contribute zero MVs
    val grid = Array.fill(mbW * mbH)(OutsideMb)
    val aboveMvX = new Array[Int](mbW * 4)
    val aboveMvY = new Array[Int](mbW * 4)
    val leftMvX = new Array[Int](4)
    val leftMvY = new Array[Int](4)
    val smX = new Array[Int](16)
    val smY = new Array[Int](16)

    var mbY = 0
    while (mbY < mbH) {
      java.util.Arrays.fill(leftMvX, 0)
      java.util.Arrays.fill(leftMvY, 0)
      val bd = parts(mbY % parts.length)
      var mbX = 0
      while (mbX < mbW) {
        val skip = skipEnabled && br.bit(probSkipFalse) == 1
        val isInter = br.bit(probIntra) == 1
        val yOff = rc.yOff(mbX, mbY); val cOff = rc.cOff(mbX, mbY)

        var hasY2 = true
        var info = OutsideMb
        if (!isInter) {
          val yMode = br.tree(yModeTree, st.yP)
          if (yMode == 4)
            throw new Vp8Error("interframe B_PRED intra MB unsupported (fixture envelope)")
          val uvMode = br.tree(uvModeTree, st.uvP)
          rc.predictIntra(mbX, mbY, yMode, uvMode)
          java.util.Arrays.fill(smX, 0)
          java.util.Arrays.fill(smY, 0)
        } else {
          val ref =
            if (br.bit(probLast) == 0) 0
            else if (br.bit(probGf) == 0) 1
            else 2
          val curBias = biasOf(ref)
          val (bestX0, bestY0, nearestX0, nearestY0, nearX0, nearY0, cnt) =
            findNearMvs(grid, mbW, mbX, mbY, curBias, biasOf)
          val (bestX, bestY) = clampMv(bestX0, bestY0, mbX, mbY, mbW, mbH)
          val (nearestX, nearestY) = clampMv(nearestX0, nearestY0, mbX, mbY, mbW, mbH)
          val (nearX, nearY) = clampMv(nearX0, nearY0, mbX, mbY, mbW, mbH)
          val mp = Array(
            modeContexts(cnt(0))(0), modeContexts(cnt(1))(1),
            modeContexts(cnt(2))(2), modeContexts(cnt(3))(3))
          val mode = br.tree(mvRefTree, mp)
          val rf = refPlanes(ref)
          if (mode == 4) {
            // ---- SPLITMV (§16.3.5): per-partition sub-MVs
            val part = br.tree(splitPartTree, splitPartProbs)
            val fill = splitFills(part)
            var k = 0
            while (k < splitCounts(part)) {
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
              val (vx, vy) = br.tree(subMvRefTree, subMvRefProbs(ctx)) match {
                case 0 => (lX, lY)
                case 1 => (aX, aY)
                case 2 => (0, 0)
                case _ =>
                  val dy = readMvComponent(br, st.mvP(0))
                  val dx = readMvComponent(br, st.mvP(1))
                  (bestX + dx, bestY + dy)
              }
              var b = 0
              while (b < 16) {
                if (fill(b) == k) { smX(b) = vx; smY(b) = vy }
                b += 1
              }
              k += 1
            }
            // luma: one 4x4 MC per subblock with its own MV
            var b = 0
            while (b < 16) {
              val sx = b & 3; val sy = b >> 2
              mcBlock(rf.y, w16, h16,
                mbX * 16 + sx * 4 + (smX(b) >> 3), mbY * 16 + sy * 4 + (smY(b) >> 3),
                smX(b) & 7, smY(b) & 7,
                rc.Y, yOff + sy * 4 * rc.yStride + sx * 4, rc.yStride, 4, 4)
              b += 1
            }
            // chroma 4x4 blocks: average of the 4 covering luma sub-MVs,
            // round-away-from-zero /8 (the averaged value lands in
            // 1/8-CHROMA-pel units — §18.2)
            var cb = 0
            while (cb < 4) {
              val csx = cb & 1; val csy = cb >> 1
              var sumX = 0; var sumY = 0
              var dr = 0
              while (dr < 2) {
                var dc = 0
                while (dc < 2) {
                  val li = (2 * csy + dr) * 4 + (2 * csx + dc)
                  sumX += smX(li); sumY += smY(li)
                  dc += 1
                }
                dr += 1
              }
              val cmx = (if (sumX >= 0) sumX + 4 else sumX - 4) / 8
              val cmy = (if (sumY >= 0) sumY + 4 else sumY - 4) / 8
              val px = mbX * 8 + csx * 4 + (cmx >> 3); val py = mbY * 8 + csy * 4 + (cmy >> 3)
              val bo = cOff + csy * 4 * rc.cStride + csx * 4
              mcBlock(rf.u, cw, ch, px, py, cmx & 7, cmy & 7, rc.U, bo, rc.cStride, 4, 4)
              mcBlock(rf.v, cw, ch, px, py, cmx & 7, cmy & 7, rc.V, bo, rc.cStride, 4, 4)
              cb += 1
            }
            info = MbInfo(ref, smX(15), smY(15), split = true)
            hasY2 = false
          } else {
            val (mvX, mvY) = mode match {
              case 0 => (0, 0)
              case 1 => (nearestX, nearestY)
              case 2 => (nearX, nearY)
              case _ =>
                val dy = readMvComponent(br, st.mvP(0))
                val dx = readMvComponent(br, st.mvP(1))
                (bestX + dx, bestY + dy)
            }
            java.util.Arrays.fill(smX, mvX)
            java.util.Arrays.fill(smY, mvY)
            // luma: one 16x16 MC
            mcBlock(rf.y, w16, h16, mbX * 16 + (mvX >> 3), mbY * 16 + (mvY >> 3),
              mvX & 7, mvY & 7, rc.Y, yOff, rc.yStride, 16, 16)
            // chroma: components halve exactly (MVs are even — read ×2;
            // identical to the §18.2 averaged form when all four agree)
            val cmx = mvX >> 1; val cmy = mvY >> 1
            val px = mbX * 8 + (cmx >> 3); val py = mbY * 8 + (cmy >> 3)
            mcBlock(rf.u, cw, ch, px, py, cmx & 7, cmy & 7, rc.U, cOff, rc.cStride, 8, 8)
            mcBlock(rf.v, cw, ch, px, py, cmx & 7, cmy & 7, rc.V, cOff, rc.cStride, 8, 8)
            info = MbInfo(ref, mvX, mvY, split = false)
          }
        }
        // per-4x4 MV context rows for the NEXT MBs
        var sb = 0
        while (sb < 4) {
          leftMvX(sb) = smX(sb * 4 + 3); leftMvY(sb) = smY(sb * 4 + 3)
          aboveMvX(mbX * 4 + sb) = smX(12 + sb)
          aboveMvY(mbX * 4 + sb) = smY(12 + sb)
          sb += 1
        }

        // ---- residuals: the keyframe path (SPLITMV carries no Y2)
        rc.residuals(bd, mbX, mbY, skip, hasY2, segQ, bModes = null)
        grid(mbY * mbW + mbX) = info
        mbX += 1
      }
      mbY += 1
    }

    // ---- output + reference management
    val frame = rc.frame(filtered = false)
    val recon = rc.interior()

    // §9.7 order: copies read the PRE-update buffers
    val prevLast = st.last; val prevGolden = st.golden; val prevAlt = st.altref
    if (refreshGolden) st.golden = recon
    else copyGolden match {
      case 1 => st.golden = prevLast
      case 2 => st.golden = prevAlt
      case _ =>
    }
    if (refreshAltref) st.altref = recon
    else copyAltref match {
      case 1 => st.altref = prevLast
      case 2 => st.altref = prevGolden
      case _ =>
    }
    if (refreshLast) st.last = recon
    st.goldenBias = signBiasGolden
    st.altrefBias = signBiasAltref
    if (!refreshEntropy) {
      System.arraycopy(savedCoeff, 0, st.coeffP, 0, savedCoeff.length)
      System.arraycopy(savedMv(0), 0, st.mvP(0), 0, 19)
      System.arraycopy(savedMv(1), 0, st.mvP(1), 0, 19)
      System.arraycopy(savedY, 0, st.yP, 0, 4)
      System.arraycopy(savedUv, 0, st.uvP, 0, 3)
    }
    frame
  }
}
