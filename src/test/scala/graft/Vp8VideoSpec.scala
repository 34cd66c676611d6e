package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.kernel.{Vp8, Vp8Video, Webm}
import graft.fixtures.MediaGen
import graft.fixtures.MediaGen.Vp8Move
import scala.util.Random

class Vp8VideoSpec extends AnyFunSuite {

  private def textured(w: Int, h: Int, seed: Int): Array[Int] = {
    val r = new Random(seed)
    val tw = (w + 7) / 8
    val tiles = Array.fill(tw * ((h + 7) / 8))(40 + r.nextInt(160))
    Array.tabulate(w * h) { i =>
      val x = i % w; val y = i / w
      math.min(255, math.max(0, tiles((y / 8) * tw + x / 8) + r.nextInt(9) - 4))
    }
  }

  test("six-tap filter arithmetic matches the RFC taps on a hand-checked vector") {
    // phase 4 taps {3,-16,77,77,-16,3} on a step edge 0→200 at x=3:
    // out(x=2) interpolates between src[0..5] = 0,0,0,200,200,200
    val ref = Array.tabulate(16)(x => if (x % 16 >= 3) 200 else 0)
    val out = new Array[Int](1)
    Vp8Video.mcBlock(ref, 16, 1, 2, 0, 4, 0, out, 0, 1, 1, 1)
    // s = 64 + 3*0 -16*0 +77*0 +77*200 -16*200 +3*200 = 64 + 200*64 = 12864 → >>7 = 100
    assert(out(0) === 100)
    // phase 0 is a pure copy
    Vp8Video.mcBlock(ref, 16, 1, 5, 0, 0, 0, out, 0, 1, 1, 1)
    assert(out(0) === 200)
  }

  test("ZERO-MV P-frame reproduces the keyframe reconstruction exactly") {
    val w = 64; val h = 48
    val frames = MediaGen.vp8Sequence(textured(w, h, 1), w, h, Seq(Vp8Move(0, 0)))
    val decoded = Vp8Video.decodeSequence(frames)
    assert(decoded.length === 2)
    assert(decoded(1).y.toSeq === decoded(0).y.toSeq, "ZERO-MV frame must be a pure copy")
    assert(decoded(1).u.toSeq === decoded(0).u.toSeq)
  }

  test("full-pel translation: decoded P-frame equals the shifted reference") {
    val w = 64; val h = 48
    val moves = Seq(Vp8Move(2 * 8, 1 * 8)) // +2 px right-source, +1 px down-source
    val frames = MediaGen.vp8Sequence(textured(w, h, 2), w, h, moves)
    val decoded = Vp8Video.decodeSequence(frames)
    val ref = Vp8Video.toRef(decoded(0))
    val w16 = ((w + 15) >> 4) * 16; val h16 = ((h + 15) >> 4) * 16
    val got = decoded(1)
    var bad = 0
    for (y <- 0 until h; x <- 0 until w) {
      val sx = math.min(w16 - 1, x + 2)
      val sy = math.min(h16 - 1, y + 1)
      if (got.y(y * w + x) != ref.y(sy * w16 + sx)) bad += 1
    }
    assert(bad === 0, s"$bad of ${w * h} pixels diverged from the translation")
  }

  test("chained motion: each P-frame translates the PREVIOUS reconstruction") {
    val w = 48; val h = 48
    val frames = MediaGen.vp8Sequence(textured(w, h, 3), w, h,
      Seq(Vp8Move(8, 0), Vp8Move(8, 0), Vp8Move(0, 16)))
    val decoded = Vp8Video.decodeSequence(frames)
    assert(decoded.length === 4)
    val w16 = ((w + 15) >> 4) * 16
    // frame 2 = frame 1 shifted +1px; compare interior to dodge edge clamps
    for (y <- 0 until h - 4; x <- 0 until w - 4) {
      assert(decoded(2).y(y * w + x) ===
        Vp8Video.toRef(decoded(1)).y(y * w16 + x + 1), s"frame2 ($x,$y)")
      assert(decoded(3).y(y * w + x) ===
        Vp8Video.toRef(decoded(2)).y((y + 2) * w16 + x), s"frame3 ($x,$y)")
    }
  }

  test("sub-pel motion: half-pel MC equals a direct mcBlock of the reference") {
    val w = 32; val h = 32
    val frames = MediaGen.vp8Sequence(textured(w, h, 4), w, h, Seq(Vp8Move(4, 12)))
    val decoded = Vp8Video.decodeSequence(frames)
    val ref = Vp8Video.toRef(decoded(0))
    val w16 = ((w + 15) >> 4) * 16; val h16 = ((h + 15) >> 4) * 16
    val expect = new Array[Int](w16 * h16)
    // whole-frame MC with the same MV, MB by MB like the decoder
    for (mbY <- 0 until h16 / 16; mbX <- 0 until w16 / 16) {
      val buf = new Array[Int](256)
      Vp8Video.mcBlock(ref.y, w16, h16, mbX * 16 + (4 >> 3), mbY * 16 + (12 >> 3),
        4 & 7, 12 & 7, buf, 0, 16, 16, 16)
      for (r <- 0 until 16)
        System.arraycopy(buf, r * 16, expect, (mbY * 16 + r) * w16 + mbX * 16, 16)
    }
    for (y <- 0 until h; x <- 0 until w)
      assert(decoded(1).y(y * w + x) === expect(y * w16 + x), s"($x,$y)")
  }

  test("mixed per-MB MVs exercise NEW, NEAREST, NEAR and ZERO decode paths") {
    val w = 96; val h = 32 // 6x2 MBs
    // column stripes: even MBs move (16,0), odd move (0,8); MB (0,*) = zero
    val mvOf = (mbX: Int, _: Int) =>
      if (mbX == 0) (0, 0) else if (mbX % 2 == 0) (16, 0) else (0, 8)
    val frames = MediaGen.vp8Sequence(textured(w, h, 5), w, h,
      Seq(Vp8Move(0, 0, mvOf = Some(mvOf))))
    val decoded = Vp8Video.decodeSequence(frames)
    val ref = Vp8Video.toRef(decoded(0))
    val w16 = ((w + 15) >> 4) * 16; val h16 = ((h + 15) >> 4) * 16
    var bad = 0
    for (y <- 0 until h; x <- 0 until w) {
      val (dx, dy) = mvOf(x / 16, y / 16)
      val sx = math.min(w16 - 1, x + (dx >> 3))
      val sy = math.min(h16 - 1, y + (dy >> 3))
      if (decoded(1).y(y * w + x) != ref.y(sy * w16 + sx)) bad += 1
    }
    assert(bad === 0, s"$bad pixels diverged under mixed per-MB motion")
  }

  test("residual P-frame: AC residual tokens reconstruct on top of motion") {
    val w = 64; val h = 48
    val base = textured(w, h, 6)
    // motion-only decode = the exact prediction the residual rides on
    val pure = MediaGen.vp8Sequence(base, w, h, Seq(Vp8Move(8, 8)))
    val pureDec = Vp8Video.decodeSequence(pure)(1)
    // target = prediction + a zero-block-mean AC pattern (DC is forced 0
    // by the AC-only fixture contract, so the pattern must carry no
    // per-4x4 mean shift to be representable)
    val acPat = Array(-12, -4, 4, 12)
    val target = Array.tabulate(w * h) { i =>
      val v = pureDec.y(i) + acPat(i % w % 4)
      math.min(255, math.max(0, v))
    }
    val frames = MediaGen.vp8Sequence(base, w, h,
      Seq(Vp8Move(8, 8, target = Some(target))))
    val decoded = Vp8Video.decodeSequence(frames)
    assert(decoded.length === 2)
    def err(a: Array[Int], b: Array[Int]): Long =
      a.zip(b).map { case (x, y) => math.abs(x - y).toLong }.sum
    val eResidual = err(decoded(1).y, target)
    val ePure = err(pureDec.y, target)
    assert(decoded(1).y.toSeq !== pureDec.y.toSeq, "residual tokens had no effect")
    assert(eResidual < ePure / 3,
      s"residuals barely helped: $eResidual vs motion-only $ePure")
    // mean per-pixel error stays within quantizer granularity
    assert(eResidual.toDouble / (w * h) < 4.0,
      s"per-pixel residual error ${eResidual.toDouble / (w * h)}")
    // and a re-decode is bit-identical (determinism)
    val again = Vp8Video.decodeSequence(frames)
    assert(again(1).y.toSeq === decoded(1).y.toSeq)
  }

  test("webm end-to-end: mux P-frame sequence, demux all blocks, decode every frame") {
    val w = 48; val h = 32
    val frames = MediaGen.vp8Sequence(textured(w, h, 8), w, h,
      Seq(Vp8Move(16, 0), Vp8Move(0, 0), Vp8Move(-8, 8)))
    val container = MediaGen.webm(frames, w, h, fps = 10)
    val demuxed = Webm.videoFrames(container)
    assert(demuxed.length === 4)
    demuxed.zip(frames).foreach { case (a, b) => assert(a.toSeq == b.toSeq) }
    val decoded = Vp8Video.decodeSequence(demuxed)
    assert(decoded.length === 4)
    assert(decoded.forall(f => f.width == w && f.height == h))
    // frame 2 is ZERO-MV: identical to frame 1
    assert(decoded(2).y.toSeq === decoded(1).y.toSeq)
  }

  test("SPLITMV: all four partition kinds reconstruct exact per-region translations") {
    val w = 64; val h = 64 // 4x4 MBs
    val lum = textured(w, h, 20)
    // MB (0,0): 4x4 split (16 distinct-ish MVs), MB (1,0): 8x8 quads,
    // MB (2,0): 16x8 halves, MB (3,0): 8x16 halves; row 1+: whole-MB zero
    val splits: (Int, Int) => Option[(Int, Seq[(Int, Int)])] = (mbX, mbY) =>
      if (mbY != 0) None
      else mbX match {
        case 0 => Some((3, (0 until 16).map(i => ((i % 3) * 8 - 8, (i % 2) * 8))))
        case 1 => Some((2, Seq((8, 0), (0, 8), (-8, 0), (0, -8))))
        case 2 => Some((0, Seq((16, 0), (0, 16))))
        case 3 => Some((1, Seq((-16, 0), (0, -16))))
        case _ => None
      }
    val frames = MediaGen.vp8Sequence(lum, w, h,
      Seq(Vp8Move(0, 0, splitOf = Some(splits))))
    val decoded = Vp8Video.decodeSequence(frames)
    val ref = Vp8Video.toRef(decoded(0))
    val w16 = ((w + 15) >> 4) * 16; val h16 = ((h + 15) >> 4) * 16
    // every luma pixel must equal its OWN subblock's translation
    var bad = 0
    for (y <- 0 until h; x <- 0 until w) {
      val mbX = x / 16; val mbY = y / 16
      val (dx, dy) = splits(mbX, mbY) match {
        case None => (0, 0)
        case Some((part, mvs)) =>
          val sb = ((y % 16) / 4) * 4 + (x % 16) / 4
          mvs(Vp8Video.splitFills(part)(sb))
      }
      val sx = math.max(0, math.min(w16 - 1, x + (dx >> 3)))
      val sy = math.max(0, math.min(h16 - 1, y + (dy >> 3)))
      if (decoded(1).y(y * w + x) != ref.y(sy * w16 + sx)) bad += 1
    }
    assert(bad === 0, s"$bad of ${w * h} pixels diverged under SPLITMV")
  }

  test("SPLITMV context chain: neighboring split MBs with shared MVs still round-trip") {
    val w = 48; val h = 32
    val lum = textured(w, h, 21)
    // adjacent 4x4-split MBs whose sub-MVs repeat left/above values —
    // exercising the LEFT/ABOVE/ZERO sub-modes and their contexts
    val splits: (Int, Int) => Option[(Int, Seq[(Int, Int)])] = (mbX, _) =>
      Some((3, (0 until 16).map { i =>
        if ((i + mbX) % 4 == 0) (0, 0)
        else if (i % 2 == 0) (8, 0) else (8, 0) // runs of equal MVs
      }))
    val frames = MediaGen.vp8Sequence(lum, w, h,
      Seq(Vp8Move(0, 0, splitOf = Some(splits)), Vp8Move(8, 8)))
    val decoded = Vp8Video.decodeSequence(frames)
    assert(decoded.length === 3)
    // frame 2's whole-MB motion rides on a split-built reference; the
    // sequence decoding itself (no thrown error, exact length) plus a
    // re-decode determinism check pin the chain
    val again = Vp8Video.decodeSequence(frames)
    assert(again(2).y.toSeq === decoded(2).y.toSeq)
    assert(again(1).y.toSeq === decoded(1).y.toSeq)
  }

  test("intra MBs inside an interframe: DC/V/H/TM predict from decoded neighbors") {
    val w = 96; val h = 64 // 6x4 MBs, MB-aligned: every neighbor is in the crop
    // all four modes, at the top row and left column (the 127 above /
    // 129 left edge values) and inside the frame, some next to each other
    val modes = Map((0, 0) -> 3, (1, 0) -> 1, (2, 0) -> 0, (0, 1) -> 2,
      (2, 1) -> 0, (5, 1) -> 3, (0, 2) -> 3, (1, 2) -> 1, (2, 2) -> 2, (4, 3) -> 2)
    val frames = MediaGen.vp8Sequence(textured(w, h, 40), w, h,
      Seq(Vp8Move(16, 8, intraOf = Some((mbX, mbY) => modes.get((mbX, mbY))))))
    val decoded = Vp8Video.decodeSequence(frames)
    val f = decoded(1)
    def px(x: Int, y: Int): Int = f.y(y * w + x)
    for (((mbX, mbY), mode) <- modes) {
      val x0 = mbX * 16; val y0 = mbY * 16
      def above(i: Int) = if (mbY > 0) px(x0 + i, y0 - 1) else 127
      def left(j: Int) = if (mbX > 0) px(x0 - 1, y0 + j) else 129
      val corner = if (mbY == 0) 127 else if (mbX == 0) 129 else px(x0 - 1, y0 - 1)
      val edges = (if (mbY > 0) (0 until 16).map(above) else Nil) ++
        (if (mbX > 0) (0 until 16).map(left) else Nil)
      val dc = if (edges.isEmpty) 128 else (edges.sum + edges.length / 2) / edges.length
      for (j <- 0 until 16; i <- 0 until 16) {
        val expect = mode match {
          case 0 => dc
          case 1 => above(i)
          case 2 => left(j)
          case _ => math.max(0, math.min(255, left(j) + above(i) - corner))
        }
        assert(px(x0 + i, y0 + j) === expect, s"mode $mode MB ($mbX,$mbY) pixel ($i,$j)")
      }
    }
    assert(f.u.forall(_ == 128) && f.v.forall(_ == 128), "chroma DC of a flat plane stays 128")
    // every inter MB, including those whose neighbors are intra, is the
    // translated reference
    val ref = Vp8Video.toRef(decoded(0))
    val w16 = ((w + 15) >> 4) * 16; val h16 = ((h + 15) >> 4) * 16
    var bad = 0
    for (y <- 0 until h; x <- 0 until w; if !modes.contains((x / 16, y / 16))) {
      val sx = math.min(w16 - 1, x + 2); val sy = math.min(h16 - 1, y + 1)
      if (px(x, y) != ref.y(sy * w16 + sx)) bad += 1
    }
    assert(bad === 0, s"$bad inter pixels diverged from the translation")
  }

  test("hidden frames (show_frame=0) update references but emit no output") {
    val w = 48; val h = 32
    val frames = MediaGen.vp8Sequence(textured(w, h, 10), w, h,
      Seq(Vp8Move(16, 0), Vp8Move(0, 0))).map(_.clone())
    // hide the motion frame: clear the tag's show bit
    frames(1)(0) = (frames(1)(0) & ~0x10).toByte
    val shown = Vp8Video.decodeSequenceFrames(frames)
    assert(shown.length === 2, "keyframe + the final ZERO-MV frame")
    assert(shown(0).keyFrame && !shown(1).keyFrame)
    // the ZERO-MV frame copies the HIDDEN frame's reconstruction — the
    // translated keyframe — proving the hidden frame updated LAST
    val visible = MediaGen.vp8Sequence(textured(w, h, 10), w, h,
      Seq(Vp8Move(16, 0), Vp8Move(0, 0)))
    val full = Vp8Video.decodeSequence(visible)
    assert(shown(1).frame.y.toSeq === full(2).y.toSeq)
  }

  test("GOLDEN/ALTREF references: pinned frames restore exactly after LAST moves on") {
    val w = 64; val h = 48
    // keyframe refreshes all three refs; frame1 moves LAST and PINS its
    // reconstruction into GOLDEN; frames 2-3 keep moving LAST; frame4
    // predicts ZERO-MV from GOLDEN → must equal frame1, not frame3;
    // frame5 predicts ZERO-MV from ALTREF (never refreshed since the
    // keyframe) → must equal frame0.
    val frames = MediaGen.vp8Sequence(textured(w, h, 30), w, h, Seq(
      Vp8Move(8, 0, refreshGolden = true),
      Vp8Move(8, 0),
      Vp8Move(0, 8),
      Vp8Move(0, 0, ref = 1),
      Vp8Move(0, 0, ref = 2)))
    val decoded = Vp8Video.decodeSequence(frames)
    assert(decoded.length === 6)
    assert(decoded(4).y.toSeq === decoded(1).y.toSeq, "GOLDEN must restore frame1")
    assert(decoded(4).u.toSeq === decoded(1).u.toSeq)
    assert(decoded(4).y.toSeq !== decoded(3).y.toSeq,
      "golden-predicted frame must differ from the rolled-on LAST")
    assert(decoded(5).y.toSeq === decoded(0).y.toSeq, "ALTREF must restore the keyframe")
    assert(decoded(5).u.toSeq === decoded(0).u.toSeq)
    // motion ON a golden reference: frame built from GOLDEN shifted
    val frames2 = MediaGen.vp8Sequence(textured(w, h, 31), w, h, Seq(
      Vp8Move(16, 0, refreshAltref = true),
      Vp8Move(0, 16),
      Vp8Move(16, 0, ref = 2)))
    val dec2 = Vp8Video.decodeSequence(frames2)
    val refA = Vp8Video.toRef(dec2(1)) // what ALTREF pinned
    val w16 = ((w + 15) >> 4) * 16; val h16 = ((h + 15) >> 4) * 16
    var bad = 0
    for (y <- 0 until h; x <- 0 until w) {
      val sx = math.min(w16 - 1, x + 2); val sy = math.min(h16 - 1, y)
      if (dec2(3).y(y * w + x) != refA.y(sy * w16 + sx)) bad += 1
    }
    assert(bad === 0, s"$bad pixels diverged translating the ALTREF reference")
  }

  test("error discipline: interframe-first refused, truncated frames refused") {
    val w = 32; val h = 32
    val frames = MediaGen.vp8Sequence(textured(w, h, 9), w, h, Seq(Vp8Move(8, 0)))
    intercept[Vp8.Vp8Error](Vp8Video.decodeSequence(Seq(frames(1))))
    intercept[Vp8.Vp8Error](
      Vp8Video.decodeSequence(Seq(frames(0), frames(1).take(5))))
    // keyframe-only sequences still work (degenerate case)
    assert(Vp8Video.decodeSequence(Seq(frames(0))).length === 1)
  }
}
