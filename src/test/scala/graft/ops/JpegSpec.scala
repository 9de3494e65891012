package graft.ops

import graft.media.{Jpeg, Png}
import org.scalatest.funsuite.AnyFunSuite

/** Baseline JPEG codec (round 5): encode → decode round-trips within the
  * quantization error budget, block-constant images survive near-exactly
  * (DC-only blocks), grayscale and YCbCr-4:2:0 framings of the same luma
  * decode identically, restart intervals work, and the dHash over decoded
  * JPEG pixels matches the dHash over the source lattice — the perceptual
  * contract that makes lossy decode usable for near-dup detection.
  */
class JpegSpec extends AnyFunSuite {

  private def mkGray(w: Int, h: Int, f: (Int, Int) => Int): Png.Gray =
    Png.Gray(w, h, Array.tabulate(w * h)(i => f(i % w, i / w) & 0xff))

  /** Block-constant lattice: every 8×8 block one value from a deterministic
    * palette with ≥ 8 separation between horizontally adjacent blocks.
    */
  private def blockImage(wBlocks: Int, hBlocks: Int, seed: Int): Png.Gray =
    mkGray(wBlocks * 8, hBlocks * 8, (x, y) => {
      val bx = x / 8; val by = y / 8
      40 + ((bx * 37 + by * 53 + seed * 17) % 22) * 8 // 40..208 step 8
    })

  test("signature detection") {
    assert(Jpeg.isJpeg(Jpeg.encodeGray(blockImage(2, 2, 1))))
    assert(!Jpeg.isJpeg(Png.encodeGrayAs(mkGray(8, 8, (x, y) => x + y), 0)))
    assert(!Jpeg.isJpeg("plain".getBytes))
  }

  test("block-constant images decode near-exactly (DC-only path)") {
    val img = blockImage(9, 7, seed = 3)
    val back = Jpeg.decodeGray(Jpeg.encodeGray(img, quality = 90))
    assert(back.width == img.width && back.height == img.height)
    val maxErr = img.pixels.zip(back.pixels).map { case (a, b) => math.abs(a - b) }.max
    assert(maxErr <= 2, s"max error $maxErr")
  }

  test("smooth images stay within the quality-90 error budget") {
    val img = mkGray(40, 24, (x, y) => 60 + ((x * 5 + y * 3) % 120))
    val back = Jpeg.decodeGray(Jpeg.encodeGray(img, quality = 90))
    val errs = img.pixels.zip(back.pixels).map { case (a, b) => math.abs(a - b) }
    assert(errs.max <= 24, s"max err ${errs.max}")
    assert(errs.sum.toDouble / errs.length <= 6.0, s"mean err ${errs.sum.toDouble / errs.length}")
  }

  test("fill bytes and TEM markers between segments are skipped") {
    val clean = Jpeg.encodeGray(mkGray(24, 16, (x, y) => 30 + x * 7 + y * 3), quality = 90)
    def u16(p: Int) = ((clean(p) & 0xff) << 8) | (clean(p + 1) & 0xff)
    // the marker positions from the first segment after SOI through SOS
    val segments = Iterator.iterate(2)(p => p + 2 + u16(p + 2))
      .takeWhile(p => (clean(p + 1) & 0xff) != 0xDA).toList
    val starts = segments :+ (segments.last + 2 + u16(segments.last + 2))
    assert(starts.length >= 3 && (clean(starts.last + 1) & 0xff) == 0xDA)
    val stuffing = Array(0xFF, 0x01, 0xFF, 0xFF, 0xFF).map(_.toByte) // TEM, then fill
    val out = new java.io.ByteArrayOutputStream()
    var prev = 0
    starts.foreach { p => out.write(clean, prev, p - prev); out.write(stuffing); prev = p }
    out.write(clean, prev, clean.length - prev)
    val stuffed = out.toByteArray
    assert(stuffed.length == clean.length + starts.length * stuffing.length)
    assert(Jpeg.decodeGray(stuffed).pixels.toSeq == Jpeg.decodeGray(clean).pixels.toSeq)
  }

  test("grayscale and color-4:2:0 framings of the same luma decode identically") {
    val img = blockImage(6, 4, seed = 9)
    val gray = Jpeg.decodeGray(Jpeg.encodeGray(img, quality = 90))
    val color = Jpeg.decodeGray(Jpeg.encodeGray(img, quality = 90, color420 = true))
    assert(color.width == img.width && color.height == img.height)
    assert(gray.pixels.toSeq == color.pixels.toSeq,
      "chroma-skip path diverged from pure grayscale")
    // the two FILES differ (different frame structure) — only the luma agrees
    assert(!java.util.Arrays.equals(
      Jpeg.encodeGray(img, quality = 90), Jpeg.encodeGray(img, quality = 90, color420 = true)))
  }

  test("non-multiple-of-MCU dimensions crop correctly (both framings)") {
    for ((w, h) <- Seq((13, 9), (17, 31), (8, 8), (23, 16))) {
      val img = mkGray(w, h, (x, y) => 50 + (x * 9 + y * 11) % 150)
      val g = Jpeg.decodeGray(Jpeg.encodeGray(img, quality = 95))
      assert(g.width == w && g.height == h, s"gray $w x $h")
      val c = Jpeg.decodeGray(Jpeg.encodeGray(img, quality = 95, color420 = true))
      assert(c.width == w && c.height == h, s"color $w x $h")
    }
  }

  test("restart intervals: markers consumed, predictors reset") {
    val img = blockImage(8, 6, seed = 5)
    val plain = Jpeg.decodeGray(Jpeg.encodeGray(img, quality = 90))
    for (ri <- Seq(1, 3, 7)) {
      val bytes = Jpeg.encodeGray(img, quality = 90, restartInterval = ri)
      val s = bytes.map(_ & 0xff)
      assert(s.sliding(2).exists(p => p(0) == 0xFF && p(1) >= 0xD0 && p(1) <= 0xD7),
        s"ri=$ri emitted no RSTn")
      assert(Jpeg.decodeGray(bytes).pixels.toSeq == plain.pixels.toSeq, s"ri=$ri")
    }
    // and with 4:2:0 MCUs
    val c = Jpeg.encodeGray(img, quality = 90, color420 = true, restartInterval = 2)
    assert(Jpeg.decodeGray(c).pixels.toSeq ==
      Jpeg.decodeGray(Jpeg.encodeGray(img, quality = 90, color420 = true)).pixels.toSeq)
  }

  test("dHash over decoded JPEG equals dHash over the source lattice") {
    // 9×7 blocks = one dHash cell per 8×8 block; adjacent-cell contrast ≥ 8
    // dwarfs the ≤2 DC quantization error → hash is EXACTLY preserved
    for (seed <- 0 until 6; color <- Seq(false, true)) {
      val img = blockImage(9, 7, seed)
      val back = Jpeg.decodeGray(Jpeg.encodeGray(img, quality = 90, color420 = color))
      assert(Multimodal.dHashImage(back) == Multimodal.dHashImage(img),
        s"seed=$seed color=$color")
    }
  }

  test("EXIF orientation: tagged files decode upright; rotated photo hashes like its twin") {
    // geometric unit checks on a 2x1 strip [A=10, B=200]
    val strip = Png.Gray(2, 1, Array(10, 200))
    assert(Jpeg.normalizeOrientation(strip, 2).pixels.toSeq == Seq(200, 10)) // mirror-h
    assert(Jpeg.normalizeOrientation(strip, 3).pixels.toSeq == Seq(200, 10)) // rot180
    val o6 = Jpeg.normalizeOrientation(strip, 6) // rotate 90 CW: A on top
    assert(o6.width == 1 && o6.height == 2 && o6.pixels.toSeq == Seq(10, 200))
    val o8 = Jpeg.normalizeOrientation(strip, 8) // rotate 270 CW: B on top
    assert(o8.pixels.toSeq == Seq(200, 10))
    // tag processing ≡ explicit normalization, every orientation
    val img = blockImage(4, 3, seed = 6)
    val plain = Jpeg.decodeGray(Jpeg.encodeGray(img, quality = 90))
    (2 to 8).foreach { o =>
      val tagged = Jpeg.decodeGray(Jpeg.encodeGray(img, quality = 90, orientation = o))
      val expected = Jpeg.normalizeOrientation(plain, o)
      assert(tagged.width == expected.width && tagged.height == expected.height, s"o=$o")
      assert(tagged.pixels.toSeq == expected.pixels.toSeq, s"o=$o")
    }
    // the near-dup story: a sideways-stored photo (orientation 6) hashes
    // EXACTLY like its upright twin once the tag is honored
    val upright = blockImage(9, 7, seed = 11)
    val storedSideways = Jpeg.normalizeOrientation(upright, 8) // pre-rotate 270
    val hashed = Jpeg.decodeGray(Jpeg.encodeGray(storedSideways, quality = 90, orientation = 6))
    assert(Multimodal.dHashImage(hashed) == Multimodal.dHashImage(upright),
      "orientation-normalized dHash diverged from the upright twin")
  }

  test("out-of-subset and corrupt inputs fail with IOException, never hang or leak") {
    val good = Jpeg.encodeGray(blockImage(4, 3, 2), quality = 90)
    // progressive SOF2
    val prog = good.clone
    val sofIdx = good.indices.find(i => (good(i) & 0xff) == 0xFF &&
      i + 1 < good.length && (good(i + 1) & 0xff) == 0xC0).get
    prog(sofIdx + 1) = 0xC2.toByte
    intercept[java.io.IOException](Jpeg.decodeGray(prog))
    // random corruption fuzz
    val rnd = new scala.util.Random(7)
    (0 until 300).foreach { k =>
      val bad = good.clone
      (0 to rnd.nextInt(5)).foreach(_ => bad(rnd.nextInt(bad.length)) = rnd.nextInt(256).toByte)
      try { Jpeg.decodeGray(bad); () }
      catch {
        case _: java.io.IOException => ()
        case e: Throwable => fail(s"iteration $k leaked ${e.getClass.getName}: ${e.getMessage}")
      }
      val cut = java.util.Arrays.copyOfRange(good, 0, 1 + rnd.nextInt(good.length))
      try { Jpeg.decodeGray(cut); () } catch { case _: java.io.IOException => () }
    }
  }
}
