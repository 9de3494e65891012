package graft.ops

import graft.media.{Png, PngFilter}
import org.scalatest.funsuite.AnyFunSuite

/** The real PNG codec behind the multimodal seam (round 5): encode/decode
  * round-trips across color types and filter choices, luma conversion,
  * palette decode, and the pixel-level dHash — including the perceptual
  * invariances (brightness shift, representation change) that are dHash's
  * reason to exist and that the r4 stub could not exercise.
  */
class PngSpec extends AnyFunSuite {

  private def mkGray(w: Int, h: Int, f: (Int, Int) => Int): Png.Gray =
    Png.Gray(w, h, Array.tabulate(w * h)(i => f(i % w, i / w) & 0xff))

  test("gray/RGB/RGBA encodings round-trip pixels exactly, any filter mix") {
    val img = mkGray(23, 17, (x, y) => (x * 31 + y * 57 + 11) % 256)
    for (ct <- Seq(0, 2, 6); ftSeed <- Seq(0, 1)) {
      val bytes = Png.encodeGrayAs(img, ct, y => (y + ftSeed) % 5)
      val back = Png.decode(bytes)
      assert(back.width == 23 && back.height == 17)
      assert(back.pixels.toSeq == img.pixels.toSeq, s"colorType $ct ftSeed $ftSeed")
    }
  }

  test("RGB luma: (77R + 150G + 29B) >> 8") {
    val samples = Array(255, 0, 0, /**/ 0, 255, 0, /**/ 0, 0, 255, /**/ 10, 20, 30)
    val bytes = Png.encode(2, 2, 2, samples)
    val g = Png.decode(bytes)
    assert(g.pixels.toSeq == Seq(
      (77 * 255) >> 8, (150 * 255) >> 8, (29 * 255) >> 8,
      (77 * 10 + 150 * 20 + 29 * 30) >> 8))
  }

  test("palette PNG decodes through PLTE lookup") {
    // hand-built: 3-entry palette, 3x1 image, filter 0
    val out = new java.io.ByteArrayOutputStream()
    Seq(0x89, 0x50, 0x4E, 0x47, 0x0D, 0x0A, 0x1A, 0x0A).foreach(out.write)
    def chunk(ctype: String, data: Array[Byte]): Unit = {
      def w32(v: Int): Unit = { out.write(v >>> 24); out.write((v >>> 16) & 0xff)
        out.write((v >>> 8) & 0xff); out.write(v & 0xff) }
      w32(data.length)
      val tb = ctype.getBytes("US-ASCII"); out.write(tb); out.write(data)
      val crc = new java.util.zip.CRC32(); crc.update(tb); crc.update(data)
      w32(crc.getValue.toInt)
    }
    chunk("IHDR", Array[Byte](0, 0, 0, 3, 0, 0, 0, 1, 8, 3, 0, 0, 0))
    chunk("PLTE", Array[Byte](255.toByte, 0, 0, 0, 255.toByte, 0, 30, 60, 90))
    val d = new java.util.zip.Deflater()
    d.setInput(Array[Byte](0, 0, 1, 2)); d.finish() // filter 0 + indices 0,1,2
    val buf = new Array[Byte](64); val comp = new java.io.ByteArrayOutputStream()
    while (!d.finished()) comp.write(buf, 0, d.deflate(buf))
    chunk("IDAT", comp.toByteArray)
    chunk("IEND", Array.empty)
    val g = Png.decode(out.toByteArray)
    assert(g.pixels.toSeq == Seq(
      (77 * 255) >> 8, (150 * 255) >> 8, (77 * 30 + 150 * 60 + 29 * 90) >> 8))
  }

  test("out-of-subset inputs fail loudly (interlaced, bad depth, truncated)") {
    val img = mkGray(8, 8, (x, y) => x * y)
    val good = Png.encodeGrayAs(img, 0)
    intercept[java.io.IOException](Png.decode(good.take(40)))
    val deep = good.clone; deep(24) = 3 // IHDR bit depth 3 is illegal everywhere
    intercept[java.io.IOException](Png.decode(deep))
    val laced = good.clone; laced(28) = 1 // IHDR interlace
    intercept[java.io.IOException](Png.decode(laced))
    // an IDAT length near Int.MaxValue must not wrap the bounds check
    val huge = good.clone; val idatLen = good.indexOfSlice("IDAT".getBytes("US-ASCII")) - 4
    Seq(0x7F, 0xFF, 0xFF, 0xF8).zipWithIndex.foreach { case (b, i) => huge(idatLen + i) = b.toByte }
    intercept[java.io.IOException](Png.decode(huge))
    assert(!Png.isPng("not a png".getBytes))
  }

  private def handBuilt(ihdr: Array[Byte], idatRaw: Array[Byte],
                        plte: Option[Array[Byte]] = None): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    Seq(0x89, 0x50, 0x4E, 0x47, 0x0D, 0x0A, 0x1A, 0x0A).foreach(out.write)
    def chunk(ctype: String, data: Array[Byte]): Unit = {
      def w32(v: Int): Unit = { out.write(v >>> 24); out.write((v >>> 16) & 0xff)
        out.write((v >>> 8) & 0xff); out.write(v & 0xff) }
      w32(data.length)
      val tb = ctype.getBytes("US-ASCII"); out.write(tb); out.write(data)
      val crc = new java.util.zip.CRC32(); crc.update(tb); crc.update(data)
      w32(crc.getValue.toInt)
    }
    chunk("IHDR", ihdr)
    plte.foreach(chunk("PLTE", _))
    val d = new java.util.zip.Deflater()
    d.setInput(idatRaw); d.finish()
    val buf = new Array[Byte](256); val comp = new java.io.ByteArrayOutputStream()
    while (!d.finished()) comp.write(buf, 0, d.deflate(buf))
    chunk("IDAT", comp.toByteArray)
    chunk("IEND", Array.empty)
    out.toByteArray
  }

  test("sub-byte depths: 2-bit gray unpacks MSB-first and scales to full range") {
    // 4x2, depth 2, gray: row0 samples 0,1,2,3; row1 3,2,1,0; filter 0
    val png = handBuilt(
      Array[Byte](0, 0, 0, 4, 0, 0, 0, 2, 2, 0, 0, 0, 0),
      Array[Byte](0, 0x1B.toByte, 0, 0xE4.toByte))
    val g = Png.decode(png)
    assert(g.pixels.toSeq == Seq(0, 85, 170, 255, 255, 170, 85, 0))
  }

  test("1-bit gray and 4-bit palette decode") {
    // 8x1, depth 1, gray: bits 10110001 → 255,0,255,255,0,0,0,255
    val g1 = Png.decode(handBuilt(
      Array[Byte](0, 0, 0, 8, 0, 0, 0, 1, 1, 0, 0, 0, 0),
      Array[Byte](0, 0xB1.toByte)))
    assert(g1.pixels.toSeq == Seq(255, 0, 255, 255, 0, 0, 0, 255))
    // 3x1, depth 4, palette: indices 0,1,2 packed as 0x01 0x20
    val g4 = Png.decode(handBuilt(
      Array[Byte](0, 0, 0, 3, 0, 0, 0, 1, 4, 3, 0, 0, 0),
      Array[Byte](0, 0x01, 0x20),
      plte = Some(Array[Byte](0, 0, 0, 100, 100, 100, 200.toByte, 200.toByte, 200.toByte))))
    assert(g4.pixels.toSeq == Seq(0, (77 * 100 + 150 * 100 + 29 * 100) >> 8,
      (77 * 200 + 150 * 200 + 29 * 200) >> 8))
  }

  test("Adam7 interlacing: scatter decode matches the progressive layout") {
    // sizes exercising partial passes: smaller than 8 in one dim, odd dims
    for ((w, h) <- Seq((13, 11), (8, 8), (5, 3), (1, 1), (2, 9), (16, 2))) {
      val img = mkGray(w, h, (x, y) => (x * 37 + y * 91 + 7) % 256)
      for (ftSeed <- Seq(0, 3)) {
        val bytes = Png.encodeGrayAdam7(img, r => (r + ftSeed) % 5)
        val back = Png.decode(bytes)
        assert(back.width == w && back.height == h)
        assert(back.pixels.toSeq == img.pixels.toSeq, s"w=$w h=$h ftSeed=$ftSeed")
      }
    }
    // and the interlaced representation hashes identically to sequential
    val img = mkGray(36, 28, (x, y) => 30 + (x * 3 + y * 5) % 120)
    assert(Multimodal.dHashImage(Png.decode(Png.encodeGrayAdam7(img))) ==
      Multimodal.dHashImage(Png.decode(Png.encodeGrayAs(img, 0))))
  }

  test("decoder never hangs or leaks non-IOException on corrupted PNGs") {
    val good = Png.encodeGrayAs(mkGray(19, 13, (x, y) => x * y % 256), 2, y => y % 5)
    val rnd = new scala.util.Random(99)
    (0 until 300).foreach { k =>
      val bad = good.clone
      val flips = 1 + rnd.nextInt(6)
      (0 until flips).foreach { _ =>
        bad(rnd.nextInt(bad.length)) = rnd.nextInt(256).toByte
      }
      try { Png.decode(bad); () }
      catch {
        case _: java.io.IOException => ()
        case e: Throwable => fail(s"iteration $k leaked ${e.getClass.getName}: ${e.getMessage}")
      }
    }
  }

  test("16-bit depths keep the high byte (gray and RGB)") {
    // 2x1 depth-16 gray: 0x1234, 0xFF00 → 0x12, 0xFF
    val g16 = Png.decode(handBuilt(
      Array[Byte](0, 0, 0, 2, 0, 0, 0, 1, 16, 0, 0, 0, 0),
      Array[Byte](0, 0x12, 0x34, 0xFF.toByte, 0x00)))
    assert(g16.pixels.toSeq == Seq(0x12, 0xFF))
    // 1x1 depth-16 RGB: (0xFF??, 0x0000, 0x0000) → luma of (255,0,0)
    val rgb16 = Png.decode(handBuilt(
      Array[Byte](0, 0, 0, 1, 0, 0, 0, 1, 16, 2, 0, 0, 0),
      Array[Byte](0, 0xFF.toByte, 0x7F, 0, 0, 0, 0)))
    assert(rgb16.pixels.toSeq == Seq((77 * 255) >> 8))
  }

  test("dHashImage: 9x7 single-pixel cells reduce to direct comparisons") {
    val img = mkGray(9, 7, (x, y) => (x * 11 + y * 3) % 97)
    val h = Multimodal.dHashImage(img)
    (0 until 7).foreach { r =>
      (0 until 8).foreach { c =>
        val expected = img(c, r) > img(c + 1, r)
        assert(((h >> (r * 8 + c)) & 1L) == (if (expected) 1L else 0L), s"bit ($r,$c)")
      }
    }
    assert((h >>> 56) == 0L, "bits 56-63 must stay clear")
  }

  test("dHash invariances: brightness shift and representation change preserve the hash") {
    val base = mkGray(36, 28, (x, y) => 40 + (x * 5 + y * 7) % 100) // range 40..139
    val h0 = Multimodal.dHashImage(base)
    // brightness: +25 on every pixel (no clamping in range) → same gradients
    val brighter = Png.Gray(36, 28, base.pixels.map(_ + 25))
    assert(Multimodal.dHashImage(brighter) == h0, "brightness shift changed the hash")
    // contrast: strictly monotone stretch 2p-60 → 20..218, no clamping
    val stretched = Png.Gray(36, 28, base.pixels.map(p => 2 * p - 60))
    assert(Multimodal.dHashImage(stretched) == h0, "monotone contrast stretch changed the hash")
    // representation: gray vs RGB vs RGBA encodings of the same image, any
    // filter choice, decode to the same hash — a byte hash would differ
    val viaGray = Png.decode(Png.encodeGrayAs(base, 0, y => y % 5))
    val viaRgb = Png.decode(Png.encodeGrayAs(base, 2, y => (y + 3) % 5))
    val viaRgba = Png.decode(Png.encodeGrayAs(base, 6, _ => 4))
    assert(Multimodal.dHashImage(viaGray) == h0)
    assert(Multimodal.dHashImage(viaRgb) == h0)
    assert(Multimodal.dHashImage(viaRgba) == h0)
    // byte identity does NOT hold across representations (what dHash buys)
    assert(!java.util.Arrays.equals(Png.encodeGrayAs(base, 0), Png.encodeGrayAs(base, 2)))
  }

  test("dHash near-dup: a single-pixel edit moves hamming ≤ 1; unrelated images differ") {
    val base = mkGray(27, 21, (x, y) => (x * 13 + y * 29) % 251)
    val tweaked = Png.Gray(27, 21, base.pixels.clone)
    tweaked.pixels(0) = (tweaked.pixels(0) + 1) % 251
    val hb = Multimodal.dHashImage(base)
    val ht = Multimodal.dHashImage(tweaked)
    assert(java.lang.Long.bitCount(hb ^ ht) <= 1)
    val other = mkGray(27, 21, (x, y) => (x * 101 + y * 3 + 7) % 251)
    assert(java.lang.Long.bitCount(hb ^ Multimodal.dHashImage(other)) > 3,
      "structurally different images should not be near-dups")
  }

  test("non-dividing dimensions: cross-multiplied means, not truncated areas") {
    // 10x8 grid over 9x7 cells → unequal cell areas; a constant image must
    // hash to 0 (no gradient), which only holds if MEANS are compared
    val flat = mkGray(10, 8, (_, _) => 200)
    assert(Multimodal.dHashImage(flat) == 0L)
    // and a strict left-to-right ramp must set every bit (brighter → darker
    // comparisons all false… ramp up means right cell brighter) — direction check
    val ramp = mkGray(19, 9, (x, _) => x * 13)
    val h = Multimodal.dHashImage(ramp)
    assert(h == 0L, "increasing ramp: left cell never brighter than right")
    val rampDown = mkGray(19, 9, (x, _) => 250 - x * 13)
    assert(Multimodal.dHashImage(rampDown) == 0x00FFFFFFFFFFFFFFL,
      "decreasing ramp: every gradient bit set")
  }
}
