package graft.media

/** Pure-JVM baseline JPEG codec (ITU-T T.81) — the other real image half of
  * the multimodal decode seam: web images are mostly JPEG, and baseline
  * sequential DCT needs nothing beyond the published spec — canonical
  * Huffman (Annex C/F), the Annex K quantization + Huffman tables, an
  * 8×8 DCT, and byte-stuffed entropy coding.
  *
  * Decoder coverage: baseline DCT (SOF0), 8-bit, grayscale or YCbCr with
  * any of the common sampling factors (4:4:4, 4:2:2, 4:2:0), multi-table
  * DQT/DHT segments, restart intervals (DRI/RSTn). Output is the LUMA
  * plane as a [[Png.Gray]] lattice — exactly what the perceptual-hash /
  * near-dup stack consumes — so chroma blocks are entropy-decoded (the
  * bitstream must advance) but skip dequant/IDCT. Progressive (SOF2),
  * arithmetic coding, and 12-bit are out of subset → IOException.
  *
  * Encoder (fixtures): baseline grayscale and YCbCr 4:2:0 at a given
  * quality (IJG table scaling), Annex K Huffman tables, edge-replicated
  * MCU padding — enough to exercise every decoder path including chroma
  * skip and restart markers.
  */
object Jpeg {

  def isJpeg(bytes: Array[Byte]): Boolean =
    bytes != null && bytes.length >= 3 &&
      (bytes(0) & 0xff) == 0xFF && (bytes(1) & 0xff) == 0xD8 && (bytes(2) & 0xff) == 0xFF

  // ------------------------------------------------------- Annex K tables
  /** K.1 luminance / K.2 chrominance quantization tables (natural order). */
  private val StdQuantLuma = Array(
    16, 11, 10, 16, 24, 40, 51, 61, 12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56, 14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77, 24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101, 72, 92, 95, 98, 112, 100, 103, 99)
  private val StdQuantChroma = Array(
    17, 18, 24, 47, 99, 99, 99, 99, 18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99, 47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99)

  /** Zigzag order: index i of the natural-order coefficient at scan pos i. */
  private val Zigzag = Array(
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63)

  // Annex K.3-K.6 Huffman specs: (bits-per-length 1..16, symbols)
  private val DcLumaCounts = Array(0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0)
  private val DcLumaSyms = (0 to 11).toArray
  private val DcChromaCounts = Array(0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0)
  private val DcChromaSyms = (0 to 11).toArray
  private val AcLumaCounts = Array(0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D)
  private val AcLumaSyms = Array(
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41, 0x06,
    0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
    0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24, 0x33, 0x62, 0x72,
    0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
    0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3A, 0x43, 0x44, 0x45,
    0x46, 0x47, 0x48, 0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
    0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75,
    0x76, 0x77, 0x78, 0x79, 0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
    0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
    0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
    0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
    0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
    0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2, 0xF3, 0xF4,
    0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA)
  private val AcChromaCounts = Array(0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77)
  private val AcChromaSyms = Array(
    0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12, 0x41,
    0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
    0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0, 0x15, 0x62, 0x72, 0xD1,
    0x0A, 0x16, 0x24, 0x34, 0xE1, 0x25, 0xF1, 0x17, 0x18, 0x19, 0x1A, 0x26,
    0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3A, 0x43, 0x44,
    0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
    0x59, 0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74,
    0x75, 0x76, 0x77, 0x78, 0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
    0x88, 0x89, 0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A,
    0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4,
    0xB5, 0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7,
    0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA,
    0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF2, 0xF3, 0xF4,
    0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA)

  /** IJG quality scaling of a base table. */
  private def scaledQuant(base: Array[Int], quality: Int): Array[Int] = {
    val q = math.max(1, math.min(100, quality))
    val scale = if (q < 50) 5000 / q else 200 - 2 * q
    base.map { v =>
      val s = (v * scale + 50) / 100
      math.max(1, math.min(255, s))
    }
  }

  // ------------------------------------------------------- Huffman decode
  /** Canonical Huffman decoder state (T.81 F.2.2.3): mincode/maxcode/valptr. */
  private final class Huff(counts: Array[Int], syms: Array[Int]) {
    val minCode = new Array[Int](17)
    val maxCode = Array.fill(17)(-1)
    val valPtr = new Array[Int](17)
    locally {
      var code = 0
      var k = 0
      (1 to 16).foreach { l =>
        valPtr(l) = k
        minCode(l) = code
        code += counts(l - 1)
        k += counts(l - 1)
        maxCode(l) = code - 1
        code <<= 1
      }
    }
    def symbol(l: Int, code: Int): Int = {
      val i = valPtr(l) + code - minCode(l)
      if (i < 0 || i >= syms.length) throw new java.io.IOException("corrupt Huffman table")
      syms(i)
    }
  }

  // codes for encoding: symbol -> (code, length)
  private def encodeTable(counts: Array[Int], syms: Array[Int]): Array[(Int, Int)] = {
    val out = new Array[(Int, Int)](256)
    var code = 0
    var k = 0
    (1 to 16).foreach { l =>
      (0 until counts(l - 1)).foreach { _ =>
        out(syms(k)) = (code, l)
        code += 1; k += 1
      }
      code <<= 1
    }
    out
  }

  // ------------------------------------------------------------ DCT (AAN-free)
  private val CosT: Array[Double] = {
    val t = new Array[Double](64)
    (0 until 8).foreach(x => (0 until 8).foreach(u =>
      t(x * 8 + u) = math.cos((2 * x + 1) * u * math.Pi / 16.0)))
    t
  }
  private def c(u: Int): Double = if (u == 0) 1.0 / math.sqrt(2.0) else 1.0

  /** Forward 8×8 DCT on level-shifted samples (separable). */
  private def fdct(in: Array[Double]): Array[Double] = {
    val tmp = new Array[Double](64)
    (0 until 8).foreach { y =>
      (0 until 8).foreach { u =>
        var s = 0.0
        (0 until 8).foreach(x => s += in(y * 8 + x) * CosT(x * 8 + u))
        tmp(y * 8 + u) = s
      }
    }
    val out = new Array[Double](64)
    (0 until 8).foreach { v =>
      (0 until 8).foreach { u =>
        var s = 0.0
        (0 until 8).foreach(y => s += tmp(y * 8 + u) * CosT(y * 8 + v))
        out(v * 8 + u) = 0.25 * c(u) * c(v) * s
      }
    }
    out
  }

  /** Inverse 8×8 DCT (separable). */
  private def idct(coef: Array[Double]): Array[Double] = {
    val tmp = new Array[Double](64)
    (0 until 8).foreach { v =>
      (0 until 8).foreach { x =>
        var s = 0.0
        (0 until 8).foreach(u => s += c(u) * coef(v * 8 + u) * CosT(x * 8 + u))
        tmp(v * 8 + x) = s
      }
    }
    val out = new Array[Double](64)
    (0 until 8).foreach { y =>
      (0 until 8).foreach { x =>
        var s = 0.0
        (0 until 8).foreach(v => s += c(v) * tmp(v * 8 + x) * CosT(y * 8 + v))
        out(y * 8 + x) = 0.25 * s
      }
    }
    out
  }

  // ----------------------------------------------------------------- decode
  private final class BitReader(data: Array[Byte], var pos: Int) {
    private var cur = 0
    private var bits = 0
    /** Next entropy byte with FF-stuffing; FF Dn (restart) must be consumed
      * via expectRestart, anything else after FF ends the scan.
      */
    private def fill(): Unit = {
      if (pos >= data.length) throw new java.io.IOException("entropy data exhausted")
      var b = data(pos) & 0xff
      pos += 1
      if (b == 0xFF) {
        if (pos >= data.length) throw new java.io.IOException("truncated after FF")
        val m = data(pos) & 0xff
        if (m == 0x00) pos += 1 // stuffed FF
        else throw new MarkerReached(m) // RSTn / EOI / next segment
      }
      cur = (cur << 8) | b
      bits += 8
    }
    def readBit(): Int = {
      if (bits == 0) fill()
      bits -= 1
      (cur >> bits) & 1
    }
    def receive(n: Int): Int = {
      var v = 0
      (0 until n).foreach(_ => v = (v << 1) | readBit())
      v
    }
    def align(): Unit = bits = 0
  }
  private final class MarkerReached(val marker: Int)
    extends java.io.IOException(f"marker FF$marker%02X inside entropy data")

  private def extend(v: Int, t: Int): Int =
    if (t == 0) 0 else if (v < (1 << (t - 1))) v - (1 << t) + 1 else v

  private def decodeHuffSym(br: BitReader, h: Huff): Int = {
    var code = br.readBit()
    var l = 1
    while (code > h.maxCode(l)) {
      if (l >= 16) throw new java.io.IOException("invalid Huffman code")
      code = (code << 1) | br.readBit()
      l += 1
    }
    h.symbol(l, code)
  }

  /** Decode the luma plane of a baseline JPEG. */
  def decodeGray(bytes: Array[Byte]): Png.Gray = {
    if (!isJpeg(bytes)) throw new java.io.IOException("not a JPEG signature")
    var pos = 2
    // every header read bounds-checked: corrupt/truncated segment tables
    // must surface as IOException, not ArrayIndexOutOfBounds
    def b(p: Int): Int = {
      if (p < 0 || p >= bytes.length) throw new java.io.IOException("truncated header data")
      bytes(p) & 0xff
    }
    def u16(p: Int): Int = (b(p) << 8) | b(p + 1)

    val quant = new Array[Array[Int]](4) // natural order
    val dcTabs = new Array[Huff](4)
    val acTabs = new Array[Huff](4)
    var width = 0; var height = 0
    var orientation = 1 // EXIF tag 0x0112; 1 = upright
    final case class Comp(id: Int, h: Int, v: Int, tq: Int, var td: Int = 0, var ta: Int = 0)
    var comps: Array[Comp] = null
    var restartInterval = 0
    var scanStart = -1

    var parsing = true
    while (parsing) {
      if (pos + 4 > bytes.length) throw new java.io.IOException("truncated segments")
      if (b(pos) != 0xFF) throw new java.io.IOException("marker expected")
      // any number of 0xFF fill bytes may precede a marker (T.81 B.1.1.2)
      while (b(pos + 1) == 0xFF) pos += 1
      val marker = b(pos + 1)
      pos += 2
      marker match {
        case 0xD8 => () // stray SOI
        case 0x01 => () // TEM: standalone, no length
        case m if m >= 0xD0 && m <= 0xD7 => () // stray RST
        case 0xD9 => throw new java.io.IOException("EOI before SOS")
        case 0xC0 | 0xC1 => // baseline / extended sequential
          val len = u16(pos)
          val prec = b(pos + 2)
          if (prec != 8) throw new java.io.IOException(s"precision $prec out of subset")
          height = u16(pos + 3); width = u16(pos + 5)
          if (width <= 0 || height <= 0)
            throw new java.io.IOException("bad SOF dimensions")
          if (width.toLong * height > (1L << 26))
            throw new java.io.IOException(s"image $width x $height exceeds decode cap")
          val nc = b(pos + 7)
          if (nc != 1 && nc != 3) throw new java.io.IOException(s"$nc components out of subset")
          comps = Array.tabulate(nc) { i =>
            val o = pos + 8 + 3 * i
            val comp = Comp(b(o), b(o + 1) >> 4, bytes(o + 1) & 0x0f, b(o + 2))
            if (comp.h < 1 || comp.h > 4 || comp.v < 1 || comp.v > 4)
              throw new java.io.IOException(s"bad sampling ${comp.h}x${comp.v}")
            comp
          }
          pos += len
        case 0xC2 => throw new java.io.IOException("progressive JPEG out of subset")
        case m if m >= 0xC3 && m <= 0xCF && m != 0xC4 && m != 0xC8 && m != 0xCC =>
          throw new java.io.IOException(f"SOF FF$m%02X out of subset")
        case 0xC4 => // DHT
          val len = u16(pos)
          var p = pos + 2
          while (p < pos + len) {
            val tc = b(p) >> 4
            val th = b(p) & 0x0f
            if (tc > 1 || th > 3) throw new java.io.IOException(s"bad DHT id $tc/$th")
            val counts = Array.tabulate(16)(i => b(p + 1 + i))
            val n = counts.sum
            val syms = Array.tabulate(n)(i => b(p + 17 + i))
            val h = new Huff(counts, syms)
            if (tc == 0) dcTabs(th) = h else acTabs(th) = h
            p += 17 + n
          }
          pos += len
        case 0xDB => // DQT
          val len = u16(pos)
          var p = pos + 2
          while (p < pos + len) {
            val pq = b(p) >> 4
            val tq = b(p) & 0x0f
            if (pq != 0) throw new java.io.IOException("16-bit quant table out of subset")
            if (tq > 3) throw new java.io.IOException(s"bad DQT id $tq")
            val t = new Array[Int](64)
            (0 until 64).foreach(i => t(Zigzag(i)) = b(p + 1 + i))
            quant(tq) = t
            p += 65
          }
          pos += len
        case 0xDD => // DRI
          restartInterval = u16(pos + 2)
          pos += u16(pos)
        case 0xDA => // SOS
          if (comps == null) throw new java.io.IOException("SOS before SOF")
          val len = u16(pos)
          val ns = b(pos + 2)
          (0 until ns).foreach { i =>
            val cid = b(pos + 3 + 2 * i)
            val tt = b(pos + 4 + 2 * i)
            comps.find(_.id == cid).foreach { cc => cc.td = tt >> 4; cc.ta = tt & 0x0f }
          }
          scanStart = pos + len
          parsing = false
        case 0xE1 => // APP1: Exif orientation (phone photos store rotated)
          val l = u16(pos)
          if (l < 2) throw new java.io.IOException("bad segment length")
          try {
            val o = pos + 2
            if (l >= 16 && b(o) == 'E' && b(o + 1) == 'x' && b(o + 2) == 'i' &&
                b(o + 3) == 'f' && b(o + 4) == 0 && b(o + 5) == 0) {
              val t = o + 6 // TIFF header
              val little = b(t) == 'I' && b(t + 1) == 'I'
              def tu16(p2: Int): Int = if (little) b(p2) | (b(p2 + 1) << 8) else (b(p2) << 8) | b(p2 + 1)
              def tu32(p2: Int): Int =
                if (little) b(p2) | (b(p2 + 1) << 8) | (b(p2 + 2) << 16) | (b(p2 + 3) << 24)
                else (b(p2) << 24) | (b(p2 + 1) << 16) | (b(p2 + 2) << 8) | b(p2 + 3)
              if (tu16(t + 2) == 42) {
                val ifd = t + tu32(t + 4)
                val n = tu16(ifd)
                (0 until n).foreach { i =>
                  val e = ifd + 2 + 12 * i
                  if (tu16(e) == 0x0112 && tu16(e + 2) == 3) { // SHORT Orientation
                    val v = tu16(e + 8)
                    if (v >= 1 && v <= 8) orientation = v
                  }
                }
              }
            }
          } catch { case _: java.io.IOException => () } // malformed Exif: ignore
          pos += l
        case _ => // APPn/COM/anything with a length
          val l = u16(pos)
          if (l < 2) throw new java.io.IOException("bad segment length")
          pos += l
      }
    }
    if (comps == null || scanStart < 0) throw new java.io.IOException("missing SOF/SOS")

    val hMax = comps.map(_.h).max
    val vMax = comps.map(_.v).max
    val mcuW = 8 * hMax
    val mcuH = 8 * vMax
    val mcusX = (width + mcuW - 1) / mcuW
    val mcusY = (height + mcuH - 1) / mcuH
    val luma = comps(0)
    val lumaW = mcusX * luma.h * 8
    val plane = new Array[Int](lumaW * mcusY * luma.v * 8)

    val br = new BitReader(bytes, scanStart)
    val dcPred = new Array[Int](comps.length)
    val coef = new Array[Double](64)

    def decodeBlock(ci: Int, outX: Int, outY: Int, wanted: Boolean): Unit = {
      val comp = comps(ci)
      if (comp.td > 3 || comp.ta > 3 || comp.tq > 3)
        throw new java.io.IOException("bad component table id")
      val dt = dcTabs(comp.td); val at = acTabs(comp.ta)
      if (dt == null || at == null) throw new java.io.IOException("missing Huffman table")
      val qt = quant(comp.tq)
      if (qt == null) throw new java.io.IOException("missing quant table")
      java.util.Arrays.fill(coef, 0.0)
      val t = decodeHuffSym(br, dt)
      val diff = extend(br.receive(t), t)
      dcPred(ci) += diff
      coef(0) = dcPred(ci).toDouble * qt(0)
      var k = 1
      while (k < 64) {
        val rs = decodeHuffSym(br, at)
        val r = rs >> 4; val size = rs & 0x0f
        if (size == 0) {
          if (r == 15) k += 16 // ZRL
          else k = 64 // EOB
        } else {
          k += r
          if (k > 63) throw new java.io.IOException("AC index out of range")
          val zz = Zigzag(k)
          coef(zz) = extend(br.receive(size), size).toDouble * qt(zz)
          k += 1
        }
      }
      if (wanted) {
        val px = idct(coef)
        (0 until 8).foreach { y =>
          (0 until 8).foreach { x =>
            val v = math.round(px(y * 8 + x) + 128.0).toInt
            plane((outY + y) * lumaW + outX + x) = math.max(0, math.min(255, v))
          }
        }
      }
    }

    var mcu = 0
    val totalMcus = mcusX * mcusY
    while (mcu < totalMcus) {
      if (restartInterval > 0 && mcu > 0 && mcu % restartInterval == 0) {
        // consume the RSTn marker, reset predictors + bit alignment
        br.align()
        try { br.readBit(); throw new java.io.IOException("expected restart marker") }
        catch {
          case m: MarkerReached if m.marker >= 0xD0 && m.marker <= 0xD7 =>
            br.pos += 1 // past the marker byte
            java.util.Arrays.fill(dcPred, 0)
          case m: MarkerReached => throw m
        }
      }
      val mx = mcu % mcusX
      val my = mcu / mcusX
      try {
        comps.indices.foreach { ci =>
          val comp = comps(ci)
          (0 until comp.v).foreach { by =>
            (0 until comp.h).foreach { bx =>
              val wanted = ci == 0
              decodeBlock(ci,
                (mx * comp.h + bx) * 8, (my * comp.v + by) * 8, wanted)
            }
          }
        }
      } catch {
        case m: MarkerReached =>
          throw new java.io.IOException(f"scan data ended early (FF${m.marker}%02X at MCU $mcu)")
      }
      mcu += 1
    }

    // crop the padded plane to (width, height)
    val gray = new Array[Int](width * height)
    (0 until height).foreach { y =>
      (0 until width).foreach(x => gray(y * width + x) = plane(y * lumaW + x))
    }
    normalizeOrientation(Png.Gray(width, height, gray), orientation)
  }

  /** Map a stored lattice to its upright display per EXIF orientation —
    * the normalization that makes a rotated phone photo hash like its
    * upright twin.
    */
  def normalizeOrientation(img: Png.Gray, orientation: Int): Png.Gray = {
    if (orientation <= 1 || orientation > 8) return img
    val w = img.width; val h = img.height
    val swap = orientation >= 5
    val ow = if (swap) h else w
    val oh = if (swap) w else h
    val out = new Array[Int](ow * oh)
    var y = 0
    while (y < oh) {
      var x = 0
      while (x < ow) {
        val (ox, oy) = orientation match {
          case 2 => (w - 1 - x, y)         // mirror horizontal
          case 3 => (w - 1 - x, h - 1 - y) // rotate 180
          case 4 => (x, h - 1 - y)         // mirror vertical
          case 5 => (y, x)                 // transpose
          case 6 => (y, h - 1 - x)         // rotate 90 CW to display
          case 7 => (w - 1 - y, h - 1 - x) // transverse
          case _ => (w - 1 - y, x)         // 8: rotate 270 CW to display
        }
        out(y * ow + x) = img(ox, oy)
        x += 1
      }
      y += 1
    }
    Png.Gray(ow, oh, out)
  }

  // ----------------------------------------------------------------- encode
  private final class BitWriter(out: java.io.ByteArrayOutputStream) {
    private var cur = 0
    private var bits = 0
    def write(code: Int, len: Int): Unit = {
      var i = len - 1
      while (i >= 0) {
        cur = (cur << 1) | ((code >> i) & 1)
        bits += 1
        if (bits == 8) {
          out.write(cur & 0xff)
          if ((cur & 0xff) == 0xFF) out.write(0x00) // stuffing
          cur = 0; bits = 0
        }
        i -= 1
      }
    }
    def flush(): Unit = if (bits > 0) { // pad with 1s
      write((1 << (8 - bits)) - 1, 8 - bits)
    }
  }

  /** Encode a grayscale image; `color420` additionally wraps the same luma
    * in a YCbCr 4:2:0 frame with flat chroma — byte-different file, same
    * decoded luma, exercising the decoder's subsampled-chroma path.
    */
  def encodeGray(img: Png.Gray, quality: Int = 90, color420: Boolean = false,
                 restartInterval: Int = 0, orientation: Int = 1): Array[Byte] = {
    val qLuma = scaledQuant(StdQuantLuma, quality)
    val qChroma = scaledQuant(StdQuantChroma, quality)
    val out = new java.io.ByteArrayOutputStream()
    def u16(v: Int): Unit = { out.write((v >> 8) & 0xff); out.write(v & 0xff) }
    def marker(m: Int): Unit = { out.write(0xFF); out.write(m) }

    marker(0xD8) // SOI
    if (orientation != 1) { // APP1 Exif with the orientation tag (big-endian TIFF)
      val tiff = Array[Int](
        'E', 'x', 'i', 'f', 0, 0,
        'M', 'M', 0, 42, 0, 0, 0, 8, // big-endian, IFD0 at offset 8
        0, 1, // one entry
        0x01, 0x12, 0, 3, 0, 0, 0, 1, 0, orientation, 0, 0, // SHORT, count 1
        0, 0, 0, 0) // no next IFD
      marker(0xE1); u16(2 + tiff.length)
      tiff.foreach(v => out.write(v & 0xff))
    }
    // DQT (luma, + chroma when color)
    def dqt(id: Int, t: Array[Int]): Unit = {
      marker(0xDB); u16(67); out.write(id)
      (0 until 64).foreach(i => out.write(t(Zigzag(i))))
    }
    dqt(0, qLuma)
    if (color420) dqt(1, qChroma)
    // SOF0
    marker(0xC0)
    val nc = if (color420) 3 else 1
    u16(8 + 3 * nc); out.write(8); u16(img.height); u16(img.width); out.write(nc)
    if (color420) {
      out.write(1); out.write(0x22); out.write(0) // Y: 2x2, table 0
      out.write(2); out.write(0x11); out.write(1) // Cb
      out.write(3); out.write(0x11); out.write(1) // Cr
    } else {
      out.write(1); out.write(0x11); out.write(0)
    }
    // DHT
    def dht(tc: Int, th: Int, counts: Array[Int], syms: Array[Int]): Unit = {
      marker(0xC4); u16(19 + syms.length); out.write((tc << 4) | th)
      counts.foreach(out.write); syms.foreach(out.write)
    }
    dht(0, 0, DcLumaCounts, DcLumaSyms); dht(1, 0, AcLumaCounts, AcLumaSyms)
    if (color420) { dht(0, 1, DcChromaCounts, DcChromaSyms); dht(1, 1, AcChromaCounts, AcChromaSyms) }
    if (restartInterval > 0) { marker(0xDD); u16(4); u16(restartInterval) }
    // SOS
    marker(0xDA); u16(6 + 2 * nc); out.write(nc)
    out.write(1); out.write(0x00)
    if (color420) { out.write(2); out.write(0x11); out.write(3); out.write(0x11) }
    out.write(0); out.write(63); out.write(0)

    val dcCodes = encodeTable(DcLumaCounts, DcLumaSyms)
    val acCodes = encodeTable(AcLumaCounts, AcLumaSyms)
    val dcCCodes = encodeTable(DcChromaCounts, DcChromaSyms)
    val acCCodes = encodeTable(AcChromaCounts, AcChromaSyms)

    val bw = new BitWriter(out)
    def category(v: Int): Int = {
      var a = math.abs(v); var t = 0
      while (a != 0) { a >>= 1; t += 1 }
      t
    }
    def writeCoef(v: Int, t: Int): Unit =
      if (t > 0) bw.write(if (v < 0) v + (1 << t) - 1 else v, t)

    def sampleAt(x: Int, y: Int): Int = // edge-replicated
      img(math.min(x, img.width - 1), math.min(y, img.height - 1))

    def encodeBlock(samples: Array[Double], qt: Array[Int], pred: Int,
                    dc: Array[(Int, Int)], ac: Array[(Int, Int)]): Int = {
      val f = fdct(samples)
      val qz = new Array[Int](64)
      (0 until 64).foreach(i => qz(i) = math.round(f(i) / qt(i)).toInt)
      val dcVal = qz(0)
      val diff = dcVal - pred
      val t = category(diff)
      val (c0, l0) = dc(t)
      bw.write(c0, l0); writeCoef(diff, t)
      var run = 0
      (1 until 64).foreach { k =>
        val v = qz(Zigzag(k))
        if (v == 0) run += 1
        else {
          while (run > 15) { val (cz, lz) = ac(0xF0); bw.write(cz, lz); run -= 16 }
          val t2 = category(v)
          val (c2, l2) = ac((run << 4) | t2)
          bw.write(c2, l2); writeCoef(v, t2)
          run = 0
        }
      }
      if (run > 0) { val (ce, le) = ac(0x00); bw.write(ce, le) }
      dcVal
    }

    val block = new Array[Double](64)
    if (!color420) {
      val mcusX = (img.width + 7) / 8
      val mcusY = (img.height + 7) / 8
      var pred = 0
      var mcu = 0
      (0 until mcusY).foreach { my =>
        (0 until mcusX).foreach { mx =>
          if (restartInterval > 0 && mcu > 0 && mcu % restartInterval == 0) {
            bw.flush()
            marker(0xD0 + ((mcu / restartInterval - 1) % 8))
            pred = 0
          }
          (0 until 8).foreach(y => (0 until 8).foreach(x =>
            block(y * 8 + x) = sampleAt(mx * 8 + x, my * 8 + y) - 128.0))
          pred = encodeBlock(block, qLuma, pred, dcCodes, acCodes)
          mcu += 1
        }
      }
    } else {
      val mcusX = (img.width + 15) / 16
      val mcusY = (img.height + 15) / 16
      var predY = 0; var predCb = 0; var predCr = 0
      var mcu = 0
      (0 until mcusY).foreach { my =>
        (0 until mcusX).foreach { mx =>
          if (restartInterval > 0 && mcu > 0 && mcu % restartInterval == 0) {
            bw.flush()
            marker(0xD0 + ((mcu / restartInterval - 1) % 8))
            predY = 0; predCb = 0; predCr = 0
          }
          (0 until 2).foreach { by =>
            (0 until 2).foreach { bx =>
              (0 until 8).foreach(y => (0 until 8).foreach(x =>
                block(y * 8 + x) =
                  sampleAt(mx * 16 + bx * 8 + x, my * 16 + by * 8 + y) - 128.0))
              predY = encodeBlock(block, qLuma, predY, dcCodes, acCodes)
            }
          }
          // flat chroma (gray image): Cb = Cr = 128 → level-shifted zeros
          java.util.Arrays.fill(block, 0.0)
          predCb = encodeBlock(block, qChroma, predCb, dcCCodes, acCCodes)
          java.util.Arrays.fill(block, 0.0)
          predCr = encodeBlock(block, qChroma, predCr, dcCCodes, acCCodes)
          mcu += 1
        }
      }
    }
    bw.flush()
    marker(0xD9) // EOI
    out.toByteArray
  }
}
