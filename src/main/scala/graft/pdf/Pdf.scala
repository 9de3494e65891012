package graft.pdf

import graft.media.{PngFilter, Zlib}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

/** Deterministic PDF writer (fixture generation) + parser (the engine's PDF
  * path). Replaces the reference's pdfplumber `page.extract_text()` role
  * (/root/reference/extractor/extractors/pdf_text_extractor.py:58-217).
  *
  * Parser coverage (round 5 — the real-world PDF 1.5+ surface):
  *   - classic cross-reference tables AND cross-reference streams
  *     (`/Type /XRef`, /W columns, /Index, /Prev chains, PNG predictors
  *     10-15 via /DecodeParms) — ISO 32000-1 §7.5.8;
  *   - object streams (`/Type /ObjStm`) holding compressed dict objects,
  *     located via type-2 xref entries — §7.5.7;
  *   - incremental updates: the newest xref section wins per object;
  *   - page TREES (nested /Pages nodes, /MediaBox + /Resources
  *     inheritance), /Contents arrays, indirect /Length;
  *   - text decode per font: simple fonts with /Encoding /Differences
  *     (WinAnsi base + Adobe-glyph-list names) and /ToUnicode CMaps
  *     (bfchar/bfrange), Type0/CID fonts via 2-byte /ToUnicode codes;
  *     fonts with neither are fixture Helvetica — raw UTF-8 bytes;
  *   - literal strings (octal escapes, line continuations) and hex
  *     strings in content streams; inline images skipped BI..EI.
  *
  * Structure resolution is xref-driven (startxref → chain), with a
  * whole-file object scan as the repair fallback — the architecture real
  * parsers use for damaged files. Encrypted documents (`/Encrypt` in the
  * trailer) raise [[Pdf.EncryptedPdfException]] so callers can report
  * "can't" (encrypted) separately from "won't" (malformed).
  *
  * Anything still outside the subset passes through as an empty page + a
  * metric, mirroring the reference's fallback-not-fail philosophy
  * (pdf_text_extractor.py:75-98,195-198).
  */
object Pdf {

  /** Distinct failure class for `/Encrypt`-ed documents: crawl reports must
    * separate "encrypted, by design unreadable" from "parser gap".
    */
  final class EncryptedPdfException(msg: String) extends java.io.IOException(msg)

  final case class TextRun(x: Double, y: Double, text: String)
  /** A straight ruling-line segment from the page's path operators. */
  final case class Seg(x1: Double, y1: Double, x2: Double, y2: Double)
  final case class PdfPage(width: Double, height: Double, runs: Vector[TextRun],
                           segs: Vector[Seg] = Vector.empty)

  /** One page of writer input: text-line placements plus zero or more
    * tables (rows of Optional cells, the reference's table shape —
    * pdf_text_extractor.py:184-192). Tables are rendered as a ruled grid
    * (m/l/S path segments) with one text run per non-empty cell, placed
    * below the lowest text line — the structure `extract_tables`-style
    * reconstruction needs ("lines_strict": only existing lines).
    */
  final case class PageSpec(placements: Seq[(Double, Double, String)],
                            tables: Seq[Seq[Seq[Option[String]]]] = Nil)

  /** File framing for the writer: the same logical document in the four
    * physical layouts a real crawl slice contains.
    */
  sealed trait Framing
  object Framing {
    /** PDF 1.4: classic `xref` table + `trailer` dict. */
    case object Classic extends Framing
    /** PDF 1.5: Flate cross-reference STREAM (`/Type /XRef`, /W [1 4 2]). */
    case object XrefStream extends Framing
    /** Xref stream with PNG predictor 12 (Up) /DecodeParms — the common
      * real-world encoding. */
    case object XrefStreamPred extends Framing
    /** Dict objects packed into a `/Type /ObjStm` object stream, located
      * by type-2 entries of a predicted xref stream. */
    case object ObjStm extends Framing
  }

  /** Writer-side standard-security-handler parameters: rev 3 RC4-128 by
    * default, rev 4 /AESV2 when `aes`. An empty `userPwd` produces the
    * owner-locked-but-readable documents a crawl can decrypt; a non-empty
    * one produces truly password-protected fixtures.
    */
  final case class EncryptSpec(userPwd: String = "", ownerPwd: String = "owner-pass",
                               aes: Boolean = false)

  private val CellW = 90.0
  private val RowH = 14.0

  // ------------------------------------------------------------------ write
  /** The raw byte form an info string decodes FROM: ASCII bytes, or
    * BOM + UTF-16BE for non-ASCII values.
    */
  private def infoRawBytes(s: String): Array[Byte] =
    if (s.forall(_ < 0x80)) s.getBytes(java.nio.charset.StandardCharsets.US_ASCII)
    else Array[Byte](0xFE.toByte, 0xFF.toByte) ++
      s.getBytes(java.nio.charset.StandardCharsets.UTF_16BE)

  private def hex(b: Array[Byte]): String = b.map(x => f"${x & 0xff}%02X").mkString("<", "", ">")

  /** Serialize a document-information string: ASCII stays a literal string
    * (PDFDocEncoding-compatible bytes); anything non-ASCII uses the
    * standard UTF-16BE-with-BOM form (ISO 32000-1 §7.9.2.2) written as a
    * HEX string — pure ASCII on the wire, so every framing's byte path
    * carries it unchanged.
    */
  private def infoString(s: String): String =
    if (s.forall(_ < 0x80)) "(" + escapeString(s, named = "\r\n") + ")"
    else hex(infoRawBytes(s))

  /** The body of a PDF literal string (§7.3.4.2): backslash and parens
    * escaped, the control chars in `named` (of `\n`, `\r`, `\t`) as their
    * two-char escapes, any other char below 0x20 as a 3-digit octal escape
    * when `octal`, else raw.
    */
  private def escapeString(s: String, named: String = "\n\r\t", octal: Boolean = false): String = {
    val sb = new java.lang.StringBuilder(s.length + 8)
    s.foreach {
      case '\\' => sb.append("\\\\")
      case '('  => sb.append("\\(")
      case ')'  => sb.append("\\)")
      case c if c < 0x20 && named.indexOf(c) >= 0 =>
        sb.append('\\').append("nrt".charAt("\n\r\t".indexOf(c)))
      case c if c < 0x20 && octal => sb.append(f"\\${c.toInt}%03o")
      case c    => sb.append(c)
    }
    sb.toString
  }

  private def bytes(s: String): Array[Byte] = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)

  /** One indirect object's body: a dict, or a stream written as
    * `<< head/Length n tail >>` around its data bytes (already filtered
    * and enciphered). A `loose` dict never goes into an /ObjStm: the
    * /Encrypt dict (§7.5.7).
    */
  private sealed trait Body
  private final case class Dict(text: String, loose: Boolean = false) extends Body
  private final case class Stream(head: String, data: Array[Byte], tail: String = "") extends Body

  /** A file being written: the header, then objects at recorded offsets. */
  private final class PdfOut(version: String) {
    private val out = new java.io.ByteArrayOutputStream()
    val offsets = mutable.Map.empty[Int, Int] // objnum -> byte offset
    write(s"%PDF-$version\n")

    def size: Int = out.size()
    def write(s: String): Unit = out.write(bytes(s))
    def result: Array[Byte] = out.toByteArray

    def obj(num: Int, body: Body): Unit = {
      offsets(num) = size
      body match {
        case Dict(text, _) => write(s"$num 0 obj\n$text\nendobj\n")
        case Stream(head, data, tail) =>
          write(s"$num 0 obj\n<< $head/Length ${data.length}$tail >>\nstream\n")
          out.write(data)
          write("\nendstream\nendobj\n")
      }
    }

    /** End the file with cross-reference stream object `num` (§7.5.8):
      * /W [1 4 2] rows for objects 0..num, type 2 (stream, index) for the
      * objects in `packed`, optionally PNG-predicted (filter 2 / Up,
      * /Predictor 12), always Flate.
      */
    def endWithXrefStream(num: Int, predicted: Boolean, trailer: String,
                          packed: Map[Int, (Int, Int)]): Array[Byte] = {
      val xrefPos = size
      offsets(num) = xrefPos
      val rowBytes = 7
      val raw = new Array[Byte]((num + 1) * rowBytes)
      (0 to num).foreach { n =>
        val (t, f2, f3) =
          if (n == 0) (0, 0, 65535)
          else packed.get(n).fold((1, offsets(n), 0)) { case (stm, idx) => (2, stm, idx) }
        val o = n * rowBytes
        raw(o) = t.toByte
        raw(o + 1) = (f2 >>> 24).toByte; raw(o + 2) = (f2 >>> 16).toByte
        raw(o + 3) = (f2 >>> 8).toByte; raw(o + 4) = f2.toByte
        raw(o + 5) = (f3 >>> 8).toByte; raw(o + 6) = f3.toByte
      }
      val body = if (predicted) PngFilter.filter(raw, rowBytes, bpp = 1, _ => 2) else raw
      val parms = if (predicted) s" /DecodeParms << /Predictor 12 /Columns $rowBytes >>" else ""
      obj(num, Stream(s"/Type /XRef /Size ${num + 1} /W [1 4 2] /Root 1 0 R$trailer ",
        Zlib.deflate(body), s" /Filter /FlateDecode$parms"))
      write(s"startxref\n$xrefPos\n%%EOF\n")
      result
    }
  }

  // One serializer per cross-reference form. Each reads the same object
  // list, numbered 1..n in list order; `trailer` is the trailer's entries
  // after /Root.

  /** Classic (PDF 1.4, §7.5.4): every object, then an `xref` table. */
  private def classicFile(objs: Seq[(Int, Body)], trailer: String): Array[Byte] = {
    val f = new PdfOut("1.4")
    objs.foreach { case (n, b) => f.obj(n, b) }
    val xrefPos = f.size
    val total = objs.length + 1
    f.write(s"xref\n0 $total\n0000000000 65535 f \n" +
      objs.map { case (n, _) => f"${f.offsets(n)}%010d 00000 n \n" }.mkString)
    f.write(s"trailer\n<< /Size $total /Root 1 0 R$trailer >>\nstartxref\n$xrefPos\n%%EOF\n")
    f.result
  }

  /** Xref stream (PDF 1.5): every object, then one xref stream. */
  private def xrefStreamFile(objs: Seq[(Int, Body)], predicted: Boolean,
                             trailer: String): Array[Byte] = {
    val f = new PdfOut("1.5")
    objs.foreach { case (n, b) => f.obj(n, b) }
    f.endWithXrefStream(objs.length + 1, predicted, trailer, Map.empty)
  }

  /** Object stream (§7.5.7): the streams and the loose dicts top-level,
    * every other dict packed, in list order, into one Flate /ObjStm that
    * `seal` enciphers as a whole (its members' strings are written plain),
    * then a predicted xref stream with type-2 entries for the members.
    */
  private def objStmFile(objs: Seq[(Int, Body)], trailer: String,
                         seal: (Array[Byte], Int) => Array[Byte]): Array[Byte] = {
    val f = new PdfOut("1.5")
    val members = objs.collect { case (n, Dict(text, false)) => (n, text + "\n") }
    objs.foreach {
      case (_, Dict(_, false)) => ()
      case (n, b) => f.obj(n, b)
    }
    val offsets = members.scanLeft(0) { case (o, (_, body)) => o + bytes(body).length }
    val header = members.zip(offsets).map { case ((n, _), o) => s"$n $o" }.mkString(" ") + "\n"
    val stmNum = objs.length + 1
    f.obj(stmNum, Stream(s"/Type /ObjStm /N ${members.length} /First ${bytes(header).length} ",
      seal(Zlib.deflate(bytes(header + members.map(_._2).mkString)), stmNum),
      " /Filter /FlateDecode"))
    f.endWithXrefStream(stmNum + 1, predicted = true, trailer,
      members.map(_._1).zipWithIndex.map { case (n, idx) => n -> (stmNum, idx) }.toMap)
  }

  /** The objects every written document starts with: 1 catalog, 2 page
    * tree, 3 the page font `/F1`, the `resources` from 4 on, then one page
    * dict per page (`/MediaBox [0 0 mediaBox]`, `pageRefs(i)` after its
    * /Contents) and the pages' content streams; `content(i, num)` is page
    * i's stream as object `num`.
    */
  private def pageObjects(nPages: Int, font: String, resources: Seq[Body], mediaBox: String,
                          pageRefs: Int => String,
                          content: (Int, Int) => Body): Seq[(Int, Body)] = {
    val firstPage = 4 + resources.length
    def contentNum(i: Int) = firstPage + nPages + i
    val kids = (0 until nPages).map(i => s"${firstPage + i} 0 R").mkString(" ")
    val bodies =
      Seq(Dict("<< /Type /Catalog /Pages 2 0 R >>"),
        Dict(s"<< /Type /Pages /Kids [$kids] /Count $nPages >>"), Dict(font)) ++
        resources ++
        (0 until nPages).map(i => Dict(s"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 $mediaBox] " +
          s"/Contents ${contentNum(i)} 0 R${pageRefs(i)} /Resources << /Font << /F1 3 0 R >> >> >>")) ++
        (0 until nPages).map(i => content(i, contentNum(i)))
    bodies.zipWithIndex.map { case (b, k) => (k + 1, b) }
  }

  /** Page `spec`'s content stream: one Helvetica text run per placement
    * (the text's raw UTF-8 bytes), then each table as a ruled grid (m/l/S
    * segments) with one run per non-empty cell, stacked below the lowest
    * text line so long (fat) pages never push text runs into a grid bbox.
    */
  private def contentBytes(spec: PageSpec): Array[Byte] = {
    val content = new java.lang.StringBuilder
    def run(x: Double, y: Double, text: String): Unit =
      content.append("BT /F1 10 Tf 1 0 0 1 ").append(fmtNum(x)).append(' ')
        .append(fmtNum(y)).append(" Tm (").append(escapeString(text)).append(") Tj ET\n")
    def seg(x1: Double, y1: Double, x2: Double, y2: Double): Unit =
      content.append(fmtNum(x1)).append(' ').append(fmtNum(y1)).append(" m ")
        .append(fmtNum(x2)).append(' ').append(fmtNum(y2)).append(" l S\n")
    spec.placements.foreach { case (x, y, line) => run(x, y, line) }
    var yTop = (if (spec.placements.isEmpty) 760.0 else spec.placements.map(_._2).min) - 30.0
    spec.tables.foreach { table =>
      val rows = table.length
      val cols = table.map(_.length).max
      val x0 = 50.0
      (0 to cols).foreach(j => seg(x0 + j * CellW, yTop, x0 + j * CellW, yTop - rows * RowH))
      (0 to rows).foreach(r => seg(x0, yTop - r * RowH, x0 + cols * CellW, yTop - r * RowH))
      table.zipWithIndex.foreach { case (row, r) =>
        row.zipWithIndex.foreach {
          case (Some(cell), j) if cell.nonEmpty => run(x0 + j * CellW + 3, yTop - (r + 1) * RowH + 4, cell)
          case _ => ()
        }
      }
      yTop -= rows * RowH + 24.0 // gap keeps grid clusters disjoint
    }
    bytes(content.toString)
  }

  /** Write a PDF whose page texts round-trip through `parse` + `Layout`,
    * in the given framing. Objects: 1 catalog, 2 page tree, 3 font, the
    * page dicts, the content streams, then each page's `annots` as one
    * contiguous block (FreeText /Contents or Widget /V), the `info` dict
    * (/Info in the trailer) and the `encrypt` dict.
    */
  def writePages(pages: Seq[PageSpec], flate: Boolean,
                 width: Double = 612.0, height: Double = 792.0,
                 framing: Framing = Framing.Classic,
                 info: Seq[(String, String)] = Nil,
                 encrypt: Option[EncryptSpec] = None,
                 annots: Seq[Seq[(String, String)]] = Nil): Array[Byte] = {
    val pageAnnots = pages.indices.map(i => annots.lift(i).getOrElse(Nil))
    val annotStart = pageAnnots.scanLeft(4 + 2 * pages.length)(_ + _.length)
    val infoNum = annotStart.last
    val encNum = infoNum + (if (info.nonEmpty) 1 else 0)
    // standard security handler, optional: (cipher, /Encrypt dict, trailer entries)
    val enc: Option[(PdfCrypt.Decryptor, String, String)] = encrypt.map { es =>
      val md = java.security.MessageDigest.getInstance("MD5")
      pages.foreach(_.placements.foreach { case (x, y, t) => md.update(bytes(s"$x/$y/$t")) })
      val fileId = md.digest()
      val (v, r) = if (es.aes) (4, 4) else (2, 3)
      val keyLen = 16
      val perm = -44
      val oBytes = PdfCrypt.computeO(es.ownerPwd.getBytes(Latin1), es.userPwd.getBytes(Latin1), r, keyLen)
      val key = PdfCrypt.computeKey(es.userPwd.getBytes(Latin1), oBytes, perm, fileId, r, keyLen)
      val uBytes = PdfCrypt.computeU(key, fileId, r)
      val cf = if (es.aes)
        " /CF << /StdCF << /CFM /AESV2 /Length 16 >> >> /StmF /StdCF /StrF /StdCF" else ""
      (PdfCrypt.Decryptor(key, es.aes),
        s"<< /Filter /Standard /V $v /R $r /Length 128 /P $perm " +
          s"/O ${hex(oBytes)} /U ${hex(uBytes)}$cf >>",
        s" /Encrypt $encNum 0 R /ID [${hex(fileId)} ${hex(fileId)}]")
    }
    def seal(data: Array[Byte], num: Int): Array[Byte] = enc.fold(data)(_._1.encrypt(data, num, 0))
    /** An info or annot value of object `num`: enciphered in an encrypted
      * file, except inside an /ObjStm, whose members ride the stream's
      * encryption (§7.5.7).
      */
    def value(s: String, num: Int): String =
      if (enc.isEmpty || framing == Framing.ObjStm) infoString(s) else hex(seal(infoRawBytes(s), num))

    val filter = if (flate) " /Filter /FlateDecode" else ""
    val objs = pageObjects(pages.length, "<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>",
      Nil, s"$width $height",
      pageRefs = i =>
        if (pageAnnots(i).isEmpty) ""
        else pageAnnots(i).indices.map(k => s"${annotStart(i) + k} 0 R")
          .mkString(" /Annots [", " ", "]"),
      content = (i, num) => {
        val raw = contentBytes(pages(i))
        Stream("", seal(if (flate) Zlib.deflate(raw) else raw, num), filter)
      }) ++
      pageAnnots.indices.flatMap(i => pageAnnots(i).zipWithIndex.map { case ((subtype, text), k) =>
        val num = annotStart(i) + k
        val key = if (subtype == "Widget") "/FT /Tx /V" else "/Contents"
        num -> Dict(s"<< /Type /Annot /Subtype /$subtype /Rect [0 0 10 10] " +
          s"$key ${value(text, num)} >>")
      }) ++
      (if (info.isEmpty) Nil
       else Seq(infoNum -> Dict(info.map { case (k, v) => s"/$k ${value(v, infoNum)}" }
         .mkString("<< ", " ", " >>")))) ++
      enc.map(e => encNum -> Dict(e._2, loose = true))
    val trailer = (if (info.isEmpty) "" else s" /Info $infoNum 0 R") + enc.fold("")(_._3)

    framing match {
      case Framing.Classic        => classicFile(objs, trailer)
      case Framing.XrefStream     => xrefStreamFile(objs, predicted = false, trailer)
      case Framing.XrefStreamPred => xrefStreamFile(objs, predicted = true, trailer)
      case Framing.ObjStm         => objStmFile(objs, trailer, seal)
    }
  }

  /** Fixture writer for the FONT-DECODE surface: the same page texts, but
    * stored under a custom encoding instead of raw UTF-8 bytes.
    *
    *   - `cid = false`: a simple 1-byte font — ASCII bytes identity,
    *     non-ASCII chars assigned codes from 0x80 and declared through
    *     /Encoding /Differences glyph names (even indices: uniXXXX or an
    *     AGL name) and a /ToUnicode bfchar CMap (odd indices) — BOTH
    *     decode paths are exercised in one document;
    *   - `cid = true`: a Type0 font with /Encoding /Identity-H — every
    *     char (ASCII included) gets a 2-byte code (sorted-char order, so
    *     consecutive codepoints get consecutive codes), content uses hex
    *     strings, and the /ToUnicode CMap uses bfrange for runs and
    *     bfchar for singletons.
    *
    * The document is classic-framed, its ToUnicode CMap is object 4, and
    * `parse(writeCustomFontDoc(pages, cid))` equals `parse(writePages(…))`
    * of the same lines (PdfFontSpec).
    */
  def writeCustomFontDoc(pages: Seq[Seq[String]], cid: Boolean): Array[Byte] = {
    val chars: Vector[Char] = pages.flatten.flatMap(_.toCharArray).distinct.sorted.toVector

    val (fontDict, toUnicode, encodeLine) =
      if (cid) {
        val codeOf: Map[Char, Int] = chars.zipWithIndex.map { case (c, i) => c -> (i + 1) }.toMap
        // maximal runs of consecutive codepoints (which, by sorted-order
        // assignment, also have consecutive codes) → bfrange; rest → bfchar
        val runs = ArrayBuffer.empty[(Int, Int)] // inclusive index ranges into chars
        var s = 0
        (1 to chars.length).foreach { i =>
          if (i == chars.length || chars(i) != chars(i - 1) + 1) { runs += ((s, i - 1)); s = i }
        }
        val (multi, single) = runs.toVector.partition { case (a, b) => b > a }
        val cmap = new StringBuilder
        cmap ++= "/CIDInit /ProcSet findresource begin\nbegincmap\n"
        if (multi.nonEmpty) {
          cmap ++= s"${multi.length} beginbfrange\n"
          multi.foreach { case (a, b) =>
            cmap ++= f"<${a + 1}%04X> <${b + 1}%04X> <${chars(a).toInt}%04X>\n"
          }
          cmap ++= "endbfrange\n"
        }
        if (single.nonEmpty) {
          cmap ++= s"${single.length} beginbfchar\n"
          single.foreach { case (a, _) =>
            cmap ++= f"<${a + 1}%04X> <${chars(a).toInt}%04X>\n"
          }
          cmap ++= "endbfchar\n"
        }
        cmap ++= "endcmap\nend\n"
        val fd = "<< /Type /Font /Subtype /Type0 /BaseFont /GraftCID " +
          "/Encoding /Identity-H /ToUnicode 4 0 R >>"
        val enc: String => String = line =>
          "<" + line.map(c => f"${codeOf(c)}%04X").mkString + "> Tj"
        (fd, cmap.toString, enc)
      } else {
        val nonAscii = chars.filter(_ >= 0x80)
        require(nonAscii.length <= 112, s"too many non-ASCII chars: ${nonAscii.length}")
        val codeOf: Map[Char, Int] =
          nonAscii.zipWithIndex.map { case (c, i) => c -> (0x80 + i) }.toMap
        // even indices → /Differences (AGL name when one exists, else uniXXXX);
        // odd indices → /ToUnicode bfchar
        val aglByChar: Map[String, String] = agl.collect {
          case (name, s) if s.length == 1 => s -> name
        }
        val diffEntries = nonAscii.zipWithIndex.collect { case (c, i) if i % 2 == 0 =>
          val name = aglByChar.getOrElse(c.toString, f"uni${c.toInt}%04X")
          s"${0x80 + i} /$name"
        }
        val bfEntries = nonAscii.zipWithIndex.collect { case (c, i) if i % 2 == 1 =>
          f"<${0x80 + i}%02X> <${c.toInt}%04X>"
        }
        val cmap =
          if (bfEntries.isEmpty) ""
          else s"/CIDInit /ProcSet findresource begin\nbegincmap\n${bfEntries.length} " +
            s"beginbfchar\n${bfEntries.mkString("\n")}\nendbfchar\nendcmap\nend\n"
        val encPart =
          if (diffEntries.isEmpty) ""
          else s" /Encoding << /BaseEncoding /WinAnsiEncoding /Differences [${diffEntries.mkString(" ")}] >>"
        val toUniPart = if (cmap.isEmpty) "" else " /ToUnicode 4 0 R"
        val fd = s"<< /Type /Font /Subtype /Type1 /BaseFont /GraftEnc$encPart$toUniPart >>"
        // one code char per char; the content's Latin-1 bytes are the codes
        val enc: String => String = line =>
          "(" + escapeString(line.map(c => if (c < 0x80) c else codeOf(c).toChar),
            named = "", octal = true) + ") Tj"
        (fd, cmap, enc)
      }

    classicFile(pageObjects(pages.length, fontDict, Seq(Stream("", toUnicode.getBytes(Latin1))),
      "612 792", pageRefs = _ => "",
      content = (i, _) => Stream("", pages(i).zipWithIndex.map { case (line, k) =>
        s"BT /F1 10 Tf 1 0 0 1 50 ${fmtNum(760.0 - 12.0 * k)} Tm ${encodeLine(line)} ET"
      }.mkString("", "\n", "\n").getBytes(Latin1))), trailer = "")
  }

  private def fmtNum(d: Double): String =
    if (d == d.toLong) d.toLong.toString else d.toString

  // ------------------------------------------------------------------ parse
  def isPdf(payload: Array[Byte]): Boolean =
    payload.length >= 5 && payload(0) == '%' && payload(1) == 'P' &&
      payload(2) == 'D' && payload(3) == 'F' && payload(4) == '-'

  private final case class PdfObj(dict: String, stream: Option[Array[Byte]],
                                  num: Int = 0, gen: Int = 0,
                                  /** members of an /ObjStm: their strings were
                                    * encrypted with the STREAM, never again
                                    * individually (§7.5.7) */
                                  fromObjStm: Boolean = false)
  private final case class DocObjs(objs: mutable.Map[Int, PdfObj], trailers: Vector[String]) {
    /** Standard-security-handler decryptor when the document is encrypted
      * and opens with the EMPTY user password; throws EncryptedPdfException
      * for password-protected or unsupported-handler documents; None when
      * not encrypted at all. Lazy: resolved once per document.
      */
    lazy val decryptor: Option[PdfCrypt.Decryptor] = resolveEncryption(this)
  }

  private val Latin1 = java.nio.charset.StandardCharsets.ISO_8859_1
  private val Utf8 = java.nio.charset.StandardCharsets.UTF_8
  private val EncryptRx = java.util.regex.Pattern.compile("""/Encrypt(?![A-Za-z0-9])""")
  private val RefRx = java.util.regex.Pattern.compile("""(\d+)\s+(\d+)\s+R\b""")
  private val NameRx = java.util.regex.Pattern.compile("""/([A-Za-z0-9]+)""")
  private val FontEntryRx = java.util.regex.Pattern.compile("""/([A-Za-z0-9.+_-]+)\s+(\d+)\s+\d+\s+R\b""")
  private val ObjHeadRx = java.util.regex.Pattern.compile("""(\d+)\s+(\d+)\s+obj\b""")
  // compiled-Pattern cache: the parser runs concurrently inside mapPartitions,
  // so this must be a concurrent map (Pattern itself is immutable/thread-safe)
  private val RefAfterKeyCache =
    new java.util.concurrent.ConcurrentHashMap[String, java.util.regex.Pattern]()
  private def cachedPattern(key: String, mk: => java.util.regex.Pattern): java.util.regex.Pattern =
    RefAfterKeyCache.computeIfAbsent(key, _ => mk)

  /** Parse a PDF into pages: xref-chain resolution (classic tables, xref
    * streams, /Prev, ObjStm members) with a whole-file object-scan repair
    * fallback, then page-tree walk → per-page content tokenize with
    * per-font text decode. Throws [[EncryptedPdfException]] on `/Encrypt`;
    * throws IOException on anything outside the subset (callers convert to
    * a pass-through + metric).
    */
  def parse(payload: Array[Byte]): Vector[PdfPage] = {
    val doc = load(payload)
    buildPages(doc, doc.decryptor)
  }

  /** The document's object graph: the xref chain, with the whole-file
    * object scan as repair fallback. An encrypted document is not
    * repairable, so its [[EncryptedPdfException]] rethrows.
    */
  private def load(payload: Array[Byte]): DocObjs = {
    val latin = new String(payload, Latin1)
    try loadByXref(payload, latin)
    catch {
      case e: EncryptedPdfException => throw e
      case _: Exception => loadByScan(payload, latin)
    }
  }

  /** Latin-1-framed string (one char per byte) → its bytes from `from` on.
    * Truncating `toByte` on purpose: `getBytes(ISO_8859_1)` would turn a
    * char above 0xFF into `?`.
    */
  private def latin1Bytes(raw: String, from: Int = 0): Array[Byte] = {
    val bs = new Array[Byte](raw.length - from)
    var i = from
    while (i < raw.length) { bs(i - from) = raw.charAt(i).toByte; i += 1 }
    bs
  }

  /** A raw dict string of object `o` in plain form: strings are
    * individually encrypted with the object's key — except inside an
    * ObjStm, whose stream decrypt already covered them.
    */
  private def plainString(raw: String, o: PdfObj, dec: Option[PdfCrypt.Decryptor]): String =
    dec match {
      case Some(d) if !o.fromObjStm => new String(d.decrypt(latin1Bytes(raw), o.num, o.gen), Latin1)
      case _ => raw
    }

  /** Document-information dictionary (trailer /Info): Title/Author/Subject/
    * Keywords/Creator/Producer/CreationDate/ModDate as decoded strings —
    * the PDF analog of the HTML `page_meta` surface. Strings decode per
    * ISO 32000-1 §7.9.2.2: UTF-16BE when they carry the FE FF BOM,
    * byte-per-char (PDFDocEncoding ≈ Latin-1 for the printable range)
    * otherwise. Returns empty on documents without /Info; throws only on
    * encrypted documents (same contract as [[parse]]).
    */
  def docInfo(payload: Array[Byte]): Map[String, String] = {
    val doc = load(payload)
    val dec = doc.decryptor
    doc.trailers.iterator.flatMap(t => refValue(t, "/Info")).nextOption()
      .flatMap(doc.objs.get) match {
      case None => Map.empty
      case Some(o) =>
        val keys = Seq("Title", "Author", "Subject", "Keywords", "Creator",
          "Producer", "CreationDate", "ModDate")
        keys.flatMap { k =>
          infoValue(o.dict, "/" + k).map(raw => k -> decodeInfoString(plainString(raw, o, dec)))
        }.toMap
    }
  }

  /** `key (literal)` or `key <hex>` value as the RAW byte string. */
  private def infoValue(dict: String, key: String): Option[String] = {
    var from = 0
    while (from >= 0) {
      val idx = dict.indexOf(key, from)
      if (idx < 0) return None
      val after = idx + key.length
      // reject prefix hits (/Creator vs /CreationDate)
      if (after < dict.length && !dict.charAt(after).isLetterOrDigit) {
        val i = skipWs(dict, after)
        if (i < dict.length && dict.charAt(i) == '(')
          return Some(readString(dict, i)._1)
        if (i < dict.length && dict.charAt(i) == '<' &&
            (i + 1 >= dict.length || dict.charAt(i + 1) != '<'))
          return Some(readHexString(dict, i)._1)
        return None
      }
      from = after
    }
    None
  }

  /** RAW info bytes → text: UTF-16BE behind a FE FF BOM, Latin-1 bytes
    * otherwise (the printable-range PDFDocEncoding approximation).
    */
  private def decodeInfoString(raw: String): String =
    if (raw.length >= 2 && raw.charAt(0) == 0xFE.toChar && raw.charAt(1) == 0xFF.toChar)
      new String(latin1Bytes(raw, 2), java.nio.charset.StandardCharsets.UTF_16BE)
    else raw

  /** `D:YYYYMMDDHHmmSS…` info date → (year, month, day) if parseable. */
  def infoDateYmd(s: String): Option[(Int, Int, Int)] = {
    val m = java.util.regex.Pattern.compile("""^D:(\d{4})(\d{2})?(\d{2})?""").matcher(s)
    if (m.lookingAt())
      Some((m.group(1).toInt,
        Option(m.group(2)).map(_.toInt).getOrElse(1),
        Option(m.group(3)).map(_.toInt).getOrElse(1)))
    else None
  }

  /** Resolve the document's encryption state (standard security handler,
    * §7.6.3): None = unencrypted; Some(d) = opens with the EMPTY user
    * password (the common owner-locked-but-readable case); throws
    * [[EncryptedPdfException]] when a real password or an unsupported
    * handler/cipher stands in the way — the "can't" crawl-report bucket.
    */
  private def resolveEncryption(doc: DocObjs): Option[PdfCrypt.Decryptor] = {
    if (!doc.trailers.exists(t => EncryptRx.matcher(t).find())) return None
    val encNum = doc.trailers.iterator.flatMap(t => refValue(t, "/Encrypt")).nextOption()
      .getOrElse(throw new EncryptedPdfException("encrypted PDF (unresolvable /Encrypt)"))
    val enc = doc.objs.getOrElse(encNum,
      throw new EncryptedPdfException("encrypted PDF (missing /Encrypt object)")).dict
    if (!nameMatches(enc, "/Filter", "Standard"))
      throw new EncryptedPdfException("encrypted PDF (non-standard security handler)")
    val v = extractInt(enc, "/V").getOrElse(0)
    val r = extractInt(enc, "/R").getOrElse(2)
    val aes = v == 4 && enc.contains("/AESV2")
    if (!(v == 1 || v == 2 || (v == 4 && (aes || enc.contains("/V2")))))
      throw new EncryptedPdfException(s"encrypted PDF (unsupported encryption /V $v)")
    val keyLen =
      if (v == 1) 5
      else if (aes) 16
      else extractInt(enc, "/Length").map(_ / 8).getOrElse(5)
    val o = rawStringBytes(enc, "/O").getOrElse(
      throw new EncryptedPdfException("encrypted PDF (no /O)"))
    val u = rawStringBytes(enc, "/U").getOrElse(
      throw new EncryptedPdfException("encrypted PDF (no /U)"))
    val perm = extractSignedInt(enc, "/P").getOrElse(-1)
    val encMeta = !enc.replaceAll("\\s+", " ").contains("/EncryptMetadata false")
    val fileId = doc.trailers.iterator.map(fileIdOf).find(_.nonEmpty).getOrElse(Array.empty[Byte])
    PdfCrypt.tryEmptyPassword(o, u, perm, fileId, r, keyLen, aes, encMeta) match {
      case Some(d) => Some(d)
      case None => throw new EncryptedPdfException("encrypted PDF (password required)")
    }
  }

  /** First element of the trailer /ID array as raw bytes. */
  private def fileIdOf(trailer: String): Array[Byte] = {
    val idx = trailer.indexOf("/ID")
    if (idx < 0) return Array.empty
    var i = skipWs(trailer, idx + 3)
    if (i >= trailer.length || trailer.charAt(i) != '[') return Array.empty
    i = skipWs(trailer, i + 1)
    val raw =
      if (i < trailer.length && trailer.charAt(i) == '<') readHexString(trailer, i)._1
      else if (i < trailer.length && trailer.charAt(i) == '(') readString(trailer, i)._1
      else return Array.empty
    latin1Bytes(raw)
  }

  /** `key (literal)` / `key <hex>` value as raw bytes (for /O and /U). */
  private def rawStringBytes(dict: String, key: String): Option[Array[Byte]] =
    infoValue(dict, key).map(latin1Bytes(_))

  private def extractSignedInt(dict: String, key: String): Option[Int] = {
    val p = cachedPattern("S" + key,
      java.util.regex.Pattern.compile(java.util.regex.Pattern.quote(key) + """\s+(-?\d+)"""))
    val m = p.matcher(dict)
    if (m.find()) Some(m.group(1).toInt) else None
  }

  /** Annotation + form-field text: per page, the /Annots array's FreeText/
    * Text /Contents strings and Widget field values (/V) — text a page's
    * content stream never carries (sticky notes, filled forms). Returns
    * (pageIndex 0-based, subtype, decoded text); strings decode like /Info
    * (UTF-16BE BOM aware) and decrypt individually on encrypted documents
    * (except ObjStm-resident annots, already covered by the stream).
    */
  def annotations(payload: Array[Byte]): Vector[(Int, String, String)] = {
    val doc = load(payload)
    val dec = doc.decryptor
    val objs = doc.objs
    val rootNum = doc.trailers.iterator.flatMap(t => refValue(t, "/Root")).nextOption()
      .orElse(objs.collectFirst { case (n, o) if nameMatches(o.dict, "/Type", "Catalog") => n })
    val pagesNum = rootNum.flatMap(objs.get).flatMap(o => refValue(o.dict, "/Pages"))
      .orElse(objs.collectFirst {
        case (n, o) if nameMatches(o.dict, "/Type", "Pages") && o.dict.contains("/Kids") => n
      }).getOrElse(throw new java.io.IOException("no /Pages"))
    val out = Vector.newBuilder[(Int, String, String)]
    var pageIdx = 0
    def walk(num: Int, depth: Int): Unit = {
      if (depth > 64) throw new java.io.IOException("page tree too deep")
      val d = objs.getOrElse(num, throw new java.io.IOException(s"missing page obj $num")).dict
      if (d.contains("/Kids")) refArray(d, "/Kids").foreach(walk(_, depth + 1))
      else {
        refArray(d, "/Annots").foreach { an =>
          objs.get(an).foreach { ao =>
            if (nameMatches(ao.dict, "/Type", "Annot") || ao.dict.contains("/Subtype")) {
              val subtype = {
                val m = cachedPattern("Nsubtype",
                  java.util.regex.Pattern.compile("""/Subtype\s*/([A-Za-z0-9]+)""")).matcher(ao.dict)
                if (m.find()) m.group(1) else "Unknown"
              }
              val raw0 =
                if (subtype == "Widget") infoValue(ao.dict, "/V")
                else infoValue(ao.dict, "/Contents")
              raw0.foreach { r0 =>
                out += ((pageIdx, subtype, decodeInfoString(plainString(r0, ao, dec))))
              }
            }
          }
        }
        pageIdx += 1
      }
    }
    walk(pagesNum, 0)
    out.result()
  }

  // ----------------------------------------------------- structure: by xref
  private sealed trait XEntry
  private final case class InFile(off: Int) extends XEntry
  private final case class InStream(stm: Int, idx: Int) extends XEntry
  private case object XFree extends XEntry

  private def loadByXref(payload: Array[Byte], latin: String): DocObjs = {
    val sx = latin.lastIndexOf("startxref")
    if (sx < 0) throw new java.io.IOException("no startxref")
    val firstOff = {
      var i = sx + "startxref".length
      while (i < latin.length && latin.charAt(i).isWhitespace) i += 1
      val s = i
      while (i < latin.length && latin.charAt(i).isDigit) i += 1
      if (i == s) throw new java.io.IOException("bad startxref")
      latin.substring(s, i).toInt
    }
    // newest-first chain walk; first entry per object number wins
    val entries = mutable.Map.empty[Int, XEntry]
    val trailers = Vector.newBuilder[String]
    def addEntries(es: Iterable[(Int, XEntry)]): Unit =
      es.foreach { case (n, e) => if (!entries.contains(n)) entries(n) = e }

    def decodeXrefStreamAt(off: Int): Option[Int] = { // returns /Prev
      val (num, obj) = parseObjectAt(payload, latin, off, _ => None)
      if (!nameMatches(obj.dict, "/Type", "XRef"))
        throw new java.io.IOException(s"object $num at startxref is not /Type /XRef")
      trailers += obj.dict
      val data = decodedStream(obj, None) // xref streams are never encrypted
      val w = extractNumArray(obj.dict, "/W").map(_.toInt)
      if (w.isEmpty) throw new java.io.IOException("xref stream without /W")
      val size = extractInt(obj.dict, "/Size").getOrElse(
        throw new java.io.IOException("xref stream without /Size"))
      val index = extractNumArray(obj.dict, "/Index").map(_.toInt) match {
        case Vector() => Vector(0, size)
        case v        => v
      }
      val rowBytes = w.sum
      if (rowBytes <= 0 || data.length % rowBytes != 0)
        throw new java.io.IOException("xref stream row size mismatch")
      var pos = 0
      val es = ArrayBuffer.empty[(Int, XEntry)]
      index.grouped(2).foreach { g =>
        val start = g(0); val count = g(1)
        (0 until count).foreach { k =>
          val fields = w.map { width =>
            var v = 0L
            (0 until width).foreach { _ => v = (v << 8) | (data(pos) & 0xff); pos += 1 }
            v
          }
          def f(j: Int): Long = if (j < fields.length) fields(j) else 0L
          val t = if (w(0) == 0) 1L else f(0) // omitted type column defaults to 1
          val e = t match {
            case 0 => XFree
            case 1 => InFile(f(1).toInt)
            case 2 => InStream(f(1).toInt, f(2).toInt)
            case _ => XFree // unknown types are "reference to null" per spec
          }
          es += ((start + k) -> e)
        }
      }
      addEntries(es)
      extractInt(obj.dict, "/Prev")
    }

    def decodeClassicAt(off0: Int): Option[Int] = {
      var i = skipWs(latin, off0)
      if (!latin.startsWith("xref", i)) throw new java.io.IOException("no xref keyword")
      i += 4
      val local = ArrayBuffer.empty[(Int, XEntry)]
      var parsing = true
      while (parsing) {
        i = skipWs(latin, i)
        if (latin.startsWith("trailer", i)) parsing = false
        else {
          // subsection header: start count
          val (start, i1) = readInt(latin, i)
          val (count, i2) = readInt(latin, i1)
          i = skipWs(latin, i2)
          (0 until count).foreach { k =>
            // 20-byte entries: oooooooooo ggggg n|f
            val line = latin.substring(i, math.min(i + 20, latin.length))
            val off = line.substring(0, 10).toInt
            val kind = line.charAt(17)
            local += ((start + k) -> (if (kind == 'n') InFile(off) else XFree))
            i += 20
          }
        }
      }
      i = skipWs(latin, i + "trailer".length)
      val (trailer, _) = balancedDict(latin, i)
      trailers += trailer
      // hybrid-reference file: /XRefStm entries take precedence over this
      // section's table entries (ISO 32000-1 §7.5.8.4) — decode it FIRST
      extractInt(trailer, "/XRefStm").foreach(o => decodeXrefStreamAt(o))
      addEntries(local)
      extractInt(trailer, "/Prev")
    }

    var next: Option[Int] = Some(firstOff)
    val seenOffs = mutable.Set.empty[Int]
    while (next.isDefined) {
      val off = next.get
      next =
        if (!seenOffs.add(off)) None // /Prev loop guard
        else if (latin.startsWith("xref", skipWs(latin, off))) decodeClassicAt(off)
        else decodeXrefStreamAt(off)
    }

    // materialize: in-file objects first, then ObjStm members via type-2
    val objs = mutable.Map.empty[Int, PdfObj]
    val lengthResolver: Int => Option[Int] = m => entries.get(m).collect {
      case InFile(o) =>
        val (_, lo) = parseObjectAt(payload, latin, o, _ => None)
        lo.dict.trim.toInt
    }
    entries.foreach {
      case (n, InFile(off)) =>
        val (got, obj) = parseObjectAt(payload, latin, off, lengthResolver)
        if (got != n) throw new java.io.IOException(s"xref says obj $n at $off, found $got")
        objs(n) = obj
      case _ => ()
    }
    // the encryption dictionary is always a top-level object (ISO 32000-1
    // §7.5.7: it shall not reside in an object stream), so the decryptor
    // resolves here — BEFORE ObjStm expansion, whose streams may need it
    val doc = DocObjs(objs, trailers.result())
    val dec = doc.decryptor
    val byStream = entries.collect { case (n, InStream(s, i)) => (s, n, i) }.groupBy(_._1)
    byStream.foreach { case (stmNum, group) =>
      val container = objs.getOrElse(stmNum,
        throw new java.io.IOException(s"missing object stream $stmNum"))
      val members = objStmMembers(container, dec)
      group.foreach { case (_, n, idx) =>
        if (idx < 0 || idx >= members.length)
          throw new java.io.IOException(s"ObjStm $stmNum has no index $idx")
        objs(n) = PdfObj(members(idx)._2, None, n, 0, fromObjStm = true)
      }
    }
    if (objs.isEmpty) throw new java.io.IOException("xref chain resolved no objects")
    doc // objs is the same mutable map — member additions are visible
  }

  // ----------------------------------------------------- structure: by scan
  /** Repair path: scan every `N G obj` in file order (later wins — the
    * incremental-update approximation), expand any object streams, collect
    * trailer + xref-stream dicts for /Root and /Encrypt.
    */
  private def loadByScan(payload: Array[Byte], latin: String): DocObjs = {
    val objs = mutable.Map.empty[Int, PdfObj]
    val m = ObjHeadRx.matcher(latin)
    var searchFrom = 0
    while (m.find(searchFrom)) {
      val (num, obj) =
        try parseObjectAt(payload, latin, m.start(), _ => None)
        catch { case _: Exception => (-1, null) } // damaged object: skip, keep scanning
      if (num >= 0) objs(num) = obj
      // resume after the object head (not its body: stream bytes may
      // contain spurious "N G obj" sequences we must not interpret, but a
      // mis-sliced body must not swallow real following objects either)
      searchFrom = m.end()
    }
    if (objs.isEmpty) throw new java.io.IOException("no objects found")
    val trailers = Vector.newBuilder[String]
    var ti = latin.indexOf("trailer")
    while (ti >= 0) {
      val ds = skipWs(latin, ti + "trailer".length)
      if (ds < latin.length && latin.startsWith("<<", ds))
        try trailers += balancedDict(latin, ds)._1 catch { case _: Exception => () }
      ti = latin.indexOf("trailer", ti + 1)
    }
    objs.values.foreach(o => if (nameMatches(o.dict, "/Type", "XRef")) trailers += o.dict)
    val doc = DocObjs(objs, trailers.result())
    val dec = doc.decryptor
    // object streams: add members that xref-less scanning cannot see
    objs.toVector.foreach { case (_, o) =>
      if (nameMatches(o.dict, "/Type", "ObjStm") && o.stream.isDefined) {
        objStmMembers(o, dec).foreach { case (n, body) =>
          if (!objs.contains(n)) objs(n) = PdfObj(body, None, n, 0, fromObjStm = true)
        }
      }
    }
    doc
  }

  /** Parse one `N G obj … endobj` at `off`: balanced dict (or plain value),
    * then optional stream sliced by /Length (direct, indirect via
    * `lengthResolver`, or an `endstream` scan as last resort).
    */
  private def parseObjectAt(payload: Array[Byte], latin: String, off: Int,
                            lengthResolver: Int => Option[Int]): (Int, PdfObj) = {
    val m = ObjHeadRx.matcher(latin)
    m.region(skipWs(latin, off), latin.length)
    if (!m.lookingAt()) throw new java.io.IOException(s"no object header at $off")
    val num = m.group(1).toInt
    val gen = m.group(2).toInt
    var i = skipWs(latin, m.end())
    val (dict, dictEnd) =
      if (latin.startsWith("<<", i)) balancedDict(latin, i)
      else {
        val e = latin.indexOf("endobj", i)
        if (e < 0) throw new java.io.IOException("unterminated object")
        (latin.substring(i, e), e)
      }
    i = skipWs(latin, dictEnd)
    if (latin.startsWith("stream", i)) {
      var ds = i + "stream".length
      if (ds < latin.length && latin.charAt(ds) == '\r') ds += 1
      if (ds < latin.length && latin.charAt(ds) == '\n') ds += 1
      val len = extractInt(dict, "/Length")
        .orElse(refValue(dict, "/Length").flatMap(lengthResolver))
        .getOrElse {
          val e = latin.indexOf("endstream", ds)
          if (e < 0) throw new java.io.IOException("stream without /Length or endstream")
          // back off the EOL the writer put before "endstream"
          var ee = e
          if (ee > ds && latin.charAt(ee - 1) == '\n') ee -= 1
          if (ee > ds && latin.charAt(ee - 1) == '\r') ee -= 1
          ee - ds
        }
      if (ds + len > payload.length) throw new java.io.IOException("stream past EOF")
      (num, PdfObj(dict, Some(java.util.Arrays.copyOfRange(payload, ds, ds + len)), num, gen))
    } else (num, PdfObj(dict, None, num, gen))
  }

  /** Decode an object's stream through its /Filter chain (listed in decode
    * order per ISO 32000-1 §7.4): Flate, ASCIIHex, ASCII85, RunLength —
    * with their short-name synonyms — then /DecodeParms PNG predictors
    * (10-15). Image codecs (DCT/JPX/CCITT) and TIFF predictor 2 are out of
    * subset → throw (they only appear on XObject streams this parser never
    * needs to decode; a /Contents stream carrying one is a true fallback).
    */
  private def decodedStream(o: PdfObj, dec: Option[PdfCrypt.Decryptor]): Array[Byte] = {
    val raw = o.stream.getOrElse(throw new java.io.IOException("object has no stream"))
    // decrypt BEFORE the filter chain (§7.6.2); the xref stream itself is
    // never encrypted — its callers pass dec = None
    var data = dec match {
      case Some(d) => d.decrypt(raw, o.num, o.gen)
      case None    => raw
    }
    filterNames(o.dict).foreach {
      case "FlateDecode" | "Fl"      => data = Zlib.inflate(data)
      case "ASCIIHexDecode" | "AHx"  => data = asciiHexDecode(data)
      case "ASCII85Decode" | "A85"   => data = ascii85Decode(data)
      case "RunLengthDecode" | "RL"  => data = runLengthDecode(data)
      case other => throw new java.io.IOException(s"stream filter /$other out of subset")
    }
    dictValue(o.dict, "/DecodeParms") match {
      case Some(parms) =>
        val pred = extractInt(parms, "/Predictor").getOrElse(1)
        if (pred >= 10) {
          val columns = extractInt(parms, "/Columns").getOrElse(1)
          val colors = extractInt(parms, "/Colors").getOrElse(1)
          val bpc = extractInt(parms, "/BitsPerComponent").getOrElse(8)
          val rowBytes = math.max(1, (columns * colors * bpc + 7) / 8)
          val bpp = math.max(1, colors * bpc / 8)
          PngFilter.unfilter(data, rowBytes, bpp)
        } else if (pred == 2) throw new java.io.IOException("TIFF predictor unsupported")
        else data
      case None => data
    }
  }

  /** /Filter value: empty (no filter), a single name, or an array of names
    * in decode order.
    */
  private def filterNames(dict: String): Vector[String] = {
    val idx = dict.indexOf("/Filter")
    if (idx < 0) return Vector.empty
    var i = skipWs(dict, idx + "/Filter".length)
    val nameRx = NameRx
    if (i < dict.length && dict.charAt(i) == '[') {
      val close = dict.indexOf(']', i)
      if (close < 0) return Vector.empty
      val m = nameRx.matcher(dict.substring(i + 1, close))
      val out = Vector.newBuilder[String]
      while (m.find()) out += m.group(1)
      out.result()
    } else {
      val m = nameRx.matcher(dict)
      m.region(i, dict.length)
      if (m.lookingAt()) Vector(m.group(1)) else Vector.empty
    }
  }

  private def asciiHexDecode(data: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(data.length / 2 + 1)
    var hi = -1
    var i = 0
    var done = false
    while (i < data.length && !done) {
      val c = data(i).toChar
      if (c == '>') done = true
      else {
        val d = Character.digit(c, 16)
        if (d >= 0) { if (hi < 0) hi = d else { out.write((hi << 4) | d); hi = -1 } }
        else if (!c.isWhitespace) throw new java.io.IOException(s"bad hex char '$c'")
      }
      i += 1
    }
    if (hi >= 0) out.write(hi << 4) // odd digit count: final nibble padded with 0
    out.toByteArray
  }

  private def ascii85Decode(data: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(data.length * 4 / 5 + 4)
    val group = new Array[Int](5)
    var n = 0
    var i = 0
    var done = false
    def flush(count: Int): Unit = { // count = chars in group (2..5)
      var v = 0L
      (0 until 5).foreach(k => v = v * 85 + (if (k < count) group(k) else 84)) // pad 'u'
      val bytes = count - 1
      (0 until bytes).foreach(k => out.write(((v >>> (24 - 8 * k)) & 0xff).toInt))
    }
    while (i < data.length && !done) {
      val c = data(i).toChar
      if (c == '~') done = true // "~>" EOD
      else if (c == 'z' && n == 0) { out.write(0); out.write(0); out.write(0); out.write(0) }
      else if (c >= '!' && c <= 'u') {
        group(n) = c - '!'; n += 1
        if (n == 5) { flush(5); n = 0 }
      } else if (!c.isWhitespace) throw new java.io.IOException(s"bad ascii85 char '$c'")
      i += 1
    }
    if (n == 1) throw new java.io.IOException("ascii85: dangling single char")
    if (n > 1) flush(n)
    out.toByteArray
  }

  private def runLengthDecode(data: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(data.length * 2)
    var i = 0
    var done = false
    while (i < data.length && !done) {
      val len = data(i) & 0xff
      if (len == 128) done = true // EOD
      else if (len < 128) {
        if (i + 1 + len + 1 > data.length) throw new java.io.IOException("truncated RL literal")
        out.write(data, i + 1, len + 1)
        i += len + 1
      } else {
        if (i + 1 >= data.length) throw new java.io.IOException("truncated RL run")
        val b = data(i + 1)
        (0 until 257 - len).foreach(_ => out.write(b))
        i += 1
      }
      i += 1
    }
    out.toByteArray
  }

  /** Members of a `/Type /ObjStm`: (objnum, body) in stream order. */
  private def objStmMembers(o: PdfObj, dec: Option[PdfCrypt.Decryptor]): Vector[(Int, String)] = {
    val data = new String(decodedStream(o, dec), Latin1)
    val n = extractInt(o.dict, "/N").getOrElse(throw new java.io.IOException("ObjStm without /N"))
    val first = extractInt(o.dict, "/First").getOrElse(
      throw new java.io.IOException("ObjStm without /First"))
    var i = 0
    val header = ArrayBuffer.empty[Int]
    while (header.length < 2 * n) {
      val (v, i2) = readInt(data, i)
      header += v; i = i2
    }
    (0 until n).toVector.map { k =>
      val num = header(2 * k)
      val off = first + header(2 * k + 1)
      val end = if (k + 1 < n) first + header(2 * k + 3) else data.length
      num -> data.substring(off, math.min(end, data.length))
    }
  }

  /** A /Subtype /Form XObject ready to tokenize: decoded content, its font
    * map, and its own nested forms. Drawn with the identity matrix (the
    * overwhelmingly common case; full CTM composition is out of subset —
    * run ordering is by position, which identity preserves).
    */
  final case class XObjForm(content: String, fonts: Map[String, FontDecoder],
                            forms: Map[String, XObjForm])

  /** Resolve the /XObject entries of a resources dict into tokenizable
    * forms (non-Form XObjects — images — are skipped; `Do` on them is a
    * no-op for text). Depth-capped: forms may nest, real files do.
    */
  private def xobjForms(objs: mutable.Map[Int, PdfObj], resources: Option[String],
                        dec: Option[PdfCrypt.Decryptor], depth: Int): Map[String, XObjForm] = {
    if (depth <= 0) return Map.empty
    resources match {
      case None => Map.empty
      case Some(res) =>
        resolvedDictValue(objs, res, "/XObject") match {
          case None => Map.empty
          case Some(xd) =>
            val m = FontEntryRx.matcher(xd)
            val out = Map.newBuilder[String, XObjForm]
            while (m.find()) {
              objs.get(m.group(2).toInt).foreach { o =>
                if (nameMatches(o.dict, "/Subtype", "Form") && o.stream.isDefined) {
                  try {
                    val content = new String(decodedStream(o, dec), Latin1)
                    // a form's own /Resources wins; else the caller's scope
                    val formRes = resolvedDictValue(objs, o.dict, "/Resources").orElse(resources)
                    out += m.group(1) -> XObjForm(content,
                      fontDecoders(objs, formRes, dec),
                      xobjForms(objs, formRes, dec, depth - 1))
                  } catch { case _: Exception => () } // damaged form: skip, keep the page
                }
              }
            }
            out.result()
        }
    }
  }

  // ---------------------------------------------------------- page assembly
  private def buildPages(doc: DocObjs, dec: Option[PdfCrypt.Decryptor]): Vector[PdfPage] = {
    val objs = doc.objs
    val rootNum = doc.trailers.iterator.flatMap(t => refValue(t, "/Root")).nextOption()
      .orElse(objs.collectFirst { case (n, o) if nameMatches(o.dict, "/Type", "Catalog") => n })
    // tolerate a missing catalog if a /Type /Pages root exists (repair path)
    val pagesNum = rootNum.flatMap(n => objs.get(n)).flatMap(o => refValue(o.dict, "/Pages"))
      .orElse(objs.collectFirst {
        case (n, o) if nameMatches(o.dict, "/Type", "Pages") && o.dict.contains("/Kids") => n
      })
      .getOrElse(throw new java.io.IOException("no /Pages"))

    val leaves = ArrayBuffer.empty[(String, Vector[Double], Option[String], Int)]
    def walk(num: Int, mb: Option[Vector[Double]], res: Option[String],
             rot: Int, depth: Int): Unit = {
      if (depth > 64) throw new java.io.IOException("page tree too deep")
      val d = objs.getOrElse(num, throw new java.io.IOException(s"missing page obj $num")).dict
      // /MediaBox, /Resources, and /Rotate inherit down the page tree
      // (ISO 32000-1 §7.7.3.4)
      val mb2 = if (d.contains("/MediaBox")) Some(extractNums(d, "/MediaBox", 4)) else mb
      val res2 = resolvedDictValue(objs, d, "/Resources").orElse(res)
      val rot2 = extractSignedInt(d, "/Rotate").map(r => ((r % 360) + 360) % 360).getOrElse(rot)
      if (d.contains("/Kids")) refArray(d, "/Kids").foreach(walk(_, mb2, res2, rot2, depth + 1))
      else leaves += ((d, mb2.getOrElse(Vector(0.0, 0.0, 0.0, 0.0)), res2, rot2))
    }
    walk(pagesNum, None, None, 0, 0)

    // pages overwhelmingly share one /Resources dict — build each font and
    // form map once
    val fontCache = mutable.Map.empty[String, Map[String, FontDecoder]]
    val formCache = mutable.Map.empty[String, Map[String, XObjForm]]
    leaves.toVector.map { case (pd, mb, res, rot) =>
      val contents = contentRefs(pd)
      if (contents.isEmpty) throw new java.io.IOException("page without /Contents")
      val parts = contents.map { n =>
        decodedStream(objs.getOrElse(n, throw new java.io.IOException(s"missing content stream $n")), dec)
      }
      // multiple /Contents streams concatenate with an implied separator
      val data =
        if (parts.length == 1) parts.head
        else {
          val b = new java.io.ByteArrayOutputStream()
          parts.foreach { p => b.write(p); b.write('\n') }
          b.toByteArray
        }
      val fonts = res match {
        case Some(r) => fontCache.getOrElseUpdate(r, fontDecoders(objs, res, dec))
        case None    => Map.empty[String, FontDecoder]
      }
      val forms = res match {
        case Some(r) => formCache.getOrElseUpdate(r, xobjForms(objs, res, dec, depth = 4))
        case None    => Map.empty[String, XObjForm]
      }
      val (runs0, segs0) = tokenizeContent(new String(data, Latin1), fonts, forms)
      // /Rotate: reading order is the DISPLAYED order — map user-space
      // coordinates into the rotated view so (y desc, x asc) layout
      // ordering matches what a reader sees (pdfplumber does the same
      // via its page transform). 90° steps only, per spec.
      val w = mb(2) - mb(0); val h = mb(3) - mb(1)
      def rx(x: Double, y: Double): (Double, Double) = rot match {
        case 90  => (y, w - x)
        case 180 => (w - x, h - y)
        case 270 => (h - y, x)
        case _   => (x, y)
      }
      val runs = if (rot == 0) runs0 else runs0.map { r =>
        val (x2, y2) = rx(r.x, r.y); TextRun(x2, y2, r.text)
      }
      val segs = if (rot == 0) segs0 else segs0.map { sg =>
        val (ax, ay) = rx(sg.x1, sg.y1); val (bx, by) = rx(sg.x2, sg.y2)
        Seg(ax, ay, bx, by)
      }
      val (pw, ph) = if (rot == 90 || rot == 270) (h, w) else (w, h)
      PdfPage(pw, ph, runs, segs)
    }
  }

  /** /Contents: single indirect ref or an array of refs. */
  private def contentRefs(dict: String): Vector[Int] = {
    val idx = dict.indexOf("/Contents")
    if (idx < 0) return Vector.empty
    var i = skipWs(dict, idx + "/Contents".length)
    if (i < dict.length && dict.charAt(i) == '[') {
      val close = dict.indexOf(']', i)
      if (close < 0) return Vector.empty
      refsIn(dict.substring(i + 1, close))
    } else refValue(dict.substring(idx, math.min(idx + 64, dict.length)), "/Contents").toVector
  }

  // ------------------------------------------------------------- dict utils
  private def skipWs(s: String, from: Int): Int = {
    var i = from
    while (i < s.length && (s.charAt(i).isWhitespace || s.charAt(i) == 0)) i += 1
    i
  }

  private def readInt(s: String, from: Int): (Int, Int) = {
    var i = skipWs(s, from)
    val start = i
    while (i < s.length && s.charAt(i).isDigit) i += 1
    if (i == start) throw new java.io.IOException(s"expected integer at $from")
    (s.substring(start, i).toInt, i)
  }

  /** Balanced `<< … >>` extraction, skipping literal and hex strings so a
    * `>>` inside a string cannot close the dict early. Returns (dict text
    * including delimiters, index after the closing `>>`).
    */
  private def balancedDict(s: String, start: Int): (String, Int) = {
    if (!s.startsWith("<<", start)) throw new java.io.IOException(s"no dict at $start")
    var i = start + 2
    var depth = 1
    while (i < s.length && depth > 0) {
      val c = s.charAt(i)
      if (c == '<' && i + 1 < s.length && s.charAt(i + 1) == '<') { depth += 1; i += 2 }
      else if (c == '>' && i + 1 < s.length && s.charAt(i + 1) == '>') { depth -= 1; i += 2 }
      else if (c == '(') { // literal string: skip with escape handling
        var d = 1; i += 1
        while (i < s.length && d > 0) {
          val cc = s.charAt(i)
          if (cc == '\\') i += 2
          else { if (cc == '(') d += 1 else if (cc == ')') d -= 1; i += 1 }
        }
      } else if (c == '<') { // hex string
        i += 1
        while (i < s.length && s.charAt(i) != '>') i += 1
        i += 1
      } else i += 1
    }
    if (depth != 0) throw new java.io.IOException("unterminated dict")
    (s.substring(start, i), i)
  }

  private def extractInt(dict: String, key: String): Option[Int] = {
    val p = cachedPattern("I" + key,
      java.util.regex.Pattern.compile(java.util.regex.Pattern.quote(key) + """\s+(\d+)(?!\s+\d+\s+R)"""))
    val m = p.matcher(dict)
    if (m.find()) Some(m.group(1).toInt) else None
  }

  /** `key N G R` → Some(N). */
  private def refValue(dict: String, key: String): Option[Int] = {
    val p = cachedPattern("R" + key,
      java.util.regex.Pattern.compile(java.util.regex.Pattern.quote(key) + """\s+(\d+)\s+(\d+)\s+R\b"""))
    val m = p.matcher(dict)
    if (m.find()) Some(m.group(1).toInt) else None
  }

  /** `/Type /Name` check tolerating `/Type/Name` spacing. */
  private def nameMatches(dict: String, key: String, name: String): Boolean = {
    val p = cachedPattern("N" + key + name,
      java.util.regex.Pattern.compile(java.util.regex.Pattern.quote(key) + """\s*/""" +
        java.util.regex.Pattern.quote(name) + """(?![A-Za-z0-9])"""))
    p.matcher(dict).find()
  }

  /** All `N G R` refs in a flat region. */
  private def refsIn(s: String): Vector[Int] = {
    val m = RefRx.matcher(s)
    val out = Vector.newBuilder[Int]
    while (m.find()) out += m.group(1).toInt
    out.result()
  }

  private def refArray(dict: String, key: String): Vector[Int] = {
    val idx = dict.indexOf(key)
    if (idx < 0) return Vector.empty
    val open = dict.indexOf('[', idx)
    val close = dict.indexOf(']', open)
    if (open < 0 || close < 0) return Vector.empty
    refsIn(dict.substring(open + 1, close))
  }

  /** Inline `key << … >>` value, if present. */
  private def dictValue(dict: String, key: String): Option[String] = {
    val idx = dict.indexOf(key)
    if (idx < 0) return None
    val i = skipWs(dict, idx + key.length)
    if (dict.startsWith("<<", i)) Some(balancedDict(dict, i)._1) else None
  }

  /** `key` value as a dict, whether written inline or as an indirect ref. */
  private def resolvedDictValue(objs: mutable.Map[Int, PdfObj], dict: String,
                                key: String): Option[String] = {
    val idx = dict.indexOf(key)
    if (idx < 0) return None
    val i = skipWs(dict, idx + key.length)
    if (dict.startsWith("<<", i)) Some(balancedDict(dict, i)._1)
    else refValue(dict.substring(idx, math.min(idx + 64, dict.length)), key)
      .flatMap(objs.get).map(_.dict)
  }

  private def extractNums(dict: String, key: String, n: Int): Vector[Double] = {
    val idx = dict.indexOf(key)
    if (idx < 0) return Vector.fill(n)(0.0)
    val close = dict.indexOf(']', idx)
    val section = dict.substring(dict.indexOf('[', idx) + 1, close)
    section.trim.split("\\s+").take(n).map(_.toDouble).toVector
  }

  private def extractNumArray(dict: String, key: String): Vector[Long] = {
    val idx = dict.indexOf(key)
    if (idx < 0) return Vector.empty
    val open = dict.indexOf('[', idx)
    val close = dict.indexOf(']', open)
    if (open < 0 || close < 0) return Vector.empty
    dict.substring(open + 1, close).trim.split("\\s+").filter(_.nonEmpty)
      .map(_.toLong).toVector
  }

  // ------------------------------------------------------------ font decode
  /** Byte-string → text decode for one font. Raw strings carry one char per
    * BYTE (latin-1 framing from the tokenizer).
    */
  sealed trait FontDecoder { def decode(raw: String): String }

  /** Fixture/default fonts (no /Encoding differences, no /ToUnicode): the
    * writer stores UTF-8 bytes directly in strings.
    */
  case object Utf8Decoder extends FontDecoder {
    def decode(raw: String): String = {
      var ascii = true
      var i = 0
      while (ascii && i < raw.length) { if (raw.charAt(i) >= 0x80) ascii = false; i += 1 }
      if (ascii) raw
      else new String(latin1Bytes(raw), Utf8)
    }
  }

  /** Simple (1-byte-code) font: 256-entry code → text table. */
  final class SimpleDecoder(table: Array[String]) extends FontDecoder {
    def decode(raw: String): String = {
      val sb = new java.lang.StringBuilder(raw.length)
      var i = 0
      while (i < raw.length) { sb.append(table(raw.charAt(i) & 0xff)); i += 1 }
      sb.toString
    }
  }

  /** Type0/CID font with 2-byte codes mapped through /ToUnicode. */
  final class CidDecoder(map: Map[Int, String]) extends FontDecoder {
    def decode(raw: String): String = {
      val sb = new java.lang.StringBuilder(raw.length / 2)
      var i = 0
      while (i + 1 < raw.length) {
        val code = ((raw.charAt(i) & 0xff) << 8) | (raw.charAt(i + 1) & 0xff)
        sb.append(map.getOrElse(code, "�"))
        i += 2
      }
      sb.toString
    }
  }

  /** Font resource name → decoder, from a page's /Resources /Font dict. */
  private def fontDecoders(objs: mutable.Map[Int, PdfObj], resources: Option[String],
                           dec: Option[PdfCrypt.Decryptor]): Map[String, FontDecoder] =
    resources match {
      case None => Map.empty
      case Some(res) =>
        resolvedDictValue(objs, res, "/Font") match {
          case None => Map.empty
          case Some(fd) =>
            val m = FontEntryRx.matcher(fd)
            val out = Map.newBuilder[String, FontDecoder]
            while (m.find()) {
              objs.get(m.group(2).toInt).foreach { fo =>
                out += m.group(1) -> fontDecoder(objs, fo.dict, dec)
              }
            }
            out.result()
        }
    }

  private def fontDecoder(objs: mutable.Map[Int, PdfObj], fd: String,
                          dec: Option[PdfCrypt.Decryptor]): FontDecoder = {
    val toUni: Option[Map[Int, String]] =
      refValue(fd, "/ToUnicode").flatMap(objs.get).flatMap { o =>
        try Some(parseToUnicode(o, dec)) catch { case _: Exception => None }
      }
    if (nameMatches(fd, "/Subtype", "Type0"))
      toUni.map(new CidDecoder(_)).getOrElse(Utf8Decoder)
    else {
      val diffs: Vector[(Int, String)] = resolvedDictValue(objs, fd, "/Encoding") match {
        case Some(enc) if enc.contains("/Differences") => parseDifferences(enc)
        case _ => Vector.empty
      }
      if (diffs.isEmpty && toUni.isEmpty) Utf8Decoder
      else {
        val table = winAnsiBase()
        diffs.foreach { case (code, s) => if (code >= 0 && code < 256) table(code) = s }
        toUni.foreach(_.foreach { case (code, s) => if (code >= 0 && code < 256) table(code) = s })
        new SimpleDecoder(table)
      }
    }
  }

  /** /Differences array: numbers set the next code, names assign glyphs. */
  private def parseDifferences(enc: String): Vector[(Int, String)] = {
    val idx = enc.indexOf("/Differences")
    val open = enc.indexOf('[', idx)
    val close = enc.indexOf(']', open)
    if (open < 0 || close < 0) return Vector.empty
    val body = enc.substring(open + 1, close)
    val tok = java.util.regex.Pattern.compile("""(\d+)|/([A-Za-z0-9.]+)""")
    val m = tok.matcher(body)
    var code = 0
    val out = Vector.newBuilder[(Int, String)]
    while (m.find()) {
      if (m.group(1) != null) code = m.group(1).toInt
      else { out += code -> glyphText(m.group(2)); code += 1 }
    }
    out.result()
  }

  /** Glyph name → text: uniXXXX / uXXXX[XX] forms, then the AGL subset. */
  private def glyphText(name: String): String =
    if (name.length >= 7 && name.startsWith("uni") &&
        name.substring(3).forall(c => Character.digit(c, 16) >= 0)) {
      // uniXXXX[XXXX…]: concatenated UTF-16BE units
      name.substring(3).grouped(4).map(h => Integer.parseInt(h, 16).toChar).mkString
    } else if (name.length >= 5 && name.length <= 7 && name.startsWith("u") &&
               name.substring(1).forall(c => Character.digit(c, 16) >= 0)) {
      new String(Character.toChars(Integer.parseInt(name.substring(1), 16)))
    } else agl.getOrElse(name, "�")

  /** Adobe Glyph List subset: ASCII names, Latin-1 accents, common
    * typography. Identity letters/digits are generated.
    */
  private lazy val agl: Map[String, String] = {
    val b = Map.newBuilder[String, String]
    (('A' to 'Z') ++ ('a' to 'z')).foreach(c => b += c.toString -> c.toString)
    b ++= Seq(
      "space" -> " ", "exclam" -> "!", "quotedbl" -> "\"", "numbersign" -> "#",
      "dollar" -> "$", "percent" -> "%", "ampersand" -> "&", "quotesingle" -> "'",
      "parenleft" -> "(", "parenright" -> ")", "asterisk" -> "*", "plus" -> "+",
      "comma" -> ",", "hyphen" -> "-", "period" -> ".", "slash" -> "/",
      "zero" -> "0", "one" -> "1", "two" -> "2", "three" -> "3", "four" -> "4",
      "five" -> "5", "six" -> "6", "seven" -> "7", "eight" -> "8", "nine" -> "9",
      "colon" -> ":", "semicolon" -> ";", "less" -> "<", "equal" -> "=",
      "greater" -> ">", "question" -> "?", "at" -> "@", "bracketleft" -> "[",
      "backslash" -> "\\", "bracketright" -> "]", "asciicircum" -> "^",
      "underscore" -> "_", "grave" -> "`", "braceleft" -> "{", "bar" -> "|",
      "braceright" -> "}", "asciitilde" -> "~",
      "bullet" -> "•", "endash" -> "–", "emdash" -> "—",
      "quoteleft" -> "‘", "quoteright" -> "’",
      "quotedblleft" -> "“", "quotedblright" -> "”",
      "quotesinglbase" -> "‚", "quotedblbase" -> "„",
      "ellipsis" -> "…", "Euro" -> "€", "degree" -> "°",
      "copyright" -> "©", "registered" -> "®", "trademark" -> "™",
      "section" -> "§", "paragraph" -> "¶", "periodcentered" -> "·",
      "dagger" -> "†", "daggerdbl" -> "‡", "perthousand" -> "‰",
      "guilsinglleft" -> "‹", "guilsinglright" -> "›",
      "guillemotleft" -> "«", "guillemotright" -> "»",
      "florin" -> "ƒ", "circumflex" -> "ˆ", "tilde" -> "˜",
      "OE" -> "Œ", "oe" -> "œ", "Scaron" -> "Š", "scaron" -> "š",
      "Ydieresis" -> "Ÿ", "Zcaron" -> "Ž", "zcaron" -> "ž",
      "dotlessi" -> "ı", "minus" -> "−", "fraction" -> "⁄",
      "sterling" -> "£", "yen" -> "¥", "cent" -> "¢",
      "currency" -> "¤", "brokenbar" -> "¦", "exclamdown" -> "¡",
      "questiondown" -> "¿", "multiply" -> "×", "divide" -> "÷",
      "plusminus" -> "±", "mu" -> "µ", "onequarter" -> "¼",
      "onehalf" -> "½", "threequarters" -> "¾",
      "eacute" -> "é", "egrave" -> "è", "ecircumflex" -> "ê",
      "agrave" -> "à", "acircumflex" -> "â", "ccedilla" -> "ç",
      "adieresis" -> "ä", "odieresis" -> "ö", "udieresis" -> "ü",
      "idieresis" -> "ï", "edieresis" -> "ë", "ntilde" -> "ñ",
      "Adieresis" -> "Ä", "Odieresis" -> "Ö", "Udieresis" -> "Ü",
      "germandbls" -> "ß", "aring" -> "å", "Aring" -> "Å",
      "oslash" -> "ø", "Oslash" -> "Ø", "ae" -> "æ", "AE" -> "Æ",
      "eth" -> "ð", "thorn" -> "þ", "yacute" -> "ý",
      "oacute" -> "ó", "iacute" -> "í", "uacute" -> "ú",
      "aacute" -> "á", "ograve" -> "ò", "igrave" -> "ì",
      "ugrave" -> "ù", "otilde" -> "õ", "atilde" -> "ã"
    )
    b.result()
  }

  /** WinAnsiEncoding (cp1252) base table: ASCII identity, cp1252 specials
    * in 0x80-0x9F, Latin-1 identity above. Unmapped codes → U+FFFD.
    */
  private def winAnsiBase(): Array[String] = {
    val t = Array.fill[String](256)("�")
    // whitespace codes pass through: extracted text preserves tabs/newlines
    Seq(0x09, 0x0A, 0x0D).foreach(c => t(c) = c.toChar.toString)
    (0x20 to 0x7E).foreach(c => t(c) = c.toChar.toString)
    (0xA0 to 0xFF).foreach(c => t(c) = c.toChar.toString)
    val cp1252 = Map(
      0x80 -> "€", 0x82 -> "‚", 0x83 -> "ƒ", 0x84 -> "„",
      0x85 -> "…", 0x86 -> "†", 0x87 -> "‡", 0x88 -> "ˆ",
      0x89 -> "‰", 0x8A -> "Š", 0x8B -> "‹", 0x8C -> "Œ",
      0x8E -> "Ž", 0x91 -> "‘", 0x92 -> "’", 0x93 -> "“",
      0x94 -> "”", 0x95 -> "•", 0x96 -> "–", 0x97 -> "—",
      0x98 -> "˜", 0x99 -> "™", 0x9A -> "š", 0x9B -> "›",
      0x9C -> "œ", 0x9E -> "ž", 0x9F -> "Ÿ")
    cp1252.foreach { case (c, s) => t(c) = s }
    t
  }

  /** /ToUnicode CMap: bfchar pairs and bfrange triples (incl. the array
    * destination form). Codes are big-endian of the source hex bytes;
    * destinations are UTF-16BE unit sequences.
    */
  private[pdf] def parseToUnicode(o: PdfObj,
                                  dec: Option[PdfCrypt.Decryptor] = None): Map[Int, String] = {
    val text = new String(decodedStream(o, dec), Latin1)
    val out = Map.newBuilder[Int, String]
    def hexInt(h: String): Int = Integer.parseInt(h.replaceAll("\\s", ""), 16)
    def hexText(h: String): String =
      h.replaceAll("\\s", "").grouped(4).map(g => Integer.parseInt(g, 16).toChar).mkString
    val charBlocks = java.util.regex.Pattern.compile("(?s)beginbfchar(.*?)endbfchar")
    val pair = java.util.regex.Pattern.compile("<([0-9A-Fa-f\\s]+)>\\s*<([0-9A-Fa-f\\s]+)>")
    var m = charBlocks.matcher(text)
    while (m.find()) {
      val pm = pair.matcher(m.group(1))
      while (pm.find()) out += hexInt(pm.group(1)) -> hexText(pm.group(2))
    }
    val rangeBlocks = java.util.regex.Pattern.compile("(?s)beginbfrange(.*?)endbfrange")
    val triple = java.util.regex.Pattern.compile(
      "<([0-9A-Fa-f\\s]+)>\\s*<([0-9A-Fa-f\\s]+)>\\s*(<([0-9A-Fa-f\\s]+)>|\\[([^\\]]*)\\])")
    m = rangeBlocks.matcher(text)
    while (m.find()) {
      val tm = triple.matcher(m.group(1))
      while (tm.find()) {
        val lo = hexInt(tm.group(1)); val hi = hexInt(tm.group(2))
        if (tm.group(4) != null) {
          val base = tm.group(4).replaceAll("\\s", "")
          val baseVal = hexInt(base)
          (lo to hi).foreach { c =>
            // increment applies to the LAST UTF-16 unit (ISO 32000-1 §9.10.3)
            val v = baseVal + (c - lo)
            val width = math.max(4, base.length)
            out += c -> hexText(("0" * width + v.toHexString).takeRight(width))
          }
        } else {
          val dm = java.util.regex.Pattern.compile("<([0-9A-Fa-f\\s]+)>").matcher(tm.group(5))
          var c = lo
          while (dm.find() && c <= hi) { out += c -> hexText(dm.group(1)); c += 1 }
        }
      }
    }
    out.result()
  }

  // ------------------------------------------------------- content tokenize
  /** Content-stream tokenizer with per-font string decode: operand stack +
    * the text operators (Tf Td TD Tm T* Tj ' " TJ BT ET), the path
    * operators that carry table ruling lines (m l S), literal + hex
    * strings, BI..EI inline-image skip. Strings stay RAW (one char per
    * byte) on the operand stack; the current font's decoder converts at
    * emit time.
    */
  def tokenizeContent(content: String, fonts: Map[String, FontDecoder] = Map.empty,
                      forms: Map[String, XObjForm] = Map.empty): (Vector[TextRun], Vector[Seg]) = {
    val runs = ArrayBuffer.empty[TextRun]
    val segs = ArrayBuffer.empty[Seg]
    var i = 0
    val n = content.length
    val operands = ArrayBuffer.empty[Any] // Double | String (raw) | name String

    var curX = 0.0; var curY = 0.0         // text-line origin
    var leading = 0.0
    var pathX = 0.0; var pathY = 0.0       // current path point (m/l)
    var hasPoint = false
    var decoder: FontDecoder = Utf8Decoder

    def popNums(k: Int): Vector[Double] = {
      val vs = operands.takeRight(k).map {
        case d: Double => d
        case s: String => try s.toDouble catch { case _: Exception => 0.0 }
        case _         => 0.0
      }.toVector
      operands.remove(math.max(0, operands.length - k), math.min(k, operands.length))
      if (vs.length == k) vs else Vector.fill(k)(0.0)
    }

    def emit(raw: String): Unit = runs += TextRun(curX, curY, decoder.decode(raw))

    while (i < n) {
      val c = content.charAt(i)
      if (c.isWhitespace) i += 1
      else if (c == '%') { // comment to EOL
        while (i < n && content.charAt(i) != '\n' && content.charAt(i) != '\r') i += 1
      } else if (c == '(') {
        val (s, next) = readString(content, i)
        operands += s; i = next
      } else if (c == '<' && i + 1 < n && content.charAt(i + 1) == '<') {
        // inline dict (BDC/DP/BI operands): skip balanced
        val (_, next) = balancedDict(content, i)
        i = next
      } else if (c == '<') {
        val (s, next) = readHexString(content, i)
        operands += s; i = next
      } else if (c == '[') {
        // TJ array: strings + kerning numbers
        i += 1
        val sb = new java.lang.StringBuilder
        var done = false
        while (!done && i < n) {
          val cc = content.charAt(i)
          if (cc == ']') { done = true; i += 1 }
          else if (cc == '(') { val (s, next) = readString(content, i); sb.append(s); i = next }
          else if (cc == '<') { val (s, next) = readHexString(content, i); sb.append(s); i = next }
          else i += 1 // kerning numbers don't affect ordering
        }
        operands += sb.toString
      } else if (c == '/') {
        val start = i; i += 1
        while (i < n && !content.charAt(i).isWhitespace && content.charAt(i) != '/' &&
               content.charAt(i) != '(' && content.charAt(i) != '[' &&
               content.charAt(i) != '<' && content.charAt(i) != '>' &&
               content.charAt(i) != ']') i += 1
        operands += content.substring(start, i)
      } else if (c == '-' || c == '+' || c == '.' || c.isDigit) {
        val start = i; i += 1
        while (i < n && (content.charAt(i).isDigit || content.charAt(i) == '.')) i += 1
        val numStr = content.substring(start, i)
        operands += (try numStr.toDouble catch { case _: Exception => 0.0 })
      } else {
        val start = i
        while (i < n && !content.charAt(i).isWhitespace && content.charAt(i) != '(' &&
               content.charAt(i) != '[' && content.charAt(i) != '/' &&
               content.charAt(i) != '<' && content.charAt(i) != ']') i += 1
        val op = content.substring(start, i)
        op match {
          case "BT" => curX = 0; curY = 0; leading = 0; operands.clear()
          case "ET" => operands.clear()
          case "Tf" =>
            // operands: … /Name size — select the page's font decoder
            if (operands.length >= 2) operands(operands.length - 2) match {
              case name: String if name.startsWith("/") =>
                decoder = fonts.getOrElse(name.substring(1), Utf8Decoder)
              case _ => ()
            }
            operands.clear()
          case "Tm" =>
            val v = popNums(6); curX = v(4); curY = v(5); operands.clear()
          case "Td" =>
            val v = popNums(2); curX += v(0); curY += v(1); operands.clear()
          case "TD" =>
            val v = popNums(2); leading = -v(1); curX += v(0); curY += v(1); operands.clear()
          case "TL" =>
            val v = popNums(1); leading = v(0); operands.clear()
          case "T*" => curY -= leading; operands.clear()
          case "Tj" | "'" =>
            if (op == "'") curY -= leading
            operands.lastOption.foreach { case s: String => emit(s); case _ => () }
            operands.clear()
          case "\"" =>
            curY -= leading
            operands.lastOption.foreach { case s: String => emit(s); case _ => () }
            operands.clear()
          case "TJ" =>
            operands.lastOption.foreach { case s: String => emit(s); case _ => () }
            operands.clear()
          case "m" =>
            val v = popNums(2); pathX = v(0); pathY = v(1); hasPoint = true
            operands.clear()
          case "l" =>
            val v = popNums(2)
            if (hasPoint) segs += Seg(pathX, pathY, v(0), v(1))
            pathX = v(0); pathY = v(1); hasPoint = true
            operands.clear()
          case "S" => hasPoint = false; operands.clear()
          case "Do" =>
            // paint an XObject: Form contents tokenize recursively with
            // the form's own fonts/forms (image XObjects are a no-op)
            operands.lastOption match {
              case Some(name: String) if name.startsWith("/") =>
                forms.get(name.substring(1)).foreach { f =>
                  val (r2, s2) = tokenizeContent(f.content, f.fonts, f.forms)
                  runs ++= r2
                  segs ++= s2
                }
              case _ => ()
            }
            operands.clear()
          case "BI" =>
            // inline image: skip binary data through to a delimited EI
            val id = content.indexOf("ID", i)
            if (id < 0) i = n
            else {
              var e = content.indexOf("EI", id + 2)
              while (e > 0 &&
                     !(content.charAt(e - 1).isWhitespace &&
                       (e + 2 >= n || content.charAt(e + 2).isWhitespace)))
                e = content.indexOf("EI", e + 1)
              i = if (e < 0) n else e + 2
            }
            operands.clear()
          case _ => operands.clear() // unknown operator: subset tolerates and drops
        }
      }
    }
    (runs.toVector, segs.toVector)
  }

  // ----------------------------------------------------------------- tables
  /** Reconstruct ruled-grid tables from a page's path segments and split
    * the text runs into (tables, non-table runs) — the engine-side analog
    * of pdfplumber's `extract_tables(vertical/horizontal_strategy =
    * "lines_strict")` (reference pdf_text_extractor.py:184-192): a table
    * exists only where actual ruling lines form a grid; cells are the
    * line-bounded rectangles; a run belongs to the cell containing its
    * origin. Tables are returned top-to-bottom, left-to-right; cells with
    * no run are None (the reference's Optional[str] cell shape).
    */
  def splitTables(page: PdfPage): (Vector[Seq[Seq[Option[String]]]], Vector[TextRun]) = {
    if (page.segs.isEmpty) return (Vector.empty, page.runs)
    val eps = 0.5
    val segs = page.segs
    // cluster segments into grids: union-find on (expanded) bbox overlap
    val n = segs.length
    val parent = Array.tabulate(n)(identity)
    def find(a: Int): Int = { var r = a; while (parent(r) != r) r = parent(r); parent(a) = r; r }
    def union(a: Int, b: Int): Unit = { val ra = find(a); val rb = find(b); if (ra != rb) parent(ra) = rb }
    def bbox(s: Seg) = (math.min(s.x1, s.x2) - 3, math.min(s.y1, s.y2) - 3,
      math.max(s.x1, s.x2) + 3, math.max(s.y1, s.y2) + 3)
    for (a <- 0 until n; b <- a + 1 until n) {
      val (ax1, ay1, ax2, ay2) = bbox(segs(a)); val (bx1, by1, bx2, by2) = bbox(segs(b))
      if (ax1 <= bx2 && bx1 <= ax2 && ay1 <= by2 && by1 <= ay2) union(a, b)
    }
    val clusters = segs.indices.groupBy(find).values.toVector
    val grids = clusters.flatMap { idxs =>
      val cl = idxs.map(segs)
      val xs = cl.filter(s => math.abs(s.x1 - s.x2) < eps).map(_.x1)
        .sorted.foldLeft(Vector.empty[Double])((acc, x) =>
          if (acc.nonEmpty && x - acc.last < eps) acc else acc :+ x)
      val ys = cl.filter(s => math.abs(s.y1 - s.y2) < eps).map(_.y1)
        .sorted.foldLeft(Vector.empty[Double])((acc, y) =>
          if (acc.nonEmpty && y - acc.last < eps) acc else acc :+ y)
      if (xs.length >= 2 && ys.length >= 2) Some((xs, ys.reverse)) else None
    }.sortBy { case (xs, ysDesc) => (-ysDesc.head, xs.head) }
    if (grids.isEmpty) return (Vector.empty, page.runs)

    val used = scala.collection.mutable.BitSet.empty
    val tables = grids.map { case (xs, ysDesc) =>
      val cols = xs.length - 1
      val rows = ysDesc.length - 1
      val cells = Array.fill(rows, cols)(Vector.empty[TextRun])
      page.runs.zipWithIndex.foreach { case (r, ri) =>
        if (!used(ri) &&
            r.x >= xs.head && r.x < xs.last && r.y > ysDesc.last && r.y <= ysDesc.head) {
          val j = xs.lastIndexWhere(_ <= r.x) min (cols - 1)
          val i = ysDesc.indexWhere(_ < r.y) match {
            case -1 => rows - 1
            case k  => (k - 1) max 0
          }
          cells(i)(j) = cells(i)(j) :+ r
          used += ri
        }
      }
      (0 until rows).map { i =>
        (0 until cols).map { j =>
          val rs = cells(i)(j)
          if (rs.isEmpty) None
          else Some(rs.sortBy(r => (-r.y, r.x)).map(_.text).mkString("\n"))
        }: Seq[Option[String]]
      }: Seq[Seq[Option[String]]]
    }
    val rest = page.runs.zipWithIndex.collect { case (r, ri) if !used(ri) => r }
    (tables, rest)
  }

  /** Literal string: escapes (named, octal, line continuation), nesting.
    * Returns the RAW byte string (one char per byte).
    */
  private def readString(content: String, start: Int): (String, Int) = {
    val sb = new java.lang.StringBuilder
    var i = start + 1
    var depth = 1
    val n = content.length
    while (i < n && depth > 0) {
      val c = content.charAt(i)
      if (c == '\\' && i + 1 < n) {
        content.charAt(i + 1) match {
          case 'n'  => sb.append('\n'); i += 2
          case 'r'  => sb.append('\r'); i += 2
          case 't'  => sb.append('\t'); i += 2
          case 'b'  => sb.append('\b'); i += 2
          case 'f'  => sb.append('\f'); i += 2
          case '\\' => sb.append('\\'); i += 2
          case '('  => sb.append('('); i += 2
          case ')'  => sb.append(')'); i += 2
          case '\n' => i += 2 // line continuation: both chars vanish
          case '\r' =>
            i += 2
            if (i < n && content.charAt(i) == '\n') i += 1
          case d if d >= '0' && d <= '7' =>
            var v = 0; var k = 0; i += 1
            while (k < 3 && i < n && content.charAt(i) >= '0' && content.charAt(i) <= '7') {
              v = v * 8 + (content.charAt(i) - '0'); i += 1; k += 1
            }
            sb.append((v & 0xff).toChar)
          case other => sb.append(other); i += 2
        }
      } else if (c == '(') { depth += 1; sb.append(c); i += 1 }
      else if (c == ')') { depth -= 1; if (depth > 0) sb.append(c); i += 1 }
      else { sb.append(c); i += 1 }
    }
    (sb.toString, i)
  }

  /** Hex string `<…>`: whitespace ignored, odd digit count zero-padded.
    * Returns the RAW byte string.
    */
  private def readHexString(content: String, start: Int): (String, Int) = {
    val sb = new java.lang.StringBuilder
    var i = start + 1
    val n = content.length
    var hi = -1
    while (i < n && content.charAt(i) != '>') {
      val c = content.charAt(i)
      val d = Character.digit(c, 16)
      if (d >= 0) {
        if (hi < 0) hi = d
        else { sb.append(((hi << 4) | d).toChar); hi = -1 }
      }
      i += 1
    }
    if (hi >= 0) sb.append((hi << 4).toChar)
    (sb.toString, math.min(i + 1, n))
  }
}

/** Text-run ordering → page text: columns split by x-gap, runs ordered
  * (y desc, x asc) within a column, columns left→right, lines joined "\n".
  */
object Layout {
  import Pdf.TextRun

  private val columnGap = 150.0

  def pageText(runs: Vector[TextRun]): String = {
    if (runs.isEmpty) return ""
    // cluster x origins into columns
    val xs = runs.map(_.x).distinct.sorted
    val colStarts = ArrayBuffer(xs.head)
    xs.tail.foreach { x => if (x - colStarts.last > columnGap) colStarts += x }
    def colOf(x: Double): Int = {
      var ci = 0
      colStarts.zipWithIndex.foreach { case (cs, k) => if (x >= cs - 1e-9) ci = k }
      ci
    }
    val byCol = runs.groupBy(r => colOf(r.x)).toVector.sortBy(_._1)
    byCol.map { case (_, colRuns) =>
      colRuns.sortBy(r => (-r.y, r.x)).map(_.text).mkString("\n")
    }.mkString("\n")
  }
}
