package graft.pdf

import graft.media.PngFilter
import org.scalatest.funsuite.AnyFunSuite

import java.nio.charset.StandardCharsets

/** The PDF 1.5+ structural surface (round 5): the same logical document in
  * all four physical framings must parse identically — classic xref table,
  * cross-reference stream (plain and PNG-predicted), and /ObjStm-packed
  * dict objects. Plus: /Prev-chained incremental updates where the xref
  * decides liveness (not file order), the scan-repair fallback on damaged
  * xrefs, /Contents arrays, nested page trees with attribute inheritance,
  * indirect /Length, hex strings, octal escapes, and /Encrypt detection.
  */
class PdfFramingSpec extends AnyFunSuite {

  private val pageA = Pdf.PageSpec(Seq(
    (50.0, 760.0, "Framing fixture line one"),
    (50.0, 748.0, "line two with (parens) and \\ backslash"),
    (50.0, 736.0, "unicode: déjà vu — ß and 中文")))
  private val pageB = Pdf.PageSpec(
    Seq((50.0, 760.0, "left col"), (330.0, 760.0, "right col")),
    tables = Seq(Seq(Seq(Some("h1"), Some("h2")), Seq(Some("a"), None))))
  private val docPages = Seq(pageA, pageB)

  private def textOf(pages: Vector[Pdf.PdfPage]): Vector[String] =
    pages.map(p => Layout.pageText(p.runs))

  test("all four framings parse identically (flate on and off)") {
    for (flate <- Seq(false, true)) {
      val classic = Pdf.parse(Pdf.writePages(docPages, flate))
      assert(classic.length == 2 && textOf(classic).head.contains("déjà vu"))
      for (framing <- Seq(Pdf.Framing.XrefStream, Pdf.Framing.XrefStreamPred, Pdf.Framing.ObjStm)) {
        val bytes = Pdf.writePages(docPages, flate, framing = framing)
        val got = Pdf.parse(bytes)
        assert(got == classic, s"framing=$framing flate=$flate diverged from classic")
      }
    }
  }

  test("xref-stream framings are structurally what they claim") {
    val xs = new String(Pdf.writePages(docPages, flate = true,
      framing = Pdf.Framing.XrefStream), StandardCharsets.ISO_8859_1)
    assert(xs.startsWith("%PDF-1.5"))
    assert(xs.contains("/Type /XRef") && !xs.contains("trailer"))
    val pred = new String(Pdf.writePages(docPages, flate = true,
      framing = Pdf.Framing.XrefStreamPred), StandardCharsets.ISO_8859_1)
    assert(pred.contains("/Predictor 12"))
    val ostm = new String(Pdf.writePages(docPages, flate = true,
      framing = Pdf.Framing.ObjStm), StandardCharsets.ISO_8859_1)
    assert(ostm.contains("/Type /ObjStm"))
    // the dict objects really are compressed away: no top-level catalog
    assert(!ostm.contains("1 0 obj\n<< /Type /Catalog"))
  }

  test("scan-repair fallback: corrupted startxref still parses every framing") {
    for (framing <- Seq(Pdf.Framing.Classic, Pdf.Framing.XrefStream, Pdf.Framing.ObjStm)) {
      val bytes = Pdf.writePages(docPages, flate = true, framing = framing)
      val s = new String(bytes, StandardCharsets.ISO_8859_1)
      val broken = s.replaceAll("""startxref\n\d+""", "startxref\n999999999")
        .getBytes(StandardCharsets.ISO_8859_1)
      val got = Pdf.parse(broken)
      assert(textOf(got) == textOf(Pdf.parse(bytes)), s"repair path diverged for $framing")
    }
  }

  test("incremental update: the xref chain, not file order, decides liveness") {
    // Build a classic doc, then append a REPLACEMENT content stream for page
    // 1 plus a new xref section with /Prev → parse must see the new text.
    val base = Pdf.writePages(Seq(pageA), flate = false)
    val baseStr = new String(base, StandardCharsets.ISO_8859_1)
    val oldStart = baseStr.lastIndexOf("startxref")
    val oldXref = baseStr.substring(oldStart + 10, baseStr.indexOf("\n", oldStart + 10)).trim.toInt
    val newContent = "BT /F1 10 Tf 1 0 0 1 50 760 Tm (UPDATED TEXT v2) Tj ET\n"
    val sb = new StringBuilder(baseStr)
    val updOff = sb.length
    sb ++= s"5 0 obj\n<< /Length ${newContent.length} >>\nstream\n$newContent\nendstream\nendobj\n"
    val xrefOff = sb.length
    sb ++= f"xref\n5 1\n$updOff%010d 00000 n \n"
    sb ++= s"trailer\n<< /Size 6 /Root 1 0 R /Prev $oldXref >>\nstartxref\n$xrefOff\n%%EOF\n"
    val updated = sb.toString.getBytes(StandardCharsets.ISO_8859_1)
    assert(textOf(Pdf.parse(updated)) == Vector("UPDATED TEXT v2"))

    // Now the adversarial direction: append a STALE object copy at the end
    // of the file but do NOT reference it from any xref section. File-order
    // scanning would pick the stale copy; the xref chain must not.
    val sb2 = new StringBuilder(sb.toString)
    sb2 ++= "5 0 obj\n<< /Length 52 >>\nstream\nBT /F1 10 Tf 1 0 0 1 50 760 Tm (STALE GHOST) Tj ET\n\nendstream\nendobj\n"
    val ghosted = sb2.toString.getBytes(StandardCharsets.ISO_8859_1)
    assert(textOf(Pdf.parse(ghosted)) == Vector("UPDATED TEXT v2"),
      "a trailing unreferenced object displaced the xref-live one")
  }

  test("/Encrypt in the trailer raises the distinct encrypted error") {
    val bytes = Pdf.writePages(Seq(pageA), flate = false)
    val s = new String(bytes, StandardCharsets.ISO_8859_1)
    val enc = s.replace("/Root 1 0 R", "/Root 1 0 R /Encrypt 99 0 R")
      .getBytes(StandardCharsets.ISO_8859_1)
    intercept[Pdf.EncryptedPdfException](Pdf.parse(enc))
    // and through an xref-stream trailer dict too
    val xs = new String(Pdf.writePages(Seq(pageA), flate = false,
      framing = Pdf.Framing.XrefStream), StandardCharsets.ISO_8859_1)
    val enc2 = xs.replace("/Root 1 0 R", "/Root 1 0 R /Encrypt 99 0 R")
    // /Length of the xref stream is unchanged by this dict edit, so the
    // startxref offset shift must be repaired for the strict path; the scan
    // fallback handles it regardless — both must end in EncryptedPdfException
    intercept[Pdf.EncryptedPdfException](
      Pdf.parse(enc2.getBytes(StandardCharsets.ISO_8859_1)))
  }

  test("content-stream surface: hex strings, octal escapes, comments, inline images") {
    val content = """BT /F1 10 Tf 1 0 0 1 50 760 Tm <48656C6C6F20686578> Tj ET
      |% a comment line
      |BT /F1 10 Tf 1 0 0 1 50 748 Tm (octal \101\102\103 done) Tj ET
      |BI /W 2 /H 2 /CS /G ID ab)(cd EI
      |BT /F1 10 Tf 1 0 0 1 50 736 Tm (after image) Tj ET
      |""".stripMargin
    val (runs, _) = Pdf.tokenizeContent(content)
    assert(runs.map(_.text) == Vector("Hello hex", "octal ABC done", "after image"))
  }

  test("indirect /Length, /Contents array, nested page tree with inheritance") {
    // hand-built: page tree of two /Pages levels; leaf inherits MediaBox +
    // Resources from the ROOT node; /Contents is a 2-element array; the
    // content stream /Length is an indirect reference to object 9.
    val c1 = "BT /F1 10 Tf 1 0 0 1 50 760 Tm (part one) Tj ET\n"
    val c2 = "BT /F1 10 Tf 1 0 0 1 50 748 Tm (part two) Tj ET\n"
    val objs = Vector(
      "1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n",
      "2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 /MediaBox [0 0 612 792] " +
        "/Resources << /Font << /F1 6 0 R >> >> >>\nendobj\n",
      "3 0 obj\n<< /Type /Pages /Kids [4 0 R] /Count 1 >>\nendobj\n",
      "4 0 obj\n<< /Type /Page /Parent 3 0 R /Contents [5 0 R 7 0 R] >>\nendobj\n",
      s"5 0 obj\n<< /Length 9 0 R >>\nstream\n$c1\nendstream\nendobj\n",
      "6 0 obj\n<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>\nendobj\n",
      s"7 0 obj\n<< /Length ${c2.length} >>\nstream\n$c2\nendstream\nendobj\n",
      s"9 0 obj\n${c1.length}\nendobj\n")
    val body = new StringBuilder("%PDF-1.4\n")
    val offsets = objs.map { o => val off = body.length; body ++= o; off }
    val xref = body.length
    body ++= s"xref\n0 1\n0000000000 65535 f \n"
    // non-contiguous object numbers → per-object subsections
    objs.zip(offsets).foreach { case (o, off) =>
      val num = o.takeWhile(_.isDigit)
      body ++= s"$num 1\n" + f"$off%010d 00000 n \n"
    }
    body ++= s"trailer\n<< /Size 10 /Root 1 0 R >>\nstartxref\n$xref\n%%EOF\n"
    val pdf = body.toString.getBytes(StandardCharsets.ISO_8859_1)
    val pages = Pdf.parse(pdf)
    assert(pages.length == 1)
    assert(pages.head.width == 612.0 && pages.head.height == 792.0, "inherited MediaBox")
    assert(Layout.pageText(pages.head.runs) == "part one\npart two")
  }

  test("stream filter chains: ASCIIHex, ASCII85+Flate, RunLength") {
    def deflate(d: Array[Byte]): Array[Byte] = {
      val df = new java.util.zip.Deflater(); df.setInput(d); df.finish()
      val buf = new Array[Byte](d.length * 2 + 64)
      val out = new java.io.ByteArrayOutputStream()
      while (!df.finished()) out.write(buf, 0, df.deflate(buf))
      df.end(); out.toByteArray
    }
    def a85(d: Array[Byte]): String = {
      val sb = new StringBuilder
      var i = 0
      while (i < d.length) {
        val n = math.min(4, d.length - i)
        var v = 0L
        (0 until 4).foreach(k => v = (v << 8) | (if (i + k < d.length) d(i + k) & 0xff else 0))
        val cs = new Array[Char](5)
        var vv = v
        (4 to 0 by -1).foreach { k => cs(k) = ('!' + (vv % 85).toInt).toChar; vv /= 85 }
        if (n == 4 && v == 0) sb += 'z' else sb.appendAll(cs, 0, n + 1)
        i += 4
      }
      sb.append("~>").toString
    }
    def hex(d: Array[Byte]): String = d.map(b => f"${b & 0xff}%02X").mkString + ">"
    def rle(d: Array[Byte]): Array[Byte] = { // literal-only encoding + EOD
      val out = new java.io.ByteArrayOutputStream()
      var i = 0
      while (i < d.length) {
        val n = math.min(128, d.length - i)
        out.write(n - 1); out.write(d, i, n); i += n
      }
      out.write(128); out.toByteArray
    }
    val content = "BT /F1 10 Tf 1 0 0 1 50 760 Tm (filtered stream content) Tj ET\n"
      .getBytes(StandardCharsets.ISO_8859_1)
    val variants = Seq(
      ("/Filter /ASCIIHexDecode", hex(content).getBytes(StandardCharsets.ISO_8859_1)),
      ("/Filter [/ASCII85Decode /FlateDecode]",
        a85(deflate(content)).getBytes(StandardCharsets.ISO_8859_1)),
      ("/Filter /RunLengthDecode", rle(content)),
      ("/Filter [/AHx /RL]", hex(rle(content)).getBytes(StandardCharsets.ISO_8859_1)))
    variants.foreach { case (filter, data) =>
      val objs = Vector(
        "1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n",
        "2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 >>\nendobj\n",
        "3 0 obj\n<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] /Contents 4 0 R >>\nendobj\n")
      val body = new java.io.ByteArrayOutputStream()
      body.write("%PDF-1.4\n".getBytes(StandardCharsets.ISO_8859_1))
      val offs = scala.collection.mutable.ArrayBuffer.empty[Int]
      objs.foreach { o => offs += body.size(); body.write(o.getBytes(StandardCharsets.ISO_8859_1)) }
      offs += body.size()
      body.write(s"4 0 obj\n<< /Length ${data.length} $filter >>\nstream\n"
        .getBytes(StandardCharsets.ISO_8859_1))
      body.write(data)
      body.write("\nendstream\nendobj\n".getBytes(StandardCharsets.ISO_8859_1))
      val xref = body.size()
      val sb = new StringBuilder(s"xref\n0 1\n0000000000 65535 f \n")
      offs.zipWithIndex.foreach { case (o, i) => sb ++= s"${i + 1} 1\n" + f"$o%010d 00000 n \n" }
      sb ++= s"trailer\n<< /Size 5 /Root 1 0 R >>\nstartxref\n$xref\n%%EOF\n"
      body.write(sb.toString.getBytes(StandardCharsets.ISO_8859_1))
      val pages = Pdf.parse(body.toByteArray)
      assert(textOf(pages) == Vector("filtered stream content"), s"filter chain $filter")
    }
  }

  test("/Info document metadata round-trips in every framing, incl. UTF-16BE strings") {
    val info = Seq(
      "Title" -> "Résumé — №7 (draft)", // non-ASCII → BOM + UTF-16BE form
      "Author" -> "plain ascii author",
      "CreationDate" -> "D:20240315120000Z")
    for (framing <- Seq(Pdf.Framing.Classic, Pdf.Framing.XrefStream,
                        Pdf.Framing.XrefStreamPred, Pdf.Framing.ObjStm)) {
      val bytes = Pdf.writePages(Seq(pageA), flate = true, framing = framing, info = info)
      val got = Pdf.docInfo(bytes)
      assert(got.get("Title").contains("Résumé — №7 (draft)"), s"framing $framing: $got")
      assert(got.get("Author").contains("plain ascii author"))
      assert(got.get("CreationDate").flatMap(Pdf.infoDateYmd).contains((2024, 3, 15)))
      // page content unaffected by the extra object
      assert(textOf(Pdf.parse(bytes)) ==
        textOf(Pdf.parse(Pdf.writePages(Seq(pageA), flate = true))), s"framing $framing")
    }
    // documents without /Info report empty, not a fallback
    assert(Pdf.docInfo(Pdf.writePages(Seq(pageA), flate = false)).isEmpty)
  }

  test("Form XObjects: Do paints nested form content with the form's own fonts") {
    // page → Do /Fm1; Fm1 has its OWN /Resources (a /Differences font) and
    // invokes a nested /Fm2; an image XObject Do must be a no-op
    val fm2 = "BT /F1 10 Tf 1 0 0 1 50 700 Tm (nested form line) Tj ET\n"
    val fm1 = "BT /F2 10 Tf 1 0 0 1 50 724 Tm (caf via form font) Tj ET\n/Fm2 Do\n"
    val pageContent = "BT /F1 10 Tf 1 0 0 1 50 760 Tm (page text first) Tj ET\n/Fm1 Do\n/Im1 Do\n"
    val helv = "<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>"
    val diffFont = "<< /Type /Font /Subtype /Type1 /BaseFont /T " +
      "/Encoding << /Differences [128 /eacute] >> >>"
    val objs = Vector(
      "1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n",
      "2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 >>\nendobj\n",
      "3 0 obj\n<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] /Contents 4 0 R " +
        "/Resources << /Font << /F1 5 0 R >> /XObject << /Fm1 6 0 R /Im1 9 0 R >> >> >>\nendobj\n",
      s"4 0 obj\n<< /Length ${pageContent.length} >>\nstream\n$pageContent\nendstream\nendobj\n",
      s"5 0 obj\n$helv\nendobj\n",
      s"6 0 obj\n<< /Subtype /Form /Length ${fm1.length} " +
        "/Resources << /Font << /F1 5 0 R /F2 7 0 R >> /XObject << /Fm2 8 0 R >> >> " +
        s">>\nstream\n$fm1\nendstream\nendobj\n",
      s"7 0 obj\n$diffFont\nendobj\n",
      s"8 0 obj\n<< /Subtype /Form /Length ${fm2.length} >>\nstream\n$fm2\nendstream\nendobj\n",
      "9 0 obj\n<< /Subtype /Image /Width 1 /Height 1 /Length 1 >>\nstream\nX\nendstream\nendobj\n")
    val body = new StringBuilder("%PDF-1.4\n")
    val offsets = objs.map { o => val off = body.length; body ++= o; off }
    val xref = body.length
    body ++= "xref\n0 1\n0000000000 65535 f \n"
    objs.zip(offsets).foreach { case (o, off) =>
      body ++= s"${o.takeWhile(_.isDigit)} 1\n" + f"$off%010d 00000 n \n"
    }
    body ++= s"trailer\n<< /Size 10 /Root 1 0 R >>\nstartxref\n$xref\n%%EOF\n"
    val pages = Pdf.parse(body.toString.getBytes(StandardCharsets.ISO_8859_1))
    assert(pages.length == 1)
    assert(Layout.pageText(pages.head.runs) ==
      "page text first\ncafé via form font\nnested form line")
  }

  test("/Rotate: reading order follows the displayed orientation, inherits from the tree") {
    // lines placed left-to-right along X — on a 90°-rotated page a viewer
    // reads them top-to-bottom, so layout order must become line1..line3
    val landscape = Pdf.PageSpec(Seq(
      (50.0, 400.0, "line one"), (50.0, 388.0, "line two"),
      (250.0, 400.0, "col2 a"), (250.0, 388.0, "col2 b")))
    val plain = Pdf.writePages(Seq(landscape), flate = false)
    val base = new String(plain, StandardCharsets.ISO_8859_1)
    for (rot <- Seq(0, 90, 180, 270)) {
      val rotated = base.replace("/Type /Page /Parent 2 0 R",
        s"/Type /Page /Parent 2 0 R /Rotate $rot")
        .getBytes(StandardCharsets.ISO_8859_1)
      val pages = Pdf.parse(rotated)
      assert(pages.length == 1, s"rot=$rot")
      val text = Layout.pageText(pages.head.runs)
      rot match {
        case 0 =>
          assert(text == "line one\nline two\ncol2 a\ncol2 b")
          assert(pages.head.width == 612.0 && pages.head.height == 792.0)
        case 90 =>
          // 90° cw: higher-y runs move left; reading order walks original
          // columns right-to-left is not expected — verify via invariants:
          // dims swap and all four lines survive with a deterministic order
          assert(pages.head.width == 792.0 && pages.head.height == 612.0)
          assert(text.split("\n").toSet ==
            Set("line one", "line two", "col2 a", "col2 b"))
          assert(text == Layout.pageText(Pdf.parse(rotated).head.runs), "deterministic")
        case 180 =>
          assert(pages.head.width == 612.0 && pages.head.height == 792.0)
          // everything mirrors: reading order reverses within each column
          assert(text.split("\n").toSet ==
            Set("line one", "line two", "col2 a", "col2 b"))
        case 270 =>
          assert(pages.head.width == 792.0 && pages.head.height == 612.0)
          assert(text.split("\n").toSet ==
            Set("line one", "line two", "col2 a", "col2 b"))
      }
    }
    // inheritance: /Rotate on the PAGES node applies to kid pages
    val inherited = base.replace("/Type /Pages /Kids",
      "/Type /Pages /Rotate 90 /Kids").getBytes(StandardCharsets.ISO_8859_1)
    assert(Pdf.parse(inherited).head.width == 792.0, "inherited /Rotate ignored")
  }

  test("corruption fuzz: random byte flips never hang or leak an Error from parse") {
    val rnd = new scala.util.Random(4242)
    val bases = Seq(
      Pdf.writePages(docPages, flate = true),
      Pdf.writePages(docPages, flate = true, framing = Pdf.Framing.XrefStreamPred),
      Pdf.writePages(docPages, flate = true, framing = Pdf.Framing.ObjStm),
      Pdf.writePages(docPages, flate = true, framing = Pdf.Framing.Classic,
        encrypt = Some(Pdf.EncryptSpec())),
      Pdf.writeCustomFontDoc(Seq(Seq("fuzz körper")), cid = true),
      // the richest serializer arm: encrypted /Info and annots packed into an /ObjStm
      Pdf.writePages(docPages, flate = true, framing = Pdf.Framing.ObjStm,
        encrypt = Some(Pdf.EncryptSpec(aes = true)),
        info = Seq("Title" -> "fuzz (title)", "Author" -> "№ körper"),
        annots = Seq(Seq("FreeText" -> "note (a)", "Widget" -> "v-1"), Seq("FreeText" -> "№ zwei"))))
    bases.zipWithIndex.foreach { case (base, bi) =>
      (0 until 120).foreach { k =>
        val bad = base.clone
        (0 to rnd.nextInt(5)).foreach(_ =>
          bad(rnd.nextInt(bad.length)) = rnd.nextInt(256).toByte)
        try { Pdf.parse(bad); () }
        catch {
          // the pipeline contract: Decode catches Exception → fallback row;
          // an Error (SOE/OOM) or a hang would kill real executors
          case _: Exception => ()
        }
        // truncations too
        val cut = java.util.Arrays.copyOfRange(base, 0, 1 + rnd.nextInt(base.length))
        try { Pdf.parse(cut); () } catch { case _: Exception => () }
        if (k == 0) assert(bi >= 0) // keep the loop body effectful for scalac
      }
    }
  }

  test("decompression bomb: a FlateDecode stream past the inflate cap lands in pdf-parse") {
    // ~40 KB of deflate that inflates to 40 MiB of zeros
    val df = new java.util.zip.Deflater(9)
    val zeros = new Array[Byte](1 << 16)
    val buf = new Array[Byte](1 << 16)
    val bomb = new java.io.ByteArrayOutputStream()
    (0 until 640).foreach { _ =>
      df.setInput(zeros)
      while (!df.needsInput()) bomb.write(buf, 0, df.deflate(buf))
    }
    df.finish()
    while (!df.finished()) bomb.write(buf, 0, df.deflate(buf))
    df.end()
    val data = bomb.toByteArray
    assert(data.length < (1 << 20))
    val body = new java.io.ByteArrayOutputStream()
    def w(s: String): Unit = body.write(s.getBytes(StandardCharsets.ISO_8859_1))
    w("%PDF-1.4\n")
    val offs = Seq(
      "1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n",
      "2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 >>\nendobj\n",
      "3 0 obj\n<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] /Contents 4 0 R >>\nendobj\n")
      .map { o => val at = body.size(); w(o); at } :+ body.size()
    w(s"4 0 obj\n<< /Length ${data.length} /Filter /FlateDecode >>\nstream\n")
    body.write(data)
    w("\nendstream\nendobj\n")
    val xref = body.size()
    w("xref\n0 5\n0000000000 65535 f \n" + offs.map(o => f"$o%010d 00000 n \n").mkString)
    w(s"trailer\n<< /Size 5 /Root 1 0 R >>\nstartxref\n$xref\n%%EOF\n")
    val pdf = body.toByteArray
    val e = intercept[java.io.IOException](Pdf.parse(pdf))
    assert(e.getMessage.contains("exceeds"), e.getMessage)
    val d = graft.pipeline.Decode.decode(pdf, "")
    assert(d.kind == "pdf" && d.pages.isEmpty)
    assert(d.error.exists(_.startsWith("pdf-parse:")), d.error)
  }

  test("PngFilter: filter → unfilter is the identity for every filter type") {
    val rnd = new scala.util.Random(17)
    for (ft <- 0 to 4; bpp <- Seq(1, 3)) {
      val rowBytes = 12
      val raw = Array.fill[Byte](rowBytes * 9)(rnd.nextInt(256).toByte)
      val filtered = PngFilter.filter(raw, rowBytes, bpp, _ => ft)
      assert(PngFilter.unfilter(filtered, rowBytes, bpp).toSeq == raw.toSeq,
        s"filter type $ft bpp $bpp")
    }
    // mixed per-row filter choice
    val raw = Array.tabulate[Byte](70)(i => (i * 37).toByte)
    val filtered = PngFilter.filter(raw, 7, 1, r => r % 5)
    assert(PngFilter.unfilter(filtered, 7, 1).toSeq == raw.toSeq)
  }
}
