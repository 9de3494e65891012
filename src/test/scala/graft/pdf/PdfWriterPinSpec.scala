package graft.pdf

import graft.fixtures.PagesGen
import org.scalatest.funsuite.AnyFunSuite

/** Byte pins of the PDF writer: one md5 per arm over a matrix of calls.
  * Every PDF the engine is tested and benchmarked on comes from this
  * writer (the fuzz corpus, the `extract` pages, the `q_pdf_*` rows), so a
  * change that moves a single written byte must fail here first. The
  * digests were taken from the writer as it stood before its object list
  * and serializers were shared across framings; re-pin only for a change
  * that means to alter the written files.
  */
class PdfWriterPinSpec extends AnyFunSuite {
  import PdfWriterPinSpec._

  /** md5 (hex) of the calls' outputs, each prefixed by its length. */
  private def digest(docs: Seq[Array[Byte]]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    docs.foreach { d =>
      md.update(java.nio.ByteBuffer.allocate(4).putInt(d.length).array())
      md.update(d)
    }
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  /** Every `writePages` option combination of the matrix for one framing. */
  private def framingCalls(framing: Pdf.Framing): Seq[Array[Byte]] =
    for {
      flate <- Seq(false, true)
      inf <- infos
      enc <- encrypts
      ann <- annotSets
    } yield Pdf.writePages(docPages, flate, framing = framing, info = inf,
      encrypt = enc, annots = ann)

  /** Edge shapes: no pages, a table-only page, a non-default page size. */
  private def edgeCalls(framing: Pdf.Framing): Seq[Array[Byte]] =
    Seq(
      Pdf.writePages(Nil, flate = false, framing = framing),
      Pdf.writePages(Seq(tableOnly), flate = true, framing = framing,
        encrypt = Some(Pdf.EncryptSpec(aes = true)), info = infos(2)),
      Pdf.writePages(Seq(pageA), flate = false, width = 595.5, height = 842.0,
        framing = framing, annots = Seq(Seq("Widget" -> "v-7"))))

  private val pins = Seq(
    Pdf.Framing.Classic -> "f8464d7fee8bd509d24a812564f1ae81",
    Pdf.Framing.XrefStream -> "0320cd0f15dea01914d0b87906f8b575",
    Pdf.Framing.XrefStreamPred -> "bae11752dc6f4e0469de0242b41be622",
    Pdf.Framing.ObjStm -> "aa228bad86a721c467819056d1db58b0")

  pins.foreach { case (framing, want) =>
    test(s"writePages bytes are pinned: $framing") {
      assert(digest(framingCalls(framing) ++ edgeCalls(framing)) == want)
    }
  }

  test("writeCustomFontDoc bytes are pinned: simple and CID fonts") {
    val docs = for {
      cid <- Seq(false, true)
      pages <- fontPages
    } yield Pdf.writeCustomFontDoc(pages, cid)
    assert(digest(docs) == "c4ed260af8df4bd5b8df86e89f7ffd25")
  }

  test("PayloadGen PDF bytes are pinned: the PDF rows of docsFor(0, 1) and docsFor(1, 1)") {
    val pdfs = (PagesGen.docsFor(0, 1) ++ PagesGen.docsFor(1, 1))
      .collect { case r if r.html != null && Pdf.isPdf(r.html) => r.html }
    assert(pdfs.length > 10)
    assert(digest(pdfs) == "b12cb510c4c8568e4012f51f17fbe8c2")
  }
}

object PdfWriterPinSpec {
  val pageA: Pdf.PageSpec = Pdf.PageSpec(Seq(
    (50.0, 760.0, "Pin line one"),
    (50.0, 748.0, "parens (a) ) ( and \\ backslash\tand tab"),
    (72.5, 736.25, "unicode: déjà vu — ß, № and 中文"),
    (50.0, 724.0, "")))
  val pageB: Pdf.PageSpec = Pdf.PageSpec(
    Seq((50.0, 760.0, "left col"), (330.0, 760.0, "right col")),
    tables = Seq(
      Seq(Seq(Some("h1"), Some("h(2)")), Seq(Some("a"), None), Seq(Some(""), Some("ü"))),
      Seq(Seq(Some("solo")))))
  val tableOnly: Pdf.PageSpec = Pdf.PageSpec(Nil, tables = Seq(Seq(Seq(Some("x"), Some("y")))))
  val docPages: Seq[Pdf.PageSpec] = Seq(pageA, pageB)

  val infos: Seq[Seq[(String, String)]] = Seq(
    Nil,
    Seq("Title" -> "Plain (title) \\ with\ttab", "Author" -> "a\nb\rc",
      "CreationDate" -> "D:20240102120000Z"),
    Seq("Title" -> "№ déjà vu", "Author" -> "ascii author", "Subject" -> "中文 ü"))

  val encrypts: Seq[Option[Pdf.EncryptSpec]] = Seq(
    None,
    Some(Pdf.EncryptSpec()),
    Some(Pdf.EncryptSpec(aes = true)),
    Some(Pdf.EncryptSpec(userPwd = "user-pwd")))

  val annotSets: Seq[Seq[Seq[(String, String)]]] = Seq(
    Nil,
    Seq(Seq("FreeText" -> "note (one) \\", "Widget" -> "v-1"), Seq("FreeText" -> "№ zwei")))

  val fontPages: Seq[Seq[Seq[String]]] = Seq(
    Seq(Seq("plain ascii only", "second (line) \\ here")),
    Seq(Seq("déjà vu — ß café", "tab\there, № 42 °C ±1"), Seq("Ø 25 mm Rør", "中文 and ü")))
}
