package graft.pipeline

import graft.core.{Assemble, PageData}
import graft.json.Canonical
import graft.pdf.Pdf
import org.scalatest.funsuite.AnyFunSuite

/** The OCR seam (S4/S5): reference decision semantics from
  * pdf_text_extractor.py:58-163 (auto-detect + per-page fallback) and
  * :289-341 (explicit full-document OCR), driven end-to-end through the
  * deterministic sidecar engine — the path a user with scanned PDFs takes.
  */
class OcrSpec extends AnyFunSuite {

  private val ocrText =
    "QTY: 4 EA PUMP STATION MODEL PS-900 floor mounted\n" +
    "Installation shall comply with local code requirements.\n" +
    "Contractor to verify dimensions prior to rough-in."

  /** A "scanned" PDF: one short visible run (the typical stray header a
    * scanner's text layer contains) + the real text in the OCR sidecar.
    */
  private def scannedPdf(visible: String = "SCAN p.1"): Array[Byte] = {
    val pdf = Pdf.writePages(Seq(Pdf.PageSpec(Seq((72.0, 720.0, visible)))), flate = false)
    Ocr.embedSidecar(pdf, Seq(1L -> ocrText))
  }

  test("sidecar roundtrip: engine reads pages; Pdf.parse tolerates the comments") {
    val pdf = scannedPdf()
    assert(FakeOcrEngine.ocrPage(pdf, 1L).contains(ocrText))
    assert(FakeOcrEngine.ocrPage(pdf, 2L).isEmpty)
    val doc = FakeOcrEngine.ocrDocument(pdf)
    assert(doc.exists(_ == Vector(OcrPage(ocrText, FakeOcrEngine.RasterW, FakeOcrEngine.RasterH))))
    // comments must not break the regular parser
    val parsed = Pdf.parse(pdf)
    assert(parsed.length == 1 && parsed.head.runs.head.text == "SCAN p.1")
  }

  test("auto-OCR fallback: short first page + engine -> recovered text, ocr_pages metric") {
    val dec = Decode.decode(scannedPdf(), null, Some(FakeOcrEngine), useOcr = false)
    assert(dec.pages.map(_.text) == Vector(ocrText))
    assert(dec.ocrPages == 1)
    assert(!dec.needsOcr) // recovered: final text is long
    assert(dec.error.isEmpty)
    // page dims stay the PDF page's (per-page fallback keeps pdfplumber dims)
    assert(dec.pages.head.width.contains(612.0) && dec.pages.head.height.contains(792.0))
  }

  test("no engine: flag-only behavior unchanged (needs_ocr set, text stays short)") {
    val dec = Decode.decode(scannedPdf(), null)
    assert(dec.pages.map(_.text) == Vector("SCAN p.1"))
    assert(dec.needsOcr && dec.ocrPages == 0)
  }

  test("Python truthiness quirk: EMPTY first page never triggers auto-OCR") {
    // reference: `if first_page_text and len(...) < 50` — "" is falsy
    val pdf = Ocr.embedSidecar(
      Pdf.writePages(Seq(Pdf.PageSpec(Seq.empty[(Double, Double, String)])), flate = false),
      Seq(1L -> ocrText))
    val dec = Decode.decode(pdf, null, Some(FakeOcrEngine), useOcr = false)
    assert(dec.pages.map(_.text) == Vector(""))
    assert(dec.ocrPages == 0)
  }

  test("OCR text replaces only when strictly longer (stripped)") {
    val pdf = Ocr.embedSidecar(
      Pdf.writePages(Seq(Pdf.PageSpec(Seq((72.0, 720.0, "SCAN p.1")))), flate = false),
      Seq(1L -> "SCAN")) // shorter than the visible text -> keep visible
    val dec = Decode.decode(pdf, null, Some(FakeOcrEngine), useOcr = false)
    assert(dec.pages.map(_.text) == Vector("SCAN p.1"))
    assert(dec.ocrPages == 0)
  }

  test("explicit full-OCR mode: pages from the engine, raster dims, no tables") {
    val dec = Decode.decode(scannedPdf(visible = "long enough visible text that would " +
      "normally suppress the per-page fallback entirely"), null,
      Some(FakeOcrEngine), useOcr = true)
    assert(dec.pages.map(_.text) == Vector(ocrText))
    assert(dec.pages.head.width.contains(FakeOcrEngine.RasterW))
    assert(dec.pages.head.height.contains(FakeOcrEngine.RasterH))
    assert(dec.pages.head.tables.isEmpty && dec.ocrPages == 1)
  }

  test("full-OCR mode without sidecar falls back to regular extraction") {
    val pdf = Pdf.writePages(Seq(Pdf.PageSpec(Seq((72.0, 720.0, "regular text page, no sidecar here")))),
      flate = false)
    val dec = Decode.decode(pdf, null, Some(FakeOcrEngine), useOcr = true)
    assert(dec.pages.map(_.text) == Vector("regular text page, no sidecar here"))
    assert(dec.ocrPages == 0)
  }

  test("recovered doc flows byte-identically into the standard extraction downstream") {
    // the downstream (Assemble + Canonical) is byte-golden-verified against
    // the reference; OCR'd pages entering it with the same PageData must
    // yield the identical JSON — pinning the whole path a scanned doc takes
    val row = Extract.parseRow("https://host-1.example/scan/1", scannedPdf(), null,
      bucket = 0, mode = "standard", ocr = Some(FakeOcrEngine))
    val expected = Canonical.render(Assemble.standardResult(
      Vector(PageData(1L, ocrText, Some(612.0), Some(792.0), Nil))))
    assert(row.extracted_json == expected)
    assert(row.extracted_text == ocrText)
    assert(row.ocr_pages == 1 && row.error == null)
  }

  test("pipeline e2e: ocrEngine=fake config recovers scanned docs in the snapshot") {
    val spark = org.apache.spark.sql.SparkSession.builder().master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      import spark.implicits._
      val work = java.nio.file.Files.createTempDirectory("ocr_e2e").toString
      val pages = Seq(
        ("https://host-1.example/scan/1", scannedPdf(), null: String, 0),
        ("https://host-2.example/plain/2", null: Array[Byte], "plain text body", 0))
        .toDF("url", "html", "text", "bucket")
      pages.write.mode("overwrite").parquet(s"$work/pages")
      Extract.run(spark, s"$work/pages", s"$work/out",
        Extract.Config(mode = "standard", buckets = 1, parallelism = 2,
          ocrEngine = "fake"))
      val out = Extract.readSnapshot(spark, s"$work/out")
        .select("url", "extracted_text", "ocr_pages", "needs_ocr")
        .collect().map(r => r.getString(0) -> ((r.getString(1), r.getInt(2), r.getBoolean(3))))
        .toMap
      assert(out("https://host-1.example/scan/1") == ((ocrText, 1, false)))
      // O2 flags ANY short first page (15 chars < 50), payload kind aside
      assert(out("https://host-2.example/plain/2") == (("plain text body", 0, true)))
    } finally spark.stop()
  }
}
