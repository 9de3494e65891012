package graft.pdf

import org.scalatest.funsuite.AnyFunSuite

/** Unit decisions of the PDF path (SURVEY.md §2.10): content-stream
  * tokenize, text-run ordering (y desc, x asc), column split by x-gap,
  * Flate round-trip, malformed-payload tolerance.
  */
class PdfLayoutSpec extends AnyFunSuite {

  test("ruled-grid tables round-trip: cells, None holes, text separated") {
    val t1: Seq[Seq[Option[String]]] = Seq(
      Seq(Some("Item"), Some("Qty"), Some("Model")),
      Seq(Some("Gate Valve"), Some("12 ea"), None),
      Seq(None, Some("3"), Some("GV-200")))
    val t2: Seq[Seq[Option[String]]] = Seq(
      Seq(Some("Size"), Some("Mounting")),
      Seq(Some("3/4\""), Some("wall")))
    val page = Pdf.PageSpec(
      Seq((50.0, 760.0, "VALVE PACKAGE"), (50.0, 748.0, "col\tA\tB\tC")),
      Seq(t1, t2))
    val parsed = Pdf.parse(Pdf.writePages(Seq(page), flate = true))
    assert(parsed.length == 1)
    val (tables, textRuns) = Pdf.splitTables(parsed.head)
    assert(tables == Vector(t1, t2)) // order: top-to-bottom
    assert(Layout.pageText(textRuns) == "VALVE PACKAGE\ncol\tA\tB\tC")
  }

  test("pages without grids split to (no tables, all runs)") {
    val parsed = Pdf.parse(Pdf.writePages(Seq(Pdf.PageSpec(Seq((50.0, 700.0, "just text")))), flate = false))
    val (tables, runs) = Pdf.splitTables(parsed.head)
    assert(tables.isEmpty && runs.length == 1)
  }

  test("write/parse round-trip, runs ordered y desc then x asc") {
    val placements = Seq(
      (72.0, 700.0, "first line"),
      (72.0, 680.0, "second line"),
      (72.0, 660.0, "third line"))
    val bytes = Pdf.writePages(Seq(Pdf.PageSpec(placements)), flate = false)
    assert(Pdf.isPdf(bytes))
    val pages = Pdf.parse(bytes)
    assert(pages.length == 1)
    assert(Layout.pageText(pages.head.runs) == "first line\nsecond line\nthird line")
  }

  test("two-column layout: columns split by x-gap, left column first") {
    val placements = Seq(
      (320.0, 700.0, "R1"), (320.0, 680.0, "R2"), // right column
      (72.0, 700.0, "L1"), (72.0, 680.0, "L2"))   // left column (out of order)
    val bytes = Pdf.writePages(Seq(Pdf.PageSpec(placements)), flate = true)
    val pages = Pdf.parse(bytes)
    assert(Layout.pageText(pages.head.runs) == "L1\nL2\nR1\nR2")
  }

  test("flate and plain streams parse identically") {
    val placements = Seq((100.0, 500.0, "compressed (content) \\ with specials"))
    val a = Pdf.parse(Pdf.writePages(Seq(Pdf.PageSpec(placements)), flate = false))
    val b = Pdf.parse(Pdf.writePages(Seq(Pdf.PageSpec(placements)), flate = true))
    assert(a.head.runs == b.head.runs)
    assert(a.head.runs.head.text == "compressed (content) \\ with specials")
  }

  test("multi-page documents keep page order and dimensions") {
    val bytes = Pdf.writePages(Seq(
      Pdf.PageSpec(Seq((72.0, 700.0, "page one"))),
      Pdf.PageSpec(Seq((72.0, 700.0, "page two")))), flate = true, width = 612, height = 792)
    val pages = Pdf.parse(bytes)
    assert(pages.map(p => Layout.pageText(p.runs)) == Vector("page one", "page two"))
    assert(pages.forall(p => p.width == 612.0 && p.height == 792.0))
  }

  test("garbage after %PDF- magic fails with an exception, not a hang") {
    val junk = ("%PDF-1.4\nthis is not a pdf at all").getBytes("UTF-8")
    assert(Pdf.isPdf(junk))
    intercept[Exception] { Pdf.parse(junk) }
    // Decode wraps this into an error row — verified in PropertySpec
  }
}
