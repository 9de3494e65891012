package graft.core

import org.scalatest.funsuite.AnyFunSuite

/** Pin the reference's semantics-revealing quirks one by one (expected
  * values captured by running the reference's own Python parser modules
  * directly — see SURVEY.md §5; corpus-wide byte parity is GoldenParitySpec,
  * this spec localizes the famous edge cases so a regression names itself).
  */
class CoreQuirksSpec extends AnyFunSuite {

  test("enrichment quirk: 'SEE PAGE 5' contributes quantity 5, page-ref spec overwrites page_number") {
    // construction.py:651-758 — enrichment has no quantity vetoes, and a
    // page-ref spec rewrites page_number (:751-757)
    val items = Construction.extractItems("VALVE PACKAGE MODEL VP-77\nSEE PAGE 5", 1L)
    assert(items.length == 1)
    val it = items.head
    assert(it.fixtureType.contains("Valve Package"))
    assert(it.quantity.contains(QInt(5L)))
    assert(it.modelNumber.contains("VP-77"))
    assert(it.specReference.contains("PAGE  5")) // double space from group join
    assert(it.pageNumber == 5L)                  // overwritten from page 1!
    assert(it.rawText.contains("VALVE PACKAGE MODEL VP-77"))
  }

  test("fixture phrase lookup stays bounded: case and whitespace variants add no matchers") {
    // construction.py:258-273 builds a regex from the matched fixture text;
    // the per-text regex is the reference, built here per variant
    def reference(line: String, text: String): Option[String] = {
      val p = java.util.regex.Pattern.compile(
        """\b([A-Z][A-Za-z\s]+?)\s*(?:""" + Rx.escape(text) +
          """|package|equipment|fixture|station|connection)""",
        java.util.regex.Pattern.UNICODE_CHARACTER_CLASS |
          java.util.regex.Pattern.CASE_INSENSITIVE | java.util.regex.Pattern.UNICODE_CASE)
      val m = p.matcher(line)
      if (m.find()) Some(m.group(1)) else None
    }
    // 2,000 distinct runs of spaces and tabs, 1 to 10 long
    val spaces = (2 until 2002).map(k =>
      Integer.toBinaryString(k).tail.map(b => if (b == '1') '\t' else ' '))
    val cases = (0 until 16).map(k =>
      "pipe".zipWithIndex.map { case (c, b) => if ((k >> b & 1) == 1) c.toUpper else c }.mkString)
    val variants = spaces.map(ws => (s"Big Cooling${ws}Tower 3 ea", s"Cooling${ws}Tower")) ++
      cases.map(v => (s"Main Supply $v 2 ea", v)) ++
      Seq(("Kelvin \u212Aey Pipe", "\u212Aey Pipe"), ("\u017Fteel pipe", "\u017Fteel"))
    def detect(line: String) =
      Construction.detectItemLine(line, 1L, 0L, Construction.screen.screen(line))
    // first use of each code path on this thread
    Seq(variants.head, variants(spaces.size), variants.last)
      .foreach { case (line, _) => detect(line) }
    val before = Rx.tlInits.get
    val got = variants.map { case (line, text) => Construction.phraseBefore(line, text) }
    variants.foreach { case (line, _) => detect(line) }
    assert(Rx.tlInits.get - before <= 8, "per-text patterns leaked into Rx")
    variants.zip(got).foreach { case ((line, text), g) =>
      assert(g == reference(line, text), s"phrase differs on ${line.replace("\t", "\\t")}")
    }
    assert(got.head.contains("Big"))
    assert(detect("Main Supply PiPe 2 ea").flatMap(_.tpe).contains("Main Supply Pipe"))
  }

  test("decimal-spec quirk: 'spec: 31.1' becomes BOTH spec and string quantity") {
    // construction.py:322-340 + :496-514 — the decimal feeds spec_reference
    // and survives as a *string* quantity (never int-coerced)
    val items = Construction.extractItems("CIRCULATING PUMP spec: 31.1", 2L)
    assert(items.length == 1)
    val it = items.head
    assert(it.fixtureType.contains("Circulating Pump"))
    assert(it.quantity.contains(QStr("31.1")))
    assert(it.specReference.contains("spec:  31.1"))
    assert(it.pageNumber == 2L)
  }

  test("duplicate-word dedup quirk: 'EYE WASH STATION MODEL …' → 'Eye Wash Eye Wash'") {
    // construction.py:245-273 — longest fixture match + consecutive-dup
    // dedup produce this exact (surprising) value; model/qty vetoed
    val items = Construction.extractItems(
      "EYE WASH STATION MODEL OM-141 HUH-13 VP1234 CH30 QTY: 3", 1L)
    assert(items.length == 1)
    val it = items.head
    assert(it.fixtureType.contains("Eye Wash Eye Wash"))
    assert(it.quantity.isEmpty)
    assert(it.modelNumber.isEmpty)
  }

  test("context enrichment: mounting normalized to 'Wall-Mount', feet-inches dims joined") {
    val items = Construction.extractItems(
      "QTY: 3 EA VALVE PACKAGE\nwall-hung\n25' -1 5/8\"", 1L)
    assert(items.length == 1)
    val it = items.head
    assert(it.fixtureType.contains("Ea Valve Package"))
    assert(it.quantity.contains(QInt(3L)))
    assert(it.dimensions.contains("25 x 1 x 5/8"))
    assert(it.mountingType.contains("Wall-Mount")) // hung→mount normalization
  }

  test("phone findall-group quirk: groups (not full matches) are returned") {
    // standard.py:14 — pattern has one capture group; Python findall returns
    // the group, so '(555) 123-4567' yields '' and '+1 555.123.4567' yields '+1 '
    val ents = Entities.extractEntities("call (555) 123-4567 or +1 555.123.4567").toMap
    assert(ents("phone") == List("", "+1 "))
    assert(!ents.contains("email"))
  }

  test("date-inside-SSN quirk: '123-45-6789' yields date '23-45-6789' AND the ssn") {
    val ents = Entities.extractEntities("ssn 123-45-6789")
    // insertion order is part of the JSON contract: date before ssn
    assert(ents.map(_._1) == List("date", "ssn"))
    assert(ents.toMap.apply("date") == List("23-45-6789"))
    assert(ents.toMap.apply("ssn") == List("123-45-6789"))
  }

  test("Python str.title parity: '1 1/2\"ø hhws' → '1 1/2\"Ø Hhws'") {
    assert(PyStr.title("1 1/2\"ø hhws") == "1 1/2\"Ø Hhws")
  }

  test("Python str.split parity: runs of whitespace, empties dropped, NBSP is space") {
    assert(PyStr.splitWs("  a\t\tb c  ").toSeq == Seq("a", "b", "c"))
    assert(PyStr.countWords("one  two\nthree\t") == 3L)
    assert(PyStr.split("a\n", '\n').toSeq == Seq("a", "")) // trailing empty kept
  }

  test("Python float repr parity for json.dump") {
    assert(PyFloat.repr(1423.5) == "1423.5")
    assert(PyFloat.repr(298.5) == "298.5")
    assert(PyFloat.repr(0.1) == "0.1")
    assert(PyFloat.repr(1.0 / 3.0) == "0.3333333333333333")
    assert(PyFloat.repr(1e16) == "1e+16")
    assert(PyFloat.repr(1234567890123456.0) == "1234567890123456.0")
    assert(PyFloat.repr(0.00001) == "1e-05")
    assert(PyFloat.repr(0.0001) == "0.0001")
  }

  test("table→items: header keyword map, first-digits qty, null cells") {
    // construction.py:760-829 on a pdfplumber-shaped table
    val table: Seq[Seq[Option[String]]] = Seq(
      Seq(Some("Item"), Some("Qty"), Some("Model")),
      Seq(Some("Pump"), Some("12 ea"), Some("OM-141")),
      Seq(None, Some("3"), None))
    val items = Construction.parseTables(Seq(table), 4L)
    assert(items.length == 2)
    val first = items.head
    assert(first.fixtureType.contains("Pump"))
    assert(first.quantity.contains(QInt(12L))) // first \d+ in "12 ea"
    assert(first.modelNumber.contains("OM-141"))
    assert(first.tableNumber.contains(1L) && first.rowNumber.contains(1L))
    val second = items(1)
    assert(second.fixtureType.isEmpty)
    assert(second.quantity.contains(QInt(3L)))
    assert(second.pageNumber == 4L)
  }
}
