package graft.core

import org.scalacheck.{Gen, Prop, Test => ScTest}
import org.scalatest.funsuite.AnyFunSuite

import scala.collection.mutable.ArrayBuffer

/** Pins the first-enrichment-only window in [[Construction.extractItems]]
  * against the literal reference fold (construction.py:196-208: every
  * non-item line feeds enrichItem its prev/current/next context, so a line
  * is enriched up to three times per item). The production loop skips the
  * repeats; this suite proves the skip is invisible by running the
  * unmemoized fold verbatim and asserting identical RawItem lists —
  * including the one subtle case, a falsy quantity write (QTY: 0 →
  * QInt(0)) that leaves its field gate open across windows.
  */
class EnrichWindowSpec extends AnyFunSuite {

  /** The reference window fold, verbatim pre-memo semantics. */
  private def extractItemsReference(text: String, pageNum: Long): List[RawItem] = {
    val items = ArrayBuffer.empty[RawItem]
    val lines = PyStr.split(text, '\n')
    var current: OpenItem = null
    var lineNum = 0
    while (lineNum < lines.length) {
      val line = PyStr.strip(lines(lineNum))
      if (line.nonEmpty) {
        val bits = Construction.screen.screen(line)
        Construction.detectItemLine(line, pageNum, lineNum, bits) match {
          case Some(d) =>
            if (current != null && current.meaningful) items += current.toRaw
            current = new OpenItem(
              fixtureType = d.tpe,
              quantity = d.quantity,
              modelNumber = d.model,
              dimensions = d.dimensions,
              mountingType = d.mounting,
              specReference = d.spec,
              pageNumber = pageNum,
              rawText = Some(line),
              lineNumber = Some(lineNum + 1L)
            )
          case None =>
            if (current != null) {
              val ctx = ArrayBuffer.empty[String]
              if (lineNum > 0) ctx += PyStr.strip(lines(lineNum - 1))
              ctx += line
              if (lineNum + 1 < lines.length) ctx += PyStr.strip(lines(lineNum + 1))
              ctx.foreach { c =>
                if (c.nonEmpty) Construction.enrichItem(current, c, Construction.screen.screen(c))
              }
            }
        }
      }
      lineNum += 1
    }
    if (current != null && current.meaningful) items += current.toRaw
    items.toList
  }

  private def check(prop: Prop): Unit = {
    val res = ScTest.check(ScTest.Parameters.default.withMinSuccessfulTests(300), prop)
    assert(res.passed, org.scalacheck.util.Pretty.pretty(res))
  }

  // Line pool biased toward the interactions that matter: item starters,
  // every enrich field, the falsy QTY: 0, empties (window gaps), unicode,
  // and near-miss instruction/exclusion lines.
  private val linePool: Gen[String] = Gen.frequency(
    3 -> Gen.oneOf(
      "2 Emergency eye wash stations, floor mounted",
      "VALVE PACKAGE Model OM-141",
      "4 wall-hung lavatories Model K-2032",
      "Centrifugal pump package, stainless steel",
      "PIPE AND FITTINGS: copper type L"),
    4 -> Gen.oneOf(
      "QTY: 0", "qty 0 ea", "QTY: 3", "quantity: 12", "8 ea",
      "Model B-200", "part # XK-99", "dimensions 24\" x 36\"",
      "1-1/2\" diameter", "wall mounted", "floor-mounted bracket",
      "per spec 22 40 00", "see page 5 for detail", "spec: 31.1",
      "Mounting: recessed", "0.5 qty remaining"),
    2 -> Gen.oneOf("", "   ", "\t"),
    1 -> Gen.oneOf(
      "NOTE: verify in field", "Install per manufacturer",
      "ALL RIGHTS RESERVED", "revision date 2024",
      "Ø 25 mm Rohrleitung", "ユニット 3 個", "—"),
    1 -> Gen.asciiPrintableStr
  )

  private val doc: Gen[String] =
    Gen.chooseNum(0, 40).flatMap(n => Gen.listOfN(n, linePool)).map(_.mkString("\n"))

  test("extractItems ≡ literal prev/current/next window fold (300 random docs)") {
    check(Prop.forAll(doc) { text =>
      Construction.extractItems(text, 3L) == extractItemsReference(text, 3L)
    })
  }

  test("falsy QInt(0) quantity gate stays open across windows, identically") {
    // item line, then QTY: 0 (falsy write, gate stays open), then a truthy
    // quantity two windows later — both folds must end on the truthy value
    val text = "VALVE PACKAGE Model OM-141\nQTY: 0\nfiller line here\nquantity: 7"
    val a = Construction.extractItems(text, 1L)
    val b = extractItemsReference(text, 1L)
    assert(a == b)
    assert(a.head.quantity.contains(QInt(7L)))
  }

  test("empty-line gaps advance the window without skipping first enrichment") {
    val text = "VALVE PACKAGE Model OM-141\n\n\nwall mounted\n\nper spec 22 40 00"
    assert(Construction.extractItems(text, 1L) == extractItemsReference(text, 1L))
  }
}
