package graft.core

import graft.fixtures.{CorpusIO, PagesGen}
import graft.pipeline.Decode
import org.scalacheck.{Gen, Prop, Test => ScTest}
import org.scalatest.funsuite.AnyFunSuite

/** Soundness of the construction fold's prescreen
  * ([[Construction.screen]], a [[LiteralScreen]]): a CLEARED bit must
  * prove that its pattern cannot match the line (set bits promise
  * nothing). Each property rebuilds the regexes from the Semantics tables —
  * the same patterns production compiles — and asserts no match on any
  * line whose bit is clear. The capitalized-phrase pattern is
  * case-sensitive and keeps a char-class check, [[Construction.capPairShape]].
  */
class PrescreenFactsSpec extends AnyFunSuite {
  import Construction._
  import PrescreenFactsSpec._

  private def rxI(p: String) = Rx(p, ignoreCase = true)

  private val excludeKeywordRx =
    rxI(Semantics.excludePatterns.take(4).map(p => s"(?:$p)").mkString("|"))
  private val excludeAllRx =
    rxI(Semantics.excludePatterns.map(p => s"(?:$p)").mkString("|"))
  private val excludeAnchoredRx =
    rxI(Semantics.excludePatterns.drop(4).map(p => s"(?:$p)").mkString("|"))
  private val capPhraseRx = Rx("""\b([A-Z][A-Za-z]+(?:\s+[A-Z][A-Za-z]+)+)""")
  private val anchoredHoisted =
    rxI(Semantics.excludePatterns.drop(4).map(p => s"(?:${p.stripPrefix("^")})").mkString("|"))

  /** (family, screen bit, regex) for every pattern the screen gates. */
  private def family(name: String, patterns: List[String], at: Int) =
    patterns.zipWithIndex.map { case (p, i) => (s"$name p$i", at + i, rxI(p)) }
  private val quantity = family("quantity", Semantics.quantityPatterns, QuantityAt)
  private val model = family("model", Semantics.modelPatterns, ModelAt)
  private val dimension = family("dimension", Semantics.dimensionPatterns, DimensionAt)
  private val spec = family("spec", Semantics.specPatterns, SpecAt)
  private val sevenFamilies =
    family("fixture", Semantics.fixturePatterns, FixtureAt) ++ quantity ++ model ++
      dimension ++ family("full-dim", Semantics.fullDimPatterns, FullDimAt) ++
      family("mounting", Semantics.mountingPatterns, MountingAt) ++ spec
  private val allScreened = ("exclusion fold", ExcludeAt, excludeKeywordRx) +: sevenFamilies

  private def skipped(line: String, bit: Int): Boolean =
    !LiteralScreen.may(screen.screen(line), bit)

  /** The patterns of `table` the screen skips although they match. */
  private def unsound(table: Seq[(String, Int, Rx)], line: String): Seq[String] =
    table.collect { case (name, bit, rx) if skipped(line, bit) && rx.containsMatch(line) => name }

  private def check(prop: Prop): Unit = {
    val res = ScTest.check(ScTest.Parameters.default.withMinSuccessfulTests(500), prop)
    assert(res.passed, org.scalacheck.util.Pretty.pretty(res))
  }

  // Adversarial line pool: keyword hits, prefix near-misses, case traps,
  // punctuation-separated capitals, unicode, raw ascii noise.
  private val plainLines: Gen[String] = Gen.frequency(
    3 -> Gen.asciiPrintableStr,
    3 -> Gen.oneOf(
      "all rights reserved", "ALL RIGHTS RESERVED", "Copyright 2024 Example",
      "strictly prohibited by law", "page 12", "pageant of the year",
      "document control #7", "documented history", "revision date 2024",
      "prepared by J. Doe", "approval pending", "approved by QA",
      "IN PART or in whole", "used in whole", "indoors"),
    3 -> Gen.oneOf(
      "ASTM B88 copper", "astm-b88", "ULtimate power", "UL 90 rated",
      "ultra violet", "class A finish", "classic rock", "type 2 cement",
      "typical layout", "grade 60 rebar", "gradual slope", "ratings high",
      "spec: 22 40 00", "specX99", "specifically", "reference R-1",
      "refX", "refried beans", "dwg. 44", "drawing A-1", "drawings list",
      "ISO 9001", "isolated valve", "DIN rail", "dinner menu", "BS 1363",
      "bseries", "NEMA 4X", "CSA certified", "ASME B16", "NFPA 13",
      "AWWA C900", "IPC section"),
    3 -> Gen.oneOf(capPairLines),
    1 -> Gen.oneOf("Ø 25 mm Rør", "ユニット 3 個", "naïve Case Pair", "Ab Çd"),
    2 -> Gen.listOf(Gen.oneOf("page", "Ab", "Cd", "spec", "7", "x", ",", " ",
      "ALL", "use", "in", "type", "UL", "-", ".", "Q1", "Zz")).map(_.mkString(" ")),
    3 -> Gen.oneOf(
      "qty 3", "QTY: 0", "quantity: 12", "3ea", "3 ea", "3, ea", "5 each",
      "12 pcs", "7pc", "4 units", "90 lf", "14 sq ft", "3 linear feet",
      "1.5", "a 1.5 b", "(3)", "room (12)", "Valve Box (4)", "end 42",
      "end 42 ", "42 end", "12345", "end 42.", "42", "and 7",
      "road: 66", "D: 5", "d5", "id 3", "OD: 7", "media 5", "resize: 9",
      "dimensions: 24", "dimension: 24", "size 8", "5mm", "5.5mm", "5 mm",
      "5-mm", "24x36", "24 x 36", "2X4", "5 in", "went in 2024", "3 in.",
      "9 ft", "8feet", "1-1/2\" drain", "25 cm pipe", "5 m", "the m word",
      "diameter 5", "xdiameter 6", "no anchors here at all", "year 2024 done",
      "Model K-2032", "model: ABC", "models galore", "part # XK-99", "pn 44",
      "sku: A9", "cat# 7", "item #3", "catalog #12", "K2032", "covid19",
      "OM-141", "om-141", "OM - 141", "AB-C12", "9AB-12", "A-1", "X9",
      "_AB-12", "ab_12", "2024-01-02", "a-b-c", "7-11 store", "item"),
    1 -> Gen.listOf(Gen.oneOf("42", "qty", "ea", "d", "dia", ":", ".", "(",
      ")", "\"", "'", "x", "mm", "in", "1.5", " ", "\t", "word", "Ab",
      "", "end")).map(_.mkString(" "))
  )

  // ... and the same lines with a BMP trap char put in or swapped in
  private val lines: Gen[String] = Gen.frequency(
    3 -> plainLines,
    1 -> (for {
      s <- plainLines; c <- Gen.oneOf(bmpTraps); at <- Gen.choose(0, 64); swap <- Gen.oneOf(false, true)
    } yield splice(s, c, at, swap)))

  // Java's CASE_INSENSITIVE | UNICODE_CASE lets `k` match U+212A and `s`
  // match U+017F, and `$` also matches before a final line terminator:
  // the screen must keep the patterns such lines can match.
  private val foldTraps: Seq[String] = {
    val seeds = Seq("Kelvin cap 3 ea", "sku: A9", "3 pcs", "ASTM B88", "steel pipe",
      "floor mounted", "qty 5", "cast iron 2 units", "5 sq ft", "spec 22 40 00",
      "see page 7", "K2032", "tank 4", "SS-300", "12 feet", "42")
    seeds.flatMap { s =>
      Seq(s.replace('k', '\u212A').replace('K', '\u212A'),
        s.replace('s', '\u017F').replace('S', '\u017F'),
        s + " é", s + "\n", s + "\r\n", "end " + s + "\n")
    }
  }

  private def linesOf(pages: Seq[PageData]): Vector[String] =
    pages.flatMap(p => PyStr.split(p.text, '\n')).map(PyStr.strip).distinct.toVector

  private lazy val corpusLines: Vector[String] = linesOf(CorpusIO.load().flatMap(_.pages))

  // every corpus line with each trap char put in and swapped in at eight
  // positions spread over the line
  private lazy val splicedCorpusLines: Vector[String] =
    for {
      s <- corpusLines; c <- bmpTraps.toVector; swap <- Vector(false, true); j <- (0 until 8).toVector
    } yield splice(s, c, (s.length + 1) * j / 8, swap)

  private def twin(s: String): Seq[String] =
    Seq(s.replace('k', '\u212A').replace('K', '\u212A'), s.replace('s', '\u017F').replace('S', '\u017F'))

  /** The bits `line` sets that its twin `t` clears. */
  private def clearedInTwin(s: String, t: String): Seq[Int] = {
    val a = screen.screen(s); val b = screen.screen(t)
    (0 until screen.size).filter(p => LiteralScreen.may(a, p) && !LiteralScreen.may(b, p))
  }

  test("cleared FactExclude proves the keyword exclusion fold cannot match") {
    check(Prop.forAll(lines) { s =>
      !skipped(s, ExcludeAt) || !excludeKeywordRx.containsMatch(s)
    })
  }

  test("cleared FactCapPair proves capPhraseRx cannot match") {
    check(Prop.forAll(lines) { s =>
      capPairShape(s) || capPhraseRx.search(s).isEmpty
    })
  }

  test("cleared FactCapPair proves capPhraseRx cannot match: every pair line, every Unicode space") {
    val spaces = bmpTraps.filter(c => Rx("""\s""").containsMatch(c.toString))
    assert(Set('\u00A0', '\u2009', '\u3000').subsetOf(spaces.toSet))
    val unsound = for {
      s <- capPairLines; i <- s.indices if s(i).isWhitespace; c <- spaces
      line = s.updated(i, c) if !capPairShape(line) && capPhraseRx.search(line).isDefined
    } yield line
    assert(unsound.isEmpty, unsound)
  }

  test("cleared FactSpec proves spec patterns 0-3 cannot match") {
    check(Prop.forAll(lines)(s => unsound(spec, s).isEmpty))
  }

  test("cleared FactQty proves the quantity table cannot match") {
    check(Prop.forAll(lines)(s => unsound(quantity, s).isEmpty))
  }

  test("cleared FactDimAnchor proves the dimension table cannot match") {
    check(Prop.forAll(lines)(s => unsound(dimension, s).isEmpty))
  }

  test("cleared FactModel proves the model table cannot match") {
    check(Prop.forAll(lines)(s => unsound(model, s).isEmpty))
  }

  test("keyword-fold OR anchored-fold ≡ the original 10-pattern fold") {
    check(Prop.forAll(lines) { s =>
      (excludeKeywordRx.containsMatch(s) || excludeAnchoredRx.containsMatch(s)) ==
        excludeAllRx.containsMatch(s)
    })
  }

  test("^-hoisted anchored fold via lookingAt ≡ per-pattern find") {
    check(Prop.forAll(lines) { s =>
      anchoredHoisted.matchesAt(s) ==
        Semantics.excludePatterns.drop(4).exists(p => rxI(p).containsMatch(s))
    })
  }

  test("every pattern of the seven families: skip implies no match") {
    check(Prop.forAll(lines)(s => unsound(allScreened, s).isEmpty))
    val fixed = corpusLines ++ foldTraps
    assert(fixed.size > 100)
    val bad = fixed.flatMap(s => unsound(allScreened, s).map(n => s"$n on ${s.take(60)}"))
    assert(bad.isEmpty, bad.take(10).mkString("\n"))
    // every fold trap is screened conservatively
    foldTraps.foreach { s =>
      val kept = sevenFamilies.filter { case (_, bit, _) => !skipped(s, bit) }
      assert(kept.nonEmpty, s"fallback not taken on ${s.take(40)}")
    }
  }

  test("BMP chars spliced into corpus lines: skip implies no match") {
    val bad = splicedCorpusLines.flatMap(s => unsound(allScreened, s).map(n => s"$n on ${s.take(60)}"))
    assert(bad.isEmpty, bad.take(10).mkString("\n"))
  }

  test("swapping k for U+212A or s for U+017F never clears a bit the ASCII twin sets") {
    check(Prop.forAll(plainLines)(s => twin(s).forall(t => clearedInTwin(s, t).isEmpty)))
    val bad = (corpusLines ++ foldTraps.filter(_.forall(_ < 0x80))).flatMap { s =>
      twin(s).flatMap(t => clearedInTwin(s, t).map(p => s"bit $p on ${t.take(60)}"))
    }
    assert(bad.isEmpty, bad.take(10).mkString("\n"))
  }

  test("no line of the corpus or of its variant pages takes the fallback") {
    val variantLines = linesOf(PagesGen.docsFor(1, 1).flatMap(r => Decode.decode(r.html, r.text).pages))
    assert(variantLines.exists(_.exists(_ >= 0x80)) && corpusLines.exists(_.exists(_ >= 0x80)))
    val fallen = (corpusLines ++ variantLines).filter(screen.fallsBack)
    assert(fallen.isEmpty, fallen.take(10).mkString("\n"))
  }

  test("the screen skips on words, not substrings, and derives a clause for every pattern") {
    // fixture p0 puts \b around `cap` and `tee`: "capital" and "steel" don't open it
    assert(skipped("capital letters only", FixtureAt))
    assert(!skipped("end cap 3", FixtureAt))
    assert(skipped("galvanized steel", FixtureAt) && !skipped("galvanized steel", FixtureAt + 8))
    // a digit-free line runs no quantity or dimension pattern
    assert(quantity.forall(q => skipped("no anchors here at all", q._2)))
    assert(dimension.forall(d => skipped("no anchors here at all", d._2)))
    // non-ASCII line without any digit or fixture word
    assert(quantity.forall(q => skipped("naïve words", q._2)))
    assert(skipped("naïve words", FixtureAt))
    // the derivation parses every screened pattern and keeps a requirement
    allScreened.foreach { case (name, bit, _) =>
      assert(screen.clauses(bit).nonEmpty, s"$name derives no clause")
    }
  }

  test("capPairShape reads non-ASCII chars by their word class") {
    // the extract workload's six non-ASCII chars (ø – │ ° ± NBSP) between
    // tokens that are not a capitalized pair: no longer inconclusive
    val cleared = Seq("pipe ø 12 mm", "Pipe ø Fitting", "ø25 Copper", "range 10–12 ga",
      "Size 3–5 in", "left │ right", "Panel │ 2 Way", "bend 90° elbow", "Elbow 90° Bend",
      "tol ±2 mm", "Range ±5 Deg", "see\u00A0note", "Note\u00A0a Bar", "ø\u00A0Bar")
    cleared.foreach { s =>
      assert(!capPairShape(s), s)
      assert(capPhraseRx.search(s).isEmpty, s)
    }
    // a non-ASCII word char inside a token keeps the pair check exact
    assert(capPairShape("Café Bar Grill"))
    assert(capPhraseRx.search("Café Bar Grill").map(_.group(1)).contains("Bar Grill"))
    // NBSP is `\s`: two capitalized words around it are a pair
    assert(capPairShape("Bar\u00A0Grill") && capPhraseRx.search("Bar\u00A0Grill").isDefined)
    // the screen's fallback class (a combining mark, U+2028) stays inconclusive
    assert(capPairShape("e\u0301 x") && capPairShape("a\u2028b"))
  }
}

object PrescreenFactsSpec {
  /** Capitalized word pairs, near-pairs and separators for the
    * capitalized-phrase check: both the random pool and the exhaustive
    * Unicode-space arm draw on them.
    */
  val capPairLines: Seq[String] = Seq(
    "Valve Package", "Va Lve", "A B", "Ab Cd", "A1b C2d", "Ab3 Cd",
    "Ab, Cd", "Ab,Cd", "Ab  Cd", "Abc\tDef", "abc Def Ghi", "X Y Z",
    "Abc def Ghi", "McDonald Std", "IBM PC", "eXtreme Case", "_Ab Cd_",
    "3Ab Cd", "Ab 3Cd", "Ab3Cd Ef")

  /** BMP chars for the screen to classify: the six non-ASCII chars of the
    * extract workload's pages and `Ø`; chars that Java's
    * `CASE_INSENSITIVE | UNICODE_CASE` folds onto `k`, `s` and `i`; Unicode
    * spaces; non-ASCII digits; plain letters; the line terminators `$` may
    * match before; a combining mark; an unpaired surrogate.
    */
  val bmpTraps: Seq[Char] = Seq(
    '\u00F8', '\u2013', '\u2502', '\u00B0', '\u00B1', '\u00A0', '\u00D8',
    '\u212A', '\u017F', '\u0130', '\u0131', '\u2009', '\u3000', '\u0663', '\uFF13',
    '\u00E9', '\u4E2D', '\u0085', '\u2028', '\u2029', '\u0301', '\uD800')

  /** `s` with `c` put in before, or swapped in for, the char at `at`
    * (mod the line's length + 1).
    */
  def splice(s: String, c: Char, at: Int, swap: Boolean): String = {
    val i = Math.floorMod(at, s.length + 1)
    if (swap && i < s.length) s.substring(0, i) + c + s.substring(i + 1)
    else s.substring(0, i) + c + s.substring(i)
  }
}
