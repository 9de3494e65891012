package graft.core

import java.util.SplittableRandom

/** High-volume soundness fuzz for the construction fold's prescreen
  * ([[Construction.screen]]): a pattern's bit must NEVER clear while the
  * pattern still matches. PrescreenFactsSpec runs 500 ScalaCheck cases per
  * property in the suite; this main hammers millions of char-level random
  * lines (biased toward the literals: digits, quotes, hyphens, keywords,
  * glued tokens, BMP traps such as U+212A, U+017F, NBSP and `ø`) against every
  * pattern of the seven families and the keyword exclusion fold, for
  * release-grade confidence. Exits non-zero on the first violations with
  * the offending line.
  *
  * Usage: Test/runMain graft.core.FuzzFactsMain [nLines] [seed]
  */
object FuzzFactsMain {
  private def rxI(p: String) = Rx(p, ignoreCase = true)

  def main(args: Array[String]): Unit = {
    val n = if (args.length > 0) args(0).toInt else 1000000
    val seed = if (args.length > 1) args(1).toLong else 42L
    val rnd = new SplittableRandom(seed)
    import Construction._

    val anchoredHoisted =
      rxI(Semantics.excludePatterns.drop(4).map(p => s"(?:${p.stripPrefix("^")})").mkString("|"))
    val anchoredOriginal = Semantics.excludePatterns.drop(4).map(rxI)
    val capPhraseRx = Rx("""\b([A-Z][A-Za-z]+(?:\s+[A-Z][A-Za-z]+)+)""")
    def family(name: String, patterns: List[String], at: Int) =
      patterns.zipWithIndex.map { case (p, i) => (s"$name p$i", at + i, rxI(p)) }
    val screened =
      ("exclude", ExcludeAt,
        rxI(Semantics.excludePatterns.take(4).map(p => s"(?:$p)").mkString("|"))) +:
        (family("fixture", Semantics.fixturePatterns, FixtureAt) ++
          family("qty", Semantics.quantityPatterns, QuantityAt) ++
          family("model", Semantics.modelPatterns, ModelAt) ++
          family("dim", Semantics.dimensionPatterns, DimensionAt) ++
          family("fulldim", Semantics.fullDimPatterns, FullDimAt) ++
          family("mount", Semantics.mountingPatterns, MountingAt) ++
          family("spec", Semantics.specPatterns, SpecAt))

    val words = Array("qty", "quantity", "ea", "each", "pcs", "pc", "unit",
      "units", "lf", "ft", "feet", "sq", "square", "linear", "in", "inch",
      "inches", "cm", "mm", "m", "d", "dia", "diameter", "od", "id", "size",
      "dimension", "dimensions", "model", "part", "pn", "sku", "cat",
      "catalog", "item", "page", "pg", "p", "see", "all", "use", "date", "revision", "spec",
      "ref", "dwg", "drawing", "type", "grade", "class", "UL", "ASTM",
      "and", "end", "word", "Ab", "Cd", "K2032", "OM", "141", "42", "7",
      "1.5", "1/2", "A", "x", "X", "media", "resize", "road", "pipe", "cap",
      "tee", "steel", "cooling", "tower", "wall", "hung", "mounted", "flush",
      "slip", "on", "ceiling", "cast", "iron", "pump", "package", "station")
    val seps = Array(" ", "  ", "\t", ",", ", ", ":", ": ", "-", " - ", ".",
      "(", ")", "\"", "'", "#", "/", ";", "", " :", "", "", "=", "\u2013", "\u00F8")
    // BMP traps: case folds, Unicode spaces and digits, line terminators,
    // a combining mark, a surrogate (see PrescreenFactsSpec.bmpTraps)
    val exotic = (PrescreenFactsSpec.bmpTraps :+ '\u0660').toArray

    def randLine(): String = {
      val sb = new java.lang.StringBuilder
      val parts = rnd.nextInt(12)
      var k = 0
      while (k < parts) {
        if (rnd.nextInt(4) == 0) { // raw char noise
          val len = rnd.nextInt(6)
          var q = 0
          while (q < len) { sb.append((32 + rnd.nextInt(95)).toChar); q += 1 }
        } else {
          val w = words(rnd.nextInt(words.length))
          sb.append(if (rnd.nextInt(3) == 0) w.toUpperCase else w)
        }
        if (rnd.nextInt(16) == 0) sb.append(exotic(rnd.nextInt(exotic.length)))
        sb.append(seps(rnd.nextInt(seps.length)))
        k += 1
      }
      if (rnd.nextInt(50) == 0) sb.append('\n')
      sb.toString
    }

    var i = 0
    var bad = 0
    while (i < n) {
      val s = randLine()
      val bits = screen.screen(s)
      def die(which: String): Unit = {
        Console.err.println(s"VIOLATION [$which] line=${s.replace("\u001C", "\\u001C")}")
        bad += 1
      }
      if (anchoredHoisted.matchesAt(s) != anchoredOriginal.exists(_.containsMatch(s))) die("anchored-hoist")
      if (!capPairShape(s) && capPhraseRx.search(s).isDefined) die("cappair")
      screened.foreach { case (name, bit, rx) =>
        if (!LiteralScreen.may(bits, bit)) rx.search(s).foreach(m => die(s"$name [${m.group0}]"))
      }
      if (bad > 5) { Console.err.println("too many violations, aborting"); sys.exit(1) }
      i += 1
    }
    if (bad > 0) sys.exit(1)
    println(s"[fuzz-facts] $n lines, ${screened.size} screened patterns, 0 violations (seed $seed)")
  }
}
