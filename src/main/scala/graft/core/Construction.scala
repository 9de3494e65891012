package graft.core

import scala.collection.mutable.ArrayBuffer

/** Quantity is `Union[int, str]` in the reference
  * (/root/reference/extractor/models/construction.py:17-20). Spark has no
  * union type, so it stays a sealed ADT in the core and splits into
  * (quantity_int, quantity_str) columns at the relational boundary.
  */
sealed trait Qty {
  /** Python truthiness: 0 and "" are falsy. */
  def truthy: Boolean = this match {
    case QInt(v) => v != 0L
    case QStr(s) => s.nonEmpty
  }
  def pyStr: String = this match { // str(quantity)
    case QInt(v) => v.toString
    case QStr(s) => s
  }
}
final case class QInt(v: Long) extends Qty
final case class QStr(s: String) extends Qty

/** One raw extracted item — the reference's item dict
  * (construction.py:184-194 text path, :799-827 table path).
  */
final case class RawItem(
    fixtureType: Option[String],
    quantity: Option[Qty],
    modelNumber: Option[String],
    dimensions: Option[String],
    mountingType: Option[String],
    specReference: Option[String],
    pageNumber: Long,
    tableNumber: Option[Long],
    rowNumber: Option[Long],
    rawText: Option[String],
    lineNumber: Option[Long]
)

/** Mutable working state for one item while the fold is open — mirrors the
  * reference's current_item dict, which `_enrich_item` mutates in place
  * (construction.py:651-758).
  */
final class OpenItem(
    var fixtureType: Option[String],
    var quantity: Option[Qty],
    var modelNumber: Option[String],
    var dimensions: Option[String],
    var mountingType: Option[String],
    var specReference: Option[String],
    var pageNumber: Long,
    val rawText: Option[String],
    val lineNumber: Option[Long]
) {
  def toRaw: RawItem = RawItem(fixtureType, quantity, modelNumber, dimensions,
    mountingType, specReference, pageNumber, None, None, rawText, lineNumber)
  /** construction.py:180 flush predicate — Python truthiness. */
  def meaningful: Boolean =
    fixtureType.exists(_.nonEmpty) || modelNumber.exists(_.nonEmpty) ||
      quantity.exists(_.truthy)
}

/** Detection-phase item_data dict (keys type/quantity/model/dimensions/
  * mounting/spec + the two internal spec-decimal flags,
  * construction.py:240,327-340,512-513).
  */
final class Detected {
  var tpe: Option[String] = None
  var quantity: Option[Qty] = None
  var model: Option[String] = None
  var dimensions: Option[String] = None
  var mounting: Option[String] = None
  var spec: Option[String] = None
  var hasSpecDecimal: Boolean = false
  var specDecimalValue: Option[String] = None

  def tpeTruthy = tpe.exists(_.nonEmpty)
  def qtyTruthy = quantity.exists(_.truthy)
  def modelTruthy = model.exists(_.nonEmpty)
  def dimsTruthy = dimensions.exists(_.nonEmpty)
  def mountTruthy = mounting.exists(_.nonEmpty)
  def specTruthy = spec.exists(_.nonEmpty)
}

/** Line-by-line port of the reference's `ConstructionParser`
  * (/root/reference/extractor/parsers/construction.py). Field evaluation
  * order (fixture → quantity → model → dimensions → mounting → spec →
  * final validations) is semantic — the spec-decimal flag written during
  * quantity extraction (construction.py:322-340) is read by later quantity
  * pattern iterations, and the post-hoc instruction/drawing filters run
  * after extraction (:516-559).
  */
object Construction {
  import Semantics._

  private def rxI(p: String) = Rx(p, ignoreCase = true)
  private def rxS(p: String) = Rx(p, ignoreCase = false)

  // Precompiled pattern tables + hoisted literal patterns. Rx.apply is a
  // cache lookup, but at one lookup per (line × pattern) even the
  // string-keyed fast path showed at ~3% of JFR parse samples; compiling
  // once into vals removes the per-line lookups entirely while leaving the
  // Semantics tables (the auditable parity surface) untouched. The
  // exclusion blocklist folds into ONE alternation — `exists(search)` over
  // patterns ≡ one search over `(?:p1)|(?:p2)|…` (pure boolean, no group
  // use), so ten scans per line become one.
  // The exclusion fold splits on prescreen-ability: patterns 0-3 start with
  // literal keywords (screened), patterns 4-9 are all ^-anchored (cheap to
  // scan, run always). OR of the two folds ≡ the original single fold.
  private val excludeKeywordRx = rxI(excludePatterns.take(4).map(p => s"(?:$p)").mkString("|"))
  // all six start with ^: hoist it and test with lookingAt — find() over an
  // alternation of ^-anchored branches re-fails every branch at every
  // position, O(branches × length) of pure overhead
  private val excludeAnchoredRx =
    rxI(excludePatterns.drop(4).map(p => s"(?:${p.stripPrefix("^")})").mkString("|"))
  private val fixtureRx = fixturePatterns.map(rxI).toArray
  private val quantityRx = quantityPatterns.map(rxI).toArray
  private val modelRx = modelPatterns.map(rxI).toArray
  private val dimensionRx = dimensionPatterns.map(rxI).toArray
  private val fullDimRx = fullDimPatterns.map(rxI).toArray
  private val mountingRx = mountingPatterns.map(rxI).toArray
  private val specRx = specPatterns.map(rxI).toArray
  // spec patterns whose source names a page (construction.py:751-755)
  private val specPageRef = specPatterns.map { p =>
    val l = PyStr.lower(p); l.contains("page") || l.contains("pg")
  }.toArray
  private val drawingRefRx = drawingReferencePatterns.map(rxS).toArray
  private val modelInLineRx = modelPatternsInLine.map(rxI).toArray

  // Prescreen. Nearly every table-pattern scan on a line fails. One
  // LiteralScreen over all per-line table patterns derives, from the
  // pattern text alone, the literals each one needs (a fixture word
  // between word boundaries, a quote, digit-dot-digit, a letter followed
  // by digits, ...), finds them all in one automaton pass over the line,
  // and a pattern runs only where its literals occur. The regexes stay the
  // verifiers, so results do not change. Table pattern i is screen bit
  // `<Table>At + i`; the pass is memoized per line across the detect pass
  // and the enrich window. Soundness is pinned per pattern by
  // PrescreenFactsSpec and FuzzFactsMain.
  private[core] val ExcludeAt = 0
  private[core] val FixtureAt = 1
  private[core] val QuantityAt = FixtureAt + fixtureRx.length
  private[core] val ModelAt = QuantityAt + quantityRx.length
  private[core] val DimensionAt = ModelAt + modelRx.length
  private[core] val FullDimAt = DimensionAt + dimensionRx.length
  private[core] val MountingAt = FullDimAt + fullDimRx.length
  private[core] val SpecAt = MountingAt + mountingRx.length
  private[core] val screen = new LiteralScreen(
    Vector(excludeKeywordRx) ++ fixtureRx ++ quantityRx ++ modelRx ++ dimensionRx ++
      fullDimRx ++ mountingRx ++ specRx)
  import LiteralScreen.{hasDigit, may}

  private val actionVerbStartRx =
    rxI("""^\s*(up\s+to|see|refer|use|install|mount|connect|note|notice|warning)\s+""")
  private val capPhraseRx = rxS("""\b([A-Z][A-Za-z]+(?:\s+[A-Z][A-Za-z]+)+)""")
  private val dimShapeRx = rxS("\\d+\\s*[\"\\']\\s*[-–]?\\s*\\d+")
  private val numericOnlyRx = rxS("^[\\d\\s\\'\\\"\\-\\/\\.]+$")
  private val qtyDecimalRx = rxI("""\b(qty|quantity)[:\s]*\d+\.\d+""")
  private val specCtxRx = rxI("\\d+\\s*[\"\\']|OM-|MAU-|CH\\d+|model|part\\s*#")
  private val digitsOnlyRx = rxS("""^\d+$""")
  private val shortModelShapeRx = rxS("""^[A-Z]\d+$""")
  private val modelKeywordRx = rxI("""\b(model|part|pn|sku|cat|item\s*#)""")
  private val modelPrefixRx = rxS("""^[A-Z]{2,}-\d+""")
  private val modelShapeInLineRx = rxI("""[A-Z]{2,}-\d+|[A-Z]{1,3}\d{2,}""")
  private val dimCtxWordRx = rxI("""(diameter|dia|OD|ID|size|dimension|inch|inches|x\s*\d)""")
  private val dimCtxLineRx =
    rxI("[\"\\']|inch|inches|in|feet|ft|cm|mm|diameter|dia|ø|\"|\\'|x\\s*\\d")
  private val dimUnitsRx = rxI("[\"\\']|ø|inch|in|ft|cm|mm")
  private val eaQtyRx = rxI("""\b(\d+)\s*(ea|each|pcs|pieces|qty|quantity)""")
  private val specDecimalShapeRx = rxS("""^\d+\.\d+$""")
  private val enrichUnitsRx = rxI("[\"\\']|ø|inch|inches|in|ft|feet|cm|mm|diameter|dia")
  private val enrichCtxRx = rxI("(diameter|dia|OD|ID|inch|in|\"|\\'|ø|x\\s*\\d)")
  private val hyphenWsRx = rxS("""[-\s]+""")
  private val digitsRx = rxS("""\d+""")

  // Hand scan replacing an upperAsciiRx containment probe: the per-call
  // Matcher reset dominated the actual scan in JFR. [A-Z] is ASCII-only
  // (case-sensitive, no folding).
  private def hasUpperAscii(s: String): Boolean = {
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c >= 'A' && c <= 'Z') return true
      i += 1
    }
    false
  }
  // constant phrase table, uppercased once (not per line); the first-char
  // table gates the 15 startsWith probes behind one array load
  private val instructionPhrasesUpper = instructionPhrases.map(PyStr.upper).toArray
  private val instructionFirstChars: Array[Boolean] = {
    val arr = new Array[Boolean](128)
    instructionPhrasesUpper.foreach { p =>
      if (p.nonEmpty && p.charAt(0) < 128) arr(p.charAt(0)) = true
    }
    arr
  }

  /** capPhraseRx needs two words of shape [A-Z][A-Za-z]+ split by \s+. It
    * is case-sensitive, so it gets a char-class check instead of a
    * literal: two consecutive word-char tokens of that shape (any non-word
    * separator counts — conservative). Each char counts by the word class
    * the screen reads it as; a char of the screen's fallback class is
    * inconclusive.
    */
  private[core] def capPairShape(line: String): Boolean = {
    val n = line.length
    var prevCap = false
    var i = 0
    while (i < n) {
      val c = line.charAt(i)
      val w = screen.wordClassOf(c)
      if (w < 0) return true
      if (w == 1) {
        var j = i + 1
        while (j < n && screen.wordClassOf(line.charAt(j)) == 1) j += 1
        val c1 = if (j - i >= 2) line.charAt(i + 1) else ' '
        val cap = c >= 'A' && c <= 'Z' && ((c1 >= 'A' && c1 <= 'Z') || (c1 >= 'a' && c1 <= 'z'))
        if (cap && prevCap) return true
        prevCap = cap
        i = j
      } else i += 1
    }
    false
  }

  // The capitalized-phrase regex embeds the fixture match text
  // (construction.py:258-273), so it cannot be compiled once. Java's
  // CASE_INSENSITIVE | UNICODE_CASE compares chars by
  // toLowerCase(toUpperCase(c)), so texts that differ only in case compile
  // to the same language: the cache is keyed by that fold (whitespace runs
  // stay exact). It is private and bounded — cleared when full — and its
  // patterns take no slot in Rx's global cache or per-thread matchers.
  private val phraseCache = new java.util.concurrent.ConcurrentHashMap[String, java.util.regex.Pattern]()
  private val PhraseCacheMax = 512
  private def caseFold(s: String): String = {
    val sb = new java.lang.StringBuilder(s.length)
    s.codePoints.forEach(c => sb.appendCodePoint(Character.toLowerCase(Character.toUpperCase(c))))
    sb.toString
  }
  /** group(1) of the capitalized-phrase search before `fixtureText`. */
  private[core] def phraseBefore(line: String, fixtureText: String): Option[String] = {
    val folded = caseFold(fixtureText)
    val key = if (caseFold(folded) == folded) folded else fixtureText
    var p = phraseCache.get(key)
    if (p == null) {
      if (phraseCache.size >= PhraseCacheMax) phraseCache.clear()
      p = Rx.compile("""\b([A-Z][A-Za-z\s]+?)\s*(?:""" + Rx.escape(key) +
        """|package|equipment|fixture|station|connection)""", ignoreCase = true)
      phraseCache.put(key, p)
    }
    val m = p.matcher(line)
    if (m.find()) Some(m.group(1)) else None
  }

  // ---------------------------------------------------------------- P2 fold
  /** extract_items (construction.py:153-214). */
  def extractItems(text: String, pageNum: Long): List[RawItem] = {
    val items = ArrayBuffer.empty[RawItem]
    val lines = PyStr.split(text, '\n')
    var current: OpenItem = null
    // Highest line index already enriched into `current` (-1 = none). The
    // reference's prev/current/next window (construction.py:196-208) feeds
    // each line to enrichItem up to three times per item; a repeat
    // enrichItem(item, line) is a provable no-op — every field gate is
    // close-only, an open-gate section re-matched against the SAME line
    // deterministically rewrites the value it already wrote (the only write
    // that leaves its gate open is quantity QInt(0), and every falsy
    // quantity write IS QInt(0)) — so consecutive windows advance past it
    // instead of re-running: ~3x fewer enrich regex scans, bit-identical
    // output (EnrichWindowSpec pins equivalence vs the literal 3-call fold).
    var enrichedUpTo = -1

    // Per-line memo across the fold: a context line is stripped/prescreened
    // once even though the detect pass and the enrich window both touch it
    // (the screen is a pure function of the stripped line, so reuse is
    // semantics-free; ~2x fewer prescreen passes on item-dense pages).
    val stripped = new Array[String](lines.length)
    var si = 0
    while (si < lines.length) { stripped(si) = PyStr.strip(lines(si)); si += 1 }
    val screenMemo = new Array[Array[Long]](lines.length)
    def screenOf(k: Int): Array[Long] = {
      var b = screenMemo(k)
      if (b == null) { b = screen.screen(stripped(k)); screenMemo(k) = b }
      b
    }

    var lineNum = 0
    while (lineNum < lines.length) {
      val line = stripped(lineNum)
      if (line.nonEmpty) {
        detectItemLine(line, pageNum, lineNum, screenOf(lineNum)) match {
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
            enrichedUpTo = -1
          case None =>
            if (current != null) {
              // prev / current / next context window (construction.py:196-208),
              // first-enrichment-only per the no-op proof above
              val lo = math.max(math.max(lineNum - 1, 0), enrichedUpTo + 1)
              val hi = math.min(lineNum + 1, lines.length - 1)
              var k = lo
              while (k <= hi) {
                val c = stripped(k)
                if (c.nonEmpty) enrichItem(current, c, screenOf(k))
                k += 1
              }
              if (hi > enrichedUpTo) enrichedUpTo = hi
            }
        }
      }
      lineNum += 1
    }
    if (current != null && current.meaningful) items += current.toRaw
    items.toList
  }

  // ------------------------------------------------------ P3 line classifier
  /** _detect_item_line (construction.py:216-649). `bits` is the line's
    * prescreen, `screen.screen(line)` (extractItems memoizes it per line
    * across the detect pass and the enrich window).
    */
  private[core] def detectItemLine(
      line: String, pageNum: Long, lineNum: Long, bits: Array[Long]): Option[Detected] = {

    // exclusion regexes (:222-224) — keyword fold screened, anchored fold
    // always (equivalent to the original 10-pattern fold)
    if (may(bits, ExcludeAt) && excludeKeywordRx.containsMatch(line)) return None
    if (excludeAnchoredRx.matchesAt(line)) return None

    // instruction-phrase prefixes (:227-230)
    val upperLine = PyStr.upper(line) // hoisted: reused by the vetoes below
    val lineUpper = PyStr.strip(upperLine)
    if (lineUpper.nonEmpty && (lineUpper.charAt(0) >= 128 ||
          instructionFirstChars(lineUpper.charAt(0))) &&
        instructionPhrasesUpper.exists(lineUpper.startsWith)) return None

    // action-verb starts (:233-234)
    if (actionVerbStartRx.matchesAt(line))
      return None

    // very short lines (:237-238)
    if (PyStr.len(PyStr.strip(line)) < 3) return None

    val d = new Detected
    // fixture types — longest match across all patterns (:243-254)
    var bestMatch: String = null
    var bestLen = 0
    var fi = 0
    while (fi < fixtureRx.length) {
      if (may(bits, FixtureAt + fi)) fixtureRx(fi).finditer(line).foreach { m =>
        val t = PyStr.strip(m.group0)
        if (PyStr.len(t) > bestLen) { bestMatch = t; bestLen = PyStr.len(t) }
      }
      fi += 1
    }

    if (bestMatch != null) {
      // capitalized phrase before the match (:258-273)
      d.tpe = Some(phraseBefore(line, bestMatch) match {
        case Some(g) => PyStr.title(dedupConsecutiveWords(PyStr.strip(g) + " " + bestMatch))
        case None    => PyStr.title(bestMatch)
      })
    } else if (capPairShape(line)) {
      // inferred capitalized multi-word phrase (:276-291); no IGNORECASE;
      // needs two consecutive capitalized words
      capPhraseRx.search(line).foreach { cp =>
        val potential = PyStr.strip(cp.group(1))
        val isDimensionPattern = dimShapeRx.containsMatch(potential)
        val isNumericOnly = numericOnlyRx.matchesAt(PyStr.strip(potential))
        if (PyStr.splitWs(potential).length >= 2 && PyStr.len(potential) > 10 &&
            !isDimensionPattern && !isNumericOnly) {
          d.tpe = Some(potential)
        }
      }
    }

    // quantities (:294-351)
    // the pattern loops below use `match` instead of Option.foreach: the
    // foreach closures captured the break vars, boxing them into
    // BooleanRefs on every call (visible in JFR allocation samples)
    var qtyBreak = false
    var qi = 0
    while (!qtyBreak && qi < quantityRx.length) {
      if (may(bits, QuantityAt + qi)) quantityRx(qi).search(line) match { case None => (); case Some(m) =>
        try {
          val qtyStr = m.group(1)
          if (qtyStr == null) throw new NumberFormatException("no group") // ≙ IndexError-ish guard
          if (!qtyStr.contains('.')) PyInt.parse(qtyStr) // ≙ qty_num probe; ValueError → except

          // part-of-model veto (:303-317)
          var isPartOfModel = modelInLineRx.exists { mp =>
            mp.search(line).exists(mm => mm.group0.contains(qtyStr))
          }
          // instruction-context veto (:318-321)
          val contextBefore = PyStr.upper(PyStr.strip(line.substring(0, m.start)))
          if (List("UP TO", "SEE", "REFER TO", "USE").exists(ph => contextBefore.endsWith(ph)))
            isPartOfModel = true

          // decimal-is-spec heuristic (:322-340)
          var isSpecReference = false
          if (d.hasSpecDecimal) {
            if (d.specDecimalValue.contains(qtyStr) || qtyStr == d.spec.getOrElse(""))
              isSpecReference = true
          } else if (qtyStr.contains('.')) {
            if (!qtyDecimalRx.containsMatch(line)) {
              if (specCtxRx.containsMatch(line)) {
                isSpecReference = true
                if (!d.specTruthy) {
                  d.spec = Some(qtyStr)
                  d.hasSpecDecimal = true
                  d.specDecimalValue = Some(qtyStr)
                }
              }
            }
          }

          if (!isPartOfModel && !isSpecReference) {
            d.quantity = Some(
              if (qtyStr.contains('.')) QStr(qtyStr) else QInt(PyInt.parse(qtyStr)))
            qtyBreak = true
          }
        } catch { case _: NumberFormatException => () } // ≙ except (ValueError, IndexError): pass
      }
      qi += 1
    }

    // model numbers (:353-405)
    val allModels = ArrayBuffer.empty[String]
    var mi = 0
    while (mi < modelRx.length) {
      if (may(bits, ModelAt + mi)) modelRx(mi).finditer(line).foreach { m =>
        val groups = m.groups
        if (groups.nonEmpty) {
          var gi = groups.length - 1
          var broke = false
          while (gi >= 0 && !broke) {
            val g = groups(gi)
            if (g != null && PyStr.strip(g).nonEmpty) {
              val model = PyStr.strip(g)
              if (!digitsOnlyRx.matchesAt(model) && PyStr.len(model) > 1 && PyStr.len(model) < 50) {
                if (PyStr.len(model) >= 2) {
                  var skipGroup = false
                  if (PyStr.len(model) <= 4 && shortModelShapeRx.matchesAt(model)) {
                    if (legalWords.exists(w => upperLine.contains(w))) skipGroup = true
                    else if (!modelKeywordRx.containsMatch(line)) skipGroup = true
                    else if (PyStr.splitWs(PyStr.strip(line)).length <= 2 &&
                             upperLine.contains(PyStr.upper(model))) skipGroup = true
                    else if (hasUpperAscii(model) && hasDigit(model)) {
                      if (!allModels.contains(model)) allModels += model
                    }
                  }
                  if (!skipGroup) broke = true // break at construction.py:387
                }
              }
            }
            gi -= 1
          }
        } else {
          // no-group path (:388-400) — unreachable with the shipped patterns
          val model = PyStr.strip(m.group0)
          if (PyStr.len(model) >= 3 && PyStr.len(model) < 30) {
            var skip = false
            if (PyStr.len(model) <= 4 && shortModelShapeRx.matchesAt(model)) {
              if (legalWords.exists(w => upperLine.contains(w))) skip = true
            }
            if (!skip && ((hasUpperAscii(model) && hasDigit(model)) ||
                modelPrefixRx.matchesAt(model))) {
              if (!allModels.contains(model)) allModels += model
            }
          }
        }
      }
      mi += 1
    }
    if (allModels.nonEmpty) {
      d.model = Some(allModels.take(2).mkString(", "))
    }

    // dimensions (:407-486)
    var dimBreak = false
    var di = 0
    while (!dimBreak && di < dimensionRx.length) {
      if (may(bits, DimensionAt + di)) dimensionRx(di).search(line) match { case None => (); case Some(m) =>
        val dimParts = m.groups.filter(g => g != null && g.nonEmpty)
        if (dimParts.nonEmpty) {
          val filtered = dimParts.filter { dim =>
            if (dim.contains('/') && PyStr.len(dim) <= 4) {
              val hasModel = modelShapeInLineRx.containsMatch(line)
              val hasInstruction =
                List("UP TO", "SEE", "REFER TO").exists(ph => upperLine.contains(ph))
              val dimCtx = dimCtxWordRx.containsMatch(line)
              !((hasModel || hasInstruction) && !dimCtx)
            } else true
          }
          if (filtered.nonEmpty) {
            val fullDimFound = fullDimRx.indices.iterator
              .filter(i => may(bits, FullDimAt + i))
              .flatMap(i => fullDimRx(i).search(line).map(fm => PyStr.strip(fm.group(1))))
              .nextOption()
            fullDimFound match {
              case Some(fd) =>
                d.dimensions = Some(fd); dimBreak = true
              case None if filtered.length >= 2 =>
                d.dimensions = Some(filtered.mkString(" x ")); dimBreak = true
              case None =>
                val singleDim = filtered.head
                val isStandaloneNumber = digitsOnlyRx.matchesAt(PyStr.strip(singleDim))
                val hasDimensionContext = dimCtxLineRx.containsMatch(line)
                val hasUnitsInDim = dimUnitsRx.containsMatch(singleDim)
                if (hasUnitsInDim || (hasDimensionContext && !isStandaloneNumber)) {
                  d.dimensions = Some(singleDim); dimBreak = true
                } // else: continue to next pattern (:484)
            }
          }
        }
      }
      di += 1
    }

    // mounting (:489-494)
    var mountBreak = false
    var ui = 0
    while (!mountBreak && ui < mountingRx.length) {
      if (may(bits, MountingAt + ui)) mountingRx(ui).search(line) match { case None => (); case Some(m) =>
        d.mounting = Some(PyStr.strip(m.group0))
        mountBreak = true
      }
      ui += 1
    }

    // specs (:496-514) — skipping a pattern that cannot match keeps the
    // break-at-first-match order semantics
    var specBreak = false
    var pi = 0
    while (!specBreak && pi < specRx.length) {
      if (may(bits, SpecAt + pi)) specRx(pi).search(line) match { case None => (); case Some(m) =>
        val groups = m.groups
        val specStr =
          if (groups.nonEmpty) PyStr.strip(groups.filter(g => g != null && g.nonEmpty).mkString(" "))
          else PyStr.strip(m.group0)
        if (specStr.nonEmpty) {
          d.spec = Some(specStr)
          if (specStr.contains('.') && specDecimalShapeRx.matchesAt(specStr)) {
            d.hasSpecDecimal = true
            d.specDecimalValue = Some(specStr)
          }
          specBreak = true
        }
      }
      pi += 1
    }

    // final instruction re-validation (:516-533)
    val lineStripped = PyStr.upper(PyStr.strip(line))
    val instructionIndicators =
      lineStripped.startsWith("UP TO") || lineStripped.startsWith("SEE ") ||
        lineStripped.startsWith("REFER ") || lineStripped.startsWith("USE ") ||
        lineStripped.startsWith("INSTALL ") || lineStripped.startsWith("MOUNT ") ||
        lineStripped.startsWith("CONNECT ") || lineStripped.contains("SEE PAGE") ||
        lineStripped.contains("SEE DRAWING") || lineStripped.contains("SEE SPEC") ||
        lineStripped.contains("REFER TO")
    if (instructionIndicators) return None

    // drawing/line reference filter (:535-559)
    if (drawingRefRx.exists(p => p.matchesAt(lineStripped))) {
      // line_stripped == line.strip().upper() always holds (:546) — whole-line branch
      if (!d.specTruthy) d.spec = Some(PyStr.strip(line))
      if (d.tpe.contains(PyStr.strip(line))) d.tpe = None
      if (!(d.modelTruthy || d.qtyTruthy || d.dimsTruthy)) return None
    }

    // strong indicators (:561-593)
    var hasStrong = false
    if (d.tpeTruthy && bestMatch != null) hasStrong = true
    if (d.qtyTruthy && d.modelTruthy) hasStrong = true
    if (d.modelTruthy) {
      if (d.mountTruthy || d.specTruthy || d.tpeTruthy) hasStrong = true
      else if (d.qtyTruthy) hasStrong = true
    }
    if (d.qtyTruthy) {
      if (eaQtyRx.containsMatch(line))
        hasStrong = true
    }

    if (!hasStrong) return None

    // inferred type from first words (:598-622)
    if (!d.tpeTruthy && (d.qtyTruthy || d.modelTruthy)) {
      val words = PyStr.splitWs(line)
      if (words.nonEmpty) {
        val potential = PyStr.strip(words.take(3).mkString(" "))
        val isDimension = dimShapeRx.containsMatch(potential)
        val isNumeric = numericOnlyRx.matchesAt(PyStr.strip(potential))
        val excluded = inferredTypeExcludePhrases.exists(ph => PyStr.upper(potential).contains(ph))
        if (!(excluded || isDimension || isNumeric) && PyStr.len(potential) < 40)
          d.tpe = Some(potential)
      }
    }

    // the quantity-vs-spec_reference cleanup at construction.py:628-633 reads
    // key 'spec_reference', which is never set in item_data (the key is
    // 'spec') — provably dead; kept out.

    // duplicate-word fix (:636-644) — no .title() this time
    if (d.tpeTruthy) d.tpe = d.tpe.map(dedupConsecutiveWords)

    Some(d)
  }

  /** Consecutive-duplicate-word removal (construction.py:263-273, 636-644). */
  def dedupConsecutiveWords(s: String): String = {
    val words = PyStr.splitWs(s)
    val out = ArrayBuffer.empty[String]
    var prev: String = null
    words.foreach { w =>
      if (PyStr.upper(w) != prev) {
        out += w
        prev = PyStr.upper(w)
      }
    }
    out.mkString(" ")
  }

  // ---------------------------------------------------------- P4 enrichment
  /** _enrich_item (construction.py:651-758) — mutates the open item.
    * Enrichment is deliberately looser than detection (no vetoes): a context
    * line "SEE PAGE 5" contributes quantity 5. `bits` is the line's
    * prescreen (see detectItemLine).
    */
  private[core] def enrichItem(item: OpenItem, line: String, bits: Array[Long]): Unit = {
    // quantity (:654-667)
    if (!item.quantity.exists(_.truthy)) {
      var brk = false
      var i = 0
      while (!brk && i < quantityRx.length) {
        if (may(bits, QuantityAt + i)) quantityRx(i).search(line) match { case None => (); case Some(m) =>
          try {
            val qtyStr = m.group(1)
            if (qtyStr == null) throw new NumberFormatException("no group")
            item.quantity = Some(
              if (qtyStr.contains('.')) QStr(qtyStr) else QInt(PyInt.parse(qtyStr)))
          } catch { case _: NumberFormatException => () }
          brk = true // break sits outside the try (construction.py:667)
        }
        i += 1
      }
    }

    // model (:670-685)
    if (!item.modelNumber.exists(_.nonEmpty)) {
      var brk = false
      var i = 0
      while (!brk && i < modelRx.length) {
        if (may(bits, ModelAt + i)) modelRx(i).search(line) match { case None => (); case Some(m) =>
          val groups = m.groups
          if (groups.nonEmpty) {
            var gi = groups.length - 1
            var inner = false
            while (gi >= 0 && !inner) {
              val g = groups(gi)
              if (g != null && PyStr.strip(g).nonEmpty) {
                item.modelNumber = Some(PyStr.strip(g))
                inner = true
              }
              gi -= 1
            }
          } else item.modelNumber = Some(PyStr.strip(m.group0))
          brk = true
        }
        i += 1
      }
    }

    // dimensions (:689-717)
    if (!item.dimensions.exists(_.nonEmpty)) {
      var brk = false
      var i = 0
      while (!brk && i < dimensionRx.length) {
        if (may(bits, DimensionAt + i)) dimensionRx(i).search(line) match { case None => (); case Some(m) =>
          val dimParts = m.groups.filter(g => g != null)
            .map(PyStr.strip).filter(_.nonEmpty)
          if (dimParts.nonEmpty) {
            if (dimParts.length > 1) item.dimensions = Some(dimParts.mkString(" x "))
            else {
              val singleDim = dimParts.head
              val isStandaloneNumber = digitsOnlyRx.matchesAt(PyStr.strip(singleDim))
              val hasUnits = enrichUnitsRx.containsMatch(singleDim)
              val hasContext = enrichCtxRx.containsMatch(line)
              if (hasUnits || (hasContext && !isStandaloneNumber))
                item.dimensions = Some(singleDim)
            }
          }
          brk = true
        }
        i += 1
      }
    }

    // mounting (:720-730)
    if (!item.mountingType.exists(_.nonEmpty)) {
      var brk = false
      var i = 0
      while (!brk && i < mountingRx.length) {
        if (may(bits, MountingAt + i)) mountingRx(i).search(line) match { case None => (); case Some(m) =>
          val mounting0 = PyStr.strip(m.group0)
          if (mounting0.nonEmpty) {
            var mounting = hyphenWsRx.p.matcher(PyStr.lower(mounting0)).replaceAll("-")
            mounting = mounting.replace("mounting", "mount").replace("hung", "mount")
            item.mountingType = Some(PyStr.title(mounting))
          }
          brk = true
        }
        i += 1
      }
    }

    // spec (:733-758) — may overwrite page_number from a page reference
    if (!item.specReference.exists(_.nonEmpty)) {
      var brk = false
      var i = 0
      while (!brk && i < specRx.length) {
        if (may(bits, SpecAt + i)) specRx(i).search(line) match { case None => (); case Some(m) =>
          val groups = m.groups
          val specStr =
            if (groups.nonEmpty) PyStr.strip(groups.filter(g => g != null && g.nonEmpty).mkString(" "))
            else PyStr.strip(m.group0)
          if (specStr.nonEmpty) item.specReference = Some(specStr)
          if (specPageRef(i)) {
            digitsRx.search(specStr).foreach { pm =>
              try item.pageNumber = PyInt.parse(pm.group0)
              catch { case _: NumberFormatException => () }
            }
          }
          brk = true
        }
        i += 1
      }
    }
  }

  // ------------------------------------------------------------- P5 tables
  /** parse_tables (construction.py:760-829). Cells are Option[String]
    * (pdfplumber emits None for empty cells).
    */
  def parseTables(tables: Seq[Seq[Seq[Option[String]]]], pageNum: Long): List[RawItem] = {
    val items = ArrayBuffer.empty[RawItem]
    tables.zipWithIndex.foreach { case (table, tableIdx) =>
      if (table != null && table.length >= 2) {
        val headers = table.head.map {
          case Some(cell) if cell.nonEmpty => PyStr.lower(PyStr.strip(cell))
          case _                           => ""
        }
        // header → field map: first matching field wins per column (:789-795)
        val headerMap = scala.collection.mutable.LinkedHashMap.empty[Int, String]
        headers.zipWithIndex.foreach { case (header, colIdx) =>
          columnMapping.iterator
            .find { case (_, keywords) => keywords.exists(header.contains) }
            .foreach { case (field, _) => headerMap(colIdx) = field }
        }

        table.tail.zipWithIndex.foreach { case (row, rowIdx0) =>
          val rowIdx = rowIdx0 + 1
          var fixtureType: Option[String] = None
          var quantity: Option[Qty] = None
          var quantitySet = false
          var model: Option[String] = None; var modelSet = false
          var dims: Option[String] = None; var dimsSet = false
          var mounting: Option[String] = None; var mountingSet = false
          var spec: Option[String] = None; var specSet = false
          var fixtureSet = false

          row.zipWithIndex.foreach { case (cellOpt, colIdx) =>
            headerMap.get(colIdx).foreach { field =>
              val value = cellOpt.map(PyStr.strip).getOrElse("")
              if (field == "quantity" && value.nonEmpty) {
                // first \d+ in the cell (:812-815); no digits → key not set
                digitsRx.search(value).foreach { qm =>
                  quantity = Some(QInt(PyInt.parse(qm.group0))); quantitySet = true
                }
              } else {
                val v = if (value.nonEmpty) Some(value) else None
                field match {
                  case "fixture_type"   => fixtureType = v; fixtureSet = true
                  case "quantity"       => quantity = None; quantitySet = true // empty cell → explicit None
                  case "model_number"   => model = v; modelSet = true
                  case "dimensions"     => dims = v; dimsSet = true
                  case "mounting_type"  => mounting = v; mountingSet = true
                  case "spec_reference" => spec = v; specSet = true
                  case _                => ()
                }
              }
            }
          }
          val _ = (quantitySet, modelSet, dimsSet, mountingSet, specSet, fixtureSet)

          val mk = (ft: Option[String]) => RawItem(ft, quantity, model, dims, mounting,
            spec, pageNum, Some(tableIdx + 1L), Some(rowIdx.toLong), None, None)
          // :819-827 — accept predicate uses Python truthiness
          if (fixtureType.exists(_.nonEmpty) || quantity.exists(_.truthy) || model.exists(_.nonEmpty)) {
            items += mk(fixtureType)
          } else if (dims.exists(_.nonEmpty) || mounting.exists(_.nonEmpty) || spec.exists(_.nonEmpty)) {
            if (row.nonEmpty && row.head.exists(_.nonEmpty)) {
              items += mk(Some(PyStr.strip(row.head.get)))
            }
          }
        }
      }
    }
    items.toList
  }
}
