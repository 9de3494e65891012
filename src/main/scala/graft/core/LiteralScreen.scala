package graft.core

import java.util.regex.Pattern

/** Required-literal prescreen for a fixed set of regexes — the literal
  * prefilter of RE2 and Hyperscan, derived from the pattern text at
  * construction time and run as one Aho–Corasick pass per line.
  *
  * Derivation. Each pattern is parsed into a small regex AST and folded
  * into a conjunction of clauses; a clause is a set of literals one of
  * which occurs in the text of every match. Concatenation crosses the
  * exact string sets of its parts (or joins a suffix set to the next
  * prefix set), alternation unions them, and `x{m,}` keeps the
  * requirements of `x{m}` (RE2's prefilter info, with the clause form of
  * Cox's trigram-index rules). Literals are spelled over a compressed
  * symbol alphabet plus three markers fed into the stream: S before the
  * line, E after it and B at every word boundary. So `\b(cap)\b` requires
  * the literal B-c-a-p-B and "capital" does not satisfy it. All `\s`
  * chars are one symbol and a run of them is fed once, so `\s*` and `\s+`
  * keep literals exact.
  *
  * Alphabet. Its domain is ASCII plus every non-ASCII char an atom names,
  * with its case variants (`ø`, `Ø` and `–` for the construction tables).
  * Two domain chars share a symbol when no character atom of any pattern
  * tells them apart (a case-insensitive atom matches both cases, so `PIPE`
  * and `pipe` are one literal). Two fresh symbols, "other word char" and "other non-word
  * char", occur in no literal. Any other char is classified on first
  * sight and cached: a `\s` char is the space symbol; a char that no small
  * atom (at most `MaxClass` symbols) matches is the fresh symbol of its
  * word class; any other char is a symbol of its word class that lies in
  * the symbol set of every small atom matching it. Membership is asked of
  * each atom's own compiled Pattern, so Java supplies the
  * `CASE_INSENSITIVE | UNICODE_CASE` folds (U+212A is `k`, U+017F is `s`).
  *
  * Soundness. A cleared bit proves the regex cannot match the line: every
  * char an atom matches maps to a symbol in that atom's set (or the atom
  * is wide and needs no literal), and the B marker follows Unicode `\w`,
  * as Java 17's `\b` does under UNICODE_CHARACTER_CLASS. The regexes stay
  * the verifiers, so order, longest-match and groups are untouched. A line
  * takes the fallback (every pattern, less those that need a `\d` when the
  * line has no digit) when it holds a surrogate; U+0085, U+2028 or U+2029
  * (`$` may match before them); a combining mark (`\b` looks through it);
  * a char where Unicode `\w` and `isLetterOrDigit || '_'` disagree; or a
  * char no symbol fits; and when it ends in `\n` or `\r`. A construct
  * outside the parsed subset yields no requirement.
  */
final class LiteralScreen(patterns: IndexedSeq[Rx]) {
  import LiteralScreen._

  val size: Int = patterns.length
  private val bitWords = (size + 63) >>> 6

  private val asts: IndexedSeq[Option[Node]] =
    patterns.map(rx => try Some(new Parser(rx.source, rx.p.flags).parse()) catch {
      case _: Unsupported => None
    })

  private val atoms: IndexedSeq[Atom] = {
    val b = IndexedSeq.newBuilder[Atom]
    def walk(n: Node): Unit = n match {
      case a: Atom => b += a
      case Cat(ps) => ps.foreach(walk)
      case Alt(as) => as.foreach(walk)
      case Rep(x, _, _) => walk(x)
      case _ => ()
    }
    asts.flatten.foreach(walk)
    b.result().distinct
  }
  private val atomPattern: IndexedSeq[Pattern] = atoms.map(a => Pattern.compile(a.src, a.flags))

  private val domain: IndexedSeq[Char] = (0 until 128).map(_.toChar) ++
    atoms.flatMap(_.src).filter(_ >= 0x80)
      .flatMap(c => Seq(c, Character.toLowerCase(c), Character.toUpperCase(c), Character.toTitleCase(c)))
      .filter(c => c >= 0x80 && wordClass(c) >= 0).distinct.sorted

  // chars no atom tells apart share a symbol; word chars never share one
  // with non-word chars; all `\s` chars are one symbol
  private val (alpha, atomSyms) = {
    // per domain char, the atoms that match it
    val hits = domain.map { c =>
      val h = new java.util.BitSet(atoms.length)
      val cs = String.valueOf(c)
      atomPattern.indices.foreach(a => if (atomPattern(a).matcher(cs).matches()) h.set(a))
      h
    }
    val alpha = Alphabet(domain.indices.map { i =>
      if (isSpace(domain(i))) "space" else (wordClass(domain(i)), hits(i))
    }, domain.map(wordClass(_) == 1))
    (alpha, atoms.indices.map { a =>
      atoms(a) -> domain.indices.filter(hits(_).get(a)).map(alpha.symOf(_)).distinct.sorted.toArray
    }.toMap)
  }
  private val derive = new Derive(alpha, atomSyms)
  private val infos: IndexedSeq[Option[Info]] = asts.map(_.map(derive.info))

  /** Per pattern, the clauses the derivation keeps — at most 128 distinct
    * ones over all patterns, so a line's clause set is two words (fewer
    * clauses per pattern until they fit; fewer clauses only screen less).
    */
  private[core] val clauses: IndexedSeq[List[Set[String]]] =
    (MaxClauses to 0 by -1).iterator
      .map(max => infos.map(_.fold(List.empty[Set[String]])(derive.clausesOf(_, max))))
      .find(_.flatten.distinct.size <= 128).get

  private val clauseIds: Map[Set[String], Int] = clauses.flatten.distinct.zipWithIndex.toMap
  private def maskOf(ids: Iterable[Int]): (Long, Long) =
    ids.foldLeft((0L, 0L)) { case ((lo, hi), id) =>
      if (id < 64) (lo | 1L << id, hi) else (lo, hi | 1L << (id - 64))
    }
  private val (needLo, needHi) = clauses.map(cs => maskOf(cs.map(clauseIds))).toArray.unzip

  // the automaton over every literal, flat: `delta(state * alpha.size +
  // symbol)`; per state, the clauses its (suffix-merged) literals satisfy
  private val (delta, stateLo, stateHi) = {
    val lits = clauseIds.toSeq.flatMap { case (c, id) => c.map(_ -> id) }
      .groupMap(_._1)(_._2).toArray
    val auto = new AcAutomaton(lits.map(_._1.map(_.toInt).toArray), alpha.size)
    val (lo, hi) = auto.outputs.map { out =>
      if (out == null) (0L, 0L) else maskOf(out.flatMap(lits(_)._2))
    }.unzip
    (auto.delta.flatten, lo, hi)
  }

  private val needsDigit: IndexedSeq[Boolean] = infos.map(_.exists(_.digit))
  private val allBits: Array[Long] = bitsWhere(_ => true)
  private val noDigitBits: Array[Long] = bitsWhere(p => !needsDigit(p))
  private def bitsWhere(f: Int => Boolean): Array[Long] = {
    val b = new Array[Long](bitWords)
    (0 until size).foreach(p => if (f(p)) b(p >>> 6) |= 1L << p)
    b
  }

  // A char's code: its symbol << 2 | word << 1 | 1, or Fallback. ASCII
  // codes sit in a flat table; every other char's in 256-entry blocks
  // made on first use, 0 meaning not yet classified. The blocks are
  // shared by every thread without locks: a lost or unseen store only
  // makes a thread classify that char again, to the same code.
  private val ascii: Array[Int] = Array.tabulate(128)(c => code(alpha.symOf(c), isWordAscii(c.toChar)))
  private val blocks = new Array[Array[Int]](256)
  (128 until domain.length).foreach(i => store(domain(i), code(alpha.symOf(i), wordClass(domain(i)) == 1)))

  private val small: IndexedSeq[(Pattern, Array[Int])] =
    atoms.indices.filter(a => atomSyms(atoms(a)).length <= MaxClass)
      .map(a => (atomPattern(a), atomSyms(atoms(a))))

  private def code(t: Int, word: Boolean): Int = t << 2 | (if (word) 2 else 0) | 1

  private def store(c: Char, v: Int): Unit = {
    var b = blocks(c >>> 8)
    if (b == null) { b = new Array[Int](256); blocks(c >>> 8) = b }
    b(c & 0xff) = v
  }

  private def codeOf(c: Char): Int = {
    val b = blocks(c >>> 8)
    val v = if (b == null) 0 else b(c & 0xff)
    if (v != 0) v
    else { val k = classify(c); store(c, k); k }
  }

  /** The code of a char outside the domain (see the class doc). */
  private def classify(c: Char): Int = {
    val wc = wordClass(c)
    val space = isSpace(c)
    if (wc < 0 || (space && wc != 0)) return Fallback
    val word = wc == 1
    val hit = small.filter(a => matches(a._1, c))
    if (hit.isEmpty && !space) return code(if (word) alpha.otherWord else alpha.otherNonWord, word)
    (0 until alpha.nReal)
      .find(t => (if (space) t == alpha.space else t != alpha.space && alpha.isWord(t) == word) &&
        hit.forall(_._2.contains(t)))
      .fold(Fallback)(code(_, word))
  }

  /** Which patterns may match `line`: bit `i` clear proves pattern `i`
    * cannot. The returned array is shared on the fallback path — read only.
    */
  def screen(line: String): Array[Long] = {
    val n = line.length
    if (n > 0 && (line.charAt(n - 1) == '\n' || line.charAt(n - 1) == '\r'))
      return fallback(line)
    val a = alpha.size; val B = alpha.B; val space = alpha.space; val ascii = this.ascii
    var s = delta(alpha.S)
    var lo = stateLo(s); var hi = stateHi(s)
    var prevWord = false
    var prevSpace = false
    var i = 0
    while (i < n) {
      val c = line.charAt(i)
      val v = if (c < 0x80) ascii(c) else codeOf(c)
      if (v < 0) return fallback(line)
      val w = (v & 2) != 0
      if (w != prevWord) {
        s = delta(s * a + B); lo |= stateLo(s); hi |= stateHi(s)
        prevWord = w
      }
      val t = v >>> 2
      if (t != space || !prevSpace) { s = delta(s * a + t); lo |= stateLo(s); hi |= stateHi(s) }
      prevSpace = t == space
      i += 1
    }
    if (prevWord) { s = delta(s * a + B); lo |= stateLo(s); hi |= stateHi(s) }
    s = delta(s * a + alpha.E); lo |= stateLo(s); hi |= stateHi(s)

    val bits = new Array[Long](bitWords)
    var p = 0
    while (p < size) {
      if ((lo & needLo(p)) == needLo(p) && (hi & needHi(p)) == needHi(p)) bits(p >>> 6) |= 1L << p
      p += 1
    }
    bits
  }

  /** The class the screen reads `c` as, from its per-char cache: 1 for a
    * word char (Unicode `\w`), 0 for any other char (`\s` included), -1 for
    * a char that sends its line to the fallback.
    */
  private[core] def wordClassOf(c: Char): Int = {
    val v = if (c < 0x80) ascii(c) else codeOf(c)
    if (v < 0) -1 else (v >>> 1) & 1
  }

  /** Whether `line` takes the fallback instead of the literal pass. */
  private[core] def fallsBack(line: String): Boolean = {
    val b = screen(line)
    (b eq allBits) || (b eq noDigitBits)
  }

  private def fallback(line: String): Array[Long] =
    if (hasDigit(line)) allBits else noDigitBits
}

object LiteralScreen {

  @inline def may(bits: Array[Long], i: Int): Boolean = (bits(i >>> 6) & (1L << i)) != 0

  @inline private def isWordAscii(c: Char): Boolean =
    (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') || (c >= '0' && c <= '9') || c == '_'

  private val spaceClass = Pattern.compile("\\s", Pattern.UNICODE_CHARACTER_CLASS)
  private val wordCharClass = Pattern.compile("\\w", Pattern.UNICODE_CHARACTER_CLASS)
  private def matches(p: Pattern, c: Char): Boolean = p.matcher(String.valueOf(c)).matches()
  private def isSpace(c: Char): Boolean = matches(spaceClass, c)

  private val Fallback = -1

  /** 1 for a word char and 0 for a non-word char (Unicode `\w`), or -1
    * for a char whose part in a match the symbol stream cannot stand for:
    * a surrogate, a line terminator that `$` may match before, a combining
    * mark, or a char where Unicode `\w` and `isLetterOrDigit || '_'` (the
    * word test of `\b` without UNICODE_CHARACTER_CLASS) disagree.
    */
  private def wordClass(c: Char): Int = {
    val t = Character.getType(c)
    if (Character.isSurrogate(c) || c == '\u0085' || c == '\u2028' || c == '\u2029' ||
      t == Character.NON_SPACING_MARK || t == Character.ENCLOSING_MARK ||
      t == Character.COMBINING_SPACING_MARK) -1
    else {
      val w = matches(wordCharClass, c)
      if (w != (Character.isLetterOrDigit(c) || c == '_')) -1 else if (w) 1 else 0
    }
  }

  /** Contains a `\d` under UNICODE_CHARACTER_CLASS: Character.isDigit over
    * code points (non-BMP digits included, hence the codePointAt walk).
    */
  private[core] def hasDigit(s: String): Boolean = {
    var i = 0
    val n = s.length
    while (i < n) {
      val c = s.charAt(i)
      if (c < 0x80) {
        if (c >= '0' && c <= '9') return true
        i += 1
      } else {
        val cp = s.codePointAt(i)
        if (Character.isDigit(cp)) return true
        i += Character.charCount(cp)
      }
    }
    false
  }

  // ------------------------------------------------------------------ AST
  private sealed trait Node
  /** One char position: a literal, an escape class or a bracket class,
    * compiled with the pattern's own flags to ask which chars it matches.
    */
  private final case class Atom(src: String, flags: Int) extends Node {
    def isDigitClass: Boolean = src == "\\d"
  }
  private case object Bound extends Node
  private case object Start extends Node
  private case object End extends Node
  private case object Empty extends Node
  private final case class Cat(parts: List[Node]) extends Node
  private final case class Alt(alts: List[Node]) extends Node
  private final case class Rep(x: Node, min: Int, max: Int) extends Node // max -1: unbounded

  private final class Unsupported(msg: String) extends Exception(msg)

  /** Parser for the regex subset the construction tables use: literals,
    * escapes, bracket classes, groups, lookarounds (zero width), `|`,
    * greedy/lazy/possessive quantifiers, `^`, `$`, `\b`. Anything else
    * throws [[Unsupported]] and the pattern gets no requirement.
    */
  private final class Parser(src: String, flags: Int) {
    private var i = 0
    private def fail(what: String) = throw new Unsupported(s"$what at $i in $src")

    def parse(): Node = {
      val n = alt()
      if (i != src.length) fail("trailing input")
      n
    }

    private def alt(): Node = {
      val b = List.newBuilder[Node]
      b += seq()
      while (i < src.length && src.charAt(i) == '|') { i += 1; b += seq() }
      b.result() match { case one :: Nil => one; case many => Alt(many) }
    }

    private def seq(): Node = {
      val b = List.newBuilder[Node]
      while (i < src.length && src.charAt(i) != '|' && src.charAt(i) != ')')
        b += quant(atom())
      Cat(b.result())
    }

    private def group(): Node = {
      val r = alt()
      if (i >= src.length || src.charAt(i) != ')') fail("unclosed group")
      i += 1
      r
    }

    private def atom(): Node = src.charAt(i) match {
      case '(' =>
        i += 1
        if (src.startsWith("?:", i)) { i += 2; group() }
        else if (src.startsWith("?=", i) || src.startsWith("?!", i)) { i += 2; group(); Empty }
        else if (src.startsWith("?<=", i) || src.startsWith("?<!", i)) { i += 3; group(); Empty }
        else if (src.startsWith("?", i)) fail("group construct")
        else group()
      case '[' =>
        val start = i
        var j = i + 1
        if (j < src.length && src.charAt(j) == '^') j += 1
        if (j < src.length && src.charAt(j) == ']') j += 1
        while (j < src.length && src.charAt(j) != ']') {
          src.charAt(j) match {
            case '\\' => j += 2
            case '[' | '&' => fail("nested class")
            case _ => j += 1
          }
        }
        if (j >= src.length) fail("unclosed class")
        i = j + 1
        Atom(src.substring(start, i), flags)
      case '\\' =>
        if (i + 1 >= src.length) fail("dangling escape")
        val c = src.charAt(i + 1)
        i += 2
        c match {
          case 'b' => Bound
          case 'd' | 'D' | 's' | 'S' | 'w' | 'W' | 't' | 'n' | 'r' | 'f' => Atom("\\" + c, flags)
          case x if !Character.isLetterOrDigit(x) => Atom("\\" + x, flags)
          case _ => fail("escape")
        }
      case '^' => i += 1; Start
      case '$' => i += 1; End
      case '.' => i += 1; Atom(".", flags)
      case '*' | '+' | '?' | '{' | ')' | '|' => fail("dangling operator")
      case c if Character.isSurrogate(c) => fail("surrogate")
      case c => i += 1; Atom(c.toString, flags)
    }

    private def quant(x: Node): Node = {
      if (i >= src.length) return x
      val r = src.charAt(i) match {
        case '?' => i += 1; Rep(x, 0, 1)
        case '*' => i += 1; Rep(x, 0, -1)
        case '+' => i += 1; Rep(x, 1, -1)
        case '{' =>
          val close = src.indexOf('}', i)
          if (close < 0) fail("unclosed repeat")
          val body = src.substring(i + 1, close)
          i = close + 1
          body.split(",", -1) match {
            case Array(m) if m.nonEmpty && m.forall(_.isDigit) => Rep(x, m.toInt, m.toInt)
            case Array(m, "") if m.nonEmpty && m.forall(_.isDigit) => Rep(x, m.toInt, -1)
            case Array(m, n) if m.nonEmpty && m.forall(_.isDigit) && n.nonEmpty && n.forall(_.isDigit) =>
              Rep(x, m.toInt, n.toInt)
            case _ => fail("repeat")
          }
        case _ => return x
      }
      if (i < src.length && (src.charAt(i) == '?' || src.charAt(i) == '+')) i += 1
      r
    }
  }

  // ------------------------------------------------------------- alphabets
  /** A partition of the domain into symbols (`symOf(i)` for domain char
    * i), then the two fresh symbols, together `0 until nReal`, then three
    * markers; `space` is the symbol of the `\s` chars.
    */
  private final case class Alphabet(symOf: Array[Int], nReal: Int, realWord: Array[Boolean]) {
    val otherWord: Int = nReal - 2; val otherNonWord: Int = nReal - 1
    val S: Int = nReal; val E: Int = nReal + 1; val B: Int = nReal + 2
    val size: Int = nReal + 3
    val space: Int = symOf(' ')
    def isWord(t: Int): Boolean = t < nReal && realWord(t)
  }
  private object Alphabet {
    /** Domain chars with equal keys share a symbol; `word(i)` is the word
      * class of domain char i.
      */
    def apply(keys: IndexedSeq[Any], word: IndexedSeq[Boolean]): Alphabet = {
      val ids = keys.distinct.zipWithIndex.toMap
      val symOf = keys.map(ids).toArray
      val realWord = new Array[Boolean](ids.size + 2)
      keys.indices.foreach(i => realWord(symOf(i)) = word(i))
      realWord(ids.size) = true
      Alphabet(symOf, ids.size + 2, realWord)
    }
  }

  // ------------------------------------------------------------ derivation
  private val MaxSet = 64      // exact / prefix / suffix / clause set size
  private val MaxClass = 4     // a wider atom is "any char" (no literal)
  private val MaxClauses = 4   // kept per pattern and alphabet
  private val MaxUnroll = 4    // x{m,} keeps the requirements of x{min(m, 4)}
  private val MaxLiteral = 10  // symbols per literal in the automaton

  /** exact != null: the finite set of strings the node matches. Otherwise
    * every match starts with a `pre` string, ends with a `suf` string and
    * satisfies every clause of `cnf`. `digit`: every match holds a `\d`.
    */
  private final case class Info(exact: Set[String], pre: Set[String], suf: Set[String],
                                cnf: List[Set[String]], digit: Boolean)

  private final class Derive(a: Alphabet, atomSyms: Atom => Array[Int]) {
    private val eps = Info(Set(""), null, null, Nil, digit = false)
    private val any = Info(null, Set(""), Set(""), Nil, digit = false)
    private def marker(t: Int) = Info(Set(t.toChar.toString), null, null, Nil, digit = false)
    private val space = a.space.toChar.toString

    /** Stream spelling of a literal: a B exactly where the word class
      * changes (S and E count as non-word) and one space symbol per run of
      * spaces, or null when no stream can hold it.
      */
    private def normalize(s: String): String = {
      val sb = new java.lang.StringBuilder(s.length + 2)
      var prev = -1
      var pendingB = false
      var k = 0
      while (k < s.length) {
        val t = s.charAt(k).toInt
        if (t == a.B) pendingB = true
        else {
          if (t == a.S && (prev != -1 || pendingB)) return null
          if (prev == a.E) return null
          if (prev != -1) {
            if (a.isWord(prev) != a.isWord(t)) sb.append(a.B.toChar)
            else if (pendingB) return null
          } else if (pendingB) sb.append(a.B.toChar)
          if (!(t == a.space && prev == a.space)) sb.append(t.toChar)
          prev = t
          pendingB = false
        }
        k += 1
      }
      if (pendingB) {
        if (prev == a.E) return null
        sb.append(a.B.toChar)
      }
      sb.toString
    }

    private def cross(x: Set[String], y: Set[String]): Set[String] =
      if (x.size.toLong * y.size > MaxSet) null
      else for (p <- x; q <- y; s = normalize(p + q) if s != null) yield s

    private def pre(x: Info) = if (x.exact != null) x.exact else x.pre
    private def suf(x: Info) = if (x.exact != null) x.exact else x.suf
    private def clauses(x: Info): List[Set[String]] =
      if (x.exact != null && !x.exact.contains("")) capTo(x.exact, fromStart = true) :: x.cnf
      else x.cnf

    /** Shorten the strings of an over-large set (prefixes for prefix sets
      * and clauses, suffixes for suffix sets) until it fits.
      */
    private def capTo(xs: Set[String], fromStart: Boolean): Set[String] = {
      var s = xs
      var len = if (s.isEmpty) 0 else s.map(_.length).max
      while (s.size > MaxSet && len > 0) {
        len -= 1
        s = s.map(t => if (fromStart) t.take(len) else t.takeRight(len))
      }
      s
    }

    def info(n: Node): Info = n match {
      case at: Atom =>
        val syms = atomSyms(at)
        if (syms.length <= MaxClass) Info(syms.map(_.toChar.toString).toSet, null, null, Nil, at.isDigitClass)
        else any.copy(digit = at.isDigitClass)
      case Bound => marker(a.B)
      case Start => marker(a.S)
      case End => marker(a.E)
      case Empty => eps
      case Cat(ps) => ps.map(info).foldLeft(eps)(cat)
      case Alt(as) => as.map(info).reduceLeft(alt)
      case Rep(x, min, max) =>
        val xi = info(x)
        if (xi.exact == Set(space)) Info(if (min == 0) Set("", space) else Set(space), null, null, Nil, false)
        else if (min == 0 && max == 1) alt(xi, eps)
        else if (min == 0) any
        else {
          val core = (1 until math.min(min, MaxUnroll)).foldLeft(xi)((acc, _) => cat(acc, xi))
          if (max == min && min <= MaxUnroll) core
          else Info(null, capTo(pre(core), fromStart = true), capTo(suf(core), fromStart = false),
            clauses(core), xi.digit)
        }
    }

    private def cat(x: Info, y: Info): Info = {
      if (x.exact != null && y.exact != null) {
        val e = cross(x.exact, y.exact)
        if (e != null) return Info(e, null, null, Nil, x.digit || y.digit)
      }
      val join = cross(suf(x), pre(y))
      val cnf = clauses(x) ++ clauses(y) ++
        (if (join != null && !join.contains("")) List(join) else Nil)
      val p =
        if (x.exact == null) x.pre
        else Option(cross(x.exact, pre(y))).getOrElse(x.exact)
      val s =
        if (y.exact == null) y.suf
        else Option(cross(suf(x), y.exact)).getOrElse(y.exact)
      Info(null, p, s, prune(cnf, MaxClauses * 2), x.digit || y.digit)
    }

    private def alt(x: Info, y: Info): Info = {
      val d = x.digit && y.digit
      if (x.exact != null && y.exact != null) {
        val u = x.exact ++ y.exact
        if (u.size <= MaxSet) return Info(u, null, null, Nil, d)
      }
      val cnf = for (cx <- clauses(x); cy <- clauses(y)) yield capTo(cx ++ cy, fromStart = true)
      Info(null, capTo(pre(x) ++ pre(y), fromStart = true), capTo(suf(x) ++ suf(y), fromStart = false),
        prune(cnf, MaxClauses * 2), d)
    }

    private def realLen(l: String): Int = l.count(_.toInt < a.nReal)

    /** Drop literals implied by a shorter one in the same clause, clauses
      * that carry nothing (a literal of markers only) and clauses implied
      * by a stronger one; keep the `max` best.
      */
    private def prune(cnf: List[Set[String]], max: Int): List[Set[String]] = {
      val minimal = cnf.map(c => c.filter(l => !c.exists(o => o != l && l.contains(o))))
      val informative = minimal.distinct.filter(_.forall(l => realLen(l) > 0))
      val strongest = informative.filterNot { c =>
        informative.exists(o => (o ne c) && o != c && o.forall(l => c.exists(l.contains)))
      }
      strongest.sortBy(c => if (c.isEmpty) (0, 0, 0) else (1, -c.map(realLen).min, c.size)).take(max)
    }

    /** The kept clauses of a pattern, each literal cut to its first
      * `MaxLiteral` symbols (a prefix is implied by the literal, and short
      * literals keep the automaton small).
      */
    def clausesOf(x: Info, max: Int): List[Set[String]] =
      prune(clauses(x).map(_.map(_.take(MaxLiteral))), max)
  }
}
