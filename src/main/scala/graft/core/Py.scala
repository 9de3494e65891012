package graft.core

import java.util.Locale

/** Python `str`/`int`/`float` dialect shims.
  *
  * Every byte of the golden contract (reference: shubh-cmd/pdf-extractor,
  * pure-Python parsing layer) flows through these: the reference uses
  * `str.strip()`, `str.split()`, `str.title()`, `int(...)` and Python float
  * `repr` (via `json.dump`) semantics, all of which differ subtly from the
  * JVM defaults. See /root/repo/SURVEY.md §7.3.1 for the catalogued gotchas.
  */
object PyStr {

  /** Python str whitespace (what `str.strip()` / `str.split()` use):
    * Unicode WS/B/S bidirectional classes + Zs category. Differs from
    * `Character.isWhitespace` on U+00A0 (NBSP) and U+0085 (NEL).
    */
  def isSpace(c: Char): Boolean =
    c == ' ' || (c >= '\t' && c <= '\r') || (c >= 28 && c <= 31) ||
      c == 133 || c == 160 || c == 0x2028 || c == 0x2029 ||
      (c > 127 && Character.getType(c) == Character.SPACE_SEPARATOR)

  /** `str.strip()` with no args. */
  def strip(s: String): String = {
    var i = 0
    var j = s.length
    while (i < j && isSpace(s.charAt(i))) i += 1
    while (j > i && isSpace(s.charAt(j - 1))) j -= 1
    s.substring(i, j)
  }

  /** `str.split()` with no args: split on runs of whitespace, drop empties. */
  def splitWs(s: String): Array[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    val n = s.length
    while (i < n) {
      while (i < n && isSpace(s.charAt(i))) i += 1
      val start = i
      while (i < n && !isSpace(s.charAt(i))) i += 1
      if (i > start) out += s.substring(start, i)
    }
    out.toArray
  }

  /** `len(text.split())` without materializing the array. */
  def countWords(s: String): Long = {
    var count = 0L
    var i = 0
    val n = s.length
    var inWord = false
    while (i < n) {
      val ws = isSpace(s.charAt(i))
      if (!ws && !inWord) count += 1
      inWord = !ws
      i += 1
    }
    count
  }

  /** `str.split(sep)` — Python semantics: keeps empty fields, including a
    * trailing one ("a\n".split("\n") == ["a", ""]).
    */
  def split(s: String, sep: Char): Array[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var start = 0
    var i = s.indexOf(sep)
    while (i >= 0) {
      out += s.substring(start, i)
      start = i + 1
      i = s.indexOf(sep, start)
    }
    out += s.substring(start)
    out.toArray
  }

  private def isCased(c: Char): Boolean =
    Character.isUpperCase(c) || Character.isLowerCase(c) ||
      Character.getType(c) == Character.TITLECASE_LETTER

  /** `str.title()`: titlecase the first cased char of each run, lowercase
    * the rest. "1 1/2\"ø hhws".title() == "1 1/2\"Ø Hhws".
    */
  def title(s: String): String = {
    val sb = new java.lang.StringBuilder(s.length)
    var prevCased = false
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      sb.append(if (prevCased) Character.toLowerCase(c) else Character.toTitleCase(c))
      prevCased = isCased(c)
      i += 1
    }
    sb.toString
  }

  /** `str.upper()` — full Unicode mapping (ß → SS), locale-independent. */
  def upper(s: String): String = s.toUpperCase(Locale.ROOT)

  /** `str.lower()`. */
  def lower(s: String): String = s.toLowerCase(Locale.ROOT)

  /** Python `len(str)` counts code points, not UTF-16 units. */
  def len(s: String): Int = s.codePointCount(0, s.length)

  /** Python `s[:n]` slicing by code points. */
  def sliceTo(s: String, n: Int): String =
    if (s.codePointCount(0, s.length) <= n) s
    else s.substring(0, s.offsetByCodePoints(0, n))
}

object PyInt {

  /** `int(str)`: strips Python whitespace, optional sign, ASCII/Unicode
    * digits with optional single underscores between them. Throws
    * NumberFormatException on failure (≙ Python ValueError).
    */
  def parse(s0: String): Long = {
    val s = PyStr.strip(s0)
    if (s.isEmpty) throw new NumberFormatException(s0)
    var i = 0
    var neg = false
    s.charAt(0) match {
      case '+'           => i = 1
      case '-'           => neg = true; i = 1
      case _             =>
    }
    if (i >= s.length) throw new NumberFormatException(s0)
    var v = 0L
    var prevDigit = false
    var any = false
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '_') {
        if (!prevDigit || i + 1 >= s.length) throw new NumberFormatException(s0)
        prevDigit = false
      } else {
        val d = Character.digit(c, 10)
        if (d < 0) throw new NumberFormatException(s0)
        v = v * 10 + d
        prevDigit = true
        any = true
      }
      i += 1
    }
    if (!any) throw new NumberFormatException(s0)
    if (neg) -v else v
  }
}

object PyFloat {

  /** Python `repr(float)` — the shortest decimal string that round-trips,
    * with Python's fixed/scientific switchover (scientific iff the decimal
    * exponent is < -4 or >= 16). `json.dump` uses exactly this for floats.
    */
  def repr(d: Double): String = {
    if (d == 0.0) return if (1.0 / d < 0) "-0.0" else "0.0"
    if (d.isNaN) return "nan"
    if (d.isInfinite) return if (d > 0) "inf" else "-inf"

    // Find the minimal significant-digit count (1..17) that round-trips.
    var digits: String = null
    var exp10 = 0
    var p = 1
    var found = false
    while (!found && p <= 17) {
      val sci = String.format(Locale.ROOT, "%." + (p - 1) + "e", Double.box(d))
      if (java.lang.Double.parseDouble(sci) == d) {
        // sci looks like "-1.234e+05" or "1e-07"
        val ei = sci.indexOf('e')
        val mant = sci.substring(0, ei).replace("-", "").replace(".", "")
        exp10 = Integer.parseInt(sci.substring(ei + 1))
        // strip trailing zeros (shortest form)
        var end = mant.length
        while (end > 1 && mant.charAt(end - 1) == '0') end -= 1
        digits = mant.substring(0, end)
        found = true
      }
      p += 1
    }
    val neg = d < 0
    val sb = new java.lang.StringBuilder
    if (neg) sb.append('-')
    if (exp10 < -4 || exp10 >= 16) {
      // scientific: d.dddde±XX (exponent at least 2 digits)
      sb.append(digits.charAt(0))
      if (digits.length > 1) { sb.append('.'); sb.append(digits, 1, digits.length) }
      sb.append('e')
      sb.append(if (exp10 < 0) '-' else '+')
      val ea = math.abs(exp10)
      if (ea < 10) sb.append('0')
      sb.append(ea)
    } else if (exp10 >= digits.length - 1) {
      // integral value: digits then zeros then ".0"
      sb.append(digits)
      var k = digits.length - 1
      while (k < exp10) { sb.append('0'); k += 1 }
      sb.append(".0")
    } else if (exp10 >= 0) {
      sb.append(digits, 0, exp10 + 1)
      sb.append('.')
      sb.append(digits, exp10 + 1, digits.length)
    } else {
      sb.append("0.")
      var k = -1
      while (k > exp10) { sb.append('0'); k -= 1 }
      sb.append(digits)
    }
    sb.toString
  }
}
