package graft.json

import graft.core.PyFloat

/** Canonical JSON — byte-identical to the reference's serializer
  * `json.dump(data, f, indent=2, ensure_ascii=False)`
  * (/root/reference/extractor/utils/helpers.py:9-21):
  *  - 2-space indent, `", "`-free item separator (newline-delimited), `": "`
  *    key separator, empty containers as `[]` / `{}`;
  *  - non-ASCII characters emitted raw (UTF-8 file encoding);
  *  - floats rendered with Python `repr` (shortest round-trip).
  * Key order is explicit (Vector of pairs) — Python dict insertion order is
  * part of the byte contract.
  */
sealed trait J
object J {
  case object Null extends J
  final case class B(v: Boolean) extends J
  final case class I(v: Long) extends J
  final case class F(v: Double) extends J
  final case class S(v: String) extends J
  final case class A(items: Vector[J]) extends J
  final case class O(fields: Vector[(String, J)]) extends J

  def arr(items: Iterable[J]): A = A(items.toVector)
  def obj(fields: (String, J)*): O = O(fields.toVector)
  def optS(v: Option[String]): J = v.fold[J](Null)(S.apply)
  def optI(v: Option[Long]): J = v.fold[J](Null)(I.apply)
}

object Canonical {

  def render(j: J): String = {
    // per-doc result JSON is typically 10-50 KB; starting at 1 KB cost 4-6
    // doubling regrows (arraycopy ≈ 2× the final size) per document, which
    // showed as ~7% of parse-core allocation in JFR. 32 KB skips the regrow
    // ladder for the common case; the builder is immediately unreachable.
    val sb = new java.lang.StringBuilder(32 * 1024)
    write(sb, j, 0)
    sb.toString
  }

  // one arraycopy per indent instead of 2·level char appends; levels ≥ 32
  // (never hit by the fixed-shape result docs) fall back to the loop
  private val indentCache: Array[String] = Array.tabulate(32)(l => " " * (2 * l))

  private def indent(sb: java.lang.StringBuilder, level: Int): Unit =
    if (level < indentCache.length) sb.append(indentCache(level))
    else {
      var i = 0
      while (i < level * 2) { sb.append(' '); i += 1 }
    }

  private def write(sb: java.lang.StringBuilder, j: J, level: Int): Unit = j match {
    case J.Null  => sb.append("null")
    case J.B(v)  => sb.append(if (v) "true" else "false")
    case J.I(v)  => sb.append(v)
    case J.F(v)  => sb.append(PyFloat.repr(v))
    case J.S(v)  => quote(sb, v)
    case J.A(items) =>
      if (items.isEmpty) sb.append("[]")
      else {
        sb.append("[\n")
        var first = true
        items.foreach { it =>
          if (!first) sb.append(",\n")
          first = false
          indent(sb, level + 1)
          write(sb, it, level + 1)
        }
        sb.append('\n'); indent(sb, level); sb.append(']')
      }
    case J.O(fields) =>
      if (fields.isEmpty) sb.append("{}")
      else {
        sb.append("{\n")
        var first = true
        fields.foreach { case (k, v) =>
          if (!first) sb.append(",\n")
          first = false
          indent(sb, level + 1)
          quote(sb, k); sb.append(": ")
          write(sb, v, level + 1)
        }
        sb.append('\n'); indent(sb, level); sb.append('}')
      }
  }

  /** Python json string escaping with ensure_ascii=False: only `"` `\` and
    * control chars < 0x20 are escaped (\b \t \n \f \r shorthand, else \uXXXX).
    */
  def quote(sb: java.lang.StringBuilder, s: String): Unit = {
    // bulk-append maximal runs of unescaped chars (append(CharSequence,
    // from, to) is an arraycopy); only '"', '\\' and controls < 0x20 break
    // a run — byte-identical to the per-char loop it replaces
    sb.append('"')
    val n = s.length
    var i = 0
    var start = 0
    while (i < n) {
      val c = s.charAt(i)
      if (c == '"' || c == '\\' || c < 0x20) {
        if (i > start) sb.append(s, start, i)
        (c: @annotation.switch) match {
          case '"'  => sb.append("\\\"")
          case '\\' => sb.append("\\\\")
          case '\n' => sb.append("\\n")
          case '\r' => sb.append("\\r")
          case '\t' => sb.append("\\t")
          case '\b' => sb.append("\\b")
          case '\f' => sb.append("\\f")
          case _ => sb.append(String.format("\\u%04x", Integer.valueOf(c.toInt)))
        }
        start = i + 1
      }
      i += 1
    }
    if (n > start) sb.append(s, start, n)
    sb.append('"')
  }
}
