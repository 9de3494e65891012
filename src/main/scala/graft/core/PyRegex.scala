package graft.core

import java.util.regex.{Matcher, MatchResult, Pattern}

/** Python `re` dialect shim over `java.util.regex`.
  *
  * - Python `re` on `str` is Unicode-aware for `\d \w \s \b` → compile with
  *   UNICODE_CHARACTER_CLASS.
  * - `re.IGNORECASE` on `str` does Unicode case folding → CASE_INSENSITIVE
  *   | UNICODE_CASE.
  * - `re.match` anchors at the start only → `Matcher.lookingAt`.
  * - `findall` returns group(1) strings when the pattern has exactly one
  *   capture group ('' for a non-participating group) — the reference's
  *   phone entity depends on this quirk
  *   (/root/reference/extractor/parsers/standard.py:14,33).
  */
final class Rx private (val source: String, val p: Pattern) {
  private val nGroups = p.matcher("").groupCount()
  private val id = Rx.nextId.getAndIncrement()

  // Matcher reuse: Rx instances are cached and shared across threads, and
  // the parse core calls them once per (line × pattern) — allocating a
  // fresh Matcher each call was ~5% of JFR parse samples. Reuse is safe
  // because every public result is an immutable toMatchResult() snapshot;
  // the live Matcher never escapes a call. The cache is ONE ThreadLocal
  // holding a dense array indexed by Rx id — a ThreadLocal PER Rx put
  // ~500 entries in every thread's ThreadLocalMap, and the resulting
  // collision probing was ~10% of JFR parse samples (ThreadLocal.get/
  // setInitialValue frames); one ThreadLocal + array index is one clean
  // map hit regardless of how many patterns exist.
  private def m(s: String): Matcher = {
    var arr = Rx.tlMatchers.get()
    if (id >= arr.length) {
      arr = java.util.Arrays.copyOf(arr, math.max(arr.length * 2, id + 1))
      Rx.tlMatchers.set(arr)
    }
    var mm = arr(id)
    if (mm == null) { Rx.tlInits.incrementAndGet(); mm = p.matcher(""); arr(id) = mm }
    mm.reset(s)
    mm
  }

  /** re.search → first match anywhere, or None. */
  def search(s: String): Option[Mtch] = {
    val mm = m(s)
    if (mm.find()) Some(new Mtch(mm.toMatchResult)) else None
  }

  def containsMatch(s: String): Boolean = m(s).find()

  /** re.match succeeds → a match anchored at position 0 exists. */
  def matchesAt(s: String): Boolean = m(s).lookingAt()

  /** re.finditer — non-overlapping matches left to right. */
  def finditer(s: String): List[Mtch] = {
    val mm = m(s)
    val out = List.newBuilder[Mtch]
    while (mm.find()) out += new Mtch(mm.toMatchResult)
    out.result()
  }

  /** re.findall for patterns with 0 or 1 capture group (all the reference
    * needs): 0 groups → full matches; 1 group → group-1 values with '' for
    * a group that did not participate.
    */
  def findall(s: String): List[String] = {
    require(nGroups <= 1, s"findall tuple semantics not implemented for $source")
    val mm = m(s)
    val out = List.newBuilder[String]
    while (mm.find()) {
      if (nGroups == 0) out += mm.group(0)
      else { val g = mm.group(1); out += (if (g == null) "" else g) }
    }
    out.result()
  }
}

final class Mtch(r: MatchResult) {
  def group0: String = r.group(0)
  /** group(i) — null when the group did not participate (≙ Python None). */
  def group(i: Int): String = r.group(i)
  def start: Int = r.start()
  def end: Int = r.end()
  def groupCount: Int = r.groupCount()
  /** match.groups() — Seq of nullable strings. */
  def groups: IndexedSeq[String] = (1 to r.groupCount()).map(r.group)
}

object Rx {
  /** Diagnostic: thread-local matcher initializations (expected ≈ threads ×
    * distinct patterns; a large number means matcher reuse is broken). */
  val tlInits = new java.util.concurrent.atomic.AtomicLong()

  private val nextId = new java.util.concurrent.atomic.AtomicInteger()
  private[core] val tlMatchers = new ThreadLocal[Array[Matcher]] {
    override def initialValue(): Array[Matcher] = new Array[Matcher](1024)
  }

  private val base = Pattern.UNICODE_CHARACTER_CLASS
  private val ic = Pattern.CASE_INSENSITIVE | Pattern.UNICODE_CASE

  // Split caches per flag, keyed by the pattern String itself: call sites
  // pass literal patterns per LINE processed, so this lookup is the hottest
  // non-regex path in the parse core (JFR: tuple-keyed computeIfAbsent —
  // tuple alloc + product murmurhash per call — was ~15% of parse samples).
  // String keys hit the JVM's cached String.hashCode; the get-first fast
  // path skips computeIfAbsent's lambda machinery. Benign race on first
  // use: both threads compile equal patterns, putIfAbsent keeps one.
  private val cacheCS = new java.util.concurrent.ConcurrentHashMap[String, Rx]()
  private val cacheCI = new java.util.concurrent.ConcurrentHashMap[String, Rx]()

  def apply(pattern: String, ignoreCase: Boolean = false): Rx = {
    val cache = if (ignoreCase) cacheCI else cacheCS
    val hit = cache.get(pattern)
    if (hit != null) hit
    else {
      val rx = new Rx(pattern, compile(pattern, ignoreCase))
      val prev = cache.putIfAbsent(pattern, rx)
      if (prev != null) prev else rx
    }
  }

  /** The dialect's flags without the cache or a matcher slot: for
    * patterns built from input text, which must not accumulate here.
    */
  def compile(pattern: String, ignoreCase: Boolean): Pattern =
    Pattern.compile(pattern, if (ignoreCase) base | ic else base)

  /** re.escape (Python ≥3.7): backslash-escape only special characters. */
  private val escapeSet = "()[]{}?*+-|^$\\.&~# \t\n\r\f".toSet
  def escape(s: String): String = {
    val sb = new java.lang.StringBuilder(s.length + 8)
    s.foreach { c => if (escapeSet(c)) { sb.append('\\'); sb.append(c) } else sb.append(c) }
    sb.toString
  }
}
