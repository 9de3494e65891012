package graft.core

/** The Aho–Corasick automaton (Aho & Corasick, CACM 1975) in dense delta
  * form: a full transition table per node over an `alphabet` of symbol ids
  * (failure links resolved at build time, so the hot loop is a single array
  * index per input symbol) plus per-node merged output sets (pattern ids
  * ending at the node, INCLUDING every proper suffix that is itself a
  * pattern — merged through the failure links). Size is
  * Θ(alphabet·Σ|pattern|) ints, the classic time-for-space trade of the
  * dense construction. `multi_match` runs it over UTF-8 bytes (alphabet
  * 256); the construction prescreen ([[LiteralScreen]]) over a compressed
  * symbol alphabet.
  */
final class AcAutomaton(patterns: Array[Array[Int]], val alphabet: Int) extends Serializable {
  val nPatterns: Int = patterns.length

  val (delta: Array[Array[Int]], outputs: Array[Array[Int]]) = {
    val next = scala.collection.mutable.ArrayBuffer(Array.fill(alphabet)(-1))
    val out = scala.collection.mutable.ArrayBuffer(List.empty[Int])
    // trie
    patterns.zipWithIndex.foreach { case (p, pid) =>
      var s = 0
      p.foreach { c =>
        if (next(s)(c) == -1) {
          next += Array.fill(alphabet)(-1)
          out += Nil
          next(s)(c) = next.length - 1
        }
        s = next(s)(c)
      }
      out(s) = pid :: out(s)
    }
    // BFS: failure links, then resolve to a dense DFA and merge outputs
    val n = next.length
    val fail = new Array[Int](n)
    val queue = scala.collection.mutable.Queue.empty[Int]
    (0 until alphabet).foreach { c =>
      val t = next(0)(c)
      if (t == -1) next(0)(c) = 0
      else { fail(t) = 0; queue += t }
    }
    while (queue.nonEmpty) {
      val s = queue.dequeue()
      out(s) = out(s) ::: out(fail(s))
      (0 until alphabet).foreach { c =>
        val t = next(s)(c)
        if (t == -1) next(s)(c) = next(fail(s))(c)
        else { fail(t) = next(fail(s))(c); queue += t }
      }
    }
    (next.toArray,
      out.map(o => if (o.isEmpty) null else o.toArray.sorted).toArray)
  }
}

object AcAutomaton {
  /** Byte-level automaton: each pattern is its UTF-8 bytes. */
  def ofBytes(patternBytes: Array[Array[Byte]]): AcAutomaton =
    new AcAutomaton(patternBytes.map(_.map(_ & 0xff)), 256)
}
