package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import scala.collection.mutable

/** One timed call: `parent` is the id of the span open when it started
  * (-1 for a root) and `trace` groups the spans of one document.
  */
final case class Span(id: Int, parent: Int, trace: Long, name: String, startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** Spans kept in memory and written out when the run ends. Single-threaded:
  * it wraps calls the benchmark's main thread makes one after another.
  */
final class Tracer {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[Int]
  private var nextId = 0
  var trace: Long = 0L

  def apply[A](name: String)(f: => A): A = {
    val id = nextId
    nextId += 1
    val parent = open.headOption.getOrElse(-1)
    open = id :: open
    val t0 = System.nanoTime()
    try f
    finally {
      val t1 = System.nanoTime()
      open = open.tail
      spans += Span(id, parent, trace, name, t0, t1)
    }
  }

  def all: Vector[Span] = spans.toVector

  /** Duration minus the time covered by child spans. Children of one span
    * run one after another, so their union is their sum.
    */
  def selfNs: Map[Int, Long] = {
    val childNs = spans.filter(_.parent >= 0).groupMapReduce(_.parent)(_.durNs)(_ + _)
    spans.map(s => s.id -> (s.durNs - childNs.getOrElse(s.id, 0L))).toMap
  }

  def write(path: Path): Unit = {
    val self = selfNs
    val lines = spans.sortBy(_.id).map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"trace":${s.trace},"name":"${s.name}",""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs},"self_ns":${self(s.id)}}"""
    }
    Files.createDirectories(path.getParent)
    Files.write(path, lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
  }
}
