package lakebench

import scala.collection.mutable.ArrayBuffer

/** One timed region around a call into a layer. `op` is the id of the
  * root span of the operation it belongs to; `parent` is -1 for a root. */
final case class Span(id: Int, parent: Int, op: Int, name: String,
    startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** In-memory span recorder for the single client thread. When disabled
  * `span` only runs its body, so untraced runs pay nothing for it. */
final class Trace(val enabled: Boolean) {
  private val done = ArrayBuffer.empty[Span]
  private var stack: List[(Int, Int)] = Nil // (span id, op id)
  private var nextId = 0

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.map(_._1).getOrElse(-1)
      val op = stack.headOption.map(_._2).getOrElse(id)
      stack = (id, op) :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        done += Span(id, parent, op, name, t0, System.nanoTime())
        stack = stack.tail
      }
    }

  def spans: Seq[Span] = done.toSeq

  /** Write every span as one JSON object per line. */
  def write(path: java.nio.file.Path): Unit = {
    val lines = done.sortBy(_.id).map(s =>
      s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"name":"${s.name}",""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs}}""")
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, lines.mkString("", "\n", "\n"))
  }
}

object Trace {

  /** Self time of each span: its duration minus the part of its interval
    * covered by its direct children (overlapping children count once,
    * and a child's time outside its parent is ignored). */
  def selfTimes(spans: Seq[Span]): Map[Int, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val ivs = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
        .filter { case (a, b) => b > a }
        .sortBy(_._1)
      var covered = 0L
      var curA = Long.MinValue
      var curB = Long.MinValue
      ivs.foreach { case (a, b) =>
        if (a > curB) {
          if (curB > curA) covered += curB - curA
          curA = a; curB = b
        } else curB = math.max(curB, b)
      }
      if (curB > curA) covered += curB - curA
      s.id -> (s.durNs - covered)
    }.toMap
  }
}
