package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.collection.mutable

/** One timed call into a layer: `parent` is the id of the enclosing span
  * (0 at the top), `req` groups the spans of one request.
  */
final case class Span(id: Long, parent: Long, name: String, req: Long, startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** In-memory span recorder for the single client thread. Disabled, a span
  * is the bare call: no clock read, no allocation beyond the closure.
  */
final class Tracer(val enabled: Boolean) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Long] = Nil
  private var nextId = 1L

  def span[T](name: String, req: Long = 0L)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(0L)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        spans += Span(id, parent, name, req, t0, System.nanoTime())
        stack = stack.tail
      }
    }

  def all: Seq[Span] = spans.toSeq

  def durationsMs(name: String): Seq[Double] = spans.iterator.filter(_.name == name).map(_.ms).toSeq

  /** Self time per span: duration minus the time its direct children
    * cover (children of one span never overlap on one thread).
    */
  def selfMs: Map[Long, Double] = {
    val childNs = mutable.HashMap.empty[Long, Long].withDefaultValue(0L)
    spans.foreach(s => if (s.parent != 0L) childNs(s.parent) += s.endNs - s.startNs)
    spans.iterator.map(s => s.id -> (s.endNs - s.startNs - childNs(s.id)) / 1e6).toMap
  }

  /** Total self time and span count per span name. */
  def selfByName: Seq[(String, Double, Int)] = {
    val self = selfMs
    spans.groupBy(_.name).toSeq.map { case (n, ss) => (n, ss.map(s => self(s.id)).sum, ss.size) }
      .sortBy(-_._2)
  }

  def write(path: Path): Unit = {
    val sb = new StringBuilder
    spans.foreach { s =>
      sb.append(s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}","req":${s.req},""")
        .append(s""""start_ns":${s.startNs},"end_ns":${s.endNs}}""").append('\n')
    }
    Files.createDirectories(path.getParent)
    Files.write(path, sb.toString.getBytes(StandardCharsets.UTF_8))
  }
}
