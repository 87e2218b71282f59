package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

/** Span recorder. A span has a name, start and end (ns), the span that
  * caused it and a per-request id shared by all spans of one request.
  * Spans are kept in memory and written out when the run ends. A disabled
  * tracer runs the body and records nothing. */
final class Tracer(val enabled: Boolean) {
  import Tracer._

  private val ids = new AtomicLong(0L)
  private val done = new ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[Long]] {
    override def initialValue(): List[Long] = Nil
  }

  def nextRequest(): Long = ids.incrementAndGet()

  def span[T](name: String, request: Long)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parents = stack.get()
      stack.set(id :: parents)
      val t0 = System.nanoTime()
      try body
      finally {
        done.add(Span(id, parents.headOption.getOrElse(0L), request, name, t0, System.nanoTime()))
        stack.set(parents)
      }
    }

  def spans: Seq[Span] = {
    val b = Seq.newBuilder[Span]
    done.forEach(s => b += s)
    b.result()
  }

  /** Spans as JSON lines. */
  def write(path: java.nio.file.Path): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    val w = java.nio.file.Files.newBufferedWriter(path)
    try spans.sortBy(_.start).foreach { s =>
      w.write(s"""{"id":${s.id},"parent":${s.parent},"request":${s.request},""" +
        s""""name":"${s.name}","start_ns":${s.start},"end_ns":${s.end}}""")
      w.newLine()
    } finally w.close()
  }
}

object Tracer {
  case class Span(id: Long, parent: Long, request: Long, name: String,
      start: Long, end: Long) {
    def durNs: Long = end - start
  }

  /** Self time of each span: its duration minus the part of its interval
    * covered by its children (overlapping children counted once). */
  def selfTimes(spans: Seq[Span]): Map[Long, Long] = {
    val children = spans.groupBy(_.parent)
    spans.map { s =>
      val kids = children.getOrElse(s.id, Nil).map(c =>
        (math.max(c.start, s.start), math.min(c.end, s.end))).filter(x => x._2 > x._1)
        .sortBy(_._1)
      var covered = 0L
      var curS = Long.MinValue
      var curE = Long.MinValue
      kids.foreach { case (a, b) =>
        if (a > curE) { if (curE > curS) covered += curE - curS; curS = a; curE = b }
        else curE = math.max(curE, b)
      }
      if (curE > curS) covered += curE - curS
      s.id -> (s.durNs - covered)
    }.toMap
  }

  /** Total self time (ns) and span count per span name. */
  def selfByName(spans: Seq[Span]): Map[String, (Long, Int)] = {
    val self = selfTimes(spans)
    spans.groupBy(_.name).map { case (n, ss) =>
      n -> (ss.iterator.map(s => self(s.id)).sum, ss.length)
    }
  }
}
