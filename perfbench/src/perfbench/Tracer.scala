package perfbench

import java.io.PrintWriter
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

/** One recorded interval: `layer` is the module the call went into, `op`
  * the benchmark operation it served, `parent` the enclosing span (0 for
  * none). Times are System.nanoTime. */
final case class Span(id: Long, name: String, layer: String, parent: Long,
    op: Long, start: Long, end: Long) {
  def seconds: Double = (end - start) / 1e9
}

/** In-memory span recorder around the benchmark's calls into each layer.
  * Recording is switched per operation (`on`), so a traced run can
  * interleave traced and untraced operations and report the difference
  * as tracing overhead. Spans are written out once, at the end. */
object Tracer {
  @volatile var on = false
  private val spans = ArrayBuffer.empty[Span]
  private val ids = new AtomicLong(0)
  private val current = new ThreadLocal[java.lang.Long] {
    override def initialValue(): java.lang.Long = 0L
  }

  def currentSpan: Long = current.get

  /** Time `body` as a span of `layer`; a no-op wrapper while off. */
  def span[T](name: String, layer: String, op: Long,
      parent: Long = currentSpan)(body: => T): T =
    if (!on) body
    else {
      val id = ids.incrementAndGet()
      val saved = current.get
      current.set(id)
      val t0 = System.nanoTime()
      try body
      finally {
        add(Span(id, name, layer, parent, op, t0, System.nanoTime()))
        current.set(saved)
      }
    }

  /** A span measured elsewhere (e.g. from streaming progress reports). */
  def record(name: String, layer: String, op: Long, parent: Long,
      start: Long, end: Long): Long = {
    val id = ids.incrementAndGet()
    add(Span(id, name, layer, parent, op, start, end))
    id
  }

  private def add(s: Span): Unit = synchronized { spans += s }

  def all: Seq[Span] = synchronized { spans.toList }

  /** Per-layer self time: each span's duration minus the part of its
    * interval covered by its children, summed by layer. */
  def selfSeconds: Map[String, Double] = {
    val ss = all
    val kids = ss.groupBy(_.parent)
    ss.map { s =>
      val covered = union(kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
        .filter { case (a, b) => b > a })
      s.layer -> ((s.end - s.start - covered) / 1e9)
    }.groupMapReduce(_._1)(_._2)(_ + _)
  }

  private def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curStart = Long.MinValue
    var curEnd = Long.MinValue
    iv.sortBy(_._1).foreach { case (a, b) =>
      if (a > curEnd) {
        total += curEnd - curStart
        curStart = a; curEnd = b
      } else curEnd = math.max(curEnd, b)
    }
    total + (curEnd - curStart)
  }

  def write(path: String): Unit = {
    val w = new PrintWriter(path, "UTF-8")
    try all.sortBy(_.start).foreach { s =>
      w.println(s"""{"id":${s.id},"name":"${s.name}","layer":"${s.layer}",""" +
        s""""parent":${s.parent},"op":${s.op},"start_ns":${s.start},"end_ns":${s.end}}""")
    } finally w.close()
  }
}
