package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

/** One timed interval of a traced run. `parent` is 0 for a root span. */
final case class Span(id: Long, parent: Long, runId: String, name: String, layer: String,
    startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

object Span {

  /** Nanoseconds of `[start, end)` covered by the union of `children`,
    * each clipped to the parent's interval. Children may overlap (Spark
    * stages of one job run concurrently), so overlap is counted once.
    */
  def coveredNs(start: Long, end: Long, children: Seq[(Long, Long)]): Long = {
    val clipped = children.map { case (s, e) => (math.max(s, start), math.min(e, end)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var covered = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    clipped.foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) covered += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) covered += curE - curS
    covered
  }

  /** A span's self time: its duration minus the time its children cover. */
  def selfNs(span: Span, children: Seq[Span]): Long =
    span.durNs - coveredNs(span.startNs, span.endNs, children.map(c => (c.startNs, c.endNs)))

  /** Self time summed per layer over a whole span forest. */
  def selfByLayer(spans: Seq[Span]): Map[String, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map(s => selfNs(s, kids.getOrElse(s.id, Nil))).sum
    }
  }
}

/** In-memory span recorder. Spans are kept until the run ends and are
  * written out then, so recording costs one allocation per span.
  */
final class Tracer(val runId: String) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0)
  private val stack = new ThreadLocal[List[Long]] { override def initialValue(): List[Long] = Nil }

  def nextId(): Long = ids.incrementAndGet()
  def current: Long = stack.get().headOption.getOrElse(0L)

  def record(s: Span): Unit = spans.add(s)

  /** Time `body` as a span under the calling thread's current span. */
  def span[T](name: String, layer: String)(body: Long => T): T = {
    val id = nextId()
    val parent = current
    stack.set(id :: stack.get())
    val t0 = System.nanoTime()
    try body(id)
    finally {
      val t1 = System.nanoTime()
      stack.set(stack.get().tail)
      spans.add(Span(id, parent, runId, name, layer, t0, t1))
    }
  }

  def all: Seq[Span] = spans.asScala.toVector

  def writeJsonl(path: java.nio.file.Path): Unit = {
    val lines = all.sortBy(_.startNs).map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"run_id":${Json.str(s.runId)},""" +
        s""""name":${Json.str(s.name)},"layer":${Json.str(s.layer)},""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs}}"""
    }
    java.nio.file.Files.write(path, lines.asJava)
  }
}
