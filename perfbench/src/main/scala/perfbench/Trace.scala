package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

/** One timed interval at a layer boundary. `trace` groups the spans of one
  * request or cycle; `parent` is 0 for a root span.
  */
final case class Span(id: Long, parent: Long, trace: Long, name: String, startNs: Long, endNs: Long) {
  def durationNs: Long = endNs - startNs
}

/** Records spans in memory when on; a no-op otherwise. Spans are written
  * out once, when the run ends.
  */
final class Tracer(val on: Boolean) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0)

  /** Run `f` inside a span; `f` gets the span id, to parent its children. */
  def span[A](name: String, trace: Long, parent: Long = 0)(f: Long => A): A =
    if (!on) f(0)
    else {
      val id = ids.incrementAndGet()
      val start = System.nanoTime()
      try f(id) finally spans.add(Span(id, parent, trace, name, start, System.nanoTime()))
    }

  private val figures = new java.util.concurrent.ConcurrentHashMap[String, ConcurrentLinkedQueue[Double]]()

  /** Record a measured figure that is not a duration (e.g. a byte count). */
  def figure(name: String, value: Double): Unit =
    if (on) figures.computeIfAbsent(name, _ => new ConcurrentLinkedQueue[Double]()).add(value)

  def figures(name: String): Vector[Double] =
    Option(figures.get(name)).map(_.asScala.toVector).getOrElse(Vector.empty)

  def all: Vector[Span] = spans.asScala.toVector.sortBy(s => (s.startNs, s.id))

  /** One JSON object per line. */
  def write(path: Path): Unit = {
    Files.createDirectories(path.getParent)
    val lines = all.map(s =>
      s"""{"id":${s.id},"parent":${s.parent},"trace":${s.trace},"name":"${s.name}",""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs}}""")
    Files.write(path, lines.asJava, StandardCharsets.UTF_8)
  }
}

object Trace {

  /** Self time of each span: its duration minus the part of its interval
    * that its children cover (overlapping children count once).
    */
  def selfNs(spans: Seq[Span]): Map[Long, Long] = {
    val children = spans.groupBy(_.parent)
    spans.map { s =>
      val covered = children.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
        .filter { case (a, b) => b > a }
        .sortBy(_._1)
        .foldLeft((0L, Long.MinValue)) { case ((sum, reach), (a, b)) =>
          if (b <= reach) (sum, reach)
          else (sum + b - math.max(a, reach), b)
        }._1
      s.id -> (s.durationNs - covered)
    }.toMap
  }

  /** Total self time per span name, in milliseconds. */
  def selfMsByName(spans: Seq[Span]): Map[String, Double] = {
    val self = selfNs(spans)
    spans.groupBy(_.name).map { case (n, ss) => n -> ss.map(s => self(s.id)).sum / 1e6 }
  }
}
