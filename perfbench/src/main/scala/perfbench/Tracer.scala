package perfbench

import org.apache.spark.SparkContext
import scala.collection.mutable.ArrayBuffer

/** Spans recorded around the benchmark's calls into each layer. A span
  * has a name, a start, an end and the span it ran inside; spans stay in
  * memory until [[write]]. While a span is open, every Spark job its
  * thread submits carries the span's name ([[SparkCounters.SpanProperty]]).
  */
final class Tracer(sc: SparkContext, val enabled: Boolean = true) {
  import Tracer.Span

  private val spans = ArrayBuffer.empty[Span]
  private var open = List.empty[Int]

  def span[A](name: String)(f: => A): A =
    if (!enabled) f
    else {
      val id = spans.size
      val parent = open.headOption.getOrElse(-1)
      val prevProp = sc.getLocalProperty(SparkCounters.SpanProperty)
      spans += Span(id, name, parent, System.nanoTime(), 0L)
      open = id :: open
      sc.setLocalProperty(SparkCounters.SpanProperty, name)
      try f
      finally {
        spans(id) = spans(id).copy(endNs = System.nanoTime())
        open = open.tail
        sc.setLocalProperty(SparkCounters.SpanProperty, prevProp)
      }
    }

  /** Total duration of every span named `name`, in seconds. */
  def total(name: String): Double =
    spans.filter(_.name == name).map(s => (s.endNs - s.startNs) / 1e9).sum

  /** Self time per span name, in seconds: each span's duration minus the
    * part of it its child spans cover (children run sequentially). */
  def selfTimes: Map[String, Double] = {
    val childNs = spans.groupBy(_.parent).map { case (p, cs) =>
      p -> cs.map(c => c.endNs - c.startNs).sum
    }
    spans.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map(s => (s.endNs - s.startNs - childNs.getOrElse(s.id, 0L)) / 1e9).sum
    }
  }

  /** Write the spans as JSON lines (times in ms from the first span). */
  def write(path: java.nio.file.Path): Unit = {
    val t0 = spans.headOption.map(_.startNs).getOrElse(0L)
    val lines = spans.map { s =>
      f"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},""" +
        f""""start_ms":${(s.startNs - t0) / 1e6}%.3f,"end_ms":${(s.endNs - t0) / 1e6}%.3f}"""
    }
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }
}

object Tracer {
  /** A tracer that records nothing: spans just run their body. */
  val off = new Tracer(null, enabled = false)

  final case class Span(id: Int, name: String, parent: Int, startNs: Long, endNs: Long)
}
