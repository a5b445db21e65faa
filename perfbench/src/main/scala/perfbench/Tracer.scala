package perfbench

import org.apache.spark.SparkContext

import scala.collection.mutable

final case class Span(id: Long, name: String, op: Int, parent: Long,
    tag: String, startMs: Long, startNs: Long, var endNs: Long = -1L) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory spans around the benchmark's calls into each layer. When
  * disabled, [[span]] only runs its body: no span is kept and no local
  * property is set, so untraced runs pay nothing for tracing. */
final class Tracer(val enabled: Boolean, sc: SparkContext) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var nextId = 1L

  def span[T](name: String, op: Int, tag: String = "")(body: => T): T =
    if (!enabled) body
    else {
      val s = Span(nextId, name, op, stack.headOption.fold(0L)(_.id), tag,
        System.currentTimeMillis(), System.nanoTime())
      nextId += 1
      spans += s
      stack = s :: stack
      sc.setLocalProperty(Probe.SpanKey, s.id.toString)
      try body
      finally {
        s.endNs = System.nanoTime()
        stack = stack.tail
        sc.setLocalProperty(Probe.SpanKey,
          stack.headOption.map(_.id.toString).orNull)
      }
    }

  /** The innermost span open at wall-clock time `ms`. */
  def spanAt(ms: Long): Option[Long] = {
    val endMs = (s: Span) => s.startMs + (s.endNs - s.startNs) / 1000000L
    spans.filter(s => s.endNs >= 0 && s.startMs <= ms && ms <= endMs(s))
      .maxByOption(_.startMs).map(_.id)
  }

  /** Total duration of the spans with this name (and tag filter). */
  def seconds(name: String, tag: String => Boolean = _ => true): Double =
    spans.filter(s => s.name == name && tag(s.tag)).map(_.seconds).sum

  /** Duration minus the time covered by child spans. */
  def selfSeconds(s: Span): Double =
    s.seconds - spans.filter(_.parent == s.id).map(_.seconds).sum
}
