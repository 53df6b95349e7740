package perfbench

import org.apache.spark.SparkContext

import scala.collection.mutable

/** Spans the benchmark records around its own calls into each layer.
  *
  * A span has a kind (the layer), a name, a start, an end and the span
  * that caused it. Times are epoch milliseconds derived from a monotonic
  * clock, so they line up with the job and planning-phase timestamps the
  * listener reports. While a span is open its id is the `perfbench.span`
  * local property, so every Spark job it starts is keyed to it. Disabled,
  * the tracer only runs the body. */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  final case class Span(id: Int, parent: Int, kind: String, name: String,
                        start: Double, var end: Double)

  private val t0Nano = System.nanoTime()
  private val t0Ms = System.currentTimeMillis().toDouble
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Span]

  def nowMs: Double = t0Ms + (System.nanoTime() - t0Nano) / 1e6

  def apply[T](kind: String, name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = Span(spans.size, stack.headOption.fold(-1)(_.id), kind, name,
        nowMs, Double.NaN)
      spans += s
      stack = s :: stack
      sc.setLocalProperty("perfbench.span", s.id.toString)
      try body
      finally {
        s.end = nowMs
        stack = stack.tail
        sc.setLocalProperty("perfbench.span",
          stack.headOption.map(_.id.toString).orNull)
      }
    }
}
