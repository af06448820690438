package perfbench

import scala.collection.mutable

/** One layer call: `kind` is "unit" for a refresh, request or pass, "build"
  * for a call that returns a DataFrame, "action" for a call that runs
  * Spark jobs to produce a result, and "layer" for a call that does both.
  */
final case class Span(trace: Int, id: Int, parent: Int, name: String,
    kind: String, startMs: Long, startNs: Long, var endNs: Long = 0L) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans recorded around the benchmark's own calls into each layer. They
  * are kept in memory and written out once the run ends; with tracing off
  * a span only runs its body.
  */
final class Tracer {
  var on = false
  val spans = mutable.ArrayBuffer.empty[Span]
  private var trace = 0
  private var nextId = 0
  private var stack: List[Span] = Nil

  def unit[T](name: String)(body: => T): T = {
    trace += 1
    span(name, "unit")(body)
  }

  def span[T](name: String, kind: String = "layer")(body: => T): T =
    if (!on) body
    else {
      nextId += 1
      val s = Span(trace, nextId, stack.headOption.fold(0)(_.id), name, kind,
        System.currentTimeMillis(), System.nanoTime())
      stack = s :: stack
      try body
      finally {
        s.endNs = System.nanoTime()
        stack = stack.tail
        spans += s
      }
    }

  def build[T](name: String)(body: => T): T = span(name, "build")(body)
  def action[T](name: String)(body: => T): T = span(name, "action")(body)

  /** Duration minus the time its direct children cover. */
  def selfSeconds(s: Span): Double =
    s.seconds - spans.filter(_.parent == s.id).map(_.seconds).sum

  def json: String = spans.map { s =>
    f"""{"trace":${s.trace},"id":${s.id},"parent":${s.parent},""" +
      f""""name":"${s.name}","kind":"${s.kind}","start_ms":${s.startMs},""" +
      f""""duration_s":${s.seconds}%.6f,"self_s":${selfSeconds(s)}%.6f}"""
  }.mkString("[\n", ",\n", "\n]\n")
}
