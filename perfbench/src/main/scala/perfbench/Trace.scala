package perfbench

import scala.collection.mutable.ArrayBuffer

/** One recorded span. Times are nanoseconds since the tracer started;
  * `parent` is -1 for a root span and `rep` is -1 outside a repetition.
  */
final case class Span(id: Int, parent: Int, name: String, rep: Int,
                      startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder. Spans open and close on the driver thread
  * only (the benchmark is a closed loop with one client), so a plain
  * stack gives each span its parent. Disabled, it only runs the body.
  */
final class Tracer(enabled: Boolean) {
  private var paused = false
  private val origin = System.nanoTime()
  private val done = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0

  def span[T](name: String, rep: Int = -1)(body: => T): T =
    if (!enabled || paused) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = System.nanoTime() - origin
      try body
      finally {
        done += Span(id, parent, name, rep, t0, System.nanoTime() - origin)
        stack = stack.tail
      }
    }

  /** runs `body` with recording paused (the untraced measurement) */
  def off[T](body: => T): T = {
    val was = paused
    paused = true
    try body finally paused = was
  }

  def spans: Seq[Span] = done.toSeq

  /** median duration (s) of the spans called `name` */
  def medianSeconds(name: String): Double =
    Stats.median(done.iterator.filter(_.name == name).map(_.seconds).toSeq)
}

object Stats {
  /** median (NaN for no samples) */
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** wall seconds of `body` with its result */
  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }
}
