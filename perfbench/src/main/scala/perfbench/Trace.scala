package perfbench

import scala.collection.mutable

/** One timed call from the benchmark into a graft module. `parent` is the
  * id of the span that was open when this one started (-1 for a root).
  */
final case class Span(id: Int, name: String, parent: Int, runId: String,
                      startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** Spans opened by the benchmark's own code around each graft call. The
  * client is single-threaded, so open spans form a stack. Spans stay in
  * memory until the pass ends. When disabled, `span` only runs its body.
  *
  * `onOpen` is told the id of the innermost open span whenever it changes
  * (-1 when none is open); the Spark counters use it to tag the jobs each
  * call starts.
  */
final class Tracer(val enabled: Boolean, val runId: String,
                   onOpen: Int => Unit = _ => ()) {
  private val done = mutable.ArrayBuffer.empty[Span]
  private var stack: List[(Int, String, Long)] = Nil
  private var nextId = 0
  private var closeHooks: List[() => Unit] = Nil

  /** Runs `f` after every span closes (used to poll storage memory). */
  def afterEachSpan(f: () => Unit): Unit = closeHooks ::= f

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.map(_._1).getOrElse(-1)
      stack ::= ((id, name, System.nanoTime()))
      onOpen(id)
      try body
      finally {
        val (_, _, t0) = stack.head
        stack = stack.tail
        done += Span(id, name, parent, runId, t0, System.nanoTime())
        onOpen(stack.headOption.map(_._1).getOrElse(-1))
        closeHooks.foreach(_())
      }
    }

  def spans: Seq[Span] = done.toSeq.sortBy(_.id)
}

object Trace {

  /** Total length of the union of half-open intervals. */
  def covered(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    intervals.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Self time of every span: its duration minus the part of its interval
    * that its direct children cover. Overlapping children count once, and
    * a child running past its parent's end counts only up to that end.
    */
  def selfTimes(spans: Seq[Span]): Map[Int, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val clipped = kids.getOrElse(s.id, Nil).map(c =>
        (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
      s.id -> (s.durNs - covered(clipped))
    }.toMap
  }

  /** Spans as JSON lines, with self time, for the spans file. */
  def toJsonLines(spans: Seq[Span]): Seq[String] = {
    val self = selfTimes(spans)
    spans.map { s =>
      Json.obj(Seq(
        "id" -> Json.num(s.id), "name" -> Json.str(s.name),
        "parent" -> Json.num(s.parent), "run" -> Json.str(s.runId),
        "start_ns" -> Json.num(s.startNs), "end_ns" -> Json.num(s.endNs),
        "self_ns" -> Json.num(self(s.id))))
    }
  }
}
