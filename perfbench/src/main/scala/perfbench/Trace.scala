package perfbench

import scala.collection.mutable.ArrayBuffer

/** In-memory spans around the benchmark's calls into the program.
  *
  * A span has a name, a start and end (System.nanoTime), the span that
  * caused it and the operation it belongs to. Outside a traced
  * operation [[span]] only runs the body, so untraced work pays nothing.
  */
final class Trace {
  import Trace.Span

  private val done = ArrayBuffer[Span]()
  private var stack: List[Int] = Nil
  private var nextId = 0
  private var op = -1L
  private var enabled = false

  /** Operation the following spans belong to, and whether it is traced. */
  def beginOp(id: Long, traced: Boolean): Unit = { op = id; enabled = traced }

  def endOp(): Unit = beginOp(-1, traced = false)

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val wall = System.currentTimeMillis()
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack = stack.tail
        done += Span(id, parent, op, name, t0, t1, wall)
      }
    }

  def spans: Seq[Span] = done.toSeq

  /** Self time of the spans, summed by name, in seconds. */
  def selfSecondsByName: Map[String, Double] =
    Trace.selfTimes(done.toSeq).groupBy(_._1.name)
      .map { case (n, st) => n -> st.map(_._2).sum / 1e9 }

  /** Summed duration of every span named `name`, in seconds. */
  def totalSeconds(name: String): Double =
    done.filter(_.name == name).map(s => s.end - s.start).sum / 1e9
}

object Trace {
  final case class Span(id: Int, parent: Int, op: Long, name: String,
      start: Long, end: Long, wallStartMs: Long) {
    def duration: Long = end - start
  }

  /** Self time of each span: its duration minus the part of its
    * interval its direct children cover.
    */
  def selfTimes(spans: Seq[Span]): Seq[(Span, Long)] = {
    val children = spans.groupBy(_.parent)
    spans.map { s =>
      val kids = children.getOrElse(s.id, Nil).map(k => (k.start, k.end))
      s -> (s.duration - Stats.coveredWithin((s.start, s.end), kids))
    }
  }
}
