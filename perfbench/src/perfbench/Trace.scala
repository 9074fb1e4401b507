package perfbench

import scala.collection.mutable.ArrayBuffer

/** One traced interval. `parent` is 0 for a root span; `unit` is the
  * id of the unit of work the span belongs to (-1: none). Times are
  * `System.nanoTime` values. */
final case class Span(id: Int, name: String, start: Long, end: Long, parent: Int, unit: Int) {
  def dur: Long = end - start
}

/** In-memory span recorder; written out once, at exit. When disabled,
  * [[span]] runs its body and records nothing. */
final class Tracer(val enabled: Boolean) {
  private val buf = ArrayBuffer.empty[Span]
  private var next = 1
  private val open = new ThreadLocal[List[Int]] { override def initialValue(): List[Int] = Nil }

  def current: Int = open.get.headOption.getOrElse(0)

  def span[A](name: String, unit: Int)(body: => A): A =
    if (!enabled) body
    else {
      val id = synchronized { next += 1; next - 1 }
      val parent = current
      open.set(id :: open.get)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        open.set(open.get.tail)
        synchronized { buf += Span(id, name, t0, t1, parent, unit) }
      }
    }

  /** Record a span whose bounds were observed elsewhere (e.g. from the
    * timestamps of portal calls); returns its id. */
  def record(name: String, start: Long, end: Long, parent: Int, unit: Int): Int =
    if (!enabled) 0
    else synchronized {
      val id = next; next += 1
      buf += Span(id, name, start, end, parent, unit)
      id
    }

  def spans: Seq[Span] = synchronized(buf.toList)

  /** Forget what was recorded so far (set-up and warm-up). */
  def clear(): Unit = synchronized(buf.clear())
}

object Trace {
  /** Total length of the union of `[start, end)` intervals. */
  def unionLength(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter(i => i._2 > i._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Self time per span id: the span's duration minus the part of its
    * interval that its children cover (overlapping children count once). */
  def selfTimes(spans: Seq[Span]): Map[Int, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val covered = unionLength(kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.start, s.start), math.min(c.end, s.end))))
      s.id -> (s.dur - covered)
    }.toMap
  }

  /** name -> (spans, total ns, self ns). */
  def byName(spans: Seq[Span]): Map[String, (Int, Long, Long)] = {
    val self = selfTimes(spans)
    spans.groupBy(_.name).map { case (n, ss) =>
      n -> ((ss.length, ss.map(_.dur).sum, ss.map(s => self(s.id)).sum))
    }
  }

  def json(spans: Seq[Span]): String = {
    val self = selfTimes(spans)
    val t0 = if (spans.isEmpty) 0L else spans.map(_.start).min
    spans.sortBy(_.start).map { s =>
      s"""{"id":${s.id},"name":"${s.name}","start_us":${(s.start - t0) / 1000},""" +
        s""""end_us":${(s.end - t0) / 1000},"parent":${s.parent},"unit":${s.unit},""" +
        s""""self_us":${self(s.id) / 1000}}"""
    }.mkString("[\n", ",\n", "\n]\n")
  }
}
