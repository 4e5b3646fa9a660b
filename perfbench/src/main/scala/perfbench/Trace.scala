package perfbench

import scala.collection.mutable.ArrayBuffer

/** One timed interval at a layer boundary. `parent` is the index of the
  * enclosing span (-1 at the root); spans of one op share `op`.
  */
final case class Span(name: String, start: Long, end: Long, parent: Int, op: String) {
  def dur: Long = end - start
}

/** In-memory span recorder. Spans are kept until the run ends and then
  * written as JSON lines. A disabled tracer only runs the body.
  */
final class Tracer(val enabled: Boolean) {
  val spans = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var op = ""

  def withOp[T](id: String)(body: => T): T = {
    val saved = op
    op = id
    try span("op")(body) finally op = saved
  }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val idx = spans.size
      spans += Span(name, System.nanoTime(), 0L, stack.headOption.getOrElse(-1), op)
      stack = idx :: stack
      try body
      finally {
        stack = stack.tail
        spans(idx) = spans(idx).copy(end = System.nanoTime())
      }
    }

  def write(path: java.nio.file.Path): Unit = {
    val sb = new StringBuilder
    spans.zipWithIndex.foreach { case (s, i) =>
      sb.append(s"""{"id":$i,"name":${Json.str(s.name)},"start_ns":${s.start},""" +
        s""""end_ns":${s.end},"parent":${s.parent},"op":${Json.str(s.op)},""" +
        s""""self_ns":${Tracer.selfTimes(spans.toSeq)(i)}}""").append('\n')
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, sb.toString)
  }

  /** Total self seconds per span name. */
  def selfSecondsByName: Map[String, Double] = {
    val self = Tracer.selfTimes(spans.toSeq)
    spans.indices.groupBy(i => spans(i).name).map { case (n, is) => n -> is.map(self).sum / 1e9 }
  }

  /** Total seconds per span name. */
  def secondsByName: Map[String, Double] =
    spans.groupBy(_.name).map { case (n, ss) => n -> ss.map(_.dur).sum / 1e9 }
}

object Tracer {

  /** Self time of every span: its duration minus the part of its
    * interval covered by its direct children (overlapping children are
    * merged, so concurrent children are not subtracted twice).
    */
  def selfTimes(spans: Seq[Span]): IndexedSeq[Long] = {
    val children = spans.indices.groupBy(i => spans(i).parent)
    spans.indices.map { i =>
      val s = spans(i)
      val kids = children.getOrElse(i, Nil)
        .map(k => (math.max(spans(k).start, s.start), math.min(spans(k).end, s.end)))
        .filter { case (a, b) => b > a }
        .sortBy(_._1)
      var covered = 0L
      var curA = Long.MinValue
      var curB = Long.MinValue
      kids.foreach { case (a, b) =>
        if (a > curB) {
          if (curB > curA) covered += curB - curA
          curA = a; curB = b
        } else curB = math.max(curB, b)
      }
      if (curB > curA) covered += curB - curA
      s.dur - covered
    }
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else java.lang.Double.toString(d)
}
