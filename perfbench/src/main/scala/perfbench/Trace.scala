package perfbench

import scala.collection.mutable.ArrayBuffer

/** In-memory span recorder for the traced run. A span is opened and
  * closed by the benchmark around one call into a module's public API;
  * nothing inside the program is instrumented. Spans of one op share
  * its op id. When disabled every call is a direct pass-through, so the
  * timed runs carry no tracing cost.
  */
final class Trace(val enabled: Boolean) {
  final case class Span(id: Int, parent: Int, op: Int, name: String,
      startNs: Long, endNs: Long)

  private val spans = ArrayBuffer[Span]()
  private var stack = List.empty[Int]
  private var nextId = 1
  private var op = -1
  /** Time spent inside the recorder itself (its own overhead). */
  var selfNs = 0L

  def setOp(id: Int): Unit = op = id

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val r0 = System.nanoTime()
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(0)
      stack = id :: stack
      val t0 = System.nanoTime()
      selfNs += t0 - r0
      try body
      finally {
        val t1 = System.nanoTime()
        stack = stack.tail
        spans += Span(id, parent, op, name, t0, t1)
        selfNs += System.nanoTime() - t1
      }
    }

  /** Self time per span name: each span's duration minus the part of
    * its interval that its direct children cover. */
  def selfTimes: Map[String, Double] = {
    val children = spans.groupBy(_.parent)
    spans.groupMapReduce(_.name) { s =>
      val kids = children.getOrElse(s.id, Nil).map(k => (k.startNs, k.endNs)).sortBy(_._1)
      var covered = 0L
      var curS = Long.MinValue
      var curE = Long.MinValue
      kids.foreach { case (a, b) =>
        if (a > curE) { covered += curE - curS; curS = a; curE = b }
        else curE = math.max(curE, b)
      }
      covered += curE - curS
      (s.endNs - s.startNs - covered) / 1e9
    }(_ + _)
  }

  def write(path: java.nio.file.Path): Unit = {
    val sb = new StringBuilder
    spans.foreach { s =>
      sb.append(s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"name":"${s.name}",""")
        .append(s""""start_ns":${s.startNs},"end_ns":${s.endNs}}""").append('\n')
    }
    java.nio.file.Files.write(path, sb.toString.getBytes("UTF-8"))
  }
}
