package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer

/** One recorded interval: name, start and end (monotonic nanos), the span
  * that caused it (-1 for a root) and the run it belongs to.
  */
final case class Span(id: Int, name: String, startNs: Long, endNs: Long,
    parent: Int, runId: String) {
  def durNs: Long = endNs - startNs
}

/** In-memory span collector for the traced passes. Spans are opened and
  * closed on the driver thread around calls into the program's public
  * functions, kept in memory, and written out once at the end of the run.
  * [[Tracer.Off]] records nothing and adds no work to untraced passes.
  */
class Tracer(val runId: String) {
  private val spans = ArrayBuffer.empty[Span]
  @volatile private var stack = List.empty[Int]
  private var nextId = 0

  private def newId(): Int = synchronized { nextId += 1; nextId - 1 }

  def enabled: Boolean = true

  /** Run `body` inside a span named `name`, child of the innermost open one. */
  def span[T](name: String)(body: => T): T = {
    val id = newId()
    val parent = stack.headOption.getOrElse(-1)
    stack = id :: stack
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      stack = stack.tail
      synchronized { spans += Span(id, name, t0, t1, parent, runId) }
    }
  }

  /** Record an interval measured on another thread (inside the fetcher). */
  def add(name: String, startNs: Long, endNs: Long, parent: Int): Unit = {
    val id = newId()
    synchronized { spans += Span(id, name, startNs, endNs, parent, runId) }
  }

  /** Id of the innermost open span, -1 at top level. */
  def current: Int = stack.headOption.getOrElse(-1)

  /** Spans recorded since `mark` (an index from [[size]]). */
  def since(mark: Int): Seq[Span] = synchronized(spans.drop(mark).toSeq)
  def size: Int = synchronized(spans.size)

  def writeTo(path: String): Unit = {
    val p = Paths.get(path)
    Files.createDirectories(p.getParent)
    val kids = spans.toSeq.groupBy(_.parent)
    val lines = spans.map { s =>
      s"""{"id":${s.id},"name":${Json.str(s.name)},"start_ns":${s.startNs},"end_ns":${s.endNs},"parent":${s.parent},"run":${Json.str(s.runId)},"self_ns":${Tracer.selfNs(s, kids.getOrElse(s.id, Nil))}}"""
    }
    Files.write(p, (lines.mkString("\n") + "\n").getBytes(UTF_8))
  }
}

object Tracer {

  /** The no-op tracer of untraced passes. */
  object Off extends Tracer("off") {
    override def enabled: Boolean = false
    override def span[T](name: String)(body: => T): T = body
    override def add(name: String, s: Long, e: Long, p: Int): Unit = ()
  }

  /** Total length of the union of `[start, end)` intervals (any unit). */
  def unionLength(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s
        curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Self time: the span's duration minus the part of it that its direct
    * `children` cover (clipped to the parent, overlaps counted once).
    */
  def selfNs(s: Span, children: Seq[Span]): Long =
    s.durNs - unionLength(children.map(k =>
      (math.max(k.startNs, s.startNs), math.min(k.endNs, s.endNs))))

  /** Self seconds per span name over the spans of one run. */
  def selfByName(spans: Seq[Span]): Map[String, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map(s => selfNs(s, kids.getOrElse(s.id, Nil))).sum / 1e9
    }
  }
}
