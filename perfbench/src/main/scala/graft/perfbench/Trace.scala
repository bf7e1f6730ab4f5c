package graft.perfbench

import scala.collection.mutable

/** One timed call across a layer boundary. `name` is `<layer>.<call>`;
  * spans of one query, batch or read share `group`. */
final case class Span(
    id: Int, name: String, group: String, parent: Int, startNs: Long, endNs: Long) {
  def layer: String = name.takeWhile(_ != '.')
  def durNs: Long = endNs - startNs
}

/** Span recorder for the traced run. When off, `span` only runs its body.
  * A traced run switches recording off for alternate operations
  * (`active`), so the same run also times them untraced and states the
  * tracing overhead. Spans are kept in memory and written out at the end. */
final class Tracer(val on: Boolean) {
  @volatile var active: Boolean = on

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 1
  private val stack = new ThreadLocal[List[Int]] {
    override def initialValue(): List[Int] = Nil
  }

  def span[T](name: String, group: String)(body: => T): T =
    if (!active) body
    else {
      val id = synchronized { val i = nextId; nextId += 1; i }
      val parents = stack.get
      stack.set(id :: parents)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.set(parents)
        synchronized { spans += Span(id, name, group, parents.headOption.getOrElse(0), t0, t1) }
      }
    }

  def all: Seq[Span] = synchronized(spans.toList)

  def writeJsonLines(path: java.nio.file.Path): Unit = {
    val t0 = all.map(_.startNs).minOption.getOrElse(0L)
    val lines = all.sortBy(_.startNs).map { s =>
      s"""{"id":${s.id},"name":"${s.name}","group":"${Report.esc(s.group)}",""" +
        s""""parent":${s.parent},"start_us":${(s.startNs - t0) / 1000},""" +
        s""""end_us":${(s.endNs - t0) / 1000}}"""
    }
    java.nio.file.Files.writeString(path, lines.mkString("", "\n", "\n"))
  }
}

object Tracer {
  /** Self seconds per span name, summed over its spans. A span's self time
    * is its duration minus the union of its children's intervals, clipped
    * to it. */
  def selfSeconds(spans: Seq[Span]): Map[String, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.groupMapReduce(_.name) { s =>
      val covered = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
        .foldLeft((0L, Long.MinValue)) { case ((sum, end), (a, b)) =>
          if (b <= end) (sum, end)
          else (sum + b - math.max(a, end), b)
        }._1
      (s.durNs - covered) / 1e9
    }(_ + _)
  }
}
