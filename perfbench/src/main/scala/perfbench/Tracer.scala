package perfbench

import scala.collection.mutable

/** One timed call into a layer: `name` starts with the layer
  * (`sources.`, `strsim.`, `functions.`, `operators.`, `plans.`, `bench.`). */
final case class Span(id: Int, parent: Int, name: String, startNs: Long,
    endNs: Long, counts: Map[String, Double]) {
  def durNs: Long = endNs - startNs
  def layer: String = name.takeWhile(_ != '.')
}

/** Span recorder for the single driver thread. Spans stay in memory until
  * the run ends. When disabled, `span` only runs its body. */
final class Tracer(val enabled: Boolean) {
  private final class Open(val id: Int, val parent: Int, val name: String,
      val startNs: Long) {
    val counts = mutable.LinkedHashMap.empty[String, Double]
  }
  private val done = mutable.ArrayBuffer.empty[Span]
  private var open: List[Open] = Nil
  private var nextId = 1

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val o = new Open(nextId, open.headOption.fold(0)(_.id), name, System.nanoTime())
      nextId += 1
      open = o :: open
      try body
      finally {
        open = open.tail
        done += Span(o.id, o.parent, o.name, o.startNs, System.nanoTime(), o.counts.toMap)
      }
    }

  /** Attaches a count to the innermost open span. */
  def count(key: String, value: Double): Unit =
    if (enabled) open.headOption.foreach(_.counts(key) = value)

  def spans: Seq[Span] = done.toSeq

  /** Duration minus the time its direct children cover; children of one
    * span never overlap because every span opens on the driver thread. */
  def selfNs(s: Span): Long = s.durNs - done.iterator.filter(_.parent == s.id).map(_.durNs).sum

  def toJson: String = done.map { s =>
    val counts = s.counts.map { case (k, v) => s"${Json.str(k)}:${Json.num(v)}" }.mkString(",")
    s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},""" +
      s""""start_ns":${s.startNs},"end_ns":${s.endNs},"self_ns":${selfNs(s)},"counts":{$counts}}"""
  }.mkString("[\n", ",\n", "\n]")
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)
}
