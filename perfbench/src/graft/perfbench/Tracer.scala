package graft.perfbench

import org.apache.spark.SparkContext
import scala.collection.mutable

/** `readBytes`: what the JVM read while the span was open ([[Ledger.readBytes]]). */
final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long,
    readBytes: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
  def readMb: Double = readBytes / 1e6
}

/** Spans around the benchmark's calls into each layer. Every span also
  * becomes the Spark job group of the driver thread while it is the
  * innermost open span, so the [[Ledger]] can charge each span its jobs.
  * When tracing is off only outermost spans (the operation, its check,
  * its release) are kept, so an untraced operation pays for a few
  * property writes and reads of /proc/self/io and nothing more.
  */
final class Tracer(sc: SparkContext, var enabled: Boolean) {
  private val done = mutable.ArrayBuffer[Span]()
  private case class Open(id: Int, parent: Int, name: String, start: Long, read: Long)
  private var open = List.empty[Open]
  private var nextId = 1

  private def setGroup(): Unit = open.headOption match {
    case Some(o) => sc.setJobGroup(o.name, o.name)
    case None                  => sc.clearJobGroup()
  }

  def begin(name: String): Unit =
    if (enabled || open.isEmpty) {
      val parent = open.headOption.map(_.id).getOrElse(0)
      open = Open(nextId, parent, name, System.nanoTime(), Ledger.readBytes()) :: open
      nextId += 1
      setGroup()
    }

  /** Ends `name` and every span opened inside it; a no-op when `name` is
    * not open (an inner span of an untraced run).
    */
  def end(name: String): Unit =
    if (open.exists(_.name == name)) {
      val now = System.nanoTime()
      val read = Ledger.readBytes()
      var closed = false
      while (!closed) {
        val o = open.head
        done += Span(o.id, o.parent, o.name, o.start, now, read - o.read)
        open = open.tail
        closed = o.name == name
      }
      setGroup()
    }

  def apply[T](name: String)(body: => T): T = {
    begin(name)
    try body finally end(name)
  }

  /** Ends the innermost span if it is not `parent` and opens `name` as
    * its sibling: the phase switch made from inside a progress callback.
    */
  def phase(parent: String, name: String): Unit =
    if (enabled) {
      open.headOption.foreach(o => if (o.name != parent) end(o.name))
      begin(name)
    }

  def spans: Seq[Span] = done.toSeq

  /** The id the next span will get: spans from here on have ids >= it. */
  def nextSpanId: Int = nextId

  def json: String = done.sortBy(_.id).map { s =>
    s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
      s""""start_ns":${s.startNs},"end_ns":${s.endNs},"read_bytes":${s.readBytes}}"""
  }.mkString("[\n", ",\n", "\n]\n")
}
