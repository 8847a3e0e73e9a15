package perfbench

import java.io.{OutputStream, PrintStream}
import java.nio.charset.StandardCharsets

import scala.collection.mutable

/** A timed interval at a layer boundary. `depth` orders nesting: an
  * operation the benchmark starts is 0, a stage the engine reports through
  * its JSON log is 1, a Spark job is 2.
  */
final case class Span(run: String, name: String, layer: String, startNs: Long, endNs: Long,
    depth: Int, parent: String) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** One JSON log line the engine printed (`graft.Log`), with the moment the
  * line was written. `Log.timed` prints when its block ends, so a timed
  * event is the interval `[atNs - elapsed_ms, atNs]`.
  */
final case class LogEvent(atNs: Long, event: String, fields: Map[String, String]) {
  def elapsedNs: Long = fields.get("elapsed_ms").map(_.toLong * 1000000L).getOrElse(0L)
}

/** Captures the engine's `graft.Log` lines from standard error while a
  * block runs, forwarding every byte unchanged.
  */
object LogCapture {
  private val Field = "\"([^\"]+)\":(\"((?:[^\"\\\\]|\\\\.)*)\"|[^,}]+)".r

  def parse(atNs: Long, line: String): Option[LogEvent] =
    if (!line.startsWith("{\"event\":")) None
    else {
      val fields = Field.findAllMatchIn(line).map { m =>
        m.group(1) -> Option(m.group(3)).getOrElse(m.group(2))
      }.toMap
      fields.get("event").map(e => LogEvent(atNs, e, fields - "event"))
    }

  def around[T](body: => T): (T, Seq[LogEvent]) = {
    val events = mutable.ArrayBuffer.empty[LogEvent]
    val original = System.err
    val line = new java.io.ByteArrayOutputStream()
    val tee = new OutputStream {
      override def write(b: Int): Unit = synchronized {
        original.write(b)
        if (b == '\n') {
          parse(System.nanoTime(), new String(line.toByteArray, StandardCharsets.UTF_8))
            .foreach(e => events.synchronized(events += e))
          line.reset()
        } else line.write(b)
      }
    }
    System.setErr(new PrintStream(tee, true, "UTF-8"))
    try {
      val out = body
      (out, events.synchronized(events.toList))
    } finally System.setErr(original)
  }
}

object Trace {

  /** Exclusive ("self") time per layer. Each instant of the spans' union
    * goes to the deepest spans open at that instant, split evenly when
    * several are (the engine builds gold tables concurrently), so the
    * per-layer values add up to the wall time the spans cover.
    */
  def selfTimes(spans: Seq[Span]): Map[String, Double] = {
    val out = mutable.HashMap.empty[String, Double].withDefaultValue(0.0)
    val cuts = spans.flatMap(s => Seq(s.startNs, s.endNs)).distinct.sorted
    cuts.zip(cuts.drop(1)).foreach { case (a, b) =>
      val active = spans.filter(s => s.startNs <= a && s.endNs >= b)
      if (active.nonEmpty) {
        val deepest = active.map(_.depth).max
        val leaves = active.filter(_.depth == deepest)
        leaves.foreach(s => out(s.layer) += (b - a) / 1e9 / leaves.size)
      }
    }
    out.toMap
  }

  /** Length of the union of the spans' intervals, in seconds. */
  def unionSeconds(spans: Seq[Span]): Double = {
    var total = 0L
    var curStart = Long.MinValue
    var curEnd = Long.MinValue
    spans.sortBy(_.startNs).foreach { s =>
      if (s.startNs > curEnd) {
        if (curEnd > curStart) total += curEnd - curStart
        curStart = s.startNs
        curEnd = s.endNs
      } else curEnd = math.max(curEnd, s.endNs)
    }
    if (curEnd > curStart) total += curEnd - curStart
    total / 1e9
  }

  /** Offset that turns a wall-clock millisecond (Spark's event times) into
    * the `System.nanoTime` scale the benchmark's own spans use.
    */
  lazy val msToNanoOffset: Long = System.nanoTime() - System.currentTimeMillis() * 1000000L

  def jobSpan(run: String, j: JobRecord, layer: String, parent: String): Span =
    Span(run, s"job${j.id}:${j.site}", layer, j.startMs * 1000000L + msToNanoOffset,
      math.max(j.endMs, j.startMs) * 1000000L + msToNanoOffset, 2, parent)

  private def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => " "
    case c => c.toString
  }

  /** JSON lines of the spans kept in memory, written out once at the end. */
  def toJsonLines(spans: Seq[Span]): String = spans.map { s =>
    s"""{"run":"${esc(s.run)}","name":"${esc(s.name)}","layer":"${esc(s.layer)}",""" +
      s""""start_ns":${s.startNs},"end_ns":${s.endNs},"depth":${s.depth},""" +
      s""""parent":"${esc(s.parent)}"}"""
  }.mkString("", "\n", "\n")
}
