package graft

/** O4: structured logging — the engine-side replacement for the reference's
  * print-to-CloudWatch job logging (reference src/loteria/transformer/
  * transformer.py logger usage + Glue's log group). One JSON object per
  * event on stderr (stdout is reserved: Bench/Verify emit machine-read
  * lines there), so any log shipper tails a stream of parseable records.
  */
object Log {

  /** Render one event as a JSON line; a `Seq` value becomes a JSON
    * array. Exposed for tests.
    */
  def render(stage: String, fields: (String, Any)*): String = {
    def esc(s: String): String = s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }
    def v(x: Any): String = x match {
      case null => "null"
      case b: Boolean => b.toString
      case n: Byte => n.toString
      case n: Short => n.toString
      case n: Int => n.toString
      case n: Long => n.toString
      case n: Float => n.toString
      case n: Double => n.toString
      case xs: Seq[_] => xs.map(v).mkString("[", ",", "]")
      case other => "\"" + esc(other.toString) + "\""
    }
    (("event" -> stage) +: fields)
      .map { case (k, x) => "\"" + esc(k) + "\":" + v(x) }
      .mkString("{", ",", "}")
  }

  def event(stage: String, fields: (String, Any)*): Unit =
    System.err.println(render(stage, fields: _*))

  /** Time a block and log stage + elapsed_ms + the supplied fields. A
    * block that throws logs the same event with `error` -> the
    * exception's class name added, then rethrows.
    */
  def timed[T](stage: String, fields: (String, Any)*)(body: => T): T = {
    val t0 = System.nanoTime()
    def elapsed = "elapsed_ms" -> (System.nanoTime() - t0) / 1000000L
    val out =
      try body
      catch {
        case e: Throwable =>
          event(stage, (fields :+ elapsed :+ ("error" -> e.getClass.getName)): _*)
          throw e
      }
    event(stage, (fields :+ elapsed): _*)
    out
  }
}
