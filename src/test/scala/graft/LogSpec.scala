package graft

import org.scalatest.funsuite.AnyFunSuite

class LogSpec extends AnyFunSuite {

  test("render emits one valid JSON object with typed values") {
    val line = Log.render("gold_build", "table" -> "gold_draw_summary",
      "rows" -> 42L, "ok" -> true, "ratio" -> 0.5)
    assert(line ==
      """{"event":"gold_build","table":"gold_draw_summary","rows":42,"ok":true,"ratio":0.5}""")
  }

  test("render escapes quotes, backslashes, and control characters") {
    val line = Log.render("x", "msg" -> "a\"b\\c\nd\te")
    assert(line == """{"event":"x","msg":"a\"b\\c\nd\te"}""")
    val ctl = Log.render("x", "msg" -> "a\u0001b")
    assert(ctl == "{\"event\":\"x\",\"msg\":\"a\\u0001b\"}")
  }

  test("render emits a Seq as a JSON array of typed values") {
    assert(Log.render("x", "paths" -> Seq("a\"b", "c"), "ns" -> Seq(1L, 2L), "none" -> Nil) ==
      """{"event":"x","paths":["a\"b","c"],"ns":[1,2],"none":[]}""")
  }

  test("timed returns the body's value and logs elapsed") {
    assert(Log.timed("t")(7) == 7)
  }

  test("timed logs a failed block with its error class, then rethrows") {
    val buf = new java.io.ByteArrayOutputStream()
    val saved = System.err
    System.setErr(new java.io.PrintStream(buf, true, "UTF-8"))
    val thrown =
      try intercept[IllegalStateException] {
        Log.timed("gold_build", "table" -> "gold_x")(throw new IllegalStateException("boom"))
      } finally System.setErr(saved)
    assert(thrown.getMessage == "boom")
    val lines = buf.toString("UTF-8").linesIterator.filter(_.contains("gold_build")).toList
    assert(lines.size == 1, lines)
    assert(lines.head.matches(
      """\{"event":"gold_build","table":"gold_x","elapsed_ms":\d+,""" +
        """"error":"java.lang.IllegalStateException"\}"""), lines.head)
  }
}
