package agentbench

import org.scalatest.funsuite.AnyFunSuite

class TraceSpec extends AnyFunSuite {
  private def span(id: Long, parent: Long, name: String, s: Long, e: Long) =
    Span(id, parent, name, 1, s, e)

  test("self time subtracts the union of child intervals") {
    val op = span(1, 0, "op", 0, 100)
    // [10,30) from two overlapping children, [50,60) from a third
    val kids = Seq(span(2, 1, "job", 10, 20), span(3, 1, "job", 15, 30),
      span(4, 1, "job", 50, 60))
    assert(Trace.selfTime(op, kids) == 70)
  }

  test("children are clipped to the parent interval") {
    val op = span(1, 0, "op", 0, 100)
    assert(Trace.selfTime(op, Seq(span(2, 1, "job", -50, 10), span(3, 1, "job", 90, 150))) == 80)
    assert(Trace.selfTime(op, Seq(span(2, 1, "job", 200, 300))) == 100)
    assert(Trace.selfTime(op, Nil) == 100)
  }

  test("a child covering the whole span leaves no self time") {
    assert(Trace.selfTime(span(1, 0, "op", 0, 100), Seq(span(2, 1, "job", 0, 100))) == 0)
  }

  test("self time per name over a trace: op -> job -> stage -> task") {
    val spans = Seq(span(1, 0, "op", 0, 100), span(2, 1, "job", 10, 90),
      span(3, 2, "stage", 20, 80), span(4, 3, "task", 20, 50), span(5, 3, "task", 40, 70))
    assert(Trace.selfTimeByName(spans) ==
      Map("op" -> 20L, "job" -> 20L, "stage" -> 10L, "task" -> 60L))
  }
}
