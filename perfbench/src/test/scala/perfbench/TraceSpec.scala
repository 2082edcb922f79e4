package perfbench

import scala.collection.mutable

import org.scalatest.funsuite.AnyFunSuite

class TraceSpec extends AnyFunSuite {
  private def span(start: Double, end: Double) = Span(0, 0, "op", "k", start, end, mutable.Map.empty)

  test("self time is the span minus the union of its children, clipped to the span") {
    val parent = span(0, 100)
    // [10,30] and [20,40] overlap (30 covered); [90,120] is clipped to [90,100].
    val kids = Seq(span(20, 40), span(10, 30), span(90, 120), span(200, 300))
    assert(Tracer.selfMs(parent, kids) == 60.0)
    assert(Tracer.selfMs(parent, Nil) == 100.0)
  }
}
