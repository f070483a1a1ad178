package perfbench

import org.scalatest.funsuite.AnyFunSuite

class TraceSpec extends AnyFunSuite {
  private def span(id: Int, name: String, a: Long, b: Long, parent: Int) =
    Span(id, name, a, b, parent, pipeline = 1)

  test("self time counts overlapping children once") {
    val root = span(1, "pipeline", 0, 100, -1)
    // [10,40) and [30,60) overlap on [30,40): together they cover 50
    val kids = Seq(span(2, "job", 10, 40, 1), span(3, "job", 30, 60, 1))
    assert(Trace.selfNs(root, kids) == 50)
  }

  test("children are clipped to the parent and nested ones add nothing") {
    val root = span(1, "pipeline", 100, 200, -1)
    val kids = Seq(
      span(2, "job", 50, 120, 1),   // 20 inside the parent
      span(3, "job", 150, 180, 1),
      span(4, "job", 160, 170, 1),  // inside span 3
      span(5, "job", 190, 260, 1))  // 10 inside the parent
    assert(Trace.selfNs(root, kids) == 100 - 20 - 30 - 10)
  }

  test("self time by name sums over spans and uses each span's own children") {
    val spans = Seq(
      span(1, "pipeline", 0, 100, -1),
      span(2, "sink", 20, 80, 1),
      span(3, "spark.job", 30, 50, 2),
      span(4, "spark.job", 40, 70, 2))
    val self = Trace.selfByName(spans)
    assert(self("pipeline") == 40 / 1e9)
    assert(self("sink") == 20 / 1e9)
    assert(self("spark.job") == 50 / 1e9)
  }
}
