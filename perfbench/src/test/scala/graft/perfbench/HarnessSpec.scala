package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite

/** The benchmark's own arithmetic: percentile rule and span self time. */
class HarnessSpec extends AnyFunSuite {

  test("percentile rule: highest percentile with at least 10 samples beyond it") {
    assert(Stats.tailPercentile(19).isEmpty)
    assert(Stats.tailPercentile(20).contains(50))
    assert(Stats.tailPercentile(39).contains(50))
    assert(Stats.tailPercentile(40).contains(75))
    assert(Stats.tailPercentile(100).contains(90))
    assert(Stats.tailPercentile(227).contains(95))
    assert(Stats.samplesFor(50) == 20)
    assert(Stats.samplesFor(75) == 40)
    assert(Stats.samplesFor(95) == 200)
    // the count reported with a percentile really lies beyond it
    val xs = (1 to 40).map(_.toDouble)
    assert(Stats.percentile(xs, 75) == 30.0)
    assert(xs.count(_ > Stats.percentile(xs, 75)) == 10)
  }

  test("nearest-rank percentile and median") {
    val xs = Seq(5.0, 1.0, 4.0, 2.0, 3.0)
    assert(Stats.percentile(xs, 50) == 3.0)
    assert(Stats.percentile(xs, 100) == 5.0)
    assert(Stats.percentile(xs, 1) == 1.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }

  private def sp(id: Long, parent: Long, layer: String, s: Long, e: Long) =
    Span(id, parent, "r", s"s$id", layer, s, e)

  test("self time subtracts children once, clipped to the parent") {
    val p = sp(1, 0, "spark", 0, 100)
    // disjoint children
    assert(Span.selfNs(p, Seq(sp(2, 1, "job", 10, 20), sp(3, 1, "job", 30, 50))) == 70)
    // overlapping children count their union once
    assert(Span.selfNs(p, Seq(sp(2, 1, "job", 10, 40), sp(3, 1, "job", 30, 60))) == 50)
    // nested-inside and identical children
    assert(Span.selfNs(p, Seq(sp(2, 1, "job", 10, 60), sp(3, 1, "job", 20, 30), sp(4, 1, "job", 10, 60))) == 50)
    // a child reaching outside the parent is clipped
    assert(Span.selfNs(p, Seq(sp(2, 1, "job", -50, 10), sp(3, 1, "job", 90, 400))) == 80)
    // no children: all self
    assert(Span.selfNs(p, Nil) == 100)
  }

  test("self time per layer sums over the span forest") {
    val spans = Seq(
      sp(1, 0, "bench", 0, 100),
      sp(2, 1, "spark", 10, 90),
      sp(3, 2, "job", 20, 60),
      sp(4, 3, "stage", 20, 50),
      sp(5, 3, "stage", 30, 60),
      sp(6, 0, "core", 200, 210),
    )
    val self = Span.selfByLayer(spans)
    assert(self("bench") == 20)
    assert(self("spark") == 40)
    assert(self("job") == 0)
    assert(self("stage") == 60)
    assert(self("core") == 10)
    // every nanosecond of the roots is attributed once, except where
    // sibling stages overlap (20 ns here): concurrent work counts twice
    assert(self.values.sum - 20 == spans.filter(_.parent == 0).map(_.durNs).sum)
  }

  test("skew is max over median of the non-empty values") {
    assert(Layers.skew(Seq(0L, 0L, 2L, 2L, 6L)) == 3.0)
    assert(Layers.skew(Seq(0L, 0L)) == 0.0)
  }
}
