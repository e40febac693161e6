package lakebench

import org.scalatest.funsuite.AnyFunSuite

class StatsTraceSpec extends AnyFunSuite {

  test("tail is the highest percentile with at least 10 samples beyond it") {
    val xs = (1 to 45).map(_.toDouble)
    val t = Stats.tail(xs)
    // rank ceil(0.77 * 45) = 35 leaves 10 beyond; p78 would leave 9
    assert(t == Stats.Tail(35.0, 77, 45, 10))
    assert(Stats.tail((1 to 20).map(_.toDouble)) == Stats.Tail(10.0, 50, 20, 10))
    assert(Stats.tail((1 to 110).map(_.toDouble)) == Stats.Tail(99.0, 90, 110, 11))
  }

  test("a sample whose rule percentile would fall below p50 reports its maximum as p100") {
    assert(Stats.tail(Seq(3.0, 1.0, 2.0)) == Stats.Tail(3.0, 100, 3, 0))
    assert(Stats.tail((1 to 11).map(_.toDouble)) == Stats.Tail(11.0, 100, 11, 0))
    assert(Stats.tail((1 to 19).map(_.toDouble)) == Stats.Tail(19.0, 100, 19, 0))
    assert(Stats.tail((1 to 21).map(_.toDouble)) == Stats.Tail(11.0, 52, 21, 10))
  }

  test("median of odd and even samples") {
    assert(Stats.median(Seq(5.0, 1.0, 3.0)) == 3.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }

  test("metric names: letters, digits, _ . - only, a letter or digit first, at most 64") {
    Seq("setup_s", "spark.driver_gap_s", "queries.q100_pagerank.wall_s", "p-50", "9a")
      .foreach(n => assert(Stats.validName(n), n))
    Seq("", "_x", ".x", "a b", "a/b", "ä", "a" * 65, "x\n")
      .foreach(n => assert(!Stats.validName(n), n))
    assert(Stats.validName("a" * 64))
  }

  test("self time subtracts the union of the children's coverage, clipped to the parent") {
    val spans = Seq(
      Span(0, -1, 0, "op", 0, 100),
      Span(1, 0, 0, "a", 10, 30),
      Span(2, 0, 0, "b", 20, 50),  // overlaps a: covered 10..50 counts once
      Span(3, 0, 0, "c", 90, 120), // only 90..100 lies inside the parent
      Span(4, 1, 0, "a.1", 12, 18))
    val self = Trace.selfTimes(spans)
    assert(self(0) == 100 - 40 - 10)
    assert(self(1) == 20 - 6)
    assert(self(2) == 30)
    assert(self(4) == 6)
  }

  test("the recorder nests spans under the open span and shares the op id") {
    val t = new Trace(enabled = true)
    t.span("op") { t.span("child") { t.span("grandchild")(()) }; t.span("sibling")(()) }
    t.span("next")(())
    val byName = t.spans.map(s => s.name -> s).toMap
    assert(byName("op").parent == -1)
    assert(byName("child").parent == byName("op").id)
    assert(byName("grandchild").parent == byName("child").id)
    assert(byName("sibling").parent == byName("op").id)
    assert(Seq("child", "grandchild", "sibling").forall(n => byName(n).op == byName("op").id))
    assert(byName("next").op == byName("next").id)
  }

  test("a disabled recorder keeps nothing") {
    val t = new Trace(enabled = false)
    assert(t.span("op")(41 + 1) == 42)
    assert(t.spans.isEmpty)
  }
}
