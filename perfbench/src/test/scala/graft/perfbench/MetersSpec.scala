package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite

class MetersSpec extends AnyFunSuite {

  test("a span's self time is its duration minus its children's") {
    Trace.reset()
    Trace.enabled = true
    try Trace.span("outer") {
      Thread.sleep(20)
      Trace.span("inner")(Thread.sleep(40))
      Trace.span("inner")(Thread.sleep(40))
    } finally Trace.enabled = false
    val outer = Trace.totalS("outer")
    val inner = Trace.totalS("inner")
    assert(inner >= 0.08)
    assert(math.abs(Trace.selfS("outer") - (outer - inner)) < 1e-9)
    assert(Trace.all.filter(_.name == "inner").forall(_.parent == Trace.all.find(_.name == "outer").get.id))
  }

  test("nothing is recorded while tracing is off") {
    Trace.reset()
    assert(Trace.span("x")(42) === 42)
    assert(Trace.all.isEmpty)
  }

  test("the tail percentile keeps at least ten samples beyond it") {
    assert(Stats.tailPercentile(2000) === 99.0)
    assert(Stats.tailPercentile(104) === 90.0)
    assert(Stats.tailPercentile(52) === 75.0)
    assert(Stats.tailPercentile(12) === 50.0)
    val xs = (1 to 100).map(_.toDouble)
    assert(Stats.percentile(xs, 50) === 50.0)
    assert(Stats.percentile(xs, 90) === 90.0)
    assert(Stats.median(Seq(3.0, 1.0, 2.0, 10.0)) === 2.5)
  }
}
