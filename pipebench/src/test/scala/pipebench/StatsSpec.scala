package pipebench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("median of odd and even counts") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) === 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) === 2.5)
  }

  test("tail: the sample with exactly ten samples beyond it") {
    val xs = (1 to 20).map(_.toDouble).reverse
    // 20 samples: rank 10 has 10 above it -> p50
    assert(Stats.tail(xs) === Some((10.0, 50.0, 20)))
    val ys = (1 to 100).map(_.toDouble)
    assert(Stats.tail(ys) === Some((90.0, 90.0, 100)))
    assert(Stats.tail(ys, beyond = 1) === Some((99.0, 99.0, 100)))
  }

  test("tail: undefined without more than ten samples") {
    assert(Stats.tail((1 to 10).map(_.toDouble)) === None)
    assert(Stats.tail((1 to 11).map(_.toDouble)) === Some((1.0, 100.0 / 11, 11)))
  }

  test("union length counts overlaps once and ignores empty intervals") {
    assert(Stats.unionLength(Seq((0L, 10L), (5L, 15L), (20L, 25L))) === 20L)
    assert(Stats.unionLength(Seq((5L, 5L), (3L, 1L))) === 0L)
    assert(Stats.unionLength(Seq((0L, 10L), (2L, 3L))) === 10L)
  }

  test("self time: span minus the part its children cover") {
    // children sequential: self = 100 - (20 + 30)
    assert(Stats.selfTime(0L, 100L, Seq((10L, 30L), (40L, 70L))) === 50L)
    // overlapping children are covered once
    assert(Stats.selfTime(0L, 100L, Seq((10L, 50L), (30L, 60L))) === 50L)
    // children are clipped to the parent
    assert(Stats.selfTime(10L, 20L, Seq((0L, 15L), (18L, 40L))) === 3L)
    assert(Stats.selfTime(0L, 10L, Nil) === 10L)
  }

  test("tracer accounting: layer self times plus remainder make the wall time") {
    val t = new Tracer(enabled = true, runId = "test")
    t.record("root", 0, 0L, 1000L)
    val root = t.all.head
    t.record("a", root.id, 100L, 400L)
    t.record("b", root.id, 500L, 900L)
    val a = t.all.find(_.name == "a").get
    t.record("a.child", a.id, 150L, 250L)
    val acc = t.accounting(root)
    def close(x: Double, ns: Long) = math.abs(x - ns / 1e9) < 1e-15
    assert(acc.selfS.keySet === Set("a", "a.child", "b"))
    assert(close(acc.selfS("a"), 200L) && close(acc.selfS("a.child"), 100L) && close(acc.selfS("b"), 400L))
    assert(close(acc.remainderS, 300L))
    assert(close(acc.wallS, 1000L) && close(acc.overlapS, 0L))
  }

  test("tracer disabled records nothing and still runs the body") {
    val t = new Tracer(enabled = false, runId = "test")
    assert(t.span("x")(41 + 1) === 42)
    assert(t.all.isEmpty)
  }
}
