package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  private def ok(s: Double) = OpSample("c", s, ok = true)
  private val failed = OpSample("c", 0.001, ok = false)

  test("failed ops rank above every success and never lend their elapsed time") {
    val xs = Seq(ok(3), failed, ok(1), ok(2))
    assert(Stats.percentile(xs, 0.5, failedRank = 60) == 2)
    assert(Stats.percentile(xs, 0.75, failedRank = 60) == 3)
    // the failure took 1 ms, yet it is the slowest sample
    assert(Stats.percentile(xs, 1.0, failedRank = 60) == 60)
  }

  test("fixing a failed op can only lower a percentile") {
    val before = Seq(ok(0.2), ok(0.4), failed, failed, ok(0.3))
    for (p <- Seq(0.5, 0.75, 0.9, 1.0); fixedAt <- Seq(0.05, 0.35, 5.0)) {
      val after = before.updated(2, ok(fixedAt))
      assert(Stats.percentile(after, p, 60) <= Stats.percentile(before, p, 60),
        s"p$p rose when the failure was fixed at $fixedAt s")
    }
  }

  test("nearest-rank percentile and the samples beyond it") {
    val xs = (1 to 100).map(i => ok(i.toDouble))
    assert(Stats.percentile(xs, 0.9, 1e9) == 90)
    assert(Stats.beyond(100, 0.9) == 10)
    assert(Stats.beyond(40, 0.75) == 10)
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
  }

  test("self time subtracts child coverage once where children overlap") {
    // span [0, 100); children [10, 30) and [20, 50) overlap, [90, 120) is clipped
    val kids = Seq((10L, 30L), (20L, 50L), (90L, 120L))
    assert(Stats.covered(kids, 0L, 100L) == 50L)
    assert(Stats.covered(Nil, 0L, 100L) == 0L)
    val span = Trace.OpSpan("op", "c", startMs = 0L, startNs = 0L)
    span.endMs = 100L
    span.events ++= kids.zipWithIndex.map { case ((a, b), i) => Trace.JobEv(i, "op", a, b, 1) }
    assert(span.jobCoverMs == 50L)
    assert(100L - span.jobCoverMs == 50L, "self time of the span")
  }
}
