package graft

import org.scalatest.funsuite.AnyFunSuite

/** Unit tests for the core-aware (relative) skew-dispatch rule —
  * candidate threshold max(floor, alpha x sliceRows/cores), gated on
  * the routed tail fitting a fraction of the slice, with conversations
  * above the absolute crossover always routed. The end-to-end
  * correctness of routed-vs-light computation is pinned by
  * BackfillSpec's mega test and SegmentedSweepSpec's bit-equality;
  * this spec pins the DECISION rule itself.
  */
class SkewDispatchSpec extends AnyFunSuite {

  private val Abs = 10000000L

  test("1000-core shapes: a 10M-row conversation in a 1B-row slice routes") {
    // fair share 1M rows/core, alpha=2 -> threshold 2M; budget 250M
    val thr = Backfill.relativeThreshold(Some(Abs), Some(1000000000L), 1000)
    assert(thr.contains(2000000L))
    val routed = Backfill.selectRouted(
      Seq(("mega", 9000000L)), Abs, thr.get, 250000000L, 2000)
    assert(routed == Seq("mega"))
  }

  test("driver-bench shape: megas that ARE most of the slice stay on the plain sweep") {
    // 1.2M-row slice at 32 cores -> relThr = max(200k, 75k) = 200k,
    // budget 300k; the two planted ~700k-row megas each bust the
    // budget alone -> nothing routes (measured: routing them made the
    // backfill 1.4-2.7x SLOWER)
    val thr = Backfill.relativeThreshold(Some(Abs), Some(1200000L), 32)
    assert(thr.contains(200000L))
    val routed = Backfill.selectRouted(
      Seq(("megaA", 700000L), ("megaB", 650000L)), Abs, thr.get, 300000L, 64)
    assert(routed.isEmpty)
  }

  test("budget admits a genuine tail: largest candidates first, cumulative bound") {
    val cand = Seq(("a", 400000L), ("b", 300000L), ("c", 250000L))
    val routed = Backfill.selectRouted(cand, Abs, 200000L, 750000L, 64)
    assert(routed == Seq("a", "b")) // c would push the total past 750k
  }

  test("absolute crossings always route, even past the budget") {
    val routed = Backfill.selectRouted(
      Seq(("monster", Abs + 1), ("mid", 300000L)), Abs, 200000L, 100L, 64)
    assert(routed.contains("monster") && !routed.contains("mid"))
  }

  test("no estimate, tiny slices, or spec-style absolute thresholds disable the relative rule") {
    assert(Backfill.relativeThreshold(Some(Abs), None, 32).isEmpty)
    // floor 200k >= 0.25 x 1000 rows -> nothing could ever qualify
    assert(Backfill.relativeThreshold(Some(Abs), Some(1000L), 4).isEmpty)
    // a spec's absolute threshold of 300 binds below the floor
    assert(Backfill.relativeThreshold(Some(300L), Some(5000000L), 4).isEmpty)
    assert(Backfill.relativeThreshold(None, Some(5000000L), 4).isEmpty)
  }

  test("at <= 8 cores the relative rule never fires and never asks for the row estimate") {
    // alpha / cores >= beta: 2r/cores >= r/4 for every r, so no
    // candidate can pass both the threshold and the budget
    for (cores <- 1 to 8; exp <- 3 to 9; abs <- Seq(Abs, Long.MaxValue)) {
      var asked = 0
      val r = BigInt(10).pow(exp).toLong
      assert(Backfill.relativeThreshold(Some(abs), { asked += 1; Some(r) }, cores).isEmpty,
        s"cores=$cores rows=$r")
      assert(asked == 0, s"row estimate evaluated at cores=$cores rows=$r")
    }
    // one core more and the same slice routes: the gate is exact
    var asked = 0
    assert(Backfill.relativeThreshold(Some(Long.MaxValue), { asked += 1; Some(1000000000L) }, 9)
      .contains(2000000000L / 9))
    assert(asked == 1)
  }
}
