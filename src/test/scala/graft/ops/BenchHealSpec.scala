package graft.ops

import org.scalatest.funsuite.AnyFunSuite

/** The bench self-healer's selection contract (pure function — no
  * Spark): which queries get re-measured under each contamination
  * state, against a synthetic same-host median history. */
class BenchHealSpec extends AnyFunSuite {

  // clean medians: a 3.2 s graph query, a 0.5 s mid query, a 0.02 s
  // trivial sentinel
  private val medians = Map(
    "graph_pagerank" -> 3.2, "q03_shipping" -> 0.5, "p01_project" -> 0.02)

  test("a 4.4x mid-band artifact heals ONLY when the run is " +
    "loadStart-contaminated (the round-12 driver gap)") {
    // graph_pagerank at 4.4x its median — above 2x, below the 10x
    // spike trigger; everything else at its median
    val run = Seq("graph_pagerank" -> 14.1, "q03_shipping" -> 0.5,
      "p01_project" -> 0.02)
    assert(graft.Bench.healCandidates(run, medians,
      loadContaminated = false, driftContaminated = false).isEmpty,
      "a quiet-host 4.4x value is a regression to report, not heal")
    assert(graft.Bench.healCandidates(run, medians,
      loadContaminated = true, driftContaminated = false)
      == Seq("graph_pagerank"),
      "loadStart > 3.0 must arm the 2x band")
  }

  test("the 2x band keeps the 0.1 s absolute floor: tiny queries " +
    "never churn") {
    // the sentinel at 3x its median is still only +0.04 s — noise
    val run = Seq("p01_project" -> 0.06, "q03_shipping" -> 0.5)
    assert(graft.Bench.healCandidates(run, medians,
      loadContaminated = true, driftContaminated = false).isEmpty)
  }

  test("the 10x spike arm fires regardless of contamination state; " +
    "drift arms the 1.25x band") {
    val spiked = Seq("q03_shipping" -> 5.5)
    assert(graft.Bench.healCandidates(spiked, medians,
      loadContaminated = false, driftContaminated = false)
      == Seq("q03_shipping"))
    val stripe = Seq("graph_pagerank" -> 4.5, "q03_shipping" -> 0.7)
    assert(graft.Bench.healCandidates(stripe, medians,
      loadContaminated = false, driftContaminated = true)
      == Seq("graph_pagerank", "q03_shipping"))
    // the same stripe without drift corroboration: only values over
    // 2x heal on a load-contaminated run
    assert(graft.Bench.healCandidates(stripe, medians,
      loadContaminated = true, driftContaminated = false).isEmpty)
  }

  test("no same-host history -> no heal candidates (inert, observable " +
    "via the bench's quiet-period note)") {
    val run = Seq("graph_pagerank" -> 30.0)
    assert(graft.Bench.healCandidates(run, Map.empty,
      loadContaminated = true, driftContaminated = true).isEmpty)
  }

  test("canary witness (r13): a wide within-run canary spread is " +
    "contention evidence; flat or thin series never flag") {
    // wide spread + absolute gap: contention witnessed
    assert(graft.Bench.canarySuspect(Seq(0.2, 0.25, 0.8)))
    // flat canary: a quiet-host drift stays a REAL regression signal
    assert(!graft.Bench.canarySuspect(Seq(0.2, 0.22, 0.25)))
    // wide RATIO but tiny absolute gap (trivial-query jitter): no flag
    assert(!graft.Bench.canarySuspect(Seq(0.02, 0.03, 0.06)))
    // thin series (a short catalog / failed canary runs): no flag
    assert(!graft.Bench.canarySuspect(Seq(0.2, 0.9)))
    assert(!graft.Bench.canarySuspect(Nil))
  }

  test("a query that throws gets no time; one that returns gets its time") {
    assert(graft.Bench.timed(throw new RuntimeException("boom")).isEmpty)
    val t = graft.Bench.timed(Thread.sleep(20))
    assert(t.exists(_ >= 0.02), s"timed: $t")
  }
}
