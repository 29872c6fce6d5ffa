package graft

import org.scalatest.funsuite.AnyFunSuite

/** The benchmark's regression gate on synthetic pass lists: a query is
  * a regression when its BEST run is over 2× its box-normalised
  * baseline and more than 0.3 s over it, a median exceedance when its
  * median is, and −1 when every run failed.
  */
class BenchSpec extends AnyFunSuite {

  // five stable anchors at exactly their baseline pin the box factor
  // at 1.0 (the median best/baseline ratio of the stablest queries)
  private val anchors = (1 to 5).map(i => s"q0${i}_anchor")
  private val baseline = anchors.map(_ -> 1.0).toMap ++ Map(
    "q10_slow" -> 1.0, "q11_tail" -> 1.0, "q12_tiny" -> 0.1,
    "q13_dead" -> 1.0)

  private def passes(times: Map[String, Seq[Option[Double]]]) =
    (0 until 3).map(i => times.map { case (q, ts) => q -> ts(i) })

  private val runs: Map[String, Seq[Option[Double]]] =
    anchors.map(_ -> Seq(Some(1.0), Some(1.0), Some(1.0))).toMap ++ Map(
      // best 2.5 s: over 2× and +1.5 s over the baseline
      "q10_slow" -> Seq(Some(2.7), Some(2.5), Some(2.6)),
      // best 1.9 s under 2×, median 2.5 s over it
      "q11_tail" -> Seq(Some(2.6), Some(1.9), Some(2.5)),
      // best 0.25 s is over 2× a 0.1 s baseline but only +0.15 s
      "q12_tiny" -> Seq(Some(0.25), Some(0.25), Some(0.25)),
      "q13_dead" -> Seq(None, None, None))

  private val g = Bench.gate(runs.keys.toSeq.sorted, passes(runs), baseline)

  test("a best run over 2x the box-normalised baseline and +0.3 s over " +
      "it is a regression (and a median exceedance)") {
    assert(g.boxFactor == 1.0)
    assert(g.regressions == Seq(("q10_slow", 2.6, 1.0)))
    assert(g.medianExceedances.contains(("q10_slow", 2.6, 1.0)))
  }

  test("a median over the gate with the best run under it is an " +
      "exceedance only; 2x but under +0.3 s flags nothing") {
    assert(g.medianExceedances == Seq(("q10_slow", 2.6, 1.0),
      ("q11_tail", 2.5, 1.0)))
    assert(!g.regressions.exists(_._1 == "q11_tail"))
    assert(g.results("q12_tiny") == 0.25)
    assert(!g.medianExceedances.exists(_._1 == "q12_tiny"))
  }

  test("a query whose every run failed reads -1 and is neither counted " +
      "nor flagged") {
    assert(g.results("q13_dead") == -1.0)
    assert(g.failed == Seq("q13_dead"))
    assert(!(g.regressions ++ g.medianExceedances).exists(_._1 == "q13_dead"))
    assert(math.abs(g.total - (5 * 1.0 + 2.6 + 2.5 + 0.25)) < 1e-9)
  }
}
