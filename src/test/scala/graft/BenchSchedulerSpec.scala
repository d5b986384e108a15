package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench's rep-major degradation policy and its stamp handling,
  * tested as pure logic with a simulated clock: deadline pressure must
  * cost reps roughly uniformly, never the pass-1 measurement of the
  * suite's tail, and one slow query must not eat the remaining budget. */
class BenchSchedulerSpec extends AnyFunSuite {

  /** Drive repMajorLoop with per-query simulated costs; returns
    * (reps per query, skipped names, total simulated seconds). */
  private def simulate(costs: Seq[(String, Double)], reps: Int,
                       deadlineSec: Double): (Map[String, Int], Seq[String], Double) = {
    var clock = 0.0
    val runs = scala.collection.mutable.Map.empty[String, Int]
    val mins = scala.collection.mutable.Map.empty[String, Double]
    val skipped = scala.collection.mutable.ArrayBuffer.empty[String]
    val costOf = costs.toMap
    Bench.repMajorLoop(costs.map(_._1), reps, deadlineSec,
      elapsed = () => clock,
      recordedMin = name => mins.get(name),
      runOne = name => {
        clock += costOf(name)
        runs(name) = runs.getOrElse(name, 0) + 1
        mins(name) = math.min(mins.getOrElse(name, Double.MaxValue), costOf(name))
      },
      skip = name => { skipped += name; () })
    (runs.toMap, skipped.toSeq, clock)
  }

  private val names = ('a' to 'j').map(c => s"q_$c")

  test("generous budget: every query gets every rep") {
    val (runs, skipped, _) = simulate(names.map(_ -> 1.0), reps = 3, deadlineSec = 1000.0)
    assert(skipped.isEmpty)
    assert(runs.values.toSet == Set(3), s"non-uniform reps: $runs")
  }

  test("tight budget degrades reps uniformly — pass 1 always completes") {
    // 10 queries x 1s; deadline 12s: pass 1 (10s) completes for ALL
    // queries, pass 2 stops when the clock crosses 12 — no query loses
    // its measurement, none is skipped (the query-major failure mode
    // zeroed the tail's reps instead)
    val (runs, skipped, _) = simulate(names.map(_ -> 1.0), reps = 3, deadlineSec = 12.0)
    assert(skipped.isEmpty)
    assert(runs.size == names.size, "every query must be measured")
    assert(runs.values.min == 1, "pass-1 measurements survive")
    assert(runs.values.max <= 3)
    // degradation is contiguous: once a pass stops, no later query in
    // that pass runs — reps are non-increasing along suite order after
    // the budget bites
    val ordered = names.map(runs)
    assert(ordered.zip(ordered.tail).forall { case (a, b) => a >= b },
      s"reps not front-loaded: $ordered")
  }

  test("deadline during pass 1 skips the remainder BY NAME") {
    val (runs, skipped, _) = simulate(names.map(_ -> 1.0), reps = 3, deadlineSec = 4.5)
    // clock crosses 4.5 after 5 runs; the rest of pass 1 is skipped
    assert(runs.size + skipped.size == names.size)
    assert(skipped.nonEmpty && runs.values.forall(_ == 1))
    assert(skipped == names.drop(runs.size), "skips must name the unmeasured tail")
  }

  test("a query past deadline/10 keeps one measurement and is excluded from later passes") {
    val costs = Seq("q_cheap1" -> 1.0, "q_hog" -> 30.0, "q_cheap2" -> 1.0)
    // deadline 200 -> cap 20; the hog (30s) runs once, cheap queries
    // get all 3 reps — the hog cannot eat the suite's budget again
    val (runs, skipped, total) = simulate(costs, reps = 3, deadlineSec = 200.0)
    assert(skipped.isEmpty)
    assert(runs("q_hog") == 1, s"hog must run exactly once: $runs")
    assert(runs("q_cheap1") == 3 && runs("q_cheap2") == 3)
    assert(total == 36.0)
  }

  test("zero-cost suite never loops past the requested reps") {
    val (runs, _, _) = simulate(names.map(_ -> 0.0), reps = 3, deadlineSec = 10.0)
    assert(runs.values.toSet == Set(3))
  }

  // -- self-selecting outlier adjudication --------------------------------

  test("adjudication selection: a seeded slow stamp IS picked up; jitter and improvements are not") {
    // the committed stamp says x98 ran in 1.02s and x99 in 0.46s; the
    // suite measured 5.19 / 1.14. Both must self-select.
    val committed = Map(
      "x98_novelty" -> 1.02, "x99_vocab" -> 0.46,
      "q01_monthly" -> 0.30, "x10_tiny" -> 0.05, "x11_faster" -> 2.0)
    val inSuite = Map(
      "x98_novelty" -> 5.19,  // 5.1x, delta 4.17 -> selected
      "x99_vocab" -> 1.14,    // 2.5x, delta 0.68 -> selected
      "q01_monthly" -> 0.45,  // 1.5x -> ratio gate holds it back
      "x10_tiny" -> 0.20,     // 4x but delta 0.15 -> jitter, held back
      "x11_faster" -> 1.0,    // improvement -> never selected
      "x12_new" -> 9.0)       // not in the stamp -> nothing to compare
    assert(Bench.adjudicationTargets(committed, inSuite) ==
      Seq("x98_novelty", "x99_vocab"))
  }

  test("adjudication selection: empty stamp (first round / no git) selects nothing") {
    assert(Bench.adjudicationTargets(Map.empty, Map("q" -> 100.0)).isEmpty)
  }

  test("stamp parsing: queries map extracted from a real bench line; garbage yields empty") {
    val line = """{"metric":"total","value":9.9,"unit":"sec","queries":{"q01":0.5,"x98_novelty":1.02},"sf":"/x"}"""
    assert(Bench.parseStampQueries(line) ==
      Map("q01" -> 0.5, "x98_novelty" -> 1.02))
    assert(scala.util.Try(Bench.parseStampQueries("not json"))
      .toOption.forall(_.isEmpty), "garbage must not select targets")
  }

  test("stamp cpus: a stamp at this run's cpus or without the field is read; other cpus is ignored") {
    val queries = """"queries":{"q01":0.5}"""
    assert(Bench.parseStampQueries(s"""{"cpus":4,$queries}""", Some(4)) == Map("q01" -> 0.5))
    assert(Bench.parseStampQueries(s"""{"cpus":8,$queries}""", Some(4)).isEmpty)
    assert(Bench.parseStampQueries(s"""{$queries}""", Some(4)) == Map("q01" -> 0.5))
  }

  test("canonical-stamp decision is by filename; repo root resolves from the class location") {
    // './bench_out.json' or an absolute spelling must not silently flip
    // the canonical stamp into append mode
    assert(Bench.isCanonicalStamp("bench_out.json"))
    assert(Bench.isCanonicalStamp("./bench_out.json"))
    assert(Bench.isCanonicalStamp("/anywhere/at/all/bench_out.json"))
    assert(!Bench.isCanonicalStamp("bench_adjudication.json"))
    assert(!Bench.isCanonicalStamp("/tmp/bench_adjudication.json"))
    // the committed-stamp git read anchors at the repo root found from
    // the loaded class, not the launcher's cwd
    val r = Bench.repoRoot()
    assert(r.exists(f => new java.io.File(f, ".git").exists()),
      s"repoRoot must find the dir holding .git (got $r)")
    assert(Bench.committedStampQueries().nonEmpty,
      "the committed bench_out.json stamp must be readable from the resolved root")
  }
}
