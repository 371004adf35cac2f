package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the committed-baseline loader behind the uniform-contention
  * detector ([[Bench.parseCommittedMeds]]). Round 11 parsed
  * BENCH_FULL.json with a regex against the emitter's exact byte
  * layout — any detail-format drift would have silently emptied the
  * baseline map and degraded the detector without a trace. The parse is
  * now a real JSON parse and the record emits `baseline_rows`, so this
  * spec checks both directions: the CURRENT committed record loads
  * (emitter ↔ parser lockstep), and every corruption mode yields an
  * empty map (visible data, never a wrong baseline). */
class BenchBaselineSpec extends AnyFunSuite {

  test("parses per-query meds out of a well-formed record") {
    val text =
      """{"metric":"total","value":1.0,
        |"detail":{"q1_agg":{"med":0.25,"min":0.2,"max":0.3},
        |"q9_window_topk":{"med":1.5,"err":null}},"nq":2}""".stripMargin
    assert(Bench.parseCommittedMeds(text) ==
      Map("q1_agg" -> 0.25, "q9_window_topk" -> 1.5))
  }

  test("the committed BENCH_FULL.json itself loads (emitter-parser " +
      "lockstep)") {
    val p = java.nio.file.Paths.get("BENCH_FULL.json")
    assume(java.nio.file.Files.exists(p), "no committed record present")
    val meds = Bench.parseCommittedMeds(java.nio.file.Files.readString(p))
    assert(meds.size > 100,
      s"committed record yielded only ${meds.size} baseline rows — " +
        "emitter and parser have drifted apart")
    assert(meds.contains("q1_agg"))
    assert(meds.values.forall(m => m >= 0.0 && m < 1e4))
  }

  test("every corruption mode yields an EMPTY baseline, never a wrong " +
      "one") {
    // detail key renamed
    assert(Bench.parseCommittedMeds(
      """{"details":{"q1":{"med":1.0}}}""").isEmpty)
    // meds no longer numeric
    assert(Bench.parseCommittedMeds(
      """{"detail":{"q1":{"med":"1.0s"}}}""").isEmpty)
    // med field renamed
    assert(Bench.parseCommittedMeds(
      """{"detail":{"q1":{"median":1.0}}}""").isEmpty)
    // detail demoted to an array
    assert(Bench.parseCommittedMeds(
      """{"detail":[{"q1":{"med":1.0}}]}""").isEmpty)
    // not JSON at all
    assert(Bench.parseCommittedMeds("not json").isEmpty)
    assert(Bench.parseCommittedMeds("").isEmpty)
  }

  test("partially-corrupt entries are skipped, intact ones load") {
    val text =
      """{"detail":{"q1":{"med":"oops"},"q2":{"med":2.5}}}"""
    assert(Bench.parseCommittedMeds(text) == Map("q2" -> 2.5))
  }

  // Round-13: the vs-committed uniform-contention test is gated on the
  // record's core count matching the session's AND a canary ratio ≤2×.
  // A record from another machine/config mass-flagged 32 honest rows in
  // r12 and the retry wall blew the driver's 32-core budget (rc=124).
  test("vs-committed gate: fires only at same cpus on a comparably " +
      "fast machine") {
    // same cpus, canary within 2× → enabled
    assert(Bench.vsCommittedAllowed(32, Some(32), Some(0.3), Some(0.5)))
    // same cpus, machine uniformly 3× slower → disabled
    assert(!Bench.vsCommittedAllowed(32, Some(32), Some(0.3), Some(0.95)))
    // record taken at different core count → disabled
    assert(!Bench.vsCommittedAllowed(8, Some(32), Some(0.3), Some(0.3)))
    // record lacks a cpus field (pre-r13 format) → disabled
    assert(!Bench.vsCommittedAllowed(32, None, Some(0.3), Some(0.3)))
    // no canary on either side → can't calibrate → disabled
    assert(!Bench.vsCommittedAllowed(32, Some(32), None, Some(0.3)))
    assert(!Bench.vsCommittedAllowed(32, Some(32), Some(0.3), None))
    // noise-dominated tiny canary baseline → disabled
    assert(!Bench.vsCommittedAllowed(32, Some(32), Some(0.01), Some(0.02)))
  }

  test("SPARK_GRAFT_CPUS is one positive integer or the run fails") {
    assert(Bench.parseCpus(None) == 16)
    assert(Bench.parseCpus(Some("8")) == 8)
    assert(Bench.parseCpus(Some(" 32 ")) == 32)
    // each of these would have reached the record's "cpus" field as is
    for (bad <- Seq("auto", "", "0", "-4", "2.5", "8 cores"))
      intercept[IllegalArgumentException](Bench.parseCpus(Some(bad)))
  }
}
