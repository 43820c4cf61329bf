package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the tripwire's confirmed/weather/error decision (VERDICT r11
  * #1 + ADVICE r11): the exact scenarios that produced r11's five
  * false "confirmed" flags and the error-laundering hole.
  */
class BenchVerdictSpec extends AnyFunSuite {

  test("r11's false-confirmed shape: wall doubles, cpu flat => weather") {
    // q128 in BENCH_r11: prev 1.40 s at cpu 2.0 s (ratio 0.70); the
    // contended box re-ran it at 2.95 s wall with the SAME cpu —
    // isolated ratio 1.48 > 1.5 × 0.70 is false... use 3.2 s to sit
    // clearly past the 1.5× ratio gate like the real cluster did
    assert(BenchVerdict.of(prev = 1.40, prevCpu = Some(2.0),
      isoMin = 3.2, isoMinCpu = 2.0, anyError = false) === "weather")
  }

  test("a real code regression: wall AND cpu rise together => confirmed") {
    assert(BenchVerdict.of(prev = 1.40, prevCpu = Some(2.0),
      isoMin = 3.2, isoMinCpu = 4.6, anyError = false) === "confirmed")
  }

  test("isolation restoring the old cost => weather regardless of cpu") {
    assert(BenchVerdict.of(prev = 1.40, prevCpu = Some(2.0),
      isoMin = 1.45, isoMinCpu = 9.9, anyError = false) === "weather")
  }

  test("no baseline cpu => wall-only confirmation (pre-r12 baselines)") {
    assert(BenchVerdict.of(prev = 1.40, prevCpu = None,
      isoMin = 3.2, isoMinCpu = 2.0, anyError = false) === "confirmed")
  }

  test("a throwing re-run is 'error', never laundered into weather " +
    "(ADVICE r11: time-to-failure is fast)") {
    assert(BenchVerdict.of(prev = 1.40, prevCpu = Some(2.0),
      isoMin = 0.05, isoMinCpu = 0.01, anyError = true) === "error")
  }

  test("sub-floor absolute slips never confirm (0.25 s floor)") {
    assert(BenchVerdict.of(prev = 0.10, prevCpu = Some(0.2),
      isoMin = 0.30, isoMinCpu = 0.6, anyError = false) === "weather")
  }

  test("degenerate cpu measurements (zero) fall back to wall-only") {
    assert(BenchVerdict.of(prev = 1.40, prevCpu = Some(0.0),
      isoMin = 3.2, isoMinCpu = 0.0, anyError = false) === "confirmed")
  }

  test("r15's blind spot (q199): still-slow and uncontended, but the " +
    "fastest iso run was rebuilding registry state => state_loss") {
    // the exact q199 shape: baseline seated registry-warm at 0.21 s /
    // 0.07 s cpu; honest recompute is 0.50 s / 2.4 s cpu — CPU rose at
    // a normal wall/cpu ratio, so the contention gate passes it, and
    // pre-r16 it read "confirmed" though no plan got slower
    assert(BenchVerdict.of(prev = 0.21, prevCpu = Some(0.07),
      isoMin = 0.50, isoMinCpu = 2.4, anyError = false,
      stateLoss = true) === "state_loss")
  }

  test("state-loss evidence does not override recovery: isolation " +
    "restoring the old cost stays weather") {
    assert(BenchVerdict.of(prev = 1.40, prevCpu = Some(2.0),
      isoMin = 1.45, isoMinCpu = 9.9, anyError = false,
      stateLoss = true) === "weather")
  }

  test("a state-clean still-slow min stays confirmed") {
    assert(BenchVerdict.of(prev = 1.40, prevCpu = Some(2.0),
      isoMin = 3.2, isoMinCpu = 4.6, anyError = false,
      stateLoss = false) === "confirmed")
  }

  test("error outranks state loss") {
    assert(BenchVerdict.of(prev = 1.40, prevCpu = Some(2.0),
      isoMin = 3.2, isoMinCpu = 4.6, anyError = true,
      stateLoss = true) === "error")
  }
}

/** Pins [[Bench.baseline]]: which files the tripwire compares against,
  * and that a comparison never crosses scales or timed units. */
class BenchBaselineSpec extends AnyFunSuite {
  private val sf = "/root/testdata/sf0.1"
  private val none = (Map.empty[String, Double], Map.empty[String, Double])

  test("a pretty-printed bench_full.json with reordered keys parses") {
    val json =
      s"""{
         |  "queries_cpu" : { "q1_agg" : 0.9, "q2_b" : 2.0 },
         |  "basis" : "noop",
         |  "top_ops" : { "q2_b" : [ { "op" : "Sort", "rows" : 3 } ] },
         |  "queries" : {
         |    "q2_b" : 1.5,
         |    "q1_agg" : 0.25
         |  },
         |  "sf" : "$sf"
         |}""".stripMargin
    assert(Bench.baseline(json, sf) ===
      ((Map("q1_agg" -> 0.25, "q2_b" -> 1.5), Map("q1_agg" -> 0.9, "q2_b" -> 2.0))))
  }

  test("the driver's {n, parsed} shape reads its parsed object") {
    val json = s"""{"n":18,"rc":0,"sf":0.1,"tail":"…","parsed":""" +
      s"""{"queries":{"q1_agg":0.5},"sf":"$sf","basis":"noop"}}"""
    assert(Bench.baseline(json, sf) === ((Map("q1_agg" -> 0.5), Map.empty)))
  }

  test("warm_suspect names leave the walls and stay in the cpus") {
    val json = s"""{"sf":"$sf","basis":"noop","warm_suspect":["q199_x"],""" +
      """"queries":{"q199_x":0.2,"q1_agg":0.5},"queries_cpu":{"q199_x":0.07}}"""
    assert(Bench.baseline(json, sf) ===
      ((Map("q1_agg" -> 0.5), Map("q199_x" -> 0.07))))
  }

  test("another sf, a missing or other basis, or malformed text give " +
    "empty maps") {
    def file(sfv: String, basis: String) =
      s"""{"sf":"$sfv"$basis,"queries":{"q1_agg":0.5}}"""
    assert(Bench.baseline(file(sf, ""","basis":"noop""""), sf)._1.nonEmpty)
    assert(Bench.baseline(file("/root/testdata/sf0.01", ""","basis":"noop""""), sf) === none)
    assert(Bench.baseline(file(sf, ""), sf) === none)
    assert(Bench.baseline(file(sf, ""","basis":"count""""), sf) === none)
    assert(Bench.baseline("""{"sf":"/root/testdata/sf0.1","queries":{""", sf) === none)
    assert(Bench.baseline("", sf) === none)
    assert(Bench.baseline("""{"parsed":null}""", sf) === none)
  }

  test("the committed BENCH_r17.json (count basis) gives empty maps") {
    val txt = java.nio.file.Files.readString(java.nio.file.Paths.get("BENCH_r17.json"))
    assert(txt.contains("\"queries\""))
    assert(Bench.baseline(txt, sf) === none)
  }
}
