package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench artifact's self-adjudication tier. The r15 driver sweep
  * reported `status: ok / ambient_ok: true` off the pre-sweep load
  * sample (0.85) while its own `load_per_rep` recorded 3.7–7.4
  * mid-sweep — the artifact contradicted itself. The tier now also
  * reads the per-rep loads (median, minus the bench's calibrated
  * self-load); these cases replay the real artifacts' load shapes.
  */
class BenchStatusSpec extends AnyFunSuite {

  test("a clean sweep stays ok: per-rep loads are the bench's own work") {
    // bench_r15_builder.json: ambient 0.89 before, per-rep median 2.12
    val loads = Seq.fill(60)(2.1) ++ Seq.fill(30)(2.2) ++ Seq.fill(10)(2.39)
    assert(BenchStatus.tier(invalid = false, nFailed = 0, 0.89, loads) === "ok")
    assert(BenchStatus.ambientOk(0.89, loads))
  }

  test("the r15 driver shape flips to degraded: clean start, polluted reps") {
    // BENCH_r15.json: load_avg_before 0.85 (reads ok under the old
    // before-only rule) but per-rep loads 3.7–7.4, median 4.63
    val loads = Seq.fill(40)(3.7) ++ Seq.fill(60)(4.63) ++ Seq.fill(40)(7.39)
    val tier = BenchStatus.tier(invalid = false, nFailed = 0, 0.85, loads)
    assert(tier.startsWith("degraded: mid-sweep load"),
      s"polluted reps behind a clean start must read degraded, got '$tier'")
    assert(!BenchStatus.ambientOk(0.85, loads))
  }

  test("a loud pre-sweep sample still degrades on its own") {
    val tier = BenchStatus.tier(invalid = false, nFailed = 0, 1.61,
      Seq.fill(10)(2.0))
    assert(tier.startsWith("degraded: ambient load"))
  }

  test("sf1's heavier self-load does not false-flag a clean run") {
    // bench_sf1_r15.json: ambient 1.30 before, per-rep median 3.55 —
    // the bench's own sustained work at sf1, status must stay ok
    val loads = Seq.fill(50)(3.4) ++ Seq.fill(50)(3.55) ++ Seq.fill(20)(4.0)
    assert(BenchStatus.tier(invalid = false, nFailed = 0, 1.30, loads) === "ok")
  }

  test("per-query flags catch a polluted tail behind a clean median " +
    "(the r16 q_dedup_minhash shape)") {
    // BENCH_r16.json: sweep median 3.6 (self-load absorbs it → tier
    // ok) while q_dedup_minhash's reps ran at [5.95, 5.63, 5.63] —
    // only a sibling sweep could adjudicate it. The per-query verdict
    // reads each query's WORST rep load.
    val cleanQuery = Seq(2.1, 2.3, 2.2)
    val pollutedTail = Seq(5.95, 5.63, 5.63)
    val sweepMedian = 2.2 // the r16 sweep's clean bulk
    assert(BenchStatus.queryAmbientOk(cleanQuery, sweepMedian))
    assert(!BenchStatus.queryAmbientOk(pollutedTail, sweepMedian),
      "a query whose reps all ran at load ~5.6+ must flag itself")
    // one spiked rep among clean ones flags too (max, not median:
    // the median of 3 keeps the TIME honest, but the artifact must
    // say the sample was contaminated)
    assert(!BenchStatus.queryAmbientOk(Seq(2.1, 6.7, 2.2), sweepMedian))
    // ...while the sweep-level tier (median across ALL reps of a
    // mostly-clean sweep) correctly stays ok — the two verdicts are
    // independent by design
    val sweep = Seq.fill(150)(2.2) ++ pollutedTail
    assert(BenchStatus.tier(invalid = false, nFailed = 0, 0.9, sweep) === "ok")
    // empty loads (no reps ran) cannot flag
    assert(BenchStatus.queryAmbientOk(Seq.empty, sweepMedian))
  }

  test("per-query flags self-calibrate on the sweep median: sf1's " +
    "heavier sustained self-load does not mass-flag a clean sweep") {
    // clean sf1 reps sustain ~3.4–4.2 of the bench's own load — the
    // fixed sf0.1 self-load constant alone would flag half the sweep
    // (the r17 first-cut mistake: 19 of 52 queries flagged on a
    // status-ok run whose median was 3.72)
    val sf1Median = 3.72
    assert(BenchStatus.queryAmbientOk(Seq(3.4, 3.55, 4.0), sf1Median))
    assert(BenchStatus.queryAmbientOk(Seq(4.0, 4.4, 5.2), sf1Median))
    // a genuinely polluted query still flags against the sf1 baseline
    assert(!BenchStatus.queryAmbientOk(Seq(3.5, 7.9, 3.6), sf1Median))
    // and a sweep polluted THROUGHOUT flags at the SWEEP tier instead
    val allPolluted = Seq.fill(60)(4.63)
    assert(BenchStatus.tier(invalid = false, nFailed = 0, 0.9, allPolluted)
      .startsWith("degraded"))
  }

  test("steal share per rep: stolen ticks over all ticks between two /proc/stat cpu lines") {
    // user nice system idle iowait irq softirq steal guest guest_nice
    val before = "cpu  100 0 50 800 10 0 5 20 7 0"
    val after = "cpu  200 0 100 1500 10 0 5 45 9 0"
    // deltas: 100 user + 50 system + 700 idle + 25 steal = 875 ticks;
    // guest time is already inside user, so it is not added again
    assert(math.abs(BenchStatus.stealShare(before, after) - 25.0 / 875) < 1e-12)
    assert(BenchStatus.stealShare(before, before) === 0.0, "no tick passed")
    assert(BenchStatus.stealShare("", after) === 0.0, "no /proc/stat")
    assert(BenchStatus.stealShare("cpu0 1 2 3 4 5 6 7 8", after) === 0.0,
      "a per-CPU line is not the aggregate")
    val live = BenchStatus.procStatCpu()
    if (live.nonEmpty) {
      val s = BenchStatus.stealShare(live, BenchStatus.procStatCpu())
      assert(s >= 0.0 && s <= 1.0, s)
    }
  }

  test("INVALID and FAILED outrank the ambient tiers; empty loads are ok") {
    assert(BenchStatus.tier(invalid = true, nFailed = 0, 0.5, Seq(9.0))
      === "INVALID: load_avg>2")
    assert(BenchStatus.tier(invalid = false, nFailed = 2, 0.5, Seq(9.0))
      === "FAILED: 2 queries")
    assert(BenchStatus.tier(invalid = false, nFailed = 0, 0.5, Seq.empty)
      === "ok")
  }
}
