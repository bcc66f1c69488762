package graft

import org.scalatest.funsuite.AnyFunSuite

/** The pass-folding contract behind every bench number (Bench.foldPasses):
  * a query's reported time is the MIN over successful passes, and a query
  * is an error only when EVERY pass failed — a transient single-pass
  * failure must neither report a fast-fail duration as the query's time
  * nor mark a succeeded query as an error (the round-4 advice race).
  */
class BenchFoldSpec extends AnyFunSuite {

  test("all passes succeed: min wins") {
    assert(Bench.foldPasses(Seq(Right(2.5), Right(1.5))) == Right(1.5))
  }

  test("one pass fails transiently: the surviving time wins, no error") {
    assert(Bench.foldPasses(Seq(Left("gc pause"), Right(3.0))) == Right(3.0))
    assert(Bench.foldPasses(Seq(Right(3.0), Left("oom"))) == Right(3.0))
  }

  test("every pass fails: the FIRST error is reported") {
    assert(Bench.foldPasses(Seq(Left("first"), Left("second"))) == Left("first"))
  }

  test("a fast failure never masquerades as a fast time") {
    // a pass that dies in 0.01s contributes no duration at all
    val folded = Bench.foldPasses(Seq(Left("died at 0.01s"), Right(4.0)))
    assert(folded == Right(4.0))
  }

  test("noise sentinel: factor is measured/norm, noisy strictly above NoisyFactor") {
    val (fIdle, noisyIdle) = Bench.noiseVerdict(Bench.CalibrationNormSec)
    assert(math.abs(fIdle - 1.0) < 1e-9 && !noisyIdle)
    // exactly at the threshold is NOT noisy (> not >=): the flag marks
    // pollution, not the norm's own tail
    val (fAt, noisyAt) = Bench.noiseVerdict(Bench.CalibrationNormSec * Bench.NoisyFactor)
    assert(math.abs(fAt - Bench.NoisyFactor) < 1e-9 && !noisyAt)
    val (fHot, noisyHot) = Bench.noiseVerdict(Bench.CalibrationNormSec * 5.0)
    assert(fHot > Bench.NoisyFactor && noisyHot)
    // the threshold sits just outside the probe's own observed idle
    // tail (hi/norm = 1.27): tight enough that the round-11 class of
    // miss (factor 1.25 beside 2.75× query inflation) is now within
    // one idle-spread width of flagging, loose enough that the
    // committed idle endpoints themselves never flag
    assert(Bench.NoisyFactor < 2.0)
    assert(Bench.CalibrationIdleHiSec / Bench.CalibrationNormSec < Bench.NoisyFactor)
    val (_, noisyAtIdleHi) = Bench.noiseVerdict(Bench.CalibrationIdleHiSec)
    assert(!noisyAtIdleHi)
    // an explicit norm (the cpus-scaled yardstick) changes the factor
    val (fScaled, _) = Bench.noiseVerdict(1.7, 1.7)
    assert(math.abs(fScaled - 1.0) < 1e-9)
  }

  test("baseline parse: queries map and sf basename out of bench_out.json format") {
    val json = """{"metric":"total","value":47.5,"unit":"sec","queries":{"a01_kpis":0.25,"o22_minhash":1.37,"t01_pricing":0.23},"setup_sec":9.4,"n_errors":0,"errors":{},"noisy":false,"sf":"/root/testdata/sf0.1"}"""
    val (qs, sf, cpus) = Bench.parseBaseline(json)
    assert(qs == Map("a01_kpis" -> 0.25, "o22_minhash" -> 1.37, "t01_pricing" -> 0.23))
    // sf compares as basename so a full-dir baseline matches a basename run
    assert(sf.contains("sf0.1"))
    // this baseline predates the cpus field
    assert(cpus.isEmpty)
    // degenerate inputs abstain instead of throwing
    assert(Bench.parseBaseline("not json at all")._1.isEmpty)
    assert(Bench.parseBaseline("""{"queries":{}}""")._1.isEmpty)
  }

  test("history sentinel abstains on a core-count mismatch, not only an sf mismatch") {
    // the committed baseline was recorded on a 32-core host: per-query
    // ratios against it from a 4-core run measure the machine, not noise
    val json = """{"metric":"total","value":113.1,"unit":"sec","queries":{"a01_kpis":1.25},"setup_sec":9.4,"n_errors":0,"errors":{},"cpus":32,"noisy":false,"sf":"/data/sf0.1"}"""
    val (_, sf, cpus) = Bench.parseBaseline(json)
    assert(cpus.contains(32))
    assert(Bench.historyOffReason(sf, cpus, "sf0.1", 4)
      .contains("baseline cpus 32 != run cpus 4"))
    assert(Bench.historyOffReason(sf, cpus, "sf0.1", 32).isEmpty)
    // the sf mismatch keeps its own message and takes precedence
    assert(Bench.historyOffReason(sf, cpus, "sf1", 4)
      .contains("baseline sf sf0.1 != run sf sf1"))
    // a baseline without the field stays comparable
    assert(Bench.historyOffReason(sf, None, "sf0.1", 4).isEmpty)
    assert(Bench.historyOffReason(None, None, "sf0.1", 4)
      .contains("baseline sf unknown != run sf sf0.1"))
  }

  test("self-history: median per-query ratio, abstains below minimums") {
    val base = (1 to 20).map(i => f"q$i%02d" -> 1.0).toMap
    // clean run: all ratios 1.0
    val clean = (1 to 20).map(i => f"q$i%02d" -> 1.0)
    assert(Bench.medianRatio(clean, base).contains(1.0))
    // polluted run: everything 2×; median sees it even though one
    // query improved 10× (median, not mean — a legitimately changed
    // plan must not dominate)
    val polluted = (1 to 19).map(i => f"q$i%02d" -> 2.0) :+ ("q20" -> 0.1)
    assert(Bench.medianRatio(polluted, base).exists(_ > Bench.HistoryNoisyFactor))
    // fast queries are excluded: their ratios are timer noise
    val fastBase = base ++ (21 to 40).map(i => f"f$i%02d" -> 0.01).toMap
    val fastWild = clean ++ (21 to 40).map(i => f"f$i%02d" -> 0.09)
    assert(Bench.medianRatio(fastWild, fastBase).contains(1.0))
    // fewer than HistoryMinQueries common slow queries: abstain (None)
    assert(Bench.medianRatio(clean.take(Bench.HistoryMinQueries - 1), base).isEmpty)
    // no baseline at all: abstain
    assert(Bench.medianRatio(clean, Map.empty).isEmpty)
    // SHORT-ID baseline (the committed BENCH_CLEAN stdout format) must
    // match FULL registry names in the current run — the r18-found
    // abstention bug: exact-name intersection was empty, so the
    // sentinel returned null on every real bench since the short-id
    // format landed
    val shortBase = (1 to 20).map(i => f"q$i%02d" -> 1.0).toMap
    val fullClean = (1 to 20).map(i => f"q$i%02d_some_name" -> 2.0)
    assert(Bench.medianRatio(fullClean, shortBase).contains(2.0))
    // ambiguous short ids are dropped, not mismatched
    val collided = fullClean :+ ("q01_other_name" -> 9.0)
    assert(Bench.medianRatio(collided, shortBase).contains(2.0))
  }

  test("history sentinel reports coverage and dropped ids (not silent)") {
    // the r16-r18 failure shape was SILENT coverage loss: the sentinel
    // abstained (factor null) with nothing in the artifact saying how
    // many queries matched. historySignal carries both.
    val base = (1 to 20).map(i => f"q$i%02d" -> 1.0).toMap
    val clean = (1 to 20).map(i => f"q$i%02d" -> 1.0)
    val full = Bench.historySignal(clean, base)
    assert(full.factor.contains(1.0) && full.matched == 20 && full.droppedIds.isEmpty)
    // a prefix collision on the CURRENT side drops that id and says so
    val collided = clean :+ ("q01_other_name" -> 9.0)
    val c = Bench.historySignal(collided, base)
    assert(c.matched == 19 && c.droppedIds == Seq("q01"))
    // a baseline mixing short and full keys for the same query is an
    // ambiguity on the BASELINE side — dropped and reported too
    val mixedBase = base + ("q02_full_name" -> 1.0)
    val m = Bench.historySignal(clean, mixedBase)
    assert(m.matched == 19 && m.droppedIds == Seq("q02"))
    // abstention is visible as matched < HistoryMinQueries, factor None
    val few = Bench.historySignal(clean.take(Bench.HistoryMinQueries - 1), base)
    assert(few.factor.isEmpty && few.matched == Bench.HistoryMinQueries - 1)
    // a baseline-side ambiguity for an id ABSENT from this run (a
    // since-deleted query) never affected coverage and is not reported
    val staleBase = base + ("z99_gone" -> 1.0) + ("z99_gone_too" -> 1.0)
    val s = Bench.historySignal(clean, staleBase)
    assert(s.matched == 20 && s.droppedIds.isEmpty)
  }

  test("bench landing pad: env override, driver-contract default") {
    // round 19 lost a completed-capable sf10 bench to the hardcoded cwd
    // bench_out.json (the driver's later sf0.1 run clobbered it); the
    // env override gives concurrent benches distinct files while the
    // driver's contract path stays the default
    assert(Bench.outPath(Map.empty) == "bench_out.json")
    assert(Bench.outPath(Map("SPARK_GRAFT_BENCH_OUT" -> "/tmp/bench_sf10.json"))
      == "/tmp/bench_sf10.json")
    // unrelated env noise does not redirect the landing pad
    assert(Bench.outPath(Map("SPARK_GRAFT_SF_DIR" -> "x")) == "bench_out.json")
  }

  test("synthetic background burn: the probe detects a deliberate CPU burn") {
    // the round-11 sentinel's failure mode was under-detection; this
    // locks the probe's sensitivity: a full-box spin burn must raise
    // the measured probe time past NoisyFactor × its own idle reading.
    // Small probe (fixed work, 2 splits on the shared local[2] session)
    // so the test stays ~seconds; sensitivity is what's asserted, not
    // absolute times, so the committed 4B/32-split norm is not needed.
    val spark = TestSpark.spark
    val rows = 200000000L
    Bench.calibrateOnce(spark, 2, rows) // untimed codegen warm-up
    val idle = Bench.calibrate(spark, 2, rows)
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    // 2× oversubscription: more runnable spinners than cores guarantees
    // the probe's task threads actually lose timeslices
    val burners = (1 to 2 * Runtime.getRuntime.availableProcessors).map { _ =>
      val t = new Thread(() => {
        var x = 0L
        while (!stop.get) { x += 1; if (x == Long.MaxValue) x = 0 }
      })
      t.setDaemon(true); t.start(); t
    }
    try {
      val burned = Bench.calibrate(spark, 2, rows)
      assert(burned > idle * Bench.NoisyFactor,
        f"probe under burn $burned%.3f s vs idle $idle%.3f s — sentinel would miss this")
    } finally stop.set(true)
  }

  test("slowest decile: ceil(n/10) names, slowest-first, deterministic ties") {
    val timed = (1 to 20).map(i => f"q$i%02d" -> i.toDouble)
    // 20 queries -> decile of 2: the two largest times
    assert(Bench.slowestDecile(timed) == Set("q19", "q20"))
    // always at least one, even for a tiny registry
    assert(Bench.slowestDecile(Seq("a" -> 1.0)) == Set("a"))
    assert(Bench.slowestDecile(Seq("a" -> 1.0, "b" -> 2.0)) == Set("b"))
    // ties broken by name so the refined set is identical across JVMs
    assert(Bench.slowestDecile(
      (1 to 20).map(i => f"q$i%02d" -> 5.0)) == Set("q01", "q02"))
  }
}
