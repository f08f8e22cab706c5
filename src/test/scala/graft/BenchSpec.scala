package graft

/** The bench artifact's self-adjudication (VERDICT r7 missing #3): a
  * deliberately slowed entry must surface in the outliers field, computed
  * against the committed envelope. Pure-function tests — no Spark session,
  * no timing dependence (the session of [[SparkSpec]] is never built; it
  * lends only its temp dirs). */
class BenchSpec extends SparkSpec {

  test("adjudicate: a deliberately slowed entry surfaces; in-envelope and " +
    "history-free entries pass") {
    val envelope = Map("q_a" -> 1.0, "q_b" -> 2.0)
    val fresh = Seq(
      "q_a" -> 3.2,  // 3.2× its max — the r7 q_repetition_filter shape
      "q_b" -> 2.9,  // 1.45× — inside the 1.5× tolerance
      "q_new" -> 99.0) // no envelope yet (new this round) — passes
    Bench.adjudicate(fresh, envelope) shouldBe Seq(("q_a", 3.2, 1.0))
    // tightening the factor pulls q_b in too
    Bench.adjudicate(fresh, envelope, factor = 1.2).map(_._1) shouldBe
      Seq("q_a", "q_b")
    Bench.adjudicate(Seq.empty, envelope) shouldBe empty
    Bench.adjudicate(fresh, Map.empty) shouldBe empty
  }

  // deterministic CPU stub: unreadable snapshots → extCpu −1.0, so row
  // equality assertions don't depend on the test machine's /proc
  private val noCpu: () => Bench.CpuStat = () => Bench.CpuStat(-1, -1, -1)

  test("retestOutliers: a flagged entry slowed on pass 1 but clean on the " +
    "idle-queue retest is exonerated as environment; a genuinely slow one " +
    "stays a regression only after a second post-cooldown exceedance") {
    // the BENCH_r08 shape: q_winnow_fixed read 7.43 s vs envelope max
    // 1.818 s under driver load, then 2.4–2.6 s steady-state at the judge
    val flagged = Seq(("q_env", 7.43, 1.818), ("q_real", 9.0, 2.0))
    val idleQueue = Map("q_env" -> 2.5, "q_real" -> 8.7)
    val out = Bench.retestOutliers(flagged, idleQueue, load = () => 0.5,
      cpu = noCpu)
    out(0) shouldBe Bench.OutlierRow(
      "q_env", 7.43, 1.818, 2.5, 0.5, -1.0, None, None, None,
      "environment", 1) // ≤ 1.5 × 1.818
    // q_real exceeded on BOTH retests (the map returns 8.7 each time) —
    // only then does regression stand, and the second retest is recorded;
    // a regression carries NO environment streak
    out(1) shouldBe Bench.OutlierRow(
      "q_real", 9.0, 2.0, 8.7, 0.5, -1.0, Some(8.7), Some(0.5), Some(-1.0),
      "regression", 0)
    // the verdict threshold is the SAME factor that flagged the sample —
    // a retest that would not have been flagged closes the case
    Bench.retestOutliers(Seq(("q_a", 5.0, 1.0)), _ => 1.5)
      .head.verdict shouldBe "environment"
    Bench.retestOutliers(Seq(("q_a", 5.0, 1.0)), _ => 1.51)
      .head.verdict shouldBe "regression"
    Bench.retestOutliers(Seq.empty, idleQueue) shouldBe empty
  }

  test("retestOutliers: the BENCH_r09 q_apply_delta shape — a first retest " +
    "itself load-inflated (slower than the flagged sample) flips to " +
    "environment when the post-cooldown second retest lands in-envelope, " +
    "and the cooldown runs exactly once per suspect") {
    // sample 0.734 s vs envelope max 0.471; first retest 1.062 (busier than
    // the sample it was checking), second retest 0.60 — still above the
    // envelope median but inside the 1.5× flag threshold (0.7065)
    var calls = 0
    var cooldowns = 0
    val measure: String => Double = _ => { calls += 1; if (calls == 1) 1.062 else 0.60 }
    val loads = Iterator(4.2, 0.3) // busy at retest 1, idle at retest 2
    val out = Bench.retestOutliers(
      Seq(("q_apply_delta", 0.734, 0.471)), measure,
      load = () => loads.next(), cooldown = () => cooldowns += 1,
      cpu = noCpu)
    out.head shouldBe Bench.OutlierRow(
      "q_apply_delta", 0.734, 0.471, 1.062, 4.2, -1.0, Some(0.60),
      Some(0.3), Some(-1.0), "environment", 1)
    cooldowns shouldBe 1
    // an in-envelope first retest never pays the cooldown
    Bench.retestOutliers(Seq(("q_x", 3.0, 2.0)), _ => 2.0,
      cooldown = () => fail("cooldown must not run for a clean retest"))
      .head.verdict shouldBe "environment"
  }

  test("externalCpuFrac: other-process CPU over a snapshot window, " +
    "self-excluded and clamped; unreadable or empty windows read −1") {
    import Bench.{CpuStat, externalCpuFrac}
    // 1000-jiffy window, 600 busy of which 400 were this process → 20%
    externalCpuFrac(CpuStat(10000, 2000, 500),
      CpuStat(11000, 2600, 900)) shouldBe 0.2 +- 1e-9
    // an entirely-self window reads 0 — the idle-retest signature
    externalCpuFrac(CpuStat(10000, 2000, 500),
      CpuStat(11000, 2500, 1000)) shouldBe 0.0
    // self jiffies above measured busy (tick racing) clamps at 0, not −
    externalCpuFrac(CpuStat(10000, 2000, 500),
      CpuStat(11000, 2400, 1000)) shouldBe 0.0
    // unreadable snapshot / empty window → −1 (never a fake all-clear)
    externalCpuFrac(CpuStat(-1, -1, -1), CpuStat(11000, 2600, 900)) shouldBe -1.0
    externalCpuFrac(CpuStat(10000, 2000, 500), CpuStat(-1, -1, -1)) shouldBe -1.0
    externalCpuFrac(CpuStat(10000, 2000, 500),
      CpuStat(10000, 2000, 500)) shouldBe -1.0
  }

  test("readCpuStat: on this platform, monotone totals and a window that " +
    "externalCpuFrac accepts") {
    val a = Bench.readCpuStat()
    a.total should be > 0L // /proc exists on the target platform
    a.busy should (be >= 0L and be <= a.total)
    a.self should be >= 0L
    // burn a little CPU so the window is non-empty
    var x = 0L
    (1 to 20000000).foreach(i => x += i)
    x should be > 0L
    val b = Bench.readCpuStat()
    b.total should be >= a.total
    val f = Bench.externalCpuFrac(a, b)
    if (b.total > a.total) f should (be >= 0.0 and be <= 1.0)
  }

  test("envStreak: counts consecutive environment verdicts newest-first; " +
    "an in-envelope round (absent) or a regression breaks it; " +
    "retestOutliers threads priors through (ADVICE r10 escalation)") {
    import Bench.envStreak
    val priors = Seq( // newest first
      Map("q_a" -> "environment", "q_b" -> "environment"),
      Map("q_a" -> "environment", "q_b" -> "regression"),
      Map("q_a" -> "environment"))
    envStreak("q_a", priors) shouldBe 3
    envStreak("q_b", priors) shouldBe 1 // regression in round −2 breaks it
    envStreak("q_c", priors) shouldBe 0 // never flagged
    envStreak("q_a", Seq.empty) shouldBe 0
    // absence (in-envelope round) breaks the streak
    envStreak("q_a", Map.empty[String, String] +: priors) shouldBe 0
    // a current-run exoneration reports priors + 1: the 4th consecutive
    // environment verdict is visibly a streak, not a fresh incident
    val row = Bench.retestOutliers(Seq(("q_a", 5.0, 1.0)), _ => 1.0,
      cpu = noCpu, priorStreak = n => envStreak(n, priors)).head
    row.verdict shouldBe "environment"
    row.envStreak shouldBe 4
  }

  test("loadPriorVerdicts: reads committed BENCH_r*.json newest first; " +
    "missing dir degrades to empty") {
    val priors = Bench.loadPriorVerdicts()
    priors.size should be >= 10 // BENCH_r01..r10 are committed
    // at least one committed artifact carries parseable verdicts (r10's
    // load-6 driver run alone had 46 outliers, 3 in its headline), and
    // every parsed verdict is one of the two defined strings
    val verdicts = priors.flatMap(_.values)
    verdicts should not be empty
    verdicts.toSet.diff(Set("environment", "regression")) shouldBe empty
    Bench.loadPriorVerdicts("/nonexistent") shouldBe empty
  }

  test("systemLoad: reads a non-negative 1-minute load on this platform") {
    // /proc/loadavg exists on the target platform; the contract is only
    // "a number, −1 if unreadable" — never an exception
    Bench.systemLoad() should be >= -1.0
  }

  test("FallbackCounter: a WARN event carrying the interpreter-fallback " +
    "phrase increments the counter; unrelated events don't") {
    val app = Bench.installFallbackCounter()
    // the -1 sentinel path (ADVICE r8) only fires when this is false
    app.attached shouldBe true
    // the attach point guarantees root level WARN in production (Bench
    // installs after setLogLevel); force it here so the test JVM's prior
    // log state can't mask the event
    org.apache.logging.log4j.core.config.Configurator.setRootLevel(
      org.apache.logging.log4j.Level.WARN)
    val log = org.apache.logging.log4j.LogManager.getLogger("graft.benchspec")
    val before = app.count.get()
    log.warn("Expr codegen error and falling back to interpreter mode")
    log.warn("some unrelated warning")
    app.count.get() shouldBe before + 1
  }

  test("loadEnvelopeMax: reads the committed BENCH_MEDIANS.json; absent " +
    "file degrades to empty (bench must still produce its number)") {
    val env = Bench.loadEnvelopeMax()
    // the committed envelope covers the whole suite and every max is a
    // positive seconds figure
    env.size should be > 150
    env.values.foreach(_ should be > 0.0)
    env.keySet should contain("q_hourly_by_type")
    Bench.loadEnvelopeMax("/nonexistent/of_course.json") shouldBe empty
  }

  test("calibration gate (VERDICT r13 #8): committed anchor loads, drift " +
    "beyond 10% flags the run suspect, missing anchor reads as unchecked") {
    val anchor = Bench.loadCalibAnchor()
    anchor should be > 0.0 // committed BENCH_MEDIANS.json carries calib_1t
    Bench.loadCalibAnchor("/nonexistent/of_course.json") shouldBe -1.0
    // the r13 incident numbers: c8 run's calib_1t 1.256 vs anchor 0.916
    val (r1, s1) = Bench.calibGate(1.256, 0.916)
    s1 shouldBe true
    r1 shouldBe (1.256 / 0.916) +- 1e-9
    // in-spec drift (the r13 32-core run: 0.916 vs 0.851 anchor = +7.6%)
    Bench.calibGate(0.916, 0.851)._2 shouldBe false
    // symmetric: a machine reading FASTER than anchor is equally suspect
    Bench.calibGate(0.70, 0.916)._2 shouldBe true
    // no anchor → ratio -1, never suspect (unchecked must not read as bad)
    Bench.calibGate(1.0, -1.0) shouldBe ((-1.0, false))
  }

  test("sidecar merge + in-flight-round exclusion (VERDICT r11 #5 + " +
    "ADVICE): a NON-top-3 query's streak builds from BENCH_OUTLIERS_r*, " +
    "and the current round's own artifacts never count as priors") {
    val dir = tempDir("graft_bench_spec")
    def write(name: String, body: String): Unit =
      java.nio.file.Files.write(dir.resolve(name), body.getBytes)
    def cap3(qs: (String, String)*): String = // driver-shape: capped list
      s"""{"parsed":{"outliers":[${qs.map { case (n, v) =>
        s"""{"name":"$n","verdict":"$v"}""" }.mkString(",")}]}}"""
    def full(round: Int, qs: (String, String)*): String =
      s"""{"round":$round,"outliers":[${qs.map { case (n, v) =>
        s"""{"name":"$n","verdict":"$v"}""" }.mkString(",")}]}"""
    // two finished rounds: q_minor is flagged both rounds but never makes
    // the capped headline — only the sidecars carry it
    write("BENCH_r01.json", cap3("q_big1" -> "environment",
      "q_big2" -> "environment", "q_big3" -> "environment"))
    write("BENCH_OUTLIERS_r01.json", full(1,
      "q_big1" -> "environment", "q_big2" -> "environment",
      "q_big3" -> "environment", "q_minor" -> "environment"))
    write("BENCH_r02.json", cap3("q_big1" -> "environment",
      "q_big2" -> "environment", "q_big3" -> "environment"))
    write("BENCH_OUTLIERS_r02.json", full(2,
      "q_big1" -> "environment", "q_big3" -> "environment",
      "q_minor" -> "environment"))
    // the in-flight round's own artifacts (driver committed early / a
    // second bench run) must be EXCLUDED from priors
    write("BENCH_r03.json", cap3("q_minor" -> "environment"))
    write("BENCH_OUTLIERS_r03.json", full(3, "q_minor" -> "environment"))
    val priors = Bench.loadPriorVerdicts(dir.toString, before = 3)
    priors.size shouldBe 2
    // newest first: r02 then r01; q_minor invisible in capped headlines
    // but streaks through the sidecars
    Bench.envStreak("q_minor", priors) shouldBe 2
    // q_big2 is missing from r02's SIDECAR but present in its capped
    // headline — the merge is headline ∪ sidecar, so the streak holds
    priors.head.get("q_big2") shouldBe Some("environment")
    Bench.envStreak("q_big2", priors) shouldBe 2
    // without the exclusion bound, round 3's artifact would inflate all
    // streaks by one
    Bench.envStreak("q_minor",
      Bench.loadPriorVerdicts(dir.toString)) shouldBe 3
  }

  test("currentRound: env override wins; else 1 + highest committed " +
    "BENCH_r*.json; empty dir starts at 1") {
    val dir = tempDir("graft_round_spec")
    Bench.currentRound(dir.toString) shouldBe 1
    java.nio.file.Files.write(dir.resolve("BENCH_r07.json"), "{}".getBytes)
    Bench.currentRound(dir.toString) shouldBe 8
  }

  test("currentRound: fallback warns on a fresh newest artifact (same-round " +
    "repeat ambiguity, ADVICE r12) and stays silent on an old one") {
    val dir = tempDir("graft_round_warn_spec")
    val f = dir.resolve("BENCH_r07.json")
    java.nio.file.Files.write(f, "{}".getBytes)
    def capturedErr(body: => Unit): String = {
      val bos = new java.io.ByteArrayOutputStream()
      val old = System.err
      try { System.setErr(new java.io.PrintStream(bos)); body }
      finally System.setErr(old)
      bos.toString
    }
    // just-written artifact: could be this round's own — warn, keep n+1
    capturedErr(Bench.currentRound(dir.toString) shouldBe 8) should
      include("SPARK_GRAFT_ROUND=7")
    // >3h-old artifact: unambiguously a prior round — silent
    f.toFile.setLastModified(System.currentTimeMillis() - 4L * 3600 * 1000)
    capturedErr(Bench.currentRound(dir.toString) shouldBe 8) should
      not include "WARNING"
  }

  test("outlierSidecarPath: the sidecar goes next to the detail file, " +
    "never into the working directory") {
    Bench.outlierSidecarPath(15, Bench.DefaultBenchOut).toString shouldBe
      "/tmp/BENCH_OUTLIERS_r15.json"
    Bench.outlierSidecarPath(7, "/data/bench/sf01.json").toString shouldBe
      "/data/bench/BENCH_OUTLIERS_r07.json"
  }

  test("calibrate: fixed splitmix64 anchor — positive, scales with " +
    "iteration count, runs at suite width") {
    val t1 = Bench.calibrate(1, 20_000_000L)
    t1 should be > 0.0
    // 16x the work takes measurably longer even under scheduler noise
    Bench.calibrate(1, 320_000_000L) should be > t1 * 2
    Bench.calibrate(4, 20_000_000L) should be > 0.0
    intercept[IllegalArgumentException] { Bench.calibrate(0) }
  }
}
