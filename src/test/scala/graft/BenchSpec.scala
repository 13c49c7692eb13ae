package graft

import org.scalatest.funsuite.AnyFunSuite

/** Static guards for [[Bench]]'s stdout contract and its timings file. Only
  * a 2000-char TAIL of combined stdout+stderr is kept; the results line must
  * fit with slack for sbt's trailing "[success]" line and stray late log
  * lines. Round 7 shipped a 1820-char line that was recorded as
  * `parsed: null` — this spec makes growth of [[Bench.reported]] fail
  * `sbt test` BEFORE a round ships, and Bench's runtime gate (hard exit at
  * >1500) backstops format drift this spec's template might miss.
  */
class BenchSpec extends AnyFunSuite {

  /** The cross-round-comparable original queries — must never rotate out. */
  private val original14 = Seq(
    "q_count_by_key", "q_bucket_counts", "q_bucket_counts_fine",
    "q_rename_project", "q_append_count_json", "q_decode_bucket",
    "q_store_select_all", "q_store_sql", "q_text_stats", "q_ngram_counts",
    "q_dedup_near", "q_knn_topk", "q_knn_bucketed", "q_sql_join_agg")

  test("every bench name resolves and reported is a headline subset") {
    val unknown = Bench.headline.filterNot(SparkEntry.queries.contains)
    assert(unknown.isEmpty, s"bench names not in SparkEntry.queries: $unknown")
    assert(Bench.headline.distinct.size == Bench.headline.size,
      "duplicate headline names")
    assert(Bench.reported.distinct.size == Bench.reported.size,
      "duplicate reported names")
    val stray = Bench.reported.filterNot(Bench.headline.contains)
    assert(stray.isEmpty, s"reported names not in headline: $stray")
  }

  test("the original 14 cross-round queries stay in the reported headline") {
    val missing = original14.filterNot(Bench.reported.contains)
    assert(missing.isEmpty, s"original-14 queries rotated out: $missing")
  }

  test("worst-case results line fits the driver tail budget with slack") {
    // Mirror of Bench.main's line template with pessimistic widths: every
    // query at a 4-char value (99.9 — wider than -1 and than any recorded
    // timing), 7-digit stream rows, 4-digit streaming seconds. If this
    // template drifts from Bench.main, the runtime >1500 hard gate still
    // fires — but this assert is the one that fails in `sbt test`, a round
    // earlier.
    val qs = Bench.reported.map(n => s""""$n":99.9""").mkString("{", ",", "}")
    val line =
      s"""{"metric":"total","value":999.9,"unit":"sec","queries":$qs,"errors":{},""" +
      s""""stream_rows":9999999,"stream_sec":9999.9,"stream_rows_per_s":9999999.9,""" +
      s""""stream_sessions_rows":9999999,"stream_sessions_sec":9999.9,""" +
      s""""stream_sessions_rows_per_s":9999999.9,""" +
      s""""stream_dedup_rows":9999999,"stream_dedup_sec":9999.9,""" +
      s""""stream_dedup_rows_per_s":9999999.9,""" +
      s""""stream_join_rows":9999999,"stream_join_sec":9999.9,""" +
      s""""stream_join_rows_per_s":9999999.9,""" +
      s""""host_speed_factor":99.99,"sf":"/root/testdata/sf0.1"}"""
    assert(line.length <= 1450,
      s"worst-case results line is ${line.length} chars (> 1450 spec budget; " +
        "runtime hard gate is 1500) — take names out of Bench.reported")
  }

  test("timings file: every query once, failures as -1 with their error, canary fields") {
    val results: Seq[(String, Double, Option[String])] = Seq(
      ("q_a", 0.1234, None), ("q_b", 12.5, None),
      ("q_c", 3.0, Some("java.lang.IllegalStateException")))
    val json = Bench.timingsJson(results, (0.5, 0.6, 0.7), (0.08, 0.096))
    // Strict parsing rejects a repeated key, so each name is there once.
    val root = new com.fasterxml.jackson.databind.ObjectMapper()
      .enable(com.fasterxml.jackson.core.JsonParser.Feature.STRICT_DUPLICATE_DETECTION)
      .readTree(json)
    val queries = root.get("queries")
    val names = Seq.newBuilder[String]
    queries.fieldNames().forEachRemaining(n => names += n)
    assert(names.result() == results.map(_._1))
    assert(queries.get("q_a").asDouble == 0.123)
    assert(queries.get("q_b").asDouble == 12.5)
    assert(queries.get("q_c").asDouble == -1.0)
    assert(root.get("errors").size == 1)
    assert(root.get("errors").get("q_c").asText == "java.lang.IllegalStateException")
    val cal = root.get("calibration")
    assert(Seq("before", "mid", "after").map(cal.get(_).asDouble) == Seq(0.5, 0.6, 0.7))
    assert(cal.get("ref").asDouble == Bench.CalibrationRefSec)
    val io = root.get("io_calibration")
    assert(Seq("before", "after").map(io.get(_).asDouble) == Seq(0.08, 0.096))
    assert(io.get("ref").asDouble == Bench.IoCalibrationRefSec)
    assert(math.abs(root.get("io_factor").asDouble - 0.096 / Bench.IoCalibrationRefSec) < 0.006)
    assert(math.abs(root.get("host_speed_factor").asDouble - 0.5 / Bench.CalibrationRefSec) < 0.006)
  }

  test("host-speed canary: synthetic load moves the factor while normalized times hold") {
    // The r11 failure mode: the box runs uniformly ~15-40% slow, every
    // query's wall time inflates, and nothing in the bench can prove it
    // was the host. The canary is the proof: under load its factor must
    // rise, and a CPU-bound "query" time DIVIDED by the factor must stay
    // put even though the raw time moved.
    // Min of `samples` (canary, query) pairs, interleaved so both mins
    // span the whole phase. The idle phases take 5: with 3 canary runs
    // and then 3 query runs, a host burst covering one block and not the
    // other drifted two quiet-host idle phases 1.22-1.29× apart (the
    // 1.2× gate), and the canary cancelled instead of asserting.
    def measure(samples: Int): (Double, Double) = {
      // The stand-in query: the same deterministic work at 4× size —
      // CPU-bound like the canary, so its true cost is host-invariant.
      val runs = (1 to samples).map(_ =>
        (Bench.calibrationPhase(1), Bench.calibrationRun(rounds = 384)))
      (runs.map(_._1).min, runs.map(_._2).min)
    }
    // Untimed JIT warm-up: the first compilations of the loop must not
    // land inside the idle baseline (they read as phantom load).
    (1 to 8).foreach(_ => Bench.calibrationRun())
    (1 to 2).foreach(_ => Bench.calibrationRun(rounds = 384))
    // Ambient load first. The test's premise is an IDLE baseline; on a
    // host whose other work already fills every core, or whose speed
    // moves while the test runs (the round-18 failure under io_factor
    // 3.4), a missed detection would blame the canary for the host. Such
    // a run is canceled with its numbers — never passed. Other tenants'
    // CPU over a 0.5 s window, in cores:
    val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val cores = Runtime.getRuntime.availableProcessors()
    os.getCpuLoad; os.getProcessCpuLoad // open the sampling window
    Thread.sleep(500)
    val ambientCores = (os.getCpuLoad - os.getProcessCpuLoad) * cores
    // Two idle phases bracket the loaded one: a baseline taken inside a
    // burst shows as disagreement between them.
    val idleBefore = measure(5)
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val spinners = (1 to 2 * cores).map { _ =>
      val t = new Thread(() => {
        var h = 1L
        while (!stop.get()) {
          h = h * 6364136223846793005L + 1442695040888963407L
          Bench.calSink = h
        }
      })
      t.setDaemon(true)
      t.start()
      t
    }
    val (calLoad, qLoad) =
      try measure(3)
      finally {
        stop.set(true)
        spinners.foreach(_.join(2000))
      }
    // Let the host settle after the spinners before the second baseline.
    Thread.sleep(3000)
    val idleAfter = measure(5)
    val calIdle = math.min(idleBefore._1, idleAfter._1)
    val qIdle = math.min(idleBefore._2, idleAfter._2)
    def spread(a: Double, b: Double) = math.max(a / b, b / a)
    val drift = math.max(spread(idleBefore._1, idleAfter._1),
      spread(idleBefore._2, idleAfter._2))
    // More than half a core short of one free core, or an idle floor that
    // moved by the detection bar itself, leaves nothing to compare with.
    if (ambientCores > cores - 0.5 || drift > 1.2)
      cancel(f"idle baseline contaminated: ambient $ambientCores%.2f of $cores " +
        f"cores busy; idle (cal, query) ${idleBefore._1}%.3f, ${idleBefore._2}%.3f " +
        f"before vs ${idleAfter._1}%.3f, ${idleAfter._2}%.3f after " +
        f"(drift $drift%.2f×); loaded $calLoad%.3f, $qLoad%.3f")
    // 2× oversubscription roughly halves per-thread speed; 1.2× is the
    // conservative detection bar.
    assert(calLoad > 1.2 * calIdle,
      f"factor blind to load: idle $calIdle%.3f vs loaded $calLoad%.3f")
    assert(qLoad > 1.2 * qIdle, "load did not slow the stand-in query")
    // Normalized time = raw / (cal / ref): the ref cancels in the
    // ratio, so stability across host states is (qLoad/calLoad) vs
    // (qIdle/calIdle). Generous band — scheduling noise is real — but
    // far tighter than the raw movement just asserted.
    val normRatio = (qLoad / calLoad) / (qIdle / calIdle)
    assert(normRatio > 0.5 && normRatio < 2.0,
      f"normalized time moved ${normRatio}%.2f× under load — canary " +
        "does not track the query's slowdown")
  }

  test("outlier heal: a synthetic contention burst self-heals at the end of the sweep") {
    // Reproduction of the r10 driver-line failure mode: a host burst
    // that outlasts ALL of a query's back-to-back samples put 12.4 s /
    // 10.1 s on two ADJACENT queries whose true costs were 1.9 s /
    // 2.7 s — min-of-≥2-with-escalation cannot catch it because every
    // sample it compares sits inside the burst. Here the burst is
    // injected as a time dilation active while queries 4-5 run their
    // phase-1 samples, and gone by the heal phase.
    val trueCost = Map("q_a" -> 0.3, "q_b" -> 0.5, "q_c" -> 0.4,
      "q_d" -> 1.9, "q_e" -> 2.7, "q_f" -> 0.6, "q_g" -> 0.2)
    val order = Seq("q_a", "q_b", "q_c", "q_d", "q_e", "q_f", "q_g")
    val burstQueries = Set("q_d", "q_e")
    var inPhase1 = true
    def run(name: String): (Double, Option[String]) = {
      val dilation = if (inPhase1 && burstQueries(name)) 6.0 else 1.0
      (trueCost(name) * dilation, None)
    }
    val phase1 = order.map { n =>
      val (v, err) = Bench.timeQueryPhase(() => run(n))
      (n, v, err)
    }
    // The burst survived phase 1: both phantom values are recorded.
    assert(phase1.find(_._1 == "q_d").get._2 === 1.9 * 6.0)
    assert(phase1.find(_._1 == "q_e").get._2 === 2.7 * 6.0)
    // Only the phantoms are flagged (median of the sweep stays honest;
    // the cheap queries and the sub-floor ones are untouched).
    assert(Bench.outlierNames(phase1).toSet === burstQueries)
    // The streaming benches run here in the real main — time passes,
    // the burst ends.
    inPhase1 = false
    val healed = Bench.healOutliers(phase1, n => run(n))
    assert(healed.find(_._1 == "q_d").get._2 === 1.9)
    assert(healed.find(_._1 == "q_e").get._2 === 2.7)
    // Non-flagged rows pass through untouched, order preserved.
    assert(healed.map(_._1) === order)
    assert(healed.find(_._1 == "q_b").get._2 === 0.5)
    // A failing heal run keeps the phase-1 number (heal can only
    // tighten, never degrade or error a passing query).
    val failHeal = Bench.healOutliers(phase1,
      _ => throw new RuntimeException("flaky"))
    assert(failHeal.find(_._1 == "q_d").get._2 === 1.9 * 6.0)
    assert(failHeal.find(_._1 == "q_d").get._3 === None)
    // An errored query is never re-run by the heal phase.
    val withErr = phase1.map { case (n, v, e) =>
      if (n == "q_d") (n, v, Some("boom")) else (n, v, e) }
    val healedErr = Bench.healOutliers(withErr,
      n => { assert(n != "q_d"); run(n) })
    assert(healedErr.find(_._1 == "q_d").get._3 === Some("boom"))
    // No outliers → no re-runs at all.
    Bench.healOutliers(phase1.map(r => (r._1, 0.2, r._3)),
      _ => fail("must not re-run"))
  }
}
