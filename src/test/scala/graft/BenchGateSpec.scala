package graft

import org.scalatest.funsuite.AnyFunSuite

/** The regression gate, replayed against the round-6 incident
  * (BENCH_r06's two false `"reason":"undeclared"` rows): a shuffle-side
  * co-tenant burst slowed pq1_pq_adc 1.005 → 2.073 s and
  * v13_mmr_rerank 0.239 → 0.723 s while the scan canary moved the
  * OPPOSITE way (0.460 → 0.368), so canary normalization amplified
  * 2.06x raw into 2.57x "normalized" and fired on untouched code. The
  * round-7 gate (max-of-estimators drift + end-of-run retry) must
  * produce zero false rows on that replay and still catch a real
  * regression on a quiet box. Pure functions — no SparkSession. */
class BenchGateSpec extends AnyFunSuite {

  // 18 quiet queries at ratio 1.0 + the two burst victims, the shape of
  // the r6 common set compressed
  private val quiet = (1 to 18).map(i => s"q$i" -> (0.2 + 0.05 * i)).toMap
  private val prev = quiet ++ Map("pq1_pq_adc" -> 1.005,
    "v13_mmr_rerank" -> 0.239)
  private val burstNow = quiet ++ Map("pq1_pq_adc" -> 2.073,
    "v13_mmr_rerank" -> 0.723)

  test("r6 replay: shuffle canary sees the burst -> zero false rows") {
    val med = Bench.medianRatio(burstNow, prev)
    assert(med.exists(m => math.abs(m - 1.0) < 1e-9),
      s"18 of 20 ratios are 1.0, median must be 1.0, got $med")
    // scan canary moved OPPOSITE (0.8x), shuffle canary caught the burst
    val drift = Bench.driftEstimate(Seq(Some(0.368 / 0.460), Some(2.2)), med)
    assert(drift == 2.2)
    assert(Bench.gateFlags(burstNow, prev, drift).isEmpty,
      "burst rows must not fire when the shuffle canary absorbed it")
  }

  test("r6 replay: canaries quiet, retry pass clears the burst") {
    // worst case: the burst dodged BOTH canaries (it was transient).
    // drift floors at 1.0 — the old gate's amplification (x1.25) is gone
    val med = Bench.medianRatio(burstNow, prev)
    val drift = Bench.driftEstimate(Seq(Some(0.368 / 0.460), Some(1.0)), med)
    assert(drift == 1.0)
    val first = Bench.gateFlags(burstNow, prev, drift)
    assert(first == Seq("pq1_pq_adc"),
      s"pq1 trips the first pass (v13's 0.48 s excess is under the " +
        s"0.5 s absolute filter), got $first")
    // the end-of-run retry re-times flagged queries minutes later, when
    // the burst has moved on; the final time is the min of both passes
    val retimed = Map("pq1_pq_adc" -> 1.02) // the adjudicated clean value
    val finalResults = burstNow ++ retimed.map { case (k, v) =>
      k -> math.min(v, burstNow(k))
    }
    assert(Bench.gateFlags(finalResults, prev, drift).isEmpty,
      "zero false regression rows after the retry pass")
  }

  test("a real regression on a quiet box still fires, and persists") {
    val now = quiet ++ Map("pq1_pq_adc" -> 1.01, "v13_mmr_rerank" -> 0.24,
      "lnk1_adamic_adar" -> 2.8)
    val p = prev + ("lnk1_adamic_adar" -> 1.0)
    val drift = Bench.driftEstimate(Seq(Some(1.0), Some(1.0)),
      Bench.medianRatio(now, p))
    assert(drift == 1.0)
    assert(Bench.gateFlags(now, p, drift) == Seq("lnk1_adamic_adar"))
    // retry returns the same time (it is real): the flag persists
    val finalResults = now + ("lnk1_adamic_adar" -> math.min(2.79, 2.8))
    assert(Bench.gateFlags(finalResults, p, drift) ==
      Seq("lnk1_adamic_adar"))
  }

  test("box-wide 1.5x slowdown: median carries the gate, no spray") {
    val now = prev.map { case (k, v) => k -> v * 1.5 }
    val med = Bench.medianRatio(now, prev)
    assert(med.exists(m => math.abs(m - 1.5) < 1e-9))
    // even with both canaries blind (ratio 1.0), the median relaxes it
    val drift = Bench.driftEstimate(Seq(Some(1.0), Some(1.0)), med)
    assert(drift == 1.5)
    assert(Bench.gateFlags(now, prev, drift).isEmpty)
    // ...but no longer SILENTLY (round-7 ADVICE): quiet canaries with a
    // 1.5x median is exactly the code-wide-slowdown signature, and the
    // warning names it for adjudication instead of only absorbing it
    assert(Bench.driftWarning(Seq(Some(1.0), Some(1.0)), med).isDefined)
  }

  test("drift warning: fires only for quiet-canary median drift") {
    // a genuinely slower box slows the canaries too -> no warning
    assert(Bench.driftWarning(Seq(Some(1.5), Some(1.4)), Some(1.5)).isEmpty)
    // one hot canary (shuffle-side burst) explains the drift -> quiet
    assert(Bench.driftWarning(Seq(Some(1.0), Some(1.6)), Some(1.4)).isEmpty)
    // flat median -> nothing to warn about, whatever the canaries do
    assert(Bench.driftWarning(Seq(Some(1.0), Some(1.0)), Some(1.05)).isEmpty)
    assert(Bench.driftWarning(Seq(None, None), None).isEmpty)
    // the round-7-ADVICE pattern itself: median 1.4, canaries ~1.0
    val w = Bench.driftWarning(Seq(Some(1.02), Some(0.97)), Some(1.4))
    assert(w.exists(_.contains("code-wide")))
    // UNMEASURED canaries are not QUIET canaries: an archive baseline
    // with no canary fields must not produce a phantom warning
    assert(Bench.driftWarning(Seq(None, None), Some(1.4)).isEmpty)
    // one measured quiet canary is evidence enough
    assert(Bench.driftWarning(Seq(Some(1.01), None), Some(1.4)).nonEmpty)
  }

  test("family shift: pin family moves together + pin-free flat fires" +
      " a named row, not silence") {
    // the round-8 honest-number transition, replayed: every edge-pin
    // query 1.7x, every pin-free query ~1.0 — per-query gates stay
    // silent (2x + 0.5s bar) but the FAMILY pattern must surface
    val fams = Bench.queryFamilies
    val pinPrev = fams.keys.map(_ -> 2.0).toMap
    val p = quiet ++ pinPrev
    val now = quiet ++ pinPrev.map { case (k, v) => k -> v * 1.7 }
    val rows = Bench.familyShifts(now, p, fams, Map.empty)
    assert(rows.map(_.family) == Seq("edge-pin"),
      s"the family row must fire, got $rows")
    assert(rows.head.members == fams.size)
    assert(math.abs(rows.head.familyMedian - 1.7) < 1e-9)
    assert(math.abs(rows.head.othersMedian - 1.0) < 1e-9)
    assert(rows.head.reason == "undeclared")
    // a declared mechanism rides along as the adjudication text
    val declared = Bench.familyShifts(now, p, fams,
      Map("edge-pin" -> "pin cost became real"))
    assert(declared.head.reason == "pin cost became real")
  }

  test("family shift: family-wide SPEEDUP on a quiet box fires too" +
      " (the cache-hit signature)") {
    val fams = Bench.queryFamilies
    val pinPrev = fams.keys.map(_ -> 2.0).toMap
    val p = quiet ++ pinPrev
    val now = quiet ++ pinPrev.map { case (k, v) => k -> v * 0.5 }
    val rows = Bench.familyShifts(now, p, fams, Map.empty)
    assert(rows.nonEmpty && rows.head.familyMedian < 0.6,
      "a family reading half its baseline with flat pin-free queries" +
        " is the rep-N-cache-hit bug resurfacing and must be named")
  }

  test("family shift: stays silent when the box moved or data is thin") {
    val fams = Bench.queryFamilies
    val pinPrev = fams.keys.map(_ -> 2.0).toMap
    val p = quiet ++ pinPrev
    // everything flat -> silence
    assert(Bench.familyShifts(p, p, fams, Map.empty).isEmpty)
    // box-wide 1.7x (family AND pin-free) -> box drift, not family signal
    val boxWide = p.map { case (k, v) => k -> v * 1.7 }
    assert(Bench.familyShifts(boxWide, p, fams, Map.empty).isEmpty)
    // under 4 family members in the common set -> too thin to call
    val thinPrev = quiet ++ pinPrev.take(3)
    val thinNow = quiet ++ pinPrev.take(3).map { case (k, v) => k -> v * 1.7 }
    assert(Bench.familyShifts(thinNow, thinPrev, fams, Map.empty).isEmpty)
    // under 8 pin-free queries -> no stable "others" median
    val fewOthers = (1 to 7).map(i => s"q$i" -> 1.0).toMap ++ pinPrev
    val fewNow = (1 to 7).map(i => s"q$i" -> 1.0).toMap ++
      pinPrev.map { case (k, v) => k -> v * 1.7 }
    assert(Bench.familyShifts(fewNow, fewOthers, fams, Map.empty).isEmpty)
  }

  test("jsonEscape keeps free-text reasons from corrupting the bench" +
      " JSON line") {
    assert(Bench.jsonEscape("""min-of-N read a "cache hit"""") ==
      """min-of-N read a \"cache hit\"""")
    assert(Bench.jsonEscape("""back\slash""") == """back\\slash""")
    assert(Bench.jsonEscape("tab\there") == "tab\\u0009here")
    assert(Bench.jsonEscape("plain text 1.3x") == "plain text 1.3x")
    // Verify writes oracle_sql.json through it too: newlines, CRs, tabs
    // and every other char below 0x20 must parse back to the original
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val controls = (0 until 0x20).map(_.toChar).mkString
    Seq("line\nbreak", "cr\rlf", "tab\there", controls,
        "SELECT \"a\\b\"\n\tFROM t\r\n" + controls + "end").foreach { raw =>
      val esc = Bench.jsonEscape(raw)
      assert(esc.forall(_ >= ' '), s"raw control char left in $esc")
      assert(mapper.readValue("\"" + esc + "\"", classOf[String]) == raw)
    }
  }

  test("r11 replay: the disk-side drift shape is adjudicated by the IO" +
      " canary, mechanically") {
    // the round-11 incident shape: CPU canaries at session-best (scan
    // 0.97x, shuffle 1.01x) while the disk-writing lanes degraded
    // 1.4-2.5x together — dbs1 tripped the raw gate as `undeclared` and
    // a human had to adjudicate it from the BASELINE notes. Here the
    // victim sits at the top of that band (2.2x) so it clears the raw
    // 2x gate; with the IO canary PINNED, its 1.7x ratio sits in the
    // drift max and the gate relaxes on its own.
    val ioPrev = prev + ("dbs1_dbscan" -> 3.0)
    val ioNow = burstNow - "pq1_pq_adc" - "v13_mmr_rerank" ++
      Map("pq1_pq_adc" -> 1.005, "v13_mmr_rerank" -> 0.239,
        "dbs1_dbscan" -> 3.0 * 2.2)
    val med = Bench.medianRatio(ioNow, ioPrev)
    // without the io pin (the round-11 reality): dbs1 fires undeclared
    val blind = Bench.driftEstimate(Seq(Some(0.97), Some(1.01)), med)
    assert(Bench.gateFlags(ioNow, ioPrev, blind) == Seq("dbs1_dbscan"))
    // with it: the io ratio explains the shape and no row fires
    val seen = Bench.driftEstimate(Seq(Some(0.97), Some(1.01), Some(1.7)), med)
    assert(seen == 1.7)
    assert(Bench.gateFlags(ioNow, ioPrev, seen).isEmpty)
    // and a hot io canary also counts as a NON-quiet canary for the
    // code-wide-slowdown warning (it explains the median drift)
    assert(Bench.driftWarning(Seq(Some(1.0), Some(1.0), Some(1.7)),
      Some(1.4)).isEmpty)
  }

  test("r12 replay: mid-run drift is caught by the END-of-run canary" +
      " re-measure, mechanically") {
    // the promoted round-12 incident: start canaries at session-best
    // (scan 0.87x, shuffle ~1.0x, io ~1.0x) because the disk co-tenant
    // arrived MID-run; the disk-writing lanes finished 1.35-1.47x their
    // r11 pins, a probe 30 min later showed all three canaries
    // elevated, and BASELINE.md adjudicated in prose. With the end
    // canaries folded in, the estimate sees what the probe saw.
    val startRatios = Seq(Some(0.87), Some(1.0), Some(1.0))
    // a write-lane victim pushed past the 2x bar by the disk co-tenant
    val p = prev + ("e20_tws_sessionize" -> 3.51)
    val now = prev + ("e20_tws_sessionize" -> 3.51 * 2.1)
    val med = Bench.medianRatio(now, p)
    // start-canaries-only (the round-12 gate): the victim fires raw
    val blind = Bench.driftEstimate(startRatios, med)
    assert(Bench.gateFlags(now, p, blind) == Seq("e20_tws_sessionize"))
    // end canaries see the co-tenant (io end 1.6x, corroborated by the
    // write lanes at 1.4x): the estimate relaxes and the row clears
    val endIo = Bench.gatedIoRatio(Some(1.6), Some(1.4))
    assert(endIo.contains(1.6), "corroborated io drift must be admitted")
    val seen = Bench.driftEstimate(startRatios ++
      Seq(Some(1.05), Some(1.1), endIo), med)
    assert(seen == 1.6)
    assert(Bench.gateFlags(now, p, seen).isEmpty)
  }

  test("the IO ratio needs write-lane corroboration before it may relax" +
      " the gate (round-12 advisor)") {
    // a spurious fsync-latency spike with QUIET write lanes must not
    // multiplicatively relax the threshold for every query...
    assert(Bench.gatedIoRatio(Some(1.9), Some(1.02)).isEmpty)
    assert(Bench.gatedIoRatio(Some(1.9), None).isEmpty)
    // ...nor suppress the code-wide-slowdown warning: with the spike
    // excluded, quiet CPU canaries + a 1.4 median still warn
    assert(Bench.driftWarning(
      Seq(Some(1.0), Some(1.0)) :+ Bench.gatedIoRatio(Some(1.9), Some(1.0)),
      Some(1.4)).nonEmpty)
    // a QUIET io ratio always passes (it contributes nothing to a max)
    assert(Bench.gatedIoRatio(Some(1.02), Some(1.0)).contains(1.02))
    assert(Bench.gatedIoRatio(Some(0.8), None).contains(0.8))
    // a corroborated elevation passes: the real disk co-tenant shape
    assert(Bench.gatedIoRatio(Some(1.6), Some(1.35)).contains(1.6))
    // unpinned io canary stays absent either way
    assert(Bench.gatedIoRatio(None, Some(1.4)).isEmpty)
    // the first live firing (round-13 full run, 14:44): io END 1.34
    // with the write-lane median at 1.0945 — a hair under the bar, so
    // the late-arriving disk co-tenant was EXCLUDED from the estimate
    // while the quiet CPU end-canaries (0.955/0.959) anchored it; the
    // run still promoted nothing (scan START 1.17 carried the gate).
    // Pinned with the real numbers so the boundary stays deliberate.
    assert(Bench.gatedIoRatio(Some(1.34), Some(1.0945)).isEmpty)
    assert(Bench.gatedIoRatio(Some(1.34), Some(1.11)).contains(1.34))
  }

  test("driftEstimate floors at 1.0; medianRatio needs 8 common rows") {
    assert(Bench.driftEstimate(Seq(Some(0.7), Some(0.8)), Some(0.9)) == 1.0)
    assert(Bench.driftEstimate(Seq(None, None), None) == 1.0)
    val tiny = (1 to 7).map(i => s"q$i" -> 1.0).toMap
    assert(Bench.medianRatio(tiny, tiny).isEmpty)
    assert(Bench.medianRatio(prev, Map.empty).isEmpty)
  }

  test("a query that throws is recorded as failed, never timed, and fails the gate") {
    var reps = 0
    val failing = Bench.timeReps(3, () => {
      reps += 1
      if (reps == 2) throw new IllegalStateException("boom")
    })
    assert(failing.left.exists(_.contains("boom")))
    assert(reps == 2, "reps after the failure must not run")
    // a successful query is still min-of-n, each rep after beforeRep
    var before = 0
    val ok = Bench.timeReps(3, () => Thread.sleep(2), () => before += 1)
    assert(ok.exists(t => t >= 0.002 && t < 1.0) && before == 3)
    // the gate fails on a failure even when nothing regressed
    assert(!Bench.gatePasses(Seq.empty, Map("q1_scan" -> "boom")))
    assert(!Bench.gatePasses(Seq("""{"name":"q1_scan"}"""), Map.empty))
    assert(Bench.gatePasses(Seq.empty, Map.empty))
  }
}
