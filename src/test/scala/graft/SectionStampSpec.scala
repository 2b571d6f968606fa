package graft

import java.util.concurrent.atomic.AtomicBoolean

import org.scalatest.Retries
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.tagobjects.Retryable

/** Per-section contamination stamps (VERDICT r15 #3).
  *
  * The failure being pinned: the r15 driver bench record passed the
  * GLOBAL contamination gate (worst I/O ratio 1.63 < the 2.5 io gate,
  * CPU ~1.0) while its trigger-cadence-bound streaming entries ran
  * 1.8-2.8x their clean times — a contended record with no way to tell
  * WHICH numbers to distrust. The fix is two-fold and both halves are
  * pinned here: (a) section-level stamps from the calibration
  * checkpoints bounding each phase, and (b) per-entry suspect labels
  * for catalog entries 1.8-3x their committed reference (above 3x the
  * outlier-retry machinery already fires).
  */
class SectionStampSpec extends AnyFunSuite with Retries {

  // same retry-once policy as MachineHealthSpec: the real-load leg is
  // wall-clock-sensitive and a transient hiccup mid-suite must not red
  // an otherwise-green run
  override def withFixture(test: NoArgTest) =
    if (isRetryable(test)) withRetry { super.withFixture(test) }
    else super.withFixture(test)

  private val bounds = Seq(
    ("catalog", "start", "after_catalog"),
    ("streaming", "after_catalog", "after_streaming"),
    ("request", "before_request", "after_request"))

  test("clean run: every section unstamped, ratios near 1") {
    val calib = Map("start" -> 100.0, "after_catalog" -> 103.0,
      "after_streaming" -> 99.0, "before_request" -> 101.0,
      "after_request" -> 102.0)
    val io = calib.map { case (k, v) => k -> v * 3 }
    val st = Bench.sectionStamps(calib, io, bounds)
    assert(st.size == 3)
    assert(st.forall(!_._4), s"clean run stamped: $st")
    assert(st.forall(s => s._2 < 1.1 && s._3 < 1.1))
  }

  test("mid-run CPU contention stamps ONLY the sections it bounds") {
    // box degrades during streaming (after_streaming checkpoint 2x) and
    // recovers before the request phase — catalog and request sections
    // must stay clean, streaming must stamp
    val calib = Map("start" -> 100.0, "after_catalog" -> 101.0,
      "after_streaming" -> 200.0, "before_request" -> 104.0,
      "after_request" -> 103.0)
    val io = calib.map { case (k, v) => k -> 300.0 } // io flat
    val st = Bench.sectionStamps(calib, io, bounds).map(s => s._1 -> s._4).toMap
    assert(!st("catalog") && st("streaming") && !st("request"), st.toString)
  }

  test("I/O contention stamps through its own gate, independent of CPU") {
    // the r12 failure shape: CPU ratio ~1.01, disk 3x — the io gate
    // (2.5) must fire alone
    val calib = Map("start" -> 100.0, "after_catalog" -> 101.0)
    val io = Map("start" -> 300.0, "after_catalog" -> 920.0)
    val st = Bench.sectionStamps(calib, io, Seq(("catalog", "start", "after_catalog")))
    assert(st.head._4, s"io-degraded section not stamped: $st")
    assert(st.head._2 < 1.1 && st.head._3 > 3.0)
  }

  test("r15 contended-record replay: global gate passes, suspects fire") {
    // the actual shape that motivated this: worst io ratio 1.63 is UNDER
    // the 2.5 io gate (global record read contaminated:false) yet the
    // streaming catalog entries ran 1.8-2.8x their committed clean times
    val calib = Map("start" -> 100.0, "after_catalog" -> 102.0)
    val io = Map("start" -> 300.0, "after_catalog" -> 489.0) // ratio 1.63
    val st = Bench.sectionStamps(calib, io, Seq(("catalog", "start", "after_catalog")))
    assert(!st.head._4, "1.63 io ratio must not trip the 2.5 io gate")
    // ...so the per-ENTRY labels are what catch it
    val ref = Map("q_late_drop" -> 3.97, "q_window_streaming_tws" -> 2.4,
      "q1_agg" -> 0.8, "q_dedup_minhash" -> 3.0)
    val run = Seq("q_late_drop" -> 9.3, // 2.3x clean (the r15 number)
      "q_window_streaming_tws" -> 6.7, // 2.8x clean
      "q1_agg" -> 0.9, "q_dedup_minhash" -> 3.4)
    val sus = Bench.suspectEntries(run, ref).toMap
    assert(sus.keySet == Set("q_late_drop", "q_window_streaming_tws"), sus.toString)
    assert(sus("q_late_drop") > 2.2 && sus("q_late_drop") < 2.4)
  }

  test("suspect labels: below-ratio, sub-second, failed and missing-ref entries stay quiet") {
    val ref = Map("a" -> 2.0, "b" -> 0.1, "c" -> 5.0, "failed" -> -1.0)
    val run = Seq(
      "a" -> 3.5, // 1.75x < 1.8 gate
      "b" -> 0.9, // 9x but only +0.8 s — sub-second noise band
      "c" -> -1.0, // failed this run
      "failed" -> 4.0, // failed in the REFERENCE record
      "new_entry" -> 60.0) // no reference at all
    assert(Bench.suspectEntries(run, ref).isEmpty)
  }

  test("workload-filtered runs omit unboundable sections, never guess") {
    val calib = Map("start" -> 100.0, "after_catalog" -> 101.0)
    val io = calib
    val st = Bench.sectionStamps(calib, io, bounds)
    assert(st.map(_._1) == Seq("catalog"))
  }

  // ---- compact headline (VERDICT r16 #1) -------------------------------

  private val fullCatalog: Seq[(String, Double)] =
    (1 to 156).map(i => f"q_entry_with_a_realistic_name_$i%03d" -> (0.1 + i * 0.05))
  private val fiveSections = Seq(
    ("catalog", 1.0, 1.2, false), ("streaming", 1.01, 1.1, false),
    ("wordcount", 0.99, 1.0, false), ("request", 1.02, 1.54, false),
    ("tail", 0.96, 1.12, false))
  // twelve suspects with both draws (VERDICT r17 #2): odd ones reproduce
  // on the retry (regression-shaped), even ones retry clean (contention),
  // every third has no retry at all (re-measure failed / REPEAT knob)
  private val twelveSuspects =
    (1 to 12).map { i =>
      val ref = 1.0 + i * 0.1
      val first = ref * (1.8 + i * 0.3)
      val retry =
        if (i % 3 == 0) -1.0 else if (i % 2 == 1) first * 0.95 else ref * 1.05
      Bench.Suspect(f"q_suspect_entry_name_$i%02d", first, retry, ref)
    }

  test("headline fits the driver's 2000-char stdout tail at full catalog size") {
    // <= 1800 leaves margin for the runner's [info] prefix and the
    // trailing sbt success line inside the same 2000-char tail
    val h = Bench.headline(133.2, "/root/testdata/sf0.1", 156, 0, false,
      fiveSections, twelveSuspects, fullCatalog, "/tmp/BENCH_local.json")
    assert(h.length <= 1800, s"headline ${h.length} chars blows the tail window")
    assert(!h.contains("\n"))
  }

  test("headline is valid JSON carrying totals, stamps, suspects, heaviest entries") {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val h = Bench.headline(133.2, "/root/testdata/sf0.1", 156, 2, true,
      fiveSections, twelveSuspects, fullCatalog, "/root/repo/BENCH_local.json")
    val j = JsonMethods.parse(h) // throws on malformed JSON
    assert((j \ "metric") == JString("total"))
    assert((j \ "n_entries") == JInt(156) && (j \ "n_failed") == JInt(2))
    assert((j \ "contaminated") == JBool(true))
    assert((j \ "suspects_total") == JInt(12))
    // suspects self-attribute (VERDICT r17 #2): every label carries both
    // draws; a reproduced retry reads regression-shaped, a clean retry
    // reads contention-shaped, a missing retry reads null
    val sus = (j \ "suspects").asInstanceOf[JObject].obj.toMap
    val s12 = sus("q_suspect_entry_name_12") // i=12: no retry
    assert((s12 \ "retry") == JNull && (s12 \ "retry_ratio") == JNull)
    val s11 = sus("q_suspect_entry_name_11") // odd: reproduces
    val r11 = (s11 \ "retry_ratio").asInstanceOf[JDouble].num
    assert(r11 > 4.0, s"reproduced suspect must keep a high retry ratio: $r11")
    val s10 = sus("q_suspect_entry_name_10") // even: retries clean
    val r10 = (s10 \ "retry_ratio").asInstanceOf[JDouble].num
    assert(r10 < 1.2, s"contention suspect must retry near clean: $r10")
    assert((s10 \ "first").asInstanceOf[JDouble].num > 2.0)
    val secs = (j \ "sections").asInstanceOf[JObject].obj.map(_._1)
    assert(secs == List("catalog", "streaming", "wordcount", "request", "tail"))
    // the heaviest catalog entry must be the FIRST thing trimmed-for, so
    // whatever subset fits always includes it
    val top = (j \ "queries_top").asInstanceOf[JObject].obj.map(_._1)
    assert(top.head == "q_entry_with_a_realistic_name_156")
    assert(top.nonEmpty && top.size < 156) // genuinely trimmed
  }

  test("headline survives pathological inputs (no sections, empty run, quotes in sf)") {
    import org.json4s.jackson.JsonMethods
    val h = Bench.headline(0.0, "/tmp/weird\"dir", 0, 0, false,
      Nil, Nil, Nil, "/tmp/out.json")
    JsonMethods.parse(h)
    assert(h.length < 400)
  }

  test("headline names its failures, capped (VERDICT r19 #2)") {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    // the r19 32-core sweep stamped n_failed:1 but the /tmp record holding
    // the errors map was overwritten by the next sweep — the headline must
    // carry the names itself
    val errs = Seq(
      "q_broke" -> ("x" * 300),
      "q_also_broke" -> "short message")
    val h = Bench.headline(133.2, "/root/testdata/sf0.1", 156, 2, false,
      fiveSections, twelveSuspects, fullCatalog, "/tmp/BENCH_local.json",
      errors = errs)
    val j = JsonMethods.parse(h)
    val em = (j \ "errors").asInstanceOf[JObject].obj.toMap
    assert(em.keySet == Set("q_broke", "q_also_broke"))
    assert(em("q_broke").asInstanceOf[JString].s.length == 60, "messages truncated")
    assert(em("q_also_broke") == JString("short message"))
    assert(h.length <= 1800, s"headline ${h.length} chars blows the tail window")
    // mass failure can't blow the window: 40 failures -> byte-budgeted
    // subset named, cap held, true count kept
    val many = (1 to 40).map(i => f"q_failed_entry_$i%02d" -> ("m" * 300))
    val h2 = Bench.headline(0.0, "/root/testdata/sf0.1", 156, 40, false,
      fiveSections, twelveSuspects, fullCatalog, "/tmp/BENCH_local.json",
      errors = many)
    val j2 = JsonMethods.parse(h2)
    assert((j2 \ "n_failed") == JInt(40))
    val named = (j2 \ "errors").asInstanceOf[JObject].obj
    assert(named.nonEmpty && named.size < 40, s"expected a budgeted subset, got ${named.size}")
    assert(named.head._1 == "q_failed_entry_01", "earliest failures kept first")
    assert(h2.length <= 1800, s"headline ${h2.length} chars blows the tail window")
    // clean run: empty map, not absent — parsers can rely on the field
    val h3 = Bench.headline(1.0, "/tmp/x", 1, 0, false, Nil, Nil, Nil, "/tmp/o")
    assert(((JsonMethods.parse(h3) \ "errors")).asInstanceOf[JObject].obj.isEmpty)
  }

  test("headline escapes control characters in error text and keeps to cap") {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val nasty = "line one\nsaid \"no\" \u0001 tab\t end"
    val h = Bench.headline(1.0, "/tmp/x", 1, 1, false, Nil, Nil, Nil, "/tmp/o",
      errors = Seq("q_nasty" -> nasty))
    val em = (JsonMethods.parse(h) \ "errors").asInstanceOf[JObject].obj.toMap
    assert(em("q_nasty") == JString(nasty))
    // the error map is filled up to its byte budget at some cap in this
    // sweep; the whole line, queries_top's braces and the closing brace
    // included, must still fit
    val errs = (1 to 60).map(i => s"q_err_${"e" * (i % 17)}" -> s"m\n${"x" * (i % 13)}\u0001")
    (300 to 900).foreach { cap =>
      val hc = Bench.headline(133.2, "testdata/sf0.1", 156, 60, false,
        Nil, Nil, Nil, "/tmp/BENCH_local.json", cap = cap, errors = errs)
      JsonMethods.parse(hc)
      assert(hc.length <= cap, s"headline ${hc.length} chars over cap $cap")
    }
  }

  // ---- official box gate (VERDICT r17 #5) -------------------------------

  test("box gate: the r17 failure shape (uniformly slow, clean stamps) refuses") {
    // every probe ~1.4x its baseline — the exact drift two r17 official
    // attempts showed with CLEAN calibration stamps
    val probes = (1 to 10).map(i => (s"q_$i", 1.4 * i * 0.1, i * 0.1))
    val d = Bench.gateMedianDrift(probes)
    assert(d > 1.35 && d < 1.45, s"drift $d")
    assert(d > 1.25, "must refuse at the prev-gate threshold")
    assert(d > 1.0, "must refuse at the committed-sweep fallback threshold")
  }

  test("box gate: a clean box passes; failed probes and missing baselines don't vote") {
    val probes = Seq(
      ("a", 0.70, 1.0), ("b", 0.75, 1.0), ("c", 0.72, 1.0),
      ("failed", -1.0, 1.0), // probe run failed — ignored
      ("noref", 0.9, -1.0)) // baseline absent — ignored
    val d = Bench.gateMedianDrift(probes)
    assert(d > 0.7 && d < 0.76, s"clean steady probes must sit near 0.73: $d")
    assert(Bench.gateMedianDrift(Nil) == -1.0, "no evidence -> no refusal")
    assert(Bench.gateMedianDrift(Seq(("x", -1.0, 1.0))) == -1.0)
  }

  test("box gate: one outlier probe can't refuse a healthy box (median, not max)") {
    val probes = (1 to 9).map(i => (s"q_$i", 0.75, 1.0)) :+ ("hiccup", 9.0, 1.0)
    assert(Bench.gateMedianDrift(probes) < 1.0)
  }

  test("box gate part 3: the r18 attempt-3 shape (clean start, mid-run degradation) refuses at the end") {
    // measured r18 attempt 3: start probes 0.68 (clean — gate passed),
    // then host-IO interference landed mid-run; batch entries inflated
    // ~1.35-1.5x (tpch_q11 2.47->3.45, tpch_q2 2.07->3.05, ann_pq
    // 2.66->3.58) and the record totaled 188 s vs the 134.8 committed
    // series. The end-side pass re-runs the SAME probes with the SAME
    // threshold — those inflations must refuse.
    val startProbes = (1 to 10).map(i => (s"q_$i", 0.68 * i * 0.1, i * 0.1))
    assert(Bench.gateMedianDrift(startProbes) <= 1.0, "start gate passes clean")
    val endProbes = (1 to 10).map(i => (s"q_$i", 1.38 * i * 0.1, i * 0.1))
    val d = Bench.gateMedianDrift(endProbes)
    assert(d > 1.25, "mid-run degradation must refuse at the prev-gate threshold")
    assert(d > 1.0, "and at the committed-sweep fallback threshold")
    // a fully-warm clean end reads LOWER than the cold start — never refuses
    val warmEnd = (1 to 10).map(i => (s"q_$i", 0.60 * i * 0.1, i * 0.1))
    assert(Bench.gateMedianDrift(warmEnd) <= 1.0)
  }

  test("headline carries box_drift fields on every record (VERDICT r18 #2)") {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    // probed run: both drifts are numbers — a driver-run record
    // self-classifies box interference in one field instead of via
    // suspect forensics (the r18 record carried 12 suspects with retries
    // still 5-8x yet stamped contaminated:false)
    val h = Bench.headline(262.1, "/root/testdata/sf0.1", 156, 0, false,
      fiveSections, twelveSuspects, fullCatalog, "/tmp/BENCH_local.json",
      boxDriftStart = 0.71, boxDriftEnd = 2.43)
    val j = JsonMethods.parse(h)
    assert((j \ "box_drift_start") == JDouble(0.71))
    assert((j \ "box_drift_end") == JDouble(2.43))
    assert(h.length <= 1800, s"headline ${h.length} chars blows the tail window")
    // un-probed run (subset/dev knobs, or no reference at this sf):
    // never guessed — the fields read null, not 0 or -1
    val h2 = Bench.headline(0.0, "/tmp/x", 0, 0, false, Nil, Nil, Nil, "/tmp/o")
    val j2 = JsonMethods.parse(h2)
    assert((j2 \ "box_drift_start") == JNull && (j2 \ "box_drift_end") == JNull)
  }

  test("newest committed 100x scale artifact carries machine-stamped provenance (VERDICT r18 #5)") {
    // the r18 artifact shipped with the r15 note verbatim — scale records
    // must carry provenance the assembler stamps, not hand-written prose.
    // The corrected r18 artifact carries note_corrected; every artifact
    // scripts/scale_refresh.py produces from r19 on carries `provenance`
    // (round, git SHA, corpus mtimes).
    import org.json4s.jackson.JsonMethods
    val arts = new java.io.File("/root/repo").listFiles()
      .filter(f => f.getName.matches("BENCH_sf10_r\\d+\\.json")).sortBy(_.getName)
    assume(arts.nonEmpty, "no committed scale artifacts on this checkout")
    val newest = arts.last
    val j = JsonMethods.parse(new String(
      java.nio.file.Files.readAllBytes(newest.toPath), "UTF-8"))
    val stamped = (j \ "provenance") != org.json4s.JNothing ||
      (j \ "note_corrected") != org.json4s.JNothing
    assert(stamped, s"${newest.getName} lacks provenance/note_corrected — " +
      "regenerate it through scripts/scale_refresh.py")
  }

  test("headline stays valid JSON under a comma-decimal default locale (ADVICE r17)") {
    // an f-interpolator under fr_FR emits "value":133,2 — invalid JSON,
    // recreating the parsed:null failure the headline exists to end; the
    // fix formats every numeric field via Locale.ROOT
    import org.json4s.jackson.JsonMethods
    val prev = java.util.Locale.getDefault
    java.util.Locale.setDefault(java.util.Locale.FRANCE)
    try {
      val h = Bench.headline(133.2, "/root/testdata/sf0.1", 156, 0, false,
        fiveSections, twelveSuspects, fullCatalog, "/tmp/BENCH_local.json")
      JsonMethods.parse(h) // throws on "133,2"
      assert(h.contains("\"value\":133.2"), h.take(120))
    } finally java.util.Locale.setDefault(prev)
  }

  test("stamp fires end-to-end from a REAL synthetic load on one boundary",
      Retryable) {
    // same preconditions as MachineHealthSpec: skip on a box that is
    // already contended (the idle baseline would be inflated)
    val iters = 20000000L
    val pre1 = MachineHealth.score(iters)
    val pre2 = MachineHealth.score(iters)
    assume(math.max(pre1, pre2) / math.min(pre1, pre2) < MachineHealth.ratioGate,
      "box not idle; skipping wall-clock-sensitive leg")
    val idle = math.min(pre1, pre2)

    val stop = new AtomicBoolean(false)
    val hogs = (1 to Runtime.getRuntime.availableProcessors() * 2).map { i =>
      val t = new Thread(() => {
        var x = i.toLong
        while (!stop.get()) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17 }
        MachineHealth.sink ^= x
      }, s"stamp-hog-$i")
      t.setDaemon(true); t.start(); t
    }
    val loaded =
      try MachineHealth.score(iters)
      finally { stop.set(true); hogs.foreach(_.join(2000)) }

    // feed the real scores into the section composition: the section the
    // loaded checkpoint bounds stamps; the neighbor sections do not
    val calib = Map("start" -> idle, "after_catalog" -> idle,
      "after_streaming" -> loaded, "before_request" -> idle,
      "after_request" -> idle)
    val io = Map("start" -> 1.0, "after_catalog" -> 1.0,
      "after_streaming" -> 1.0, "before_request" -> 1.0,
      "after_request" -> 1.0)
    val st = Bench.sectionStamps(calib, io, bounds).map(s => s._1 -> s._4).toMap
    assert(st("streaming"),
      f"real-load boundary did not stamp (idle $idle%.1f, loaded $loaded%.1f)")
    assert(!st("catalog") && !st("request"))
  }
}
