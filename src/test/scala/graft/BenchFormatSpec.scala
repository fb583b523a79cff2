package graft

import org.scalatest.funsuite.AnyFunSuite
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import scala.jdk.CollectionConverters._

/** The bench stdout line is a DRIVER CONTRACT: only the last ~2000
  * chars of stdout survive capture, with the sbt epilogue inside the
  * window after the line — r7 shipped an unparseable truncated line
  * this way. Pin the two properties that keep it parseable forever:
  * every emitted line is valid JSON, and no catalog size can push it
  * past the budget. */
class BenchFormatSpec extends AnyFunSuite {

  private val mapper = new ObjectMapper

  /** The detail record's `frame` block read back as a flat
    * name → number map; empty when the block is absent. */
  private def parseFrame(json: String): Map[String, Double] =
    Option(mapper.readTree(json).get("frame")).fold(Map.empty[String, Double]) {
      f => f.fields.asScala.map(e => e.getKey -> e.getValue.asDouble).toMap
    }

  /** `json` written to a file and read back through Bench's record
    * reader. */
  private def read(json: String): Option[JsonNode] = {
    val f = java.nio.file.Files.createTempFile("bench_record", ".json")
    try {
      java.nio.file.Files.write(f, json.getBytes("UTF-8"))
      Bench.readRecord(f.toString)
    } finally java.nio.file.Files.delete(f)
  }

  private def mk(n: Int, err: Int = 0): Seq[(String, Double, Option[String])] =
    (1 to n).map { i =>
      (f"dd_some_catalog_query_name_$i%03d", i * 0.037,
        if (i <= err) Some("SparkException: boom") else None)
    }

  test("small catalogs emit the full map at millisecond precision") {
    val line = Bench.headline(mk(10), 3, "sf0.1", "BENCH_DETAIL.json")
    val js = mapper.readTree(line)
    assert(js.get("queries").size() == 10)
    assert(!js.has("q_omitted"))
    assert(js.get("reps").asInt() == 3)
    // 3-decimal precision survived (0.037 stays exact)
    assert(js.get("queries").get("dd_some_catalog_query_name_001")
      .asDouble() == 0.037)
  }

  test("every catalog size up to 500 queries fits the budget, parseable") {
    for (n <- Seq(50, 88, 120, 200, 500)) {
      val line = Bench.headline(mk(n), 3, "sf0.1", "BENCH_DETAIL.json")
      assert(line.length <= Bench.StdoutBudget, s"n=$n len=${line.length}")
      val js = mapper.readTree(line)
      assert(js.get("metric").asText() == "total")
      val shown = js.get("queries").size()
      val omitted = if (js.has("q_omitted")) js.get("q_omitted").asInt() else 0
      assert(shown + omitted == n, s"n=$n shown=$shown omitted=$omitted")
      if (omitted > 0) {
        assert(js.get("detail").asText() == "BENCH_DETAIL.json")
        // the SLOWEST queries survive degradation — the last (largest
        // value) name must be shown, the first (smallest) omitted
        assert(js.get("queries").has(f"dd_some_catalog_query_name_$n%03d"))
        assert(!js.get("queries").has("dd_some_catalog_query_name_001"))
      }
    }
  }

  test("error messages stay inside the line and the total excludes them") {
    val line = Bench.headline(mk(88, err = 2), 3, "sf0.1", "d.json")
    assert(line.length <= Bench.StdoutBudget)
    val js = mapper.readTree(line)
    assert(js.get("errors").size() == 2)
    // errored queries carry value -1 upstream; total sums successes only
    val total = mk(88, err = 2).collect { case (_, v, None) => v }.sum
    assert(math.abs(js.get("value").asDouble() - total) < 0.05)
  }

  test("a mass failure still fits the budget: the ladder shrinks the " +
      "error map too, with an omission count") {
    // 40 errored queries × ~30-char messages would blow the budget at
    // every query-shrinking rung if the error map never shrank (the
    // r7 decapitated-stdout failure, on the error path)
    val line = Bench.headline(mk(150, err = 40), 3, "sf0.1", "d.json")
    assert(line.length <= Bench.StdoutBudget,
      s"mass-failure headline exceeds the budget (${line.length})")
    val js = mapper.readTree(line)
    val shownErrs = js.get("errors").size()
    val omittedErrs =
      if (js.has("errors_omitted")) js.get("errors_omitted").asInt() else 0
    assert(shownErrs + omittedErrs == 40,
      s"errors accounted: shown=$shownErrs omitted=$omittedErrs")
    assert(shownErrs > 0, "at least some errors must survive the ladder")
  }

  test("detail JSON always carries the whole catalog at full precision") {
    val detail = Bench.detailJson(mk(500), 3, "sf0.01")
    val js = mapper.readTree(detail)
    assert(js.get("queries").size() == 500)
    assert(js.get("sf").asText() == "sf0.01")
  }

  test("regression gate fires on the r8 drift and round-trips detail") {
    // the exact cluster that slipped through r8's total-only check:
    // dedup queries 2-9x slower on unchanged code
    val prev = Map("dd_incremental" -> 0.74, "dd_curation_pipeline" -> 4.95,
      "dd_minhash_bound" -> 1.51, "dd_exact" -> 0.18,
      "ev_lag_lead" -> 0.10, "rel_union" -> 0.14)
    val cur = Map("dd_incremental" -> 6.94, "dd_curation_pipeline" -> 9.96,
      "dd_minhash_bound" -> 3.19, "dd_exact" -> 0.60,
      // sub-floor jitter must NOT fire: 2x but only +0.1s
      "ev_lag_lead" -> 0.20, "rel_union" -> 0.15,
      // new query with no previous number: not comparable
      "rel_copurchase" -> 1.06)
    val regs = Bench.regressionsWithFloor(prev, None, None, Map.empty,
      cur, -1)
    assert(regs.map(_._1).toSet === Set("dd_incremental",
      "dd_curation_pipeline", "dd_minhash_bound", "dd_exact"))
    // worst factor first
    assert(regs.head._1 === "dd_incremental")
    // the comparison source is the detail file this object writes —
    // the reader must invert detailJson for any catalog
    val detail = Bench.detailJson(mk(120), 3, "sf0.1")
    val rec = read(detail).get
    val parsed = Bench.numbers(rec, "queries")
    assert(parsed.size === 120)
    assert(parsed("dd_some_catalog_query_name_001") === 0.037)
    // scalar fields for the sf/reps mismatch guard
    assert(Bench.frameOf(rec).sf === "sf0.1")
    assert(Bench.frameOf(rec).reps === "3")
    // a truncated file (killed mid-write) must read as no record,
    // never throw — the gate runs AFTER the whole catalog was timed
    val cut = detail.substring(0, detail.indexOf("\"queries\":{") + 15)
    assert(read(cut) === None)
    assert(read("") === None)
  }

  test("self-arbitration record: reruns + unresolved_flags round-trip") {
    val reruns = Seq(
      Bench.Rerun("dd_curation_pipeline", 34.45, 6.02, 5.82,
        resolved = true),
      Bench.Rerun("dd_source_overlap", 2.70, 2.55, 0.98,
        resolved = false))
    val detail = Bench.detailJson(mk(120), 3, "sf0.1", calib = 0.29,
      cpus = "32", reruns = reruns, calib2 = 0.26, unresolvedFlags = 1)
    val js = mapper.readTree(detail)
    // both medians + prev + verdict, per flagged query
    val r1 = js.get("reruns").get("dd_curation_pipeline")
    assert(r1.get("first").asDouble() == 34.45)
    assert(r1.get("rerun").asDouble() == 6.02)
    assert(r1.get("prev").asDouble() == 5.82)
    assert(r1.get("resolved").asBoolean())
    assert(!js.get("reruns").get("dd_source_overlap").get("resolved")
      .asBoolean())
    assert(js.get("calib2").asDouble() == 0.26)
    assert(js.get("unresolved_flags").asInt() == 1)
    // the queries map reads back UNAFFECTED by the nested rerun
    // objects
    assert(Bench.numbers(read(detail).get, "queries").size == 120)
    // gate-compared-clean run: flags count present as explicit zero
    val clean = Bench.detailJson(mk(5), 3, "sf0.1", calib = 0.25,
      unresolvedFlags = 0)
    assert(mapper.readTree(clean).get("unresolved_flags").asInt() == 0)
    assert(!mapper.readTree(clean).has("reruns"))
    // no comparison happened (first run): both fields absent
    val first = Bench.detailJson(mk(5), 3, "sf0.1", calib = 0.25)
    assert(!mapper.readTree(first).has("unresolved_flags"))
    assert(!mapper.readTree(first).has("reruns"))
  }

  test("calib round-trips through detail and normalizes the gate") {
    // with calib: field present and parseable
    val detail = Bench.detailJson(mk(10), 3, "sf0.1", calib = 0.412,
      cpus = "32")
    assert(mapper.readTree(detail).get("calib").asDouble() === 0.412)
    val rec = read(detail).get
    assert(rec.get("calib").asDouble === 0.412)
    assert(Bench.frameOf(rec).cpus === "32")
    // without calib (older files): field absent, reads back absent
    val old = Bench.detailJson(mk(10), 3, "sf0.1")
    assert(!mapper.readTree(old).has("calib"))
    assert(!read(old).get.has("calib"))
    // the gate's normalization contract: a uniformly 2.2×-slower host
    // (calib 0.4 → 0.88) divides every current time by 2.2 before
    // comparing, so unchanged code shows ZERO regressions...
    val prev = Map("a" -> 1.0, "b" -> 0.5)
    val slowHost = Map("a" -> 2.2, "b" -> 1.1).map {
      case (k, v) => k -> v / (0.88 / 0.4) }
    assert(Bench.regressionsWithFloor(prev, None, None, Map.empty,
      slowHost, -1).isEmpty)
    // ...while a genuine 4× regression still clears the 1.5× bar
    // after the same normalization
    val realReg = Map("a" -> 4.0 / (0.88 / 0.4), "b" -> 0.5)
    assert(Bench.regressionsWithFloor(prev, None, None, Map.empty,
      realReg, -1).map(_._1) === Seq("a"))
  }

  test("cold/warm maps serialize, round-trip, stay parseable") {
    val cold = Map("dd_some_catalog_query_name_001" -> 1.9)
    val warm = Map("dd_some_catalog_query_name_001" -> 0.8)
    val detail = Bench.detailJson(mk(120), 3, "sf0.1", calib = 0.2,
      cpus = "32", coldMap = cold, warmMap = warm)
    val js = mapper.readTree(detail)
    assert(js.get("cold").get("dd_some_catalog_query_name_001")
      .asDouble() === 1.9)
    assert(js.get("warm").get("dd_some_catalog_query_name_001")
      .asDouble() === 0.8)
    // the queries map still reads back whole
    assert(Bench.numbers(read(detail).get, "queries").size === 120)
  }

  test("datapath_bench cells + context + deviations serialize after " +
      "queries, round-trip, and leave every other parser untouched") {
    val dp = Map("gopher_stats" -> 1.234, "bm25_probe" -> 0.456,
      "png_decode" -> 2.001)
    val detail = Bench.detailJson(mk(120), 3, "sf0.1", calib = 0.2,
      cpus = "32", datapath = dp,
      datapathCtx = "controlled", datapathDevs = Some(Set("png_decode")))
    val js = mapper.readTree(detail)
    assert(js.get("datapath_bench").get("gopher_stats")
      .asDouble() === 1.234)
    assert(js.get("datapath_bench_context").asText() === "controlled")
    assert(js.get("datapath_bench_deviations").get(0)
      .asText() === "png_decode")
    // round-trips through the record reader, next to the queries
    val rec = read(detail).get
    assert(Bench.numbers(rec, "datapath_bench") === dp)
    assert(Bench.numbers(rec, "queries").size === 120)
    assert(rec.path("datapath_bench_context").asText === "controlled")
    // no cells → no section, no tags; missing section parses empty
    val bare = Bench.detailJson(mk(5), 3, "sf0.1",
      datapathCtx = "controlled")
    assert(!mapper.readTree(bare).has("datapath_bench"))
    assert(!mapper.readTree(bare).has("datapath_bench_context"))
    assert(Bench.numbers(read("{\"queries\":{\"a\":1}}").get,
      "datapath_bench") === Map.empty)
    // the carry/guard decision kernel: a loaded host carries
    // controlled datapath cells verbatim
    assert(Bench.datapathPlan(loadedHost = true, dp,
      Some("controlled")) === ((false, "carried")))
    // and the deviation guard flags a >2x cell in either direction
    assert(Bench.datapathDeviations(
      Map("gopher_stats" -> 2.9), dp) === Set("gopher_stats"))
    // carry-without-measuring preserves provenance: only controlled
    // evidence may be re-tagged "carried" — a 'loaded' or untagged
    // set of cells keeps its own tag, so datapathPlan can replace it
    // instead of treating laundered noise as controlled-equivalent
    assert(Bench.carryCtx(dp, Some("controlled")) === "carried")
    assert(Bench.carryCtx(dp, Some("carried")) === "carried")
    assert(Bench.carryCtx(dp, Some("loaded")) === "loaded")
    assert(Bench.carryCtx(dp, None) === "")
    assert(Bench.carryCtx(Map.empty, Some("controlled")) === "")
  }

  test("frame_noise flags: tagged in the record, carried not failed " +
      "(excluded from unresolved_flags)") {
    // r18 verdict #1: a loadavg-2.47 launch shipped 4 UNRESOLVED
    // flags its own frame block refuted. A flag whose rerun persists
    // on an UNCONTROLLED frame is now tagged frame_noise and never
    // counts as unresolved — the catalog analogue of the datapath
    // section's carry-on-loaded-host stance.
    val reruns = Seq(
      Bench.Rerun("ss_recall_report", 2.9, 2.8, 1.81,
        resolved = false, frameNoise = true),
      Bench.Rerun("ta_quality_drift", 2.5, 1.7, 1.89,
        resolved = true),
      Bench.Rerun("dd_real_regression", 9.0, 8.8, 1.0,
        resolved = false))
    // the kernel: only a persisted flag on a CONTROLLED frame is
    // unresolved
    assert(Bench.unresolvedCount(reruns) === 1)
    assert(Bench.unresolvedCount(reruns.take(2)) === 0)
    // the demotion verdict: a persisted timing on an uncontrolled
    // frame demotes; a CRASHED rerun never does (an error is a
    // failure, not timing noise), and a controlled frame never does
    assert(Bench.frameNoiseVerdict(resolved = false,
      frameUncontrolled = true, errored = false))
    assert(!Bench.frameNoiseVerdict(resolved = false,
      frameUncontrolled = true, errored = true))
    assert(!Bench.frameNoiseVerdict(resolved = false,
      frameUncontrolled = false, errored = false))
    assert(!Bench.frameNoiseVerdict(resolved = true,
      frameUncontrolled = true, errored = false))
    val detail = Bench.detailJson(mk(10), 3, "sf0.1", calib = 0.29,
      cpus = "32", reruns = reruns, calib2 = 0.26,
      unresolvedFlags = Bench.unresolvedCount(reruns))
    val js = mapper.readTree(detail)
    // per-flag tag: present (true) only on the frame-noise entry —
    // pre-r19 records and controlled-frame verdicts omit the field
    assert(js.get("reruns").get("ss_recall_report")
      .get("frame_noise").asBoolean())
    assert(!js.get("reruns").get("ta_quality_drift").has("frame_noise"))
    assert(!js.get("reruns").get("dd_real_regression").has("frame_noise"))
    // top-level counts: the frame-noise flag is visible (so a reader
    // knows to re-judge on a controlled host) but NOT failed
    assert(js.get("unresolved_flags").asInt() === 1)
    assert(js.get("frame_noise_flags").asInt() === 1)
    // no frame-noise flags → the companion count is absent
    val clean = Bench.detailJson(mk(10), 3, "sf0.1",
      reruns = reruns.filterNot(_.frameNoise), unresolvedFlags = 1)
    assert(!mapper.readTree(clean).has("frame_noise_flags"))
  }

  test("frame block: loadavg/calib/controlled serialize numerically, " +
      "round-trip via parseFrame, and stay absent when unset") {
    val detail = Bench.detailJson(mk(50), 3, "sf0.1", calib = 0.21,
      cpus = "32", calibSh = 0.8, loadavg = 0.375, controlled = 1)
    val js = mapper.readTree(detail)
    assert(js.get("frame").get("loadavg").asDouble() === 0.375)
    assert(js.get("frame").get("calib").asDouble() === 0.21)
    assert(js.get("frame").get("calib_sh").asDouble() === 0.8)
    assert(js.get("frame").get("controlled").asInt() === 1)
    val f = parseFrame(detail)
    assert(f("loadavg") === 0.375 && f("controlled") === 1.0)
    // the queries map still reads back whole
    val rec = read(detail).get
    assert(Bench.numbers(rec, "queries").size === 50)
    // the frame block reuses the top-level key names "calib"/
    // "calib_sh"; the gate reads the TOP-LEVEL value on a
    // frame-bearing record
    assert(rec.get("calib").asDouble === 0.21)
    assert(rec.get("calib_sh").asDouble === 0.8)
    // platform with no loadavg but a frame verdict still records it
    val noLoad = Bench.detailJson(mk(5), 3, "sf0.1", calib = 0.2,
      loadavg = -1.0, controlled = 0)
    val nj = mapper.readTree(noLoad)
    assert(!nj.get("frame").has("loadavg"))
    assert(nj.get("frame").get("controlled").asInt() === 0)
    // pre-frame writer: both unset → block absent, parseFrame empty
    val pre = Bench.detailJson(mk(5), 3, "sf0.1")
    assert(!mapper.readTree(pre).has("frame"))
    assert(parseFrame(pre) === Map.empty)
  }

  test("datapath guard: a loaded host can never overwrite controlled cells") {
    val frame = Some((0.7, 0.9))
    // within guard on both probes → controlled re-measure
    assert(!Bench.hostLoaded(frame, 0.9, 1.2))
    assert(Bench.datapathPlan(loadedHost = false, Map("c" -> 1.0),
      Some("controlled")) === ((true, "controlled")))
    // either probe past 1.5× its frame → loaded
    assert(Bench.hostLoaded(frame, 1.1, 0.9))   // cpu 1.57×
    assert(Bench.hostLoaded(frame, 0.7, 1.4))   // shuffle 1.56×
    // no frame (first run / foreign floor) → never loaded
    assert(!Bench.hostLoaded(None, 99.0, 99.0))
    // unrecorded channel (-1) never triggers
    assert(!Bench.hostLoaded(Some((-1.0, 0.9)), 99.0, 1.2))
    // loadavg leg (r18 verdict #1): a launch loadavg past the gate is
    // loaded even with calibs inside the guard — the r18 driver frame
    // (loadavg 2.474, calibs in-band) shipped 4 floor flags the
    // controlled record refuted; the probes are blind to competitor
    // load that lands after probe time
    assert(Bench.hostLoaded(frame, 0.9, 1.2, loadavg = 2.474))
    // ...and works without any floor frame at all
    assert(Bench.hostLoaded(None, 99.0, 99.0, loadavg = 2.0))
    // under the gate (or unavailable, -1) the leg stays silent
    assert(!Bench.hostLoaded(frame, 0.9, 1.2, loadavg = 0.3))
    assert(!Bench.hostLoaded(None, 99.0, 99.0, loadavg = -1.0))
    assert(!Bench.hostLoaded(None, 99.0, 99.0,
      loadavg = Bench.LoadavgGate))
    // loaded + previous controlled cells → CARRY, do not re-measure
    // (the r12 failure: a 2.4×-loaded closing refresh overwrote the
    // builder's controlled matrix with physically-backwards cells)
    assert(Bench.datapathPlan(loadedHost = true,
      Map("scd2_plain_uniform" -> 2.4), Some("controlled"))
      === ((false, "carried")))
    // an already-carried matrix keeps being carried under load
    assert(Bench.datapathPlan(loadedHost = true, Map("c" -> 1.0),
      Some("carried")) === ((false, "carried")))
    // a record with NO context tag has unknown provenance (r13
    // verdict #1: the one such incumbent was the r12 loaded-host
    // matrix with physically-backwards cells, and defaulting it to
    // "controlled" laundered it into quotable evidence) — it is
    // carried NOWHERE: the loaded host re-measures and says "loaded"
    assert(Bench.datapathPlan(loadedHost = true, Map("c" -> 1.0), None)
      === ((true, "loaded")))
    // nothing worth protecting: measure, but the record says "loaded"
    assert(Bench.datapathPlan(loadedHost = true, Map.empty,
      Some("controlled")) === ((true, "loaded")))
    assert(Bench.datapathPlan(loadedHost = true, Map("c" -> 1.0),
      Some("loaded")) === ((true, "loaded")))
  }

  test("datapath deviation guard: >2x cells detected and tagged") {
    // the kernel: either direction past the factor, missing or
    // nonpositive cells can never deviate (r14 verdict #1: a 15.86 s
    // cell over a 3.79 s carried controlled value shipped untagged)
    val carried = Map("gopher_stats" -> 3.79,
      "bpe_count" -> 1.6, "minhash_sig" -> 10.0,
      "gone" -> 2.0, "bad" -> -1.0)
    val fresh = Map("gopher_stats" -> 15.86, // 4.2× slower
      "bpe_count" -> 0.7,                    // 2.3× faster
      "minhash_sig" -> 11.0,                 // within 2×
      "new_cell" -> 9.9, "bad" -> 5.0)
    assert(Bench.datapathDeviations(fresh, carried)
      === Set("gopher_stats", "bpe_count"))
    assert(Bench.datapathDeviations(fresh, carried, factor = 5.0)
      === Set.empty)
    // exactly at the factor is NOT a deviation (strict >)
    assert(Bench.datapathDeviations(Map("a" -> 2.0), Map("a" -> 1.0))
      === Set.empty)
    // detailJson: the tag is present (sorted, possibly empty) exactly
    // when the guard compared — Some — and absent when it could not
    val dp = Map("gopher_stats" -> 15.86)
    val tagged = Bench.detailJson(mk(10), 3, "sf0.1", cpus = "32",
      datapath = dp, datapathCtx = "controlled",
      datapathDevs = Some(Set("gopher_stats")))
    val tjs = mapper.readTree(tagged)
    assert(tjs.get("datapath_bench_deviations").size() === 1)
    assert(tjs.get("datapath_bench_deviations").get(0).asText()
      === "gopher_stats")
    val clean = Bench.detailJson(mk(10), 3, "sf0.1", cpus = "32",
      datapath = dp, datapathCtx = "controlled",
      datapathDevs = Some(Set.empty))
    assert(mapper.readTree(clean).get("datapath_bench_deviations")
      .size() === 0)
    val noGuard = Bench.detailJson(mk(10), 3, "sf0.1", cpus = "32",
      datapath = dp, datapathCtx = "carried")
    assert(!mapper.readTree(noGuard).has("datapath_bench_deviations"))
  }

  test("value_resolved: resolved flags replace their medians in the companion total") {
    val results = mk(10)  // q_i = i * 0.037
    val reruns = Seq(
      Bench.Rerun("dd_some_catalog_query_name_010", 0.37, 0.05, 0.06,
        resolved = true),
      // UNRESOLVED flags keep their measured value — a real
      // regression must not be laundered out of the total
      Bench.Rerun("dd_some_catalog_query_name_009", 0.333, 0.30, 0.10,
        resolved = false))
    val detail = Bench.detailJson(results, 3, "sf0.1", calib = 0.3,
      reruns = reruns, unresolvedFlags = 1)
    val js = mapper.readTree(detail)
    val expect = results.map(_._2).sum - 0.37 + 0.05
    assert(math.abs(js.get("value_resolved").asDouble() - expect) < 1e-6)
    assert(math.abs(js.get("value").asDouble() -
      results.map(_._2).sum) < 1e-6)
    // stdout line carries the same companion and stays in budget
    val line = Bench.headline(results, 3, "sf0.1", "d.json", reruns)
    val hjs = mapper.readTree(line)
    assert(math.abs(hjs.get("value_resolved").asDouble() - expect) < 0.01)
    assert(line.length <= Bench.StdoutBudget)
    // absent when nothing resolved (no flags, or all real)
    val none = Bench.detailJson(results, 3, "sf0.1",
      reruns = reruns.filterNot(_.resolved), unresolvedFlags = 1)
    assert(!mapper.readTree(none).has("value_resolved"))
    assert(!mapper.readTree(Bench.detailJson(results, 3, "sf0.1"))
      .has("value_resolved"))
  }

  test("monotone floor: round-trips, only lowers, and catches multi-run drift") {
    // round-trip (3-element entries: [t, calibCpu, calibShuffle])
    val entries = Map("q1" -> ((1.25, 0.14, 0.5)), "q2" -> ((0.5, 0.2, 0.6)))
    val js = Bench.floorJson("sf0.1", 3, "32", entries)
    val rec = read(js).get
    assert(Bench.floorEntries(rec) === entries)
    assert(Bench.frameOf(rec).sf === "sf0.1")
    assert(Bench.frameOf(rec).cpus === "32")
    assert(read("") === None)
    assert(Bench.floorPath("BENCH_DETAIL.json") === "BENCH_FLOOR.json")
    // pre-shuffle-probe files (2-element entries) read with the
    // shuffle calib absent — cpu-only normalization, the old behavior
    val legacy = """{"sf":"sf0.1","reps":3,"cpus":"32",""" +
      """"queries":{"q1":[1.25,0.14]}}"""
    assert(Bench.floorEntries(read(legacy).get) ===
      Map("q1" -> ((1.25, 0.14, -1.0))))
    // update: lowers on a faster run, never raises on a slower one,
    // seeds unseen queries
    val up = Bench.updatedFloor(entries,
      Map("q1" -> 0.9, "q2" -> 3.0, "q3" -> 0.7), calib = 0.3, calibSh = 0.7)
    assert(up("q1") === ((0.9, 0.3, 0.7)))   // lowered, new calibs recorded
    assert(up("q2") === ((0.5, 0.2, 0.6)))   // slower run: floor unchanged
    assert(up("q3") === ((0.7, 0.3, 0.7)))   // seeded
    // the r10 blind spot: pagerank drifted 2.4 -> 3.3 -> 4.0 in two
    // sub-1.5x steps; the last-record gate re-baselined each time,
    // the floor base still flags the accumulated 1.67x
    val prev = Map("ta_domain_pagerank" -> 3.3)
    val floor = Map("ta_domain_pagerank" -> ((2.4, 0.14, -1.0)))
    val regs = Bench.regressionsWithFloor(prev, Some(0.14), None, floor,
      Map("ta_domain_pagerank" -> 4.0), calib = 0.14)
    assert(regs.map(r => (r._1, r._2, r._5)) ===
      Seq(("ta_domain_pagerank", 2.4, "floor")))
    // excuse-only normalization applies per base: same raw times on a
    // host whose probe says 2x slower do not flag
    val slowHost = Bench.regressionsWithFloor(prev, Some(0.14), None, floor,
      Map("ta_domain_pagerank" -> 4.0), calib = 0.28)
    assert(slowHost.isEmpty)
    // a query with no floor entry still gets the prev-record gate
    val prevOnly = Bench.regressionsWithFloor(
      Map("x" -> 1.0), Some(0.2), None, Map.empty,
      Map("x" -> 2.1), calib = 0.2)
    assert(prevOnly.map(r => (r._1, r._5)) === Seq(("x", "prev")))
    // the r11 blind spot: host reboot leaves the CPU probe IDENTICAL
    // while shuffle throughput drops 1.7x — the shuffle channel must
    // excuse the uniform drift on identical code...
    val shFloor = Map("q" -> ((0.71, 0.17, 0.5)))
    val shExcused = Bench.regressionsWithFloor(
      Map.empty, None, None, shFloor,
      Map("q" -> 1.29), calib = 0.17, calibSh = 0.9)
    assert(shExcused.isEmpty,
      "shuffle-probe excuse must clear the identical-code reboot drift")
    // ...but with BOTH probes flat, the same drift is a real
    // regression and still flags
    val shFlags = Bench.regressionsWithFloor(
      Map.empty, None, None, shFloor,
      Map("q" -> 1.29), calib = 0.17, calibSh = 0.5)
    assert(shFlags.map(r => (r._1, r._5)) === Seq(("q", "floor")))
    // the cross-frame re-seed hole: a noisy-LOW probe (0.2 -> 0.1,
    // "host 2x faster") with raw parity must NOT lower the floor —
    // the (1.9, 0.1) entry it would write excuses 2x drift on every
    // later 0.2-probe run; the shuffle channel guards the same hole
    val noisy = Bench.updatedFloor(Map("q" -> ((2.0, 0.2, -1.0))),
      Map("q" -> 1.9), calib = 0.1)
    assert(noisy("q") === ((2.0, 0.2, -1.0)),
      "raw parity under a halved probe must not re-seed the floor")
    val noisySh = Bench.updatedFloor(Map("q" -> ((2.0, 0.2, 0.6))),
      Map("q" -> 1.9), calib = 0.2, calibSh = 0.3)
    assert(noisySh("q") === ((2.0, 0.2, 0.6)),
      "raw parity under a halved SHUFFLE probe must not re-seed either")
    // a genuine win still lowers it once it clears the clamped scale
    val win = Bench.updatedFloor(Map("q" -> ((2.0, 0.2, -1.0))),
      Map("q" -> 0.9), calib = 0.1)
    assert(win("q") === ((0.9, 0.1, -1.0)),
      "0.9 x 2.0 scale = 1.8 < 2.0: beats the floor in its own frame")
  }

  test("floor provenance: hand-re-baseline markers round-trip, drop " +
      "for re-measured entries, and ride a floor-flag into the record") {
    val entries = Map("q1" -> ((1.25, 0.14, 0.5)), "q2" -> ((0.5, 0.2, 0.6)))
    val prov = Map("q1" -> "r16: stale floor, controlled re-read 1.25")
    val js = Bench.floorJson("sf0.1", 3, "32", entries, prov)
    // the queries read back untouched by the string-valued section
    val rec = read(js).get
    assert(Bench.floorEntries(rec) === entries)
    assert(Bench.provenance(rec) === prov)
    // a brace inside a value must not truncate the section (hand
    // edits reference "{controlled}" protocols); later entries survive
    val braced = Map("a_q" -> "r17: re-read {controlled} 1.2",
      "z_q" -> "r17: later entry")
    val bjs = Bench.floorJson("sf0.1", 3, "32",
      Map("a_q" -> ((1.0, 0.1, 0.5)), "z_q" -> ((2.0, 0.1, 0.5))), braced)
    assert(Bench.provenance(read(bjs).get) === braced,
      "brace in a provenance value truncated the section")
    // a HAND-formatted section (the map exists for hand edits) with
    // whitespace around the colons must read, not silently vanish
    // on the next round-trip
    val pretty = js.replace("\"provenance\":{",
      "\"provenance\": {\n  ").replace("\":\"r16", "\": \"r16")
    assert(Bench.provenance(read(pretty).get) === prov,
      "whitespace-formatted provenance dropped")
    // absent section → empty map; provenance for a key not in the
    // floor is dropped at write (its entry is gone — nothing to
    // describe)
    assert(Bench.provenance(read(
      Bench.floorJson("sf0.1", 3, "32", entries)).get) === Map.empty)
    assert(Bench.provenance(read(Bench.floorJson("sf0.1", 3, "32",
      entries, Map("gone" -> "r9: whatever"))).get) === Map.empty)
    // the shipped BENCH_FLOOR.json's own markers read back
    val shipped = Bench.readRecord("BENCH_FLOOR.json").get
    val shippedProv = Bench.provenance(shipped)
    val shippedQs = Bench.floorEntries(shipped)
    assert(shippedProv.nonEmpty,
      "the r16 hand-edited floor entries must carry provenance markers")
    assert(shippedProv.keySet.subsetOf(shippedQs.keySet),
      "provenance names a floor entry that no longer exists")
    assert(shippedProv.values.forall(_.startsWith("r")),
      "provenance lines name their round")
    // a flag against a provenance-carrying floor entry ships the
    // marker in the rerun record; a measured-floor flag ships none
    val reruns = Seq(
      Bench.Rerun("q1", 2.6, 2.5, 1.25, resolved = false,
        floorProv = prov.get("q1")),
      Bench.Rerun("q2", 1.2, 1.1, 0.5, resolved = true))
    val detail = Bench.detailJson(
      Seq(("q1", 2.6, None), ("q2", 1.2, None)), 3, "sf0.1",
      calib = 0.2, cpus = "32", reruns = reruns, calib2 = 0.2,
      unresolvedFlags = 1)
    assert(detail.contains(
      """"floor_prov":"r16: stale floor, controlled re-read 1.25""""),
      s"flag record must name the floor's provenance:\n$detail")
    assert(!detail.contains(""""q2":{"first":1.2""") ||
      !detail.substring(detail.indexOf(""""q2":{"first"""))
        .takeWhile(_ != '}').contains("floor_prov"),
      "a measured-floor flag must not carry a provenance field")
    // still one valid JSON line
    assert(!detail.contains("\n"))
  }

  test("calib normalization excuses a slower host, never inflates a faster one") {
    // slower host: probe 0.4 → 0.88 excuses up to 2.2×
    assert(math.abs(Bench.calibScale(0.4, 0.88) - 2.2) < 1e-9)
    // excuse capped at 3× — past that the record isn't comparable
    assert(Bench.calibScale(0.1, 1.0) === 3.0)
    // faster probe: floored at 1.0 — raw parity with the previous
    // record must never read as a regression (the round-10 false-flag
    // mode: probe halved, 32-thread query throughput unchanged)
    assert(Bench.calibScale(0.254, 0.133) === 1.0)
    assert(Bench.calibScale(0.2, 0.2) === 1.0)
    // dual-channel: the excuse is the WORSE of the two probes, each
    // channel independently excuse-only and degrading gracefully when
    // a base predates the shuffle probe
    assert(math.abs(Bench.dualScale(Some(0.2), Some(0.5), 0.2, 0.85)
      - 1.7) < 1e-9)
    assert(math.abs(Bench.dualScale(Some(0.2), Some(0.5), 0.3, 0.5)
      - 1.5) < 1e-9)
    assert(Bench.dualScale(Some(0.2), None, 0.4, 0.9) === 2.0)
    assert(Bench.dualScale(None, None, 0.4, 0.9) === 1.0)
    assert(Bench.dualScale(Some(0.2), Some(0.5), 0.1, 0.25) === 1.0)
  }

  test("headline output is pinned byte-for-byte for three catalog shapes") {
    // the full map, the slowest-K degradation, and the error rungs
    val mk10 =
      "{\"metric\":\"total\",\"value\":2.035,\"unit\":\"sec\",\"reps\":3," +
      "\"queries\":{\"dd_some_catalog_query_name_001\":0.037,\"dd_some_ca" +
      "talog_query_name_002\":0.074,\"dd_some_catalog_query_name_003\":0." +
      "111,\"dd_some_catalog_query_name_004\":0.148,\"dd_some_catalog_que" +
      "ry_name_005\":0.185,\"dd_some_catalog_query_name_006\":0.222,\"dd_" +
      "some_catalog_query_name_007\":0.259,\"dd_some_catalog_query_name_0" +
      "08\":0.296,\"dd_some_catalog_query_name_009\":0.333,\"dd_some_cata" +
      "log_query_name_010\":0.37},\"sf\":\"sf0.1\"}"
    val mk200 =
      "{\"metric\":\"total\",\"value\":743.7,\"unit\":\"sec\",\"reps\":3," +
      "\"queries\":{\"dd_some_catalog_query_name_161\":6,\"dd_some_catalo" +
      "g_query_name_162\":6,\"dd_some_catalog_query_name_163\":6,\"dd_som" +
      "e_catalog_query_name_164\":6.1,\"dd_some_catalog_query_name_165\":" +
      "6.1,\"dd_some_catalog_query_name_166\":6.1,\"dd_some_catalog_query" +
      "_name_167\":6.2,\"dd_some_catalog_query_name_168\":6.2,\"dd_some_c" +
      "atalog_query_name_169\":6.3,\"dd_some_catalog_query_name_170\":6.3" +
      ",\"dd_some_catalog_query_name_171\":6.3,\"dd_some_catalog_query_na" +
      "me_172\":6.4,\"dd_some_catalog_query_name_173\":6.4,\"dd_some_cata" +
      "log_query_name_174\":6.4,\"dd_some_catalog_query_name_175\":6.5,\"" +
      "dd_some_catalog_query_name_176\":6.5,\"dd_some_catalog_query_name_" +
      "177\":6.5,\"dd_some_catalog_query_name_178\":6.6,\"dd_some_catalog" +
      "_query_name_179\":6.6,\"dd_some_catalog_query_name_180\":6.7,\"dd_" +
      "some_catalog_query_name_181\":6.7,\"dd_some_catalog_query_name_182" +
      "\":6.7,\"dd_some_catalog_query_name_183\":6.8,\"dd_some_catalog_qu" +
      "ery_name_184\":6.8,\"dd_some_catalog_query_name_185\":6.8,\"dd_som" +
      "e_catalog_query_name_186\":6.9,\"dd_some_catalog_query_name_187\":" +
      "6.9,\"dd_some_catalog_query_name_188\":7,\"dd_some_catalog_query_n" +
      "ame_189\":7,\"dd_some_catalog_query_name_190\":7,\"dd_some_catalog" +
      "_query_name_191\":7.1,\"dd_some_catalog_query_name_192\":7.1,\"dd_" +
      "some_catalog_query_name_193\":7.1,\"dd_some_catalog_query_name_194" +
      "\":7.2,\"dd_some_catalog_query_name_195\":7.2,\"dd_some_catalog_qu" +
      "ery_name_196\":7.3,\"dd_some_catalog_query_name_197\":7.3,\"dd_som" +
      "e_catalog_query_name_198\":7.3,\"dd_some_catalog_query_name_199\":" +
      "7.4,\"dd_some_catalog_query_name_200\":7.4},\"q_omitted\":160,\"de" +
      "tail\":\"BENCH_DETAIL.json\",\"sf\":\"sf0.1\"}"
    val mk500err30 =
      "{\"metric\":\"total\",\"value\":4617,\"unit\":\"sec\",\"reps\":3," +
      "\"queries\":{\"dd_some_catalog_query_name_491\":18.2,\"dd_some_cat" +
      "alog_query_name_492\":18.2,\"dd_some_catalog_query_name_493\":18.2" +
      ",\"dd_some_catalog_query_name_494\":18.3,\"dd_some_catalog_query_n" +
      "ame_495\":18.3,\"dd_some_catalog_query_name_496\":18.4,\"dd_some_c" +
      "atalog_query_name_497\":18.4,\"dd_some_catalog_query_name_498\":18" +
      ".4,\"dd_some_catalog_query_name_499\":18.5,\"dd_some_catalog_query" +
      "_name_500\":18.5},\"q_omitted\":490,\"detail\":\"BENCH_DETAIL.json" +
      "\",\"errors\":{\"dd_some_catalog_query_name_001\":\"SparkException" +
      ": boom\",\"dd_some_catalog_query_name_002\":\"SparkException: boom" +
      "\",\"dd_some_catalog_query_name_003\":\"SparkException: boom\",\"d" +
      "d_some_catalog_query_name_004\":\"SparkException: boom\",\"dd_some" +
      "_catalog_query_name_005\":\"SparkException: boom\"},\"errors_omitt" +
      "ed\":25,\"sf\":\"sf0.1\"}"
    assert(Bench.headline(mk(10), 3, "sf0.1", "BENCH_DETAIL.json") === mk10)
    assert(Bench.headline(mk(200), 3, "sf0.1", "BENCH_DETAIL.json")
      === mk200)
    assert(Bench.headline(mk(500, err = 30), 3, "sf0.1",
      "BENCH_DETAIL.json") === mk500err30)
  }

  test("a record missing sf, reps or cpus reads as a foreign frame") {
    val here = Bench.Frame("sf0.1", "3", "32", Bench.Meas)
    val full = Bench.floorJson("sf0.1", 3, "32",
      Map("q" -> ((1.0, 0.2, 0.5))))
    assert(Bench.frameOf(read(full).get) === here)
    for (field <- Seq(""""sf":"sf0.1",""", """"reps":3,""",
        """"cpus":"32",""")) {
      val f = Bench.frameOf(read(full.replace(field, "")).get)
      assert(f !== here, s"a record without $field read as this frame")
      // the floor frame and the datapath carry ignore reps, but a
      // missing sf or cpus still fails them
      if (!field.contains("reps")) assert(f.copy(reps = here.reps) !== here)
    }
    // a record without meas predates full materialization
    assert(Bench.frameOf(read(full.replace(""""meas":"full",""", "")).get)
      .meas === "count")
    // a detail record written without cpus is foreign too
    assert(Bench.frameOf(read(Bench.detailJson(mk(3), 3, "sf0.1")).get)
      .cpus === "?")
  }

  test("the shipped BENCH_FLOOR and BENCH_DETAIL records read back whole") {
    val floor = Bench.readRecord("BENCH_FLOOR.json").get
    val entries = floor.get("queries").properties.asScala
    assert(entries.size === 202)
    assert(entries.forall(_.getValue.size == 3),
      "every floor entry carries [t, calib, calibSh]")
    assert(Bench.floorEntries(floor).size === 202)
    assert(Bench.provenance(floor).keySet ===
      Set("ss_rrf_fusion", "ss_topk_ivf"))
    val detail = Bench.readRecord("BENCH_DETAIL.json").get
    assert(Bench.numbers(detail, "queries").size === 202)
    assert(Bench.numbers(detail, "datapath_bench").size === 14)
  }
}
