package graft

import org.scalatest.funsuite.AnyFunSuite
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

/** The bench stdout line is a DRIVER CONTRACT: only the last ~2000
  * chars of stdout survive capture, with the sbt epilogue inside the
  * window after the line — r7 shipped an unparseable truncated line
  * this way. Pin the two properties that keep it parseable forever:
  * every emitted line is valid JSON, and no catalog size can push it
  * past the budget. */
class BenchFormatSpec extends AnyFunSuite with SharedSpark {

  private val mapper = new ObjectMapper

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
    val regs = Bench.regressions(prev, cur)
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

  test("cold/warm maps serialize, round-trip, stay parseable") {
    val cold = Map("dd_some_catalog_query_name_001" -> 1.9)
    val warm = Map("dd_some_catalog_query_name_001" -> 0.8)
    val detail = Bench.detailJson(mk(120), 3, "sf0.1", cpus = "32",
      coldMap = cold, warmMap = warm)
    val js = mapper.readTree(detail)
    assert(js.get("cold").get("dd_some_catalog_query_name_001")
      .asDouble() === 1.9)
    assert(js.get("warm").get("dd_some_catalog_query_name_001")
      .asDouble() === 0.8)
    // the queries map still reads back whole
    assert(Bench.numbers(read(detail).get, "queries").size === 120)
  }

  test("datapath_bench cells serialize, round-trip, and leave the queries untouched") {
    val dp = Map("gopher_stats" -> 1.234, "bm25_probe" -> 0.456,
      "png_decode" -> 2.001)
    val detail = Bench.detailJson(mk(120), 3, "sf0.1", cpus = "32",
      datapath = dp)
    val js = mapper.readTree(detail)
    assert(js.get("datapath_bench").get("gopher_stats")
      .asDouble() === 1.234)
    // round-trips through the record reader, next to the queries
    val rec = read(detail).get
    assert(Bench.numbers(rec, "datapath_bench") === dp)
    assert(Bench.numbers(rec, "queries").size === 120)
    // no cells → no section; a missing section reads empty
    assert(!mapper.readTree(Bench.detailJson(mk(5), 3, "sf0.1"))
      .has("datapath_bench"))
    assert(Bench.numbers(read("{\"queries\":{\"a\":1}}").get,
      "datapath_bench") === Map.empty)
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
    val full = Bench.detailJson(mk(3), 3, "sf0.1", cpus = "32")
    assert(Bench.frameOf(read(full).get) === here)
    for (field <- Seq(""""sf":"sf0.1"""", """"reps":3,""",
        """"cpus":"32",""")) {
      val f = Bench.frameOf(read(full.replace(field, "")
        .replace(",}", "}")).get)
      assert(f !== here, s"a record without $field read as this frame")
    }
    // a record without meas predates full materialization
    assert(Bench.frameOf(read(full.replace(""""meas":"full",""", "")).get)
      .meas === "count")
    // a detail record written without cpus is foreign too
    assert(Bench.frameOf(read(Bench.detailJson(mk(3), 3, "sf0.1")).get)
      .cpus === "?")
  }

  test("the shipped BENCH_DETAIL record reads back whole") {
    val detail = Bench.readRecord("BENCH_DETAIL.json").get
    assert(Bench.numbers(detail, "queries").size === 202)
    assert(Bench.numbers(detail, "datapath_bench").size === 14)
    assert(Bench.layersIn(detail).size === 202)
  }

  private def layers(jobs: Long, rows: Long,
                     inexact: Seq[String] = Nil): Bench.Layers =
    Bench.Layers(Map("jobs" -> jobs, "eager_jobs" -> 1L, "stages" -> 4L,
      "tasks" -> 9L, "exchanges" -> 2L, "shuffle_write_b" -> 1200L,
      "rows" -> rows) -- inexact, 0.5, inexact)

  test("count gate flags a rise and a rows change, nothing else") {
    val prev = Map("a" -> layers(3, 10), "b" -> layers(3, 10),
      "c" -> layers(3, 10), "gone" -> layers(1, 1))
    // equal records: no flag, whatever task_cpu_s did
    assert(Bench.countFlags(prev,
      prev.map { case (k, l) => k -> l.copy(taskCpuS = 9.0) }).isEmpty)
    val cur = Map(
      "a" -> layers(4, 10),  // one more job
      "b" -> layers(2, 9),   // fewer jobs is no flag; fewer rows is
      "c" -> layers(3, 10).copy(counts =
        layers(3, 10).counts ++ Map("exchanges" -> 3L, "tasks" -> 8L)),
      "new" -> layers(9, 9)) // no previous entry: not comparable
    assert(Bench.countFlags(prev, cur) === Seq(("a", "jobs", 3L, 4L),
      ("b", "rows", 10L, 9L), ("c", "exchanges", 2L, 3L)))
    // a counter inexact on either side is never compared
    val loose = Map("a" -> layers(9, 99, inexact = Seq("jobs", "rows")))
    assert(Bench.countFlags(prev, loose).isEmpty)
    assert(Bench.countFlags(loose, Map("a" -> layers(99, 1))).isEmpty)
  }

  test("layers round-trip through detailJson and readRecord") {
    val ls = Map("dd_some_catalog_query_name_001" -> layers(3, 10),
      "dd_some_catalog_query_name_002" ->
        layers(7, 5, inexact = Seq("shuffle_write_b")).copy(taskCpuS = 1.25))
    val rec = read(Bench.detailJson(mk(3), 3, "sf0.1", cpus = "4",
      layers = ls)).get
    assert(Bench.layersIn(rec) === ls)
    assert(Bench.numbers(rec, "queries").size === 3)
    // the gate's flags: present (possibly empty) only when it compared
    val flagged = Bench.detailJson(mk(3), 3, "sf0.1",
      flags = Some(Map("a" -> Seq("jobs", "wall"))))
    assert(mapper.readTree(flagged).get("flags").get("a").get(1).asText
      === "wall")
    assert(mapper.readTree(Bench.detailJson(mk(3), 3, "sf0.1",
      flags = Some(Map.empty))).get("flags").size === 0)
    assert(!mapper.readTree(Bench.detailJson(mk(3), 3, "sf0.1"))
      .has("flags"))
  }

  test("a real face gives equal layers on every rep") {
    // an exact-dedup face with shuffles and one eager job
    val face = "dd_exact"
    val t = Bench.timeQuery(spark, "/root/testdata/sf0.001", face, reps = 3)
    assert(t.err === None)
    val l = t.layers.get
    assert(l.inexact === Nil, s"counters that differed between reps: $l")
    assert(l.counts.keySet === Bench.Counters.toSet)
    assert(l.counts("jobs") > 0 && l.counts("stages") > 0, l)
    assert(l.counts("rows") ===
      SparkEntry.queries(face)(spark, "/root/testdata/sf0.001").count())
  }
}
