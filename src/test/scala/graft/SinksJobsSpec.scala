package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.jobs.{Jobs, Sinks}

/** Sink/job layer — gzip CSV contract, fan-out error isolation,
  * dispatcher semantics (SURVEY.md §2.1 S4/S5/S7/S8). */
class SinksJobsSpec extends AnyFunSuite with SharedSpark {

  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  test("gzipCsv writes one headerless gzip part; timestamps serialized") {
    val dir = Files.createTempDirectory("sink_spec").toString
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
      .withColumn("last_updated",
        org.apache.spark.sql.functions.to_timestamp(
          org.apache.spark.sql.functions.lit("2024-01-15 12:00:00")))
    Sinks.gzipCsv(df, s"$dir/out")
    val parts = new java.io.File(s"$dir/out").listFiles()
      .filter(_.getName.endsWith(".csv.gz"))
    assert(parts.length == 1, "coalesce(1) → exactly one part file")
    val back = spark.read.option("header", "false").csv(s"$dir/out")
    assert(back.count() == 2)
    // F13b applied to the last_updated column before the sink
    val cols = back.collect().map(_.getString(2)).toSet
    assert(cols == Set("2024-01-15 04:00:00 -0800"))
  }

  test("gzipCsv serializes a TIMESTAMP_NTZ last_updated column (the " +
      "lake round-trip type) through the LA-reinterpretation path") {
    // laReinterpretFormat computes its offset via cast("long"), which
    // Spark rejects on TIMESTAMP_NTZ at analysis time — the sink must
    // cast NTZ → TIMESTAMP first (session TZ is UTC, so the wall time
    // IS the contract's UTC instant) instead of crashing on exactly
    // the inputs its scaladoc claims to absorb
    val dir = Files.createTempDirectory("sink_ntz_spec").toString
    val df = Seq(1L).toDF("id").withColumn("last_updated",
      org.apache.spark.sql.functions.expr(
        "CAST('2024-01-15 12:00:00' AS TIMESTAMP_NTZ)"))
    Sinks.gzipCsv(df, s"$dir/out")
    val back = spark.read.option("header", "false").csv(s"$dir/out")
      .collect().map(_.getString(1)).toSet
    assert(back == Set("2024-01-15 04:00:00 -0800"),
      s"NTZ watermark serialized wrong: $back")
  }

  test("gzip CSV doubles interior quotes (RFC 4180, the python " +
      "csv.writer convention)") {
    val dir = Files.createTempDirectory("sink_rfc_spec").toString
    Sinks.gzipCsv(Seq(("ROBERT \"BOB\" SMITH", 1L)).toDF("name", "n"),
      s"$dir/out")
    val part = new java.io.File(s"$dir/out").listFiles()
      .filter(_.getName.endsWith(".csv.gz")).head
    val in = new java.util.zip.GZIPInputStream(
      new java.io.FileInputStream(part))
    val raw = new String(in.readAllBytes(), "UTF-8")
    in.close()
    assert(raw.contains("\"ROBERT \"\"BOB\"\" SMITH\""),
      s"interior quotes not RFC-doubled: $raw")
    assert(!raw.contains("\\\""), s"backslash-escaped quotes leaked: $raw")
  }

  test("a failed delivery preserves the target's previous extract " +
      "(the reference's atomic-put contract)") {
    val dir = Files.createTempDirectory("sink_keep_spec").toString
    val ok = Seq((1L, "a")).toDF("id", "v")
    val key = "k/q.gz"
    val r1 = Sinks.fanOut(ok, Seq(s"$dir/t1", s"$dir/t2"), key)
    assert(r1.forall(_._2), s"seed delivery failed: $r1")
    def readT1() = spark.read.csv(s"$dir/t1/$key").collect()
      .map(_.getString(0)).toSeq
    assert(readT1() == Seq("1"))
    // a frame that fails at EXECUTION time: the staging write errors,
    // every target reports false, and yesterday's extract still serves
    val bad = spark.range(1)
      .selectExpr("raise_error('boom') AS id", "'x' AS v")
    val r2 = Sinks.fanOut(bad, Seq(s"$dir/t1", s"$dir/t2"), key)
    assert(r2.forall(!_._2), s"failed delivery reported success: $r2")
    assert(readT1() == Seq("1"),
      "a failed delivery destroyed the previous extract")
    assert(!new java.io.File(s"$dir/t1/${key}__incoming").exists(),
      "failed delivery left an __incoming remnant")
  }

  test("single-target fanOut keeps the previous extract through a " +
      "failed delivery (the same atomic-put contract as multi-target)") {
    val dir = Files.createTempDirectory("sink_keep1_spec").toString
    val ok = Seq((1L, "a")).toDF("id", "v")
    val key = "k/q.gz"
    assert(Sinks.fanOut(ok, Seq(s"$dir/t1"), key).forall(_._2))
    def readT1() = spark.read.csv(s"$dir/t1/$key").collect()
      .map(_.getString(0)).toSeq
    assert(readT1() == Seq("1"))
    // the old single-target path wrote mode("overwrite") straight to
    // the serving key — Spark deleted it before the job ran, so this
    // failure destroyed the extract
    val bad = spark.range(1)
      .selectExpr("raise_error('boom') AS id", "'x' AS v")
    val r = Sinks.fanOut(bad, Seq(s"$dir/t1"), key)
    assert(r.forall(!_._2), s"failed delivery reported success: $r")
    assert(readT1() == Seq("1"),
      "a failed single-target delivery destroyed the previous extract")
    // and a healthy redelivery swaps in
    assert(Sinks.fanOut(Seq((2L, "b")).toDF("id", "v"),
      Seq(s"$dir/t1"), key).forall(_._2))
    assert(readT1() == Seq("2"))
  }

  test("fanOut isolates a failing target and continues (jobs.py:128-131)") {
    val dir = Files.createTempDirectory("fan_spec").toString
    val df = Seq((1, "x")).toDF("a", "b")
    val results = Sinks.fanOut(df,
      Seq(s"$dir/good", "file:///proc/definitely/not/writable"),
      "daily/k/q.gz")
    assert(results.map(_._2) == Seq(true, false))
    assert(new java.io.File(s"$dir/good/daily/k/q.gz").exists())
  }

  test("fanOut executes the plan once for N targets, identical bytes") {
    val dir = Files.createTempDirectory("fan_once_spec").toString
    val df = spark.range(1000).selectExpr("id", "md5(cast(id as string)) as v")
    val group = "fanout-once-spec"
    spark.sparkContext.setJobGroup(group, "fanOut single-execution audit")
    val res = try Sinks.fanOut(df,
      Seq(s"$dir/t1", s"$dir/t2", s"$dir/t3"), "daily/k/q.gz")
    finally spark.sparkContext.clearJobGroup()
    assert(res.map(_._2) == Seq(true, true, true))
    // the status store is fed asynchronously — poll until it settles
    val deadline = System.nanoTime() + 5e9.toLong
    def jobs() = spark.sparkContext.statusTracker.getJobIdsForGroup(group)
    while (jobs().isEmpty && System.nanoTime() < deadline) Thread.sleep(50)
    Thread.sleep(200)
    assert(jobs().length == 1,
      s"one staging write, zero per-target executions: ${jobs().toSeq}")
    // every target received the same byte stream (jobs.py:116-132)
    def bytes(t: String): Seq[String] =
      new java.io.File(s"$dir/$t/daily/k/q.gz").listFiles()
        .filter(_.getName.endsWith(".csv.gz")).sortBy(_.getName)
        .map(f => java.util.Base64.getEncoder.encodeToString(
          java.nio.file.Files.readAllBytes(f.toPath))).toSeq
    assert(bytes("t1").nonEmpty)
    assert(bytes("t1") == bytes("t2") && bytes("t2") == bytes("t3"))
  }

  test("fanOut deletes its created temp parent (ADVICE r7 leak)") {
    val tmpRoot = new java.io.File(
      System.getProperty("java.io.tmpdir"))
    def fanDirs() = tmpRoot.listFiles()
      .filter(_.getName.startsWith("graft-fanout")).map(_.getName).toSet
    val before = fanDirs()
    val dir = Files.createTempDirectory("fan_clean_spec").toString
    val df = Seq((1, "x")).toDF("a", "b")
    val res = Sinks.fanOut(df, Seq(s"$dir/t1", s"$dir/t2"), "daily/k/q.gz")
    assert(res.map(_._2) == Seq(true, true))
    assert(fanDirs() == before,
      "fanOut must remove the graft-fanout* temp parent it created")
  }

  test("empty result writes a valid empty output (jobs.py:181-184 path)") {
    val dir = Files.createTempDirectory("empty_spec").toString
    val df = Seq((1L, "a")).toDF("id", "v").filter("id < 0")
    Sinks.gzipCsv(df, s"$dir/out")
    val back = spark.read.option("header", "false")
      .schema("c0 STRING").csv(s"$dir/out")
    assert(back.count() == 0)
  }

  test("fanOut with no targets aborts (jobs.py:119-122)") {
    val df = Seq((1, "x")).toDF("a", "b")
    intercept[IllegalArgumentException] {
      Sinks.fanOut(df, Seq.empty, "k")
    }
    // and a job run rejects it up front, before any face is built
    intercept[IllegalArgumentException] {
      Jobs.run("upload_advisors", spark, sf, Seq.empty, "2024-01-01")
    }
  }

  test("unknown job is a logged no-op, not an exception (jobs.py:64-65)") {
    assert(Jobs.run("upload_nonsense", spark, sf, Seq("/tmp/x"),
      "2024-01-01").isEmpty)
  }

  test("upload_advisors pipeline writes every query to every target") {
    val dir = Files.createTempDirectory("jobs_spec").toString
    // via the production entrypoint's core (graft.Main.run == Jobs.run)
    val res = graft.Main.run(spark, "upload_advisors", sf,
      Seq(s"$dir/t1", s"$dir/t2"), "2024-01-01")
    assert(res.size == Jobs.pipelines("upload_advisors").size * 2)
    assert(res.forall(_._3), s"all uploads succeed: $res")
    val key = Sinks.advisorsKey("2024-01-01", "advisor-note-permissions")
    assert(new java.io.File(s"$dir/t1/$key").isDirectory ||
      new java.io.File(s"$dir/t1/$key").exists())
  }

  test("upload_snapshot fans out per current term (jobs.py:55-62)") {
    val dir = Files.createTempDirectory("jobs_term_spec").toString
    val targets = Seq(s"$dir/t1", s"$dir/t2")
    val res = Jobs.run("upload_snapshot", spark, sf, targets, "2024-01-01")
    val terms = Jobs.currentTermIds(spark, sf)
    assert(terms.nonEmpty && terms.size <= 3)
    // flat basic-attributes upload plus one key per (group, term), in
    // declaration order although the steps ran concurrently
    val names = Seq("basic-attributes") ++
      terms.flatMap(t => Seq(s"courses-$t", s"enrollments-$t"))
    assert(res == names.flatMap(n => targets.map(t => (n, t, true))),
      s"uploads out of order or failed: $res")
    def bytes(t: String, key: String) =
      new java.io.File(s"$t/$key").listFiles()
        .filter(_.getName.endsWith(".csv.gz")).sortBy(_.getName)
        .map(f => Files.readAllBytes(f.toPath).toSeq).toSeq
    for (t <- terms; g <- Seq("courses", "enrollments")) {
      val key = Sinks.termKey("2024-01-01", g, g, t)
      assert(key.endsWith(s"$g/$g-$t.gz"), key)
      assert(bytes(targets(0), key).nonEmpty, key)
      assert(bytes(targets(0), key) == bytes(targets(1), key),
        s"targets differ at $key")
    }
  }

  test("curate_corpus job ships shard map, health report, scrubbed corpus") {
    val dir = Files.createTempDirectory("jobs_curate_spec").toString
    val res = graft.Main.run(spark, "curate_corpus", sf,
      Seq(s"$dir/t1", s"$dir/t2"), "2024-01-01")
    // 19 extracts × 2 targets, all successful
    assert(res.size == 38 && res.forall(_._3), s"uploads: $res")
    for (extract <- Seq("curated-shards", "dedup-health",
        "memorization-risk", "repeated-span-report",
        "span-scrubbed-corpus", "partial-dup-report",
        "contamination-report", "split-map",
        "token-health", "quality-calibration",
        "pii-scrubbed-corpus", "semantic-dedup-map",
        "chunk-dup-report", "lsh-bucket-health",
        "classifier-verdicts", "lm-surprisal", "url-dedup-report",
        "lsh-recall-certification", "tokenizer-fertility");
        t <- Seq("t1", "t2")) {
      val key = Sinks.dailyKey("2024-01-01", extract)
      assert(new java.io.File(s"$dir/$t/$key").exists(),
        s"missing $t/$key")
    }
  }

  test("release_corpus job ships the card/drift/mix/merges/privacy pack") {
    val dir = Files.createTempDirectory("jobs_release_spec").toString
    val res = graft.Main.run(spark, "release_corpus", sf,
      Seq(s"$dir/t1"), "2024-01-01")
    assert(res.size == 8 && res.forall(_._3), s"uploads: $res")
    for (extract <- Seq("dataset-card", "quality-drift", "mix-budgets",
        "consumption-schedule", "learned-merges", "k-anonymity-audit",
        "l-diversity-audit", "t-closeness-audit")) {
      val key = Sinks.dailyKey("2024-01-01", extract)
      assert(new java.io.File(s"$dir/t1/$key").exists(), s"missing $key")
    }
  }

  test("event_analytics job ships the sweep/anomaly/resample pack") {
    val dir = Files.createTempDirectory("jobs_events_spec").toString
    val res = graft.Main.run(spark, "event_analytics", sf,
      Seq(s"$dir/t1"), "2024-01-01")
    assert(res.size == 8 && res.forall(_._3), s"uploads: $res")
    for (extract <- Seq("attribution-linear", "peak-concurrency",
        "active-time", "anomaly-flags", "winsorized-values",
        "hourly-series", "rfm-segments", "hourly-seasonality")) {
      val key = Sinks.dailyKey("2024-01-01", extract)
      assert(new java.io.File(s"$dir/t1/$key").exists(), s"missing $key")
    }
  }

  test("maintain_indexes job: bootstrap, append, takedown and gates " +
      "compose end-to-end; reports fan out; a re-run converges") {
    import org.apache.spark.sql.functions._
    val dir = Files.createTempDirectory("jobs_maint_spec").toString
    try {
      val res = graft.Main.run(spark, "maintain_indexes", sf,
        Seq(s"$dir/t1"), "2024-01-01")
      // the maintenance log + the three report extracts, all delivered
      assert(res.size == 4 && res.forall(_._3), s"uploads: $res")
      for (extract <- Seq("index-maintenance-log", "ivf-append-report",
          "bm25-append-report", "bm25-takedown-report")) {
        val key = Sinks.dailyKey("2024-01-01", extract)
        assert(new java.io.File(s"$dir/t1/$key").exists(),
          s"missing $key")
      }
      assert(spark.catalog.tableExists(Jobs.IvfServingTable))
      assert(spark.catalog.tableExists(Jobs.IvfServingCentroids))
      assert(spark.catalog.tableExists(s"${Jobs.Bm25ServingName}_postings"))
      // day-2 re-run of the maintenance composition: no re-bootstrap,
      // zero-row appends (idempotent re-delivery), takedowns no-op
      val log2 = Jobs.maintainServingIndexes(spark, sf).collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2),
          r.getBoolean(3)))
      assert(!log2.exists(_._2 == "bootstrap"),
        s"re-run re-bootstrapped: ${log2.mkString(", ")}")
      val appends = log2.filter(_._2 == "append")
      assert(appends.size == 2 && appends.forall(_._3 == 0L),
        s"re-run appended rows: ${log2.mkString(", ")}")
      // same-DAY re-run (the crashed-cron recovery): the delivery
      // manifest recorded 2024-01-01 during the Main.run above, so
      // both append bodies short-circuit on a manifest-row check —
      // never probing the index — and the log says so
      val logSame = Jobs
        .maintainServingIndexes(spark, sf, Some("2024-01-01"))
        .collect().map(r => (r.getString(0), r.getString(1)))
      assert(logSame.count(_._2 == "append_skipped") == 2 &&
        !logSame.exists(_._2 == "append"),
        s"same-day re-run did not manifest-skip: ${logSame.mkString(", ")}")
      // a NEW day runs the appends; the data-level guard underneath
      // converges them to zero rows on the unchanged fixture feed
      val logNext = Jobs
        .maintainServingIndexes(spark, sf, Some("2024-01-02"))
        .collect().map(r => (r.getString(0), r.getString(1),
          r.getLong(2)))
      val nextAppends = logNext.filter(_._2 == "append")
      assert(nextAppends.size == 2 && nextAppends.forall(_._3 == 0L),
        s"new-day run misbehaved: ${logNext.mkString(", ")}")
      // mid-bootstrap crash convergence: a crash between the index
      // install and its sibling artifacts (scalars/centroids) must
      // re-bootstrap on the next run, not wedge every later cron on
      // NoSuchTableException
      spark.sql(s"DROP TABLE IF EXISTS ${Jobs.IvfServingTable}__scalars")
      spark.sql(s"DROP TABLE IF EXISTS ${Jobs.IvfServingCentroids}")
      spark.sql(s"DROP TABLE IF EXISTS ${Jobs.Bm25ServingName}_scalars")
      val logHeal = Jobs.maintainServingIndexes(spark, sf).collect()
        .map(r => (r.getString(0), r.getString(1)))
      assert(logHeal.count(_._2 == "bootstrap") == 2,
        s"missing siblings did not re-bootstrap: ${logHeal.mkString(", ")}")
      // retrain-marker recovery: a crash between the centroid install
      // and the assignment rebuild leaves the intent marker — the next
      // run must rebuild assignments under the persisted centroids
      import spark.implicits._
      graft.operators.Partitioning.replaceTable(spark,
        s"${Jobs.IvfServingTable}__retrain_pending",
        Seq(1).toDF("pending"))
      val logRec = Jobs.maintainServingIndexes(spark, sf).collect()
        .map(r => (r.getString(0), r.getString(1)))
      assert(logRec.exists(_._2 == "retrain_recovered"),
        s"pending retrain not recovered: ${logRec.mkString(", ")}")
      assert(!spark.catalog.tableExists(
          s"${Jobs.IvfServingTable}__retrain_pending"),
        "retrain marker must drop after the recovery rebuild")
      // the rebuilt assignments match the persisted centroids exactly
      val pc = spark.table(Jobs.IvfServingCentroids).collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
        .sortBy(_._1)
      val reassigned = graft.operators.Ann.ivfAssign(
        spark.table(Jobs.IvfServingTable)
          .select("vec_id", "embedding"), pc)
        .select("vec_id", "cell").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val servingCells = spark.table(Jobs.IvfServingTable)
        .select("vec_id", "cell").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(servingCells == reassigned,
        "recovered assignments disagree with the persisted centroids")
      // the maintained indexes actually serve
      val cents = spark.table(Jobs.IvfServingCentroids).collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
        .sortBy(_._1)
      val emb = graft.sources.Tables(spark, sf, "embeddings")
      val queries = graft.operators.Ann.ivfProbeCells(
        emb.filter(col("vec_id") < 3), cents, nprobe = 2)
        .transform(graft.operators.CacheScope.materialize)
      assert(graft.operators.Ann.probeIvfIndex(spark,
        Jobs.IvfServingTable, queries, 10).head(1).nonEmpty,
        "served IVF probe returned nothing")
      graft.operators.CacheScope.releaseCheckpoint(queries)
      val idx = graft.operators.Lexical
        .readIndexTables(spark, Jobs.Bm25ServingName)
      val docs = graft.sources.Tables(spark, sf, "documents")
      assert(graft.operators.Lexical.rankedFromIndex(idx,
        docs.filter(col("doc_id") % 250 === 0)).head(1).nonEmpty,
        "served BM25 probe returned nothing")
    } finally {
      for (b <- Seq(Jobs.IvfServingTable,
          s"${Jobs.IvfServingTable}__tombstones",
          s"${Jobs.IvfServingTable}__scalars",
          s"${Jobs.IvfServingTable}__manifest",
          s"${Jobs.IvfServingTable}__retrain_pending",
          s"${Jobs.Bm25ServingName}__manifest",
          s"${Jobs.Bm25ServingName}__derive_pending",
          Jobs.IvfServingCentroids);
          sx <- Seq("", "__stage", "__old"))
        spark.sql(s"DROP TABLE IF EXISTS $b$sx")
      for (t <- Seq("postings", "vocab", "doclen", "scalars", "deltas");
          sx <- Seq("", "__stage", "__old"))
        spark.sql(s"DROP TABLE IF EXISTS ${Jobs.Bm25ServingName}_$t$sx")
    }
  }

  test("refresh extracts accept an explicit recency cutoff (jobs.py:40-49)") {
    // The reference computes the cutoff once and passes it into both
    // refresh queries; the anchored default exists only for oracle
    // determinism. An explicit early cutoff must widen the window —
    // every term-month event qualifies — independently of max(ts).
    val terms = Jobs.currentTermIds(spark, sf)
    val t = terms.head
    val early = java.sql.Timestamp.valueOf("1990-01-01 00:00:00")
    val all = Jobs.recentInstructorUpdates(spark, sf, t, Some(early)).count()
    val anchored = Jobs.recentInstructorUpdates(spark, sf, t).count()
    assert(all >= anchored)
    // the composed reference contract (queries.py:97-121): DISTINCT
    // 7-column projection, withdrawal-filtered, priority-ordered
    val enr = Jobs.recentEnrollmentUpdates(spark, sf, t, Some(early))
    assert(enr.columns.toSeq ==
      Seq("section_id", "term_id", "ldap_uid", "sis_id",
        "enroll_status", "course_career", "last_updated"))
    // priority sort is part of the output contract (§2.11): career
    // ranks must be non-decreasing down the extract within each term
    val ranks = enr.select("term_id", "course_career").collect().map { r =>
      (r.getString(0), r.getString(1) match {
        case "1-URGENT" => 1; case "2-HIGH" => 2; case "3-MEDIUM" => 3
        case "4-NOT SPECIFIED" => 4; case _ => 5
      })
    }
    ranks.sliding(2).foreach {
      case Array((ta, ra), (tb, rb)) =>
        assert(ta < tb || (ta == tb && ra <= rb),
          s"priority order violated: ($ta,$ra) before ($tb,$rb)")
      case _ => ()
    }
    // a cutoff after the data's max excludes everything
    val late = java.sql.Timestamp.valueOf("2999-01-01 00:00:00")
    assert(Jobs.recentEnrollmentUpdates(spark, sf, t, Some(late)).count() == 0)
  }

  test("upload_recent_refresh is per-term only (jobs.py:39-49)") {
    val dir = Files.createTempDirectory("jobs_refresh_spec").toString
    val res = Jobs.run("upload_recent_refresh", spark, sf,
      Seq(s"$dir/t1"), "2024-01-01")
    val terms = Jobs.currentTermIds(spark, sf)
    assert(res.size == terms.size * 2, s"2 extracts per term: $res")
    assert(res.map(_._1).forall(n =>
      n.startsWith("instructor-updates-") ||
        n.startsWith("enrollment-updates-")))
  }

  /** Live threads of the step runner's pools, each given a moment to
    * exit so a thread on its way out is not counted. */
  private def liveStepThreads(): Seq[Thread] = {
    import scala.jdk.CollectionConverters._
    val ts = Thread.getAllStackTraces.keySet.asScala.toSeq
      .filter(_.getName.startsWith("graft-job-step-"))
    ts.foreach(_.join(5000))
    ts.filter(_.isAlive)
  }

  test("runSteps: rows come back in submission order, on at most " +
      "min(steps, threads) concurrent threads") {
    import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
    import java.util.concurrent.atomic.AtomicInteger
    val running = new AtomicInteger
    val peak = new AtomicInteger
    val names = ConcurrentHashMap.newKeySet[String]()
    // every step waits until two are running: a serial runner would
    // time out here instead of passing
    val overlap = new CountDownLatch(2)
    def step(i: Int): () => Seq[Int] = () => {
      names.add(Thread.currentThread.getName)
      peak.accumulateAndGet(running.incrementAndGet(), math.max)
      try {
        overlap.countDown()
        assert(overlap.await(30, TimeUnit.SECONDS), "steps ran serially")
        Thread.sleep(10L * (6 - i)) // the first submitted finishes last
        Seq(i, i)
      } finally running.decrementAndGet()
    }
    val rows = Jobs.runSteps[Int](3) { submit =>
      (0 until 4).foreach(i => submit(step(i)))
      // a follow-up submitter, like the term lookup: its steps come
      // after every step submitted before them
      submit { () => Seq(5, 6).foreach(i => submit(step(i))); Seq.empty }
    }
    assert(rows == Seq(0, 0, 1, 1, 2, 2, 3, 3, 5, 5, 6, 6))
    assert(peak.get >= 2 && peak.get <= 3, s"peak concurrency ${peak.get}")
    assert(names.size <= 3, s"threads beyond the bound: $names")
    // fewer steps than threads: one thread per step, no more
    names.clear()
    assert(Jobs.runSteps[String](4) { submit =>
      Seq("a", "b").foreach(x => submit { () =>
        names.add(Thread.currentThread.getName); Seq(x) })
    } == Seq("a", "b"))
    assert(names.size <= 2, s"more threads than steps: $names")
    assert(liveStepThreads().isEmpty, "the pool outlived runSteps")
  }

  test("runSteps: concurrent fan-outs land identical bytes in both " +
      "targets, the same rows a serial run lands") {
    val dir = Files.createTempDirectory("run_steps_bytes_spec").toString
    val frames = (0 until 6).map(i =>
      spark.range(200).selectExpr("id", s"md5(cast(id * $i as string)) as v"))
    def key(i: Int) = s"daily/k$i/k$i.gz"
    val res = Jobs.runSteps[(String, Boolean)](4) { submit =>
      frames.indices.foreach(i => submit(() =>
        Sinks.fanOut(frames(i), Seq(s"$dir/t1", s"$dir/t2"), key(i))))
    }
    assert(res == frames.indices.flatMap(_ =>
      Seq(s"$dir/t1" -> true, s"$dir/t2" -> true)))
    def parts(t: String, i: Int): Seq[java.io.File] =
      new java.io.File(s"$dir/$t/${key(i)}").listFiles()
        .filter(_.getName.endsWith(".csv.gz")).sortBy(_.getName).toSeq
    def gz(f: java.io.File): Array[Byte] = Files.readAllBytes(f.toPath)
    def csv(f: java.io.File): String = {
      val in = new java.util.zip.GZIPInputStream(
        new java.io.FileInputStream(f))
      try new String(in.readAllBytes(), "UTF-8") finally in.close()
    }
    for (i <- frames.indices) {
      assert(parts("t1", i).nonEmpty, s"extract $i did not land")
      assert(parts("t1", i).map(gz(_).toSeq) ==
          parts("t2", i).map(gz(_).toSeq),
        s"targets got different bytes for extract $i")
      // the serial reference: the same frame through one plain fanOut
      Sinks.fanOut(frames(i), Seq(s"$dir/serial"), key(i))
      assert(parts("t1", i).map(csv) == parts("serial", i).map(csv),
        s"extract $i differs from its serial delivery")
    }
  }

  test("runSteps: a throwing step leaves the others landing; the first " +
      "failure is rethrown after every step finished, later ones " +
      "suppressed, and no pool thread is left running") {
    import java.util.concurrent.atomic.AtomicInteger
    val dir = Files.createTempDirectory("run_steps_fail_spec").toString
    val finished = new AtomicInteger
    def step(body: => Seq[String]): () => Seq[String] =
      () => try body finally finished.incrementAndGet()
    def land(i: Int): Seq[String] = {
      val ok = Sinks.fanOut(Seq((i, "x")).toDF("a", "b"), Seq(s"$dir/t1"),
        s"daily/k$i/k$i.gz")
      assert(ok.forall(_._2))
      Seq(s"k$i")
    }
    val first = new IllegalStateException("step 1 failed")
    val later = new IllegalArgumentException("step 3 failed")
    val thrown = intercept[Jobs.StepsFailed[_]] {
      Jobs.runSteps[String](4) { submit =>
        submit(step(land(0)))
        // fails LAST in time, FIRST in submission order
        submit(step { Thread.sleep(300); throw first })
        submit(step { Thread.sleep(600); land(2) })
        submit(step(throw later))
        submit(step(land(4)))
      }
    }
    assert(thrown.getCause eq first,
      s"not the first failure in step order: ${thrown.getCause}")
    assert(thrown.getCause.getSuppressed.toSeq == Seq(later))
    assert(finished.get == 5, s"rethrown before every step finished: " +
      s"${finished.get} of 5")
    for (i <- Seq(0, 2, 4))
      assert(new java.io.File(s"$dir/t1/daily/k$i/k$i.gz").isDirectory,
        s"step $i did not land beside the failures")
    assert(thrown.landed == Seq("k0", "k2", "k4"),
      s"the landed steps' rows were not carried: ${thrown.landed}")
    assert(liveStepThreads().isEmpty, "a pool thread outlived the failure")

    // through Jobs.run: an input directory holding only `customer`
    // lands ref_advisor_notes, while ref_instructor_advisor throws on
    // its missing `lineitem`
    val partial = Files.createTempDirectory("run_steps_partial_sf")
    Files.createSymbolicLink(partial.resolve("customer.parquet"),
      java.nio.file.Paths.get(s"$sf/customer.parquet"))
    val jobFailed = intercept[Jobs.StepsFailed[_]] {
      Jobs.run("upload_advisors", spark, partial.toString,
        Seq(s"$dir/t2"), "2024-01-01")
    }
    assert(jobFailed.landed == Seq(
      ("advisor-note-permissions", s"$dir/t2", true)))
    assert(jobFailed.getCause.getMessage.contains("lineitem"),
      s"not the missing-table failure: ${jobFailed.getCause}")
  }

  test("a corrupt input table fails the job: no extract that reads it " +
      "is reported ok, and the extracts that do not read it land") {
    import java.nio.file.{Files => F, Paths}
    // lineitem truncated to half its bytes; every other table intact.
    // ref_instructor_advisor reads lineitem, ref_advisor_notes does not
    val data = F.createTempDirectory("corrupt_input_sf")
    for (t <- graft.sources.Tables.names if t != "lineitem")
      F.createSymbolicLink(data.resolve(s"$t.parquet"),
        Paths.get(s"$sf/$t.parquet"))
    val whole = F.readAllBytes(Paths.get(s"$sf/lineitem.parquet"))
    F.write(data.resolve("lineitem.parquet"),
      java.util.Arrays.copyOf(whole, whole.length / 2))
    val dir = F.createTempDirectory("corrupt_input_out").toString
    val targets = Seq(s"$dir/t1", s"$dir/t2")
    val failed = intercept[Jobs.StepsFailed[_]] {
      Jobs.run("upload_advisors", spark, data.toString, targets,
        "2024-01-01")
    }
    assert(failed.getCause.getMessage.contains("lineitem"),
      s"the failure does not name the corrupt table: ${failed.getCause}")
    val landed = failed.landed.map {
      case (extract: String, target: String, ok: Boolean) =>
        (extract, target, ok)
    }
    assert(!landed.exists { case (e, _, ok) =>
      e == "instructor-advisor-map" && ok },
      s"an extract of the corrupt table was reported ok: $landed")
    assert(landed == targets.map(("advisor-note-permissions", _, true)),
      s"the extract without lineitem did not land everywhere: $landed")
    for (t <- targets) {
      val key = Sinks.advisorsKey("2024-01-01", "advisor-note-permissions")
      assert(new java.io.File(s"$t/$key").exists(), s"$t/$key missing")
      val bad = Sinks.advisorsKey("2024-01-01", "instructor-advisor-map")
      assert(!new java.io.File(s"$t/$bad").exists(),
        s"$t/$bad landed from a corrupt input")
    }
  }

  test("partitionedParquet dynamic overwrite replaces only incoming " +
    "partitions, idempotently") {
    val dir = Files.createTempDirectory("dynpart").toString
    // non-date partition values: partition-column type inference would
    // otherwise read ISO strings back as DATEs
    def table(): Set[(Long, String)] =
      spark.read.parquet(dir).select("id", "day").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
    Sinks.partitionedParquet(
      Seq((1L, "d1"), (2L, "d2")).toDF("id", "day"), dir, Seq("day"))
    assert(table() == Set((1L, "d1"), (2L, "d2")))
    // a backfill batch touching only d2 must leave d1's files alone —
    // default overwrite would truncate the whole table
    val backfill = Seq((20L, "d2")).toDF("id", "day")
    Sinks.partitionedParquet(backfill, dir, Seq("day"))
    assert(table() == Set((1L, "d1"), (20L, "d2")))
    // T6: re-delivering the same batch lands the identical table
    Sinks.partitionedParquet(backfill, dir, Seq("day"))
    assert(table() == Set((1L, "d1"), (20L, "d2")))
  }

  test("maintain_indexes soak with a DRIFTED day: the job's own gate " +
      "escalates, retrains mid-soak, and the served view matches a " +
      "rebuild under the retrained centroids") {
    import org.apache.spark.sql.functions._
    import graft.operators.{Ann, CacheScope, Partitioning}
    // sf0.01, not the suite's sf0.001: the gate's 995000 e6-alignment
    // bar needs cells big enough for Lloyd to converge PAST it — on
    // the 200-vector fixture the one-step update's limit cycle sits
    // just under the bar (~994500) and the gate would honestly fire
    // every night; ~200-vector cells settle in 1-2 passes
    val soakSf = "/root/testdata/sf0.01"
    val emb = graft.sources.Tables(spark, soakSf, "embeddings")
      .select("vec_id", "embedding")
    def dropServing(): Unit = {
      for (t <- Seq(Jobs.IvfServingTable,
          s"${Jobs.IvfServingTable}__scalars",
          s"${Jobs.IvfServingTable}__tombstones",
          s"${Jobs.IvfServingTable}__retrain_pending",
          s"${Jobs.IvfServingTable}__manifest",
          Jobs.IvfServingCentroids) ++
          Seq("postings", "vocab", "doclen", "scalars", "deltas")
            .map(x => s"${Jobs.Bm25ServingName}_$x") ++
          Seq(s"${Jobs.Bm25ServingName}__append_pending",
            s"${Jobs.Bm25ServingName}__fold_pending",
            s"${Jobs.Bm25ServingName}__manifest");
          sx <- Seq("", "__stage", "__old"))
        spark.sql(s"DROP TABLE IF EXISTS $t$sx")
    }
    def centsOf(): Array[(Long, Array[Float])] =
      spark.table(Jobs.IvfServingCentroids).collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
        .sortBy(_._1)
    // run daily maintenance until the retrain gate settles (reads
    // not-drifted): each retrain IS one more Lloyd pass over the live
    // corpus, and Lloyd's alignment improves run over run, so on a
    // fixed corpus the gate must stop firing within a few nights — a
    // gate that keeps firing would pay a full assignment rebuild
    // EVERY night at 100 TB (the thrash this loop also proves absent)
    def runUntilSettled(keyPrefix: String, maxRuns: Int = 12)
        : Array[(String, String, Long, Boolean)] = {
      var last = Array.empty[(String, String, Long, Boolean)]
      var settled = false
      var i = 0
      while (!settled && i < maxRuns) {
        i += 1
        last = Jobs.maintainServingIndexes(spark, soakSf,
            Some(s"$keyPrefix-$i")).collect()
          .map(r => (r.getString(0), r.getString(1), r.getLong(2),
            r.getBoolean(3)))
        settled = last.exists(x => x._1 == "ivf" &&
          x._2 == "retrain_gate" && !x._4)
      }
      assert(settled, s"retrain gate thrashing: still drifted after " +
        s"$maxRuns steady runs — ${last.mkString(", ")}")
      last
    }
    try {
      dropServing()
      // phase 1 — bootstrap + steady fixture feeds until the gate
      // settles on the fixed corpus
      runUntilSettled("2024-03-01")
      val day1Cents = centsOf()
      // phase 2 — a genuinely DRIFTED ingest: every vector of the
      // fixture re-lands NEGATED under fresh ids, collapsing each
      // cell's one-step Lloyd alignment. The job's own sampled gate
      // must escalate to the full pass (small cells fail the sample's
      // support guard) and the full pass must fire the retrain.
      val drifted = emb.select(
        (col("vec_id") + lit(1000000L)).as("vec_id"),
        expr("transform(embedding, x -> CAST(-x AS FLOAT))")
          .as("embedding"))
      val log2 = Jobs.maintainServingIndexes(spark, soakSf,
          Some("2024-03-02"), ivfFeed = Some(drifted)).collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2),
          r.getBoolean(3)))
      val gate2 = log2.find(x => x._1 == "ivf" && x._2 == "retrain_gate")
      assert(gate2.exists(_._4),
        s"drifted day did not retrain: ${log2.mkString(", ")}")
      assert(gate2.exists(_._3 < Jobs.RetrainAlignE6),
        s"retrain fired above the alignment bar: $gate2")
      assert(log2.exists(x => x._1 == "ivf" &&
          x._2 == "retrain_gate_sampled" && !x._4),
        s"sampled gate did not escalate: ${log2.mkString(", ")}")
      val day2Cents = centsOf()
      assert(day2Cents.map(_._2.toSeq) != day1Cents.map(_._2.toSeq),
        "retrain left the serving centroids unchanged")
      assert(!spark.catalog.tableExists(
          s"${Jobs.IvfServingTable}__retrain_pending"),
        "retrain intent marker survived a completed retrain")
      // the served view IS a from-scratch build over the live ids
      // under the RETRAINED centroids: same assignments, same probe
      val live = Ann.liveIvfVectors(spark, Jobs.IvfServingTable)
        .select("vec_id", "embedding")
        .transform(CacheScope.materialize)
      val refT = "drift_soak_ref"
      Ann.buildIvfIndex(spark, live, day2Cents, refT, nBuckets = 8)
      val queries = Ann.ivfProbeCells(
        live.filter(col("vec_id") % 97 === 1), day2Cents, nprobe = 2)
        .transform(CacheScope.materialize)
      try {
        def probeRows(t: String) =
          Ann.probeIvfIndex(spark, t, queries, 10)
            .collect().map(_.toSeq).toSet
        val served = probeRows(Jobs.IvfServingTable)
        assert(served == probeRows(refT),
          "post-retrain served probe diverged from the rebuild " +
            "under the retrained centroids")
        assert(served.nonEmpty, "retrain parity vacuous: no probe rows")
      } finally {
        CacheScope.releaseCheckpoint(queries)
        CacheScope.releaseCheckpoint(live)
        for (t <- Seq(refT, s"${refT}__scalars", s"${refT}__tombstones");
            sx <- Seq("", "__stage", "__old"))
          spark.sql(s"DROP TABLE IF EXISTS $t$sx")
      }
      // phase 3 — steady state again on the (now retrained) index:
      // the gate must settle back to no-retrain, proving the retrain
      // CONVERGED rather than thrashing every subsequent night
      runUntilSettled("2024-03-03")
    } finally dropServing()
  }

  test("maintain_indexes day that CRASHES inside the BM25 fold " +
      "(postings swapped, marker installed, derive not run): readers " +
      "serve the consistent view, the next cron converges it with a " +
      "fold_recovered log row (r18 verdict #3)") {
    import org.apache.spark.sql.functions._
    import graft.operators.{Lexical, Partitioning}
    val bm = Jobs.Bm25ServingName
    def dropServing(): Unit = {
      for (t <- Seq(Jobs.IvfServingTable,
          s"${Jobs.IvfServingTable}__scalars",
          s"${Jobs.IvfServingTable}__tombstones",
          s"${Jobs.IvfServingTable}__retrain_pending",
          s"${Jobs.IvfServingTable}__manifest",
          Jobs.IvfServingCentroids) ++
          Seq("postings", "vocab", "doclen", "scalars", "deltas")
            .map(x => s"${bm}_$x") ++
          Seq(s"${bm}__append_pending", s"${bm}__fold_pending",
            s"${bm}__manifest");
          sx <- Seq("", "__stage", "__old"))
        spark.sql(s"DROP TABLE IF EXISTS $t$sx")
    }
    val docs = graft.sources.Tables(spark, sf, "documents")
      .select("doc_id", "text")
    // the cron's fixture-derived feeds: resident %7!=0, batch %7==0,
    // victims %50==0 within the resident split — so any number of
    // cron runs converges the served corpus to docs − victims
    val surviving = docs.filter(
      !(col("doc_id") % 50 === 0 && col("doc_id") % 7 =!= 0))
    def parity(tag: String): Unit = {
      val served = Lexical.readIndexTables(spark, bm)
      val rebuild = Lexical.buildIndex(surviving)
      assert((served.nDocs, served.sumDl) ==
          ((rebuild.nDocs, rebuild.sumDl)),
        s"$tag: served scalars diverged from the rebuild")
      val diff = served.df.withColumnRenamed("df", "__got")
        .join(rebuild.df.withColumnRenamed("df", "__want"),
          Seq("token"), "full_outer")
        .filter(coalesce(col("__got"), lit(-1L)) =!=
          coalesce(col("__want"), lit(-1L)))
      assert(diff.head(1).isEmpty,
        s"$tag: served vocabulary diverged from the rebuild")
    }
    try {
      dropServing()
      // night 1 — a normal cron bootstraps and applies the day's
      // feeds; from here the BM25 corpus is docs − victims
      Jobs.maintainServingIndexes(spark, sf, Some("2024-04-01"))
        .collect()
      val gen0 = spark.table(s"${bm}_scalars")
        .select("fold_gen").collect()(0).getLong(0)
      // night 2 — a maintenance fold CRASHES in exactly the
      // writeIndexTables window the r17 fix narrowed: the folded
      // postings swap in and the fold-pending marker installs, then
      // the process dies BEFORE deriveIndexArtifacts touches any
      // derived table. Reproduce that on-disk state with the fold's
      // own primitives: postings ← served truth (deltas applied),
      // marker at gen0+1, vocab/doclen/scalars/deltas stale at gen0.
      val folded = Lexical.readIndexTables(spark, bm)
      Partitioning.replaceBucketed(spark, s"${bm}_postings",
        folded.tf, "token", 8)
      Partitioning.replaceTable(spark, s"${bm}__fold_pending",
        Seq((gen0 + 1L, 8)).toDF("fold_gen", "buckets"))
      // READER leg: the mixed-generation bundle must serve the
      // postings-truth fallback (still exactly the surviving corpus)
      // WITHOUT converging anything — readers are not writers
      parity("reader under a torn fold")
      assert(spark.catalog.tableExists(s"${bm}__fold_pending"),
        "a reader converged the torn fold (writer-only contract)")
      assert(spark.table(s"${bm}_scalars")
          .select("fold_gen").collect()(0).getLong(0) == gen0,
        "a reader rewrote the stale scalars")
      // night 3 — the next cron run must converge the crashed fold
      // FIRST, say so in its run log, then apply its own day
      val log3 = Jobs.maintainServingIndexes(spark, sf,
          Some("2024-04-03")).collect()
        .map(r => (r.getString(0), r.getString(1), r.getBoolean(3)))
      assert(log3.contains(("bm25", "fold_recovered", true)),
        s"no fold_recovered log row: ${log3.mkString(", ")}")
      assert(!spark.catalog.tableExists(s"${bm}__fold_pending"),
        "the cron left the fold-pending marker behind")
      assert(spark.table(s"${bm}_scalars")
          .select("fold_gen").collect()(0).getLong(0) >= gen0 + 1L,
        "recovery did not install the marker's target generation")
      parity("post-recovery cron")
      // night 4 — steady state: no recovery row, view still converged
      val log4 = Jobs.maintainServingIndexes(spark, sf,
          Some("2024-04-04")).collect()
        .map(r => (r.getString(0), r.getString(1), r.getBoolean(3)))
      assert(!log4.exists(x => x._1 == "bm25" &&
          x._2 == "fold_recovered"),
        s"steady-state cron logged a phantom recovery: " +
          s"${log4.mkString(", ")}")
      parity("steady-state night after recovery")
    } finally dropServing()
  }

  test("multi-day maintenance soak: three days of genuinely fresh " +
      "batches with takedowns and a day-2 re-add of a day-1 victim " +
      "converge BOTH serving indexes to a from-scratch rebuild over " +
      "the surviving corpus") {
    import org.apache.spark.sql.functions._
    import graft.operators.{Ann, Lexical, Partitioning}
    val docs = graft.sources.Tables(spark, sf, "documents")
      .select("doc_id", "text")
    val emb = graft.sources.Tables(spark, sf, "embeddings")
      .select("vec_id", "embedding")
    def dayDocs(d: Int) = docs.filter(col("doc_id") % 4 === d)
    def dayVecs(d: Int) = emb.filter(col("vec_id") % 4 === d)
    val bm = "soak_bm25"
    val iv = "soak_ivf"
    val ivRef = "soak_ivf_ref"
    try {
      // day 0 — bootstrap both indexes on the resident split; the
      // centroids are fixed for the whole soak (retrain is a separate
      // gated decision, exercised by its own specs)
      Lexical.writeIndexTables(Lexical.buildIndex(dayDocs(0)), bm, 8)
      val cents = Ann.ivfCentroids(spark, emb, 10, steps = 2)
      Ann.buildIvfIndex(spark, dayVecs(0), cents, iv, nBuckets = 8)
      // day 1 — fresh batch appends, then a day-0 victim takedown;
      // loose gates (appends 10.0 — day batches are ~50% of the base
      // each, so 1.0 would legitimately fire on day 3; takedowns 1.0)
      // hold compaction open so days 2-3 run on top of LIVE deltas
      // and tombstones (the steady-state shape)
      Lexical.appendIndexTables(spark, bm, dayDocs(1),
        compactFraction = 10.0)
      Ann.appendIvfBatch(spark, iv, dayVecs(1), cents)
      val v1doc = dayDocs(0).select("doc_id").orderBy("doc_id").limit(1)
      val v1vec = dayVecs(0).select("vec_id").orderBy("vec_id").limit(1)
      assert(!Lexical.removeDocsDeferred(spark, bm, v1doc,
        compactFraction = 1.0))
      assert(!Ann.tombstoneIvfVectors(spark, iv, v1vec,
        compactFraction = 1.0))
      // day 2 — fresh batch PLUS the day-1 victim RE-ADDED (takedown
      // reversal: the overlap rule must compact first so exactly one
      // live copy serves), then a permanent takedown of day-1 docs
      Lexical.appendIndexTables(spark, bm,
        dayDocs(2).unionByName(
          docs.join(v1doc, Seq("doc_id"), "left_semi")),
        compactFraction = 10.0)
      Ann.appendIvfBatch(spark, iv,
        dayVecs(2).unionByName(
          emb.join(v1vec, Seq("vec_id"), "left_semi")), cents)
      val v2doc = dayDocs(1).select("doc_id").orderBy("doc_id").limit(2)
      val v2vec = dayVecs(1).select("vec_id").orderBy("vec_id").limit(2)
      assert(!Lexical.removeDocsDeferred(spark, bm, v2doc,
        compactFraction = 1.0))
      assert(!Ann.tombstoneIvfVectors(spark, iv, v2vec,
        compactFraction = 1.0))
      // day 3 — one more fresh batch lands on top of the live
      // deltas/tombstones
      Lexical.appendIndexTables(spark, bm, dayDocs(3),
        compactFraction = 10.0)
      Ann.appendIvfBatch(spark, iv, dayVecs(3), cents)
      // surviving corpus: all four days minus the PERMANENT victims
      // (the day-1 victim was re-added, so it survives)
      val survDocs = docs.join(v2doc, Seq("doc_id"), "left_anti")
      val survVecs = emb.join(v2vec, Seq("vec_id"), "left_anti")

      // BM25: the delta-served view is the from-scratch rebuild —
      // scalars, vocabulary and probe, bit-for-bit
      val served = Lexical.readIndexTables(spark, bm)
      val rebuild = Lexical.buildIndex(survDocs)
      assert(served.nDocs == rebuild.nDocs &&
        served.sumDl == rebuild.sumDl,
        s"soaked scalars diverged: ${(served.nDocs, served.sumDl)} vs " +
          s"${(rebuild.nDocs, rebuild.sumDl)}")
      def dfMap(d: org.apache.spark.sql.DataFrame) =
        d.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(dfMap(served.df) == dfMap(rebuild.df),
        "soaked vocabulary diverged from the rebuild")
      val qDocs = survDocs.filter(col("doc_id") % 250 === 0)
      def rows(d: org.apache.spark.sql.DataFrame) =
        d.orderBy("q_id", "rnk").collect().map(_.toSeq).toSeq
      val viaSoak = rows(Lexical.rankedFromIndex(served, qDocs))
      assert(viaSoak == rows(Lexical.rankedFromIndex(rebuild, qDocs)),
        "soaked BM25 probe diverged from the rebuild")
      assert(viaSoak.nonEmpty, "probe parity vacuous: no ranked rows")

      // IVF: the live view is exactly the surviving id set, and a
      // probe equals one against a from-scratch build on the
      // survivors under the same centroids
      val liveIds = Ann.liveIvfVectors(spark, iv)
        .select("vec_id").collect().map(_.getLong(0)).toSet
      val survIds = survVecs.select("vec_id").collect()
        .map(_.getLong(0)).toSet
      assert(liveIds == survIds,
        s"live view diverged: ±${(liveIds diff survIds).size}/" +
          s"${(survIds diff liveIds).size} ids")
      Ann.buildIvfIndex(spark, survVecs, cents, ivRef, nBuckets = 8)
      val queries = Ann.ivfProbeCells(
        survVecs.filter(col("vec_id") % 40 === 1), cents, nprobe = 2)
        .transform(graft.operators.CacheScope.materialize)
      def probeRows(t: String) =
        Ann.probeIvfIndex(spark, t, queries, 10)
          .collect().map(_.toSeq).toSet
      assert(probeRows(iv) == probeRows(ivRef),
        "soaked IVF probe diverged from the from-scratch build")
      assert(probeRows(iv).nonEmpty, "IVF parity vacuous")
      graft.operators.CacheScope.releaseCheckpoint(queries)
      // the soak genuinely ran on live deltas: both pending tables
      // still exist going into the final reads
      assert(spark.catalog.tableExists(s"${bm}_deltas") &&
        spark.catalog.tableExists(s"${iv}__tombstones"),
        "gates closed early — the soak did not test the deferred path")
    } finally {
      for (t <- Seq("postings", "vocab", "doclen", "scalars", "deltas");
          sx <- Seq("", "__stage", "__old"))
        spark.sql(s"DROP TABLE IF EXISTS ${bm}_$t$sx")
      for (sx <- Seq("", "__stage", "__old")) {
        spark.sql(s"DROP TABLE IF EXISTS ${bm}__append_pending$sx")
        for (b <- Seq(iv, ivRef, s"${iv}__tombstones", s"${iv}__scalars",
            s"${ivRef}__scalars", s"${ivRef}__tombstones"))
          spark.sql(s"DROP TABLE IF EXISTS $b$sx")
      }
    }
  }
}
