package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.Streams
import graft.streaming.Streams.Event

/** Structured Streaming lifecycle: readStream → watermarked window agg →
  * memory sink; late-but-inside-watermark rows merge (T1 contract). */
class StreamsSpec extends AnyFunSuite with SharedSpark {

  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("windowed counts over a memory stream, two micro-batches") {
    implicit val sq = spark.sqlContext
    val source = MemoryStream[Event]
    val q = Streams.startWindowedQuery(source.toDF(), "win_test")
    try {
      source.addData(
        Event(1, ts("2024-01-01 10:05:00"), 7, "click", 1.25),
        Event(2, ts("2024-01-01 10:55:00"), 7, "click", 2.50),
        Event(3, ts("2024-01-01 11:05:00"), 8, "view", 4.00))
      q.processAllAvailable()
      // a "late" row for the 10:00 window arrives in batch 2, inside
      // the 5-day allowance — it must merge into the existing window
      source.addData(Event(4, ts("2024-01-01 10:30:00"), 9, "click", 0.75))
      q.processAllAvailable()
      val out = spark.table("win_test")
        .orderBy("hour_start", "event_type")
        .as[(Timestamp, String, Long, Long)].collect().toSeq
      assert(out == Seq(
        (ts("2024-01-01 10:00:00"), "click", 3L, 450L),
        (ts("2024-01-01 11:00:00"), "view", 1L, 400L)))
    } finally q.stop()
  }

  test("windowedEventCounts is batch/stream agnostic (same transform)") {
    val batch = Seq(
      Event(1, ts("2024-01-01 10:05:00"), 7, "click", 1.25),
      Event(2, ts("2024-01-01 10:55:00"), 7, "click", 2.50)).toDF()
    val out = Streams.windowedEventCounts(batch)
      .as[(Timestamp, String, Long, Long)].collect().toSeq
    assert(out == Seq((ts("2024-01-01 10:00:00"), "click", 2L, 375L)))
  }

  test("file-source stream: readStream over a directory, windowed to memory") {
    val dir = java.nio.file.Files.createTempDirectory("filestream")
      .toString
    Seq(Event(1, ts("2024-01-01 10:05:00"), 7, "click", 1.25),
        Event(2, ts("2024-01-01 10:20:00"), 8, "click", 2.50))
      .toDF().write.mode("overwrite").parquet(s"$dir/in")
    val src = spark.readStream
      .schema("event_id LONG, ts TIMESTAMP, user_id LONG, " +
        "event_type STRING, value DOUBLE")
      .parquet(s"$dir/in")
    val q = Streams.startWindowedQuery(src, "file_win_test")
    try {
      q.processAllAvailable()
      val out = spark.table("file_win_test")
        .as[(Timestamp, String, Long, Long)].collect().toSeq
      assert(out == Seq((ts("2024-01-01 10:00:00"), "click", 2L, 375L)))
    } finally q.stop()
  }

  test("streamingDedup drops an exact duplicate arriving in a later batch") {
    implicit val sq = spark.sqlContext
    val source = MemoryStream[Event]
    val q = Streams.streamingDedup(source.toDF()).writeStream
      .format("memory").queryName("dedup_test")
      .outputMode("append").start()
    try {
      source.addData(Event(1, ts("2024-01-01 10:00:00"), 7, "click", 1.0))
      q.processAllAvailable()
      // same event_id + ts re-delivered (at-least-once source) → dropped
      source.addData(Event(1, ts("2024-01-01 10:00:00"), 7, "click", 1.0),
        Event(2, ts("2024-01-01 10:01:00"), 7, "view", 2.0))
      q.processAllAvailable()
      assert(spark.table("dedup_test").count() == 2)
      // redelivery with a RE-STAMPED timestamp (broker-assigned time
      // differs on retry) is still the same event — the key alone
      // dedups, like the batch face's fingerprint-only dd_exact
      source.addData(Event(1, ts("2024-01-01 10:00:03"), 7, "click", 1.0))
      q.processAllAvailable()
      assert(spark.table("dedup_test").count() == 2,
        "a re-stamped redelivery leaked through the key-only dedup")
    } finally q.stop()
  }

  test("append mode: late data beyond the 5-day allowance is dropped") {
    implicit val sq = spark.sqlContext
    val source = MemoryStream[Event]
    val q = Streams.windowedEventCounts(source.toDF())
      .writeStream.format("memory").queryName("late_test")
      .outputMode("append").start()
    try {
      source.addData(Event(1, ts("2024-01-01 10:10:00"), 7, "click", 1.0))
      q.processAllAvailable()
      // advance the watermark 6 days past the first window → it closes
      source.addData(Event(2, ts("2024-01-07 11:00:00"), 7, "click", 1.0))
      q.processAllAvailable()
      val closed = spark.table("late_test")
        .as[(Timestamp, String, Long, Long)].collect().toSeq
      assert(closed == Seq((ts("2024-01-01 10:00:00"), "click", 1L, 100L)))
      // a row for the closed window, outside the allowance → dropped
      source.addData(Event(3, ts("2024-01-01 10:20:00"), 7, "click", 9.0))
      q.processAllAvailable()
      val after = spark.table("late_test")
        .as[(Timestamp, String, Long, Long)].collect().toSeq
      assert(after == closed, "late row must not reopen the window")
    } finally q.stop()
  }

  test("stream-stream join pairs events with errors in the lookback") {
    implicit val sq = spark.sqlContext
    val clicks = MemoryStream[Event]
    val errors = MemoryStream[Event]
    val q = Streams.joinErrorsWithin(clicks.toDF(), errors.toDF())
      .writeStream.format("memory").queryName("ssj_test")
      .outputMode("append").start()
    try {
      errors.addData(Event(10, ts("2024-01-01 10:02:00"), 7, "error", 0.0))
      clicks.addData(
        Event(1, ts("2024-01-01 10:05:00"), 7, "click", 1.0), // within 10m
        Event(2, ts("2024-01-01 10:20:00"), 7, "click", 1.0), // outside
        Event(3, ts("2024-01-01 10:05:00"), 8, "click", 1.0)) // other user
      q.processAllAvailable()
      val out = spark.table("ssj_test")
        .select("event_id").as[Long].collect().toSeq
      assert(out == Seq(1L))
    } finally q.stop()
  }

  test("foreachBatch fan-out lands each micro-batch on every target") {
    implicit val sq = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("fanout").toString
    val source = MemoryStream[Event]
    val q = Streams.startFanOutQuery(source.toDF(),
      Seq(s"$base/t1", s"$base/t2"), "daily/k", s"$base/cp")
    try {
      source.addData(Event(1, ts("2024-01-01 10:00:00"), 7, "click", 1.0))
      q.processAllAvailable()
      Seq("t1", "t2").foreach { t =>
        val dir = new java.io.File(s"$base/$t/daily/k/batch-0.gz")
        assert(dir.exists(), s"missing $dir")
        assert(spark.read.csv(dir.toString).count() == 1)
      }
    } finally q.stop()
  }

  test("streamingDedup state survives a restart (checkpoint recovery)") {
    val base = java.nio.file.Files.createTempDirectory("ckpt").toString
    val (in, out, cp) = (s"$base/in", s"$base/out", s"$base/cp")
    val schema = "event_id LONG, ts TIMESTAMP, user_id LONG, " +
      "event_type STRING, value DOUBLE"
    def start() = Streams.streamingDedup(
      spark.readStream.schema(schema).parquet(in))
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", cp)
      .outputMode("append").start()

    Seq(Event(1, ts("2024-01-01 10:00:00"), 7, "click", 1.0))
      .toDF().write.parquet(s"$in")
    val q1 = start()
    try q1.processAllAvailable() finally q1.stop()

    // second run: the same event redelivered + one new — recovered
    // dedup state must drop the duplicate across the restart
    Seq(Event(1, ts("2024-01-01 10:00:00"), 7, "click", 1.0),
        Event(2, ts("2024-01-01 10:01:00"), 7, "view", 2.0))
      .toDF().write.mode("append").parquet(s"$in")
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()

    assert(spark.read.parquet(out).count() == 2)
  }

  test("fan-out near-dedup recovers from its checkpoint: no dup, no lost batch") {
    // T6 on the streaming face, end to end: streamingNearDedup →
    // startFanOutQuery with a checkpoint; the query is killed between
    // micro-batches (data already waiting), restarted, and must (a)
    // deliver the waiting batch under the NEXT batch id — nothing
    // lost, nothing double-delivered — and (b) keep dropping
    // fingerprints first seen BEFORE the restart, i.e. the dedup
    // state store recovered from the checkpoint, not just offsets.
    val base = java.nio.file.Files.createTempDirectory("recover").toString
    val (in, cp) = (s"$base/in", s"$base/cp")
    val targets = Seq(s"$base/t1", s"$base/t2")
    val schema = "doc_id LONG, ts TIMESTAMP, text STRING"
    def start() = Streams.startFanOutQuery(
      Streams.streamingNearDedup(
        spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", 1).parquet(in))
        .select("doc_id"),
      targets, "docs", cp)

    Seq((1L, ts("2024-01-01 10:00:00"), "spark shuffles the join keys"),
        (2L, ts("2024-01-01 10:05:00"), "spark shuffles the join keys"))
      .toDF("doc_id", "ts", "text").coalesce(1)
      .write.mode("append").parquet(in)
    val q1 = start()
    try q1.processAllAvailable()
    finally {
      // next file arrives while the query is up, then the query dies
      // before processing it — the restart must pick it up
      Seq((3L, ts("2024-01-01 10:10:00"), "spark shuffles the join keys"),
          (4L, ts("2024-01-01 10:11:00"), "an entirely different sentence"))
        .toDF("doc_id", "ts", "text").coalesce(1)
        .write.mode("append").parquet(in)
      q1.stop()
    }
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()

    // batch ids are not hardcoded: the engine interleaves no-data
    // batches to advance the watermark. The delivery contract is
    // checked over ALL landed batches per target: doc 1 kept (in-batch
    // dup 2 dropped), doc 4 kept in a LATER batch than doc 1 (f2
    // processed after the restart), doc 3 dropped by dedup state
    // RECOVERED from the checkpoint — and nothing delivered twice.
    for (t <- targets) {
      val byBatch = new java.io.File(s"$t/docs").listFiles()
        .filter(_.getName.matches("batch-\\d+\\.gz")).toSeq
        .map { f =>
          val id = f.getName.stripPrefix("batch-").stripSuffix(".gz").toLong
          val rows = spark.read.csv(f.toString)
            .collect().map(_.getString(0)).toSeq
          id -> rows
        }.toMap
      assert(byBatch.nonEmpty, s"no batches landed under $t")
      val delivered = byBatch.toSeq.sortBy(_._1).flatMap(_._2)
      assert(delivered == Seq("1", "4"),
        s"expected exactly docs 1 and 4 once each, got $byBatch")
      val batchOf = (d: String) => byBatch.collectFirst {
        case (id, rows) if rows.contains(d) => id }.get
      assert(batchOf("4") > batchOf("1"),
        s"doc 4 must land after the restart: $byBatch")
    }
  }

  test("streaming URL dedup drops canonical re-crawls across batches") {
    implicit val sq = spark.sqlContext
    val source = MemoryStream[(Long, Timestamp, String)]
    val pages = source.toDF().toDF("page_id", "ts", "url")
    val q = Streams.streamingUrlDedup(pages)
      .select("page_id")
      .writeStream.format("memory").queryName("url_dedup")
      .outputMode("append").start()
    try {
      // pages 2 and 3 are the SAME canonical page as 1 (tracking
      // params / host case + default port / fragment variants), page 3
      // arriving in a later batch; page 4 differs by a REAL param
      source.addData(
        (1L, ts("2024-01-01 10:00:00"), "https://a.example.com/x"),
        (2L, ts("2024-01-01 10:05:00"),
          "https://a.example.com/x?utm_source=feed"))
      q.processAllAvailable()
      source.addData(
        (3L, ts("2024-01-01 10:10:00"), "HTTPS://A.Example.COM:443/x#top"),
        (4L, ts("2024-01-01 10:11:00"), "https://a.example.com/x?id=7"))
      q.processAllAvailable()
      val kept = spark.table("url_dedup").as[Long].collect().toSet
      assert(kept == Set(1L, 4L), s"got $kept")
    } finally q.stop()
  }

  test("streaming near-dedup drops same-fingerprint docs across batches") {
    implicit val sq = spark.sqlContext
    val source = MemoryStream[(Long, Timestamp, String)]
    val docs = source.toDF().toDF("doc_id", "ts", "text")
    val q = Streams.streamingNearDedup(docs)
      .select("doc_id")
      .writeStream.format("memory").queryName("near_dedup")
      .outputMode("append").start()
    try {
      // doc 2 repeats doc 1's text (same fingerprint, later ts) in the
      // SAME batch; doc 3 repeats it in a LATER batch; doc 4 differs
      source.addData(
        (1L, ts("2024-01-01 10:00:00"), "spark shuffles the join keys"),
        (2L, ts("2024-01-01 10:05:00"), "spark shuffles the join keys"))
      q.processAllAvailable()
      source.addData(
        (3L, ts("2024-01-01 10:10:00"), "spark shuffles the join keys"),
        (4L, ts("2024-01-01 10:11:00"), "an entirely different sentence"))
      q.processAllAvailable()
      val kept = spark.table("near_dedup").as[Long].collect().toSet
      assert(kept == Set(1L, 4L), s"got $kept")
      // the bounded-state contract, shown honestly: once the watermark
      // passes the 5-day allowance, seen-fingerprint state expires and
      // the same text is admitted AGAIN — state is finite by design
      source.addData(
        (5L, ts("2024-01-20 09:00:00"), "advancing the watermark now"))
      q.processAllAvailable()
      source.addData(
        (6L, ts("2024-01-20 09:01:00"), "spark shuffles the join keys"))
      q.processAllAvailable()
      val after = spark.table("near_dedup").as[Long].collect().toSet
      assert(after.contains(6L),
        s"expired fingerprint state must re-admit, got $after")
    } finally q.stop()
  }

  test("composed streaming curation: scrub → near-dedup → decontaminate") {
    implicit val sq = spark.sqlContext
    // the stream face of dd_curation_pipeline's composition argument:
    // each stage is individually certified; ONE query chaining them
    // catches state/watermark interactions the pieces can't
    val evalGrams = graft.operators.TextDedup.kShingles(
      Seq("the quick brown fox jumps over the lazy dog tonight")
        .toDF("text").selectExpr("1L as doc_id", "text"), 6)
      .select(org.apache.spark.sql.functions.xxhash64(
        org.apache.spark.sql.functions.col("shingle")).as("g"))
    val bits = graft.operators.Bloom.buildLong(evalGrams, "g")
    val source = MemoryStream[(Long, java.sql.Timestamp, String)]
    val docs = source.toDF().toDF("doc_id", "ts", "text")
    val composed = Streams.streamingDecontaminationGate(
      Streams.streamingNearDedup(Streams.streamingPiiScrub(docs)
        .drop("text").withColumnRenamed("clean_text", "text")),
      bits)
    val q = composed.select("doc_id", "n_emails", "text")
      .writeStream.format("memory").queryName("curation_stream")
      .outputMode("append").start()
    try {
      val t = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
      source.addData(
        // passes: unique content, no eval overlap; email scrubbed
        (1L, t, "alpha beta gamma delta epsilon zeta eta from x@y.co"),
        // near-dup of doc 1 AFTER scrubbing (same clean text) → dropped
        // by the fingerprint dedup even though raw bytes differ
        (2L, t, "alpha beta gamma delta epsilon zeta eta from a@b.co"),
        // contaminated: carries an eval 6-gram → dropped by the gate
        (3L, t, "the quick brown fox jumps over the lazy dog tonight ok"),
        // passes: distinct clean content
        (4L, t, "one two three four five six seven eight nine ten"))
      q.processAllAvailable()
      val rows = spark.table("curation_stream")
        .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getString(2)))
        .toMap
      assert(rows.keySet == Set(1L, 4L), s"kept ${rows.keySet}")
      assert(rows(1L)._1 == 1 && rows(1L)._2.endsWith("from [EMAIL]"),
        s"doc 1 must be scrubbed: ${rows(1L)}")
    } finally q.stop()
  }

  test("composed streaming ingest: html extract → gopher gate → near-dedup") {
    implicit val sq = spark.sqlContext
    import org.apache.spark.sql.functions.col
    // the stream face of ta_ingest_pipeline's composition argument:
    // extraction and the gate are stateless per-row kernels, dedup
    // carries the fingerprint state — ONE query chaining them
    val body = (1 to 55).map(i => s"word$i").mkString(" ")
    val body2 = (100 to 160).map(i => s"item$i").mkString(" ")
    val source = MemoryStream[(Long, java.sql.Timestamp, String)]
    val docs = source.toDF().toDF("doc_id", "ts", "html")
    val composed = Streams.streamingNearDedup(
      Streams.streamingGopherGate(
        docs.withColumn("text",
          graft.operators.HtmlText.cleanText(col("html"))),
        "text"))
    val q = composed.select("doc_id", "text")
      .writeStream.format("memory").queryName("ingest_stream")
      .outputMode("append").start()
    try {
      val t = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
      source.addData(
        // passes: clean 55-word body survives extraction and gate
        (1L, t, s"<html><body><script>var x;</script><p>$body</p></body></html>"),
        // DIFFERENT markup, same body → same clean text → dropped by
        // the fingerprint dedup even though raw html differs
        (2L, t, s"<div class='a'><b>$body</b><style>p{}</style></div>"),
        // repetition-heavy body → gate drops (top-2-gram share)
        (3L, t, "<p>" + Seq.fill(30)("spam ham").mkString(" ") + "</p>"),
        // too short → gate drops on word count
        (4L, t, "<p>only a few words here</p>"),
        // passes: distinct clean long body
        (5L, t, s"<p>$body2</p>"))
      q.processAllAvailable()
      val rows = spark.table("ingest_stream")
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(rows.keySet == Set(1L, 5L), s"kept ${rows.keySet}")
      assert(rows(1L) == body, "extraction must strip to the bare body")
    } finally q.stop()
  }

  test("streaming PII scrub redacts in-flight and stays stateless") {
    implicit val sq = spark.sqlContext
    val source = MemoryStream[(Long, String)]
    val docs = source.toDF().toDF("doc_id", "text")
    val q = Streams.streamingPiiScrub(docs)
      .select("doc_id", "n_emails", "n_ips", "n_phones", "clean_text")
      .writeStream.format("memory").queryName("pii_scrub")
      .outputMode("append").start()
    try {
      source.addData(
        (1L, "contact bob.smith+x@corp.example.com or 10.1.2.3 now"),
        (2L, "call 415-555-0142 about the order"),
        (3L, "nothing sensitive here"))
      q.processAllAvailable()
      val rows = spark.table("pii_scrub")
        .collect().map(r => r.getLong(0) ->
          (r.getInt(1), r.getInt(2), r.getInt(3), r.getString(4))).toMap
      assert(rows(1L) == ((1, 1, 0,
        "contact [EMAIL] or [IP] now")))
      assert(rows(2L) == ((0, 0, 1, "call [PHONE] about the order")))
      assert(rows(3L) == ((0, 0, 0, "nothing sensitive here")))
      assert(q.lastProgress.stateOperators.isEmpty,
        "PII scrub must be stateless")
    } finally q.stop()
  }

  test("streaming decontamination gate drops contaminated docs, stateless") {
    implicit val sq = spark.sqlContext
    // eval corpus: one known benchmark sentence → 6-gram Bloom filter
    val evalDocs = Seq(
      "the quick brown fox jumps over the lazy dog tonight").toDF("text")
    val evalGrams = graft.operators.TextDedup.kShingles(
      evalDocs.selectExpr("1L as doc_id", "text"), 6)
      .select(org.apache.spark.sql.functions.xxhash64(
        org.apache.spark.sql.functions.col("shingle")).as("g"))
    val bits = graft.operators.Bloom.buildLong(evalGrams, "g")
    val source = MemoryStream[(Long, String)]
    val docs = source.toDF().toDF("doc_id", "text")
    val q = Streams.streamingDecontaminationGate(docs, bits)
      .select("doc_id")
      .writeStream.format("memory").queryName("decon_gate")
      .outputMode("append").start()
    try {
      source.addData(
        // contains "quick brown fox jumps over the" → contaminated
        (1L, "a quick brown fox jumps over the lazy dog every day"),
        // clean: shares words but no 6-gram
        (2L, "the slow green turtle walks under a heavy shell today"),
        // shorter than 6 tokens: no gram, always clean
        (3L, "tiny doc"))
      q.processAllAvailable()
      val kept = spark.table("decon_gate").as[Long].collect().toSet
      assert(kept == Set(2L, 3L), s"got $kept")
      // stateless contract: the gate keeps no state store state
      assert(q.lastProgress.stateOperators.isEmpty,
        "decontamination gate must be stateless")
    } finally q.stop()
  }

  test("per-row simhash is bit-identical to the grouped batch form") {
    // the streaming-safe fold and the explode+groupBy reference plan
    // must produce the same fingerprint for every doc
    val docs = graft.sources.Tables(spark, "/root/testdata/sf0.001",
      "documents")
    val grouped = graft.operators.TextDedup.simhashIntGrouped(docs, 32)
      .withColumnRenamed("simhash_int", "g")
    val perRow = graft.operators.TextDedup.withSimhashInt(docs, 32)
      .select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.col("simhash_int").as("r"))
    val diff = grouped.join(perRow, "doc_id")
      .filter("g <> r").count()
    assert(diff == 0)
  }

  test("streamingIvfAssign matches the batch assignment across batch splits") {
    implicit val sq = spark.sqlContext
    val emb = graft.sources.Tables(
      spark, "/root/testdata/sf0.001", "embeddings")
    val cents = graft.operators.Ann.ivfCentroids(spark, emb, 8,
      steps = graft.queries.Similarity.IvfSteps)
    val rows = emb.select("vec_id", "embedding")
      .as[(Long, Seq[Float])].collect().toSeq
    val (b1, b2) = rows.splitAt(rows.size / 3)
    val source = MemoryStream[(Long, Seq[Float])]
    val q = Streams.streamingIvfAssign(
        source.toDF().toDF("vec_id", "embedding"), cents)
      .writeStream.format("memory").queryName("ivf_assign_state")
      .outputMode("append").start()
    try {
      source.addData(b1: _*); q.processAllAvailable()
      source.addData(b2: _*); q.processAllAvailable()
      val streamed = spark.table("ivf_assign_state")
        .select("vec_id", "cell").as[(Long, Long)].collect().toMap
      val batch = graft.operators.Ann.ivfAssign(emb, cents)
        .select("vec_id", "cell").as[(Long, Long)].collect().toMap
      assert(streamed == batch,
        "streamed cell assignment diverged from the batch argmax")
    } finally q.stop()
  }

  test("streamingClassifierGate admits exactly the batch keep verdicts") {
    implicit val sq = spark.sqlContext
    import org.apache.spark.sql.functions.col
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .selectExpr("doc_id", "text").as[(Long, String)].collect().toSeq
    val keep = SparkEntry.queries("ta_classifier_score")(
        spark, "/root/testdata/sf0.001")
      .filter(col("verdict") === "keep")
      .select("doc_id").as[Long].collect().toSet
    val source = MemoryStream[(Long, String)]
    val q = Streams.streamingClassifierGate(
        source.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("clf_gate")
      .outputMode("append").start()
    try {
      val (b1, b2) = docs.splitAt(docs.size / 2)
      source.addData(b1: _*); q.processAllAvailable()
      source.addData(b2: _*); q.processAllAvailable()
      val admitted = spark.table("clf_gate")
        .select("doc_id").as[Long].collect().toSet
      assert(admitted == keep,
        s"gate/batch disagree: gateOnly=${admitted -- keep} " +
          s"batchOnly=${keep -- admitted}")
    } finally q.stop()
  }

  test("streamingGopherGate admits exactly the batch keep verdicts") {
    implicit val sq = spark.sqlContext
    import org.apache.spark.sql.functions.col
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .selectExpr("doc_id", "text").as[(Long, String)].collect().toSeq
    val keep = graft.operators.GopherRules
      .metrics(docs.toDF("doc_id", "text"))
      .filter(col("keep") === 1L)
      .select("doc_id").as[Long].collect().toSet
    assert(keep.nonEmpty && keep.size < docs.size,
      "fixture must split on the gate for the parity check to bite")
    val source = MemoryStream[(Long, String)]
    val q = Streams.streamingGopherGate(
        source.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("gopher_gate")
      .outputMode("append").start()
    try {
      val (b1, b2) = docs.splitAt(docs.size / 2)
      source.addData(b1: _*); q.processAllAvailable()
      source.addData(b2: _*); q.processAllAvailable()
      val admitted = spark.table("gopher_gate")
      assert(admitted.columns.toSeq == Seq("doc_id", "text"),
        "gate must pass input columns through, diagnostics dropped")
      val ids = admitted.select("doc_id").as[Long].collect().toSet
      assert(ids == keep,
        s"gate/batch disagree: gateOnly=${ids -- keep} " +
          s"batchOnly=${keep -- ids}")
    } finally q.stop()
  }

  test("a REDELIVERED ingest micro-batch cannot resurrect a vector " +
      "tombstoned between the crash and the redelivery (the " +
      "delivery-manifest guard, r19 review)") {
    // the window the data-level newKeysOnly guard cannot close: batch
    // B (with id X) appends and the job dies BEFORE the checkpoint
    // commit; a takedown then tombstones X; Spark redelivers B. The
    // tombstone-overlap compact would physically drop X, newKeysOnly
    // would then pass it, and the GDPR-deleted vector would serve
    // again — unless the ingest body is keyed by micro-batch identity
    // in the delivery manifest, exactly as startIvfIngestQuery now
    // does. This replays that foreachBatch body by hand.
    import org.apache.spark.sql.functions.col
    import graft.operators.{Ann, Partitioning}
    val sf = "/root/testdata/sf0.001"
    val emb = graft.sources.Tables(spark, sf, "embeddings")
    val t = "ivf_redeliver_spec"
    try {
      val resident = emb.filter(col("vec_id") % 7 =!= 0)
      val batchB = emb.filter(col("vec_id") % 7 === 0)
      val cents = Ann.ivfCentroids(spark, resident, 8, steps = 1)
      Ann.buildIvfIndex(spark, resident, cents, t, nBuckets = 4)
      val key = Some("ingest:cp-spec:000000000001")
      def body(): Unit = { Ann.appendIvfBatch(spark, t, batchB, cents); () }
      // delivery 1: appends (crash simulated by NOT advancing the
      // stream — the manifest row is the part that survives)
      assert(Partitioning.deliverOnce(spark, t, key)(body()))
      // takedown of one batch-B id lands as a tombstone
      val x = batchB.select("vec_id").orderBy("vec_id").limit(1)
      Ann.tombstoneIvfVectors(spark, t, x, compactFraction = 10.0)
      val xId = x.collect()(0).getLong(0)
      def served: Set[Long] = Ann.liveIvfVectors(spark, t)
        .select("vec_id").collect().map(_.getLong(0)).toSet
      assert(!served.contains(xId), "takedown did not mask X")
      // redelivery of batch B: the manifest must skip the body — the
      // compact-then-append path would resurrect X
      assert(!Partitioning.deliverOnce(spark, t, key)(body()),
        "redelivered batch was not skipped")
      assert(!served.contains(xId),
        "redelivered micro-batch resurrected a tombstoned vector")
    } finally {
      for (x <- Seq(t, s"${t}__scalars", s"${t}__tombstones",
          s"${t}__manifest"); sx <- Seq("", "__stage", "__old"))
        spark.sql(s"DROP TABLE IF EXISTS $x$sx")
    }
  }
}
