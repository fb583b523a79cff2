package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.TextDedup

/** Degenerate inputs a real corpus contains but the fixtures don't:
  * empty text, single-word docs, repeated separators. The operators
  * must stay total — no crashes, documented drop semantics. */
class EdgeCaseSpec extends AnyFunSuite with SharedSpark {

  import spark.implicits._

  private val weird = Seq(
    (1L, ""),
    (2L, "one"),
    (3L, "two words"),
    (4L, "a  b"), // double space → empty token
    (5L, "normal text with several words in it"))
    .toDF("doc_id", "text")

  test("URL canonicalization is total on degenerate inputs") {
    import org.apache.spark.sql.functions.col
    import graft.operators.UrlCanon
    // NULL propagates (concat null-semantics); everything else passes
    // through the same string ops deterministically — no exceptions,
    // stable outputs, run-to-run identical
    val urls = Seq((1L, null), (2L, ""), (3L, "not a url"),
      (4L, "https://h"), (5L, "FTP://X.Y:80/p/"), (6L, "a://b#"),
      (7L, "https://h/?utm_source=x"),
      // cross-scheme "default" ports are NOT defaults — must survive
      (8L, "http://h:443/x"), (9L, "https://h:80/x"),
      (10L, "http://h:80:80/x")).toDF("id", "url")
    def run() = urls
      .select(col("id"), UrlCanon.canonicalize(col("url")).as("c"),
        UrlCanon.domainOf(col("url")).as("d"))
      .collect().map(r => (r.getLong(0),
        Option(r.getString(1)), Option(r.getString(2)))).toSeq
    val once = run()
    assert(once == run(), "canonicalization is not deterministic")
    assert(once.head == ((1L, None, None)), s"NULL must propagate: $once")
    // a bare host canonicalizes to itself; port stripping is
    // SCHEME-AWARE (:80 is only a default for http, :443 for https —
    // ftp keeps its :80, http keeps a :443); trailing slash and
    // empty fragment/tracking params vanish
    val byId = once.collect { case (id, Some(c), _) => id -> c }.toMap
    assert(byId(4L) == "https://h", byId(4L))
    assert(byId(5L) == "ftp://x.y:80/p", byId(5L))
    assert(byId(6L) == "a://b", byId(6L))
    assert(byId(7L) == "https://h", byId(7L))
    assert(byId(8L) == "http://h:443/x", byId(8L))
    assert(byId(9L) == "https://h:80/x", byId(9L))
    assert(byId(10L) == "http://h/x", byId(10L))
  }

  test("kShingles drops short docs, keeps the rest") {
    val got = TextDedup.kShingles(weird, 3)
      .groupBy("doc_id").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(!got.contains(1L) || got(1L) >= 0) // no crash is the contract
    assert(!got.contains(2L), "single word has no 3-shingle")
    assert(got(5L) == 5L, "n-k+1 distinct shingles")
  }

  test("per-row simhash is total and deterministic on degenerate docs") {
    val fp = TextDedup.withSimhashInt(weird, 32)
      .select("doc_id", "simhash_int")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fp.size == 5, "every doc gets a fingerprint, even empty text")
    val fp2 = TextDedup.withSimhashInt(weird, 32)
      .select("doc_id", "simhash_int")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fp == fp2, "deterministic across runs")
  }

  test("narrow signatures drop shingle-less docs, as documented") {
    val ids = TextDedup.signaturesNarrow(weird, 4)
      .select("doc_id").as[Long].collect().toSet
    assert(ids == Set(3L, 4L, 5L),
      "docs with at least one bigram shingle survive")
  }

  test("hammingPairs on a single row and on identical fingerprints") {
    val single = Seq((1L, 42L)).toDF("doc_id", "simhash_int")
    assert(TextDedup.hammingPairs(single, 8, 2).count() == 0)
    val twins = Seq((1L, 42L), (2L, 42L)).toDF("doc_id", "simhash_int")
    val got = TextDedup.hammingPairs(twins, 8, 2).collect()
    assert(got.length == 1 && got.head.getLong(2) == 0L)
  }

  test("cdcChunks is total on degenerate docs, including NULL text") {
    val withNull = weird.union(
      Seq((6L, null: String)).toDF("doc_id", "text"))
    val ch = TextDedup.cdcChunks(withNull)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      .groupBy(_._1).view
      .mapValues(_.sortBy(_._2).map(_._3).toList).toMap
    assert(ch.keySet == Set(1L, 2L, 3L, 4L, 5L, 6L),
      "every input doc appears in the chunk report")
    // short docs (< window tokens) are one whole-text chunk; NULL
    // normalizes to the empty doc's single empty chunk
    assert(ch(1L) == List("") && ch(6L) == List(""))
    assert(ch(2L) == List("one") && ch(4L) == List("a  b"))
    assert(ch(5L).mkString(" ") == "normal text with several words in it")
  }

  test("classifier logit fold equals the batch face and is null-total") {
    import org.apache.spark.sql.functions.{coalesce, col, lit}
    // per-row fold == the catalog face's two-level aggregation,
    // row for row on the fixture corpus
    val sf = "/root/testdata/sf0.001"
    val batch = SparkEntry.queries("ta_classifier_score")(spark, sf)
      .select("doc_id", "logit")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val folded = graft.sources.Tables(spark, sf, "documents")
      .select(col("doc_id"),
        graft.operators.QualityModel.logitOf(col("text")).as("logit"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(folded == batch, "fold and aggregation disagree")
    // NULL text folds to a NULL logit and empty text to 0 — pinned
    // so the faces' coalesce-to-0 scoring can't drift silently
    val degenerate = Seq((1L, null: String), (2L, "")).toDF("doc_id", "text")
      .select(graft.operators.QualityModel.logitOf(col("text")))
      .collect().map(r => if (r.isNullAt(0)) None else Some(r.getLong(0)))
    assert(degenerate.toSeq == Seq(None, Some(0L)),
      "null/empty text must not fold to a positive logit")
  }

  test("cdcChunks fails fast on invalid window/mask instead of " +
      "dividing by zero mid-job or silently not cutting") {
    intercept[IllegalArgumentException] {
      TextDedup.cdcChunks(weird, window = 4, mask = 0)
    }
    intercept[IllegalArgumentException] {
      TextDedup.cdcChunks(weird, window = 0, mask = 8)
    }
  }

  test("scrubRepeatedSpans is total on NULL text: (0, 0, NULL), " +
      "never a silent NULL-to-empty rewrite") {
    val withNull = weird.union(
      Seq((6L, null: String)).toDF("doc_id", "text"))
    val out = TextDedup.scrubRepeatedSpans(withNull, 2)
      .collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2),
          if (r.isNullAt(3)) null else r.getString(3)))).toMap
    assert(out.keySet == Set(1L, 2L, 3L, 4L, 5L, 6L),
      "every input doc appears in the scrub report")
    assert(out(6L) == ((0L, 0L, null)),
      "NULL text must ride through as (0, 0, NULL)")
    // non-null degenerates keep their counts and text
    assert(out(2L) == ((1L, 0L, "one")))
    assert(out(3L) == ((2L, 0L, "two words")))
  }

  test("bloom gate is total on degenerate docs") {
    import org.apache.spark.sql.functions._
    // empty member set: build over zero rows must still gate soundly
    val empty = weird.filter(lit(false))
      .select(xxhash64(col("text")).as("g"))
    val bits = graft.operators.Bloom.buildLong(empty, "g")
    val gated = weird.select(xxhash64(col("text")).as("g"))
      .filter(graft.operators.Bloom.gateLong(spark, bits, col("g")))
    assert(gated.count() == 0, "empty filter admits nothing")
    // and it must be SMALL: a no-member filter of any capacity admits
    // nothing, so the fallback sizes for 1 item, not expectedItems —
    // the old full-size fallback carried ~0.9 MB of zero bits into
    // every gate broadcast (r20 review)
    assert(bits.length < 1024,
      s"empty-key fallback filter is ${bits.length} bytes — " +
        "should be minimal capacity, not expectedItems-sized")
    // all-NULL key set (e.g. xxhash64 over all-NULL text): the same
    // legal degenerate as zero rows — the aggregate skips NULLs, so
    // the recovery must probe the KEY set's emptiness, not the
    // frame's, or the build crashes where the empty filter is correct
    val nullKeys = Seq((1L, null: String), (2L, null: String))
      .toDF("doc_id", "text")
      .select(xxhash64(col("text")).as("g"))
    val nbits = graft.operators.Bloom.buildLong(nullKeys, "g")
    val ngated = weird.select(xxhash64(col("text")).as("g"))
      .filter(graft.operators.Bloom.gateLong(spark, nbits, col("g")))
    assert(ngated.count() == 0, "all-NULL-key filter admits nothing")
  }

  test("normalization and mix gates are total on degenerate text") {
    import org.apache.spark.sql.functions._
    // ta_normalize's transform chain on empty/whitespace text
    val norm = weird
      .withColumn("norm_text",
        trim(regexp_replace(
          regexp_replace(lower(col("text")), "[^a-z0-9 ]", ""),
          " +", " ")))
      .select("doc_id", "norm_text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(norm(1L) == "" && norm(4L) == "a b",
      "empty stays empty; separator runs collapse")
    // dup-rate window on an all-unique and an all-duplicate corpus
    val dupes = Seq((1L, "x", "s"), (2L, "x", "s"), (3L, "y", "s"))
      .toDF("doc_id", "text", "source")
    val w = org.apache.spark.sql.expressions.Window.partitionBy("h")
    val rate = dupes.withColumn("h", md5(col("text")))
      .withColumn("n_same", count(lit(1)).over(w))
      .groupBy("source")
      .agg(sum(when(col("n_same") > 1, 1L).otherwise(0L)).as("n_dup"))
      .collect().head.getLong(1)
    assert(rate == 2L, "both members of a duplicate pair count")
  }

  test("PII redaction is complete: no residual matches after the pass") {
    import org.apache.spark.sql.functions._
    val sf = "/root/testdata/sf0.001"
    val out = SparkEntry.queries("ta_pii_redact")(spark, sf)
    // the contract is ALL-occurrence replacement in a fixed order —
    // re-running every detector over clean_text must find nothing
    val residual = out.select(
      sum(size(regexp_extract_all(col("clean_text"),
        lit("[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"), lit(0)))).as("e"),
      sum(size(regexp_extract_all(col("clean_text"),
        lit("\\b\\d{1,3}(\\.\\d{1,3}){3}\\b"), lit(0)))).as("i"),
      sum(size(regexp_extract_all(col("clean_text"),
        lit("\\b\\d{3}-\\d{3}-\\d{4}\\b"), lit(0)))).as("p")).head()
    assert((0 to 2).forall(residual.getLong(_) == 0L),
      s"residual PII after redaction: $residual")
    // and the audit counts vary with the fixture's injection schedule
    val counts = out
      .filter(col("doc_id").isin(0L, 1L, 3L, 5L))
      .select("doc_id", "n_emails", "n_ips", "n_phones")
      .collect().map(r => r.getLong(0) ->
        (r.getInt(1), r.getInt(2), r.getInt(3))).toMap
    assert(counts(0L) == ((2, 0, 1)), "doc 0: cc'd email, ip elided")
    assert(counts(1L) == ((1, 1, 1)))
    assert(counts(3L) == ((2, 1, 1)), "doc 3: cc'd email present")
    assert(counts(5L) == ((1, 0, 1)), "doc 5: ip elided")
  }

  test("int8 quantization reconstructs within half a code step") {
    import org.apache.spark.sql.functions._
    val sf = "/root/testdata/sf0.001"
    val out = SparkEntry.queries("ss_quantize_int8")(spark, sf)
      .filter(col("q") =!= "")
      .withColumn("codes", transform(split(col("q"), ","),
        c => c.cast("int")))
    // codes live in [-127, 127]
    val range = out.select(
      min(array_min(col("codes"))).as("lo"),
      max(array_max(col("codes"))).as("hi")).head()
    assert(range.getInt(0) >= -127 && range.getInt(1) <= 127,
      s"codes out of int8 range: $range")
    // dequantized max error ≤ scale/254 (+1 ulp headroom): round-half-up
    // quantization against the original float32 vectors
    val joined = out.join(
      graft.sources.Tables(spark, sf, "embeddings"), "vec_id")
      .withColumn("err", expr(
        """array_max(zip_with(embedding, codes,
             (x, q) -> abs(CAST(x AS DOUBLE) - q * scale / 127.0)))"""))
      .filter(col("err") > col("scale") / lit(254.0) * lit(1.0000001))
    assert(joined.count() == 0, "reconstruction error exceeds half step")
  }

  test("incremental dedup equals batch-minus-corpus set difference") {
    import org.apache.spark.sql.functions._
    val sf = "/root/testdata/sf0.001"
    val docs = graft.sources.Tables(spark, sf, "documents")
    // independent reference: plain anti-join on raw text, no hashing,
    // no bloom — the semantics dd_incremental must reproduce
    val expected = docs.filter(col("doc_id") % 7 === 0)
      .join(docs.filter(col("doc_id") % 7 =!= 0).select("text").distinct(),
        Seq("text"), "left_anti")
      .select("doc_id").as[Long](org.apache.spark.sql.Encoders.scalaLong)
      .collect().toSet
    val got = SparkEntry.queries("dd_incremental")(spark, sf)
      .select("doc_id").as[Long](org.apache.spark.sql.Encoders.scalaLong)
      .collect().toSet
    assert(got == expected, s"mismatch: ${got.diff(expected)} extra, " +
      s"${expected.diff(got)} missing")
  }

  test("temperature sampling keeps every doc of underrepresented languages") {
    import org.apache.spark.sql.functions._
    val sf = "/root/testdata/sf0.001"
    val docs = graft.sources.Tables(spark, sf, "documents")
    val langN = docs.groupBy("lang").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val total = langN.values.sum
    val k = langN.size
    val kept = SparkEntry.queries("ta_temperature_sample")(spark, sf)
      .groupBy("lang").agg(count(lit(1)).as("kept"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    langN.foreach { case (lang, n) =>
      // a language at or below its uniform share (N/k) has rate 1:
      // temperature sampling must not drop a single doc of it
      if (n.toDouble * k <= total)
        assert(kept.getOrElse(lang, 0L) == n,
          s"$lang under uniform share but lost docs: ${kept.get(lang)} of $n")
      else
        assert(kept.getOrElse(lang, 0L) <= n)
    }
  }

  test("mg_summary is total on empty/null input") {
    import org.apache.spark.sql.functions._
    GraftExtensions.ensure(spark)
    // global aggregate over zero rows yields one row with an EMPTY
    // map, never null (nullable=false contract)
    val none = weird.filter(lit(false)).select(col("text").as("token"))
    val m = none.agg(expr("mg_summary(token, 4)").as("mg")).head()
    assert(!m.isNullAt(0) && m.getMap[String, Long](0).isEmpty)
    // all-null column: nulls don't count, summary stays empty
    val nulls = weird.select(lit(null).cast("string").as("token"))
    val mn = nulls.agg(expr("mg_summary(token, 4)").as("mg")).head()
    assert(mn.getMap[String, Long](0).isEmpty)
  }

  test("linear attribution: equal split with remainder-to-last-touch, " +
      "path reset at each purchase, exact revenue conservation") {
    import org.apache.spark.sql.functions._
    val ts = java.sql.Timestamp.valueOf(_: String)
    val dir = tempDir("edge_attr").toString
    Seq(
      // user 1, path 1: ad + email then a 101-cent purchase →
      // 101 div 2 = 50 each, remainder 1 to the LAST touch (email)
      (1L, ts("2024-01-01 10:00:00"), 1L, "ad", 0.0, "{}"),
      (2L, ts("2024-01-01 10:05:00"), 1L, "email", 0.0, "{}"),
      (3L, ts("2024-01-01 10:10:00"), 1L, "purchase", 1.01, "{}"),
      // user 1, path 2: the pre-purchase history must NOT leak in —
      // only the post-purchase ad touch carries this 50-cent sale
      (4L, ts("2024-01-01 11:00:00"), 1L, "ad", 0.0, "{}"),
      (5L, ts("2024-01-01 11:10:00"), 1L, "purchase", 0.50, "{}"),
      // trailing touch converts nothing → credits nothing
      (6L, ts("2024-01-01 12:00:00"), 1L, "email", 0.0, "{}"),
      // user 2: touchless purchase → 'direct' in full
      (7L, ts("2024-01-01 09:00:00"), 2L, "purchase", 2.00, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")

    val got = graft.queries.Events.attributionLinear.fn(spark, dir)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    assert(got == Map(
      "ad" -> ((2L, 100L)),     // 50 from path 1 + 50 from path 2
      "email" -> ((1L, 51L)),   // 50 + the 1-cent remainder
      "direct" -> ((1L, 200L))))

    // exact conservation at fixture scale: the linear split re-credits
    // precisely the cents the last-touch face attributes
    val sf = "/root/testdata/sf0.001"
    def total(df: org.apache.spark.sql.DataFrame, c: String): Long =
      df.agg(sum(col(c))).collect().head.getLong(0)
    assert(
      total(graft.queries.Events.attributionLinear.fn(spark, sf),
        "credited_cents") ==
      total(graft.queries.Events.attribution.fn(spark, sf),
        "revenue_cents"),
      "linear credits must conserve total revenue cents exactly")
  }

  test("sweep/resample/winsorize faces are total on degenerate events") {
    import org.apache.spark.sql.functions._
    val ts = java.sql.Timestamp.valueOf(_: String)
    val dir = tempDir("edge_events").toString
    Seq(
      // user 1: a single event (1-point grid, 1 interval)
      (1L, ts("2024-01-01 10:00:00"), 1L, "solo", 60.0, "{}"),
      // user 2: two events at the SAME instant (tie handling), overlap
      (2L, ts("2024-01-01 10:00:00"), 2L, "pair", 120.0, "{}"),
      (3L, ts("2024-01-01 10:00:00"), 2L, "pair", 120.0, "{}"),
      // user 3: zero-duration and negative-duration intervals
      (4L, ts("2024-01-01 11:00:00"), 3L, "z", 0.0, "{}"),
      (5L, ts("2024-01-01 12:00:00"), 3L, "z", -5.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")

    val peaks = graft.queries.Events.concurrency.fn(spark, dir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(peaks("pair") == 2, "simultaneous intervals both count")
    assert(peaks("solo") == 1)
    assert(peaks("z") == 0, "zero/negative durations never go live")

    val cov = graft.queries.Events.intervalCoverage.fn(spark, dir)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    assert(cov(1L) == ((1L, 60000000L)))
    assert(cov(2L) == ((1L, 120000000L)), "duplicate intervals merge")
    assert(cov(3L)._2 == 0L, "degenerate intervals cover nothing")

    val rs = graft.queries.Events.resample.fn(spark, dir)
      .filter(col("user_id") === 1L).collect()
    assert(rs.length == 1 && rs.head.getLong(2) == 1L &&
      rs.head.getLong(3) == 6000L,
      "single-event user gets a 1-point filled grid")

    val win = graft.queries.Events.winsorize.fn(spark, dir)
      .collect().map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3)))
      .toMap
    assert(win.values.forall { case (c, w) => c == w },
      "tiny groups: bounds collapse to the data, clamp is identity")

    assert(graft.queries.Events.anomaly.fn(spark, dir).count() == 0,
      "zero-variance groups flag nothing (strict inequality)")
  }

  test("NULL text: the grouped simhash reference stays total (matching " +
      "the narrow form) and the Bloom-gated incremental split loses " +
      "no rows") {
    import spark.implicits._
    import graft.operators.TextDedup
    val docs = Seq((1L, "alpha beta gamma"), (2L, null: String),
      (3L, "alpha beta gamma")).toDF("doc_id", "text")
    def rows(d: org.apache.spark.sql.DataFrame) = d
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) None else Some(r.getLong(1)))).toSet
    val narrow = rows(TextDedup.simhashInt(docs, 32))
    val grouped = rows(TextDedup.simhashIntGrouped(docs, 32))
    assert(narrow == grouped,
      s"grouped/narrow diverge on NULL text: $grouped vs $narrow")
    assert(narrow.exists { case (id, fp) => id == 2L && fp.isEmpty },
      "NULL-text doc must survive with a NULL fingerprint")
    // the Bloom might/fresh split must account for every batch row:
    // a NULL gate (NULL text → NULL hash) previously dropped the row
    // from BOTH branches
    val bits = graft.operators.Bloom.buildLong(
      Seq(11L).toDF("fpl"), "fpl")
    import org.apache.spark.sql.functions.{coalesce, col, lit, xxhash64}
    val batch = Seq((10L, "seen"), (20L, null: String))
      .toDF("doc_id", "text")
      .withColumn("might", coalesce(
        graft.operators.Bloom.gateLong(spark, bits, xxhash64(col("text"))),
        lit(false)))
    val kept = batch.filter(!col("might")).select("doc_id")
      .unionByName(batch.filter(col("might")).select("doc_id"))
      .as[Long].collect().toSet
    assert(kept == Set(10L, 20L),
      s"might/fresh split lost rows: $kept")
  }

  test("simhashInt keys its starved-scan repartition on the CALLER's " +
      "id column") {
    import spark.implicits._
    val emb = Seq((1L, "a b c"), (2L, "d e f"))
      .toDF("vec_id", "text").coalesce(1) // the starved single-partition shape
    val out = graft.operators.TextDedup
      .simhashInt(emb, 32, idCol = "vec_id")
    assert(out.columns.toSeq == Seq("vec_id", "simhash_int"))
    assert(out.count() == 2) // previously: AnalysisException on doc_id
  }

  test("latent-input parity: non-integral JSON, '#'-less names, and " +
      "an exactly-gap session survive a fixture regeneration (r20 " +
      "review; DuckDB halves probed: TRY_CAST('1.5')=2, split[2]=NULL, " +
      "and Spark merges the exact-gap session)") {
    // faces run over real parquet, so the latent inputs today's
    // fixtures lack are pinned through a synthetic mini-fixture dir —
    // the same read path (Tables), the same face functions
    import spark.implicits._
    val dir = tempDir("latent_fixture").toString
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    // events: $.k integral / non-integral / scientific / absent, and
    // one user whose two events sit EXACTLY the 2h session gap apart
    Seq(
      (1L, t("2024-01-01 00:00:00"), 7L, "click", 1.0, """{"k": 2}"""),
      (2L, t("2024-01-01 02:00:00"), 7L, "view", 1.0, """{"k": 1.5}"""),
      (3L, t("2024-01-01 05:00:00"), 8L, "view", 1.0, """{"k": "1e2"}"""),
      (4L, t("2024-01-01 06:00:00"), 8L, "view", 1.0, """{"j": 9}"""))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dir/events.parquet")
    Seq((1L, "Ada#Lovelace", 1, 0.0, "BUILDING"),
        (2L, "Plato", 1, 0.0, "MACHINERY")) // no '#'
      .toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal",
        "c_mktsegment")
      .write.parquet(s"$dir/customer.parquet")
    // ev_json_extract: under ANSI a bare cast of '1.5' THROWS and
    // DuckDB's TRY_CAST rounds it to 2 — the gated cast must DROP
    // rows 2-4 without erroring (matching the oracle's regex gate)
    val jv = graft.queries.Events.jsonExtract.fn(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(jv === Seq((1L, 2L)),
      s"non-integral $$.k must drop, integral must survive: $jv")
    // ref_full_names: getItem(1) on a '#'-less name THROWS under
    // ANSI; try_element_at yields NULL = the oracle's split[2]
    val fn = graft.queries.ScalarFns.fullNames.fn(spark, dir)
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(fn(1L) === "Ada Lovelace")
    assert(fn(2L) === "Plato", // last-name part NULL -> skipped
      s"'#'-less name must degrade to first name only: ${fn(2L)}")
    // ev_session_window: Spark MERGES an exactly-2h gap (probed),
    // so user 7's two events are ONE session — the oracle's strict
    // '>' matches; r19's '>=' would have split it
    val sw = graft.queries.Events.sessionWindow.fn(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(3))).toSeq
    assert(sw === Seq((7L, 2L), (8L, 2L)),
      s"exact-gap events must merge into one session: $sw")
  }

  test("latent-input parity: NULL-text and zero-token documents run " +
      "the text faces without ANSI throws and on the NULL≡empty " +
      "convention (r20 dedup/text dialect audit)") {
    // the dd/ta faces' DuckDB twins were audited for exactly these
    // inputs (div-by-zero -> NULL, coalesced token lists, NULLS FIRST
    // sorts); this pins the Spark halves end-to-end over the real
    // Tables read path
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val dir = tempDir("latent_docs").toString
    Seq(
      (1L, "alpha beta gamma delta", "en", "web", 22L),
      (2L, null.asInstanceOf[String], "xx", "web", 0L), // NULL text
      (3L, "", "xx", "books", 0L)) // empty text -> zero tokens
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    import graft.queries.TextAnalysis
    // chunk faces: the NULL-text doc chunks the [''] list — one chunk,
    // never a dropped doc or a NULL n_tokens
    val ch = TextAnalysis.chunk.fn(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(ch.count(_._1 == 2L) === 1 && ch.exists(_ == ((2L, 0L, 1L))),
      s"NULL-text doc must yield exactly one ['']-chunk: $ch")
    val bc = TextAnalysis.bpeChunk.fn(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSeq
    assert(bc.filter(_._1 == 2L) === Seq((2L, 0L)),
      s"NULL-text doc must yield one empty BPE chunk with n_tokens 0: $bc")
    // materialization faces: clean_text '' on both engines, no NULL
    for ((name, df) <- Seq(
        "collapse" -> TextAnalysis.collapseRepeats.fn(spark, dir),
        "stopword" -> TextAnalysis.stopwordStrip.fn(spark, dir))) {
      val row2 = df.filter(col("doc_id") === 2L).collect()(0)
      assert(row2.getString(1) == "",
        s"$name: NULL text must materialize as '' (NULL≡empty)")
    }
    // zero-token languages: ANSI div must yield NULL, not throw
    val um = TextAnalysis.unimaxMix.fn(spark, dir)
      .filter(col("lang") === "xx").collect()
    assert(um.nonEmpty && um.forall(_.isNullAt(6)),
      "unimax epochs_milli must be NULL for a zero-token language")
    val bf = TextAnalysis.bpeFertility.fn(spark, dir)
      .filter(col("lang") === "xx").collect()
    assert(bf.nonEmpty && bf.forall(_.isNullAt(3)),
      "bpe fertility_millis must be NULL for a zero-word language")
    // rank-window faces with a NULL score path stay total
    assert(TextAnalysis.qualityCalibrate.fn(spark, dir).count() === 3)
    assert(TextAnalysis.lengthQuantiles.fn(spark, dir).count() === 2)
  }
}
