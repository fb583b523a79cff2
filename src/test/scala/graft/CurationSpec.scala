package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{GopherRules, HtmlText, Partitioning, UrlCanon}

/** r12 curation kernels: Gopher rule arithmetic vs a brute Scala
  * reference, HtmlText totality on malformed input, domainSuffixes
  * suffix-rule semantics, and the packSequences ↔ prefixSumTwoPhase
  * scale-path equality the `ta_pack_sequences` scaladoc promises. */
class CurationSpec extends AnyFunSuite with SharedSpark {

  import spark.implicits._

  // ---- GopherRules ------------------------------------------------

  /** Brute reference of the exact rule stated on GopherRules.metrics. */
  private def bruteGopher(text: String): (Long, Long, Map[Int, Long], Map[Int, Long]) = {
    val t = text.split(" ", -1).toSeq
    val nc = text.replace(" ", "").length.toLong
    val nw = t.count(_.nonEmpty).toLong
    val top = (2 to 4).map { n =>
      val grams = t.sliding(n).filter(_.size == n)
        .map(_.mkString(" ")).toSeq
      val pm =
        if (grams.isEmpty) 0L
        else {
          val byG = grams.groupBy(identity).view
            .mapValues(_.size.toLong).toMap
          val (cnt, cl) = byG.toSeq.map { case (g, c) =>
            (c, math.min((g.length - (n - 1)).toLong, 99999L)) }
            .maxBy { case (c, l) => c * 100000L + l }
          cnt * cl * 1000L / math.max(nc, 1L)
        }
      n -> pm
    }.toMap
    val dup = (5 to 10).map { n =>
      val grams = t.sliding(n).filter(_.size == n)
        .map(_.mkString(" ")).toSeq
      val mass = grams.groupBy(identity).collect {
        case (g, occ) if occ.size > 1 =>
          (occ.size - 1).toLong * (g.length - (n - 1))
      }.sum
      n -> mass * 1000L / math.max(nc, 1L)
    }.toMap
    (nw, nc * 1000L / math.max(nw, 1L), top, dup)
  }

  test("gopher metrics match the brute reference, ties to longer gram") {
    val docs = Seq(
      // 60 tokens of pure repetition: every rule fires
      (0L, Seq.fill(30)("spam ham").mkString(" ")),
      // count tie between 2-grams ("aa bb" and "cc dddd" twice each):
      // witness must be the LONGER gram
      (1L, "aa bb x aa bb y cc dddd z cc dddd w " +
        "p1 p2 p3 p4 p5 p6 p7 p8 p9 p10 p11 p12"),
      // shorter than n for high orders: 3 tokens → no 5..10-grams
      (2L, "one two three"),
      // empty text: nc=0, nw=0 — totality, no divide-by-zero
      (3L, ""),
      // multibyte: charlen counts CODEPOINTS in every engine/kernel
      (5L, "漢字δ ab 漢字δ ab ĉé 漢字δ ab x"),
      // WHALE gram: the 2-gram "W W" (120k chars, count 2) must NOT
      // beat "p q" (count 3) — unclamped packing would let charlen
      // bleed into the count units and flip the winner
      (6L, { val w = "a" * 60000
             s"$w $w z $w $w p q r p q s p q" }),
      // clean 55-token doc, no repeats, ~5.5-char words: keep = 1
      (4L, (1 to 55).map(i => s"word$i").mkString(" ")))
      .toDF("doc_id", "text")
    val out = GopherRules.metrics(docs).orderBy("doc_id").collect()
      .map(r => r.getLong(0) -> r).toMap
    for (d <- docs.collect().map(r => (r.getLong(0), r.getString(1)))) {
      val (id, text) = d
      val (nw, mw, top, dup) = bruteGopher(text)
      val r = out(id)
      assert(r.getAs[Long]("n_words") == nw, s"doc $id n_words")
      assert(r.getAs[Long]("mean_wlen_milli") == mw, s"doc $id mwl")
      for (n <- 2 to 4)
        assert(r.getAs[Long](s"top${n}_pm") == top(n), s"doc $id top$n")
      for (n <- 5 to 10)
        assert(r.getAs[Long](s"dup${n}_pm") == dup(n), s"doc $id dup$n")
    }
    // the all-repetition doc fails the gate; the clean 55-token doc passes
    assert(out(0L).getAs[Long]("keep") == 0L)
    assert(out(4L).getAs[Long]("keep") == 1L)
    // short docs fail on word count alone
    assert(out(2L).getAs[Long]("keep") == 0L)
  }

  test("metricsNative equals the grouped metrics on crafted and random docs") {
    val rnd = new scala.util.Random(42)
    val vocab = Vector("alpha", "bb", "gamma7", "x", "delta", "ee")
    val random = (100L until 400L).map { id =>
      // repetition-heavy streams: small vocab + occasional copied runs
      val len = 1 + rnd.nextInt(120)
      val toks = scala.collection.mutable.ArrayBuffer[String]()
      while (toks.size < len) {
        if (rnd.nextInt(4) == 0 && toks.nonEmpty) {
          val s = rnd.nextInt(toks.size)
          toks ++= toks.slice(s, math.min(toks.size, s + 1 + rnd.nextInt(12)))
        } else toks += vocab(rnd.nextInt(vocab.size))
      }
      (id, toks.take(len).mkString(" "))
    }
    val crafted = Seq(
      (0L, Seq.fill(30)("spam ham").mkString(" ")),
      (1L, "aa bb x aa bb y cc dddd z cc dddd w"),
      (2L, "one two three"),
      (3L, ""),
      // supplementary-plane chars (surrogate pairs in UTF-16): both
      // kernels must count CODEPOINTS, not code units
      (4L, "😀😀a b 😀😀a b 漢x 漢x 漢x c d e"),
      // NULL text ≡ empty text in both kernels (all-zero row, keep 0)
      (6L, null.asInstanceOf[String]),
      // whale gram (120k chars): both kernels clamp the packed
      // witness charlen at 99 999 identically
      (7L, { val w = "b" * 60000
             s"$w $w z $w $w p q r p q s p q" }))
    val docs = (crafted ++ random).toDF("doc_id", "text")
    val grouped = GopherRules.metrics(docs).orderBy("doc_id").collect().toSeq
    val native = GopherRules.metricsNative(docs).orderBy("doc_id").collect().toSeq
    assert(native.map(_.toSeq) == grouped.map(_.toSeq),
      "native gopher_stats kernel diverges from the grouped reference")
  }

  test("min_window_md5 equals the built-in composition incl. multibyte") {
    graft.GraftExtensions.ensure(spark)
    val rnd = new scala.util.Random(7)
    val pool = "abĉ δé 漢字x ".toCharArray
    val texts = Seq("", "a", "1234567", "12345678", "123456789") ++
      (0 until 200).map(_ =>
        (0 until rnd.nextInt(60)).map(_ => pool(rnd.nextInt(pool.length)))
          .mkString)
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "text")
    val out = df.select(col("id"),
        expr("min_window_md5(text, 8)").as("native"),
        expr("array_min(transform(sequence(1, greatest(length(text)-7, 1))," +
          " i -> md5(substring(text, i, 8))))").as("builtin"))
      .collect()
    out.foreach(r => assert(r.getString(1) == r.getString(2),
      s"mismatch for id ${r.getLong(0)}"))
  }

  test("kgram_xxhash64 equals the built-in slice/concat_ws/xxhash64 " +
      "composition incl. multibyte, empty tokens, short docs") {
    graft.GraftExtensions.ensure(spark)
    val rnd = new scala.util.Random(11)
    val words = Seq("a", "bb", "", "δé", "漢字", "x-y", "zzz")
    val crafted = Seq(
      "",                       // one empty token, k=1 window only
      "a",                      // single token
      "a b c",                  // exactly k tokens at k=3
      "a  b",                   // consecutive spaces → empty token
      " a b ",                  // leading/trailing empties
      "漢字 δé 漢字 δé 漢字")  // multibyte boundaries
    val random = (0 until 200).map(_ =>
      (0 until rnd.nextInt(12)).map(_ =>
        words(rnd.nextInt(words.length))).mkString(" "))
    val df = (crafted ++ random).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    for (k <- Seq(1, 3, 20)) {
      val out = df.select(col("id"),
          expr(s"kgram_xxhash64(text, $k)").as("native"),
          expr(s"""if(size(split(text, ' ')) >= $k,
              transform(sequence(1, size(split(text, ' ')) - $k + 1),
                i -> xxhash64(concat_ws(' ',
                       slice(split(text, ' '), i, $k)))),
              cast(array() as array<bigint>))""").as("builtin"))
        .collect()
      out.foreach(r => assert(r.getSeq[Long](1) == r.getSeq[Long](2),
        s"mismatch for id ${r.getLong(0)} at k=$k"))
    }
    // NULL text → NULL (the hashedGramInstances totality contract)
    val n = Seq((0L, null.asInstanceOf[String])).toDF("id", "text")
      .selectExpr("kgram_xxhash64(text, 3)").collect()(0)
    assert(n.isNullAt(0))
    // bad literals fail the QUERY at analysis, never a task
    for (bad <- Seq("kgram_xxhash64(text, 0)", "kgram_xxhash64(text, -2)",
        "kgram_xxhash64(id, 3)")) {
      intercept[org.apache.spark.sql.AnalysisException] {
        Seq((1L, "a b")).toDF("id", "text").selectExpr(bad).collect()
      }
    }
  }

  // ---- HtmlText ---------------------------------------------------

  test("html extraction is total on malformed input and decodes after stripping") {
    val rows = Seq(
      // well-formed: script/style vanish, entities decode
      (0L, "<html><head><title>T</title><style a=b>x{}</style></head>" +
        "<body><script>var a;</script><p>A &amp;lt; B &quot;q&quot;</p></body></html>"),
      // adjacent script blocks: non-greedy — the text between survives
      (1L, "<script>a</script>KEEP<script>b</script>"),
      // unclosed tag swallows to end; bare < with no > survives as text
      (2L, "x <b unclosed y"),
      // empty + entity-only
      (3L, ""),
      (4L, "&amp;&lt;&gt;"),
      (5L, null.asInstanceOf[String]),
      // MULTI-LINE script/style blocks (the real-world shape): DOTALL
      // must drop the whole block, newlines and all
      (6L, "<script>\nvar x = 1;\nif (x < 2) { x++; }\n</script>A" +
        "<style>\nbody { margin: 0; }\n</style>B"),
      // mismatched pair <script>…</style> is NOT a closed script
      // block: the block regex finds no match (unclosed script), so
      // the tag pass strips the two tags and the inner text survives
      (7L, "<script>x</style> KEEP"),
      // UPPERCASE/mixed-case tags (standard in real HTML): the block
      // pass is case-blind, so the JS body must vanish wholesale —
      // the pre-(?i) behavior stripped only the tags and leaked
      // 'var x=tracker();' into clean_text as prose
      (8L, "<SCRIPT>var x=tracker();</SCRIPT><p>hello</p>" +
        "<Style>b{}</Style>W"),
      // whitespace BETWEEN block elements (source-HTML line breaks):
      // tabs/newlines/CRs collapse into the single-space runs the
      // space-splitting Gopher gate expects — no phantom 1-char
      // newline words, no welded cross-line tokens
      (9L, "<p>alpha</p>\n<p>beta</p>\r\n\tgamma\ndelta"))
      .toDF("id", "h")
    val out = rows.select(col("id"),
        HtmlText.cleanText(col("h")).as("c"),
        HtmlText.title(col("h")).as("t"))
      .orderBy("id").as[(Long, String, String)].collect()
    // the <title>'s text survives tag-stripping (only script/style
    // subtrees are dropped wholesale), then entities decode:
    // "&amp;lt;" → literal "&lt;" (amp decodes LAST, manufacturing
    // no new entity to strip)
    assert(out(0) == ((0L, "T A &lt; B \"q\"", "T")))
    assert(out(1)._2 == "KEEP")
    // "<b unclosed y" has no closing > — the tag regex finds no match,
    // so the bare remainder survives verbatim
    assert(out(2)._2 == "x <b unclosed y")
    assert(out(3)._2 == "")
    assert(out(4)._2 == "&<>")
    // NULL propagates as NULL (never an exception)
    assert(out(5)._2 == null && out(5)._3 == null)
    // multi-line blocks vanish wholesale — no inner js/css leaks
    assert(out(6)._2 == "A B")
    // mismatched pair degrades to tag-stripping, never block-drop
    assert(out(7)._2 == "x KEEP")
    // uppercase blocks vanish wholesale, case-blind
    assert(out(8)._2 == "hello W")
    // all whitespace flavors collapse to single spaces
    assert(out(9)._2 == "alpha beta gamma delta")
  }

  test("href extraction returns targets in document order") {
    val out = Seq("a <a href=\"u1\">x</a> b <a href=\"u2\">y</a>")
      .toDF("h").select(HtmlText.hrefs(col("h")))
      .as[Seq[String]].head()
    assert(out == Seq("u1", "u2"))
  }

  // ---- domainSuffixes --------------------------------------------

  test("domainSuffixes lists dot-suffixes; matching is never substring") {
    val sufs = Seq("a.b.example.net").toDF("d")
      .select(UrlCanon.domainSuffixes(col("d"))).as[Seq[String]].head()
    assert(sufs == Seq("a.b.example.net", "b.example.net",
      "example.net", "net"))
    // the face's semi-join rule: notexample.net must NOT be caught
    val domains = Seq("notexample.net", "sub.example.net",
      "example.net").toDF("domain")
    val blocked = domains
      .select(col("domain"),
        explode(UrlCanon.domainSuffixes(col("domain"))).as("suf"))
      .join(Seq("example.net").toDF("suf"), Seq("suf"), "left_semi")
      .select("domain").distinct().as[String].collect().toSet
    assert(blocked == Set("sub.example.net", "example.net"))
  }

  // ---- packSequences scale path ----------------------------------

  test("pack-sequences window equals prefixSumTwoPhase bit-for-bit") {
    val df = (0L until 400L).map { i =>
      (s"src${i % 3}", i, 1L + (i * 7) % 90)
    }.toDF("source", "doc_id", "n_bpe")
    val w = Window.partitionBy("source").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, 0)
    def derive(c: org.apache.spark.sql.DataFrame) = c
      .select(col("source"), col("doc_id"), col("n_bpe"),
        expr("(cum - n_bpe) div 256").as("seq_first"),
        expr("(cum - 1) div 256").as("seq_last"),
        expr("(cum - n_bpe) % 256").as("seq_offset"))
      .orderBy("source", "doc_id")
    val plain = derive(df.withColumn("cum", sum("n_bpe").over(w)))
    val twoPhase = derive(Partitioning.prefixSumTwoPhase(
      df, "source", "doc_id", "doc_id", "n_bpe", bucketSize = 64L))
    assert(plain.collect().toSeq == twoPhase.collect().toSeq)
  }
}
