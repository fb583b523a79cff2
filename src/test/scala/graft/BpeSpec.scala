package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.functions.BpeOps

/** [[graft.functions.BpeCount]] — the native BPE apply walk vs an
  * independent reference implementation and its pinned edge cases. */
class BpeSpec extends AnyFunSuite with SharedSpark {

  /** Reference BPE apply: the GPT-2 encoder's shape — repeatedly find
    * the LOWEST-RANK adjacent pair present, merge all its occurrences
    * leftmost-first, until no ranked pair remains. Deliberately a
    * different control flow from BpeOps.wordTokens (rank-ordered
    * sweep): agreement is the equivalence argument, executed. */
  private def referenceTokens(word: String): Seq[String] = {
    var toks: Vector[String] = word.map(_.toString).toVector
    val rank = BpeOps.merges
    var done = false
    while (!done && toks.length > 1) {
      val present = toks.zip(toks.tail).flatMap(p => rank.get(p).map(p -> _))
      if (present.isEmpty) done = true
      else {
        val (x, y) = present.minBy(_._2)._1
        val out = Vector.newBuilder[String]
        var i = 0
        while (i < toks.length) {
          if (i + 1 < toks.length && toks(i) == x && toks(i + 1) == y) {
            out += x + y; i += 2
          } else { out += toks(i); i += 1 }
        }
        toks = out.result()
      }
    }
    toks
  }

  test("vocabulary file loads rank-ordered and non-empty") {
    assert(BpeOps.orderedMerges.nonEmpty)
    assert(BpeOps.orderedMerges.size == BpeOps.merges.size)
    // first learned merge has rank 0
    assert(BpeOps.merges(BpeOps.orderedMerges.head) == 0)
  }

  test("rank-ordered sweep equals the min-rank-first reference on the corpus vocabulary") {
    // every distinct word in the fixture corpus, plus adversarial
    // shapes: repeats, prefixes of merged tokens, unknown chars
    val corpus = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .selectExpr("explode(split(text, ' ')) AS w")
      .where("w <> ''").distinct()
      .collect().map(_.getString(0)).toSeq
    val adversarial = Seq("erer", "ererer", "rowrow", "xxjoinxx",
      "q", "zz", "join", "customer", "stst", "inin")
    (corpus ++ adversarial).foreach { w =>
      assert(BpeOps.wordTokens(w).toSeq == referenceTokens(w),
        s"kernel divergence on '$w'")
      // the rank-order sweep is the mechanical mirror of the oracle's
      // unrolled replace expansion — its agreement with the min-rank
      // walk IS the kernel/oracle equivalence argument, executed
      assert(BpeOps.wordTokensBySweep(w).toSeq == referenceTokens(w),
        s"sweep (oracle-shape) divergence on '$w'")
    }
  }

  test("bpe_count sums per-word counts with single-space split semantics") {
    graft.GraftExtensions.ensure(spark)
    import spark.implicits._
    val rows = Seq(
      "",                      // no words -> 0
      "join",                  // fully merged -> 1
      "join join",             // 2
      " join  join ",          // empty segments skipped -> 2
      "q zz").toDF("text")     // unknown chars stay chars: 1 + 2
      .selectExpr("bpe_count(text) AS n").as[Long].collect().toSeq
    val expected = Seq(0L,
      BpeOps.wordTokens("join").length.toLong,
      2L * BpeOps.wordTokens("join").length,
      2L * BpeOps.wordTokens("join").length,
      (BpeOps.wordTokens("q").length + BpeOps.wordTokens("zz").length).toLong)
    assert(rows == expected)
  }

  test("bpe_tokens is the ordered token sequence and sizes to bpe_count") {
    graft.GraftExtensions.ensure(spark)
    import spark.implicits._
    val df = Seq("join scan", "customer", "", "q zz q").toDF("text")
    val rows = df.selectExpr("bpe_tokens(text) AS t", "bpe_count(text) AS n")
      .as[(Seq[String], Long)].collect().toSeq
    rows.foreach { case (t, n) => assert(t.size.toLong == n) }
    assert(rows.head._1 ==
      (BpeOps.wordTokens("join") ++ BpeOps.wordTokens("scan")).toSeq,
      "document order must be word order")
  }

  test("non-BMP characters split as code points, never lone surrogates") {
    // U+1D11E (musical G clef) is one character in any SQL engine's
    // length(); a UTF-16-unit split would shear it into two surrogate
    // tokens that UTF8String encoding corrupts to '?'
    val word = "a" + new String(Character.toChars(0x1D11E)) + "b"
    val toks = BpeOps.wordTokens(word)
    assert(toks.mkString == word, "tokens must reassemble the word")
    assert(!toks.exists(t =>
        t.length == 1 && Character.isSurrogate(t.charAt(0))),
      s"lone surrogate token in ${toks.toSeq}")
    // no merges exist for these chars, so the split IS the output:
    // 3 code points, the non-BMP one intact as a 2-unit string
    assert(toks.length == 3 && toks(1).length == 2 &&
      toks(1).codePointCount(0, 2) == 1,
      s"expected code-point split, got ${toks.toSeq}")
  }

  test("null text yields null, not a crash") {
    graft.GraftExtensions.ensure(spark)
    val out = spark.sql("SELECT bpe_count(CAST(NULL AS STRING)) AS n")
      .collect().head
    assert(out.isNullAt(0))
  }

  test("ta_bpe_train reproduces the shipped vocabulary's first " +
    "merges — the train->ship->apply loop closes") {
    val learned = SparkEntry.queries("ta_bpe_train")(
        spark, "/root/testdata/sf0.01")
      .collect().map(r => (r.getString(1), r.getString(2))).toSeq
    assert(learned.nonEmpty)
    assert(learned == graft.functions.BpeOps.orderedMerges
        .take(learned.length),
      "the engine's trainer and graft/bpe_merges.txt disagree on " +
        "the fixture's top merges")
  }
}
