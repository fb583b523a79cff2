package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.TextDedup
import graft.sources.Tables

/** The parameterized dedup API beyond the catalog's pinned configs. */
class TextDedupSpec extends AnyFunSuite with SharedSpark {

  private val sf = "/root/testdata/sf0.001"
  private def docs = Tables(spark, sf, "documents")

  /** Collect the LSH candidate pairs (doc_a, doc_b, shared_bands),
    * then release the band table the lazy plan persisted. */
  private def candidateRows(d: org.apache.spark.sql.DataFrame,
                            perms: Int, nBands: Int) = {
    val (cand, bd) = TextDedup.lshCandidatesLazy(d, perms, nBands)
    try cand.collect() finally bd.unpersist(blocking = false)
  }

  test("paragraph dedup: df>=3 scrubbed, df=2 kept, all-scrubbed doc " +
      "survives empty, para order stable") {
    import spark.implicits._
    // 10-word paragraphs by construction: P appears in 4 docs
    // (boilerplate), Q in 2 (pair signal — must be KEPT), the rest
    // unique. doc 40 is ONLY boilerplate and must survive the scrub
    // as an empty string, not vanish from the corpus.
    val p = (1 to 10).map(i => s"p$i").mkString(" ")
    val q = (1 to 10).map(i => s"q$i").mkString(" ")
    def uniq(tag: String) = (1 to 10).map(i => s"$tag$i").mkString(" ")
    val crafted = Seq(
      (10L, s"$p ${uniq("a")}"),
      (20L, s"${uniq("b")} $p ${uniq("c")}"),
      (30L, s"$q $p ${uniq("d")}"),
      (40L, p),
      (50L, s"$q ${uniq("e")}"))
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("para_dedup")
      .toString
    crafted.write.parquet(s"$dir/documents.parquet")
    val got = graft.queries.Dedup.paragraphDedup.fn(spark, dir)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(got(10L) == ((2L, 1L, uniq("a"))))
    assert(got(20L) == ((3L, 1L, s"${uniq("b")} ${uniq("c")}")),
      "kept paragraphs rejoin in para_id order across a scrubbed gap")
    assert(got(30L) == ((3L, 1L, s"$q ${uniq("d")}")),
      "df=2 paragraph is NOT boilerplate")
    assert(got(40L) == ((1L, 1L, "")),
      "an all-boilerplate doc stays in the corpus, scrubbed empty")
    assert(got(50L) == ((2L, 0L, s"$q ${uniq("e")}")))
  }

  test("ngram dup rate: instance semantics (intra-doc repeats count), " +
      "corpus-wide totals, short docs and gram-free sources drop") {
    import spark.implicits._
    // Hand-computed corpus: gram "a b c d e f" occurs 4× (doc 1, doc 2,
    // twice inside doc 3 — the intra-doc repeat MUST count: that's the
    // memorization signal); every other 6-gram is unique; doc 4 is too
    // short to emit any gram, so source s3 must be absent entirely.
    val six = "a b c d e f"
    val crafted = Seq(
      (1L, "s1", s"$six g"),
      (2L, "s1", six),
      (3L, "s2", s"$six x x $six"),
      (4L, "s3", "short text"))
      .toDF("doc_id", "source", "text")
    val dir = java.nio.file.Files.createTempDirectory("ngram_rate")
      .toString
    crafted.write.parquet(s"$dir/documents.parquet")
    val got = graft.queries.Dedup.ngramDupRate.fn(spark, dir).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))))
    assert(got.map(_._1).toSeq == Seq("s1", "s2"),
      "ordered by source; gram-free s3 absent")
    val m = got.toMap
    // s1: doc 1 emits [a..f],[b..g]; doc 2 emits [a..f] → 3 instances,
    // 2 of them the corpus-duplicated gram, 2 distinct grams.
    assert(m("s1") == ((3L, 2L, 2L, 2.0 / 3.0)))
    // s2: doc 3 (14 tokens) emits 9 instances, positions 1 and 9 both
    // [a..f] → 2 dup instances, 8 distinct grams.
    assert(m("s2") == ((9L, 2L, 8L, 2.0 / 9.0)))
  }

  test("repeatedSpans: cross-doc and intra-doc repeats, overlap merge, " +
      "touching ranges merge, short and clean docs drop") {
    import spark.implicits._
    // k=3. "a b c" occurs 3× (doc 1 @1, doc 2 @3 and @9); every other
    // window is unique. doc 3 repeats its own first half: windows @1
    // and @5 ([p q r]), @2 and @6 ([q r s]) — starts {1,2,5,6} chain
    // (5−2 = 3 ≤ k: ranges [2,4] and [5,7] TOUCH) into ONE span
    // covering the whole 8 tokens.
    val crafted = Seq(
      (1L, "a b c d e f"),
      (2L, "x x a b c y y y a b c"),
      (3L, "p q r s p q r s"),
      (4L, "z z"))
      .toDF("doc_id", "text")
    val got = TextDedup.repeatedSpans(crafted, 3).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got == Map(
      1L -> ((1L, 3L)),   // one span: the shared [a b c]
      2L -> ((2L, 6L)),   // starts {3, 9}: gap 6 > k → two 3-token spans
      3L -> ((1L, 8L))),  // merged into one whole-doc span
      s"got $got")
    assert(!got.contains(4L), "short/clean docs yield no span rows")
  }

  test("scrubRepeatedSpans: keeper survives, non-keepers cut, " +
      "self-repeat collapses to one copy, clean docs untouched") {
    import spark.implicits._
    // same k=3 corpus as the repeatedSpans spec. Keeper of the
    // 3x-repeated [a b c] is doc 1 @1 (min (doc, pos)) — doc 1 is
    // untouched; doc 2 loses both its occurrences (positions 3-5 and
    // 9-11); doc 3's second [p q r s] half is the non-keeper of both
    // its repeated windows — spans {5},{6} merge and cover [5,8], so
    // the doc collapses to ONE copy of the repeated run.
    val six = "a b c d e f"
    val crafted = Seq(
      (1L, six),
      (2L, s"x x $six x y"),
      (3L, "p q r s p q r s"),
      (4L, "z z"))
      .toDF("doc_id", "text")
    val got = TextDedup.scrubRepeatedSpans(crafted, 3).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(got(1L) == ((6L, 0L, six)), "keeper doc untouched")
    assert(got(2L) == ((10L, 6L, "x x x y")),
      "all six tokens of the repeated run cut from the non-keeper")
    assert(got(3L) == ((8L, 4L, "p q r s")),
      "self-repeat collapses to a single copy")
    assert(got(4L) == ((2L, 0L, "z z")), "short docs pass through")
  }

  test("lshCandidates works at non-default (numPerms=6, bands=3)") {
    val rows = candidateRows(docs, perms = 6, nBands = 3)
    assert(rows.nonEmpty)
    // shared_bands bounded by the band count; pairs ordered a < b
    rows.foreach { r =>
      assert(r.getLong(2) >= 1 && r.getLong(2) <= 3)
      assert(r.getLong(0) < r.getLong(1))
    }
  }

  test("bands rejects a non-divisible (numPerms, nBands) pair") {
    val sig = TextDedup.signatures(TextDedup.shingles(docs), 8)
    intercept[IllegalArgumentException] {
      TextDedup.bands(sig, numPerms = 8, nBands = 3)
    }
  }

  test("simhash width follows the bits parameter") {
    val fp16 = TextDedup.simhash(docs, bits = 16).head()
    assert(fp16.getString(1).length == 16)
    assert(fp16.getString(1).forall(c => c == '0' || c == '1'))
  }

  test("native minhash_sig is bit-identical to the declarative fold") {
    import spark.implicits._
    val tricky = Seq((1001L, ""), (1002L, " "), (1003L, "a  b "),
      (1004L, "one"), (1005L, "répé até répé até x")).toDF("doc_id", "text")
    for (perms <- Seq(4, 8); df <- Seq(docs, tricky)) {
      val native = TextDedup.signaturesNarrow(df, perms)
      val fold = TextDedup.signaturesNarrowFold(df, perms)
      assert(native.columns.toSeq == fold.columns.toSeq)
      // same surviving docs, same signature values
      assert(native.exceptAll(fold).count() == 0 &&
        fold.exceptAll(native).count() == 0,
        s"native/fold divergence at numPerms=$perms")
    }
  }

  test("native simhash_long is bit-identical to the declarative fold") {
    import spark.implicits._
    // fixture corpus plus the split()-semantics traps: empty text
    // (one empty token), leading/trailing/double spaces (empty tokens
    // kept), single token, multi-byte UTF-8
    val tricky = Seq((1001L, ""), (1002L, " "), (1003L, "a  b "),
      (1004L, "one"), (1005L, "héllo wörld ≠ ascii")).toDF("doc_id", "text")
    for (bits <- Seq(8, 32); df <- Seq(docs, tricky)) {
      val native = TextDedup.withSimhashInt(df, bits)
        .select($"doc_id", $"simhash_int".as("n"))
      val fold = TextDedup.withSimhashIntFold(df, bits)
        .select($"doc_id", $"simhash_int".as("f"))
      assert(native.join(fold, "doc_id").filter("n <> f").count() == 0,
        s"native/fold divergence at bits=$bits")
    }
  }

  test("identical documents are always LSH candidates (any config)") {
    import spark.implicits._
    // 20 docs in 10 identical pairs: doc i and doc i+10 share all
    // shingles → identical signatures → collide in every band
    val texts = (0 until 10).map(i =>
      s"alpha bravo charlie delta echo foxtrot golf hotel india $i")
    val dup = ((0 until 10).map(i => (i.toLong, texts(i))) ++
      (0 until 10).map(i => (i.toLong + 10, texts(i)))).toDF(
      "doc_id", "text")
    Seq((8, 2), (8, 4), (6, 3)).foreach { case (perms, nBands) =>
      val pairs = candidateRows(dup, perms, nBands)
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      (0 until 10).foreach { i =>
        val hit = pairs.find(p => p._1 == i && p._2 == i + 10)
        assert(hit.nonEmpty, s"($perms,$nBands): missing pair $i")
        assert(hit.get._3 == nBands,
          s"identical docs must collide in all $nBands bands")
      }
    }
  }

  test("narrow per-row signatures equal the exploded groupBy form") {
    val perms = 8
    val grouped = TextDedup.signatures(TextDedup.shingles(docs), perms)
    val narrow = TextDedup.signaturesNarrow(docs, perms)
    assert(grouped.columns.toSeq == narrow.columns.toSeq)
    // anti-join both ways: identical (doc, h0..h7) row sets
    assert(grouped.except(narrow).count() == 0)
    assert(narrow.except(grouped).count() == 0)
  }

  test("hammingPairs finds exactly the pairs within the distance budget") {
    import spark.implicits._
    // 4-bit packed fingerprints — pairwise XOR popcounts:
    // 1010⊕1011=1, 1011⊕1101=2, 1011⊕0111=2, 1101⊕0111=2,
    // 1010⊕1101=3, 1010⊕0111=3
    val fp = Seq((1L, 10L), (2L, 11L), (3L, 13L), (4L, 7L))
      .toDF("doc_id", "simhash_int")
    def got(d: Int): Map[(Long, Long), Long] =
      TextDedup.hammingPairs(fp, bits = 4, maxDistance = d)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
        .toMap
    assert(got(0) == Map.empty)
    assert(got(1) == Map((1L, 2L) -> 1L))
    assert(got(2) == Map((1L, 2L) -> 1L, (2L, 3L) -> 2L,
      (2L, 4L) -> 2L, (3L, 4L) -> 2L))
    assert(got(3) == Map((1L, 2L) -> 1L, (2L, 3L) -> 2L,
      (2L, 4L) -> 2L, (3L, 4L) -> 2L, (1L, 3L) -> 3L, (1L, 4L) -> 3L))
  }

  test("leakage-safe split: no LSH candidate pair straddles splits") {
    // the contract the face exists for — a near-dup pair split apart
    // is eval contamination; grouping by connected component must
    // make straddling impossible, and every document must land in
    // exactly one of the three splits
    val split = SparkEntry.queries("dd_leakage_safe_split")(spark, sf)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getString(2)))
      .toMap
    val nDocs = graft.sources.Tables(spark, sf, "documents").count()
    assert(split.size == nDocs, "every document assigned")
    assert(split.values.map(_._2).toSet.subsetOf(
      Set("train", "val", "test")))
    val cand = candidateRows(docs, 8, 2)
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(cand.nonEmpty, "fixture must exercise the property")
    cand.foreach { case (a, b) =>
      assert(split(a)._2 == split(b)._2,
        s"near-dup pair ($a,$b) straddles ${split(a)._2}/${split(b)._2}")
      assert(split(a)._1 == split(b)._1, "pair shares a split group")
    }
  }

  test("more bands at same perms never loses candidate pairs") {
    // banding theory: rows-per-band shrinks → collision probability
    // rises → the candidate set can only grow
    def pairs(nBands: Int) =
      candidateRows(docs, 8, nBands)
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val twoBands = pairs(2)
    val fourBands = pairs(4)
    assert(twoBands.subsetOf(fourBands))
  }

  test("dedup-best elects exactly one richest member per cluster") {
    import org.apache.spark.sql.functions._
    val out = graft.queries.Dedup.dedupBest
      .fn(spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getBoolean(3)))
    val rich = graft.sources.Tables(spark, "/root/testdata/sf0.001",
        "documents")
      .select(col("doc_id"),
        size(array_distinct(split(col("text"), " "))).as("rich"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    out.groupBy(_._2).foreach { case (cluster, rows) =>
      val keepers = rows.filter(_._4)
      assert(keepers.size == 1, s"cluster $cluster: ${keepers.size} keepers")
      val k = keepers.head
      assert(k._1 == k._3, "is_keeper row must be the elected keeper")
      val best = rows.map(r => (rich(r._1), -r._1)).max
      assert((rich(k._1), -k._1) == best,
        s"cluster $cluster keeper ${k._1} is not the richest member")
    }
  }

  test("dup weights: every cluster contributes exactly one document of mass") {
    val w = graft.queries.Dedup.dupWeights
      .fn(spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(w.nonEmpty)
    // weight is exactly 1/csize and each cluster's weights sum to ~1
    w.foreach { case (_, sz, wt) => assert(wt == 1.0 / sz) }
    w.groupBy(_._1).foreach { case (cl, rows) =>
      val mass = rows.map(_._3).sum
      assert(math.abs(mass - 1.0) < 1e-9, s"cluster $cl mass $mass")
      // all members agree on the cluster size, and it matches the
      // member count
      assert(rows.map(_._2).distinct.size == 1 &&
        rows.head._2 == rows.size, s"cluster $cl size mismatch")
    }
  }

  test("fuzzy verify: distances match a textbook DP and pairs are a " +
      "subset of the LSH candidates") {
    import org.apache.spark.sql.functions.{col, substring}
    // independent reimplementation — full O(n·m) Wagner–Fischer, no
    // banding, no threshold shortcut
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1)(i => i)
      for (j <- 1 to b.length) {
        var prev = d(0); d(0) = j
        for (i <- 1 to a.length) {
          val t = d(i)
          d(i) = math.min(math.min(d(i) + 1, d(i - 1) + 1),
            prev + (if (a(i - 1) == b(j - 1)) 0 else 1))
          prev = t
        }
      }
      d(a.length)
    }
    val prefix = docs.select(col("doc_id"),
      substring(col("text"), 1, 120).as("p")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val cand = TextDedup.candidates(TextDedup.bands(
        TextDedup.signaturesNarrow(docs, 8), 8, 2))
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = graft.queries.Dedup.fuzzyVerify.fn(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    assert(got.nonEmpty, "sf0.001 has near-dup candidates")
    assert(got.keySet.subsetOf(cand), "pairs must come from LSH candidates")
    got.foreach { case ((a, b), dist) =>
      assert(dist >= 0 && dist <= 20, s"($a,$b) dist $dist out of band")
      assert(dist == lev(prefix(a), prefix(b)),
        s"($a,$b): engine $dist != DP ${lev(prefix(a), prefix(b))}")
    }
    // and the threshold is REAL: every candidate pair above the cap is absent
    val above = cand.filter { case (a, b) =>
      lev(prefix(a), prefix(b)) > 20 }
    assert(above.forall(p => !got.contains(p)))
  }

  test("bucket stats bound the LSH join: actual pairs <= predicted volume") {
    // dd_lsh_bucket_stats claims its pred_pairs (computed from bucket
    // sizes ALONE, before any join) upper-bounds what dd_minhash_lsh
    // actually emits — shared-band pairs dedupe, so the join can only
    // come in at or under the per-band sum
    val pred = SparkEntry.queries("dd_lsh_bucket_stats")(spark, sf)
      .select("pred_pairs").collect().map(_.getLong(0)).sum
    val actual = SparkEntry.queries("dd_minhash_lsh")(spark, sf).count()
    assert(actual <= pred,
      s"LSH emitted $actual pairs above the predicted $pred")
    assert(actual > 0 && pred > 0, "fixture must exercise the bound")
  }

  test("ngramNovelty: exact copies score 0, all-fresh docs score 1000, " +
      "sub-gram docs produce no row") {
    // the production kernel on a corpus with planted exact copies
    // (the fixture has none): an exact copy shares every 6-gram with
    // its keeper and the keeper has the smaller id, so no gram's
    // first occurrence is the copy
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d e f g h"),            // keeper
      (2L, "a b c d e f g h"),            // exact copy → 0
      (3L, "p q r s t u v w x"),          // all-fresh → 1000
      (4L, "a b c d e f g h extra tail"), // shares a prefix run → mixed
      (5L, "short doc"),                  // < 6 tokens → no row
      (9L, "a b c d e f g h")             // second copy → 0
    ).toDF("doc_id", "text")
    val got = TextDedup.ngramNovelty(docs, 6)
      .select("doc_id", "novelty_millis").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.keySet == Set(1L, 2L, 3L, 4L, 9L), "doc 5 has no gram")
    assert(got(1L) == 1000L && got(3L) == 1000L)
    assert(got(2L) == 0L && got(9L) == 0L,
      "exact copies of an earlier doc must score zero")
    assert(got(4L) > 0L && got(4L) < 1000L,
      "partial-overlap doc must score strictly between")
  }
}
