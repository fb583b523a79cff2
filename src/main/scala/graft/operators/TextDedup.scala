package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Parameterized text near-dup primitives — MinHash+LSH and SimHash —
  * the library-facing API behind the fixed `dd_*` catalog queries
  * (which pin numPerms=8, bands=2, simBits=32 for their oracles).
  *
  * Scale contract: every step is linear in the corpus except
  * within-bucket candidate generation, which costs Σ bucket² — tune
  * (numPerms, bands) so expected bucket sizes stay small. All hashes
  * are md5-based so any SQL engine (the DuckDB oracle, a warehouse
  * spot-check) can replay them bit-for-bit.
  */
object TextDedup {

  /** The word-bigram shingle array over a pre-split `__toks` column —
    * ONE spelling shared by [[shingles]] and [[signaturesNarrowFold]]
    * (the hashedGramInstances lesson, r11: verbatim twin SQL strings
    * drift apart under maintenance, and these two feed the
    * differential contracts between the native MinhashSig kernel and
    * its declarative reference). */
  private val BigramShingleSql =
    "transform(slice(__toks, 1, size(__toks)-1)," +
      " (x, i) -> concat(x, ' ', element_at(__toks, i+2)))"

  /** Distinct word-bigram shingles per doc: (docId, shingle). */
  def shingles(docs: DataFrame, idCol: String = "doc_id",
               textCol: String = "text"): DataFrame =
    docs
      .withColumn("__toks", split(col(textCol), " "))
      .select(col(idCol), explode(array_distinct(expr(BigramShingleSql)))
        .as("shingle"))

  /** 128-bit gram identity: xxhash64 of the gram plus a
    * prefix-salted second hash, heuristically independent, as two
    * FLAT LONG columns (g1, g2) — fixed-width 16-byte keys
    * that join and group like any pair of columns. Flat longs, NOT a
    * struct: struct grouping/join keys fall off the codegen'd
    * primitive-key fast paths (measured r21: a struct-keyed
    * dd_lsh_bucket_stats hash aggregate read 2× its flat-key time).
    * The CERTIFICATION-grade replacement for a bare `xxhash64(gram)`
    * wherever the face's output IS a pair/recall claim (r20 verdict
    * #2): with d distinct grams the expected number of colliding
    * pairs is d²/2^65 for one 64-bit hash — ~270 expected collisions
    * at the 100 TB corpus scale of d ≈ 10¹¹ grams, each one silently
    * inflating an intersection count or merging two LSH buckets —
    * versus d²/2^129 ≈ 1.5·10⁻¹⁷ for the pair (both halves must
    * collide simultaneously). Both halves use Spark's one fixed-seed
    * xxhash64; the "g2|" salt only makes the second half behave like
    * an independent draw, so the bound is heuristic, not proven.
    * Non-certification faces (novelty/chunk-dup reports) keep the
    * single hash: a collision there perturbs one count cell, not a
    * certified pair set, and the 8-byte key halves their hottest
    * exchange. */
  def gramKey128(gram: Column): Seq[Column] =
    Seq(xxhash64(gram).as("g1"),
      xxhash64(concat(lit("g2|"), gram)).as("g2"))

  /** [[shingles]] with the shingle text collapsed to the 128-bit
    * [[gramKey128]] pair: (docId, g1, g2). The narrow relation the
    * overlap-verify faces persist ONCE and feed to [[pairOverlap]] —
    * the cache then holds 16-byte fixed keys instead of shingle
    * strings, and the hashes are computed once per row at cache fill
    * instead of once per cache read per join side (r20 verdict #2:
    * `sh` is read three times per face — sizes + both intersection
    * probes). */
  def hashedShingles(docs: DataFrame, idCol: String = "doc_id",
                     textCol: String = "text"): DataFrame =
    shingles(docs, idCol, textCol)
      .select(col(idCol) +: gramKey128(col("shingle")): _*)

  /** numPerms-permutation MinHash signature per doc (md5-keyed
    * min-hashing: permutation i orders shingles by md5(i || '|' ||
    * shingle), so min = first under that permutation). Output columns
    * h0..h{numPerms-1}. Operates on an EXPLODED (docId, shingle)
    * table — use when the shingle rows exist anyway (the exact-Jaccard
    * verifier reuses one shingle lineage for sizes, candidates, and
    * intersections); when they don't, [[signaturesNarrow]] computes
    * the identical signature with zero shuffle. */
  def signatures(sh: DataFrame, numPerms: Int,
                 idCol: String = "doc_id"): DataFrame = {
    require(numPerms > 0)
    val hs = (0 until numPerms).map(i =>
      min(md5(concat(lit(s"$i|"), col("shingle")))).as(s"h$i"))
    sh.groupBy(idCol).agg(hs.head, hs.tail: _*)
  }

  /** Per-ROW MinHash signature straight from the documents — identical
    * output to `signatures(shingles(docs))` but with ZERO shuffle,
    * computed by the NATIVE codegen'd kernel (functions.MinhashSig:
    * one fused loop — every bigram shingle is a contiguous byte slice
    * of the text, so no shingle strings or hex digests are ever
    * allocated except the numPerms winners). At corpus scale this
    * removes the (docs × shingles)-row exchange entirely —
    * fingerprinting becomes a narrow map and the only shuffle left in
    * LSH is the band-bucket join itself. Docs with no shingle (< 2
    * words) are dropped, matching the exploded form's semantics.
    * [[signaturesNarrowFold]] keeps the built-ins-only plan as the
    * differential reference. */
  def signaturesNarrow(docs: DataFrame, numPerms: Int,
                       idCol: String = "doc_id",
                       textCol: String = "text"): DataFrame = {
    require(numPerms > 0)
    graft.GraftExtensions.ensure(docs.sparkSession)
    val sig = (0 until numPerms).map(i =>
      expr(s"element_at(__sig, ${i + 1})").as(s"h$i"))
    Partitioning.ensureParallelism(docs, idCol)
      .withColumn("__sig", expr(s"minhash_sig($textCol, $numPerms)"))
      .filter(size(col("__sig")) > 0)
      .select(col(idCol) +: sig: _*)
  }

  /** The declarative fold form of [[signaturesNarrow]] — same output,
    * built-in functions only: shingle array column + an
    * `array_min(transform(...))` fold per permutation. Interpreted
    * lambda evaluation makes it the slow path; kept as the
    * engine-independent differential reference. */
  def signaturesNarrowFold(docs: DataFrame, numPerms: Int,
                           idCol: String = "doc_id",
                           textCol: String = "text"): DataFrame = {
    require(numPerms > 0)
    val sig = (0 until numPerms).map(i =>
      expr(s"array_min(transform(__sh, s -> md5(concat('$i|', s))))")
        .as(s"h$i"))
    Partitioning.ensureParallelism(docs, idCol)
      .withColumn("__toks", split(col(textCol), " "))
      .withColumn("__sh", array_distinct(expr(BigramShingleSql)))
      .filter(size(col("__sh")) > 0)
      .select(col(idCol) +: sig: _*)
  }

  /** LSH banding: `bands` buckets of numPerms/bands rows each →
    * (docId, band, bucket). One explode pass — the signature is never
    * recomputed per band. */
  def bands(sig: DataFrame, numPerms: Int, nBands: Int,
            idCol: String = "doc_id"): DataFrame = {
    require(nBands > 0 && numPerms % nBands == 0,
      s"numPerms=$numPerms must divide into nBands=$nBands")
    val rows = numPerms / nBands
    // bucket identity is a 128-bit xxhash64 PAIR, the second
    // prefix-salted (bkt1, bkt2 — flat longs, the [[gramKey128]]
    // stance and its heuristic independence) over the band's
    // concatenated signature hex, NOT an md5 hex string (r20 moved to
    // one xxhash64 long; r21 verdict #3 widened it back to 128 bits
    // because LSH banding feeds CERTIFICATION faces —
    // dd_minhash_lsh's output IS the pair set and dd_lsh_recall*
    // certify banding recall, so a bucket-merging collision perturbs
    // exactly the claim being certified; see [[gramKey128]] for the
    // birthday math: ~d²/2^65 expected collisions at 10¹¹ keys for
    // one hash vs ~10⁻¹⁷ for the pair). No consumer ever reads a
    // bucket value — every face groups or self-joins on equality — so
    // the fixed 16 bytes still beat the 32-byte md5 hex string
    // through the candidate join and skip the digest+hex allocation
    // per (doc, band); the oracles replay banding on the md5 strings,
    // so any residual collision would surface as a row mismatch.
    val bandStructs = (0 until nBands).map { b =>
      val sigc = concat((b * rows until (b + 1) * rows)
        .map(i => col(s"h$i")): _*)
      struct(lit(b).as("band"),
        xxhash64(sigc).as("bkt1"),
        xxhash64(concat(lit("b2|"), sigc)).as("bkt2"))
    }
    sig
      .select(col(idCol),
        explode(array(bandStructs.toIndexedSeq: _*)).as("bb"))
      .select(col(idCol), col("bb.band").as("band"),
        col("bb.bkt1").as("bkt1"), col("bb.bkt2").as("bkt2"))
  }

  /** Candidate pairs from band-bucket collisions (a < b), with the
    * number of colliding bands. `bandDf` feeds BOTH sides of the
    * self-join — pass it persisted or checkpointed (as
    * [[lshCandidatesLazy]] does) or its whole upstream lineage is
    * computed once per side. No caching happens here, so callers own
    * the blocks' lifetime. */
  def candidates(bandDf: DataFrame,
                 idCol: String = "doc_id"): DataFrame = {
    val l = bandDf.select(col(idCol).as("doc_a"), col("band"),
      col("bkt1"), col("bkt2"))
    val r = bandDf.select(col(idCol).as("doc_b"),
      col("band").as("band_b"), col("bkt1").as("bkt1_b"),
      col("bkt2").as("bkt2_b"))
    l.join(r,
        col("band") === col("band_b") && col("bkt1") === col("bkt1_b") &&
          col("bkt2") === col("bkt2_b") && col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("shared_bands"))
  }

  /** End-to-end LSH candidates from raw documents: the candidate
    * plan over a band table persisted LAZILY for the self-join,
    * returned alongside the band handle whose release the CALLER
    * owns (pass it to `CacheScope.eval(result)(bd)` with the caller's
    * own intermediates, or unpersist it once the pairs are
    * materialized). The single job that materializes the pairs fills
    * the band cache on its first scan and reads it on the second, so
    * signatures compute once without a separate checkpoint job or a
    * job barrier; lazy persist also keeps the lineage recomputable on
    * executor loss, which a localCheckpoint would not. Every face
    * consumes it this way: the connected-components faces through
    * `Dedup.lshLabels` (minLabel's own edge materialization is the
    * one checkpoint), the recall-certification faces by persisting
    * the pairs themselves. (r20; measured on dd_minhash_lsh/
    * dd_fuzzy_verify/dd_method_agreement/dd_lsh_recall*.) */
  def lshCandidatesLazy(docs: DataFrame, numPerms: Int, nBands: Int,
                        idCol: String = "doc_id",
                        textCol: String = "text")
      : (DataFrame, DataFrame) = {
    val bd = bands(signaturesNarrow(docs, numPerms, idCol, textCol),
      numPerms, nBands, idCol).persist()
    (candidates(bd, idCol), bd)
  }

  /** Exact-modulo-128-bit-collision shingle-overlap stats per
    * candidate pair — the ONE verify kernel `dd_jaccard_verify` /
    * `dd_minhash_bound` / `dd_containment` share (three faces carried
    * line-for-line copies; a fix to the intersection join in one
    * silently missing the others is the drift hazard this removes,
    * the r11 `hashedGramInstances` precedent). `shh` is the HASHED
    * shingle relation `(doc_id, g1, g2)` from [[hashedShingles]] —
    * the caller persists that 16-byte-key projection once and it
    * feeds all three reads here (the per-doc sizes and both
    * intersection probes; r20 persisted the STRING shingles and this
    * kernel re-hashed them on every read of each join side). `cand`
    * (doc_a, doc_b) joins it on both sides, intersects, and attaches
    * per-doc set sizes — sizes are row counts, hash-independent.
    * Output: (doc_a, doc_b, n_inter, n_a, n_b), with n_inter = 0 — a
    * KEPT row, not a dropped pair — for candidates sharing band
    * buckets but no shingle (md5 collision; semantically possible).
    * Both inputs must be PERSISTED by the caller: each feeds multiple
    * branches here. Cost ∝ candidates × overlap, never pairs².
    *
    * Exactness bound: a collision inflating one pair's n_inter needs
    * BOTH 64-bit halves of [[gramKey128]] (the second prefix-salted,
    * heuristically independent) to collide on two distinct grams of
    * the same doc pair — ~d²/2^129 expected corpus-wide (≈10⁻¹⁷ at
    * d = 10¹¹ grams), so the verify faces' exactness claim holds at
    * any realistic scale; the catalog oracle replays the intersection
    * on the strings, so a collision would surface as a hash mismatch. */
  def pairOverlap(shh: DataFrame, cand: DataFrame): DataFrame = {
    val sizes = shh.groupBy("doc_id").agg(count(lit(1)).as("__n"))
    val inter = cand
      .join(shh.select(col("doc_id").as("doc_a"),
        col("g1"), col("g2")), "doc_a")
      .join(shh.select(col("doc_id").as("doc_b"),
        col("g1").as("g1_b"), col("g2").as("g2_b")), "doc_b")
      .filter(col("g1") === col("g1_b") && col("g2") === col("g2_b"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("n_inter"))
    cand
      .join(inter, Seq("doc_a", "doc_b"), "left")
      .join(sizes.select(col("doc_id").as("doc_a"), col("__n").as("n_a")),
        "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("__n").as("n_b")),
        "doc_b")
      .withColumn("n_inter", coalesce(col("n_inter"), lit(0L)))
  }

  /** SimHash fingerprint per doc: per-bit majority vote over token
    * md5s (bit b = parity of hex char b), assembled into a `bits`-wide
    * bit-string.
    *
    * One pass: the `bits` votes are `bits` conditional sums inside a
    * single partial-aggregating groupBy over token rows — not a ×bits
    * explode (which would shuffle bits× the token count) and not a
    * second aggregation. At corpus scale the shuffle carries one
    * `bits`-column partial row per (doc, partition). */
  def simhash(docs: DataFrame, bits: Int = 32,
              idCol: String = "doc_id",
              textCol: String = "text"): DataFrame =
    simhashInt(docs, bits, idCol, textCol)
      .select(col(idCol), renderBits(col("simhash_int"), bits).as("simhash"))

  /** SimHash packed into a LONG (`simhash_int`, bit 1 of the
    * fingerprint = most significant of the low `bits`) — the shuffle-
    * and join-friendly representation: Hamming-neighbor retrieval joins
    * on 8-byte keys and generates bit-flip variants by XOR instead of
    * shuffling `bits`-char strings (~8× fewer shuffle bytes at 32
    * bits). [[renderBits]] recovers the exact bit-string of [[simhash]]
    * at the oracle/display boundary. Computed per-ROW
    * ([[withSimhashInt]] — zero shuffle); [[simhashIntGrouped]] keeps
    * the explode+groupBy plan as the differential reference. */
  def simhashInt(docs: DataFrame, bits: Int = 32,
                 idCol: String = "doc_id",
                 textCol: String = "text"): DataFrame =
    // idCol forwarded: withSimhashInt keys its starved-scan
    // repartition on it, and the old hard-coded "doc_id" threw on any
    // other id column exactly when the input was single-partition
    withSimhashInt(docs, bits, textCol, idCol = idCol)
      .select(col(idCol), col("simhash_int"))

  /** The explode + partial-aggregating-groupBy SimHash plan — same
    * output as [[simhashInt]], one token-row shuffle. Kept as the
    * differential reference the equivalence spec checks the narrow
    * fold against; the narrow form wins at every scale (votes for one
    * doc never span rows, so the shuffle buys nothing).
    *
    * PRECONDITION: `idCol` is unique per row. On duplicate ids the
    * groupBy merges votes across all rows sharing the id and the
    * totality join fans the MERGED fingerprint back to every row —
    * a different (and here meaningless) answer than the per-row
    * forms, which fingerprint each row independently. The
    * equivalence specs feed id-unique corpora; this reference is not
    * a per-row operator. */
  def simhashIntGrouped(docs: DataFrame, bits: Int = 32,
                        idCol: String = "doc_id",
                        textCol: String = "text"): DataFrame = {
    require(bits > 0 && bits <= 32, "md5 hex provides 32 positions")
    val toks = docs
      .select(col(idCol), explode(split(col(textCol), " ")).as("tok"))
      .withColumn("h", md5(col("tok")))
    val votes = (1 to bits).map(b =>
      sum(when(ascii(col("h").substr(b, 1)) % 2 === 1, 1).otherwise(-1))
        .as(s"__v$b"))
    val agg = toks.groupBy(idCol).agg(votes.head, votes.tail: _*)
      .select(col(idCol),
        (1 to bits).map(b =>
          when(col(s"__v$b") > 0, lit(1L << (bits - b))).otherwise(lit(0L)))
          .reduce(_ + _).as("simhash_int"))
    // total on NULL text, like the narrow form: explode(split(NULL))
    // drops the doc's rows, so without this join the grouped reference
    // would LOSE the row where withSimhashInt keeps it with a NULL
    // fingerprint (simhash_long's nullSafeEval) — the bit-identical
    // equivalence contract would break on exactly the degenerate input
    docs.select(col(idCol)).join(agg, Seq(idCol), "left")
  }

  /** Bit-string rendering of a packed fingerprint, identical to the
    * string [[simhash]] builds: bit 1 first. */
  def renderBits(fp: Column, bits: Int): Column =
    lpad(bin(fp), bits, "0")

  /** Per-ROW packed SimHash — bit-identical to [[simhashInt]] but with
    * ZERO shuffle, computed by the NATIVE codegen'd expression
    * (functions.SimhashLong: one fused loop over the raw bytes — md5
    * per token, nibble-parity votes, no hex strings or arrays
    * allocated — inside whole-stage codegen). This is the
    * STREAMING-safe form (no stateful aggregation, so it composes with
    * watermarks, dropDuplicates, and stateful ops downstream) and the
    * right batch form whenever the fingerprint is an intermediate
    * column rather than the grouped result. [[withSimhashIntFold]]
    * keeps the declarative higher-order-fold plan as the differential
    * reference the equivalence specs pin the native kernel against. */
  def withSimhashInt(docs: DataFrame, bits: Int = 32,
                     textCol: String = "text",
                     outCol: String = "simhash_int",
                     idCol: String = "doc_id"): DataFrame = {
    require(bits > 0 && bits <= 32, "md5 hex provides 32 positions")
    graft.GraftExtensions.ensure(docs.sparkSession)
    Partitioning.ensureParallelism(docs, idCol)
      .withColumn(outCol, expr(s"simhash_long($textCol, $bits)"))
  }

  /** The declarative fold form of [[withSimhashInt]] — same output,
    * built-in functions only: token md5s materialized once into a temp
    * array column, votes folded by a nested higher-order `aggregate`.
    * Interpreted lambda evaluation makes it the slow path; it exists
    * as the engine-independent reference the native expression is
    * differentially tested against (and would be the fallback on a
    * Spark build without extension registration). */
  def withSimhashIntFold(docs: DataFrame, bits: Int = 32,
                         textCol: String = "text",
                         outCol: String = "simhash_int",
                         idCol: String = "doc_id"): DataFrame = {
    require(bits > 0 && bits <= 32, "md5 hex provides 32 positions")
    Partitioning.ensureParallelism(docs, idCol)
      .withColumn("__hs",
        expr(s"transform(split($textCol, ' '), t -> md5(t))"))
      .withColumn(outCol, expr(
        s"""aggregate(sequence(1, $bits), 0L, (acc, b) ->
              acc + if(aggregate(__hs, 0, (a, h) ->
                         a + if(ascii(substring(h, b, 1)) % 2 = 1, 1, -1))
                       > 0,
                       shiftleft(1L, $bits - b), 0L))"""))
      .drop("__hs")
  }

  /** Distinct k-word shingles per document — the n-gram unit for
    * decontamination and boilerplate analysis. Per-doc-distinct like
    * the 2-shingle [[shingles]] (both apply `array_distinct`: MinHash
    * and the overlap/frequency ops all operate on gram SETS — a
    * min over a multiset equals the min over its set anyway).
    * One narrow projection + explode; a doc shorter than k words
    * yields no rows (the `if` guard — Spark's `sequence(1, n)` with
    * n < 1 would count DOWN, not produce empty). */
  def kShingles(docs: DataFrame, k: Int,
                idCol: String = "doc_id",
                textCol: String = "text"): DataFrame = {
    require(k >= 1, s"kShingles: k must be positive, got $k")
    Partitioning.ensureParallelism(docs, idCol)
      .select(col(idCol), split(col(textCol), " ").as("__l"))
      .select(col(idCol), explode(array_distinct(expr(
        s"""if(size(__l) >= $k,
              transform(sequence(1, size(__l) - $k + 1),
                i -> concat_ws(' ', slice(__l, i, $k))),
              array())"""))).as("shingle"))
  }

  /** Per-position k-gram INSTANCES as 64-bit hashes — the ONE
    * definition of "hashed gram over the split token list" the
    * instance-level dedup faces share ([[repeatedSpans]],
    * `dd_ngram_dup_rate`), so split semantics, the short-doc guard,
    * and the hash input can never drift apart between their oracles
    * (r11 review). Returns `carry` columns + 1-based `pos` + `g`
    * (xxhash64 of the space-joined k-token window); one narrow
    * projection + posexplode, parallelism re-established on
    * `parallelismCol` before the fan-out. */
  def hashedGramInstances(docs: DataFrame, k: Int, carry: Seq[String],
                          parallelismCol: String = "doc_id",
                          textCol: String = "text"): DataFrame = {
    require(k >= 1,
      s"hashedGramInstances: k must be positive, got $k")
    // native kernel (r18 verdict #5): one boundary pass + in-place
    // byte-range hashing per window, replacing the interpreted
    // slice/concat_ws/xxhash64 lambda per position — same hashes,
    // same short-doc convention (VectorFnsSpec pins the equality
    // against the built-in composition)
    graft.GraftExtensions.ensure(docs.sparkSession)
    // doubled embedded backticks (the Profiler.quoted rule): a column
    // literally named with a ` must not end the quote early
    val tq = textCol.replace("`", "``")
    Partitioning.ensureParallelism(docs, parallelismCol)
      .select(carry.map(col) :+
        posexplode(expr(s"kgram_xxhash64(`$tq`, $k)")): _*)
      .select(carry.map(col) :+
        (col("pos") + 1).cast("long").as("pos") :+
        col("col").as("g"): _*)
  }

  /** Maximal repeated token spans per document — the exact-substring
    * dedup signal (Lee et al. 2021, "Deduplicating Training Data Makes
    * Language Models Better", made scale-shaped): every k-token window
    * whose token sequence occurs MORE THAN ONCE corpus-wide (any doc,
    * any position — intra-doc repeats count) marks its start position
    * repeated; per doc, repeated starts merge into maximal spans when
    * their covered token ranges touch or overlap (gap in start
    * positions ≤ k). Returns (idCol, n_spans, rep_tokens) for docs
    * with ≥1 span; rep_tokens is the exact union length Σ(e − s + k).
    *
    * Shape at 100 TB: window instances are (doc, pos, xxhash64)
    * triples — position arithmetic and an 8-byte hash, never window
    * text; corpus counts ride ONE hash-partitioned count window on
    * the gram hash; span merging is the gaps-and-islands idiom inside
    * a per-doc window (per-partition work bounded by doc length).
    * Nothing quadratic; a 64-bit collision marking a unique window
    * repeated is the stated resolution (the [[kShingles]]-consumer
    * idiom — the oracle replays over window text). */
  def repeatedSpans(docs: DataFrame, k: Int,
                    idCol: String = "doc_id",
                    textCol: String = "text"): DataFrame = {
    require(k >= 1, s"repeatedSpans: k must be positive, got $k")
    import org.apache.spark.sql.expressions.Window
    val inst = hashedGramInstances(docs, k, Seq(idCol),
      parallelismCol = idCol, textCol = textCol)
    val byDoc = Window.partitionBy(idCol).orderBy("pos")
    inst
      .withColumn("cnt", count(lit(1)).over(Window.partitionBy("g")))
      .filter(col("cnt") > 1)
      .withColumn("new_span",
        when(lag("pos", 1).over(byDoc).isNull ||
             col("pos") - lag("pos", 1).over(byDoc) > k, 1L)
          .otherwise(0L))
      .withColumn("span_id", sum("new_span")
        .over(byDoc.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col(idCol), col("span_id"))
      .agg(min("pos").as("s"), max("pos").as("e"))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_spans"),
        sum(col("e") - col("s") + lit(k.toLong)).as("rep_tokens"))
  }

  /** APPLY the exact-substring treatment [[repeatedSpans]] reports:
    * for every repeated k-token window, the FIRST corpus occurrence
    * (min (doc, pos) — a deterministic election, the paragraph-dedup
    * keeper idiom at window grain) survives; every other occurrence
    * marks its token range for removal, per doc the marked ranges
    * union into maximal spans, and the text is rebuilt from the
    * surviving positions. Returns (idCol, n_tokens,
    * n_scrubbed_tokens, scrubbed_text). Greedy by construction: a
    * keeper window's tokens can still fall inside ANOTHER gram's
    * scrubbed span — the standard approximation; the output is
    * deterministic either way.
    *
    * Scale shape: [[hashedGramInstances]] + ONE unordered window on
    * the gram hash computing both the corpus count and the keeper
    * (min (doc, pos) struct — an unordered window min, where the
    * previous row_number election forced a full (g, doc, pos) sort
    * per gram set; r18 verdict #5), the per-doc island merge, and a
    * doc-keyed join attaching each doc's bounded span list for a
    * single higher-order-function rebuild pass — no per-token join,
    * no text through the gram shuffle.
    *
    * Rebuild cost (the datapath meter's heaviest cell before r19):
    * the merged spans are DISJOINT and non-touching by construction
    * (islands split at start-gap > k, so the next span's start is at
    * least the previous end + 2), so the kept positions are the
    * COMPLEMENT intervals of the sorted span list — built in one
    * O(tokens + spans) gap pass instead of testing every position
    * against every span (O(tokens × spans)); and a doc with no
    * repeated window at all (the overwhelming majority) short-circuits
    * to its original text with no split-array rebuild — concat_ws over
    * the full kept sequence reproduces the input byte-for-byte (space
    * splits keep empty tokens, concat_ws keeps empty strings), so the
    * fast path is output-identical. */
  def scrubRepeatedSpans(docs: DataFrame, k: Int,
                         idCol: String = "doc_id",
                         textCol: String = "text"): DataFrame = {
    require(k >= 1, s"scrubRepeatedSpans: k must be positive, got $k")
    import org.apache.spark.sql.expressions.Window
    val byG = Window.partitionBy("g")
    val byDoc = Window.partitionBy(idCol).orderBy("pos")
    val spans = hashedGramInstances(docs, k, Seq(idCol),
      parallelismCol = idCol, textCol = textCol)
      .withColumn("cnt", count(lit(1)).over(byG))
      .withColumn("__keeper",
        min(struct(col(idCol), col("pos"))).over(byG))
      .filter(col("cnt") > 1 &&
        struct(col(idCol), col("pos")) =!= col("__keeper"))
      .withColumn("new_span",
        when(lag("pos", 1).over(byDoc).isNull ||
             col("pos") - lag("pos", 1).over(byDoc) > k, 1L)
          .otherwise(0L))
      .withColumn("span_id", sum("new_span")
        .over(byDoc.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col(idCol), col("span_id"))
      .agg(min("pos").as("s"), (max("pos") + (k - 1)).as("e"))
      .groupBy(idCol)
      // sorted at aggregation so the rebuild's gap pass reads the
      // spans in position order without a per-row array_sort
      .agg(sort_array(collect_list(struct(col("s"), col("e"))))
        .as("__spans"))
    docs.select(col(idCol), col(textCol))
      .join(spans, Seq(idCol), "left")
      .withColumn("__l", split(col(textCol), " "))
      // complement of the sorted disjoint spans over [1, n]: zip the
      // previous ends (0, e1, …, em) with the next starts (s1, …, sm,
      // n + 1) and emit each non-empty gap — one pass, no containment
      // test per position. NULL when the doc has no spans (the fast
      // path below never touches it).
      .withColumn("__kept", expr(
        """if(__spans is null, null,
             flatten(zip_with(
               concat(array(cast(0 as bigint)),
                      transform(__spans, sp -> sp.e)),
               concat(transform(__spans, sp -> sp.s),
                      array(cast(size(__l) + 1 as bigint))),
               (e, s) -> if(s - e > 1, sequence(e + 1, s - 1),
                            cast(array() as array<bigint>)))))"""))
      .select(
        col(idCol),
        // NULL-text totality (the cdcChunks stance): a NULL doc rides
        // through as (0, 0, NULL) — without the explicit branch the
        // NULL split leg yields NULL counts and, worse, concat_ws
        // renders the text as '' (a silent NULL→'' rewrite in a
        // corpus-rewrite operator). The oracle SQL carries the same
        // branch.
        when(col(textCol).isNull, lit(0L))
          .otherwise(size(col("__l")).cast("long")).as("n_tokens"),
        when(col(textCol).isNull || col("__spans").isNull, lit(0L))
          .otherwise((size(col("__l")) - size(col("__kept"))).cast("long"))
          .as("n_scrubbed_tokens"),
        when(col(textCol).isNull, lit(null).cast("string"))
          .when(col("__spans").isNull, col(textCol))
          .otherwise(expr(
            """concat_ws(' ',
                 transform(__kept, i -> element_at(__l, cast(i as int))))"""))
          .as("scrubbed_text"))
  }

  /** SQL array of `fpCol` XOR'd with every ≤ `maxFlips`-bit mask (the
    * fingerprint itself, all single flips, then all pair flips). Sizes:
    * 1 / 1+bits / 1+bits+C(bits,2). */
  private def flipVariants(fpCol: String, bits: Int, maxFlips: Int)
      : String = {
    // bits = 1 with pair flips would build sequence(1, 0) — which
    // Spark counts DOWN to [1, 0], yielding negative shift amounts
    // whose Java wrap-around masks can pair fingerprints at distances
    // past the budget; there is no valid pair flip in a 1-bit space
    require(maxFlips < 2 || bits >= 2,
      s"flipVariants: pair flips need bits >= 2, got bits=$bits")
    val one = s"""transform(sequence(1, $bits),
                    i -> $fpCol ^ shiftleft(1L, $bits - i))"""
    val two = s"""flatten(transform(sequence(1, ${bits - 1}),
                    i -> transform(sequence(i + 1, $bits),
                      j -> $fpCol ^ shiftleft(1L, $bits - i)
                                  ^ shiftleft(1L, $bits - j))))"""
    maxFlips match {
      case 0 => s"array($fpCol)"
      case 1 => s"concat(array($fpCol), $one)"
      case 2 => s"concat(array($fpCol), $one, $two)"
      case n => throw new IllegalArgumentException(
        s"flipVariants: maxFlips ≤ 2 supported, got $n")
    }
  }

  /** All pairs of fingerprints within Hamming distance `maxDistance`,
    * with the exact distance — the scale path for near-dup retrieval at
    * d > 0. The distance budget is SPLIT across the two join sides:
    * side A emits variants with ≤ ceil(d/2) bit flips, side B with
    * ≤ floor(d/2), and any pair at distance ≤ d meets on some equal
    * variant (split the differing-bit set). At d=2 that is 33N keys
    * per side instead of the 529N a one-sided flip-2 emission would
    * shuffle — the asymmetric-split trick keeps variant count
    * O(bits^ceil(d/2)) per row instead of O(bits^d). Join keys stay
    * packed 8-byte longs; every surviving pair is guaranteed ≤ d by
    * construction (|Sa Δ Sb| ≤ d), so the distance column is derived,
    * not filtered. `fp` is materialized by the caller. */
  def hammingPairs(fp: DataFrame, bits: Int = 32, maxDistance: Int = 1,
                   idCol: String = "doc_id",
                   fpCol: String = "simhash_int"): DataFrame = {
    require(maxDistance >= 0 && maxDistance <= 4,
      s"hammingPairs: maxDistance ≤ 4 supported, got $maxDistance")
    val aFlips = (maxDistance + 1) / 2
    val bFlips = maxDistance / 2
    val va = fp.select(col(idCol).as("doc_a"), col(fpCol).as("fp_a"),
      explode(expr(flipVariants(fpCol, bits, aFlips))).as("variant"))
    val vb = fp.select(col(idCol).as("doc_b"), col(fpCol).as("fp_b"),
      explode(expr(flipVariants(fpCol, bits, bFlips))).as("variant"))
    va.join(vb, Seq("variant"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        bit_count(col("fp_a").bitwiseXOR(col("fp_b"))).cast("long")
          .as("dist"))
      .distinct()
  }

  /** Content-defined chunking: split each document into variable-size
    * token chunks whose boundaries fall where the rolling hash of the
    * local `window`-gram hits `≡ 0 (mod mask)` — the public
    * CDC/rsync recipe at token granularity. Because a boundary
    * depends ONLY on the `window` tokens ending at it, an edit
    * invalidates at most the boundaries whose grams overlap it:
    * chunks re-align `window` tokens after the edit (the locality
    * property PropertySpec pins), which fixed-stride windows cannot
    * do. Expected chunk length is `mask` tokens.
    *
    * Output: (idCol, chunk, ctext) — chunk ids are 0-based running
    * boundary counts, ctext the space-joined tokens. Flags are
    * computed INSIDE the token array (one `transform`), so exploded
    * rows carry one token and one bit, never the array; the running
    * sum is one exchange on the doc id, and the chunk groupBy reuses
    * that partitioning. Hash is the repo's md5-ascii formula so a
    * SQL oracle replays it. */
  def cdcChunks(docs: DataFrame, window: Int = 4, mask: Int = 8,
                idCol: String = "doc_id",
                textCol: String = "text"): DataFrame = {
    // fail fast like the sibling gram kernels: mask=0 would be a
    // mid-job DIVIDE_BY_ZERO (ANSI) or a silent one-chunk-per-doc
    // (NULL predicate under legacy semantics); window<1 garbage cuts
    require(window >= 1, s"cdcChunks: window must be >= 1, got $window")
    require(mask >= 1, s"cdcChunks: mask must be >= 1, got $mask")
    val g = s"array_join(slice(__toks, p - ${window - 1}, $window), ' ')"
    // the whole chunking runs INSIDE the token array — cut positions
    // by one filter, chunk texts by one transform over (start, end)
    // pairs — so the only exploded rows are the CHUNKS (~tokens/mask
    // of them), and there is no per-token explode, no running-sum
    // window, no exchange at all in the chunk stage: embarrassingly
    // parallel per document. A cut AFTER the last token opens no new
    // chunk (nothing follows it), hence the strict `p < size` bound.
    // The boundary hash digests md5 ONCE per eligible position (the
    // per-token hot loop at scale): the first transform materializes
    // the 2-hex-char slice the vote needs, the filter votes on it —
    // HOF lambdas run interpreted with no common-subexpression
    // elimination, so interpolating md5($g) twice into the predicate
    // would pay two digests per position for the same bits.
    // No ensureParallelism here, deliberately (r20, measured): the
    // boundary-hash pass runs on the scan's partition count, which at
    // corpus scale is already wide; forcing a doc_id repartition of
    // the raw text cost more than the single-task chunking it spread
    // out on the compact bench input (+4% on all three cdc faces).
    docs
      // NULL text normalizes to '' (one empty-token chunk) instead of
      // silently dropping the document at the posexplode — a corpus
      // report must account for every input row (EdgeCaseSpec)
      .withColumn("__toks", split(coalesce(col(textCol), lit("")), " "))
      .withColumn("__cuts", expr(
        s"""transform(
              filter(
                transform(sequence(1, size(__toks)),
                  p -> named_struct('p', p, 'h',
                    CASE WHEN p >= $window AND p < size(__toks)
                         THEN substring(md5($g), 1, 2) END)),
                s -> s.h IS NOT NULL AND
                     (ascii(substring(s.h, 1, 1)) * 31 +
                      ascii(substring(s.h, 2, 1))) % $mask = 0),
              s -> s.p)"""))
      .withColumn("__starts",
        expr("concat(array(1), transform(__cuts, b -> b + 1))"))
      .withColumn("__ends",
        expr("concat(__cuts, array(size(__toks)))"))
      .select(col(idCol),
        posexplode(expr(
          "transform(sequence(1, size(__starts)), i -> " +
            "array_join(slice(__toks, element_at(__starts, i), " +
            "element_at(__ends, i) - element_at(__starts, i) + 1), ' '))"))
          .as(Seq("chunk0", "ctext")))
      .select(col(idCol), col("chunk0").cast("long").as("chunk"),
        col("ctext"))
  }

  /** Per-document k-gram NOVELTY: the fraction (exact millis) of a
    * doc's distinct k-grams whose FIRST corpus occurrence (minimum
    * id) is the doc itself — the marginal-contribution signal behind
    * `dd_ngram_novelty`, factored here so TextDedupSpec can pin its
    * invariants (an exact copy of an earlier doc always scores 0) on
    * synthetic corpora through the production code. Gram strings
    * collapse to xxhash64 keys before either exchange (collisions
    * negligible; the catalog oracle replays on the strings, so one
    * would surface as a hash mismatch); the twice-consumed gram
    * table persists lazily across the min-aggregate and the probe.
    * Docs with fewer than k tokens have no grams and produce no row.
    * Output: (idCol, n_grams, n_novel, novelty_millis), unordered. */
  def ngramNovelty(docs: DataFrame, k: Int = 6,
                   idCol: String = "doc_id",
                   textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // first-corpus-occurrence by ONE unordered window over the gram
    // hash (min doc per gram group), the chunkDupStats discipline
    // (r20): the previous min-aggregate + join-back shape paid the
    // gram exchange twice plus a persisted gram table; the window
    // pays it once, single pass, no cache lifetime.
    kShingles(docs, k, idCol, textCol)
      .select(col(idCol), xxhash64(col("shingle")).as("g"))
      .withColumn("__first", min(col(idCol)).over(Window.partitionBy("g")))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("__first") === col(idCol), 1L)
          .otherwise(0L)).as("n_novel"))
      .withColumn("novelty_millis",
        expr("(n_novel * 1000) div n_grams"))
  }

  /** Per-document chunk-duplication stats over [[cdcChunks]] — the
    * shared kernel behind `dd_cdc_chunk_dup` and the composed quality
    * gate: chunk count, chunks whose exact text recurs in some OTHER
    * document (frequency join on xxhash64(chunk) — collisions
    * negligible, and the oracle joins on the text itself so one would
    * surface as a hash mismatch), and the duplicated fraction in
    * exact millis. Output: (idCol, n_chunks, n_dup_chunks,
    * dup_millis).
    *
    * "Recurs in some OTHER document" is decided by ONE unordered
    * window over the chunk hash — min(doc) ≠ max(doc) within the
    * hash group is exactly `count(DISTINCT doc) > 1` — so the whole
    * kernel is two exchanges (hash-key window, then the doc-grain
    * rollup) over a single chunking pass. The previous shape paid
    * FOUR over a persisted chunk table (the (h, doc) distinct, the
    * h-keyed frequency aggregate, and the h-keyed join re-shuffle of
    * the chunks, then the rollup; r20 bench: the bulk of
    * `dd_cdc_chunk_dup`'s 1.5x-over-floor reading and a slice of
    * both composed pipelines). A corpus-hot chunk hash lands its
    * instances on one window partition, but the join form shuffled
    * the same instances to the same reducer anyway — skew parity,
    * two fewer exchanges, no cache lifetime to manage. */
  def chunkDupStats(docs: DataFrame, window: Int = 4, mask: Int = 8,
                    idCol: String = "doc_id",
                    textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byH = Window.partitionBy("h")
    cdcChunks(docs, window, mask, idCol, textCol)
      .select(col(idCol), xxhash64(col("ctext")).as("h"))
      .withColumn("__dup",
        min(col(idCol)).over(byH) =!= max(col(idCol)).over(byH))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("__dup"), 1L).otherwise(0L)).as("n_dup_chunks"))
      .withColumn("dup_millis",
        expr("(n_dup_chunks * 1000) div n_chunks"))
  }
}
