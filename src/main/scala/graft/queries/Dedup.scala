package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Q, QueryModule}
import graft.sources.Tables

/** Deduplication operators over `documents`/`embeddings` — SURVEY.md
  * §2.12: exact (hash-groupBy), MinHash+LSH (shingle → minhash →
  * band-bucket join → candidate pairs), exact-Jaccard verification of
  * the LSH candidates, SimHash, and sign-random-projection-bucketed
  * embedding near-dup.
  *
  * Scale stance (100 TB): the only quadratic step anywhere is
  * *within-bucket* pair generation — the LSH band join and the SRP
  * bucket join both shuffle on a bucket key whose group sizes stay
  * small, so cost is Σ bucket², never corpus². Signatures are one
  * explode + one groupBy per doc (linear). Hashes are md5-based so the
  * DuckDB oracle can replay them bit-for-bit.
  */
object Dedup extends QueryModule {

  // Spark-side builders live in graft.operators.TextDedup (parameterized
  // library API); the queries below pin numPerms=8, bands=2, bits=32 to
  // match their oracles.

  /** Near-dup cluster labels over the banded candidate graph — the
    * shared stage-1 of every connected-components dedup face. Hands
    * the LAZY candidate plan to minLabel, whose own edge
    * materialization then pays the ONE checkpoint (a pair checkpoint
    * in front of it would store the same small table twice, one job
    * barrier apart — r20); the band cache fills inside that same
    * materializing job and is released as soon as minLabel returns
    * (its edges are materialized eagerly, so nothing reads the band
    * blocks afterwards). */
  private def lshLabels(docs: DataFrame): DataFrame = {
    val (cand, bd) = graft.operators.TextDedup.lshCandidatesLazy(
      docs, numPerms = 8, nBands = 2)
    val labels = graft.operators.ConnectedComponents
      .minLabel(cand, "doc_a", "doc_b")
    bd.unpersist(blocking = false)
    labels
  }

  // ---- shared SQL fragments (DuckDB oracle side) ---------------------

  private val shinglesSql = """
    sh AS (
      SELECT DISTINCT doc_id,
             unnest(list_transform(l[1:len(l)-1],
               (x, i) -> x || ' ' || l[i+1])) AS shingle
      FROM (SELECT doc_id, string_split(text, ' ') AS l FROM documents))"""

  private val sigSql = """
    sig AS (
      SELECT doc_id,
             min(md5('0|'||shingle)) h0, min(md5('1|'||shingle)) h1,
             min(md5('2|'||shingle)) h2, min(md5('3|'||shingle)) h3,
             min(md5('4|'||shingle)) h4, min(md5('5|'||shingle)) h5,
             min(md5('6|'||shingle)) h6, min(md5('7|'||shingle)) h7
      FROM sh GROUP BY 1)"""

  /** The decontamination 6-gram CTE, shared verbatim by
    * `dd_decontaminate`, `dd_decontaminate_bloom` (whose certification
    * is that it matches the ungated oracle — which must therefore BE
    * the same text, not a copy), and `dd_curation_pipeline`. `name`
    * lets the caller pick the CTE's binding name. */
  private def grams6Sql(name: String): String = s"""
      $name AS (
        SELECT doc_id,
               unnest(list_distinct(list_transform(
                 range(1, len(string_split(text, ' ')) - 6 + 2),
                 i -> array_to_string(string_split(text, ' ')[i:i+5], ' '))))
                 AS gram
        FROM documents)"""

  /** The 32-bit SimHash fingerprint CTE chain (md5-parity per-bit
    * majority vote), ending in `sfp (doc_id, simhash)` — ONE text
    * shared by dd_simhash, both Hamming faces and the method-
    * agreement matrix, so the formula (bit count, parity rule, >0
    * vote tie-break) cannot drift between their certifications. */
  private def simhashSql: String = """
    stoks AS (
      SELECT doc_id, md5(unnest(string_split(text, ' '))) AS h
      FROM documents),
    sbits AS (
      SELECT doc_id, b,
             CASE WHEN sum(CASE WHEN ascii(substr(h, b, 1)) % 2 = 1
                                THEN 1 ELSE -1 END) > 0
                  THEN '1' ELSE '0' END AS bit
      FROM stoks, (SELECT unnest(range(1, 33)) AS b)
      GROUP BY 1, 2),
    sfp AS (
      SELECT doc_id, string_agg(bit, '' ORDER BY b) AS simhash
      FROM sbits GROUP BY 1)"""

  private val candSql = """
    bands AS (
      SELECT doc_id, 0 AS band, md5(h0||h1||h2||h3) AS bucket FROM sig
      UNION ALL
      SELECT doc_id, 1 AS band, md5(h4||h5||h6||h7) AS bucket FROM sig),
    cand AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             count(*) AS shared_bands
      FROM bands a
      JOIN bands b ON a.band = b.band AND a.bucket = b.bucket
                  AND a.doc_id < b.doc_id
      GROUP BY 1, 2)"""

  // ---- queries -------------------------------------------------------

  /** Exact dedup: one keeper per exact content hash (hash-groupBy; at
    * scale this is one shuffle on a well-distributed md5 key). */
  val exact: Q = Q(
    "dd_exact",
    (s, dir) =>
      Tables(s, dir, "documents")
        .groupBy(md5(col("text")).as("fingerprint"))
        .agg(min("doc_id").as("keeper"), count(lit(1)).as("n_copies"))
        .orderBy("keeper"),
    Some("""
      SELECT md5(text) AS fingerprint, min(doc_id) AS keeper,
             count(*) AS n_copies
      FROM documents GROUP BY 1 ORDER BY keeper""")
  )

  /** MinHash+LSH candidate pairs (the scalable near-dup path). */
  val minhashLsh: Q = Q(
    "dd_minhash_lsh",
    (s, dir) => {
      // the lazy twin: candidates feed exactly one consumer (the
      // output sort), so the eager checkpoint's extra job barrier and
      // block round-trip bought nothing — one job computes signature,
      // band self-join (cache-backed), and sort (r20)
      val (cand, bd) = graft.operators.TextDedup.lshCandidatesLazy(
        Tables(s, dir, "documents"), numPerms = 8, nBands = 2)
      graft.operators.CacheScope.eval(
        cand.select(col("doc_a"), col("doc_b"), col("shared_bands"))
          .orderBy("doc_a", "doc_b"))(bd)
    },
    Some(s"""
      WITH $shinglesSql, $sigSql, $candSql
      SELECT doc_a, doc_b, shared_bands FROM cand ORDER BY doc_a, doc_b""")
  )

  /** LSH bucket-health report — the observability face behind every
    * "cost is Σ bucket², never corpus²" claim in this module: per
    * band, the bucket count, banded doc count, the LARGEST bucket
    * (the straggler task an operator would feel first), and the
    * PREDICTED candidate-pair volume `Σ m·(m−1)/2` — computable from
    * bucket sizes alone, BEFORE paying for the self-join. This is
    * the number an operator checks when tuning (numPerms, bands) on
    * a new corpus: if pred_pairs explodes, shrink buckets; the
    * actual dd_minhash_lsh join cost is bounded by it by
    * construction (shared-band pairs dedupe, so the join emits ≤
    * the prediction).
    *
    * Scale (100 TB): two map-side-combined aggregates — (band,
    * bucket) then band — over the banded signature rows; output is
    * |bands| rows. Nothing here touches pairs. */
  val lshBucketStats: Q = Q(
    "dd_lsh_bucket_stats",
    (s, dir) => {
      import graft.operators.TextDedup
      val b = TextDedup.bands(
        TextDedup.signaturesNarrow(Tables(s, dir, "documents"), 8),
        numPerms = 8, nBands = 2)
      b.groupBy("band", "bkt1", "bkt2").agg(count(lit(1)).as("m"))
        .groupBy("band").agg(
          count(lit(1)).as("n_buckets"),
          sum("m").as("n_docs"),
          max("m").as("max_bucket"),
          sum(expr("(m * (m - 1)) div 2")).as("pred_pairs"))
        .select(col("band").cast("long").as("band"), col("n_buckets"),
          col("n_docs"), col("max_bucket"), col("pred_pairs"))
        .orderBy("band")
    },
    Some(s"""
      WITH $shinglesSql, $sigSql,
      bands AS (
        SELECT doc_id, 0 AS band, md5(h0||h1||h2||h3) AS bucket FROM sig
        UNION ALL
        SELECT doc_id, 1 AS band, md5(h4||h5||h6||h7) AS bucket FROM sig),
      per AS (
        SELECT band, bucket, count(*) AS m FROM bands GROUP BY 1, 2)
      SELECT CAST(band AS BIGINT) AS band,
             count(*) AS n_buckets,
             CAST(sum(m) AS BIGINT) AS n_docs,
             CAST(max(m) AS BIGINT) AS max_bucket,
             CAST(sum((m * (m - 1)) // 2) AS BIGINT) AS pred_pairs
      FROM per GROUP BY 1 ORDER BY 1""")
  )

  /** Exact n-gram Jaccard, computed ONLY on LSH candidates — the
    * verify step of the LSH pipeline. Cost is |candidates| × shingle
    * overlap, independent of corpus²; the all-pairs variant this
    * replaces is the classic scale killer. */
  val jaccardVerify: Q = Q(
    "dd_jaccard_verify",
    (s, dir) => {
      // One persisted HASHED shingle table (16-byte gramKey128 keys,
      // not strings — r21: hashed once at cache fill, read three times
      // inside pairOverlap) feeds sizes and both sides of the
      // intersection count — one computed lineage instead of four
      // scans (ADVICE r2).
      import graft.operators.{CacheScope, TextDedup}
      val sh = TextDedup.hashedShingles(Tables(s, dir, "documents"))
        .persist()
      // signatures come from the NATIVE narrow kernel over the raw
      // docs — identical values to `signatures(sh, 8)` (min over
      // duplicates = min over distinct) without the md5-per-shingle-row
      // groupBy shuffle; the persisted shingle table serves only the
      // sizes and the intersection join (both inside pairOverlap).
      // Lazily persisted, like sh: the one job that materializes the
      // final result populates both caches in passing — an eager
      // checkpoint here costs a whole extra pass over the corpus
      // (r6's bench regression).
      val bd = TextDedup.bands(TextDedup.signaturesNarrow(
        Tables(s, dir, "documents"), 8), 8, 2).persist()
      val cand = TextDedup.candidates(bd)
        .select("doc_a", "doc_b").persist()
      // jaccard is a single IEEE division of exact integers — Spark and
      // DuckDB produce bit-identical doubles, so no decimal cast and the
      // >= 0.5 filter applies to the same raw value on both sides
      // (ADVICE r2: never round/cast differently from the oracle).
      // A zero-intersection pair scores 0.0 and dies on the filter,
      // exactly as the oracle's inner intersection CTE drops it.
      val result = TextDedup.pairOverlap(sh, cand)
        .select(
          col("doc_a"), col("doc_b"),
          (col("n_inter").cast("double") /
            (col("n_a") + col("n_b") - col("n_inter"))).as("jaccard"))
        .filter(col("jaccard") >= 0.5)
        .orderBy("doc_a", "doc_b")
      CacheScope.eval(result)(sh, bd, cand)
    },
    Some(s"""
      WITH $shinglesSql, $sigSql, $candSql,
      sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
      inter AS (
        SELECT c.doc_a, c.doc_b, count(*) AS n_inter
        FROM cand c
        JOIN sh a ON a.doc_id = c.doc_a
        JOIN sh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
        GROUP BY 1, 2)
      SELECT doc_a, doc_b,
             CAST(n_inter AS DOUBLE) / (sa.n + sb.n - n_inter) AS jaccard
      FROM inter i
      JOIN sizes sa ON sa.doc_id = i.doc_a
      JOIN sizes sb ON sb.doc_id = i.doc_b
      WHERE CAST(n_inter AS DOUBLE) / (sa.n + sb.n - n_inter) >= 0.5
      ORDER BY doc_a, doc_b""")
  )

  /** Character-level fuzzy verify over the same LSH candidate pairs —
    * the edit-distance complement of [[jaccardVerify]]'s token-set
    * metric. Token Jaccard is blind to WITHIN-token mutations (typo
    * variants, OCR noise, diff-sized whitespace runs); Levenshtein on
    * a fixed 120-char prefix catches exactly those. The Spark side
    * uses the THRESHOLDED `levenshtein(a, b, 20)` (Spark 3.5+): the
    * banded O(len·k) algorithm that abandons a pair the moment its
    * distance provably exceeds the cap, returning -1 — so the filter
    * `>= 0` reproduces the oracle's `levenshtein(...) <= 20` while
    * doing a fraction of the DP work. Both engines compute codepoint
    * Levenshtein, an exact integer.
    *
    * Scale (100 TB): edit distance is quadratic per pair — the only
    * affordable shape is candidates-first. Pairs come from the banded
    * LSH join (never all-pairs), the text join fetches exactly two
    * 120-char prefixes per candidate, and the banded cap bounds the DP
    * at O(len·20) per pair. */
  val fuzzyVerify: Q = Q(
    "dd_fuzzy_verify",
    (s, dir) => {
      import graft.operators.TextDedup
      val docs = Tables(s, dir, "documents")
      // lshCandidatesLazy, not a hand-rolled bands→candidates chain:
      // the band table feeds BOTH sides of the self-join
      // (candidates()'s own contract) and the kernel persists it
      // internally — the unpersisted form recomputed the corpus scan
      // + native fingerprinting once per join side. Lazy (r20): the
      // pairs feed exactly one consumer (the prefix join), so the
      // verify runs as ONE job with the band cache filling in-plan.
      val (candLazy, bd) = TextDedup.lshCandidatesLazy(
        docs, numPerms = 8, nBands = 2)
      val cand = candLazy.select("doc_a", "doc_b")
      // edit distance over the ASCII projection of the prefix: Spark's
      // levenshtein counts CODEPOINTS while DuckDB's counts BYTES
      // (probed: levenshtein('é','e') = 2 there), so any multibyte
      // character in a prefix would diverge the dist column and flip
      // row membership at the cap. Stripping non-ASCII BEFORE the DP
      // makes byte = codepoint in both engines — a cross-engine-stable
      // spelling, and a fine one for a near-dup verify heuristic
      // (r20 review).
      val pre = docs.select(col("doc_id"),
        regexp_replace(substring(col("text"), 1, 120),
          "[^\\x00-\\x7F]", "").as("prefix"))
      graft.operators.CacheScope.eval(cand
        .join(pre.select(col("doc_id").as("doc_a"),
          col("prefix").as("pa")), "doc_a")
        .join(pre.select(col("doc_id").as("doc_b"),
          col("prefix").as("pb")), "doc_b")
        .withColumn("dist", levenshtein(col("pa"), col("pb"), 20))
        .filter(col("dist") >= 0)
        .select(col("doc_a"), col("doc_b"), col("dist"))
        .orderBy("doc_a", "doc_b"))(bd)
    },
    Some(s"""
      WITH $shinglesSql, $sigSql, $candSql,
      pre AS (SELECT doc_id,
                     regexp_replace(substr(text, 1, 120),
                                    '[^\\x00-\\x7F]', '', 'g') AS prefix
              FROM documents)
      SELECT c.doc_a, c.doc_b,
             levenshtein(a.prefix, b.prefix) AS dist
      FROM cand c
      JOIN pre a ON a.doc_id = c.doc_a
      JOIN pre b ON b.doc_id = c.doc_b
      WHERE levenshtein(a.prefix, b.prefix) <= 20
      ORDER BY c.doc_a, c.doc_b""")
  )

  /** SimHash (32-bit, md5-char-parity hash): per-bit majority vote
    * over token occurrences, assembled into a bit-string fingerprint.
    * Linear: |tokens| × 32 exploded rows, one groupBy. Docs sharing a
    * fingerprint are near-dups at Hamming distance 0. */
  val simhash: Q = Q(
    "dd_simhash",
    (s, dir) =>
      graft.operators.TextDedup.simhash(Tables(s, dir, "documents"), 32)
        .select(col("doc_id"), col("simhash"))
        .orderBy("doc_id"),
    Some(s"""
      WITH $simhashSql
      SELECT d.doc_id, sfp.simhash FROM documents d
      LEFT JOIN sfp USING (doc_id) ORDER BY d.doc_id""")
      // LEFT JOIN from documents: a NULL-text doc has no token rows,
      // so the bare sfp SELECT would DROP it where the Spark side
      // (total simhash_long) keeps it with a NULL fingerprint —
      // identical on the clean fixture, aligned on degenerate input
  )

  /** SimHash near-dup retrieval at Hamming distance ≤ 1 via the
    * bit-flip variant join: each doc emits its fingerprint plus the 32
    * single-bit flips (33 keys), and a pair is within distance 1 iff
    * one side's variant equals the other side's exact fingerprint.
    * Cost: 33N join keys, hash-partitioned — the standard trick that
    * turns Hamming search into equi-joins (generalizes to distance d
    * by flipping d-subsets). Fingerprints stay PACKED as longs end to
    * end: variants are XORs of single-bit masks and the join keys are
    * 8-byte ints, ~8× fewer shuffle bytes than the equivalent 32-char
    * bit-strings (which exist only in the oracle's replay). Each ≤1
    * pair is found by both directions and (at distance 0) by all 33
    * variants, so the join is distinct'd on the pair. */
  val simhashHamming: Q = Q(
    "dd_simhash_hamming",
    (s, dir) => {
      import graft.operators.CacheScope
      // lazily persisted: fp feeds the variant explode and the probe
      // side; the single result-materializing job fills the cache in
      // passing instead of paying an eager extra pass (r6 VERDICT)
      val fp = graft.operators.TextDedup
        .simhashInt(Tables(s, dir, "documents"), 32).persist()
      val variants = fp.select(col("doc_id"),
        explode(expr(
          """concat(array(simhash_int),
             transform(sequence(1, 32),
               i -> simhash_int ^ shiftleft(1L, 32 - i)))""")).as("variant"))
      val result = variants
        .join(fp.select(col("doc_id").as("doc_b"),
          col("simhash_int").as("fp_b")),
          col("variant") === col("fp_b") && col("doc_id") < col("doc_b"))
        .select(col("doc_id").as("doc_a"), col("doc_b"))
        .distinct()
        .orderBy("doc_a", "doc_b")
      CacheScope.eval(result)(fp)
    },
    Some(s"""
      WITH $simhashSql,
      variants AS (
        SELECT doc_id,
               unnest(list_distinct(list_append(
                 list_transform(range(1, 33), i -> substr(simhash, 1, CAST(i AS INT)-1)
                   || (CASE WHEN substr(simhash, CAST(i AS INT), 1) = '0'
                            THEN '1' ELSE '0' END)
                   || substr(simhash, CAST(i AS INT)+1, 32-CAST(i AS INT))),
                 simhash))) AS variant
        FROM sfp)
      SELECT DISTINCT v.doc_id AS doc_a, f.doc_id AS doc_b
      FROM variants v
      JOIN sfp f ON v.variant = f.simhash AND v.doc_id < f.doc_id
      ORDER BY doc_a, doc_b""")
  )

  /** SimHash retrieval at Hamming distance ≤ 2 — the distance-budget
    * SPLIT generalization (operators.TextDedup.hammingPairs): both
    * join sides emit ≤1-bit-flip variants (33N keys each), and any
    * pair at distance ≤ 2 meets on an equal variant; 529N one-sided
    * pair-flip keys never exist. The oracle replays with DuckDB's
    * hamming() over the bit-strings — an O(N²) check that is fine at
    * oracle scale and exactly what the split join avoids at corpus
    * scale. */
  val simhashHamming2: Q = Q(
    "dd_simhash_hamming2",
    (s, dir) => {
      import graft.operators.CacheScope
      val fp = graft.operators.TextDedup
        .simhashInt(Tables(s, dir, "documents"), 32)
        .persist() // lazy for the same reason as dd_simhash_hamming
      val result = graft.operators.TextDedup
        .hammingPairs(fp, bits = 32, maxDistance = 2)
        .orderBy("doc_a", "doc_b")
      CacheScope.eval(result)(fp)
    },
    Some(s"""
      WITH $simhashSql
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             hamming(a.simhash, b.simhash) AS dist
      FROM sfp a JOIN sfp b
        ON a.doc_id < b.doc_id AND hamming(a.simhash, b.simhash) <= 2
      ORDER BY doc_a, doc_b""")
  )

  /** Decontamination — the train/eval n-gram overlap report every
    * training-data pipeline runs before shipping a corpus: for each
    * (training doc, eval doc) pair sharing at least one 6-word shingle,
    * the count of distinct shared shingles. The eval set here is the
    * deterministic 10% slice `doc_id % 10 = 0`; in production it is a
    * benchmark corpus, small by nature — hence the BROADCAST of the
    * eval gram table, making the whole op a narrow scan + broadcast
    * join + one groupBy on the (rare) contaminated pairs. Grams join
    * on xxhash64 keys (8 bytes instead of ~40-byte strings); the hash
    * never reaches the output, so the oracle replays on the strings
    * themselves. */
  val decontaminate: Q = Q(
    "dd_decontaminate",
    (s, dir) => {
      val grams = graft.operators.TextDedup
        .kShingles(Tables(s, dir, "documents"), 6)
        .select(col("doc_id"), xxhash64(col("shingle")).as("g"))
      val ev = grams.filter(col("doc_id") % 10 === 0)
        .select(col("doc_id").as("eval_id"), col("g"))
      grams.join(broadcast(ev), "g")
        .filter(col("doc_id") =!= col("eval_id"))
        .groupBy("doc_id", "eval_id")
        .agg(count(lit(1)).as("n_shared"))
        .orderBy("doc_id", "eval_id")
    },
    Some(s"""
      WITH ${grams6Sql("grams")},
      ev AS (
        SELECT doc_id AS eval_id, gram FROM grams WHERE doc_id % 10 = 0)
      SELECT g.doc_id, e.eval_id, count(*) AS n_shared
      FROM grams g JOIN ev e USING (gram)
      WHERE g.doc_id <> e.eval_id
      GROUP BY 1, 2 ORDER BY 1, 2""")
  )

  /** Contamination RATE — the soft decontamination signal next to
    * [[decontaminate]]'s hard membership join: for every training doc,
    * the fraction of its distinct 6-grams that appear anywhere in the
    * eval set (the overlap statistic contamination studies actually
    * report, where a hard filter would be all-or-nothing). The rate is
    * one IEEE division of two exact integers, so both engines emit the
    * identical double. Per-doc output, so the result is bounded by the
    * corpus, not the gram table.
    *
    * Scale (100 TB): grams travel as xxhash64 longs (8 B vs ~40 B of
    * text); the eval-side gram UNIVERSE (distinct grams, not docs) is
    * the broadcast — benchmark suites are tiny next to a training
    * corpus, which makes the contamination probe a map-side join over
    * the training scan, no exchange of the corpus at all. */
  val contaminationRate: Q = Q(
    "dd_contamination_rate",
    (s, dir) => {
      val grams = graft.operators.TextDedup
        .kShingles(Tables(s, dir, "documents"), 6)
        .select(col("doc_id"), xxhash64(col("shingle")).as("g"))
      val evalGrams = grams.filter(col("doc_id") % 10 === 0)
        .select("g").distinct().withColumn("hit", lit(1))
      grams.filter(col("doc_id") % 10 =!= 0)
        .join(broadcast(evalGrams), Seq("g"), "left")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_grams"),
          count(col("hit")).as("n_contaminated"))
        .withColumn("contamination_rate",
          col("n_contaminated").cast("double") / col("n_grams"))
        .orderBy("doc_id")
    },
    Some(s"""
      WITH ${grams6Sql("grams")},
      evg AS (SELECT DISTINCT gram FROM grams WHERE doc_id % 10 = 0),
      tr AS (SELECT doc_id, gram FROM grams WHERE doc_id % 10 <> 0)
      SELECT tr.doc_id, count(*) AS n_grams,
             count(e.gram) AS n_contaminated,
             CAST(count(e.gram) AS DOUBLE) / count(*)
               AS contamination_rate
      FROM tr LEFT JOIN evg e ON e.gram = tr.gram
      GROUP BY 1 ORDER BY 1""")
  )

  /** MinHash accuracy certification — est-vs-exact Jaccard for every
    * LSH candidate pair, the sketch-quality report that justifies
    * running the cheap estimate at corpus scale (the rel_sketch_bound
    * pattern applied to MinHash): est = matching signature positions /
    * numPerms, exact = |A∩B|/|A∪B| from the shingle sets, plus the
    * absolute error. Cost ∝ candidates (never pairs²); both engines
    * derive every double by the identical IEEE sequence (int/8
    * division, int/int division, one subtraction), so all three float
    * columns hash-match. A candidate pair sharing band buckets but no
    * shingle (md5 collision — not observed, but semantically possible)
    * exact-scores 0 via the left join's COALESCE rather than dropping. */
  val minhashBound: Q = Q(
    "dd_minhash_bound",
    (s, dir) => {
      import graft.operators.{CacheScope, TextDedup}
      // hashed 16-byte gram keys persisted once (r21; see pairOverlap)
      val sh = TextDedup.hashedShingles(Tables(s, dir, "documents"))
        .persist()
      val sigs = TextDedup.signaturesNarrow(
        Tables(s, dir, "documents"), 8).persist()
      // cand feeds BOTH the estimate join and the overlap kernel —
      // persisted so the band self-join runs once, not once per branch
      val cand = TextDedup.candidates(TextDedup.bands(sigs, 8, 2))
        .select("doc_a", "doc_b").persist()
      val matches = (0 until 8)
        .map(i => when(col(s"a.h$i") === col(s"b.h$i"), 1).otherwise(0))
        .reduce(_ + _)
      val est = cand
        .join(sigs.as("a"), col("doc_a") === col("a.doc_id"))
        .join(sigs.as("b"), col("doc_b") === col("b.doc_id"))
        .select(col("doc_a"), col("doc_b"),
          (matches.cast("double") / lit(8.0)).as("est_jaccard"))
      val result = est
        .join(TextDedup.pairOverlap(sh, cand), Seq("doc_a", "doc_b"))
        .withColumn("jaccard",
          col("n_inter").cast("double") /
            (col("n_a") + col("n_b") - col("n_inter")))
        .select(col("doc_a"), col("doc_b"), col("est_jaccard"),
          col("jaccard"),
          abs(col("est_jaccard") - col("jaccard")).as("abs_err"))
        .orderBy("doc_a", "doc_b")
      CacheScope.eval(result)(sh, sigs, cand)
    },
    Some(s"""
      WITH $shinglesSql, $sigSql, $candSql,
      sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
      inter AS (
        SELECT c.doc_a, c.doc_b, count(*) AS n_inter
        FROM cand c
        JOIN sh a ON a.doc_id = c.doc_a
        JOIN sh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
        GROUP BY 1, 2),
      j AS (
        SELECT c.doc_a, c.doc_b,
               CAST((CASE WHEN a.h0 = b.h0 THEN 1 ELSE 0 END) +
                    (CASE WHEN a.h1 = b.h1 THEN 1 ELSE 0 END) +
                    (CASE WHEN a.h2 = b.h2 THEN 1 ELSE 0 END) +
                    (CASE WHEN a.h3 = b.h3 THEN 1 ELSE 0 END) +
                    (CASE WHEN a.h4 = b.h4 THEN 1 ELSE 0 END) +
                    (CASE WHEN a.h5 = b.h5 THEN 1 ELSE 0 END) +
                    (CASE WHEN a.h6 = b.h6 THEN 1 ELSE 0 END) +
                    (CASE WHEN a.h7 = b.h7 THEN 1 ELSE 0 END)
                 AS DOUBLE) / 8 AS est_jaccard,
               CAST(COALESCE(i.n_inter, 0) AS DOUBLE) /
                 (sa.n + sb.n - COALESCE(i.n_inter, 0)) AS jaccard
        FROM cand c
        JOIN sig a ON a.doc_id = c.doc_a
        JOIN sig b ON b.doc_id = c.doc_b
        LEFT JOIN inter i ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
        JOIN sizes sa ON sa.doc_id = c.doc_a
        JOIN sizes sb ON sb.doc_id = c.doc_b)
      SELECT doc_a, doc_b, est_jaccard, jaccard,
             abs(est_jaccard - jaccard) AS abs_err
      FROM j ORDER BY doc_a, doc_b""")
  )

  /** Bloom-gated decontamination — the same train/eval overlap report
    * as [[decontaminate]], in the shape it takes when the eval gram set
    * is too large to broadcast as exact rows: build a Bloom filter over
    * the eval gram hashes ONCE (one aggregate job on the small side,
    * ~0.9 MB of bits per million grams), gate the train-side gram
    * stream with a narrow codegen'd probe (functions.BloomMightContain)
    * BEFORE the exchange, and shuffle-join only the survivors for the
    * exact intersection count. The filter admits ~fpp false positives
    * — all removed by the exact join — and zero false negatives, so
    * the result is bit-identical to the ungated variant: this query
    * runs against [[decontaminate]]'s oracle verbatim, which is the
    * certification. Shuffled volume drops from every train gram to
    * (true overlaps + fpp·grams) — at 100 TB that is the difference
    * between shuffling the corpus and shuffling a rounding error. */
  val decontaminateBloom: Q = Q(
    "dd_decontaminate_bloom",
    (s, dir) => {
      import graft.operators.{Bloom, CacheScope}
      val grams = graft.operators.TextDedup
        .kShingles(Tables(s, dir, "documents"), 6)
        .select(col("doc_id"), xxhash64(col("shingle")).as("g"))
      // the eval slice feeds the filter build AND the exact join; the
      // build job fills the (lazy) cache in passing. The doc filter
      // sits BELOW the shingle explode — the build job scans only the
      // eval corpus, not every document's grams.
      val ev = graft.operators.TextDedup
        .kShingles(Tables(s, dir, "documents")
          .filter(col("doc_id") % 10 === 0), 6)
        .select(col("doc_id").as("eval_id"),
          xxhash64(col("shingle")).as("g")).persist()
      val bits = Bloom.buildLong(ev, "g")
      val result = grams
        .filter(Bloom.gateLong(s, bits, col("g")))
        .join(ev.hint("shuffle_hash"), "g") // the no-broadcast scale path
        .filter(col("doc_id") =!= col("eval_id"))
        .groupBy("doc_id", "eval_id")
        .agg(count(lit(1)).as("n_shared"))
        .orderBy("doc_id", "eval_id")
      CacheScope.eval(result)(ev)
    },
    Some(s"""
      WITH ${grams6Sql("grams")},
      ev AS (
        SELECT doc_id AS eval_id, gram FROM grams WHERE doc_id % 10 = 0)
      SELECT g.doc_id, e.eval_id, count(*) AS n_shared
      FROM grams g JOIN ev e USING (gram)
      WHERE g.doc_id <> e.eval_id
      GROUP BY 1, 2 ORDER BY 1, 2""")
  )

  /** Embedding near-dup via sign-random-projection (SRP) buckets:
    * 8 md5-derived ±1 hyperplanes → 8 sign bits → bucket; exact cosine
    * only within buckets. Bucketing is one narrow map (native dots
    * against literal coefficient vectors — operators.Srp; no explode,
    * no coefficient join, no aggregation), so the only shuffle is the
    * bucket-key pair join: linear + Σ bucket².
    *
    * cosine = seqfold(dot) / (√seqfold(a²)·√seqfold(b²)): strict
    * left-to-right folds replayed exactly by DuckDB's list_reduce →
    * bit-identical doubles; the >= 0.15 filter applies to the same raw
    * value on both sides. */
  val embedSrp: Q = Q(
    "dd_embed_srp",
    (s, dir) => {
      import graft.operators.{CacheScope, Srp}
      // Persisted lazily once: the bucket self-join would otherwise
      // recompute the projection lineage for each side, and an eager
      // checkpoint would cost a separate full pass (r6 VERDICT).
      val withVec = Srp.withBucket(s, Tables(s, dir, "embeddings"), 8)
        .persist()
      val a = withVec.select(col("vec_id").as("vec_a"),
        col("bucket"), col("embedding").as("ea"))
      val b = withVec.select(col("vec_id").as("vec_b"),
        col("bucket").as("bucket_b"), col("embedding").as("eb"))
      val result = a.join(b, col("bucket") === col("bucket_b") &&
          col("vec_a") < col("vec_b"))
        .withColumn("cosine",
          graft.functions.VectorFns.cosineNative(s, "ea", "eb"))
        .select(col("vec_a"), col("vec_b"), col("bucket"), col("cosine"))
        .filter(col("cosine") >= 0.15)
        .orderBy("vec_a", "vec_b")
      CacheScope.eval(result)(withVec)
    },
    Some(s"""
      WITH ${graft.operators.Srp.duckCoefCte(8)},
      wv AS (
        SELECT vec_id, embedding,
               ${graft.operators.Srp.duckBucketExpr(8)} AS bucket
        FROM embeddings),
      pairs AS (
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.bucket,
               ${graft.functions.VectorFns.duckCosine(
                 "a.embedding", "b.embedding")} AS cosine
        FROM wv a JOIN wv b ON a.bucket = b.bucket AND a.vec_id < b.vec_id)
      SELECT vec_a, vec_b, bucket, cosine
      FROM pairs WHERE cosine >= 0.15
      ORDER BY vec_a, vec_b""")
  )

  /** Duplicate-cluster resolution: connected components over the LSH
    * candidate-pair graph (operators.ConnectedComponents min-label
    * propagation), labeling every clustered doc with its component's
    * minimum doc id — the representative a keep-one dedup policy
    * retains. The DuckDB oracle derives the identical fixpoint with a
    * recursive transitive-closure CTE. */
  val dupClusters: Q = Q(
    "dd_dup_clusters",
    (s, dir) =>
      lshLabels(Tables(s, dir, "documents"))
        .select(col("id").as("doc_id"), col("cluster"))
        .orderBy("doc_id"),
    Some(s"""
      WITH RECURSIVE $shinglesSql, $sigSql, $candSql,
      bidir AS (
        SELECT doc_a AS a, doc_b AS b FROM cand
        UNION SELECT doc_b, doc_a FROM cand),
      reach(a, b) AS (
        SELECT a, b FROM bidir
        UNION
        SELECT r.a, e.b FROM reach r JOIN bidir e ON r.b = e.a
        WHERE e.b <> r.a)
      SELECT a AS doc_id, least(a, min(b)) AS cluster
      FROM reach GROUP BY a ORDER BY doc_id""")
  )

  /** The keep-one dedup MATERIALIZATION — the corpus a training run
    * actually reads: every document except clustered non-
    * representatives (cluster members whose id is not the component
    * minimum). Composes the cluster labels with a left-anti join on
    * the drop set; the drop set is proportional to the duplicate rate,
    * the anti-join shuffles once on doc_id. */
  val dedupCorpus: Q = Q(
    "dd_dedup_corpus",
    (s, dir) => {
      val docs = Tables(s, dir, "documents")
      val labels = lshLabels(docs)
      val drop = labels.filter(col("cluster") =!= col("id"))
        .select(col("id").as("doc_id"))
      // the anti-join's stream side is the raw corpus scan — give it
      // the same parallelism floor the fingerprint builders get, or a
      // single-row-group file serializes the whole anti-join + sort
      val result = graft.operators.Partitioning
        .ensureParallelism(docs.select(col("doc_id")), "doc_id")
        .join(drop, Seq("doc_id"), "left_anti")
        .orderBy("doc_id")
      graft.operators.CacheScope.eval(result)(labels)
    },
    Some(s"""
      WITH RECURSIVE $shinglesSql, $sigSql, $candSql,
      bidir AS (
        SELECT doc_a AS a, doc_b AS b FROM cand
        UNION SELECT doc_b, doc_a FROM cand),
      reach(a, b) AS (
        SELECT a, b FROM bidir
        UNION
        SELECT r.a, e.b FROM reach r JOIN bidir e ON r.b = e.a
        WHERE e.b <> r.a),
      clusters AS (
        SELECT a AS doc_id, least(a, min(b)) AS cluster
        FROM reach GROUP BY a)
      SELECT d.doc_id
      FROM documents d LEFT JOIN clusters c ON d.doc_id = c.doc_id
      WHERE c.cluster IS NULL OR c.cluster = d.doc_id
      ORDER BY d.doc_id""")
  )

  /** Corpus-health report — exact-duplicate rate per source: the
    * monitoring number a pipeline tracks per crawl/feed to catch a
    * misbehaving source before it floods training data. Duplicate
    * membership comes from a count-over-window PARTITIONED BY the
    * content hash (hash-partitioned — never a global window), then one
    * bounded-key groupBy on source. dup_rate is one int/int IEEE
    * division, identical in both engines. */
  val dupRateBySource: Q = Q(
    "dd_dup_rate_by_source",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("h")
      Tables(s, dir, "documents")
        .withColumn("h", md5(col("text")))
        .withColumn("n_same", count(lit(1)).over(w))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("n_same") > 1, 1L).otherwise(0L)).as("n_dup_docs"))
        .withColumn("dup_rate",
          col("n_dup_docs").cast("double") / col("n_docs"))
        .orderBy("source")
    },
    Some("""
      WITH h AS (
        SELECT source,
               count(*) OVER (PARTITION BY md5(text)) AS n_same
        FROM documents)
      SELECT source, count(*) AS n_docs,
             CAST(sum(CASE WHEN n_same > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dup_docs,
             CAST(sum(CASE WHEN n_same > 1 THEN 1 ELSE 0 END) AS DOUBLE)
               / count(*) AS dup_rate
      -- NULLS FIRST: Spark's ASC sort default; a NULL source row
      -- would otherwise order last here and flip the row-order hash
      -- (r20 review)
      FROM h GROUP BY 1 ORDER BY 1 NULLS FIRST""")
  )

  /** Corpus-level duplicate n-gram rate per source — the memorization-
    * risk metric sub-document dedup studies report: of ALL 6-gram
    * OCCURRENCES a source contributes (instances, not per-doc distinct
    * — a doc repeating its own boilerplate is exactly the signal), the
    * fraction whose gram appears more than once in the WHOLE corpus.
    * Complements [[dupRateBySource]] (doc-level exact dup rate) and
    * [[sourceOverlap]] (pairwise distinct-gram sharing) with the
    * instance-level number that tracks how much of a source's token
    * mass is repeated text a model could memorize.
    *
    * Shape at 100 TB: gram TEXT never travels — instances collapse
    * map-side into (xxhash64(gram), source) counts, ONE linear shuffle
    * on the 8-byte hash; corpus-wide totals are a window PARTITIONED BY
    * that same hash (hash-distributed, never global); the report is a
    * bounded-|sources| groupBy. A 64-bit gram-hash collision merging
    * two grams is the stated resolution (the [[sourceOverlap]] /
    * decontamination idiom); the oracle replays over the gram text
    * itself. */
  val ngramDupRate: Q = Q(
    "dd_ngram_dup_rate",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val inst = graft.operators.TextDedup
        .hashedGramInstances(Tables(s, dir, "documents"), 6,
          Seq("source"))
        .select("source", "g")
      inst.groupBy("g", "source").agg(count(lit(1)).as("c"))
        .withColumn("n_total", sum("c").over(Window.partitionBy("g")))
        .groupBy("source")
        .agg(
          sum("c").as("n_instances"),
          sum(when(col("n_total") > 1, col("c")).otherwise(0L))
            .as("n_dup_instances"),
          count(lit(1)).as("n_distinct_grams"))
        .withColumn("dup_rate",
          col("n_dup_instances").cast("double") / col("n_instances"))
        .orderBy("source")
    },
    Some("""
      WITH inst AS (
        SELECT source,
               unnest(list_transform(range(1, len(l) - 6 + 2),
                 i -> array_to_string(l[i:i+5], ' '))) AS gram
        FROM (SELECT source, string_split(text, ' ') AS l FROM documents)),
      g AS (SELECT gram, source, count(*) AS c FROM inst GROUP BY 1, 2),
      w AS (SELECT source, c,
                   sum(c) OVER (PARTITION BY gram) AS n_total FROM g)
      SELECT source,
             CAST(sum(c) AS BIGINT) AS n_instances,
             CAST(sum(CASE WHEN n_total > 1 THEN c ELSE 0 END) AS BIGINT)
               AS n_dup_instances,
             CAST(count(*) AS BIGINT) AS n_distinct_grams,
             CAST(sum(CASE WHEN n_total > 1 THEN c ELSE 0 END) AS DOUBLE)
               / sum(c) AS dup_rate
      FROM w GROUP BY 1 ORDER BY 1 NULLS FIRST""")
  )

  /** Maximal repeated-span report per document — the exact-substring
    * dedup signal at sub-paragraph grain ([[ngramDupRate]] gives the
    * corpus rate; THIS names where the repeats live): every 20-token
    * window occurring more than once corpus-wide marks its start, and
    * per doc the marked starts merge into maximal spans (touching or
    * overlapping covered ranges — gaps-and-islands over positions).
    * Reports exact span count, repeated-token union length, and the
    * repeated fraction per doc — what span-level scrubbing
    * (the Lee et al. 2021 cut-the-substring treatment) would remove.
    * Physical plan is [[graft.operators.TextDedup.repeatedSpans]]:
    * position+hash triples only through the shuffles, one count
    * window on the gram hash, per-doc island merge bounded by doc
    * length. */
  val repeatedSpans: Q = Q(
    "dd_repeated_spans",
    (s, dir) => {
      val docs = Tables(s, dir, "documents")
      val sp = graft.operators.TextDedup.repeatedSpans(docs, 20)
      docs
        .select(col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("n_tokens"))
        .join(sp, Seq("doc_id"), "left")
        .select(
          col("doc_id"),
          col("n_tokens"),
          coalesce(col("n_spans"), lit(0L)).as("n_repeated_spans"),
          coalesce(col("rep_tokens"), lit(0L)).as("repeated_tokens"),
          (coalesce(col("rep_tokens"), lit(0L)).cast("double")
            / col("n_tokens")).as("repeated_fraction"))
        .orderBy("doc_id")
    },
    Some("""
      WITH inst AS (
        SELECT doc_id, unnest(range(1, len(l) - 20 + 2)) AS pos, l
        FROM (SELECT doc_id, string_split(text, ' ') AS l
              FROM documents)),
      g AS (
        SELECT doc_id, pos,
               count(*) OVER (
                 PARTITION BY array_to_string(l[pos:pos+19], ' '))
                 AS cnt
        FROM inst),
      r AS (SELECT doc_id, pos FROM g WHERE cnt > 1),
      s AS (
        SELECT doc_id, pos,
               CASE WHEN lag(pos) OVER w IS NULL
                      OR pos - lag(pos) OVER w > 20
                    THEN 1 ELSE 0 END AS new_span
        FROM r WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
      si AS (
        SELECT doc_id, pos,
               sum(new_span) OVER (PARTITION BY doc_id ORDER BY pos
                                   ROWS UNBOUNDED PRECEDING) AS span_id
        FROM s),
      spans AS (
        SELECT doc_id, span_id, min(pos) AS st, max(pos) AS en
        FROM si GROUP BY 1, 2),
      agg AS (
        SELECT doc_id, count(*) AS n_spans,
               sum(en - st + 20) AS rep_tokens
        FROM spans GROUP BY 1)
      SELECT d.doc_id,
             CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens,
             CAST(coalesce(a.n_spans, 0) AS BIGINT) AS n_repeated_spans,
             CAST(coalesce(a.rep_tokens, 0) AS BIGINT) AS repeated_tokens,
             CAST(coalesce(a.rep_tokens, 0) AS DOUBLE)
               / len(string_split(d.text, ' ')) AS repeated_fraction
      FROM documents d LEFT JOIN agg a USING (doc_id)
      ORDER BY d.doc_id""")
  )

  /** The exact-substring TREATMENT [[repeatedSpans]] reports on —
    * scrub every repeated 20-token window except its first corpus
    * occurrence (min (doc, pos) keeper election, the window-grain
    * sibling of [[paragraphDedup]]'s df-threshold scrub) and rebuild
    * each document from the surviving positions. Reports the exact
    * removed-token count and the scrubbed text per doc; docs shrink
    * but never vanish, so corpus membership is stable through the
    * pass. Physical plan is
    * [[graft.operators.TextDedup.scrubRepeatedSpans]]: gram-hash
    * windows for election, per-doc island merge, one bounded span
    * list joined back per doc for a single higher-order rebuild —
    * token text never rides the gram shuffle. */
  val spanScrub: Q = Q(
    "dd_span_scrub",
    (s, dir) => graft.operators.TextDedup
      .scrubRepeatedSpans(Tables(s, dir, "documents"), 20)
      .orderBy("doc_id"),
    Some("""
      WITH inst AS (
        SELECT doc_id, unnest(range(1, len(l) - 20 + 2)) AS pos, l
        FROM (SELECT doc_id, string_split(text, ' ') AS l
              FROM documents)),
      gr AS (
        SELECT doc_id, pos,
               count(*) OVER (
                 PARTITION BY array_to_string(l[pos:pos+19], ' '))
                 AS cnt,
               row_number() OVER (
                 PARTITION BY array_to_string(l[pos:pos+19], ' ')
                 ORDER BY doc_id, pos) AS rn
        FROM inst),
      scrub AS (SELECT doc_id, pos FROM gr WHERE cnt > 1 AND rn > 1),
      s AS (
        SELECT doc_id, pos,
               CASE WHEN lag(pos) OVER w IS NULL
                      OR pos - lag(pos) OVER w > 20
                    THEN 1 ELSE 0 END AS ns
        FROM scrub WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
      si AS (
        SELECT doc_id, pos,
               sum(ns) OVER (PARTITION BY doc_id ORDER BY pos
                             ROWS UNBOUNDED PRECEDING) AS sid
        FROM s),
      spans AS (
        SELECT doc_id, sid, min(pos) AS st, max(pos) + 19 AS en
        FROM si GROUP BY 1, 2),
      sp AS (
        SELECT doc_id, list({'s': st, 'e': en}) AS spans
        FROM spans GROUP BY 1),
      base AS (
        SELECT d.doc_id, string_split(d.text, ' ') AS l,
               coalesce(p.spans,
                 CAST([] AS STRUCT(s BIGINT, e BIGINT)[])) AS spans
        FROM documents d LEFT JOIN sp p USING (doc_id)),
      reb AS (
        SELECT doc_id, l,
               [i FOR i IN range(1, len(l) + 1)
                  IF len([x FOR x IN spans
                            IF i >= x.s AND i <= x.e]) = 0] AS kept
        FROM base)
      SELECT doc_id,
             CAST(coalesce(len(l), 0) AS BIGINT) AS n_tokens,
             CAST(coalesce(len(l) - len(kept), 0) AS BIGINT)
               AS n_scrubbed_tokens,
             CASE WHEN l IS NULL THEN NULL
                  ELSE coalesce(
                    array_to_string([l[i] FOR i IN kept], ' '), '')
             END AS scrubbed_text
      FROM reb ORDER BY doc_id""")
  )

  /** Cross-source near-duplication overlap matrix — for every source
    * pair, the number of distinct 6-grams BOTH emit: the provenance
    * report that tells a pipeline which feeds mirror each other
    * (syndication, scrapes of the same site) before per-source mix
    * weights are trusted. Shape at 100 TB: ONE groupBy shuffle on the
    * 8-byte gram hash collapses the corpus to per-gram source SETS
    * (map-side combined, each set bounded by |sources|); pair
    * generation is then a narrow double-explode whose fan-out is
    * |sources-sharing-the-gram|² per gram, never corpus² — no
    * self-join, no second shuffle of the gram table, no cache to
    * manage. Gram identity is the xxhash64 of the gram text (the
    * dd_decontaminate idiom): a 64-bit collision merging two grams is
    * the report's stated resolution. */
  val sourceOverlap: Q = Q(
    "dd_source_overlap",
    (s, dir) => {
      val docs = Tables(s, dir, "documents")
      graft.operators.TextDedup.kShingles(docs, 6)
        .join(docs.select("doc_id", "source"), "doc_id")
        .select(xxhash64(col("shingle")).as("g"), col("source"))
        .groupBy("g").agg(collect_set("source").as("ss"))
        .filter(size(col("ss")) > 1)
        .select(explode(col("ss")).as("source_a"), col("ss"))
        .select(col("source_a"), explode(col("ss")).as("source_b"))
        .filter(col("source_a") < col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(count(lit(1)).as("n_shared_grams"))
        .orderBy("source_a", "source_b")
    },
    Some(s"""
      WITH ${grams6Sql("grams")},
      gs AS (
        SELECT DISTINCT d.source, g.gram
        FROM grams g JOIN documents d USING (doc_id))
      SELECT a.source AS source_a, b.source AS source_b,
             count(*) AS n_shared_grams
      FROM gs a JOIN gs b ON a.gram = b.gram AND a.source < b.source
      GROUP BY 1, 2 ORDER BY 1, 2""")
  )

  /** The WHOLE curation pipeline as ONE declarative plan — the
    * composition every training-data run executes end-to-end: LSH
    * near-dup clustering → keep one doc per cluster → drop the eval
    * slice and every train doc sharing a 6-gram with it
    * (Bloom-pre-gated, exactly verified) → per-language mix
    * downsampling → per-source token-budget shard packing. Each stage
    * is individually certified elsewhere (dd_dedup_corpus,
    * dd_decontaminate_bloom, ta_corpus_mix, ta_shard_assign); this
    * query certifies their COMPOSITION, where join-order and
    * pushdown surprises live — the same reasoning as the composed
    * deprecated-course-path port (ref_term_courses_deprecated).
    *
    * Plan shape at 100 TB: the near-dup stage is the only
    * multi-round piece (log-diameter CC); everything after is
    * anti-joins on doc_id (one partitioning reused), a narrow mix
    * gate, and packShards' two-level window. The Bloom gate keeps the
    * exact-verify join's input at (true overlaps + fpp), never the
    * full gram stream. */
  val curationPipeline: Q = Q(
    "dd_curation_pipeline",
    (s, dir) => {
      import graft.operators.{Bloom, CacheScope, TextDedup}
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration.Duration
      import scala.concurrent.ExecutionContext.Implicits.global
      val docs = Tables(s, dir, "documents")
      // Stages 1 (near-dup clustering) and 2 (decontamination gate)
      // are INDEPENDENT sub-jobs that only meet again at `kept`, yet
      // each blocks the driver mid-call: lshCandidates materializes
      // the candidate pairs, minLabel runs the union-find collect (or
      // the log-diameter rounds), Bloom.buildLong aggregates the
      // eval-slice grams. Submitting the clustering chain from a
      // second thread overlaps the two phases (profiled r20: ~1.2 s
      // clustering + ~1.0 s bloom build ran back-to-back); on a
      // cluster the overlapped job's tasks back-fill executors freed
      // by the other's straggler tail. Both sides are deterministic
      // and share no mutable state — Spark job submission is
      // thread-safe by design — so results are unchanged.
      // stage 1: near-dup clusters, keep the min-id representative
      val labelsF = Future(lshLabels(docs))
      // stage 2: exact decontamination, bloom-gated. If the bloom
      // build throws, OBSERVE the clustering future before
      // propagating (r20 advice): otherwise it keeps running detached
      // and its band persist + minLabel checkpoint blocks leak until
      // GC — ready(..) waits without masking the bloom error with a
      // possibly-later clustering one. evGrams and kept are materialized
      // rather than persisted: both plans end in a shuffle, and a
      // persisted plan keeps spark.sql.shuffle.partitions partitions
      // (AQE does not coalesce a cached plan's output), so every stage
      // that reads them would run that many tasks (CacheScope).
      val evGrams = CacheScope.materialize(TextDedup
        .kShingles(docs.filter(col("doc_id") % 10 === 0), 6)
        .select(xxhash64(col("shingle")).as("g")).distinct())
      val bits =
        try Bloom.buildLong(evGrams, "g")
        catch {
          case t: Throwable =>
            try {
              Await.ready(labelsF, Duration.Inf)
              labelsF.value.foreach(_.foreach(CacheScope.releaseCheckpoint))
            } catch { case _: Throwable => () }
            CacheScope.releaseCheckpoint(evGrams)
            throw t
        }
      val labels = Await.result(labelsF, Duration.Inf)
      val dupDrop = labels.filter(col("cluster") =!= col("id"))
        .select(col("id").as("doc_id"))
      val contaminated = TextDedup
        .kShingles(docs.filter(col("doc_id") % 10 =!= 0), 6)
        .select(col("doc_id"), xxhash64(col("shingle")).as("g"))
        .filter(Bloom.gateLong(s, bits, col("g")))
        .join(evGrams, "g")
        .select("doc_id").distinct()
      // stages 3+4: language mix gate, then shard packing. kept's
      // lineage carries every upstream stage and feeds BOTH packShards
      // consumers (the bucket-offset broadcast subtree and the window
      // probe) — materialized once, here, so neither side replays the
      // dedup/decontamination work and both read AQE-sized partitions.
      val kept = CacheScope.materialize(docs
        .filter(col("doc_id") % 10 =!= 0)
        .join(dupDrop, Seq("doc_id"), "left_anti")
        .join(contaminated, Seq("doc_id"), "left_anti")
        .filter(TextAnalysis.mixGate)
        .withColumn("n_tokens", size(split(col("text"), " ")).cast("long")))
      val result = graft.operators.Partitioning
        .packShards(kept, "source", "doc_id", "n_tokens", budget = 2000L)
        .select("source", "doc_id", "lang", "n_tokens", "shard")
        .orderBy("source", "shard", "doc_id")
      CacheScope.eval(result)(labels, evGrams, kept)
    },
    Some(s"""
      WITH RECURSIVE $shinglesSql, $sigSql, $candSql,
      bidir AS (
        SELECT doc_a AS a, doc_b AS b FROM cand
        UNION SELECT doc_b, doc_a FROM cand),
      reach(a, b) AS (
        SELECT a, b FROM bidir
        UNION
        SELECT r.a, e.b FROM reach r JOIN bidir e ON r.b = e.a
        WHERE e.b <> r.a),
      clusters AS (
        SELECT a AS doc_id, least(a, min(b)) AS cluster
        FROM reach GROUP BY a),
      ${grams6Sql("grams6")},
      contam AS (
        SELECT DISTINCT g.doc_id
        FROM grams6 g JOIN grams6 e ON g.gram = e.gram
        WHERE g.doc_id % 10 <> 0 AND e.doc_id % 10 = 0),
      kept AS (
        SELECT d.source, d.doc_id, d.lang,
               CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens
        FROM documents d
        LEFT JOIN clusters c ON d.doc_id = c.doc_id
        WHERE (c.cluster IS NULL OR c.cluster = d.doc_id)
          AND d.doc_id % 10 <> 0
          AND d.doc_id NOT IN (SELECT doc_id FROM contam)
          AND ${TextAnalysis.mixGateSql("d")})
      SELECT source, doc_id, lang, n_tokens,
             CAST(floor((cum - n_tokens) / 2000) AS BIGINT) AS shard
      FROM (
        SELECT *, sum(n_tokens) OVER (
                 PARTITION BY source
                 ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
                 ROWS UNBOUNDED PRECEDING) AS cum
        FROM kept)
      ORDER BY source, shard, doc_id""")
  )

  /** INCREMENTAL dedup — the daily-crawl production pattern: dedup a
    * NEW batch (docs with doc_id % 7 == 0, the fixture's "today")
    * against the EXISTING corpus (the rest) without ever re-shuffling
    * the corpus itself. The corpus is reduced once to 8-byte
    * fingerprints; a Bloom filter over them gates the batch so that
    * only might-be-duplicate rows reach the exact anti-join —
    * definitely-new rows (the overwhelming majority of a real crawl)
    * short-circuit on a narrow per-row test. Same Bloom-then-exact
    * two-phase as dd_decontaminate_bloom; the md5 text fingerprint is
    * the dd_exact identity stance.
    *
    * Scale shape at 100 TB: the corpus is scanned ONCE — both
    * fingerprints (md5 for exact identity, xxhash64 for the Bloom
    * key) come out of the same pass, persisted at ~40 bytes/doc (the
    * production pattern keeps this fingerprint table across days, so
    * the daily cost is the batch side only); the Bloom build fills
    * the cache and the anti-join re-reads it. The batch side is a
    * narrow gate plus an anti-join whose LEFT input is only (true
    * dups + Bloom fpp)·|batch| rows, never |batch|. No join touches
    * document text. */
  val incremental: Q = Q(
    "dd_incremental",
    (s, dir) => {
      import graft.operators.{Bloom, CacheScope}
      val all = Tables(s, dir, "documents")
      val corpus = all.filter(col("doc_id") % 7 =!= 0)
        .select(md5(col("text")).as("fp"), xxhash64(col("text")).as("fpl"))
        .persist()
      val bits = Bloom.buildLong(corpus.select("fpl"), "fpl")
      val batch = all.filter(col("doc_id") % 7 === 0)
        // coalesce: a NULL-text doc hashes to a NULL key and the gate
        // returns NULL — both filters below would then drop the row
        // from BOTH branches, silently losing it, where the oracle's
        // NOT EXISTS (NULL never equals) keeps it. NULL text is
        // definitionally fresh (nothing to match).
        .withColumn("might",
          coalesce(Bloom.gateLong(s, bits, xxhash64(col("text"))),
            lit(false)))
      val fresh = batch.filter(!col("might"))
      val survivors = batch.filter(col("might"))
        .withColumn("fp", md5(col("text")))
        .join(corpus.select("fp").distinct(), Seq("fp"), "left_anti")
      CacheScope.eval(
        fresh.select("doc_id", "lang", "source")
          .unionByName(survivors.select("doc_id", "lang", "source"))
          .orderBy("doc_id"))(corpus)
    },
    Some("""
      SELECT doc_id, lang, source FROM documents b
      WHERE doc_id % 7 = 0 AND NOT EXISTS (
        SELECT 1 FROM documents c
        WHERE c.doc_id % 7 <> 0 AND md5(c.text) = md5(b.text))
      ORDER BY doc_id""")
  )

  /** Leakage-safe train/val/test split — the assignment step AFTER
    * near-dup detection that naive row-hash splits get wrong: two
    * near-duplicate documents hashed independently land in different
    * splits ~18% of the time, and every such pair is eval
    * contamination (the eval half is effectively training data). The
    * fix is to split by GROUP, not by row: documents that are LSH
    * candidates of each other collapse into one connected component,
    * the component id is the split key, and the whole component lands
    * in exactly one split — near-dups can never straddle by
    * construction (SplitSpec pins it pair-by-pair on the fixture).
    *
    * Assignment is the deterministic md5-prefix idiom
    * (rel_hash_sample): first two hex chars of md5(group) give 256
    * uniform buckets — <0xcc train (~80%), <0xe6 val (~10%), rest
    * test (~10%). No RNG, reproducible at any cluster size, and the
    * fractions hold in expectation over GROUPS (a mega-cluster drags
    * its whole mass into one split — that is the point).
    *
    * Scale shape: LSH banding + log-round CC as in
    * [[curationPipeline]]; the split itself is one equi-join on
    * doc_id (labels cover only docs in candidate pairs — AQE
    * broadcasts when that side is small, but at web-corpus dup rates
    * of 30-50% it is a plain key-partitioned join and correct either
    * way) plus a narrow md5 — no new shuffle shape beyond the cluster
    * machinery. */
  val leakageSafeSplit: Q = Q(
    "dd_leakage_safe_split",
    (s, dir) => {
      import graft.operators.CacheScope
      val docs = Tables(s, dir, "documents")
      val labels = lshLabels(docs)
      val grp = coalesce(col("cluster"), col("doc_id"))
      val bucket = substring(md5(grp.cast("string")), 1, 2)
      val result = docs
        .join(labels.withColumnRenamed("id", "doc_id"),
          Seq("doc_id"), "left")
        .select(col("doc_id"), grp.as("split_group"),
          when(bucket < "cc", "train")
            .when(bucket < "e6", "val")
            .otherwise("test").as("split"))
        .orderBy("doc_id")
      CacheScope.eval(result)(labels)
    },
    Some(s"""
      WITH RECURSIVE $shinglesSql, $sigSql, $candSql,
      bidir AS (
        SELECT doc_a AS a, doc_b AS b FROM cand
        UNION SELECT doc_b, doc_a FROM cand),
      reach(a, b) AS (
        SELECT a, b FROM bidir
        UNION
        SELECT r.a, e.b FROM reach r JOIN bidir e ON r.b = e.a
        WHERE e.b <> r.a),
      clusters AS (
        SELECT a AS doc_id, least(a, min(b)) AS cluster
        FROM reach GROUP BY a)
      SELECT d.doc_id,
             COALESCE(c.cluster, d.doc_id) AS split_group,
             CASE WHEN substr(md5(CAST(COALESCE(c.cluster, d.doc_id)
                            AS VARCHAR)), 1, 2) < 'cc' THEN 'train'
                  WHEN substr(md5(CAST(COALESCE(c.cluster, d.doc_id)
                            AS VARCHAR)), 1, 2) < 'e6' THEN 'val'
                  ELSE 'test' END AS split
      FROM documents d LEFT JOIN clusters c ON d.doc_id = c.doc_id
      ORDER BY d.doc_id""")
  )

  /** Containment near-dup — |A∩B| / min(|A|,|B|) over the LSH candidate
    * pairs, alongside plain Jaccard. Containment is the asymmetric
    * cousin Jaccard misses: a short document wholly quoted inside a
    * long one has near-1 containment but low Jaccard (the union is
    * dominated by the long doc), and real curation pipelines flag
    * exactly that shape — boilerplate embedding, quote-expansion,
    * chunk-of-a-doc duplication. `is_partial_dup` marks pairs where
    * containment clears 0.7 but Jaccard does not, i.e. the pairs only
    * this face catches. Candidate generation is the SAME banded-LSH
    * set as dd_minhash_lsh (recall caveat documented there: pairs with
    * no shared band are out of scope by design — at 100 TB that bound
    * is what keeps the op sub-quadratic); every join downstream is
    * keyed on the candidate pair, so cost ∝ candidates, never pairs².
    * All three doubles are single IEEE divisions of exact longs, so
    * the oracle hash-matches bit-for-bit. */
  val containment: Q = Q(
    "dd_containment",
    (s, dir) => {
      import graft.operators.{CacheScope, TextDedup}
      // hashed 16-byte gram keys persisted once (r21; see pairOverlap)
      val sh = TextDedup.hashedShingles(Tables(s, dir, "documents"))
        .persist()
      val sigs = TextDedup.signaturesNarrow(
        Tables(s, dir, "documents"), 8).persist()
      // cand feeds BOTH branches of the overlap kernel — persisted so
      // the banded self-join runs once, not once per branch
      val cand = TextDedup.candidates(TextDedup.bands(sigs, 8, 2))
        .select("doc_a", "doc_b").persist()
      val result = TextDedup.pairOverlap(sh, cand)
        .select(col("doc_a"), col("doc_b"),
          (col("n_inter").cast("double") / least(col("n_a"), col("n_b")))
            .as("containment"),
          (col("n_inter").cast("double") /
            (col("n_a") + col("n_b") - col("n_inter"))).as("jaccard"))
        .withColumn("is_partial_dup",
          col("containment") >= 0.7 && col("jaccard") < 0.7)
        .orderBy("doc_a", "doc_b")
      CacheScope.eval(result)(sh, sigs, cand)
    },
    Some(s"""
      WITH $shinglesSql, $sigSql, $candSql,
      sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
      inter AS (
        SELECT c.doc_a, c.doc_b, count(*) AS n_inter
        FROM cand c
        JOIN sh a ON a.doc_id = c.doc_a
        JOIN sh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
        GROUP BY 1, 2),
      scored AS (
        SELECT c.doc_a, c.doc_b,
               CAST(COALESCE(i.n_inter, 0) AS DOUBLE) /
                 least(sa.n, sb.n) AS containment,
               CAST(COALESCE(i.n_inter, 0) AS DOUBLE) /
                 (sa.n + sb.n - COALESCE(i.n_inter, 0)) AS jaccard
        FROM cand c
        LEFT JOIN inter i ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
        JOIN sizes sa ON sa.doc_id = c.doc_a
        JOIN sizes sb ON sb.doc_id = c.doc_b)
      SELECT doc_a, doc_b, containment, jaccard,
             containment >= 0.7 AND jaccard < 0.7 AS is_partial_dup
      FROM scored ORDER BY doc_a, doc_b""")
  )

  /** Duplicate-aware TRAINING WEIGHTS — the keep-everything
    * alternative to [[dedupCorpus]]'s keep-one drop: every document
    * stays in the corpus but carries weight 1/|its near-dup cluster|,
    * so a passage duplicated n times contributes one document's worth
    * of gradient in aggregate instead of n. Composition: the LSH→CC
    * cluster labels, a cluster-size aggregate, and one left join back
    * to the corpus — isolated documents default to a singleton cluster
    * of themselves with weight 1. The weight is a single IEEE division
    * of exact longs, so the recursive-CTE oracle (the dd_dup_clusters
    * reachability replay) hash-matches it bit-for-bit.
    *
    * Scale: labels/sizes are duplicate-rate-sized; the corpus-side
    * left join shuffles once on doc_id with the same parallelism
    * floor as dedupCorpus's anti-join. */
  val dupWeights: Q = Q(
    "dd_dup_weights",
    (s, dir) => {
      val docs = Tables(s, dir, "documents")
      val labels = lshLabels(docs)
      val sizes = labels.groupBy("cluster").agg(count(lit(1)).as("sz"))
      val lab = labels.join(sizes, "cluster")
        .select(col("id").as("doc_id"), col("cluster"), col("sz"))
      val result = graft.operators.Partitioning
        .ensureParallelism(docs.select(col("doc_id")), "doc_id")
        .join(lab, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("cluster"), col("doc_id")).as("cluster"),
          coalesce(col("sz"), lit(1L)).as("csize"),
          (lit(1.0) / coalesce(col("sz"), lit(1L)).cast("double"))
            .as("weight"))
        .orderBy("doc_id")
      graft.operators.CacheScope.eval(result)(labels)
    },
    Some(s"""
      WITH RECURSIVE $shinglesSql, $sigSql, $candSql,
      bidir AS (
        SELECT doc_a AS a, doc_b AS b FROM cand
        UNION SELECT doc_b, doc_a FROM cand),
      reach(a, b) AS (
        SELECT a, b FROM bidir
        UNION
        SELECT r.a, e.b FROM reach r JOIN bidir e ON r.b = e.a
        WHERE e.b <> r.a),
      lab AS (
        SELECT a AS doc_id, least(a, min(b)) AS cluster
        FROM reach GROUP BY a),
      sz AS (SELECT cluster, count(*) AS csize FROM lab GROUP BY 1)
      SELECT d.doc_id,
             COALESCE(l.cluster, d.doc_id) AS cluster,
             COALESCE(s.csize, 1) AS csize,
             CAST(1 AS DOUBLE) / CAST(COALESCE(s.csize, 1) AS DOUBLE)
               AS weight
      FROM documents d
      LEFT JOIN lab l ON l.doc_id = d.doc_id
      LEFT JOIN sz s ON s.cluster = l.cluster
      ORDER BY d.doc_id""")
  )

  /** QUALITY-AWARE keeper election — real pipelines don't keep the
    * lowest doc_id of a near-dup cluster (dd_dedup_corpus's simple
    * rule), they keep the BEST member: here the one with the most
    * distinct tokens (richest content), ties broken by lowest id. The
    * argmax is the sentinel idiom (J3): max over struct(richness,
    * −doc_id) — one aggregate per cluster, no window, no self-join —
    * and the richness key is an exact integer so both engines elect
    * the identical keeper. Output maps every document to its cluster,
    * the elected keeper, and an is_keeper flag — the replacement map a
    * downstream rewrite joins on.
    *
    * Scale: richness is a narrow per-row map folded before any
    * shuffle; cluster labels are duplicate-rate-sized; the election is
    * one |clusters|-key aggregate plus one map-back join on cluster. */
  val dedupBest: Q = Q(
    "dd_dedup_best",
    (s, dir) => {
      val docs = Tables(s, dir, "documents")
      val labels = lshLabels(docs)
      val lab = graft.operators.Partitioning
        .ensureParallelism(
          docs.select(col("doc_id"),
            size(array_distinct(split(col("text"), " "))).as("rich")),
          "doc_id")
        .join(labels.select(col("id").as("doc_id"), col("cluster")),
          Seq("doc_id"), "left")
        .withColumn("cluster", coalesce(col("cluster"), col("doc_id")))
      val keepers = lab.groupBy("cluster")
        .agg(max(struct(col("rich"),
          (-col("doc_id")).as("neg_id"))).as("m"))
        .select(col("cluster"), (-col("m.neg_id")).as("keeper"))
      val result = lab
        .join(keepers, "cluster")
        .select(col("doc_id"), col("cluster"), col("keeper"),
          (col("doc_id") === col("keeper")).as("is_keeper"))
        .orderBy("doc_id")
      graft.operators.CacheScope.eval(result)(labels)
    },
    Some(s"""
      WITH RECURSIVE $shinglesSql, $sigSql, $candSql,
      bidir AS (
        SELECT doc_a AS a, doc_b AS b FROM cand
        UNION SELECT doc_b, doc_a FROM cand),
      reach(a, b) AS (
        SELECT a, b FROM bidir
        UNION
        SELECT r.a, e.b FROM reach r JOIN bidir e ON r.b = e.a
        WHERE e.b <> r.a),
      lab0 AS (
        SELECT a AS doc_id, least(a, min(b)) AS cluster
        FROM reach GROUP BY a),
      lab AS (
        SELECT d.doc_id, COALESCE(l.cluster, d.doc_id) AS cluster,
               len(list_distinct(string_split(d.text, ' '))) AS rich
        FROM documents d LEFT JOIN lab0 l ON l.doc_id = d.doc_id),
      k AS (
        SELECT cluster, doc_id AS keeper FROM (
          SELECT cluster, doc_id,
                 row_number() OVER (PARTITION BY cluster
                   ORDER BY rich DESC, doc_id ASC) AS rn
          FROM lab) WHERE rn = 1)
      SELECT l.doc_id, l.cluster, k.keeper,
             l.doc_id = k.keeper AS is_keeper
      FROM lab l JOIN k USING (cluster)
      ORDER BY l.doc_id""")
  )

  /** SUB-DOCUMENT (paragraph-level) dedup — r9 verdict "What's
    * missing" #3: doc-level exact/MinHash/SimHash/containment leave
    * boilerplate paragraphs (headers, footers, templated spans) shared
    * across DISTINCT pages untouched; LLM curation scrubs them at
    * paragraph granularity. This is `ta_boilerplate`'s detector turned
    * into a TRANSFORMATION: the corpus is materialized with the
    * repeated paragraphs removed.
    *
    * The fixture's documents are flat word streams (no newline
    * structure), so a "paragraph" is a stable 10-word chunk with
    * para_id = its chunk index — deterministic, and the id survives
    * the scrub so downstream provenance can point back into the
    * original doc. A paragraph appearing in ≥ 3 distinct documents is
    * boilerplate (df=2 stays: that is the exact-dup pair signal the
    * DOC-level family already handles; ≥3 is cross-page templating).
    *
    * Scale shape (100 TB): the frequency table groups 8-byte xxhash64
    * paragraph keys — paragraph TEXT is never a join or shuffle key;
    * it rides the narrow doc-side explode only until the per-doc
    * rebuild. (doc_id, hash) is deduped BEFORE counting, so df is a
    * map-side-combinable count, never a per-key countDistinct
    * expansion. The join back is hash-on-hash; hot boilerplate hashes
    * are exactly the skewed keys AQE's skew split (or
    * `adaptiveSaltedJoin`) handles. The rebuild is one per-doc
    * groupBy: collect kept (para_id, para) structs, sort by the
    * integer id, join with spaces — bounded by doc length, the same
    * per-doc bound every ta_* face carries. 64-bit hashes: at corpus
    * scale a collision mis-scrubs one paragraph; the doc-level exact
    * family uses md5 where collision-freedom is the contract.
    * The oracle replays paragraphing with DuckDB string_split + list
    * slicing and groups by the paragraph TEXT itself — hash-grouping
    * and text-grouping agree exactly absent a 64-bit collision, which
    * the hash-match certifies in passing. */
  val paragraphDedup: Q = Q(
    "dd_paragraph_dedup",
    (s, dir) => {
      // tokenize ONCE into a materialized column: HOF lambdas run
      // interpreted with no CSE (the cdcChunks lesson), so a
      // split(text) INSIDE the per-chunk lambda re-tokenizes the full
      // document once per 10-token chunk — quadratic in document
      // length on exactly the long-document tail
      val paras = Tables(s, dir, "documents")
        .withColumn("__toks", split(col("text"), " "))
        .selectExpr("doc_id",
          "posexplode(transform(" +
            "sequence(0, cast(ceil(size(__toks) / 10.0) as int)" +
            " - 1), " +
            "i -> array_join(slice(__toks, i * 10 + 1, 10), ' ')" +
            ")) AS (para_id, para)")
        .withColumn("h", xxhash64(col("para")))
      val freq = paras.select("h", "doc_id").distinct()
        .groupBy("h").agg(count(lit(1)).as("df"))
      paras.join(freq, "h")
        .groupBy("doc_id")
        .agg(
          count(lit(1)).as("n_paras"),
          sum(when(col("df") >= 3, 1L).otherwise(0L)).as("n_scrubbed"),
          expr("array_join(transform(array_sort(collect_list(" +
            "CASE WHEN df < 3 THEN struct(para_id, para) END)), " +
            "x -> x.para), ' ')").as("scrubbed_text"))
        .orderBy("doc_id")
    },
    Some("""
      WITH flat AS (
        SELECT doc_id,
               unnest(list_transform(
                 range(CAST(ceil(len(string_split(text, ' ')) / 10.0)
                   AS BIGINT)),
                 i -> struct_pack(para_id := i,
                   para := array_to_string(
                     string_split(text, ' ')[(i*10+1):(i*10+10)], ' '))))
                 AS p
        FROM documents),
      paras AS (
        SELECT doc_id, p.para_id AS para_id, p.para AS para FROM flat),
      freq AS (
        SELECT para, count(DISTINCT doc_id) AS df FROM paras GROUP BY 1)
      SELECT doc_id,
             count(*) AS n_paras,
             CAST(coalesce(sum(CASE WHEN df >= 3 THEN 1 ELSE 0 END), 0)
               AS BIGINT) AS n_scrubbed,
             coalesce(array_to_string(
               list(para ORDER BY para_id) FILTER (WHERE df < 3), ' '),
               '') AS scrubbed_text
      FROM paras JOIN freq USING (para)
      GROUP BY doc_id ORDER BY doc_id""")
  )

  /** Content-defined chunking (CDC) duplication report — the
    * variable-boundary complement of [[paragraphDedup]]'s fixed
    * 10-token windows: chunk boundaries fall where a rolling hash of
    * the local 4-gram hits `≡ 0 (mod 8)` (the public CDC/rsync
    * recipe, token-granular), so an insertion near the start of a
    * document shifts ONE chunk, not every window after it — the
    * property that makes CDC the right sub-document dedup signal for
    * crawl snapshots that drift a few lines between captures.
    * Per document: chunk count, chunks whose exact text recurs in
    * some OTHER document, and the duplicated-chunk fraction in exact
    * millis.
    *
    * Mechanics: per-position boundary flags are computed INSIDE the
    * token array (one `transform` — the exploded rows carry a token
    * and a bit, never the array, so exploding stays linear in
    * tokens); the chunk id is the running boundary count (break
    * AFTER position p → a token's chunk is the flag-sum strictly
    * before it); chunk text reassembles with the paragraphDedup
    * sort-struct idiom. The cross-doc frequency join runs on
    * xxhash64(chunk) — 64-bit collisions are negligible at catalog
    * scale and the oracle joins on the chunk TEXT itself, so a
    * collision would surface as a hash mismatch (same discipline as
    * dd_paragraph_dedup).
    *
    * Scale (100 TB): one exchange on doc_id for the running sum (the
    * chunk groupBy reuses that partitioning), one exchange of
    * (hash, doc) pairs for the frequency count, one hash join back —
    * all keys bounded by chunk counts, never corpus². */
  val cdcChunkDup: Q = Q(
    "dd_cdc_chunk_dup",
    (s, dir) =>
      graft.operators.TextDedup
        .chunkDupStats(Tables(s, dir, "documents"), window = 4, mask = 8)
        .select("doc_id", "n_chunks", "n_dup_chunks", "dup_millis")
        .orderBy("doc_id"),
    Some(s"""
      WITH $cdcChunkSql
      SELECT doc_id, count(*) AS n_chunks,
             CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dup_chunks,
             CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) * 1000
                  // count(*) AS BIGINT) AS dup_millis
      FROM ch JOIN cfreq USING (ctext)
      GROUP BY doc_id ORDER BY doc_id""")
  )

  /** The DuckDB replay of TextDedup.cdcChunks (window=4, mask=8) plus
    * the cross-doc chunk frequency — ends in `ch (doc_id, chunk,
    * ctext)` and `cfreq (ctext, nd)`. Shared by dd_cdc_chunk_dup and
    * the composed quality-gate pipeline. */
  // def, not val: referenced by Q vals declared ABOVE it (object vals
  // initialize in declaration order; a forward val reference is null)
  private def cdcChunkSql: String = """d AS (
        SELECT doc_id, string_split(coalesce(text, ''), ' ') AS toks
        FROM documents),
      tp AS (
        SELECT doc_id, toks,
               unnest(range(1, len(toks) + 1)) AS pos,
               unnest(toks) AS token
        FROM d),
      tb AS (
        SELECT doc_id, pos, token,
               CASE WHEN pos >= 4 AND pos < len(toks) AND
                 (ascii(substr(md5(array_to_string(toks[pos-3:pos], ' ')), 1, 1)) * 31
                  + ascii(substr(md5(array_to_string(toks[pos-3:pos], ' ')), 2, 1))) % 8 = 0
               THEN 1 ELSE 0 END AS b
        FROM tp),
      cpos AS (
        SELECT doc_id, pos, token,
               COALESCE(sum(b) OVER (PARTITION BY doc_id ORDER BY pos
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 AS chunk
        FROM tb),
      ch AS (
        SELECT doc_id, chunk,
               string_agg(token, ' ' ORDER BY pos) AS ctext
        FROM cpos GROUP BY 1, 2),
      cfreq AS (
        SELECT ctext, count(DISTINCT doc_id) AS nd FROM ch GROUP BY 1)"""

  /** The composed QUALITY GATE — the round-11 signals as ONE plan,
    * the way a production curation run would actually apply them
    * (the dd_curation_pipeline discipline, model-scored edition): a
    * document survives iff the linear classifier votes keep
    * (logit > 0), its LM surprisal sits inside the fluency band
    * (4800–5400 millibits — cuts both boilerplate and noise tails),
    * and less than half its CDC chunks are corpus-duplicated
    * (dup_millis < 500); survivors pack into per-source shards on
    * the whitespace token budget. Every signal is the already-
    * certified kernel (QualityModel fold, corpus-unigram bits,
    * TextDedup.cdcChunks + frequency join, Partitioning.packShards),
    * and the oracle replays the whole composition — gate predicates
    * AND shard prefix-sum — in one WITH chain.
    *
    * Scale (100 TB): the classifier fold is narrow; surprisal and
    * chunk-dup are the token-key and chunk-key exchanges their
    * standalone faces pay; the three signals then meet in two
    * doc_id-key joins and the shard pass is the two-level prefix sum.
    * Nothing here is more than the sum of its certified parts. */
  val qualityGatePipeline: Q = Q(
    "dd_quality_gate_pipeline",
    (s, dir) => {
      import graft.operators.{CacheScope, QualityModel, TextDedup}
      val docsDf = Tables(s, dir, "documents")
      val base = docsDf.select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"),
        QualityModel.logitOf(col("text")).as("logit"))
      val surp = QualityModel.surprisalPerDoc(docsDf)
        .select("doc_id", "mean_millibits")
      val dup = TextDedup.chunkDupStats(docsDf)
        .select("doc_id", "dup_millis")
      // gated's lineage carries all three signal pipelines and feeds
      // BOTH packShards jobs (the bucket-offset collect, then the
      // window) — persist lazily so the offsets job fills the cache
      // and the result job replays none of it (the curationPipeline
      // discipline)
      val gated = base.join(surp, Seq("doc_id"))
        .join(dup, Seq("doc_id"))
        .filter(col("logit") > 0 &&
          col("mean_millibits").between(4800, 5400) &&
          col("dup_millis") < 500)
        .persist()
      val result = graft.operators.Partitioning
        .packShards(gated, "source", "doc_id", "n_tokens",
          budget = 500L)
        .select("source", "doc_id", "n_tokens", "logit",
          "mean_millibits", "dup_millis", "shard")
        .orderBy("source", "shard", "doc_id")
      // dup is lazy since the r20 chunkDupStats single-pass rewrite
      // (no internal persist/checkpoint to release); gated still
      // holds the cross-job cache
      CacheScope.eval(result)(gated)
    },
    Some(s"""
      WITH $cdcChunkSql,
      tk AS (
        SELECT doc_id, token FROM (
          SELECT doc_id, unnest(string_split(text, ' ')) AS token
          FROM documents) WHERE token <> ''),
      uc AS (SELECT token, count(*) AS cnt FROM tk GROUP BY 1),
      utot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_total FROM uc),
      surp AS (
        SELECT doc_id,
               CAST(sum((length(bin(n_total)) - 1)
                        - (length(bin(cnt)) - 1)) * 1000 // count(*)
                 AS BIGINT) AS mean_millibits
        FROM tk JOIN uc USING (token), utot GROUP BY doc_id),
      logits AS (
        SELECT doc_id,
               CAST(sum(cnt2 * ((dim * 37 + 11) % 21 - 10)) AS BIGINT)
                 AS logit
        FROM (
          SELECT doc_id,
                 CAST((ascii(substr(md5(token), 1, 1)) * 31
                       + ascii(substr(md5(token), 2, 1))) % 64
                   AS BIGINT) AS dim,
                 count(*) AS cnt2
          FROM tk GROUP BY 1, 2) GROUP BY doc_id),
      dupm AS (
        SELECT doc_id,
               CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) * 1000
                    // count(*) AS BIGINT) AS dup_millis
        FROM ch JOIN cfreq USING (ctext) GROUP BY doc_id),
      gated AS (
        SELECT dd.doc_id, dd.source,
               CAST(len(string_split(dd.text, ' ')) AS BIGINT)
                 AS n_tokens,
               logit, mean_millibits, dup_millis
        FROM documents dd
        JOIN logits USING (doc_id)
        JOIN surp USING (doc_id)
        JOIN dupm USING (doc_id)
        WHERE logit > 0 AND mean_millibits BETWEEN 4800 AND 5400
          AND dup_millis < 500),
      sh AS (
        SELECT *, sum(n_tokens) OVER (
                 PARTITION BY source
                 ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
                 ROWS UNBOUNDED PRECEDING) AS cum
        FROM gated)
      SELECT source, doc_id, n_tokens, logit, mean_millibits,
             dup_millis,
             CAST(floor((cum - n_tokens) / 500) AS BIGINT) AS shard
      FROM sh ORDER BY source, shard, doc_id""")
  )

  /** Corpus n-gram NOVELTY — per document, the fraction of its
    * distinct 6-grams whose FIRST corpus occurrence (minimum doc_id —
    * ingestion order in this fixture) is the document itself: the
    * marginal-contribution signal a streaming curation loop uses to
    * decide whether the next crawl batch still adds information or
    * just re-serves what the corpus already holds. Low novelty =
    * redundant document, even when no single near-dup partner exists
    * (mirror-heavy crawls decay novelty long before pairwise dedup
    * fires). Exact integers end to end.
    *
    * Scale (100 TB): the gram → min(doc) aggregate and the join back
    * are the decontamination family's gram-key exchanges; per-doc
    * rollup is one more bounded aggregate. */
  val ngramNovelty: Q = Q(
    "dd_ngram_novelty",
    (s, dir) =>
      graft.operators.TextDedup
        .ngramNovelty(Tables(s, dir, "documents"), 6)
        .select("doc_id", "n_grams", "n_novel", "novelty_millis")
        .orderBy("doc_id"),
    Some(s"""
      WITH ${grams6Sql("g")},
      f AS (SELECT gram, min(doc_id) AS first_doc FROM g GROUP BY 1)
      SELECT doc_id, count(*) AS n_grams,
             CAST(sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END)
               AS BIGINT) AS n_novel,
             CAST(sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END)
                  * 1000 // count(*) AS BIGINT) AS novelty_millis
      FROM g JOIN f USING (gram) GROUP BY doc_id ORDER BY doc_id""")
  )

  /** Dedup-method AGREEMENT matrix — the comparative report behind
    * method selection: every document flagged (or not) by each of the
    * three independent near-dup modalities — MinHash/LSH candidate
    * membership (token-set similarity), SimHash Hamming ≤2 pair
    * membership (distributional similarity), and CDC chunk
    * duplication (exact sub-document reuse) — rolled up into the 2³
    * agreement cells. Where the modalities agree, dedup decisions
    * are robust; the off-diagonal cells are exactly the documents
    * whose fate depends on which method a pipeline happens to run —
    * the number a team reviews before switching methods. All three
    * signals are the certified kernels of their standalone faces.
    *
    * Scale (100 TB): the three flag sets cost what their faces cost
    * (banded/bit-flip/bucketed — nothing all-pairs); the rollup is
    * three left joins on doc_id and an 8-row aggregate. */
  val methodAgreement: Q = Q(
    "dd_method_agreement",
    (s, dir) => {
      import graft.operators.{CacheScope, TextDedup}
      val docsDf = Tables(s, dir, "documents").select("doc_id", "text")
      def members(pairs: DataFrame, a: String, b: String): DataFrame =
        pairs.select(explode(array(col(a), col(b))).as("doc_id"))
          .distinct()
      // lazy twin (r20): the pairs feed exactly one consumer (the
      // members explode), so the whole minhash flag set computes
      // inside the face's single final job instead of behind a
      // mid-call checkpoint barrier
      val (mhCand, mhBd) = TextDedup.lshCandidatesLazy(
        docsDf, numPerms = 8, nBands = 2)
      val mh = members(mhCand, "doc_a", "doc_b").withColumn("mh", lit(1))
      val fp = TextDedup.simhashInt(docsDf, 32).persist()
      val sh = members(TextDedup.hammingPairs(fp, 32, maxDistance = 2),
        "doc_a", "doc_b").withColumn("sh", lit(1))
      val cdc = TextDedup.chunkDupStats(docsDf)
        .filter(col("n_dup_chunks") > 0)
        .select("doc_id").withColumn("cdc", lit(1))
      def yn(c: String) = when(col(c).isNotNull, "y").otherwise("n")
      val counts = docsDf.select("doc_id")
        .join(mh, Seq("doc_id"), "left")
        .join(sh, Seq("doc_id"), "left")
        .join(cdc, Seq("doc_id"), "left")
        .groupBy(yn("mh").as("minhash"), yn("sh").as("simhash"),
          yn("cdc").as("cdc_chunk"))
        .agg(count(lit(1)).as("n_docs"))
      // zero-fill: an empty cell is a REPORTED zero, not a missing
      // row — the reader must distinguish "no documents there" from
      // "cell not computed"
      import s.implicits._
      val yesNo = Seq("y", "n")
      val cells = (for { a <- yesNo; b <- yesNo; c <- yesNo }
        yield (a, b, c)).toDF("minhash", "simhash", "cdc_chunk")
      val result = cells
        .join(counts, Seq("minhash", "simhash", "cdc_chunk"), "left")
        .select(col("minhash"), col("simhash"), col("cdc_chunk"),
          coalesce(col("n_docs"), lit(0L)).as("n_docs"))
        .orderBy("minhash", "simhash", "cdc_chunk")
      // mhBd is the lazily-persisted band table under the minhash flag
      // set (the caller-owned release of lshCandidatesLazy); cdc is
      // lazy since the r20 chunkDupStats single-pass rewrite (nothing
      // to release)
      CacheScope.eval(result)(fp, mhBd)
    },
    Some(s"""
      WITH $shinglesSql, $sigSql, $candSql,
      $cdcChunkSql,
      $simhashSql,
      mhdocs AS (
        SELECT DISTINCT doc_id FROM (
          SELECT doc_a AS doc_id FROM cand
          UNION ALL SELECT doc_b FROM cand)),
      shpairs AS (
        SELECT a.doc_id AS da, b.doc_id AS db
        FROM sfp a JOIN sfp b
          ON a.doc_id < b.doc_id
         AND hamming(a.simhash, b.simhash) <= 2),
      shdocs AS (
        SELECT DISTINCT unnest([da, db]) AS doc_id FROM shpairs),
      cdcdocs AS (
        SELECT doc_id FROM ch JOIN cfreq USING (ctext)
        GROUP BY doc_id
        HAVING sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) > 0),
      agcells AS (
        SELECT a.v AS minhash, b.v AS simhash, c.v AS cdc_chunk
        FROM (VALUES ('y'), ('n')) a(v), (VALUES ('y'), ('n')) b(v),
             (VALUES ('y'), ('n')) c(v)),
      agcounts AS (
        SELECT CASE WHEN m.doc_id IS NOT NULL THEN 'y' ELSE 'n' END
                 AS minhash,
               CASE WHEN s.doc_id IS NOT NULL THEN 'y' ELSE 'n' END
                 AS simhash,
               CASE WHEN c.doc_id IS NOT NULL THEN 'y' ELSE 'n' END
                 AS cdc_chunk,
               count(*) AS n_docs
        FROM documents dd
        LEFT JOIN mhdocs m ON dd.doc_id = m.doc_id
        LEFT JOIN shdocs s ON dd.doc_id = s.doc_id
        LEFT JOIN cdcdocs c ON dd.doc_id = c.doc_id
        GROUP BY 1, 2, 3)
      SELECT g.minhash, g.simhash, g.cdc_chunk,
             COALESCE(n_docs, 0) AS n_docs
      FROM agcells g
      LEFT JOIN agcounts USING (minhash, simhash, cdc_chunk)
      ORDER BY minhash, simhash, cdc_chunk""")
  )

  /** CANONICAL-URL dedup — the cheapest first pass every crawl
    * pipeline runs BEFORE content dedup (r11 "What's missing" #2):
    * the same page is re-crawled under scheme/host case variants,
    * default ports, fragments, tracking params, and trailing
    * slashes; normalizing to a canonical form and exact-deduping by
    * it removes that whole class for the price of per-row string
    * ops + one groupBy, no shingling. Fixture stance as
    * `ta_url_domains`/`ta_pii_redact`: each doc contributes one
    * crawl URL synthesized deterministically in BOTH engines, cycling
    * five real-world variants of a shared page key (host-case +
    * explicit :443, trailing slash, utm_* params, #fragment, and an
    * upper-case scheme with a MEANINGFUL id= param that must
    * survive), so every normalization rule is genuinely exercised —
    * variants 0–3 of one page key collapse, variant 4 keeps its id.
    *
    * The canonical form is `operators.UrlCanon.canonicalize` (stated
    * rule there, replayed verbatim by the oracle, idempotence
    * property-pinned): lowercase scheme and host (authority split at
    * the FIRST `://` — URLs embedding other URLs keep the outer
    * host); strip the scheme's own default port (:80 http / :443
    * https only — other schemes keep ports), the #fragment, and tracking
    * params (utm_*, fbclid, gclid — other params survive in order;
    * query = everything after the FIRST `?`); drop trailing slashes.
    *
    * Output is the per-domain dedup report: mentions, distinct
    * canonical pages, the dup count the normalization removed, and
    * distinct contributing docs.
    *
    * Scale (100 TB): per-row built-in string expressions (narrow,
    * codegen'd — no UDF), then one aggregate keyed by domain with a
    * distinct-count on the canonical key; output bounded by
    * |domains|. */
  val urlDedup: Q = Q(
    "dd_url_dedup",
    (s, dir) => {
      // The variant selector must be INDEPENDENT of anything the page
      // key or the source lattice determines (r12 review: with
      // variant = doc_id % 5, the fixture's source = doc_id % 20
      // assignment meant two docs of one source could never differ in
      // variant, so no cross-variant collapse ever happened and the
      // certification was blind to a one-engine normalization bug).
      // variant = (doc_id div 25) % 5 with page = doc_id % 25: docs
      // sharing (source, page) sit 100 ids apart and sweep ALL FIVE
      // variants, so every normalization rule is exercised
      // cross-variant in every group.
      val d = Tables(s, dir, "documents")
        .select(col("doc_id"), col("source"))
        .withColumn("__v", expr("(doc_id div 25) % 5"))
        .withColumn("__host",
          concat(col("source"), lit(".example.com")))
        .withColumn("__path",
          concat(lit("/p/"), (col("doc_id") % 25).cast("string")))
        .withColumn("url",
          when(col("__v") === 0,
            concat(lit("https://"), upper(col("source")),
              lit(".Example.com:443"), col("__path")))
          .when(col("__v") === 1,
            concat(lit("https://"), col("__host"), col("__path"),
              lit("/")))
          .when(col("__v") === 2,
            concat(lit("https://"), col("__host"), col("__path"),
              lit("?utm_source=feed&utm_campaign=c"),
              (col("doc_id") % 3).cast("string")))
          .when(col("__v") === 3,
            concat(lit("https://"), col("__host"), col("__path"),
              lit("#sec")))
          .otherwise(
            concat(lit("HTTPS://"), col("__host"), col("__path"),
              lit("?id="), (col("doc_id") % 4).cast("string"),
              lit("&utm_medium=rss"))))
      val canon = d
        .withColumn("__domain",
          graft.operators.UrlCanon.domainOf(col("url")))
        .withColumn("canon_url",
          graft.operators.UrlCanon.canonicalize(col("url")))
      canon
        .groupBy(col("__domain").as("domain"))
        .agg(count(lit(1)).as("n_urls"),
          countDistinct(col("canon_url")).as("n_canon_urls"),
          (count(lit(1)) - countDistinct(col("canon_url")))
            .as("n_dup_urls"),
          countDistinct(col("doc_id")).as("n_docs"))
        .orderBy("domain")
    },
    Some("""
      WITH d AS (
        SELECT doc_id, source,
               source || '.example.com' AS host,
               '/p/' || CAST(doc_id % 25 AS VARCHAR) AS path
        FROM documents),
      raw AS (
        SELECT doc_id,
               CASE (doc_id // 25) % 5
                 WHEN 0 THEN 'https://' || upper(source) ||
                   '.Example.com:443' || path
                 WHEN 1 THEN 'https://' || host || path || '/'
                 WHEN 2 THEN 'https://' || host || path ||
                   '?utm_source=feed&utm_campaign=c' ||
                   CAST(doc_id % 3 AS VARCHAR)
                 WHEN 3 THEN 'https://' || host || path || '#sec'
                 ELSE 'HTTPS://' || host || path || '?id=' ||
                   CAST(doc_id % 4 AS VARCHAR) || '&utm_medium=rss'
               END AS url
        FROM d),
      parts AS (
        SELECT doc_id,
               split_part(url, '#', 1) AS nofrag
        FROM raw),
      pieces AS (
        SELECT doc_id,
               split_part(nofrag, '?', 1) AS base,
               CASE WHEN contains(nofrag, '?')
                    THEN substr(nofrag, strpos(nofrag, '?') + 1)
                    ELSE '' END AS q
        FROM parts),
      auths AS (
        SELECT doc_id, base, q,
               CASE WHEN contains(base, '://')
                    THEN substr(base, strpos(base, '://') + 3)
                    ELSE '' END AS auth
        FROM pieces),
      norm AS (
        SELECT doc_id,
               lower(split_part(base, '://', 1)) AS scheme,
               CASE lower(split_part(base, '://', 1))
                 WHEN 'http' THEN regexp_replace(
                   lower(split_part(auth, '/', 1)), '(:80)+$', '')
                 WHEN 'https' THEN regexp_replace(
                   lower(split_part(auth, '/', 1)), '(:443)+$', '')
                 ELSE lower(split_part(auth, '/', 1))
               END AS cleanhost,
               regexp_replace(
                 regexp_replace(auth, '^[^/]*', ''),
                 '/+$', '') AS cleanpath,
               array_to_string(
                 list_filter(string_split(q, '&'),
                   p -> p <> '' AND NOT
                     regexp_matches(p, '(?i)^(utm_[a-z0-9_]+|fbclid|gclid)(=|$)')),
                 '&') AS kept
        FROM auths),
      canon AS (
        SELECT doc_id, cleanhost AS domain,
               scheme || '://' || cleanhost || cleanpath ||
                 CASE WHEN kept <> '' THEN '?' || kept ELSE '' END
                 AS canon_url
        FROM norm)
      SELECT domain,
             count(*) AS n_urls,
             count(DISTINCT canon_url) AS n_canon_urls,
             count(*) - count(DISTINCT canon_url) AS n_dup_urls,
             count(DISTINCT doc_id) AS n_docs
      FROM canon GROUP BY 1 ORDER BY 1""")
  )

  /** LSH RECALL/PRECISION certification — the dedup analogue of
    * `ss_recall_report`: against exact ground truth (every pair with
    * shingle-set Jaccard ≥ 0.5, the integer test 3·|A∩B| ≥ |A|+|B|),
    * what fraction did banding (numPerms=8, nBands=2 — the catalog
    * parameters) actually catch, and what fraction of its candidates
    * are true pairs? The two numbers a team reads before trusting
    * banded dedup at scale, and the measured backing for the
    * band-tuning guidance in `dd_lsh_bucket_stats`.
    *
    * Ground truth needs pairwise exact Jaccard, so this is a
    * CERTIFICATION face in the `ss_recall_report` sense: its input IS
    * the certification corpus, and truth pairs come from the SPARSE
    * gram join (only pairs sharing ≥1 shingle can reach J ≥ 0.5 —
    * never an all-pairs product), whose fan-out is Σ m_g·(m_g−1)/2
    * over shingle frequencies. That is the dominant cost (~36M pair
    * rows at sf0.1, the catalog's most expensive single face) and it
    * is the honest price of exact truth here: the classic
    * prefix-filtering join (Bayardo et al. 2007, "Scaling Up All
    * Pairs Similarity Search" — emit each doc's rarest
    * ⌊|d|/2⌋+1 grams, verify only prefix collisions) is the
    * production shape for Zipfian gram spaces, but this fixture's
    * ~931-gram vocabulary defeats it (measured: the prefix join still
    * generates 16.5M pair rows and 7.9M candidates, making exact
    * verification COSTLIER than the direct join), so the face keeps
    * the direct form. At 100 TB a team feeds this face a
    * pair-preserving subset — a `dd_leakage_safe_split` component
    * slice or an SF-scale fixture — and runs production banding
    * WITHOUT it; a mod-sample is exactly wrong here (it splits the
    * very pairs being certified — measured: a 1-in-10 id sample of
    * the fixture holds ZERO of its 25 true pairs). Candidates are the
    * certified lshCandidates kernel over the same corpus; the three
    * 1-row aggregates meet in scalar-attach cross joins (the
    * ev_watermark pattern, PlanAuditSpec-allowlisted). */
  val lshRecall: Q = Q(
    "dd_lsh_recall",
    (s, dir) => {
      import graft.operators.{CacheScope, Partitioning, TextDedup}
      val corpus = Tables(s, dir, "documents")
      // gram strings collapse to 128-bit gramKey128 structs before the
      // self-join (r21 verdict #3: this face CERTIFIES recall, so its
      // truth kernel gets the certification-grade key — a 64-bit
      // collision merging two grams would perturb sz/i and flip the
      // truth inequality on exactly the pair set being certified; the
      // oracle joins on the text, so one would ALSO surface as a hash
      // mismatch, but only on oracle-verified scales): the pair
      // fan-out is Σ m·(m−1)/2 either way, and each joined row is
      // still fixed-width longs, never the gram string. The distinct
      // runs on the narrow projection — it keeps (doc_id, gram)
      // parity with the oracle's SELECT DISTINCT even on dirty input
      // (a repeated doc_id row would otherwise double sz and i and
      // flip the truth inequality) at a fraction of the string-row
      // cost — and ensureParallelism keeps the 36M-row pair fan-out
      // from inheriting the parquet scan's partition count (measured:
      // 3× slower nearly-serial explode without it).
      val sh = Partitioning.ensureParallelism(corpus, "doc_id")
        .transform(TextDedup.hashedShingles(_))
        .distinct()
        .persist()
      val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("sz"))
      val inter = sh.select(col("doc_id").as("da"), col("g1"), col("g2"))
        .join(sh.select(col("doc_id").as("db"), col("g1"), col("g2")),
          Seq("g1", "g2"))
        .filter(col("da") < col("db"))
        .groupBy("da", "db").agg(count(lit(1)).as("i"))
      val truth = inter
        .join(sizes.select(col("doc_id").as("da"), col("sz").as("sa")),
          "da")
        .join(sizes.select(col("doc_id").as("db"), col("sz").as("sb")),
          "db")
        .filter(col("i") * 3 >= col("sa") + col("sb"))
        .select("da", "db")
        .persist()
      // lazy twin (r20): the caller re-persists the pairs for its two
      // consumers (the semi-join probe and the count), so the eager
      // form checkpointed AND cached the same small table — the lazy
      // band handle is released with the caller's own intermediates
      val (candLazy, candBd) = TextDedup.lshCandidatesLazy(
        corpus, numPerms = 8, nBands = 2)
      val cand = candLazy
        .select(col("doc_a").as("da"), col("doc_b").as("db"))
        .persist()
      val caught = truth.join(cand, Seq("da", "db"), "left_semi")
      val result = truth.agg(count(lit(1)).as("n_true_pairs"))
        .crossJoin(cand.agg(count(lit(1)).as("n_candidates")))
        .crossJoin(caught.agg(count(lit(1)).as("n_caught")))
        .select(col("n_true_pairs"), col("n_candidates"), col("n_caught"),
          expr("""CASE WHEN n_true_pairs = 0 THEN CAST(1000 AS BIGINT)
                       ELSE (n_caught * 1000) div n_true_pairs END""")
            .as("recall_millis"),
          expr("""CASE WHEN n_candidates = 0 THEN CAST(1000 AS BIGINT)
                       ELSE (n_caught * 1000) div n_candidates END""")
            .as("precision_millis"))
      CacheScope.eval(result)(sh, truth, cand, candBd)
    },
    Some(s"""
      WITH $shinglesSql, $sigSql, $candSql,
      rsizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
      rinter AS (
        SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS i
        FROM sh a JOIN sh b
          ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2),
      rtruth AS (
        SELECT da, db FROM rinter
        JOIN rsizes sa ON sa.doc_id = rinter.da
        JOIN rsizes sb ON sb.doc_id = rinter.db
        WHERE 3 * i >= sa.sz + sb.sz),
      rcaught AS (
        SELECT t.da, t.db FROM rtruth t
        JOIN cand c ON t.da = c.doc_a AND t.db = c.doc_b)
      SELECT CAST(t.n AS BIGINT) AS n_true_pairs,
             CAST(c.n AS BIGINT) AS n_candidates,
             CAST(g.n AS BIGINT) AS n_caught,
             CAST(CASE WHEN t.n = 0 THEN 1000
                       ELSE g.n * 1000 // t.n END AS BIGINT)
               AS recall_millis,
             CAST(CASE WHEN c.n = 0 THEN 1000
                       ELSE g.n * 1000 // c.n END AS BIGINT)
               AS precision_millis
      FROM (SELECT count(*) AS n FROM rtruth) t,
           (SELECT count(*) AS n FROM cand) c,
           (SELECT count(*) AS n FROM rcaught) g""")
  )

  /** SAMPLED LSH recall certification — the production-scale face of
    * [[lshRecall]]. The full face's exact ground truth is the sparse
    * gram self-join, Σ m_g·(m_g−1)/2 over shingle frequencies —
    * affordable on a certification corpus, never on a production one.
    * This face estimates banding recall ON the production corpus by
    * restricting exact truth to the pairs INCIDENT to a
    * deterministic doc sample:
    *
    *   - sample S = docs with `ascii(md5(doc_id)[0]) % SampleMod = 0`
    *     (md5-residue, the ta_quality_drift split idiom — stable
    *     across runs and engines, independent of the banding hashes,
    *     which seed on shingle TEXT, not doc_id);
    *   - truth_S = every pair with Jaccard ≥ 0.5 (the integer test
    *     3·|A∩B| ≥ |A|+|B|) whose endpoints include ≥1 sampled doc.
    *     The gram join keeps ONE side restricted to S, so its
    *     fan-out is Σ_g s_g·m_g ≈ (1/SampleMod)·Σ_g m_g² — the
    *     whole point; a both-sampled pair would enter from both
    *     directions, so the join predicate keeps exactly one
    *     (ds < dn when the neighbor is sampled too) and the
    *     intersection count `i` stays exact with no pair-gram
    *     distinct (measured: the distinct's extra exchange cost
    *     more than the sampling saved at SampleMod = 4);
    *   - candidates stay FULL-CORPUS banding (the production run
    *     being certified), so `caught / truth_S` estimates pair
    *     recall: each true pair enters truth_S with probability
    *     1−(1−1/SampleMod)², independent of whether banding caught
    *     it, making k/n an (asymptotically) unbiased ratio
    *     estimator of the corpus-wide recall.
    *
    * The interval is the Wilson 95% score CI on k successes in n
    * Bernoulli draws (z = 1.96, z² = 3.8416), in exact-permille
    * floors/ceils — chosen over Wald because it stays non-degenerate
    * at k = n (the common perfect-recall reading) and never leaves
    * [0, 1000]. STATED ASSUMPTION: the CI treats the n incident
    * pairs as independent draws, but pairs sharing a sampled doc are
    * correlated (one doc's banding signature drives all its pairs'
    * catch outcomes), so on heavily CLUSTERED corpora — one sampled
    * doc incident to dozens of true pairs — the effective sample
    * size is below n and the nominal interval is anti-conservative.
    * The `n_docs_sampled` vs `n_true_pairs` ratio is the cluster
    * diagnostic: when pairs-per-sampled-doc is high, read the CI as
    * approximate, shrink the sample fraction and average runs over
    * residues, or fall back to the pair-preserving certification
    * slice of the full face. The catalog pins SampleMod = 4 (the 16 hex chars of
    * an md5 head split 4/16 on residue 0) so the sf0.01 fixture's 25
    * true pairs keep a non-vacuous n ≈ 15; a production corpus runs
    * the same face at ~1% (two-hex-char residue, mod 256 ≈ 0.4%, or
    * mod 100 of a wider slice) — the estimator and CI are
    * fraction-independent, only n (and the CI width) changes.
    * Reading: ci_lo ≥ the team's recall bar certifies the banding
    * parameters on THIS corpus; a wide interval says sample more,
    * not that recall moved. */
  val lshRecallSampled: Q = Q(
    "dd_lsh_recall_sampled",
    (s, dir) => {
      import graft.operators.{CacheScope, Partitioning, TextDedup}
      val corpus = Tables(s, dir, "documents")
      val inSample =
        expr("ascii(substring(md5(cast(doc_id as string)), 1, 1)) % 4 = 0")
      // 128-bit gram keys: certification face (see dd_lsh_recall)
      val sh = Partitioning.ensureParallelism(corpus, "doc_id")
        .transform(TextDedup.hashedShingles(_))
        .distinct()
        .persist()
      val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("sz"))
      // one side restricted to the sample — the (1/SampleMod)·Σ m²
      // fan-out. A both-sampled pair would enter from BOTH
      // directions; rather than a (da, db, g) distinct (measured: an
      // extra full exchange over the pair-gram rows that cost more
      // than it saved), the join predicate keeps exactly one
      // direction per pair — ds < dn when both are sampled, any
      // direction (there is only one) when dn is not — so each
      // shared gram of each qualifying pair is exactly one row and
      // the groupBy count is the exact intersection. The sampled
      // side's membership bit rides the cached sh projection so md5
      // runs once per posting, not once per joined row.
      val shN = sh.select(col("doc_id").as("dn"), col("g1"), col("g2"),
        expr("ascii(substring(md5(cast(doc_id as string)), 1, 1)) % 4 = 0")
          .as("n_in_s"))
      val truth = sh.filter(inSample)
        .select(col("doc_id").as("ds"), col("g1"), col("g2"))
        .join(shN, Seq("g1", "g2"))
        .filter(col("ds") =!= col("dn") &&
          (col("ds") < col("dn") || !col("n_in_s")))
        .select(least(col("ds"), col("dn")).as("da"),
          greatest(col("ds"), col("dn")).as("db"))
        .groupBy("da", "db").agg(count(lit(1)).as("i"))
        .join(sizes.select(col("doc_id").as("da"), col("sz").as("sa")),
          "da")
        .join(sizes.select(col("doc_id").as("db"), col("sz").as("sb")),
          "db")
        .filter(col("i") * 3 >= col("sa") + col("sb"))
        .select("da", "db")
        .persist()
      // lazy twin (r20): the caller re-persists the pairs for its two
      // consumers (the semi-join probe and the count), so the eager
      // form checkpointed AND cached the same small table — the lazy
      // band handle is released with the caller's own intermediates
      val (candLazy, candBd) = TextDedup.lshCandidatesLazy(
        corpus, numPerms = 8, nBands = 2)
      val cand = candLazy
        .select(col("doc_a").as("da"), col("doc_b").as("db"))
        .persist()
      val caught = truth.join(cand, Seq("da", "db"), "left_semi")
      val result = corpus.filter(inSample)
        .agg(count(lit(1)).as("n_docs_sampled"))
        .crossJoin(truth.agg(count(lit(1)).as("n_true_pairs")))
        .crossJoin(caught.agg(count(lit(1)).as("n_caught")))
        .select(col("n_docs_sampled"), col("n_true_pairs"),
          col("n_caught"),
          expr("""CASE WHEN n_true_pairs = 0 THEN CAST(1000 AS BIGINT)
                       ELSE (n_caught * 1000) div n_true_pairs END""")
            .as("recall_permille"),
          expr("""CASE WHEN n_true_pairs = 0 THEN CAST(0 AS BIGINT)
                       ELSE greatest(CAST(0 AS BIGINT),
                         CAST(floor((1000.0 * ((n_caught + 1.9208) -
                           (1.96 * sqrt((CAST(n_caught *
                             (n_true_pairs - n_caught) AS DOUBLE) /
                             n_true_pairs) + 0.9604)))) /
                           (n_true_pairs + 3.8416)) AS BIGINT)) END""")
            .as("ci_lo_permille"),
          expr("""CASE WHEN n_true_pairs = 0 THEN CAST(1000 AS BIGINT)
                       ELSE least(CAST(1000 AS BIGINT),
                         CAST(ceil((1000.0 * ((n_caught + 1.9208) +
                           (1.96 * sqrt((CAST(n_caught *
                             (n_true_pairs - n_caught) AS DOUBLE) /
                             n_true_pairs) + 0.9604)))) /
                           (n_true_pairs + 3.8416)) AS BIGINT)) END""")
            .as("ci_hi_permille"))
      CacheScope.eval(result)(sh, truth, cand, candBd)
    },
    Some(s"""
      WITH $shinglesSql, $sigSql, $candSql,
      rsizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
      samp AS (
        SELECT doc_id FROM documents
        WHERE ascii(substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) % 4 = 0),
      pg AS (
        SELECT least(a.doc_id, b.doc_id) AS da,
               greatest(a.doc_id, b.doc_id) AS db
        FROM sh a
        JOIN samp s ON a.doc_id = s.doc_id
        JOIN sh b ON a.shingle = b.shingle AND a.doc_id <> b.doc_id
          AND (a.doc_id < b.doc_id OR
               ascii(substr(md5(CAST(b.doc_id AS VARCHAR)), 1, 1))
                 % 4 <> 0)),
      rinter AS (SELECT da, db, count(*) AS i FROM pg GROUP BY 1, 2),
      rtruth AS (
        SELECT da, db FROM rinter
        JOIN rsizes sa ON sa.doc_id = rinter.da
        JOIN rsizes sb ON sb.doc_id = rinter.db
        WHERE 3 * i >= sa.sz + sb.sz),
      rcaught AS (
        SELECT t.da, t.db FROM rtruth t
        JOIN cand c ON t.da = c.doc_a AND t.db = c.doc_b)
      SELECT CAST(s.n AS BIGINT) AS n_docs_sampled,
             CAST(t.n AS BIGINT) AS n_true_pairs,
             CAST(g.n AS BIGINT) AS n_caught,
             CAST(CASE WHEN t.n = 0 THEN 1000
                       ELSE g.n * 1000 // t.n END AS BIGINT)
               AS recall_permille,
             CAST(CASE WHEN t.n = 0 THEN 0
                       ELSE greatest(0, CAST(floor((1000.0 *
                         ((g.n + 1.9208) - (1.96 * sqrt((CAST(g.n *
                           (t.n - g.n) AS DOUBLE) / t.n) + 0.9604)))) /
                         (t.n + 3.8416)) AS BIGINT)) END AS BIGINT)
               AS ci_lo_permille,
             CAST(CASE WHEN t.n = 0 THEN 1000
                       ELSE least(1000, CAST(ceil((1000.0 *
                         ((g.n + 1.9208) + (1.96 * sqrt((CAST(g.n *
                           (t.n - g.n) AS DOUBLE) / t.n) + 0.9604)))) /
                         (t.n + 3.8416)) AS BIGINT)) END AS BIGINT)
               AS ci_hi_permille
      FROM (SELECT count(*) AS n FROM samp) s,
           (SELECT count(*) AS n FROM rtruth) t,
           (SELECT count(*) AS n FROM rcaught) g""")
  )

  def all: Seq[Q] = Seq(exact, minhashLsh, jaccardVerify, simhash,
    simhashHamming, simhashHamming2, embedSrp, dupClusters,
    decontaminate, decontaminateBloom, dedupCorpus, minhashBound,
    dupRateBySource, ngramDupRate, repeatedSpans, spanScrub,
    sourceOverlap, curationPipeline, incremental,
    leakageSafeSplit, containment, dupWeights, dedupBest,
    paragraphDedup, fuzzyVerify, contaminationRate, cdcChunkDup,
    lshBucketStats, qualityGatePipeline, methodAgreement, ngramNovelty,
    urlDedup, lshRecall, lshRecallSampled)
}
