package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Q, QueryModule}
import graft.sources.Tables

/** Text-analysis operators over the `documents` table — the
  * training-data-pipeline extensions mandated by SURVEY.md §2.12:
  * token counting, quality scoring, language-ID heuristics, document
  * fingerprinting, and corpus n-gram statistics.
  *
  * Scale stance: every query is a single scan + narrow shuffle
  * (per-doc map work, or one groupBy on a token/shingle key). Nothing
  * here is quadratic in the corpus; all string work is Spark built-ins
  * (codegen'd, SURVEY.md §2.9 — no UDFs).
  */
object TextAnalysis extends QueryModule {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents")

  private val Stopwords = Seq("the", "a", "of", "and", "to")
  private val stopList = Stopwords.map(w => s"'$w'").mkString(", ")

  /** Tokenization + counting: whitespace tokens, distinct tokens, a
    * BPE-ish sub-token count (runs of letters OR single non-letter —
    * the regex stands in for a byte-pair pre-tokenizer), and an exact
    * md5 content fingerprint. One scan, no shuffle (beyond the
    * verify-order sort). */
  val tokenStats: Q = Q(
    "ta_token_stats",
    (s, dir) =>
      docs(s, dir)
        .withColumn("toks", split(col("text"), " "))
        .select(
          col("doc_id"),
          size(col("toks")).as("n_tokens"),
          size(array_distinct(col("toks"))).as("n_distinct_tokens"),
          // BPE-ish pre-tokenization: letter runs OR single non-letter
          // non-space — the regex stands in for a byte-pair merger's
          // input segmentation
          size(regexp_extract_all(col("text"),
            lit("[a-z]+|[^a-z ]"), lit(0))).as("n_subtokens"),
          length(col("text")).as("n_chars_computed"),
          md5(col("text")).as("fingerprint"))
        .orderBy("doc_id"),
    Some(s"""
      SELECT doc_id,
             len(string_split(text, ' ')) AS n_tokens,
             len(list_distinct(string_split(text, ' '))) AS n_distinct_tokens,
             len(regexp_extract_all(text, '[a-z]+|[^a-z ]')) AS n_subtokens,
             length(text) AS n_chars_computed,
             md5(text) AS fingerprint
      FROM documents ORDER BY doc_id""")
  )

  /** REAL BPE token counting (r10 verdict "What's missing" #1) — the
    * whitespace/regex counts in [[tokenStats]] stay as the cheap
    * oracle-friendly faces; this one budgets in actual byte-pair-
    * encoding tokens via the native `bpe_count` expression
    * ([[graft.functions.BpeCount]]): the public BPE apply walk over
    * the rank-ordered vocabulary file shipped at
    * `graft/bpe_merges.txt`. The DuckDB twin replays the identical
    * walk as an UNROLLED nested replace over the space-padded
    * character string — two replace() passes per merge rank are
    * exact (see the expression's scaladoc for the argument), so the
    * oracle is a mechanical expansion of the same vocabulary file,
    * generated right here from [[graft.functions.BpeOps]].
    *
    * Scale (100 TB): one fused map-side kernel per row inside
    * whole-stage codegen; no shuffle beyond the verify-order sort.
    * Token budgeting downstream (chunking, shard packing) divides by
    * these counts instead of whitespace words. */
  /** The unrolled BPE merge walk as a DuckDB scalar expression over a
    * `word` column: " c1 c2 … ck " padded char string, then two
    * replace() passes per rank (exactness argued in
    * [[graft.functions.BpeCount]]'s scaladoc). Generated from the
    * same vocabulary file the native expression loads. */
  private[queries] def bpeWalkSqlOver(inner: String): String = {
    val charSplit =
      s"' ' || array_to_string(string_split_regex($inner, ''), ' ') || ' '"
    graft.functions.BpeOps.orderedMerges
      .foldLeft(charSplit) { case (e, (x, y)) =>
        val once = s"replace($e, ' $x $y ', ' $x$y ')"
        s"replace($once, ' $x $y ', ' $x$y ')"
      }
  }

  private lazy val bpeWalkSql: String = bpeWalkSqlOver("word")

  /** CTE suite computing per-doc BPE counts (`bpe_n(doc_id, n_bpe)`)
    * for any oracle that budgets in BPE tokens. */
  private[queries] lazy val bpeCountCtes: String = s"""
      bpe_w AS (
        SELECT doc_id, $bpeWalkSql AS m
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word
              FROM documents) WHERE word <> ''),
      bpe_n AS (
        SELECT d.doc_id, CAST(coalesce(a.nb, 0) AS BIGINT) AS n_bpe
        FROM documents d LEFT JOIN (
          SELECT doc_id,
                 sum(length(m) - length(replace(m, ' ', '')) - 1) AS nb
          FROM bpe_w GROUP BY doc_id) a USING (doc_id))"""

  val bpeTokenStats: Q = {
    val walk = bpeWalkSql
    Q(
      "ta_bpe_token_stats",
      (s, dir) => {
        graft.GraftExtensions.ensure(s)
        docs(s, dir)
          .select(
            col("doc_id"),
            size(expr("filter(split(text, ' '), x -> x <> '')"))
              .cast("long").as("n_words"),
            expr("bpe_count(text)").as("n_bpe_tokens"))
          .orderBy("doc_id")
      },
      Some(s"""
        WITH w AS (
          SELECT doc_id, unnest(string_split(text, ' ')) AS word
          FROM documents),
        t AS (
          SELECT doc_id, $walk AS m
          FROM w WHERE word <> ''),
        agg AS (
          SELECT doc_id, count(*) AS nw,
                 sum(length(m) - length(replace(m, ' ', '')) - 1) AS nb
          FROM t GROUP BY doc_id)
        SELECT d.doc_id,
               CAST(coalesce(a.nw, 0) AS BIGINT) AS n_words,
               CAST(coalesce(a.nb, 0) AS BIGINT) AS n_bpe_tokens
        FROM documents d LEFT JOIN agg a USING (doc_id)
        ORDER BY doc_id""")
    )
  }

  /** Quality scoring: stopword ratio, punctuation count, lexical
    * diversity (distinct/total tokens) and a keep/drop flag — the
    * standard cheap filters applied before expensive pipeline stages.
    * Ratios are raw doubles: each is a single IEEE division of exact
    * integers, so Spark and DuckDB agree bit-for-bit — no decimal cast
    * (ADVICE r2: decimal rounding modes differ between the engines). */
  val quality: Q = Q(
    "ta_quality",
    (s, dir) =>
      docs(s, dir)
        .withColumn("toks", split(col("text"), " "))
        .withColumn("n_tokens", size(col("toks")))
        .withColumn("n_stop",
          expr(s"size(filter(toks, t -> t IN ($stopList)))"))
        .withColumn("n_punct",
          length(regexp_replace(col("text"), "[a-z ]", "")))
        .select(
          col("doc_id"),
          col("n_tokens"),
          (col("n_stop").cast("double") / col("n_tokens")).as("stop_ratio"),
          // greatest(len,1): the one zero-capable denominator here
          // (split always yields >= 1 token, text length can be 0) —
          // unguarded, Spark's non-ANSI divide returns NULL where
          // DuckDB's IEEE 0.0/0 returns NaN, a silent cross-engine
          // divergence on empty text; 0 punct / 1 = 0.0 on both
          (col("n_punct").cast("double") /
            greatest(length(col("text")), lit(1))).as("punct_ratio"),
          (size(array_distinct(col("toks"))).cast("double") / col("n_tokens"))
            .as("lex_diversity"),
          when(col("n_tokens") >= 20 &&
               size(array_distinct(col("toks"))) >= 10, "keep")
            .otherwise("drop").as("verdict"))
        .orderBy("doc_id"),
    Some(s"""
      WITH t AS (
        SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents)
      SELECT doc_id,
             len(toks) AS n_tokens,
             CAST(len(list_filter(toks, t -> t IN ($stopList))) AS DOUBLE)
                  / len(toks) AS stop_ratio,
             CAST(length(regexp_replace(text, '[a-z ]', '', 'g')) AS DOUBLE)
                  / greatest(length(text), 1) AS punct_ratio,
             CAST(len(list_distinct(toks)) AS DOUBLE)
                  / len(toks) AS lex_diversity,
             CASE WHEN len(toks) >= 20 AND len(list_distinct(toks)) >= 10
                  THEN 'keep' ELSE 'drop' END AS verdict
      FROM t ORDER BY doc_id""")
  )

  /** Cross-source quality-score calibration — heterogeneous sources
    * (web crawl vs books vs code) score on different absolute scales,
    * so mixing on raw scores over-selects whichever source's scorer
    * runs hot; the standard fix is rank-normalizing WITHIN source
    * before any cross-source comparison. Score here is the integer
    * lexical-diversity proxy (distinct-token count); the calibrated
    * outputs are `percent_rank` over the injective (score, doc_id)
    * order — (rank−1)/(n−1), one IEEE division of exact integers, so
    * both engines emit identical doubles — and the ntile(10)
    * source-local decile a curriculum sampler buckets by.
    *
    * Scale (100 TB): one exchange on `source`; both window functions
    * share the single sort. A pathologically dominant source degrades
    * to one partition's sort — at that point swap to
    * [[qualityCalibrateSketch]] (r12): sketch-boundary decile
    * bucketing with no ordering window, SketchSpec-certified. */
  val qualityCalibrate: Q = Q(
    "ta_quality_calibrate",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("source").orderBy("score", "doc_id")
      docs(s, dir)
        .select(col("doc_id"), col("source"),
          size(array_distinct(split(col("text"), " "))).as("score"))
        .select(col("doc_id"), col("source"), col("score"),
          percent_rank().over(w).as("src_pct"),
          ntile(10).over(w).as("src_decile"))
        .orderBy("doc_id")
    },
    Some("""
      WITH sc AS (
        SELECT doc_id, source,
               len(list_distinct(string_split(text, ' '))) AS score
        FROM documents)
      SELECT doc_id, source, score,
             percent_rank() OVER w AS src_pct,
             ntile(10) OVER w AS src_decile
      FROM sc
      -- NULLS FIRST: a NULL score (NULL-text doc) ranks FIRST under
      -- Spark's ASC default but LAST under DuckDB's, shifting every
      -- real row's percent_rank/ntile in that source (r20 review)
      WINDOW w AS (PARTITION BY source
                   ORDER BY score NULLS FIRST, doc_id)
      ORDER BY doc_id""")
  )

  /** The 100 TB shape [[qualityCalibrate]]'s doc promises for a
    * pathologically dominant source: the SAME source-local decile
    * bucketing with boundaries from the mergeable `percentile_approx`
    * sketch instead of the exact rank window — one map-combined pass
    * collapses each source to a 9-boundary row (constant sketch space,
    * never a whole-partition sort), broadcast back; the decile is
    * "boundaries strictly below my score + 1", a narrow higher-order
    * fold. Tie semantics differ from ntile BY DESIGN: equal scores
    * share one decile (value bucketing) instead of being split
    * arbitrarily to equalize bucket sizes — for a curriculum sampler,
    * identical documents belong in the same bucket. SketchSpec pins
    * the window-free plan, within-source monotonicity (a higher score
    * never gets a lower decile), and boundary containment (every
    * score sits inside its decile's value range). Spec face, not a
    * catalog row — the [[graft.queries.Events.winsorizeSketch]] /
    * `rel_sketch_agg` stance. */
  def qualityCalibrateSketch(s: SparkSession, dir: String): DataFrame = {
    val scored = docs(s, dir)
      .select(col("doc_id"), col("source"),
        size(array_distinct(split(col("text"), " "))).cast("long")
          .as("score"))
    val bounds = scored.groupBy("source")
      .agg(percentile_approx(col("score"),
        typedLit((1 to 9).map(_ / 10.0)), lit(10000)).as("__qs"))
    scored.join(broadcast(bounds), "source")
      .withColumn("src_decile",
        (size(filter(col("__qs"), q => q < col("score"))) + 1)
          .cast("long"))
      .select("doc_id", "source", "score", "src_decile")
      .orderBy("doc_id")
  }

  /** Feature hashing (the "hashing trick") — text to a fixed 64-dim
    * sparse count vector with NO vocabulary pass: a token's dimension
    * is a pure hash of the token (here two md5 chars folded mod 64, an
    * idiom both engines compute identically), so featurization is
    * stateless, one-pass, and embarrassingly parallel — the property
    * that makes the trick the default text featurizer at corpus scale,
    * where a fitted vocabulary would itself be a 100 TB shuffle.
    * Per doc: nnz, exact squared l2 norm, and the dominant dimension
    * by sentinel argmax (`cnt·64 + (63−dim)` — max cnt wins, ties to
    * the smallest dim, decoded back by div/mod; every operand a
    * BIGINT).
    *
    * Scale (100 TB): two map-side-combined exchanges of counter rows
    * ((doc, dim) then doc — never tokens, never text); state per
    * reducer is bounded by 64 dims per doc. */
  val hashEmbed: Q = Q(
    "ta_hash_embed",
    (s, dir) => {
      // the SHARED hashing-trick kernel (QualityModel.dimOf — "ONE
      // formula for the feature hash"), not an inline copy that a
      // model change could silently un-align from the classifier
      docs(s, dir)
        .select(col("doc_id"),
          explode(split(col("text"), " ")).as("token"))
        .filter(col("token") =!= "")
        .select(col("doc_id"),
          graft.operators.QualityModel.dimOf(col("token")).as("dim"))
        .groupBy("doc_id", "dim").agg(count(lit(1)).as("cnt"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("nnz"),
          sum(col("cnt") * col("cnt")).as("l2sq"),
          max(col("cnt") * 64L + (lit(63L) - col("dim"))).as("enc"))
        .select(col("doc_id"), col("nnz"), col("l2sq"),
          (lit(63L) - col("enc") % 64L).as("top_dim"),
          expr("enc div 64").as("top_cnt"))
        .orderBy("doc_id")
    },
    Some("""
      WITH tok AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS token
        FROM documents),
      tf AS (
        SELECT doc_id,
               CAST((ascii(substr(md5(token), 1, 1)) * 31
                     + ascii(substr(md5(token), 2, 1))) % 64 AS BIGINT)
                 AS dim,
               count(*) AS cnt
        FROM tok WHERE token <> '' GROUP BY 1, 2)
      SELECT doc_id, count(*) AS nnz,
             CAST(sum(cnt * cnt) AS BIGINT) AS l2sq,
             63 - max(cnt * 64 + (63 - dim)) % 64 AS top_dim,
             max(cnt * 64 + (63 - dim)) // 64 AS top_cnt
      FROM tf GROUP BY doc_id ORDER BY doc_id""")
  )

  /** Language-ID n-gram heuristic: score = stopword-token hits per
    * language profile; predict the argmax profile, 'und' when no
    * profile fires. (The fixture corpus is English word-soup, so the
    * interesting part is the mechanism: per-language profile scoring in
    * one pass, no shuffle.) */
  val langId: Q = Q(
    "ta_lang_id",
    (s, dir) =>
      docs(s, dir)
        .withColumn("toks", split(col("text"), " "))
        .withColumn("en_score",
          expr(s"size(filter(toks, t -> t IN ($stopList)))"))
        .withColumn("de_score",
          expr("size(filter(toks, t -> t IN ('der','die','das','und')))"))
        .select(
          col("doc_id"),
          col("lang").as("labeled_lang"),
          col("en_score"),
          col("de_score"),
          when(col("en_score") > col("de_score"), "en")
            .when(col("de_score") > col("en_score"), "de")
            .otherwise("und").as("predicted_lang"))
        .orderBy("doc_id"),
    Some("""
      WITH t AS (
        SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents),
      s AS (
        SELECT doc_id, lang,
               len(list_filter(toks, t -> t IN ('the','a','of','and','to')))
                 AS en_score,
               len(list_filter(toks, t -> t IN ('der','die','das','und')))
                 AS de_score
        FROM t)
      SELECT doc_id, lang AS labeled_lang, en_score, de_score,
             CASE WHEN en_score > de_score THEN 'en'
                  WHEN de_score > en_score THEN 'de'
                  ELSE 'und' END AS predicted_lang
      FROM s ORDER BY doc_id""")
  )

  /** Corpus token frequency — explode + groupBy(token), top-20 by
    * count with a deterministic token tiebreak. The groupBy key is the
    * token (bounded-cardinality vocabulary), so the shuffle is tiny at
    * any corpus size; partial aggregation does the heavy lifting
    * map-side. */
  val wordFreq: Q = Q(
    "ta_word_freq",
    (s, dir) =>
      docs(s, dir)
        .select(explode(split(col("text"), " ")).as("token"))
        .groupBy("token")
        .agg(count(lit(1)).as("freq"))
        .orderBy(desc("freq"), asc("token"))
        .limit(20),
    Some("""
      SELECT token, count(*) AS freq
      FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
      GROUP BY 1 ORDER BY freq DESC, token ASC LIMIT 20""")
  )

  /** Corpus bigram frequency — word-level shingles built with an
    * indexed higher-order transform (no self-join), then the same
    * bounded-key aggregation as wordFreq. */
  val bigramFreq: Q = Q(
    "ta_bigram_freq",
    (s, dir) =>
      docs(s, dir)
        .withColumn("toks", split(col("text"), " "))
        .select(explode(expr(
          "transform(slice(toks, 1, size(toks)-1)," +
            " (x, i) -> concat(x, ' ', element_at(toks, i+2)))"))
          .as("bigram"))
        .groupBy("bigram")
        .agg(count(lit(1)).as("freq"))
        .orderBy(desc("freq"), asc("bigram"))
        .limit(20),
    Some("""
      SELECT bigram, count(*) AS freq
      FROM (
        SELECT unnest(list_transform(l[1:len(l)-1],
                 (x, i) -> x || ' ' || l[i+1])) AS bigram
        FROM (SELECT string_split(text, ' ') AS l FROM documents))
      GROUP BY 1 ORDER BY freq DESC, bigram ASC LIMIT 20""")
  )

  /** Document fingerprinting via a rolling character-8-gram hash
    * (winnowing-style): the fingerprint is the minimum md5 over all
    * sliding 8-char windows — robust to content reordering at the
    * sentence level, one linear pass per doc, no shuffle, and
    * deterministic across engines (lexicographic min over hex).
    * Runs the native [[graft.functions.MinWindowMd5]] kernel (the
    * interpreted per-window lambda + two allocations per window made
    * this the catalog's most expensive face once the bench measured
    * full materialization: 4.4 s → ~0.3 s at sf0.1); the built-in
    * `array_min(transform(...))` composition stays as the
    * spec-pinned reference. */
  val fingerprint: Q = Q(
    "ta_fingerprint",
    (s, dir) => {
      graft.GraftExtensions.ensure(s)
      docs(s, dir)
        .select(
          col("doc_id"),
          expr("min_window_md5(text, 8)").as("fingerprint"))
        .orderBy("doc_id")
    },
    Some("""
      SELECT doc_id,
             list_aggregate(list_transform(
               range(1, greatest(length(text)-7, 1) + 1),
               i -> md5(substr(text, CAST(i AS INT), 8))), 'min')
               AS fingerprint
      FROM documents ORDER BY doc_id""")
  )

  /** Boilerplate detection — the C4-style repeated-n-gram pass: a
    * 5-word shingle appearing in ≥ 3 distinct documents is
    * "boilerplate" (headers, footers, templated spans), and each doc
    * reports its distinct-gram count, boilerplate-gram count, and
    * fraction. Shape at scale: one explode, one map-side-combinable
    * frequency groupBy on 8-byte gram hashes, one join back (heavy
    * grams are by definition the skewed keys — AQE skew-join or a salt
    * on `g` handles them), one per-doc groupBy. The fraction is a
    * single exact-integer double division, replayable by DuckDB. */
  val boilerplate: Q = Q(
    "ta_boilerplate",
    (s, dir) => {
      // kShingles rows are distinct per (doc, gram), so plain count
      // IS the distinct-doc frequency. Counted by ONE unordered
      // window over the gram hash (the repeatedSpans corpus-count
      // idiom, r20): the frequency-aggregate + join-back shape paid
      // the gram exchange twice and computed the unpersisted gram
      // lineage once per join side. A corpus-hot gram lands its rows
      // on one window partition — the same reducer the join keyed it
      // to; salting `g` stays the escape hatch at the extreme.
      graft.operators.TextDedup
        .kShingles(docs(s, dir), 5)
        .select(col("doc_id"),
          org.apache.spark.sql.functions.xxhash64(col("shingle")).as("g"))
        .withColumn("n_docs", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy("g")))
        .groupBy("doc_id")
        .agg(
          count(lit(1)).as("n_grams"),
          sum(when(col("n_docs") >= 3, 1L).otherwise(0L)).as("n_boiler"))
        .withColumn("boiler_frac",
          col("n_boiler").cast("double") / col("n_grams"))
        .orderBy("doc_id")
    },
    Some("""
      WITH grams AS (
        SELECT doc_id,
               unnest(list_distinct(list_transform(
                 range(1, len(string_split(text, ' ')) - 5 + 2),
                 i -> array_to_string(string_split(text, ' ')[i:i+4], ' '))))
                 AS gram
        FROM documents),
      freq AS (SELECT gram, count(*) AS n_docs FROM grams GROUP BY 1)
      SELECT doc_id,
             count(*) AS n_grams,
             CAST(coalesce(sum(CASE WHEN n_docs >= 3 THEN 1 ELSE 0 END), 0)
               AS BIGINT) AS n_boiler,
             CAST(coalesce(sum(CASE WHEN n_docs >= 3 THEN 1 ELSE 0 END), 0)
               AS DOUBLE) / count(*) AS boiler_frac
      FROM grams JOIN freq USING (gram)
      GROUP BY 1 ORDER BY 1""")
  )

  /** Intra-document repetition — the Gopher-style within-doc quality
    * rule: the fraction of a doc's 3-word grams that are repeats of an
    * earlier gram in the SAME doc. Entirely narrow (per-row array
    * ops, no shuffle but the output sort); the fraction is one
    * exact-integer double division. */
  val intraRepetition: Q = Q(
    "ta_intra_repetition",
    (s, dir) =>
      docs(s, dir)
        .select(col("doc_id"), split(col("text"), " ").as("__l"))
        .select(
          col("doc_id"),
          expr("greatest(size(__l) - 2, 0)").cast("long").as("n_grams"),
          expr("""size(array_distinct(
                    if(size(__l) >= 3,
                       transform(sequence(1, size(__l) - 2),
                         i -> concat_ws(' ', slice(__l, i, 3))),
                       array())))""").cast("long").as("n_distinct"))
        .withColumn("dup_frac",
          when(col("n_grams") === 0, lit(0.0))
            .otherwise((col("n_grams") - col("n_distinct")).cast("double")
              / col("n_grams")))
        .orderBy("doc_id"),
    Some("""
      WITH g AS (
        SELECT doc_id,
               greatest(len(string_split(text, ' ')) - 2, 0) AS n_grams,
               len(list_distinct(list_transform(
                 range(1, greatest(len(string_split(text, ' ')) - 2, 0) + 1),
                 i -> array_to_string(string_split(text, ' ')[i:i+2], ' '))))
                 AS n_distinct
        FROM documents)
      SELECT doc_id,
             CAST(n_grams AS BIGINT) AS n_grams,
             CAST(n_distinct AS BIGINT) AS n_distinct,
             CASE WHEN n_grams = 0 THEN 0.0
                  ELSE CAST(n_grams - n_distinct AS DOUBLE) / n_grams
             END AS dup_frac
      FROM g ORDER BY doc_id""")
  )

  /** Quality-weighted deterministic sampling — the data-MIXING pass:
    * each lexical-diversity tier samples at its own rate (high 75%,
    * mid 50%, low 25%) via the md5-prefix rate filter, so corpus
    * composition shifts toward quality without an RNG. Fully narrow,
    * reproducible at any cluster size and across reruns — the property
    * a training-data pipeline needs for auditable mixtures. Tier
    * thresholds compare raw exact-integer divisions, so Spark and
    * DuckDB agree on every boundary. */
  val qualitySample: Q = Q(
    "ta_quality_sample",
    (s, dir) =>
      docs(s, dir)
        .withColumn("toks", split(col("text"), " "))
        .withColumn("lex",
          size(array_distinct(col("toks"))).cast("double")
            / size(col("toks")))
        .withColumn("tier",
          when(col("lex") >= 0.8, "high")
            .when(col("lex") >= 0.5, "mid")
            .otherwise("low"))
        .withColumn("rate",
          when(col("tier") === "high", "c0")
            .when(col("tier") === "mid", "80")
            .otherwise("40"))
        .filter(
          substring(md5(col("doc_id").cast("string")), 1, 2) < col("rate"))
        .select(col("doc_id"), col("tier"))
        .orderBy("doc_id"),
    Some("""
      WITH t AS (
        SELECT doc_id,
               CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                 / len(string_split(text, ' ')) AS lex
        FROM documents),
      tiers AS (
        SELECT doc_id,
               CASE WHEN lex >= 0.8 THEN 'high'
                    WHEN lex >= 0.5 THEN 'mid'
                    ELSE 'low' END AS tier,
               CASE WHEN lex >= 0.8 THEN 'c0'
                    WHEN lex >= 0.5 THEN '80'
                    ELSE '40' END AS rate
        FROM t)
      SELECT doc_id, tier
      FROM tiers
      WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < rate
      ORDER BY doc_id""")
  )

  /** Fixed-window token chunking with overlap — the pass that splits
    * documents into training-context windows (32-token chunks, stride
    * 24 ⇒ 8-token overlap). A narrow explode: chunk count per doc is
    * ⌈max(n−32,0)/24⌉+1, each chunk content-addressed by md5 so the
    * output stays row-sized no matter the window. At corpus scale this
    * is the map stage feeding tokenizer/packing jobs — no shuffle
    * until someone aggregates chunks. */
  val chunk: Q = Q(
    "ta_chunk",
    (s, dir) =>
      // NULL ≡ empty in both engines: an un-coalesced NULL list walks
      // DIFFERENT degenerate paths per engine (Spark's greatest skips
      // the NULL size and still emits chunk 0 with md5(''); DuckDB's
      // range(NULL) drops the doc) — coalescing the input makes both
      // chunk the same [''] token list (r20 review)
      docs(s, dir)
        .select(col("doc_id"),
          split(coalesce(col("text"), lit("")), " ").as("__l"))
        .select(col("doc_id"), col("__l"),
          explode(expr(
            "sequence(0, (greatest(size(__l) - 32, 0) + 23) div 24)"))
            .as("chunk_id"))
        .select(
          col("doc_id"),
          col("chunk_id").cast("long").as("chunk_id"),
          expr("size(slice(__l, chunk_id * 24 + 1, 32))").cast("long")
            .as("n_tokens"),
          expr("md5(concat_ws(' ', slice(__l, chunk_id * 24 + 1, 32)))")
            .as("chunk_hash"))
        .orderBy("doc_id", "chunk_id"),
    Some("""
      WITH t AS (
        SELECT doc_id, string_split(coalesce(text, ''), ' ') AS l
        FROM documents),
      c AS (
        SELECT doc_id,
               unnest(range(0, ((greatest(len(l) - 32, 0) + 23) // 24) + 1))
                 AS chunk_id,
               l
        FROM t)
      SELECT doc_id,
             CAST(chunk_id AS BIGINT) AS chunk_id,
             CAST(len(l[chunk_id*24+1 : chunk_id*24+32]) AS BIGINT)
               AS n_tokens,
             md5(array_to_string(l[chunk_id*24+1 : chunk_id*24+32], ' '))
               AS chunk_hash
      FROM c ORDER BY doc_id, chunk_id""")
  )

  /** TF-IDF-style salient terms: each document's top-3 tokens ranked
    * by tf/df — term frequency over document frequency. The classic
    * log-idf is replaced by the rational tf/df score because ln()'s
    * last-ulp behavior differs across libm implementations while
    * integer division is IEEE-exact in every engine (the same
    * determinism rule as the cosine fold); for a FIXED term the
    * orderings agree, and the score is our own extension's contract.
    *
    * Scale: tf is one token-key groupBy (bounded vocab); df derives
    * from tf (grouped again on the token key — no second corpus
    * scan); the tf⋈df join broadcasts the vocab-sized df side; the
    * top-3 window partitions by doc_id. The tf lineage feeds both
    * sides — persisted lazily, released after the result
    * materializes. */
  val tfidfTopTerms: Q = Q(
    "ta_tfidf_topterms",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val tf = docs(s, dir)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
        .groupBy("doc_id", "token")
        .agg(count(lit(1)).as("tf"))
        .persist()
      val df = tf.groupBy("token").agg(count(lit(1)).as("df"))
      val w = Window.partitionBy("doc_id")
        .orderBy(col("score").desc, col("token").asc)
      val result = tf.join(broadcast(df), "token")
        .withColumn("score", col("tf").cast("double") / col("df"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
        .select(col("doc_id"), col("rank"), col("token"), col("score"))
        .orderBy("doc_id", "rank")
      graft.operators.CacheScope.eval(result)(tf)
    },
    Some("""
      WITH tf AS (
        SELECT doc_id, token, count(*) AS tf
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token
              FROM documents)
        GROUP BY 1, 2),
      df AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
      ranked AS (
        SELECT doc_id, token,
               CAST(tf AS DOUBLE) / df AS score,
               row_number() OVER (PARTITION BY doc_id
                 ORDER BY CAST(tf AS DOUBLE) / df DESC, token ASC) AS rank
        FROM tf JOIN df USING (token))
      SELECT doc_id, rank, token, score FROM ranked
      WHERE rank <= 3 ORDER BY doc_id, rank""")
  )

  /** Out-of-vocabulary rate per document against a corpus-derived
    * vocabulary (the top-20 tokens by frequency, ties broken
    * alphabetically — the tokenizer-prep statistic: how much of each
    * doc a fixed vocab covers). The vocab is vocab-sized by
    * construction, so it broadcasts; the per-doc stats are one
    * groupBy on doc_id. The OOV ratio is one exact-integer division. */
  val oovRate: Q = Q(
    "ta_oov_rate",
    (s, dir) => {
      val toks = docs(s, dir)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
      val vocab = toks.groupBy("token").agg(count(lit(1)).as("freq"))
        .orderBy(desc("freq"), asc("token")).limit(20)
        .select(col("token"), lit(1).as("in_vocab"))
      toks.join(broadcast(vocab), Seq("token"), "left")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tokens"),
          sum(when(col("in_vocab").isNull, 1).otherwise(0)).as("n_oov"))
        .withColumn("oov_rate",
          col("n_oov").cast("double") / col("n_tokens"))
        .orderBy("doc_id")
    },
    Some("""
      WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS token
        FROM documents),
      vocab AS (
        SELECT token FROM (
          SELECT token, count(*) AS freq FROM toks GROUP BY 1
          ORDER BY freq DESC, token ASC LIMIT 20)),
      flags AS (
        SELECT t.doc_id,
               CASE WHEN v.token IS NULL THEN 1 ELSE 0 END AS oov
        FROM toks t LEFT JOIN vocab v ON t.token = v.token)
      SELECT doc_id, count(*) AS n_tokens,
             CAST(sum(oov) AS BIGINT) AS n_oov,
             CAST(sum(oov) AS DOUBLE) / count(*) AS oov_rate
      FROM flags GROUP BY 1 ORDER BY doc_id""")
  )

  /** Stopword-strip MATERIALIZATION — the cleaned corpus a tokenizer
    * would train on: the corpus's own top-5 most frequent tokens
    * (data-derived, not a static list) removed from every document,
    * order preserved. The tiny vocab is collected driver-side (≤5
    * rows — the same planning-class round-trip as the IVF seeds) and
    * inlined as a literal array, so the strip is a narrow codegen'd
    * higher-order filter over the token array: no join, no shuffle,
    * linear in the corpus. */
  val stopwordStrip: Q = Q(
    "ta_stopword_strip",
    (s, dir) => {
      val top5 = docs(s, dir)
        .select(explode(split(col("text"), " ")).as("token"))
        .groupBy("token").agg(count(lit(1)).as("freq"))
        .orderBy(desc("freq"), asc("token")).limit(5)
        .select("token").collect().map(_.getString(0)).toSeq
      // typedLit, not SQL-text interpolation: a corpus token containing
      // a quote or backslash must stay data, never become syntax, and an
      // empty corpus must still yield a typed array<string> literal
      val vocab = typedLit(top5)
      // NULL text ≡ empty text IN BOTH ENGINES: without the coalesce,
      // Spark's concat_ws silently rewrites the NULL token array to ''
      // while DuckDB's array_to_string stays NULL — a ''-vs-NULL
      // divergence in the materialized column (r20 review). Coalescing
      // the INPUT makes both engines walk the same [''] token list.
      docs(s, dir)
        .withColumn("toks", split(coalesce(col("text"), lit("")), " "))
        .withColumn("clean",
          filter(col("toks"), t => !array_contains(vocab, t)))
        .select(col("doc_id"),
          concat_ws(" ", col("clean")).as("clean_text"),
          (size(col("toks")) - size(col("clean"))).as("n_removed"))
        .orderBy("doc_id")
    },
    Some("""
      WITH freq AS (
        SELECT token, count(*) AS freq
        FROM (SELECT unnest(string_split(text, ' ')) AS token
              FROM documents)
        GROUP BY 1),
      top5 AS (
        SELECT list(token) AS sw FROM (
          SELECT token FROM freq ORDER BY freq DESC, token ASC LIMIT 5)),
      stripped AS (
        SELECT doc_id, string_split(coalesce(text, ''), ' ') AS toks,
               list_filter(string_split(coalesce(text, ''), ' '),
                 t -> NOT list_contains(sw, t)) AS clean
        FROM documents, top5)
      SELECT doc_id, array_to_string(clean, ' ') AS clean_text,
             len(toks) - len(clean) AS n_removed
      FROM stripped ORDER BY doc_id""")
  )

  /** Text normalization MATERIALIZATION — the canonical-form pass every
    * pipeline runs before dedup/fingerprinting so that case and
    * punctuation variants of the same content collide: lowercase,
    * strip every char outside [a-z0-9 ], collapse whitespace runs,
    * trim. Pure per-row string work — one scan, zero shuffle, fully
    * codegen'd — and every step is a regex both engines interpret
    * identically (ASCII classes only; no locale- or Unicode-dependent
    * behavior). Emitted with before/after lengths so the downstream
    * quality gate can threshold on shrinkage (heavy markup → large
    * drop). */
  val normalize: Q = Q(
    "ta_normalize",
    (s, dir) =>
      docs(s, dir)
        .withColumn("norm_text",
          trim(regexp_replace(
            regexp_replace(lower(col("text")), "[^a-z0-9 ]", ""),
            " +", " ")))
        .select(col("doc_id"), col("norm_text"),
          length(col("text")).as("n_chars_raw"),
          length(col("norm_text")).as("n_chars_norm"))
        .orderBy("doc_id"),
    Some("""
      WITH n AS (
        SELECT doc_id, text,
               trim(regexp_replace(
                 regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
                 ' +', ' ', 'g')) AS norm_text
        FROM documents)
      SELECT doc_id, norm_text,
             CAST(length(text) AS INT) AS n_chars_raw,
             CAST(length(norm_text) AS INT) AS n_chars_norm
      FROM n ORDER BY doc_id""")
  )

  /** Corpus mixing MATERIALIZATION — rebalance the language
    * distribution by deterministic per-language downsampling rates
    * (the data-mixing step of every multilingual training run: here
    * dominant `en` keeps 50%, `zh` 75%, the rest 100%). The keep/drop
    * decision is a pure function of (doc_id, lang) — first md5 byte
    * under a per-language hex threshold, the rel_hash_sample idiom —
    * so the mix is reproducible on any cluster size, any partitioning,
    * any retry, and composable with later stages without coordination.
    * One narrow scan, zero shuffle. ("g" sorts above every hex digit
    * — the keep-all threshold.) */
  val corpusMix: Q = Q(
    "ta_corpus_mix",
    (s, dir) =>
      docs(s, dir)
        .filter(mixGate)
        .select("doc_id", "lang", "source")
        .orderBy("doc_id"),
    Some(s"""
      SELECT doc_id, lang, source
      FROM documents
      WHERE ${mixGateSql("")}
      ORDER BY doc_id""")
  )

  /** The language-mix keep gate (en 50%, zh 75%, rest 100%) as ONE
    * definition — `ta_corpus_mix` certifies it standalone and
    * `dd_curation_pipeline` composes it, so the two queries cannot
    * drift apart. Scala and SQL forms are maintained together here:
    * a rate change edits this pair and nothing else. */
  def mixGate: org.apache.spark.sql.Column =
    substring(md5(col("doc_id").cast("string")), 1, 2) <
      when(col("lang") === "en", "80")
        .when(col("lang") === "zh", "c0")
        .otherwise("g")

  /** DuckDB form of [[mixGate]]; `alias` prefixes the column refs
    * (pass "" when the documents table is unaliased). */
  def mixGateSql(alias: String): String = {
    val p = if (alias.isEmpty) "" else s"$alias."
    s"""substr(md5(CAST(${p}doc_id AS VARCHAR)), 1, 2) <
            CASE ${p}lang WHEN 'en' THEN '80' WHEN 'zh' THEN 'c0'
                      ELSE 'g' END"""
  }

  /** Per-language heavy hitters — the top-3 most frequent tokens per
    * language, the per-stratum vocabulary report behind language-ID
    * lists and stopword tables. Aggregate-then-window: one bounded-key
    * groupBy (lang × token) does the heavy lifting, then the rank
    * window runs over the already-aggregated (tiny) result partitioned
    * by lang — never a window over raw rows. Ties break
    * lexicographically, making rank and order fully deterministic. */
  val topTermsPerLang: Q = Q(
    "ta_top_terms_per_lang",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("lang")
        .orderBy(desc("freq"), asc("token"))
      docs(s, dir)
        .select(col("lang"),
          explode(split(col("text"), " ")).as("token"))
        .groupBy("lang", "token").agg(count(lit(1)).as("freq"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
        .select("lang", "rank", "token", "freq")
        .orderBy("lang", "rank")
    },
    Some("""
      SELECT lang, rank, token, freq FROM (
        SELECT lang, token, count(*) AS freq,
               row_number() OVER (PARTITION BY lang
                 ORDER BY count(*) DESC, token ASC) AS rank
        FROM (SELECT lang, unnest(string_split(text, ' ')) AS token
              FROM documents)
        GROUP BY lang, token)
      WHERE rank <= 3
      ORDER BY lang NULLS FIRST, rank""")
  )

  /** Shard assignment MATERIALIZATION — pack documents into
    * fixed-token-budget training shards: within each source, documents
    * take a deterministic order (md5 of the id — uniform, reproducible,
    * decorrelated from crawl order) and a running token total; shard
    * id = how many full budgets precede the doc's first token. A doc
    * that straddles the boundary belongs to the shard it STARTS in
    * (floor((cum - n)/budget)), matching a writer that starts a new
    * file only when the budget is already exhausted. The physical
    * plan is operators.Partitioning.packShards — a two-level exact
    * prefix sum (16-way md5-prefix sub-buckets windowed independently,
    * driver-side bucket offsets) that avoids the one-reducer-per-source
    * sort a naive per-source window would cost at 100 TB, while
    * producing the BIT-IDENTICAL result the oracle computes as one
    * plain window (the sub-bucket key is a prefix of the order key,
    * so hierarchical order = flat order). */
  val shardAssign: Q = Q(
    "ta_shard_assign",
    (s, dir) => graft.operators.Partitioning.packShards(
        docs(s, dir)
          .withColumn("n_tokens",
            size(split(col("text"), " ")).cast("long")),
        "source", "doc_id", "n_tokens", budget = 2000L)
      .select("source", "doc_id", "n_tokens", "shard")
      .orderBy("source", "shard", "doc_id"),
    Some("""
      SELECT source, doc_id, n_tokens,
             CAST(floor((cum - n_tokens) / 2000) AS BIGINT) AS shard
      FROM (
        SELECT source, doc_id,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
               sum(CAST(len(string_split(text, ' ')) AS BIGINT)) OVER (
                 PARTITION BY source
                 ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
                 ROWS UNBOUNDED PRECEDING) AS cum
        FROM documents)
      ORDER BY source NULLS FIRST, shard NULLS FIRST, doc_id""")
  )

  /** [[shardAssign]] re-based on REAL tokenizer budgets (r10 verdict
    * "What's missing" #1: "shard packing … production-meaningful"):
    * identical two-level packShards physical plan, but the weight is
    * the native `bpe_count` instead of the whitespace word count, so
    * shards hold ~equal BPE-token mass — what a training run actually
    * consumes. Budget 6000 BPE tokens ≈ the whitespace face's 2000
    * words at the corpus's ~2.9 tokens/word. The oracle replays the
    * same unrolled merge walk per word, aggregates per doc, and runs
    * the one plain window the two-level plan is provably equal to. */
  val bpeShardAssign: Q = Q(
    "ta_bpe_shard_assign",
    (s, dir) => {
      graft.GraftExtensions.ensure(s)
      // persisted NARROW: packShards evaluates its input TWICE
      // (per-bucket totals collect + the windowed plan — its own
      // scaladoc's warning), and this input carries the native BPE
      // merge walk over the whole corpus, the face's dominant cost.
      // The projection drops the text column FIRST — caching the raw
      // text alongside would cost more than the second BPE pass saves
      val weighted = docs(s, dir)
        .select(col("source"), col("doc_id"),
          expr("bpe_count(text)").as("n_tokens")).persist()
      graft.operators.CacheScope.eval(
        graft.operators.Partitioning.packShards(
            weighted, "source", "doc_id", "n_tokens", budget = 6000L)
          .select("source", "doc_id", "n_tokens", "shard")
          .orderBy("source", "shard", "doc_id"))(weighted)
    },
    Some(s"""
      WITH $bpeCountCtes
      SELECT source, doc_id, n_tokens,
             CAST(floor((cum - n_tokens) / 6000) AS BIGINT) AS shard
      FROM (
        SELECT d.source, d.doc_id, b.n_bpe AS n_tokens,
               sum(b.n_bpe) OVER (PARTITION BY d.source
                 ORDER BY md5(CAST(d.doc_id AS VARCHAR)), d.doc_id
                 ROWS UNBOUNDED PRECEDING) AS cum
        FROM documents d JOIN bpe_n b USING (doc_id))
      ORDER BY source NULLS FIRST, shard NULLS FIRST, doc_id""")
  )

  /** [[chunk]] re-based on REAL tokenizer windows — 32-BPE-token
    * context windows with stride 24 over the native `bpe_tokens`
    * sequence ([[graft.functions.BpeTokens]]), completing the
    * token-budget family (count → stats, shard packing, chunking).
    * The oracle recovers the SAME in-order token sequence per doc by
    * walking each word separately (the bpe_count idiom) with its
    * ordinal carried along — zipped unnest of (word, index) — and
    * flattening the per-word token lists back in word order. (An
    * earlier form merged the whole document with a `|` word-gap
    * sentinel; that silently drops REAL pipe characters from the
    * token stream — r11 review — so the sentinel is gone.) Same
    * window arithmetic as `ta_chunk`, so the two faces differ only
    * in what a "token" is. */
  /** Tokenizer FERTILITY per language — BPE tokens per whitespace
    * word, the standard multilingual budget diagnostic (how many
    * subword tokens the tokenizer spends per word of each language):
    * a language with high fertility is under-served by the merge
    * vocabulary and consumes disproportionate context window and
    * compute per word — the number a team reads before setting
    * per-language mix weights (`ta_corpus_mix`) or revisiting the
    * merge file. Integer-exact millis (1000 = one token per word);
    * both counts ride the same certified kernels as
    * `ta_bpe_token_stats` (native `bpe_count`, empty-token-filtered
    * whitespace words), aggregated per lang.
    *
    * Scale (100 TB): one fused narrow kernel per row, one
    * map-combined aggregate to |langs| rows — nothing else. */
  /** BPE TOKENIZER TRAINING (r12) — the merge-LEARNING step the
    * `bpe_*` apply faces consume (Sennrich et al. 2016), as a
    * distributed job: collapse the corpus to the word-frequency
    * table ONCE (the classic trainer optimization — every later pass
    * touches |vocab| rows, never the corpus), then each round counts
    * adjacent symbol pairs weighted by word frequency (one
    * map-side-combined aggregate), elects the max-count pair with the
    * merges-file tie-break (count desc, then lexicographic — a 1-row
    * argmax collect, the IVF-seed planning-class precedent), and
    * applies the merge to the vocab's space-separated symbol strings
    * via TWO replace passes — exact leftmost-first by the BpeOps
    * argument, and like BpeOps it REJECTS a self-pair argmax loudly
    * rather than silently diverging from the replay (the fixture
    * elects none at any SF). Output: the learned merge table
    * (rank, left_sym, right_sym, pair_count) — the artifact
    * `graft/bpe_merges.txt` ships, reproduced by the engine itself.
    *
    * Scale (100 TB): one corpus scan; 5 fixed rounds over the
    * language-bounded vocab with a broadcast-literal merge each
    * round; lineage flattened per round via CacheScope.materialize
    * (the LinkGraph loop discipline). The DuckDB oracle replays all
    * 5 rounds as an unrolled CTE chain. */
  val bpeTrain: Q = {
    val Rounds = 5
    Q(
      "ta_bpe_train",
      (s, dir) => {
        import graft.operators.CacheScope
        var vocab = docs(s, dir)
          .select(explode(split(col("text"), " ")).as("token"))
          .filter(col("token") =!= "")
          .groupBy("token").agg(count(lit(1)).as("c"))
          .select(concat(lit(" "),
            array_join(split(col("token"), ""), " "), lit(" "))
            .as("w"), col("c"))
        val learned = Seq.newBuilder[(Long, String, String, Long)]
        val staged = Seq.newBuilder[DataFrame]
        for (r <- 1 to Rounds) {
          val v = CacheScope.materialize(vocab)
          staged += v
          val top = v
            .select(split(trim(col("w")), " ").as("s"), col("c"))
            .filter(size(col("s")) >= 2)
            .select(explode(expr(
              "transform(sequence(1, size(s) - 1), " +
                "i -> struct(element_at(s, i) AS l, " +
                "element_at(s, i + 1) AS r))")).as("p"), col("c"))
            .groupBy(col("p.l").as("l"), col("p.r").as("r"))
            .agg(sum("c").as("cnt"))
            .orderBy(col("cnt").desc, col("l"), col("r"))
            .limit(1).collect()
          require(top.nonEmpty, "bpe_train: vocabulary exhausted")
          val (l, rt, cnt) =
            (top(0).getString(0), top(0).getString(1),
              top(0).getLong(2))
          require(l != rt,
            s"bpe_train: self-pair argmax '$l $rt' unsupported — " +
              "the two-pass replace application (and its oracle) " +
              "diverges from leftmost-first on same-token runs")
          require((l + rt).forall(_.isLetterOrDigit),
            s"bpe_train: non-alphanumeric merge symbol '$l$rt'")
          learned += ((r.toLong, l, rt, cnt))
          vocab = v.select(expr(
            s"replace(replace(w, ' $l $rt ', ' $l$rt '), " +
              s"' $l $rt ', ' $l$rt ')").as("w"), col("c"))
        }
        staged.result().foreach(CacheScope.releaseCheckpoint)
        import s.implicits._
        learned.result()
          .toDF("rank", "left_sym", "right_sym", "pair_count")
          .orderBy("rank")
      },
      Some {
        val rounds = (1 to Rounds).map { r =>
          s"""
      p$r AS (
        SELECT s[i] AS l, s[i+1] AS r, CAST(sum(c) AS BIGINT) AS cnt
        FROM (SELECT string_split(trim(w), ' ') AS s, c
              FROM w${r - 1}) t,
             unnest(range(1, len(t.s))) u(i)
        GROUP BY 1, 2),
      a$r AS (SELECT l, r, cnt FROM p$r
              ORDER BY cnt DESC, l, r LIMIT 1),
      w$r AS (
        SELECT replace(replace(t.w,
                 ' '||a.l||' '||a.r||' ', ' '||a.l||a.r||' '),
                 ' '||a.l||' '||a.r||' ', ' '||a.l||a.r||' ') AS w,
               t.c
        FROM w${r - 1} t, a$r a)"""
        }.mkString(",")
        val out = (1 to Rounds).map { r =>
          val rank = if (r == 1) s"CAST($r AS BIGINT) AS rank" else s"$r"
          val cols = if (r == 1)
            "l AS left_sym, r AS right_sym, cnt AS pair_count"
          else "l, r, cnt"
          s"SELECT $rank, $cols FROM a$r"
        }.mkString("\n      UNION ALL ")
        s"""
      WITH w0 AS (
        SELECT ' ' || array_to_string(string_split_regex(token, ''),
                 ' ') || ' ' AS w,
               CAST(count(*) AS BIGINT) AS c
        FROM (SELECT unnest(string_split(text, ' ')) AS token
              FROM documents)
        WHERE token <> '' GROUP BY 1),$rounds
      SELECT * FROM (
      $out)
      ORDER BY rank"""
      }
    )
  }

  val bpeFertility: Q = Q(
    "ta_bpe_fertility",
    (s, dir) => {
      graft.GraftExtensions.ensure(s)
      docs(s, dir)
        .select(col("lang"),
          size(expr("filter(split(text, ' '), x -> x <> '')"))
            .cast("long").as("nw"),
          expr("bpe_count(text)").as("nb"))
        .groupBy("lang")
        .agg(sum("nw").as("n_words"), sum("nb").as("n_bpe_tokens"))
        .withColumn("fertility_millis",
          // nullif: the unimaxMix ANSI-div rationale — a zero-word
          // language must read NULL, not kill the query (r20 review)
          expr("(n_bpe_tokens * 1000) div nullif(n_words, 0)"))
        .orderBy("lang")
    },
    Some(s"""
      WITH $bpeCountCtes,
      wc AS (
        SELECT doc_id, count(*) AS nw FROM (
          SELECT doc_id, unnest(string_split(text, ' ')) AS word
          FROM documents) WHERE word <> '' GROUP BY doc_id)
      SELECT d.lang,
             CAST(sum(coalesce(w.nw, 0)) AS BIGINT) AS n_words,
             CAST(sum(b.n_bpe) AS BIGINT) AS n_bpe_tokens,
             CAST(sum(b.n_bpe) * 1000
                    // nullif(sum(coalesce(w.nw, 0)), 0)
               AS BIGINT) AS fertility_millis
      FROM documents d
      JOIN bpe_n b USING (doc_id)
      LEFT JOIN wc w USING (doc_id)
      GROUP BY 1 ORDER BY 1 NULLS FIRST""")
  )

  val bpeChunk: Q = Q(
    "ta_bpe_chunk",
    (s, dir) => {
      graft.GraftExtensions.ensure(s)
      // coalesce: the oracle's docseq CTE coalesces a NULL-text doc's
      // token list to [], so the Spark side must hand bpe_tokens ''
      // (→ []) rather than NULL (→ NULL list, NULL n_tokens) — the
      // NULL-vs-0 divergence on chunk 0 (r20 review)
      docs(s, dir)
        .select(col("doc_id"),
          expr("bpe_tokens(coalesce(text, ''))").as("__l"))
        .select(col("doc_id"), col("__l"),
          explode(expr(
            "sequence(0, (greatest(size(__l) - 32, 0) + 23) div 24)"))
            .as("chunk_id"))
        .select(
          col("doc_id"),
          col("chunk_id").cast("long").as("chunk_id"),
          expr("size(slice(__l, chunk_id * 24 + 1, 32))").cast("long")
            .as("n_tokens"),
          expr("md5(concat_ws(' ', slice(__l, chunk_id * 24 + 1, 32)))")
            .as("chunk_hash"))
        .orderBy("doc_id", "chunk_id")
    },
    Some(s"""
      WITH t AS (
        SELECT doc_id, unnest(l) AS word,
               unnest(range(1, len(l) + 1)) AS wi
        FROM (SELECT doc_id, string_split(text, ' ') AS l
              FROM documents)),
      wt AS (
        SELECT doc_id, wi,
               list_filter(string_split(trim($bpeWalkSql), ' '),
                 x -> x <> '') AS wtoks
        FROM t WHERE word <> ''),
      seqs AS (
        SELECT doc_id, flatten(list(wtoks ORDER BY wi)) AS toks
        FROM wt GROUP BY doc_id),
      docseq AS (
        SELECT d.doc_id, coalesce(s.toks, []) AS l
        FROM documents d LEFT JOIN seqs s USING (doc_id)),
      c AS (
        SELECT doc_id,
               unnest(range(0, ((greatest(len(l) - 32, 0) + 23) // 24) + 1))
                 AS chunk_id,
               l
        FROM docseq)
      SELECT doc_id,
             CAST(chunk_id AS BIGINT) AS chunk_id,
             CAST(len(l[chunk_id*24+1 : chunk_id*24+32]) AS BIGINT)
               AS n_tokens,
             md5(array_to_string(l[chunk_id*24+1 : chunk_id*24+32], ' '))
               AS chunk_hash
      FROM c ORDER BY doc_id, chunk_id""")
  )

  /** Per-language token-length quantiles (p50/p90/p99) — the length
    * distribution every curation run consults to set its min/max-length
    * filter thresholds. EXACT discrete quantiles (smallest length whose
    * cumulative count reaches ceil(p·n)), computed scale-first: one
    * bounded-key groupBy collapses the corpus to a (lang × length)
    * HISTOGRAM, and the cumulative window runs over that tiny aggregate
    * — never a per-language sort of raw rows, so a 100 TB corpus pays
    * one map-side-combined shuffle of |langs|·|distinct lengths| rows.
    * All-integer rank arithmetic (the only double is ceil(p·n), a
    * comparison bound computed identically by both engines), so the
    * report hash-matches across engines — no interpolated
    * percentile_cont float drift. */
  val lengthQuantiles: Q = Q(
    "ta_length_quantiles",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val hist = docs(s, dir)
        .withColumn("n_tokens", size(split(col("text"), " ")).cast("long"))
        .groupBy("lang", "n_tokens").agg(count(lit(1)).as("c"))
      val byLang = Window.partitionBy("lang")
      def q(p: Double, name: String) =
        min(when(col("cum") >= ceil(lit(p) * col("n")), col("n_tokens")))
          .as(name)
      hist
        .withColumn("cum", sum("c").over(byLang.orderBy("n_tokens")))
        .withColumn("n", sum("c").over(byLang))
        .groupBy("lang")
        .agg(max("n").as("n_docs"),
          q(0.5, "p50"), q(0.9, "p90"), q(0.99, "p99"))
        .orderBy("lang")
    },
    Some("""
      WITH hist AS (
        SELECT lang, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
               count(*) AS c
        FROM documents GROUP BY 1, 2),
      cum AS (
        SELECT lang, n_tokens,
               -- NULLS FIRST: a NULL-length bucket (NULL-text docs)
               -- cumulates FIRST under Spark's ASC default but LAST
               -- here, shifting cum and therefore every quantile of
               -- that language (r20 review)
               sum(c) OVER (PARTITION BY lang
                            ORDER BY n_tokens NULLS FIRST) AS cum,
               sum(c) OVER (PARTITION BY lang) AS n
        FROM hist)
      SELECT lang, CAST(max(n) AS BIGINT) AS n_docs,
             min(CASE WHEN cum >= ceil(0.5 * n)  THEN n_tokens END) AS p50,
             min(CASE WHEN cum >= ceil(0.9 * n)  THEN n_tokens END) AS p90,
             min(CASE WHEN cum >= ceil(0.99 * n) THEN n_tokens END) AS p99
      FROM cum GROUP BY lang ORDER BY lang NULLS FIRST""")
  )

  // PII regexes + scrub live in operators.Pii.
  private val EmailRe = graft.operators.Pii.EmailRe
  private val Ipv4Re = graft.operators.Pii.Ipv4Re
  private val PhoneRe = graft.operators.Pii.PhoneRe

  /** PII REDACTION — the scrub pass every pre-training pipeline runs
    * before text leaves curation: emails, IPv4 addresses, and NANP
    * phone numbers detected and replaced with typed placeholders,
    * with per-class match counts kept for the audit log. The synthetic
    * corpus carries no contact strings, so the fixture's "dirty"
    * column is derived deterministically from doc fields (same
    * arithmetic in both engines) — the regex match/replace work, which
    * is the operator under test, is then fully exercised and
    * hash-checked: counts VARY per doc (a cc'd second address every
    * third doc — MIXED-case, pinning the detector's [A-Za-z] classes
    * against both engines — no IP every fifth) so the oracle can't
    * pass on constant output.
    *
    * Scale shape: pure per-row regex work — one scan, zero shuffle,
    * all Spark built-ins (codegen'd). Redaction order (email → ip →
    * phone) is part of the contract: placeholders contain no digits,
    * so later passes can't re-match earlier rewrites. */
  val piiRedact: Q = Q(
    "ta_pii_redact",
    (s, dir) => {
      val dirty = concat(
        col("text"), lit(" reach "), col("source"), lit(".team+"),
        col("doc_id").cast("string"), lit("@mail.example.org"),
        when(col("doc_id") % 3 === 0, lit(" cc Admin@Ops.Example.COM"))
          .otherwise(lit("")),
        when(col("doc_id") % 5 === 0, lit(""))
          .otherwise(concat(lit(" from 10."),
            (col("doc_id") % 256).cast("string"), lit("."),
            (col("doc_id") * 7 % 256).cast("string"), lit("."),
            (col("doc_id") % 100).cast("string"))),
        lit(" tel 415-555-"),
        lpad((col("doc_id") % 10000).cast("string"), 4, "0"))
      graft.operators.Pii
        .withScrub(docs(s, dir).withColumn("dirty", dirty), "dirty")
        .select("doc_id", "n_emails", "n_ips", "n_phones", "clean_text")
        .orderBy("doc_id")
    },
    Some(s"""
      WITH dirty AS (
        SELECT doc_id,
               text || ' reach ' || source || '.team+' ||
               CAST(doc_id AS VARCHAR) || '@mail.example.org' ||
               CASE WHEN doc_id % 3 = 0
                    THEN ' cc Admin@Ops.Example.COM' ELSE '' END ||
               CASE WHEN doc_id % 5 = 0 THEN ''
                    ELSE ' from 10.' || CAST(doc_id % 256 AS VARCHAR)
                         || '.' || CAST(doc_id * 7 % 256 AS VARCHAR)
                         || '.' || CAST(doc_id % 100 AS VARCHAR) END ||
               ' tel 415-555-' ||
               lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS dirty
        FROM documents)
      , s1 AS (
        SELECT doc_id,
               len(regexp_extract_all(dirty, '$EmailRe')) AS n_emails,
               regexp_replace(dirty, '$EmailRe', '[EMAIL]', 'g') AS t1
        FROM dirty),
      s2 AS (
        SELECT doc_id, n_emails,
               len(regexp_extract_all(t1, '$Ipv4Re')) AS n_ips,
               regexp_replace(t1, '$Ipv4Re', '[IP]', 'g') AS t2
        FROM s1)
      SELECT doc_id, n_emails, n_ips,
             len(regexp_extract_all(t2, '$PhoneRe')) AS n_phones,
             regexp_replace(t2, '$PhoneRe', '[PHONE]', 'g') AS clean_text
      FROM s2 ORDER BY doc_id""")
  )

  /** URL EXTRACTION + per-domain stats — the provenance report a
    * crawl-derived corpus needs before per-domain filtering or
    * dedup-by-URL: every URL pulled out of the text, reduced to its
    * domain, counted. Same fixture stance as [[piiRedact]]: URLs are
    * synthesized deterministically from doc fields in both engines
    * (a canonical link per doc + a mirror link on even ids), so the
    * extract regex and the domain grouping are genuinely exercised.
    *
    * Scale shape: narrow per-row extract + explode, then ONE groupBy
    * on the domain key — bounded by |domains|, never corpus-sized.
    * The distinct-doc count per domain is map-side combinable. */
  val urlDomains: Q = Q(
    "ta_url_domains",
    (s, dir) =>
      urlMentions(s, dir)
        .groupBy("domain")
        .agg(count(lit(1)).as("n_urls"),
          countDistinct(col("doc_id")).as("n_docs"))
        .orderBy("domain"),
    Some(s"""
      WITH $urlMentionsSql
      SELECT domain, count(*) AS n_urls, count(DISTINCT doc_id) AS n_docs
      FROM mentions GROUP BY 1 ORDER BY 1""")
  )

  /** DOMAIN-BLOCKLIST FILTERING (r12) — the other half of the URL
    * curation pass next to `dd_url_dedup`: a suffix-rule blocklist
    * (the UT1/adult-list convention every crawl pipeline applies)
    * marks a URL blocked iff its host EQUALS an entry or ends with
    * `.entry` — never a substring match, so `notexample.net` is not
    * caught by `example.net`. Per doc: URL mentions, blocked
    * mentions, and the keep verdict (no blocked URL).
    *
    * Scale shape ([[graft.operators.UrlCanon.domainSuffixes]]): the
    * DISTINCT domains — |domains|-bounded, not corpus-bounded —
    * explode into their ≤127 dot-suffixes and semi-join the
    * blocklist on the suffix KEY; a million-entry blocklist is a
    * plain shuffled (or broadcast) equi-join instead of a
    * regex-per-pattern scan of every row. The blocked-domain set
    * then joins back to mentions on the domain key. */
  private val DomainBlocklist = Seq("example.net", "src3.example.com")

  /** THE domain-filter oracle, shared verbatim by [[domainFilter]]
    * and [[domainFilterBloom]] — the dd_decontaminate_bloom
    * certification stance: the gated face's proof is that it matches
    * the ungated oracle, which must therefore BE the same text. */
  private def domainFilterOracleSql: String = s"""
      WITH $urlMentionsSql,
      bl AS (SELECT * FROM (VALUES ('example.net'),
             ('src3.example.com')) AS t(b)),
      bd AS (
        SELECT DISTINCT m.domain
        FROM mentions m JOIN bl
          ON m.domain = bl.b OR m.domain LIKE '%.' || bl.b),
      agg AS (
        SELECT m.doc_id, count(*) AS n_urls,
               sum(CASE WHEN bd.domain IS NOT NULL THEN 1 ELSE 0 END)
                 AS n_blocked
        FROM mentions m LEFT JOIN bd USING (domain)
        GROUP BY 1)
      SELECT doc_id, n_urls, CAST(n_blocked AS BIGINT) AS n_blocked,
             CAST(CASE WHEN n_blocked = 0 THEN 1 ELSE 0 END AS BIGINT)
               AS kept
      FROM agg ORDER BY doc_id"""

  /** The doc-level rollup shared by both filter faces: mentions ⋈
    * blocked-domain set → per-doc counts + keep verdict. */
  private def domainFilterRollup(m: DataFrame,
                                 blocked: DataFrame): DataFrame =
    m.join(broadcast(blocked.withColumn("__blocked", lit(1L))),
        Seq("domain"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_urls"),
        sum(coalesce(col("__blocked"), lit(0L))).as("n_blocked"))
      .withColumn("kept",
        when(col("n_blocked") === 0, 1L).otherwise(0L))
      .orderBy("doc_id")

  val domainFilter: Q = Q(
    "ta_domain_filter",
    (s, dir) => {
      import s.implicits._
      val m = urlMentions(s, dir)
      val blocked = m.select("domain").distinct()
        .select(col("domain"),
          explode(graft.operators.UrlCanon.domainSuffixes(col("domain")))
            .as("suf"))
        .join(broadcast(DomainBlocklist.toDF("suf")), Seq("suf"),
          "left_semi")
        .select("domain").distinct()
      domainFilterRollup(m, blocked)
    },
    Some(domainFilterOracleSql)
  )

  /** Bloom-gated [[domainFilter]] — the shape the suffix join takes
    * when the blocklist is too large to broadcast as exact rows (the
    * UT1 adult list alone is millions of entries; curated corporate
    * blocklists run larger): build a Bloom filter over the entry
    * hashes ONCE (~1.2 MB per million entries), drop the ~99% of
    * exploded suffixes that cannot match with a narrow codegen'd
    * probe BEFORE any join, and verify the survivors against the
    * exact list with the shuffle-hash join broadcast can't do.
    * No false negatives → bit-identical verdicts: this face runs
    * against [[domainFilter]]'s oracle VERBATIM, which is the
    * certification (the [[graft.queries.Dedup]] decontaminate-bloom
    * stance). */
  val domainFilterBloom: Q = Q(
    "ta_domain_filter_bloom",
    (s, dir) => {
      import s.implicits._
      import graft.operators.Bloom
      val blDf = DomainBlocklist.toDF("suf")
      val bits = Bloom.buildLong(
        blDf.select(xxhash64(col("suf")).as("bh")), "bh")
      val m = urlMentions(s, dir)
      val blocked = m.select("domain").distinct()
        .select(col("domain"),
          explode(graft.operators.UrlCanon.domainSuffixes(col("domain")))
            .as("suf"))
        .filter(Bloom.gateLong(s, bits, xxhash64(col("suf"))))
        .join(blDf.hint("shuffle_hash"), Seq("suf"), "left_semi")
        .select("domain").distinct()
      domainFilterRollup(m, blocked)
    },
    Some(domainFilterOracleSql)
  )

  /** CONSECUTIVE-REPEAT COLLAPSE materialization — the
    * sequence-aware cleaning pass (distinct from [[normalize]]'s
    * per-char canonicalization and [[stopwordStrip]]'s vocabulary
    * removal): runs of the SAME token collapse to one occurrence,
    * order otherwise preserved — the stutter artifact of scraped
    * pagination, OCR, and template expansion that inflates token
    * counts without adding content. Position-indexed higher-order
    * filter (keep token i iff i=0 or toks[i] ≠ toks[i-1]) — per-row,
    * codegen'd, zero shuffle, linear in the corpus. */
  val collapseRepeats: Q = Q(
    "ta_collapse_repeats",
    (s, dir) =>
      // NULL ≡ empty in both engines — the stopwordStrip coalesce
      // rationale (r20 review)
      docs(s, dir)
        .withColumn("toks", split(coalesce(col("text"), lit("")), " "))
        .withColumn("clean", expr(
          "filter(toks, (t, i) -> i = 0 OR t != element_at(toks, i))"))
        .select(col("doc_id"),
          concat_ws(" ", col("clean")).as("clean_text"),
          size(col("toks")).as("n_tokens"),
          (size(col("toks")) - size(col("clean"))).as("n_collapsed"))
        .orderBy("doc_id"),
    Some("""
      WITH t AS (SELECT doc_id,
                        string_split(coalesce(text, ''), ' ') AS toks
                 FROM documents),
      c AS (
        SELECT doc_id, toks,
               list_transform(
                 list_filter(range(1, len(toks) + 1),
                   i -> i = 1 OR toks[i] <> toks[i-1]),
                 i -> toks[i]) AS clean
        FROM t)
      SELECT doc_id, array_to_string(clean, ' ') AS clean_text,
             len(toks) AS n_tokens,
             len(toks) - len(clean) AS n_collapsed
      FROM c ORDER BY doc_id""")
  )

  /** LANGUAGE-TEMPERATURE REBALANCING — the multilingual mix move
    * (mT5-style temperature sampling): downsample each language at
    * r_lang = min(1, sqrt(N / (k · n_lang))), so a language holding
    * 1/k of the corpus keeps everything while a dominant language is
    * cut by ~sqrt of its overrepresentation — flattening the mixture
    * toward uniform without the hard per-language caps of
    * ta_corpus_mix. Per-doc keep/drop is the deterministic
    * hash-fraction u = int(md5[0:6]) / 16^6 (exact dyadic double, the
    * rel_hash_sample idiom made numeric), so the sample is
    * reproducible across cluster sizes and engines; every arithmetic
    * step (integer ratio → one divide → sqrt) is IEEE
    * correctly-rounded, so the r_lang boundary bits agree too.
    *
    * Scale shape: the language histogram is a bounded-key aggregate
    * (≤ |langs| rows) collected driver-side — the IVF-seed
    * planning-class round-trip — then re-broadcast; the corpus pass
    * itself is one scan with a broadcast hash join and a narrow
    * filter. Zero corpus-sized shuffles. */
  val temperatureSample: Q = Q(
    "ta_temperature_sample",
    (s, dir) => {
      val lc = docs(s, dir).groupBy("lang")
        .agg(count(lit(1)).as("n")).collect()
      val total = lc.map(_.getLong(1)).sum
      val k = lc.length.toLong
      val rates: Seq[(String, Double)] = lc.toSeq.map { r =>
        (r.getString(0),
          math.min(1.0,
            math.sqrt(total.toDouble / (k * r.getLong(1)).toDouble)))
      }
      docs(s, dir)
        .join(broadcast(s.createDataFrame(rates).toDF("lang", "rate")),
          "lang")
        .withColumn("u",
          conv(substring(md5(col("doc_id").cast("string")), 1, 6), 16, 10)
            .cast("long") / lit(16777216.0))
        .filter(col("u") < col("rate"))
        .select(col("doc_id"), col("lang"), col("rate"))
        .orderBy("doc_id")
    },
    Some("""
      WITH lc AS (SELECT lang, count(*) AS n FROM documents GROUP BY 1),
      tot AS (SELECT CAST(sum(n) AS BIGINT) AS total,
                     CAST(count(*) AS BIGINT) AS k FROM lc),
      rates AS (
        SELECT lang, least(1.0, sqrt(CAST(total AS DOUBLE)
                 / CAST(k * n AS DOUBLE))) AS rate
        FROM lc, tot)
      SELECT d.doc_id, d.lang, r.rate
      FROM documents d JOIN rates r USING (lang)
      WHERE CAST(CAST('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 6)
              AS BIGINT) AS DOUBLE) / 16777216.0 < r.rate
      ORDER BY d.doc_id""")
  )

  /** THE shared URL-extraction construction — `dirty` (doc text +
    * synthesized canonical/mirror links), `u` (extracted URLs), and
    * `mentions` (one (doc_id, domain) row PER extracted URL). Every
    * URL-derived face builds on this: [[urlDomains]] aggregates the
    * raw mentions, the link-graph faces take `DISTINCT` pairs on top —
    * one definition in each dialect, so the fixture's URL shape cannot
    * drift between faces. `def`s, not `val`s: these are referenced by
    * Q literals both above and below this point in the object, and a
    * forward `val` reference would be null at object init. */
  private def urlMentionsSql = """
      dirty AS (
        SELECT doc_id,
               text || ' see https://' || source || '.example.com/' ||
               lang || '/' || CAST(doc_id AS VARCHAR) ||
               CASE WHEN doc_id % 2 = 0
                    THEN ' http://mirror-' ||
                         CAST(doc_id % 3 AS VARCHAR) ||
                         '.example.net/p/' ||
                         CAST(doc_id % 50 AS VARCHAR)
                    ELSE '' END AS dirty
        FROM documents),
      u AS (
        SELECT doc_id,
               unnest(regexp_extract_all(dirty,
                 'https?://[a-z0-9.-]+/[a-z0-9/._-]*')) AS url
        FROM dirty),
      mentions AS (
        SELECT doc_id,
               regexp_extract(url, '^https?://([a-z0-9.-]+)', 1) AS domain
        FROM u)"""

  /** [[urlMentionsSql]] plus the `pairs` CTE of distinct doc↔domain
    * mentions the link-graph faces join on. */
  private def urlPairsSql =
    s"""$urlMentionsSql,
      pairs AS (SELECT DISTINCT doc_id, domain FROM mentions)"""

  /** Spark twin of [[urlMentionsSql]]: one (doc_id, domain) row per
    * extracted URL. */
  private def urlMentions(s: SparkSession, dir: String): DataFrame = {
    val UrlRe = "https?://[a-z0-9.-]+/[a-z0-9/._-]*"
    val dirty = concat(
      col("text"), lit(" see https://"), col("source"),
      lit(".example.com/"), col("lang"), lit("/"),
      col("doc_id").cast("string"),
      when(col("doc_id") % 2 === 0,
        concat(lit(" http://mirror-"),
          (col("doc_id") % 3).cast("string"),
          lit(".example.net/p/"),
          (col("doc_id") % 50).cast("string")))
        .otherwise(lit("")))
    docs(s, dir)
      .select(col("doc_id"),
        explode(regexp_extract_all(dirty, lit(UrlRe), lit(0))).as("url"))
      .select(col("doc_id"),
        regexp_extract(col("url"), "^https?://([a-z0-9.-]+)", 1)
          .as("domain"))
  }

  /** Spark twin of [[urlPairsSql]]'s `pairs`: distinct mentions. */
  private def urlPairs(s: SparkSession, dir: String): DataFrame =
    urlMentions(s, dir).distinct()

  /** LINK-GRAPH PAGERANK over domain co-mentions — the authority
    * signal crawl curation uses for per-domain quality weighting
    * (rank a domain by who it appears alongside, not just how often):
    * domains co-mentioned in a document link to each other both ways,
    * and 5 power iterations with damping 0.85 redistribute rank mass
    * along those edges. This is the engine's iterative-join face
    * beyond connected components: each iteration is one
    * edges⋈ranks⋈deg join plus a groupBy-sum — never a collect, never
    * an adjacency matrix.
    *
    * Cross-engine exactness: ALL arithmetic is integer. Ranks live as
    * longs scaled by 1e9; each contribution is `rank div deg` (floor),
    * each update is `0.15·S + (85·Σ) div 100` (floor). Integer sums
    * are order-independent, so Spark's partial aggregation and
    * DuckDB's serial sum agree bit-for-bit — the standard float
    * PageRank could never hash-match across engines. Overflow bound:
    * Σ in-mass ≤ N·S, so 85·Σ stays inside Long up to ~10^8 domains —
    * the oracle CASTs its int128 sums back to BIGINT to pin the same
    * width. Dangling/isolated domains keep the 0.15·S floor (the
    * simplified no-redistribution PageRank; documented, matched in
    * the oracle — [[domainPagerank2]] is the standard variant that
    * redistributes their mass). Kernel: `LinkGraph.pageRank`.
    *
    * Scale (100 TB): pairs/edges/deg build with bounded-key shuffles
    * (|domains|, |edges| — crawl-graph-sized, not corpus-sized); the
    * per-doc pair explode is |domains-in-doc|², the copurchase-style
    * fan-out, small by construction. Each iteration shuffles only the
    * edge table keyed by src then dst — 5 fixed rounds, the
    * ConnectedComponents lineage discipline (persist + eval release)
    * applied to a fixed-depth loop. */
  val domainPagerank: Q = {
    val S = 1000000000L
    val iterSql = (i: Int) => s"""
      r$i AS (
        SELECT n.domain,
               ${15L * S / 100} + (85 * COALESCE(m.in_mass, 0)) // 100
                 AS rank
        FROM nodes n LEFT JOIN (
          SELECT e.dst AS domain,
                 CAST(sum(r.rank // d.deg) AS BIGINT) AS in_mass
          FROM edges e
          JOIN r${i - 1} r ON r.domain = e.src
          JOIN deg d ON d.src = e.src
          GROUP BY 1) m ON m.domain = n.domain)"""
    Q(
      "ta_domain_pagerank",
      (s, dir) => {
        // pairs feeds three consumers (both self-join sides + nodes);
        // persist spares two regex re-extractions over documents. The
        // kernel's eval is eager, so the release here is safe.
        val pairs = urlPairs(s, dir).persist()
        val edges = pairs.as("a")
          .join(pairs.as("b"), "doc_id")
          .filter(col("a.domain") =!= col("b.domain"))
          .select(col("a.domain").as("src"), col("b.domain").as("dst"))
          .distinct()
        val nodes = pairs.select("domain").distinct()
        val out = graft.operators.LinkGraph.pageRank(nodes, edges,
          rounds = 5)
        pairs.unpersist(blocking = false)
        out
      },
      Some(s"""
        WITH $urlPairsSql,
        edges AS (
          SELECT DISTINCT a.domain AS src, b.domain AS dst
          FROM pairs a JOIN pairs b ON a.doc_id = b.doc_id
                                   AND a.domain <> b.domain),
        deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY 1),
        nodes AS (SELECT DISTINCT domain FROM pairs),
        r0 AS (SELECT domain, CAST($S AS BIGINT) AS rank FROM nodes),
        ${(1 to 5).map(iterSql).mkString(",")}
        SELECT domain, rank AS rank_scaled
        FROM r5 ORDER BY rank_scaled DESC, domain""")
    )
  }

  /** STANDARD PageRank with dangling-mass redistribution — the variant
    * a user reaching for "PageRank" expects on graphs with sinks (r9
    * verdict "What's wrong" #2: [[domainPagerank]]'s simplified form
    * drops dangling mass, so sink-heavy graphs rank non-standardly).
    * Same `LinkGraph.pageRank` kernel, `redistribute = true`: each
    * round one 1-row aggregate sums the dangling nodes' rank (over
    * the static `has_out` flag folded into the node table — no
    * per-round join) and every node receives `d_mass div N` before
    * damping — the `ev_watermark` broadcast scalar-attach shape, so
    * the extra step costs one tiny aggregate per round, never a
    * shuffle of the rank table. All arithmetic stays integer (floor
    * divisions), so the unrolled-CTE oracle replays it bit-for-bit:
    * the CROSS JOIN-attached `share` scalar is the SQL form of the
    * broadcast. On this fixture the isolated odd-only domains are
    * exactly the dangling set, so the redistribution path is live in
    * every round.
    *
    * Cost shape vs [[domainPagerank]]: the dangling SCALAR is a
    * sequencing barrier — round r+1's map cannot start until round
    * r's ranks are materialized and summed, so the fully-fused
    * one-action pipeline of the plain variant becomes rounds×2
    * dependent query stages (aggregate + broadcast each round; the
    * per-round persist that flattens the double-reference lineage is
    * what keeps this linear rather than 2^rounds). Every distributed
    * engine pays this barrier for standard PageRank; on the
    * tiny-fixture bench it is scheduling-bound and reads as ~3× the
    * plain face, while at data scale the same stages are a vanishing
    * fraction of the edge-shuffle work. */
  val domainPagerank2: Q = {
    val S = 1000000000L
    val iterSql = (i: Int) => s"""
      r$i AS (
        SELECT n.domain,
               ${15L * S / 100} + (85 * (COALESCE(m.in_mass, 0) + dg.share))
                 // 100 AS rank
        FROM nodes n
        CROSS JOIN (
          SELECT CAST(COALESCE(sum(r.rank), 0) AS BIGINT)
                   // (SELECT count(*) FROM nodes) AS share
          FROM r${i - 1} r
          WHERE r.domain NOT IN (SELECT src FROM deg)) dg
        LEFT JOIN (
          SELECT e.dst AS domain,
                 CAST(sum(r.rank // d.deg) AS BIGINT) AS in_mass
          FROM edges e
          JOIN r${i - 1} r ON r.domain = e.src
          JOIN deg d ON d.src = e.src
          GROUP BY 1) m ON m.domain = n.domain)"""
    Q(
      "ta_domain_pagerank2",
      (s, dir) => {
        // same three-consumer persist as ta_domain_pagerank
        val pairs = urlPairs(s, dir).persist()
        val edges = pairs.as("a")
          .join(pairs.as("b"), "doc_id")
          .filter(col("a.domain") =!= col("b.domain"))
          .select(col("a.domain").as("src"), col("b.domain").as("dst"))
          .distinct()
        val nodes = pairs.select("domain").distinct()
        val out = graft.operators.LinkGraph.pageRank(nodes, edges,
          rounds = 5,
          redistribute = true)
        pairs.unpersist(blocking = false)
        out
      },
      Some(s"""
        WITH $urlPairsSql,
        edges AS (
          SELECT DISTINCT a.domain AS src, b.domain AS dst
          FROM pairs a JOIN pairs b ON a.doc_id = b.doc_id
                                   AND a.domain <> b.domain),
        deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY 1),
        nodes AS (SELECT DISTINCT domain FROM pairs),
        r0 AS (SELECT domain, CAST($S AS BIGINT) AS rank FROM nodes),
        ${(1 to 5).map(iterSql).mkString(",")}
        SELECT domain, rank AS rank_scaled
        FROM r5 ORDER BY rank_scaled DESC, domain""")
    )
  }

  /** HEAVY-HITTERS CERTIFICATION — the engine's Misra-Gries aggregate
    * (`functions.MisraGriesAgg`, SQL face `mg_summary`) certified the
    * rel_sketch_bound way: one MG summary of width k=32 is computed
    * over the token stream (one pass, k-sized partial states, real
    * serialize/merge across partitions), then every distinct token's
    * exact count rides along with two oracle-pinned booleans —
    * `covered` (every token above the N/(k+1) frequency threshold is
    * present in the summary) and `within_bound` (the summary estimate
    * sits in [exact − N/(k+1), exact] — with est=0 for absent items).
    * Both are THEOREMS of the sketch for any partitioning, so the
    * DuckDB oracle replays the exact counts and pins TRUE without
    * simulating MG — while a buggy update/merge/serialize path flips
    * a boolean and fails the hash. The decrement-heavy k << |vocab|
    * regime (where the surviving item SET is partitioning-dependent
    * and deliberately NOT part of this deterministic contract) is
    * exercised in MisraGriesSpec instead.
    *
    * Scale: the exact-count side is the bounded-vocabulary wordFreq
    * shuffle; the summary side shuffles k-row states only. At 100 TB
    * one drops the exact side and keeps the summary — this face exists
    * to prove, row by row, that doing so is safe. */
  val heavyHitters: Q = {
    val K = 32
    Q(
      "ta_heavy_hitters",
      (s, dir) => {
        // the native mg_summary aggregate must be registered — every
        // sibling native-expression face calls ensure; without it a
        // direct q.fn on a fresh session fails order-dependently
        graft.GraftExtensions.ensure(s)
        val toks = docs(s, dir)
          .select(explode(split(col("text"), " ")).as("token"))
        val summary = toks.agg(
          count(lit(1)).as("n"),
          expr(s"mg_summary(token, $K)").as("mg"))
        val est = coalesce(expr("try_element_at(mg, token)"), lit(0L))
        val thr = expr(s"n div ${K + 1}")
        toks.groupBy("token").agg(count(lit(1)).as("n_exact"))
          .join(broadcast(summary))
          .select(col("token"), col("n_exact"),
            (col("n_exact") <= thr ||
              expr("try_element_at(mg, token)").isNotNull).as("covered"),
            (est <= col("n_exact") &&
              col("n_exact") - est <= thr).as("within_bound"))
          .orderBy("token")
      },
      Some(s"""
        WITH toks AS (
          SELECT unnest(string_split(text, ' ')) AS token FROM documents)
        SELECT token, count(*) AS n_exact,
               TRUE AS covered, TRUE AS within_bound
        FROM toks GROUP BY token ORDER BY token""")
    )
  }

  /** Linear quality-classifier INFERENCE over hashed features — the
    * model-based filtering step of a curation pipeline (a
    * fastText/logistic-regression quality model applied corpus-wide),
    * with the [[hashEmbed]] hashing trick as the featurizer: token →
    * dim ∈ [0,64) by the same md5 formula, per-(doc, dim) counts, and
    * a logit `Σ cnt·w(dim)` against a 64-entry weight vector. Here
    * the weights are the fixed integer formula
    * `w(d) = (37d + 11) mod 21 − 10` (range [−10, 10]) so the DuckDB
    * oracle replays inference bit-for-bit; in production they arrive
    * as a broadcast model array — the PLAN is identical, only the
    * literal changes. Everything stays in exact BIGINT (counts ×
    * integer weights), so there is no float drift between engines;
    * the verdict thresholds the logit at 0 like [[quality]]'s
    * rule-based verdict, making the two faces directly comparable.
    *
    * Scale (100 TB): identical shape to ta_hash_embed — tokens
    * collapse map-side into (doc, dim) counter rows, then one
    * exchange on doc_id; the weight lookup is a pure projection, no
    * join, no model shuffle. */
  val classifierScore: Q = Q(
    "ta_classifier_score",
    (s, dir) => {
      import graft.operators.QualityModel
      docs(s, dir)
        .select(col("doc_id"),
          explode(split(col("text"), " ")).as("token"))
        .filter(col("token") =!= "")
        .select(col("doc_id"), QualityModel.dimOf(col("token")).as("dim"))
        .groupBy("doc_id", "dim").agg(count(lit(1)).as("cnt"))
        .withColumn("w", QualityModel.weightOfDim(col("dim")))
        .groupBy("doc_id")
        .agg(sum("cnt").as("n_tokens"),
          sum(col("cnt") * col("w")).as("logit"))
        .select(col("doc_id"), col("n_tokens"), col("logit"),
          when(col("logit") > 0, "keep").otherwise("drop").as("verdict"))
        .orderBy("doc_id")
    },
    Some("""
      WITH tok AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS token
        FROM documents),
      tf AS (
        SELECT doc_id,
               CAST((ascii(substr(md5(token), 1, 1)) * 31
                     + ascii(substr(md5(token), 2, 1))) % 64 AS BIGINT)
                 AS dim,
               count(*) AS cnt
        FROM tok WHERE token <> '' GROUP BY 1, 2)
      SELECT doc_id,
             CAST(sum(cnt) AS BIGINT) AS n_tokens,
             CAST(sum(cnt * ((dim * 37 + 11) % 21 - 10)) AS BIGINT)
               AS logit,
             CASE WHEN sum(cnt * ((dim * 37 + 11) % 21 - 10)) > 0
                  THEN 'keep' ELSE 'drop' END AS verdict
      FROM tf GROUP BY doc_id ORDER BY doc_id""")
  )

  /** Unigram-LM surprisal scoring — the language-model quality signal
    * (the CCNet/Wikipedia-LM perplexity filter) in EXACT integer
    * arithmetic: train a unigram model on the corpus itself (token →
    * count, one aggregate), then score each document by its mean
    * per-token surprisal. Real perplexity needs floating logs, whose
    * libm rounding differs across engines — so the surprisal of a
    * token is quantized to whole bits as
    * `floorlog2(N) − floorlog2(cnt)` where `floorlog2(x) =
    * length(bin(x)) − 1` — the BINARY-STRING length, exact in both
    * engines for any BIGINT (no double log anywhere). Monotone in
    * 1/p(token), so document ranking by "how surprising is this text
    * under the corpus LM" is preserved: low mean bits = common-token
    * boilerplate, high mean bits = rare-token noise — the two tails a
    * perplexity filter cuts.
    *
    * Scale (100 TB): the model is one map-combined aggregate (|vocab|
    * rows); scoring joins tokens to counts on the token key (the
    * tf-idf shuffle shape) and collapses per doc; the corpus total
    * attaches as a 1-row broadcast (ev_watermark scalar idiom). */
  val unigramSurprisal: Q = Q(
    "ta_unigram_surprisal",
    (s, dir) =>
      graft.operators.QualityModel.surprisalPerDoc(docs(s, dir))
        .select("doc_id", "n_tokens", "total_bits", "mean_millibits")
        .orderBy("doc_id"),
    Some("""
      WITH tk AS (
        SELECT doc_id, token FROM (
          SELECT doc_id, unnest(string_split(text, ' ')) AS token
          FROM documents) WHERE token <> ''),
      c AS (SELECT token, count(*) AS cnt FROM tk GROUP BY 1),
      tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_total FROM c)
      SELECT doc_id, count(*) AS n_tokens,
             CAST(sum((length(bin(n_total)) - 1)
                      - (length(bin(cnt)) - 1)) AS BIGINT) AS total_bits,
             CAST(sum((length(bin(n_total)) - 1)
                      - (length(bin(cnt)) - 1)) * 1000 // count(*)
               AS BIGINT) AS mean_millibits
      FROM tk JOIN c USING (token), tot
      GROUP BY doc_id ORDER BY doc_id""")
  )

  /** Token frequency SPECTRUM — the Zipf-curve health signature
    * without the Zipf regression: distinct-token and occurrence
    * counts per `floorlog2(count)` bucket (exact binary-string
    * arithmetic, the ta_unigram_surprisal idiom — no global
    * rank window, no doubles). Bucket 0 is the hapax legomena —
    * their share is the classic corpus-health number (too high =
    * noise/OCR garbage, too low = heavy duplication), and the
    * bucket decay visualizes how Zipfian the corpus is. One
    * aggregate over the vocabulary, ~log2(max count) output rows.
    *
    * Scale (100 TB): token counts are one map-combined exchange;
    * the spectrum is a second aggregate over |vocab| rows to a
    * handful of buckets — nothing global, nothing sorted. */
  val freqSpectrum: Q = Q(
    "ta_freq_spectrum",
    (s, dir) =>
      docs(s, dir)
        .select(explode(split(col("text"), " ")).as("token"))
        .filter(col("token") =!= "")
        .groupBy("token").agg(count(lit(1)).as("cnt"))
        .groupBy((length(bin(col("cnt"))) - 1).cast("long")
          .as("log2_count"))
        .agg(count(lit(1)).as("n_types"),
          sum("cnt").as("n_occurrences"))
        .orderBy("log2_count"),
    Some("""
      WITH c AS (
        SELECT token, count(*) AS cnt FROM (
          SELECT unnest(string_split(text, ' ')) AS token
          FROM documents) WHERE token <> '' GROUP BY 1)
      SELECT CAST(length(bin(cnt)) - 1 AS BIGINT) AS log2_count,
             count(*) AS n_types,
             CAST(sum(cnt) AS BIGINT) AS n_occurrences
      FROM c GROUP BY 1 ORDER BY 1""")
  )

  /** Token BURSTINESS — Church & Gale's dispersion signature: a
    * token's collection frequency divided by its document frequency
    * (mean occurrences per CONTAINING doc, exact millis). Function
    * words spread evenly (ratio ≈ corpus mean); bursty content terms
    * and boilerplate artifacts concentrate (high ratio) — the signal
    * that separates topical vocabulary from glue, and spots template
    * spam that repeats a phrase hundreds of times in few docs. Top-20
    * by (burstiness, token) keeps the report bounded, the ta_word_freq
    * top-k discipline; cf ≥ 10 cuts hapax noise.
    *
    * Scale (100 TB): one (doc, token) dedup exchange + one token
    * aggregate, then a distributed top-k (TakeOrdered) — no global
    * sort. */
  val burstiness: Q = Q(
    "ta_burstiness",
    (s, dir) => {
      val tok = docs(s, dir)
        .select(col("doc_id"),
          explode(split(col("text"), " ")).as("token"))
        .filter(col("token") =!= "")
      tok.groupBy("token")
        .agg(count(lit(1)).as("cf"), countDistinct("doc_id").as("df"))
        .filter(col("cf") >= 10)
        .select(col("token"), col("cf"), col("df"),
          expr("(cf * 1000) div df").as("per_doc_milli"))
        .orderBy(col("per_doc_milli").desc, col("token"))
        .limit(20)
    },
    Some("""
      WITH tok AS (
        SELECT doc_id, token FROM (
          SELECT doc_id, unnest(string_split(text, ' ')) AS token
          FROM documents) WHERE token <> ''),
      agg AS (
        SELECT token, count(*) AS cf,
               count(DISTINCT doc_id) AS df
        FROM tok GROUP BY 1)
      SELECT token, cf, df, CAST(cf * 1000 // df AS BIGINT)
               AS per_doc_milli
      FROM agg WHERE cf >= 10
      ORDER BY per_doc_milli DESC, token LIMIT 20""")
  )

  /** UNIMAX BUDGET ALLOCATION (Chung et al. 2023) — the published
    * multilingual mixing algorithm: give every language up to an
    * epoch cap N of repeats, then water-fill the remaining token
    * budget uniformly over the languages whose capacity exceeds the
    * water level. The closed form makes it one bounded plan: with
    * capacities k_l = N·c_l sorted ascending, language at rank rn is
    * CAPPED iff `k_rn·(K − rn) + P_rn < B` (even filling every later
    * language at level k_rn leaves budget) — the predicate is monotone
    * in rn, so the un-capped suffix shares the level
    * `t = (B − P_capped) div (K − n_capped)`, with the mod remainder
    * going one token each to the first `rem` un-capped languages in
    * (capacity, lang) order. All exact BIGINT; Σ alloc = B whenever
    * the corpus can absorb it (B ≤ Σ k_l), pinned by the oracle hash.
    * Fixture frame: B = (3·Σc) div 2, N = 2 — the tail languages hit
    * the 2-epoch cap while the head language is undersampled at
    * ~0.4 epochs, the exact skew UniMax exists to fix (temperature
    * sampling's failure mode measured next to `ta_temperature_sample`).
    *
    * Scale shape: one corpus scan folds to |langs| rows; every window
    * after that runs on the |langs|-bounded dimension (global windows
    * allowlisted in PlanAuditSpec as bounded, the rel_pareto class).
    * Output per language: corpus tokens, capacity, allocated budget,
    * capped flag, achieved epochs in exact millis. */
  /** The UniMax oracle WITH-chain (pl → tot → rkd → cp → lv → al),
    * shared by `ta_unimax_mix` and `ta_mix_schedule`; `al` holds one
    * row per language with every water-fill intermediate. */
  private val unimaxCtes = """pl AS (
        SELECT lang,
               CAST(sum(len(list_filter(string_split(text, ' '),
                 x -> x <> ''))) AS BIGINT) AS c,
               count(*) AS n_docs
        FROM documents GROUP BY 1),
      tot AS (
        SELECT (3 * CAST(sum(c) AS BIGINT)) // 2 AS b,
               count(*) AS k
        FROM pl),
      rkd AS (
        SELECT pl.*, tot.b, tot.k, 2 * pl.c AS cap,
               CAST(row_number() OVER (ORDER BY 2 * pl.c, lang)
                 AS BIGINT) AS rn,
               CAST(sum(2 * pl.c) OVER (ORDER BY 2 * pl.c, lang
                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS p
        FROM pl, tot),
      cp AS (
        SELECT *, cap * (k - rn) + p <= b AS capped FROM rkd),
      lv AS (
        SELECT *,
               CAST(sum(CASE WHEN capped THEN 1 ELSE 0 END) OVER ()
                 AS BIGINT) AS n_capped,
               CAST(sum(CASE WHEN capped THEN cap ELSE 0 END) OVER ()
                 AS BIGINT) AS p_capped
        FROM cp),
      al AS (
        SELECT *,
               (b - p_capped) // greatest(k - n_capped, 1) AS t,
               (b - p_capped) % greatest(k - n_capped, 1) AS rem
        FROM lv)"""

  /** The per-language allocated budget off the `al` CTE. */
  private val unimaxBudgetSql =
    """CAST(CASE WHEN capped THEN cap
            ELSE t + (CASE WHEN rn - n_capped <= rem THEN 1
                      ELSE 0 END) END AS BIGINT)"""

  val unimaxMix: Q = Q(
    "ta_unimax_mix",
    (s, dir) => {
      val perLang = docs(s, dir)
        .select(col("lang"), expr(
          "size(filter(split(text, ' '), x -> x <> ''))").as("n_toks"))
        .groupBy("lang")
        .agg(sum("n_toks").as("c"), count(lit(1)).as("n_docs"))
      graft.operators.Mixing.unimaxAllocate(perLang, "lang")
        .select(col("lang"), col("n_docs"),
          col("c").as("n_tokens"), col("cap").as("capacity"),
          col("budget"),
          when(col("capped"), 1L).otherwise(0L).as("at_cap"),
          // nullif: Spark's ANSI div THROWS on a zero token count
          // (an all-empty-text language) where DuckDB's // yields
          // NULL — NULL-on-zero in both engines (r20 review)
          expr("(1000 * budget) div nullif(c, 0)").as("epochs_milli"))
        .orderBy("lang")
    },
    Some(s"""
      WITH $unimaxCtes
      SELECT lang, n_docs, c AS n_tokens, cap AS capacity,
             $unimaxBudgetSql AS budget,
             CAST(CASE WHEN capped THEN 1 ELSE 0 END AS BIGINT)
               AS at_cap,
             (1000 * $unimaxBudgetSql) // nullif(c, 0) AS epochs_milli
      FROM al ORDER BY lang NULLS FIRST""")
  )

  /** MIX-TO-SCHEDULE (r12) — the consumption ORDER that realizes the
    * UniMax budgets: a deterministic weighted interleave (the
    * Bresenham / low-discrepancy schedule of weighted round-robin)
    * over the whole corpus. Each doc's key is its language-local
    * token-span MIDPOINT scaled by the language's allocated budget —
    * `((2·prev + n_toks) · 1000) div (2·budget)` ≈ milli-epochs
    * consumed of that language at this doc — so reading in key order
    * interleaves languages in budget proportion at every prefix: the
    * thing a data loader actually wants from a mixing spec, and the
    * artifact `ta_unimax_mix` only sizes.
    *
    * Exactness/scale: the ×1000 midpoint keeps every key within
    * BIGINT to ~4.6·10¹⁵ corpus tokens (the avgdl_m overflow lesson);
    * key collisions inside a language are broken by (lang, doc_id),
    * giving a total deterministic order. Per-language prefix sums are
    * partitioned windows (the skew caveat and two-phase swap of
    * `ta_pack_sequences` apply); budgets attach as a broadcast
    * |langs|-row table; the final key order is a range-partitioned
    * sort, not a single-partition window. PlanAuditSpec allowlists
    * the bounded unimax sub-plan it composes. */
  val mixSchedule: Q = Q(
    "ta_mix_schedule",
    (s, dir) => {
      val d = docs(s, dir).select(col("doc_id"), col("lang"),
        expr("size(filter(split(text, ' '), x -> x <> ''))")
          .cast("long").as("n_toks"))
      val perLang = d.groupBy("lang")
        .agg(sum("n_toks").as("c"), count(lit(1)).as("n_docs"))
      val bdg = graft.operators.Mixing.unimaxAllocate(perLang, "lang")
        .select(col("lang"), col("budget"))
      val w = Window.partitionBy("lang").orderBy("doc_id")
      d.withColumn("cum", sum("n_toks").over(w))
        .join(broadcast(bdg), "lang")
        .withColumn("sched_key", expr(
          "((2 * (cum - n_toks) + n_toks) * 1000) div " +
            "(2 * greatest(budget, 1))"))
        .select("doc_id", "lang", "n_toks", "sched_key")
        .orderBy("sched_key", "lang", "doc_id")
    },
    Some(s"""
      WITH $unimaxCtes,
      bdg AS (
        SELECT lang, $unimaxBudgetSql AS budget FROM al),
      dt AS (
        SELECT doc_id, lang,
               len(list_filter(string_split(text, ' '),
                 x -> x <> '')) AS n_toks
        FROM documents),
      ps AS (
        SELECT doc_id, lang, CAST(n_toks AS BIGINT) AS n_toks,
               CAST(sum(n_toks) OVER (PARTITION BY lang ORDER BY doc_id
                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
        FROM dt)
      SELECT p.doc_id, p.lang, p.n_toks,
             ((2 * (p.cum - p.n_toks) + p.n_toks) * 1000)
               // (2 * greatest(b.budget, 1)) AS sched_key
      FROM ps p JOIN bdg b USING (lang)
      ORDER BY sched_key, lang, doc_id""")
  )

  def all: Seq[Q] =
    Seq(tokenStats, quality, langId, wordFreq, bigramFreq, fingerprint,
      boilerplate, intraRepetition, qualitySample, chunk, tfidfTopTerms,
      oovRate, stopwordStrip, normalize, corpusMix, topTermsPerLang,
      shardAssign, lengthQuantiles, piiRedact, urlDomains, domainFilter,
      domainFilterBloom,
      temperatureSample, collapseRepeats, domainPagerank,
      domainPagerank2, heavyHitters, qualityCalibrate, hashEmbed,
      bpeTokenStats, bpeShardAssign, bpeChunk, bpeFertility, bpeTrain,
      classifierScore, unigramSurprisal, freqSpectrum, burstiness,
      unimaxMix, mixSchedule)
}
