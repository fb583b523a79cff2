package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Q, QueryModule}
import graft.operators.{GopherRules, HtmlText}
import graft.sources.Tables

/** Corpus-curation faces (r12) — the three standard pre-training
  * passes that complete the crawl-to-training-batch story: the
  * published Gopher quality gate, raw-HTML text extraction, and
  * sequence packing of BPE tokens into fixed training windows.
  * Kernels live in [[graft.operators.GopherRules]] /
  * [[graft.operators.HtmlText]]; every face is hash-checked against
  * a DuckDB replay of the identical integer arithmetic.
  */
object Curation extends QueryModule {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents")

  /** The Gopher rule replay as a parameterized CTE chain over any
    * `(doc_id, <textExpr>)` relation, ending in
    * `gfin (doc_id, n_words, mean_wlen_milli, top*_pm, dup*_pm,
    * keep)` — ONE text in the dialect, shared by [[gopherRules]]
    * (over raw documents) and [[ingestPipeline]] (over the cleaned
    * extraction), so the rule arithmetic cannot drift between the
    * standalone and composed certifications. */
  private def gopherCtesOver(srcRel: String, textExpr: String): String = {
    // NULL text = empty text — the pin Curate.scala's kernels share
    // (withMetricsNative coalesces before the fused scan); without
    // the same coalesce here a NULL-text doc would emit NULL metrics
    // in the oracle against the kernel's all-zero row
    val te = s"coalesce($textExpr, '')"
    s"""
      gbase AS (
        SELECT doc_id, string_split($te, ' ') AS t,
               CAST(len(replace($te, ' ', '')) AS BIGINT) AS nc,
               CAST(len(list_filter(string_split($te, ' '),
                 x -> x <> '')) AS BIGINT) AS nw
        FROM $srcRel),
      ggrams AS (
        SELECT doc_id, n, nc,
               unnest(list_transform(range(1, len(t) - n + 2),
                 i -> array_to_string(t[i:i+n-1], ' '))) AS gram
        FROM gbase, (SELECT unnest(range(2, 11)) AS n)
        WHERE len(t) >= n),
      ggc AS (
        SELECT doc_id, n, max(nc) AS nc, gram, count(*) AS cnt,
               CAST(len(gram) - (n - 1) AS BIGINT) AS cl
        FROM ggrams GROUP BY doc_id, n, gram),
      gper AS (
        SELECT doc_id, n, max(nc) AS nc,
               max(CASE WHEN n <= 4
                        THEN cnt * 100000 + least(cl, 99999) END)
                 AS topcode,
               sum(CASE WHEN n >= 5 AND cnt > 1 THEN (cnt - 1) * cl
                        ELSE 0 END) AS dupmass
        FROM ggc GROUP BY doc_id, n),
      gpm AS (
        SELECT doc_id, n,
               ((topcode // 100000) * (topcode % 100000) * 1000)
                 // greatest(nc, 1) AS top_pm,
               (dupmass * 1000) // greatest(nc, 1) AS dup_pm
        FROM gper),
      gpiv AS (
        SELECT doc_id,
               coalesce(max(CASE WHEN n = 2 THEN top_pm END), 0) AS t2,
               coalesce(max(CASE WHEN n = 3 THEN top_pm END), 0) AS t3,
               coalesce(max(CASE WHEN n = 4 THEN top_pm END), 0) AS t4,
               coalesce(max(CASE WHEN n = 5 THEN dup_pm END), 0) AS d5,
               coalesce(max(CASE WHEN n = 6 THEN dup_pm END), 0) AS d6,
               coalesce(max(CASE WHEN n = 7 THEN dup_pm END), 0) AS d7,
               coalesce(max(CASE WHEN n = 8 THEN dup_pm END), 0) AS d8,
               coalesce(max(CASE WHEN n = 9 THEN dup_pm END), 0) AS d9,
               coalesce(max(CASE WHEN n = 10 THEN dup_pm END), 0) AS d10
        FROM gpm GROUP BY doc_id),
      gfin AS (
        SELECT doc_id, n_words,
               CAST(mean_wlen_milli AS BIGINT) AS mean_wlen_milli,
               CAST(top2_pm AS BIGINT) AS top2_pm,
               CAST(top3_pm AS BIGINT) AS top3_pm,
               CAST(top4_pm AS BIGINT) AS top4_pm,
               CAST(dup5_pm AS BIGINT) AS dup5_pm,
               CAST(dup6_pm AS BIGINT) AS dup6_pm,
               CAST(dup7_pm AS BIGINT) AS dup7_pm,
               CAST(dup8_pm AS BIGINT) AS dup8_pm,
               CAST(dup9_pm AS BIGINT) AS dup9_pm,
               CAST(dup10_pm AS BIGINT) AS dup10_pm,
               CAST(CASE WHEN n_words BETWEEN 50 AND 100000
                          AND mean_wlen_milli BETWEEN 3000 AND 10000
                          AND top2_pm <= 200 AND top3_pm <= 180
                          AND top4_pm <= 160 AND dup5_pm <= 150
                          AND dup6_pm <= 140 AND dup7_pm <= 130
                          AND dup8_pm <= 120 AND dup9_pm <= 110
                          AND dup10_pm <= 100
                     THEN 1 ELSE 0 END AS BIGINT) AS keep
        FROM (
          SELECT b.doc_id, b.nw AS n_words,
                 (b.nc * 1000) // greatest(b.nw, 1) AS mean_wlen_milli,
                 coalesce(p.t2, 0) AS top2_pm,
                 coalesce(p.t3, 0) AS top3_pm,
                 coalesce(p.t4, 0) AS top4_pm,
                 coalesce(p.d5, 0) AS dup5_pm,
                 coalesce(p.d6, 0) AS dup6_pm,
                 coalesce(p.d7, 0) AS dup7_pm,
                 coalesce(p.d8, 0) AS dup8_pm,
                 coalesce(p.d9, 0) AS dup9_pm,
                 coalesce(p.d10, 0) AS dup10_pm
          FROM gbase b LEFT JOIN gpiv p USING (doc_id)))"""
  }

  /** GOPHER QUALITY RULES (Rae et al. 2021, A1) — the published
    * repetition/length gate every large crawl corpus runs: top
    * 2/3/4-gram character share, duplicated 5..10-gram excess mass,
    * word count and mean word length, all exact permille/milli
    * integers, plus the composed keep verdict. The face runs the
    * NATIVE zero-shuffle kernel
    * ([[graft.operators.GopherRules.metricsNative]] — the fused
    * `gopher_stats` run-length expression, no gram exchange at all);
    * the grouped twin ([[graft.operators.GopherRules.metrics]]) is the
    * differential reference, equality pinned in CurationSpec, and
    * holds the rule statement. */
  val gopherRules: Q = Q(
    "ta_gopher_rules",
    (s, dir) => GopherRules.metricsNative(docs(s, dir)).orderBy("doc_id"),
    Some(s"""
      WITH ${gopherCtesOver("documents", "text")}
      SELECT * FROM gfin ORDER BY doc_id""")
  )

  /** HTML TEXT EXTRACTION — the step between a raw crawl record and
    * every text face: title pull, script/style drop, tag strip,
    * entity decode, whitespace collapse, plus the outgoing href
    * count (rule statement on [[graft.operators.HtmlText]]). The
    * fixture synthesizes an HTML wrapper from doc fields in BOTH
    * engines — title, a MULTI-LINE styled head and a MULTI-LINE
    * script block that must vanish wholesale (newlines inside, so the
    * DOTALL block-strip is genuinely load-bearing),
    * the five standard entities that must decode, one canonical link
    * plus a mirror link on even ids — so every rule is genuinely
    * exercised, the [[TextAnalysis]] URL-fixture stance.
    *
    * Scale: one narrow per-row regex chain inside whole-stage
    * codegen; no shuffle beyond the verify-order sort. */
  /** THE shared HTML-fixture construction — one definition per
    * dialect (the [[TextAnalysis]] urlMentions stance): a
    * deterministic HTML wrapper synthesized from doc fields, used by
    * both [[htmlExtract]] and the composed [[ingestPipeline]] so the
    * fixture's markup shape cannot drift between their
    * certifications. */
  private def htmlFixture: org.apache.spark.sql.Column = concat(
    lit("<html><head><title>Doc "), col("doc_id").cast("string"),
    lit(" - "), col("source"),
    lit("</title><style>\np { color: #333; }\n</style></head>" +
      "<body><h1 class=\"hd\">"), col("lang"),
    lit("</h1><script type=\"text/javascript\">\nvar n = "),
    col("doc_id").cast("string"), lit(";\n</script><p>"),
    col("text"),
    lit(" &amp; more &lt;tags&gt; &quot;q&quot; &#39;s&#39;" +
      "</p><a href=\"https://"), col("source"),
    lit(".example.com/"), col("doc_id").cast("string"),
    lit("\">ref</a>"),
    when(col("doc_id") % 2 === 0,
      concat(lit("<a href=\"http://mirror-"),
        (col("doc_id") % 3).cast("string"),
        lit(".example.net/p/"),
        (col("doc_id") % 50).cast("string"), lit("\">m</a>")))
      .otherwise(lit("")),
    lit("</body></html>"))

  /** DuckDB twin of [[htmlFixture]]: the `h (doc_id, source, html)`
    * CTE body. */
  private def htmlFixtureSql: String = """
      h AS (
        SELECT doc_id, source,
               '<html><head><title>Doc ' || CAST(doc_id AS VARCHAR) ||
               ' - ' || source ||
               '</title><style>' || chr(10) ||
               'p { color: #333; }' || chr(10) || '</style></head>' ||
               '<body><h1 class="hd">' || lang ||
               '</h1><script type="text/javascript">' || chr(10) ||
               'var n = ' ||
               CAST(doc_id AS VARCHAR) || ';' || chr(10) ||
               '</script><p>' || text ||
               ' &amp; more &lt;tags&gt; &quot;q&quot; &#39;s&#39;' ||
               '</p><a href="https://' || source || '.example.com/' ||
               CAST(doc_id AS VARCHAR) || '">ref</a>' ||
               CASE WHEN doc_id % 2 = 0
                    THEN '<a href="http://mirror-' ||
                         CAST(doc_id % 3 AS VARCHAR) ||
                         '.example.net/p/' ||
                         CAST(doc_id % 50 AS VARCHAR) || '">m</a>'
                    ELSE '' END ||
               '</body></html>' AS html
        FROM documents)"""

  /** DuckDB twin of [[graft.operators.HtmlText.cleanText]] over any
    * inner expression — shared by both html-consuming oracles. */
  private def cleanTextSqlOver(inner: String): String = s"""
             trim(regexp_replace(
               regexp_replace(
                 regexp_replace(
                   regexp_replace(
                     regexp_replace(
                       regexp_replace(
                         regexp_replace(
                           regexp_replace($inner,
                             '(?is)<script[^>]*>.*?</script>|<style[^>]*>.*?</style>',
                             ' ', 'g'),
                           '<[^>]*>', ' ', 'g'),
                         '&lt;', '<', 'g'),
                       '&gt;', '>', 'g'),
                     '&quot;', '"', 'g'),
                   '&#39;', '''', 'g'),
                 '&amp;', '&', 'g'),
               '[ \t\n\r\f]+', ' ', 'g'))"""

  val htmlExtract: Q = Q(
    "ta_html_extract",
    (s, dir) =>
      docs(s, dir)
        .withColumn("__h", htmlFixture)
        .select(col("doc_id"),
          HtmlText.title(col("__h")).as("title"),
          size(HtmlText.hrefs(col("__h"))).cast("long").as("n_links"),
          HtmlText.cleanText(col("__h")).as("clean_text"))
        .orderBy("doc_id"),
    Some(s"""
      WITH $htmlFixtureSql
      SELECT doc_id,
             regexp_extract(html, '<title>([^<]*)</title>', 1) AS title,
             CAST(len(regexp_extract_all(html, 'href="([^"]+)"', 1))
               AS BIGINT) AS n_links,
             ${cleanTextSqlOver("html")} AS clean_text
      FROM h ORDER BY doc_id""")
  )

  /** SEQUENCE PACKING — the LAST op of a training-data pipeline:
    * concatenate each source's documents (one EOS token between
    * docs) and cut the stream into fixed 256-BPE-token training
    * sequences; report, per document, which sequences it lands in
    * (`seq_first`..`seq_last`), its offset inside the first one, and
    * how many it spans — the map a data loader consumes to build
    * batches without re-tokenizing. Weights are the REAL tokenizer
    * counts (native `bpe_count` + 1 EOS), riding the same certified
    * kernel as `ta_bpe_shard_assign`.
    *
    * Scale (100 TB): one narrow BPE kernel pass, then a per-source
    * running sum. The face keeps the plain per-source window (literal
    * single-window parity with the oracle), so one source's history
    * sorts in one task. */
  val packSequences: Q = Q(
    "ta_pack_sequences",
    (s, dir) => {
      graft.GraftExtensions.ensure(s)
      val w = Window.partitionBy("source").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
      docs(s, dir)
        .select(col("source"), col("doc_id"),
          (expr("bpe_count(text)") + lit(1L)).as("n_bpe"))
        .withColumn("cum", sum("n_bpe").over(w))
        .select(col("source"), col("doc_id"), col("n_bpe"),
          expr("(cum - n_bpe) div 256").as("seq_first"),
          expr("(cum - 1) div 256").as("seq_last"),
          expr("(cum - n_bpe) % 256").as("seq_offset"))
        .withColumn("n_seqs",
          col("seq_last") - col("seq_first") + lit(1L))
        .orderBy("source", "doc_id")
    },
    Some(s"""
      WITH ${TextAnalysis.bpeCountCtes},
      c AS (
        SELECT d.source, d.doc_id, b.n_bpe + 1 AS n_bpe,
               sum(b.n_bpe + 1) OVER (PARTITION BY d.source
                 ORDER BY d.doc_id
                 ROWS UNBOUNDED PRECEDING) AS cum
        FROM documents d JOIN bpe_n b USING (doc_id))
      SELECT source, doc_id, CAST(n_bpe AS BIGINT) AS n_bpe,
             CAST((cum - n_bpe) // 256 AS BIGINT) AS seq_first,
             CAST((cum - 1) // 256 AS BIGINT) AS seq_last,
             CAST((cum - n_bpe) % 256 AS BIGINT) AS seq_offset,
             CAST((cum - 1) // 256 - (cum - n_bpe) // 256 + 1
               AS BIGINT) AS n_seqs
      FROM c ORDER BY source, doc_id""")
  )

  /** THE COMPOSED CRAWL-INGEST PIPELINE — raw HTML-shaped records to
    * training sequences as ONE Catalyst plan: extract
    * ([[graft.operators.HtmlText.cleanText]]) → Gopher admission gate
    * ([[graft.operators.GopherRules.withMetricsNative]] on the CLEAN
    * text, keep = 1 survivors only) → sequence packing of the
    * survivors' real BPE budgets (+1 EOS, 256-token windows). The
    * extraction output is MATERIALIZED once
    * ([[graft.operators.CacheScope.materialize]]) before the gate —
    * deliberately, and not only because extraction output is the
    * artifact a production ingest keeps: left as one lazy plan,
    * predicate pushdown substitutes the gate's keep condition below
    * the extraction projection, and each of its 13 conjuncts
    * re-inlines the scorer over its OWN copy of the full clean-text
    * regex chain — measured 27 s/rep at sf0.1 with the HOF-fold
    * kernel versus well under a second materialized, a tax for
    * re-deriving the same string 13 times per scanned row that no
    * kernel speed makes principled. Downstream of the barrier the
    * plan is the one you'd want at 100 TB: stored-column gate
    * filter, then the per-source packing window as the only
    * exchange.
    *
    * The oracle composes the SAME certified dialect fragments
    * ([[htmlFixtureSql]], [[cleanTextSqlOver]], [[gopherCtesOver]],
    * the unrolled BPE walk) — drift in any piece breaks BOTH the
    * standalone face and this composition. */
  val ingestPipeline: Q = Q(
    "ta_ingest_pipeline",
    (s, dir) => {
      graft.GraftExtensions.ensure(s)
      val cleaned = docs(s, dir)
        .withColumn("__h", htmlFixture)
        .select(col("doc_id"), col("source"),
          HtmlText.cleanText(col("__h")).as("clean_text"))
      val scored = graft.operators.CacheScope.materialize(
        GopherRules.withMetricsNative(cleaned, "clean_text")
          .select("source", "doc_id", "clean_text", "keep"))
      val gated = scored.filter(col("keep") === 1L)
      val w = Window.partitionBy("source").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
      gated
        .select(col("source"), col("doc_id"),
          (expr("bpe_count(clean_text)") + lit(1L)).as("n_bpe"))
        .withColumn("cum", sum("n_bpe").over(w))
        .select(col("source"), col("doc_id"), col("n_bpe"),
          expr("(cum - n_bpe) div 256").as("seq_first"),
          expr("(cum - 1) div 256").as("seq_last"),
          expr("(cum - n_bpe) % 256").as("seq_offset"))
        .withColumn("n_seqs",
          col("seq_last") - col("seq_first") + lit(1L))
        .orderBy("source", "doc_id")
    },
    Some(s"""
      WITH $htmlFixtureSql,
      c AS (
        SELECT doc_id, source,
               ${cleanTextSqlOver("html")} AS clean_text
        FROM h),
      ${gopherCtesOver("c", "clean_text")},
      keepers AS (SELECT doc_id FROM gfin WHERE keep = 1),
      kbpe_w AS (
        SELECT doc_id, ${TextAnalysis.bpeWalkSqlOver("word")} AS m
        FROM (SELECT c.doc_id,
                     unnest(string_split(c.clean_text, ' ')) AS word
              FROM c JOIN keepers USING (doc_id))
        WHERE word <> ''),
      kbpe_n AS (
        SELECT k.doc_id, CAST(coalesce(a.nb, 0) AS BIGINT) AS n_bpe
        FROM keepers k LEFT JOIN (
          SELECT doc_id,
                 sum(length(m) - length(replace(m, ' ', '')) - 1) AS nb
          FROM kbpe_w GROUP BY doc_id) a USING (doc_id)),
      packed AS (
        SELECT c.source, c.doc_id, b.n_bpe + 1 AS n_bpe,
               sum(b.n_bpe + 1) OVER (PARTITION BY c.source
                 ORDER BY c.doc_id
                 ROWS UNBOUNDED PRECEDING) AS cum
        FROM c JOIN kbpe_n b USING (doc_id))
      SELECT source, doc_id, CAST(n_bpe AS BIGINT) AS n_bpe,
             CAST((cum - n_bpe) // 256 AS BIGINT) AS seq_first,
             CAST((cum - 1) // 256 AS BIGINT) AS seq_last,
             CAST((cum - n_bpe) % 256 AS BIGINT) AS seq_offset,
             CAST((cum - 1) // 256 - (cum - n_bpe) // 256 + 1
               AS BIGINT) AS n_seqs
      FROM packed ORDER BY source, doc_id""")
  )

  /** QUALITY-DISTRIBUTION DRIFT MONITOR (r12) — the corpus-refresh QA
    * report next to `ss_centroid_drift`'s embedding-side signal: did
    * the classifier-score DISTRIBUTION move between two corpus
    * slices? Per source, the reference slice (md5-parity of the doc
    * id — a deterministic ~50/50 split INSIDE every source, where
    * plain doc_id parity would collapse onto the fixture's
    * source-parity alignment and leave one slice empty everywhere)
    * defines exact decile boundaries by rank; the comparison slice
    * (the other parity) is bucketed
    * against those FROZEN boundaries; the report is the per-source L1
    * distance between the two decile share vectors in permille, plus
    * the worst-shifted decile. A refresh that quietly skews quality
    * (spam wave, extractor regression, source drift) shows up here
    * before any mean would move.
    *
    * Exactness: scores are the exact-BIGINT `ta_classifier_score`
    * logit; deciles are ntile(10) over the injective (score, doc_id)
    * order (the `ta_quality_calibrate` idiom, hash-certified
    * cross-engine); each boundary is elected by the SAME two-step
    * both dialects share (max score per decile, then max doc_id at
    * that score — the (score, doc_id) pair max without struct
    * ordering); the worst decile rides the integer-code sentinel
    * argmax `|Δ|·16 + (10 − decile)` (|Δ| ≤ 1000, ties break to the
    * LOWEST decile). Shares are floor permille.
    *
    * Scale shape: one scan for scores, per-source rank windows over
    * the reference slice only, a ≤10-row-per-source boundary table
    * joined to the comparison slice (bounded fan-out ≤ 9×), and
    * |sources|-bounded aggregates. */
  val qualityDrift: Q = Q(
    "ta_quality_drift",
    (s, dir) => {
      import graft.operators.QualityModel
      // coalesce pins the NULL-text contract to the oracle's
      // COALESCE(score, 0): without it a regenerated fixture with a
      // NULL text would score NULL here (sorting FIRST in the rank
      // window) but 0 in DuckDB — the r11 silent-divergence class
      // persisted: the logit fold over the corpus feeds the boundary
      // election (which self-joins its decile ranking), the comparison
      // slice, and the per-source totals — ~4 scans of the most
      // expensive projection in the face without it
      val sc = docs(s, dir).select(col("source"), col("doc_id"),
        coalesce(QualityModel.logitOf(col("text")), lit(0L))
          .as("score"),
        expr("ascii(substring(md5(cast(doc_id as string)), 1, 1)) % 2")
          .as("half")).persist()
      val old = sc.filter(col("half") === 0)
      // the election lives in QualityModel.decileBoundaries, where
      // PropertySpec pins it against the ntile spelling
      val ob2 = QualityModel.decileBoundaries(
        old.select("source", "doc_id", "score"))
      val nb = sc.filter(col("half") === 1)
        .join(ob2, Seq("source"), "left")
        .groupBy("source", "doc_id")
        .agg((lit(1L) + sum(
          when(col("decile") <= 9 &&
            (col("b_score") < col("score") ||
              (col("b_score") === col("score") &&
                col("b_doc") < sc("doc_id"))), 1L)
            .otherwise(0L))).as("n_decile"))
      val nk = nb.groupBy("source", "n_decile")
        .agg(count(lit(1)).as("n_new_k"))
        .withColumnRenamed("n_decile", "decile")
      val tt = sc.groupBy("source").agg(
        sum(when(col("half") === 0, 1L).otherwise(0L)).as("n_old"),
        sum(when(col("half") === 1, 1L).otherwise(0L)).as("n_new"))
      graft.operators.CacheScope.eval(
        tt.select(col("source"), col("n_old"), col("n_new"),
          explode(expr("sequence(1L, 10L)")).as("decile"))
        .join(ob2.select("source", "decile", "n_old_k"),
          Seq("source", "decile"), "left")
        .join(nk, Seq("source", "decile"), "left")
        .withColumn("so", expr(
          "(coalesce(n_old_k, 0L) * 1000) div greatest(n_old, 1L)"))
        .withColumn("sn", expr(
          "(coalesce(n_new_k, 0L) * 1000) div greatest(n_new, 1L)"))
        .withColumn("ad", abs(col("so") - col("sn")))
        .groupBy("source")
        .agg(max("n_old").as("n_old"), max("n_new").as("n_new"),
          sum("ad").as("l1_permille"),
          max(col("ad") * 16 + (lit(10L) - col("decile"))).as("__code"))
        .select(col("source"), col("n_old"), col("n_new"),
          col("l1_permille"),
          expr("__code div 16").as("max_shift_permille"),
          expr("10 - __code % 16").as("drift_decile"))
        .orderBy("source"))(sc)
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
        FROM tok WHERE token <> '' GROUP BY 1, 2),
      lg AS (
        SELECT doc_id,
               CAST(sum(cnt * ((dim * 37 + 11) % 21 - 10)) AS BIGINT)
                 AS score
        FROM tf GROUP BY 1),
      sc AS (
        SELECT d.source, d.doc_id, coalesce(l.score, 0) AS score,
               ascii(substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 1)) % 2
                 AS half
        FROM documents d LEFT JOIN lg l USING (doc_id)),
      od AS (
        SELECT source, doc_id, score,
               CAST(ntile(10) OVER (PARTITION BY source
                 ORDER BY score, doc_id) AS BIGINT) AS decile
        FROM sc WHERE half = 0),
      ob AS (
        SELECT source, decile, count(*) AS n_old_k,
               max(score) AS b_score
        FROM od GROUP BY 1, 2),
      ob2 AS (
        SELECT o.source, o.decile, o.n_old_k, o.b_score,
               max(d.doc_id) AS b_doc
        FROM ob o JOIN od d
          ON d.source = o.source AND d.decile = o.decile
         AND d.score = o.b_score
        GROUP BY 1, 2, 3, 4),
      nb AS (
        SELECT n.source, n.doc_id,
               1 + sum(CASE WHEN b.decile <= 9
                             AND (b.b_score < n.score OR
                                  (b.b_score = n.score
                                   AND b.b_doc < n.doc_id))
                            THEN 1 ELSE 0 END) AS decile
        FROM (SELECT * FROM sc WHERE half = 1) n
        LEFT JOIN ob2 b ON b.source = n.source
        GROUP BY 1, 2),
      nk AS (
        SELECT source, decile, count(*) AS n_new_k
        FROM nb GROUP BY 1, 2),
      tt AS (
        SELECT source,
               sum(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS n_old,
               sum(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS n_new
        FROM sc GROUP BY 1),
      fr AS (
        SELECT source, n_old, n_new, unnest(range(1, 11)) AS decile
        FROM tt),
      df AS (
        SELECT f.source, f.decile, f.n_old, f.n_new,
               (coalesce(o.n_old_k, 0) * 1000)
                 // greatest(f.n_old, 1) AS so,
               (coalesce(k.n_new_k, 0) * 1000)
                 // greatest(f.n_new, 1) AS sn
        FROM fr f
        LEFT JOIN ob2 o
          ON o.source = f.source AND o.decile = f.decile
        LEFT JOIN nk k
          ON k.source = f.source AND k.decile = f.decile)
      SELECT source,
             CAST(max(n_old) AS BIGINT) AS n_old,
             CAST(max(n_new) AS BIGINT) AS n_new,
             CAST(sum(abs(so - sn)) AS BIGINT) AS l1_permille,
             CAST(max(abs(so - sn) * 16 + (10 - decile)) // 16
               AS BIGINT) AS max_shift_permille,
             CAST(10 - max(abs(so - sn) * 16 + (10 - decile)) % 16
               AS BIGINT) AS drift_decile
      FROM df GROUP BY 1 ORDER BY 1""")
  )

  /** DATASET CARD (r12) — the per-source datasheet a corpus release
    * ships (Gebru et al. 2021's "datasheets for datasets", the
    * quantitative half): docs, whitespace tokens, characters, exact
    * text-level duplication (md5 fingerprint groups, `dd_exact`'s
    * rule scoped per source), the exact total quality logit (the
    * SHARED QualityModel kernel — a sum, never a mean, because Spark
    * `div` truncates where DuckDB `//` floors and the logit total can
    * be negative), language count, and the dominant language by the
    * repo's two-step election (max count, then min lang). ONE
    * doc-grain projection persisted and folded three ways — per
    * source, per (source, fingerprint), per (source, lang) — then
    * joined back at the |sources| grain.
    *
    * Scale shape: one corpus scan; all three folds are map-side
    * combined aggregates; every join after them is on the bounded
    * source dimension. */
  val datasetCard: Q = Q(
    "ta_dataset_card",
    (s, dir) => {
      import graft.operators.{CacheScope, QualityModel}
      // NULL-text pins (the r11 silent-divergence class, the fix
      // qualityDrift already carries): n_toks/n_chars coalesce to 0
      // (the oracle's NULL rows are sum-skipped — same totals), and
      // score coalesces per doc like the oracle's coalesce(l.score,0)
      // — without it an all-NULL-text source sums to NULL vs the
      // oracle's 0. fp stays raw md5 (NULL on both engines, grouped
      // identically).
      val base = docs(s, dir).select(col("source"), col("lang"),
        coalesce(expr("size(filter(split(text, ' '), x -> x <> ''))"),
          lit(0)).as("n_toks"),
        coalesce(length(col("text")).cast("long"), lit(0L))
          .as("n_chars"),
        coalesce(QualityModel.logitOf(col("text")), lit(0L))
          .as("score"),
        md5(col("text")).as("fp")).persist()
      val core = base.groupBy("source").agg(
        count(lit(1)).as("n_docs"), sum("n_toks").as("n_tokens"),
        sum("n_chars").as("n_chars"), sum("score").as("total_logit"))
      val uniq = base.groupBy("source", "fp")
        .agg(count(lit(1)).as("c"))
        .groupBy("source").agg(count(lit(1)).as("n_uniq_texts"))
      val lc = base.groupBy("source", "lang")
        .agg(count(lit(1)).as("c"))
      val lm = lc.groupBy("source")
        .agg(max("c").as("mc"), count(lit(1)).as("n_langs"))
      val top = lc.join(lm, "source").filter(col("c") === col("mc"))
        .groupBy("source", "n_langs", "mc")
        .agg(min("lang").as("top_lang"))
      val out = core.join(uniq, "source").join(top, "source")
        .select(col("source"), col("n_docs"), col("n_tokens"),
          col("n_chars"), col("n_uniq_texts"),
          expr("((n_docs - n_uniq_texts) * 1000) div n_docs")
            .as("dup_permille"),
          col("total_logit"), col("n_langs"), col("top_lang"),
          expr("(mc * 1000) div n_docs").as("top_lang_permille"))
        .orderBy("source")
      CacheScope.eval(out)(base)
    },
    Some("""
      WITH tok AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS token
        FROM documents),
      tfd AS (
        SELECT doc_id,
               CAST((ascii(substr(md5(token), 1, 1)) * 31
                     + ascii(substr(md5(token), 2, 1))) % 64 AS BIGINT)
                 AS dim,
               count(*) AS cnt
        FROM tok WHERE token <> '' GROUP BY 1, 2),
      lg AS (
        SELECT doc_id,
               CAST(sum(cnt * ((dim * 37 + 11) % 21 - 10)) AS BIGINT)
                 AS score
        FROM tfd GROUP BY 1),
      base AS (
        SELECT d.source, d.lang,
               len(list_filter(string_split(d.text, ' '),
                 x -> x <> '')) AS n_toks,
               length(d.text) AS n_chars,
               coalesce(l.score, 0) AS score,
               md5(d.text) AS fp
        FROM documents d LEFT JOIN lg l USING (doc_id)),
      core AS (
        SELECT source, count(*) AS n_docs,
               CAST(sum(n_toks) AS BIGINT) AS n_tokens,
               CAST(sum(n_chars) AS BIGINT) AS n_chars,
               CAST(sum(score) AS BIGINT) AS total_logit
        FROM base GROUP BY 1),
      uq AS (
        SELECT source, count(*) AS n_uniq_texts
        FROM (SELECT source, fp FROM base GROUP BY 1, 2) GROUP BY 1),
      lc AS (
        SELECT source, lang, count(*) AS c FROM base GROUP BY 1, 2),
      lm AS (
        SELECT source, max(c) AS mc, count(*) AS n_langs
        FROM lc GROUP BY 1),
      tp AS (
        SELECT l.source, m.n_langs, m.mc, min(l.lang) AS top_lang
        FROM lc l JOIN lm m ON m.source = l.source AND l.c = m.mc
        GROUP BY 1, 2, 3)
      SELECT c.source, c.n_docs, c.n_tokens, c.n_chars,
             u.n_uniq_texts,
             ((c.n_docs - u.n_uniq_texts) * 1000) // c.n_docs
               AS dup_permille,
             c.total_logit, t.n_langs, t.top_lang,
             (t.mc * 1000) // c.n_docs AS top_lang_permille
      FROM core c
      JOIN uq u ON u.source = c.source
      JOIN tp t ON t.source = c.source
      ORDER BY c.source""")
  )

  def all: Seq[Q] =
    Seq(gopherRules, htmlExtract, packSequences, ingestPipeline,
      qualityDrift, datasetCard)
}
