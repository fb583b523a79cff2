package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Corpus-curation kernels behind the r12 `ta_gopher_rules` /
  * `ta_html_extract` catalog faces — the two standard pre-training
  * passes this engine was still missing: the published Gopher
  * repetition/quality rule set (Rae et al. 2021, appendix A1) and
  * tag-strip text extraction from raw HTML-shaped crawl records.
  * Factored here so any pipeline column can ride the exact rule the
  * catalog faces certify against DuckDB.
  */
object GopherRules {

  /** Gopher repetition thresholds in exact permille, keyed by n-gram
    * order: for n ∈ {2,3,4} the TOP-n-gram character share may not
    * exceed the bound; for n ∈ {5..10} the EXCESS-occurrence
    * character mass of all duplicated n-grams may not. Values are the
    * published A1 fractions ×1000. Public so a caller tuning the gate
    * sees the baseline it is changing. */
  val TopThresholdPm: Map[Int, Long] = Map(2 -> 200L, 3 -> 180L, 4 -> 160L)
  val DupThresholdPm: Map[Int, Long] =
    Map(5 -> 150L, 6 -> 140L, 7 -> 130L, 8 -> 120L, 9 -> 110L, 10 -> 100L)

  /** Word-count and mean-word-length gates (A1's 50–100k words and
    * 3–10 chars/word), the length half of the rule set. */
  val MinWords = 50L
  val MaxWords = 100000L
  val MinWlenMilli = 3000L
  val MaxWlenMilli = 10000L

  /** The ONE spelling of the Gopher keep gate — word-count bounds,
    * mean-word-length bounds, and the per-n top/dup permille
    * thresholds — parameterized over how each kernel references its
    * metric columns. [[metrics]] and [[withMetricsNative]], whose
    * bit-equality CurationSpec pins, both build their `keep` from it,
    * so a threshold change cannot reach one and miss the other. */
  private def keepGate(nWords: Column, meanWlen: Column,
                       topPm: Int => Column,
                       dupPm: Int => Column): Column =
    (Seq(nWords >= MinWords, nWords <= MaxWords,
      meanWlen >= MinWlenMilli, meanWlen <= MaxWlenMilli) ++
      TopThresholdPm.toSeq.sortBy(_._1).map { case (n, t) =>
        topPm(n) <= t } ++
      DupThresholdPm.toSeq.sortBy(_._1).map { case (n, t) =>
        dupPm(n) <= t }).reduce(_ && _)

  /** Per-document Gopher repetition + length metrics, all exact
    * integers so any SQL engine replays them bit-for-bit:
    *
    *  - `n_words`: non-empty whitespace tokens;
    *  - `mean_wlen_milli`: non-space chars ×1000 div n_words;
    *  - `top{2,3,4}_pm`: characters of the MOST FREQUENT n-gram
    *    (count × its non-space char length) as a permille of the
    *    doc's non-space chars. Tie on count breaks to the LONGER
    *    gram — encoded as one max over
    *    `count·10⁵ + min(charlen, 99999)`, so both engines pick the
    *    identical witness without a rank window. The clamp keeps a
    *    whale gram (a few ~25k-char tokens — base64 blobs, minified
    *    JS are real in crawl data) from bleeding into the count
    *    units: ordering stays count-first always; only the tie-break
    *    saturates at 99 999 chars (grams past the cap tie, and the
    *    reported top_pm charge caps there too — such a doc fails the
    *    gate on other rules regardless). This grouped form, the
    *    native expression and the DuckDB replay clamp identically;
    *  - `dup{5..10}_pm`: EXCESS occurrence mass Σ (count−1)·charlen
    *    over grams with count > 1, permille of non-space chars —
    *    the "fraction of characters in duplicated n-grams" rule
    *    stated without overlap bookkeeping (each repeat re-charges
    *    its full char length; first occurrences are free);
    *  - `keep`: 1 iff every threshold above holds.
    *
    * Shape at 100 TB: the gram stream is 9 narrow explodes of the
    * token array (linear in corpus tokens, no joins), one groupBy on
    * (doc, n, gram) — map-side combinable, duplicate-heavy docs
    * combine before the exchange — then two bounded reductions back
    * to |docs| rows. Nothing is pairwise; nothing is collected.
    * Expects (doc_id, text); returns one row per doc, unordered. */
  def metrics(docs: DataFrame): DataFrame = {
    val base = docs.select(
      col("doc_id"),
      split(col("text"), " ").as("t"),
      length(expr("replace(text, ' ', '')")).cast("long").as("nc"),
      size(expr("filter(split(text, ' '), x -> x <> '')"))
        .cast("long").as("nw"))

    val grams = base
      .select(col("doc_id"), col("t"), col("nc"),
        explode(expr("sequence(2, 10)")).as("n"))
      .where(size(col("t")) >= col("n"))
      .select(col("doc_id"), col("n").cast("long").as("n"), col("nc"),
        explode(expr(
          "transform(sequence(1, size(t) - n + 1)," +
            " i -> concat_ws(' ', slice(t, i, n)))")).as("gram"))

    val gc = grams
      .groupBy("doc_id", "n", "gram")
      .agg(max("nc").as("nc"), count(lit(1)).as("cnt"))
      .withColumn("cl", (length(col("gram")) - (col("n") - 1)))

    val per = gc.groupBy("doc_id", "n")
      .agg(max("nc").as("nc"),
        max(when(col("n") <= 4,
          col("cnt") * 100000L + least(col("cl"), lit(99999L))))
          .as("topcode"),
        sum(when(col("n") >= 5 && col("cnt") > 1,
          (col("cnt") - 1) * col("cl")).otherwise(0L)).as("dupmass"))
      .withColumn("top_pm", expr(
        "((topcode div 100000) * (topcode % 100000) * 1000)" +
          " div greatest(nc, 1L)"))
      .withColumn("dup_pm", expr("(dupmass * 1000) div greatest(nc, 1L)"))

    def topPm(n: Int): Column =
      coalesce(max(when(col("n") === n, col("top_pm"))), lit(0L))
        .as(s"top${n}_pm")
    def dupPm(n: Int): Column =
      coalesce(max(when(col("n") === n, col("dup_pm"))), lit(0L))
        .as(s"dup${n}_pm")

    val pivot = per.groupBy("doc_id").agg(
      topPm(2), topPm(3), topPm(4),
      dupPm(5), dupPm(6), dupPm(7), dupPm(8), dupPm(9), dupPm(10))

    val keepCond = keepGate(col("n_words"), col("mean_wlen_milli"),
      n => col(s"top${n}_pm"), n => col(s"dup${n}_pm"))

    base.select(col("doc_id"), col("nw").as("n_words"),
        expr("(nc * 1000) div greatest(nw, 1L)").as("mean_wlen_milli"))
      .join(pivot, Seq("doc_id"), "left")
      .na.fill(0L)
      .withColumn("keep",
        when(keepCond, 1L).otherwise(0L))
  }

  /** The production kernel — identical output to [[metrics]],
    * computed by the fused [[graft.functions.GopherStats]] expression
    * (`gopher_stats`): split once, per-n index sort + run-length walk
    * in plain JVM code, no per-gram allocation, no lambda dispatch,
    * no shuffle. Measured at sf0.1 full evaluation (warm): grouped
    * ≈ 6.6 s, native ≈ 0.5 s — the §2.9 preference order (native
    * Expression > built-in composition) on one kernel; CurationSpec
    * pins its equality with [[metrics]]. The catalog face, the
    * streaming gate and the composed ingest pipeline run it. */
  def metricsNative(docs: DataFrame): DataFrame =
    withMetricsNative(docs).select(
      Seq(col("doc_id"), col("n_words"), col("mean_wlen_milli")) ++
        (2 to 4).map(n => col(s"top${n}_pm")) ++
        (5 to 10).map(n => col(s"dup${n}_pm")) :+ col("keep"): _*)

  /** [[metricsNative]] as a column-appending transform: every input
    * column passes through, with the metric columns and `keep`
    * added (the admission-gate shape — `Streams.streamingGopherGate`
    * filters on `keep` and drops the diagnostics). NULL text counts as empty text (keep = 0 via the
    * word-count gate), as in [[metrics]]. */
  def withMetricsNative(docs: DataFrame,
                        textCol: String = "text"): DataFrame = {
    graft.GraftExtensions.ensure(docs.sparkSession)
    val df = docs.withColumn("__g",
      expr(s"gopher_stats(coalesce(`$textCol`, ''))"))

    def topPm(n: Int): Column =
      expr(s"((__g.top$n div 100000) * (__g.top$n % 100000) * 1000)" +
        s" div greatest(__g.nc, 1L)")
    def dupPm(n: Int): Column =
      expr(s"(__g.dup$n * 1000) div greatest(__g.nc, 1L)")
    val nWords = col("__g.n_words")
    val meanWlen = expr("(__g.nc * 1000) div greatest(__g.n_words, 1L)")

    val keepCond = keepGate(nWords, meanWlen, topPm, dupPm)

    df.select(docs.columns.map(col) ++
      Seq(nWords.as("n_words"), meanWlen.as("mean_wlen_milli")) ++
      (2 to 4).map(n => topPm(n).as(s"top${n}_pm")) ++
      (5 to 10).map(n => dupPm(n).as(s"dup${n}_pm")) :+
      when(keepCond, 1L).otherwise(0L).as("keep"): _*)
  }
}

/** Tag-strip HTML → text extraction as pure built-in expressions —
  * the step between a raw crawl record and every `ta_*`/`dd_*` text
  * face. Deliberately regex-grade (the 100 TB first pass), not a
  * DOM parse: script/style subtrees are dropped wholesale, remaining
  * tags become spaces, the five standard entities decode, whitespace
  * collapses. Entity decoding runs AFTER tag stripping — a decoded
  * `&lt;b&gt;` must surface as literal text, not get re-stripped as
  * markup — and `&amp;` decodes LAST so it cannot manufacture new
  * entities out of `&amp;lt;`. All steps are codegen'd string
  * built-ins; malformed input (unclosed tags, bare `<`, empty
  * strings, NULLs) degrades to leftover literal text, never an
  * error (CurationSpec pins the edge cases). */
object HtmlText {

  /** `<title>` contents ('' when absent). */
  def title(html: Column): Column =
    regexp_extract(html, "<title>([^<]*)</title>", 1)

  /** All `href="…"` targets in document order. */
  def hrefs(html: Column): Column =
    regexp_extract_all(html, lit("href=\"([^\"]+)\""), lit(1))

  /** Drop script/style subtrees (non-greedy, so adjacent blocks
    * survive independently), then every remaining tag → one space.
    * `(?s)` makes `.` span newlines — real-world script/style blocks
    * are multi-line, and without DOTALL their inner code would leak
    * into the clean text; `(?i)` makes the tag names case-blind —
    * uppercase `<SCRIPT>` is standard in real HTML, and without it
    * the block pass would miss the subtree while the case-blind
    * `<[^>]*>` pass still ate the tags, leaking raw JS/CSS into the
    * clean text as if it were prose. Two full-block alternatives
    * (not a backreferenced `</\1>`) so a `<script>…</style>`
    * mismatch is NOT treated as a closed block, and because the
    * DuckDB oracle's RE2 engine has no backreferences — the
    * alternation is the one spelling both engines execute
    * identically ((?is) is supported identically by both). */
  def stripTags(html: Column): Column =
    regexp_replace(
      regexp_replace(html,
        "(?is)<script[^>]*>.*?</script>|<style[^>]*>.*?</style>", " "),
      "<[^>]*>", " ")

  /** The five standard entities; `&amp;` last (see object doc). The
    * entity strings contain no regex metacharacters, so literal
    * regexp_replace is an exact string replace in both engines. */
  def decodeEntities(c: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(
          regexp_replace(
            regexp_replace(c, "&lt;", "<"),
            "&gt;", ">"),
          "&quot;", "\""),
        "&#39;", "'"),
      "&amp;", "&")

  /** The composed extraction: strip → decode → collapse runs of
    * whitespace → trim. The collapse class is ALL of space/tab/
    * newline/CR/FF (spelled as an explicit class, not `\s` — Java
    * and RE2 disagree on `\s`'s exact membership): source-HTML line
    * breaks between block elements otherwise survive into clean_text
    * as literal newlines, which the space-splitting Gopher gate
    * downstream would count as phantom 1-char words (and a line
    * break INSIDE a sentence would weld two words into one token).
    * Collapsing to a single space first also makes the final trim —
    * space-only in both engines — sufficient at the edges. */
  def cleanText(html: Column): Column =
    trim(regexp_replace(decodeEntities(stripTags(html)),
      "[ \\t\\n\\r\\f]+", " "))
}
