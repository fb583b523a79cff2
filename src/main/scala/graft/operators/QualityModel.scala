package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The shared linear quality-model kernel behind `ta_classifier_score`
  * and the streaming admission gate — ONE formula for the feature hash
  * and the weight vector, so a batch backfill and a live ingest filter
  * can never disagree on a verdict (the Pii/BpeOps discipline).
  *
  * Features are the hashing-trick dims of `ta_hash_embed` (token →
  * md5-ascii dim in [0, 64)); the weight per dim is the fixed integer
  * formula `w(d) = (37d + 11) mod 21 − 10` standing in for a trained
  * model vector (in production: a broadcast literal array — the plan
  * shape is identical). All arithmetic is BIGINT-exact.
  */
object QualityModel {

  /** Hashed feature dim of a token — BIGINT in [0, 64). */
  def dimOf(token: Column): Column =
    ((ascii(substring(md5(token), 1, 1)) * 31 +
      ascii(substring(md5(token), 2, 1))) % 64).cast("long")

  /** Integer weight of a dim — BIGINT in [−10, 10]. */
  def weightOfDim(dim: Column): Column =
    (dim * 37 + 11) % 21 - 10

  /** Per-ROW logit: fold the model over a document's tokens in one
    * narrow expression — the streaming-gate form. Equals the batch
    * explode → (doc, dim)-count → Σ cnt·w(dim) plan exactly (the sum
    * of per-token weights IS that double aggregation flattened), which
    * EdgeCaseSpec pins row-for-row against the catalog face. */
  def logitOf(textCol: Column): Column =
    aggregate(
      filter(split(textCol, " "), t => t =!= ""),
      lit(0L),
      (acc, t) => acc + weightOfDim(dimOf(t)))

  /** The corpus-unigram surprisal kernel behind `ta_unigram_surprisal`
    * and the composed quality gate — ONE builder so the two faces
    * cannot drift (the same discipline as [[logitOf]]): train the
    * unigram model (token → count, one aggregate), score every
    * document by exact whole-bit surprisal `floorlog2(N) −
    * floorlog2(cnt)` via binary-string lengths (no libm logs), and
    * collapse per document. Output: (idCol, n_tokens, total_bits,
    * mean_millibits). Documents with no non-empty token produce no
    * row (nothing to score). The corpus total attaches as a 1-row
    * broadcast — callers appear in PlanAuditSpec's scalar-attach
    * allowlist. */
  def surprisalPerDoc(docs: org.apache.spark.sql.DataFrame,
                      idCol: String = "doc_id",
                      textCol: String = "text")
      : org.apache.spark.sql.DataFrame = {
    val tok = docs.select(col(idCol),
        explode(split(col(textCol), " ")).as("token"))
      .filter(col("token") =!= "")
    // The unigram model stays a count-aggregate JOINED back — not the
    // window-on-key idiom the gram kernels use (r20, measured): a
    // unigram vocabulary is map-side-combinable down to |vocab| rows,
    // so the join is map-side with NO shuffle of the token rows at
    // all, where a window on the token key would shuffle every
    // instance into |vocab| hot partitions. broadcast() made explicit
    // (the ta_tfidf stance — size estimates post-aggregate are
    // unreliable). STATED SIZE BOUND (r20 advice): the explicit hint
    // has no planner fallback, so this kernel assumes the WORD-grain
    // vocabulary stays broadcastable — ≲10⁸ distinct tokens (a few GB
    // framed; Spark hard-caps a broadcast at 8 GB / 512M rows).
    // Natural-language word vocabularies grow ~O(corpus^0.5) (Heaps'
    // law) and sit in the 10⁷–10⁸ range even at 100 TB, unlike the
    // unbounded GRAM spaces the window-keyed kernels handle; a corpus
    // that breaks the assumption (e.g. binary shards tokenized as
    // words) should drop the hint and let the planner pick the
    // shuffle join. The corpus
    // total derives from `counts`, not from a fresh pass over the
    // token rows: the counts subtree then sits on both sides and
    // exchange reuse computes it once, where a |tok|-grain total
    // added a third evaluation of the unpersisted explode lineage
    // (r20, measured +15% on the face).
    val counts = tok.groupBy("token").agg(count(lit(1)).as("cnt"))
    val total = counts.agg(sum("cnt").as("n_total"))
    tok.join(broadcast(counts), "token")
      .join(broadcast(total))
      .withColumn("bits",
        ((length(bin(col("n_total"))) - 1) -
          (length(bin(col("cnt"))) - 1)).cast("long"))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_tokens"), sum("bits").as("total_bits"))
      .withColumn("mean_millibits",
        expr("(total_bits * 1000) div n_tokens"))
  }

  /** The reference-slice decile-boundary election — (source, decile,
    * n_old_k, b_score, b_doc) rows — of the `ta_quality_drift` face.
    * `old` is the reference slice with (source, doc_id, score)
    * columns.
    *
    * Semantics (unchanged, spec- and oracle-pinned): ntile(10) over
    * the injective (score, doc_id) order per source; per populated
    * decile, n_old_k = its row count, b_score = its max score,
    * b_doc = max doc_id among its rows AT that score — i.e. the
    * (score, doc_id)-pair of the decile's LAST row.
    *
    * Computed two-phase instead of a per-document ntile window: the
    * reference slice is ~half of EVERY document per source, and
    * `Window.partitionBy(source)` at document grain funnels a
    * source's whole slice through one sort task — the straggler/OOM
    * shape every other operator here avoids (the ntile spelling was
    * the one per-doc single-partition window left in the engine).
    * Here the per-source window runs on the (source, score)
    * AGGREGATED grain (|distinct scores|, map-side-combinable
    * counts); the ntile cut positions end_k = k·(n/10) + min(k, n%10)
    * are pure arithmetic on the per-source count; b_score is the
    * score whose cumulative range contains end_k; and b_doc is the
    * (end_k − |rows below b_score|)-th smallest doc_id inside
    * b_score's tie group — a row_number window over ONLY the ≤10
    * boundary scores' tie-group rows, never the slice. PropertySpec
    * pins equality with the ntile spelling on tie-heavy data. */
  def decileBoundaries(old: DataFrame): DataFrame = {
    // phase 1: score-grain counts + cumulative spans per source
    val g = old.groupBy("source", "score").agg(count(lit(1)).as("__c"))
    val wS = Window.partitionBy("source").orderBy("score")
    val cum = g
      .withColumn("__hi", sum("__c").over(wS)) // rows with score ≤ s
      .withColumn("__lo", col("__hi") - col("__c")) // rows below s
      .select(col("source"), col("score").as("b_score"),
        col("__lo"), col("__hi"))
    // ntile cut arithmetic: first n%10 buckets carry n/10 + 1 rows
    val cuts = old.groupBy("source").agg(count(lit(1)).as("__n"))
      .select(col("source"), col("__n"),
        explode(expr("sequence(1L, 10L)")).as("decile"))
      .withColumn("__end",
        expr("decile * (__n div 10) + least(decile, __n % 10)"))
      .withColumn("__start", expr(
        "(decile - 1) * (__n div 10) + least(decile - 1, __n % 10) + 1"))
      .filter(col("__end") >= col("__start")) // only populated deciles
      .withColumn("n_old_k", col("__end") - col("__start") + 1L)
      .withColumn("decile", col("decile").cast("int"))
    // boundary score: the score whose cumulative span contains end_k;
    // __j = how many of its tie-group rows land in deciles ≤ k
    val bsc = cuts.join(cum, Seq("source"))
      .filter(col("__end") > col("__lo") && col("__end") <= col("__hi"))
      .withColumn("__j", col("__end") - col("__lo"))
      .select("source", "decile", "n_old_k", "b_score", "__j")
    // b_doc: the __j-th smallest doc_id inside the boundary score's
    // tie group — the join keeps only tie-group rows (≤10 boundary
    // scores per source), so the window partition is a tie group,
    // never the slice. NULL-SAFE on the score (<=>, r19 review): a
    // boundary landing in a NULL-score group (NULLs sort first, like
    // the ntile spelling) must keep its decile row — a plain
    // equi-join silently dropped it, vanishing whole deciles.
    // Documented worst case: d deciles sharing ONE boundary score
    // fan the tie group out d-fold before the per-(source, decile)
    // sort; a dedup-then-rank rewrite was measured SLOWER on the
    // catalog face (it evaluates the bsc lineage — a full scoring
    // pass — a second time for the distinct-scores probe), so the
    // single-join shape stands.
    val wTie = Window.partitionBy("source", "decile").orderBy("doc_id")
    old.select(col("source"), col("doc_id"),
        col("score").as("b_score"))
      .join(broadcast(bsc.select(col("source").as("__src"),
          col("decile"), col("n_old_k"), col("b_score").as("__bs"),
          col("__j"))),
        col("source") === col("__src") &&
          col("b_score") <=> col("__bs"))
      .withColumn("__rn", row_number().over(wTie))
      .filter(col("__rn") === col("__j"))
      .select(col("source"), col("decile"), col("n_old_k"),
        col("__bs").as("b_score"), col("doc_id").as("b_doc"))
  }
}
