package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Q, QueryModule}
import graft.functions.VectorFns._
import graft.sources.Tables

/** Similarity search over the `embeddings` table — SURVEY.md §2.12:
  * brute-force cosine top-k as the exactness baseline, and an
  * SRP-bucketed (LSH/IVF-style) variant as the scale path.
  *
  * Scale stance (100 TB): brute force is |Q|·N with the query set
  * broadcast — correct for small query batches, linear in the corpus,
  * and embarrassingly parallel (no shuffle on the corpus side; the only
  * shuffle is the per-query top-k, whose input is pre-pruned map-side by
  * the rank window at k rows per partition... the window itself shuffles
  * on query_id, a tiny key set). The SRP variant prunes candidates to
  * same-bucket vectors first — Σ bucket·|Q∩bucket| work — trading recall
  * for a corpus-scale-independent probe cost; both faces share the exact
  * same fold-based cosine so results are comparable.
  *
  * Ranking determinism: cosines are bit-identical across engines
  * (VectorFns) and ties break on vec_id, so ranks hash-match exactly.
  */
object Similarity extends QueryModule {

  private val K = 10

  /** Lloyd iterations for every IVF face (Spark and oracle sides both
    * derive their step count from this). Two: the first step moves
    * data-point seeds to cell means, the second re-partitions against
    * those means — the classic cheap win, measurably better probe
    * recall (SimilaritySpec pins step-2 ≥ step-1 per query). Each
    * extra step is a full corpus pass for a shrinking return, so the
    * catalog stops where the recall report stops improving.
    * Public: SimilaritySpec builds index/probe pipelines that must
    * agree with the catalog faces centroid-for-centroid. */
  val IvfSteps = 2

  /** Deterministic query batch: the first 3 vectors. */
  private def parts(s: SparkSession, dir: String)
      : (DataFrame, DataFrame) = {
    val emb = Tables(s, dir, "embeddings")
    val queries = emb.filter(col("vec_id") < 3)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    (emb, queries)
  }

  /** The one IVF probe-and-rank pipeline (assign → probe-cell
    * broadcast join → native cosine → per-query rank ≤ K) — shared by
    * the `ss_topk_ivf*` faces and the recall certification, so the
    * recall report can never measure a DIFFERENT pipeline than the
    * one served (the two used to be hand-maintained copies). */
  private def ivfTopk(s: SparkSession, emb: DataFrame,
                      cents: Array[(Long, Array[Float])],
                      nprobe: Int): DataFrame = {
    import graft.operators.Ann
    val queries = Ann.ivfProbeCells(
      emb.filter(col("vec_id") < 3), cents, nprobe)
    Ann.ivfAssign(emb, cents)
      .join(broadcast(queries),
        col("cell") === col("q_cell") && col("vec_id") =!= col("q_id"))
      .withColumn("cosine", cosineNative(s, "q_emb", "embedding"))
      .withColumn("rank", row_number().over(Window.partitionBy("q_id")
        .orderBy(col("cosine").desc, col("vec_id").asc)))
      .filter(col("rank") <= K)
  }

  /** Brute-force cosine top-k: exact baseline, query batch broadcast. */
  val topkBrute: Q = Q(
    "ss_topk_brute",
    (s, dir) => {
      val (emb, queries) = parts(s, dir)
      graft.operators.Ann.topkBrute(s, emb, queries, K)
    },
    Some(s"""
      WITH q AS (
        SELECT vec_id AS q_id, embedding AS q_emb
        FROM embeddings WHERE vec_id < 3),
      scored AS (
        SELECT q.q_id, e.vec_id,
               ${duckCosine("q.q_emb", "e.embedding")} AS cosine
        FROM embeddings e JOIN q ON e.vec_id <> q.q_id),
      ranked AS (
        SELECT q_id, vec_id, cosine,
               row_number() OVER (PARTITION BY q_id
                 ORDER BY cosine DESC, vec_id ASC) AS rank
        FROM scored)
      SELECT q_id, rank, vec_id, cosine FROM ranked
      WHERE rank <= $K ORDER BY q_id, rank""")
  )

  /** SRP-bucketed approximate top-k: 4 md5-derived hyperplanes → 16
    * buckets; candidates are same-bucket vectors only. The recall/cost
    * trade is explicit: fewer planes → bigger buckets → higher recall,
    * more probe work. Bucketing is the shared operators.Srp narrow map
    * (literal coefficient vectors + native dots — no explode, no
    * shuffle); probes join on the bucket key only. */
  val topkSrp: Q = Q(
    "ss_topk_srp",
    (s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      graft.operators.Ann.topkSrp(s, emb,
        emb.filter(col("vec_id") < 3).select("vec_id"), K, nPlanes = 4)
    },
    Some(s"""
      WITH ${graft.operators.Srp.duckCoefCte(4)},
      wv AS (
        SELECT vec_id, embedding,
               ${graft.operators.Srp.duckBucketExpr(4)} AS bucket
        FROM embeddings),
      q AS (
        SELECT vec_id AS q_id, bucket AS q_bucket, embedding AS q_emb
        FROM wv WHERE vec_id < 3),
      scored AS (
        SELECT q.q_id, e.vec_id,
               ${duckCosine("q.q_emb", "e.embedding")} AS cosine
        FROM wv e JOIN q
          ON e.bucket = q.q_bucket AND e.vec_id <> q.q_id),
      ranked AS (
        SELECT q_id, vec_id, cosine,
               row_number() OVER (PARTITION BY q_id
                 ORDER BY cosine DESC, vec_id ASC) AS rank
        FROM scored)
      SELECT q_id, rank, vec_id, cosine FROM ranked
      WHERE rank <= $K ORDER BY q_id, rank""")
  )

  /** IVF-style approximate top-k: 8 coarse centroids — seeded with the
    * first 8 vectors, then refined by [[IvfSteps]] Lloyd (k-means)
    * steps — every vector assigned to its max-cosine centroid, probes
    * search their own cell only.
    *
    * Scale shape: assignment = broadcast(8 centroids) × corpus → argmax
    * per vector (a narrow map, no shuffle); the Lloyd update is one
    * posexplode + groupBy(cell, dim) — linear, k·dim output rows — and
    * the k·dim sums are collected driver-side (the same planning-class
    * round-trip as the seed collect). Probing joins on the cell id —
    * cost |cell|, not corpus. Contrast with SRP: data-adaptive cells vs
    * oblivious hyperplanes.
    *
    * Determinism: centroid means are computed from INTEGER-scaled sums
    * (round(x·2²⁰) as long — order-free exact addition), then one
    * double division and a float cast — an IEEE sequence DuckDB replays
    * bit-for-bit, exactly like the fold cosine. A float mean of floats,
    * by contrast, would depend on partition order. */
  val topkIvf: Q = ivfQuery("ss_topk_ivf", nprobe = 1)

  /** Multi-probe IVF — the standard recall knob: each query searches
    * its `nprobe` best cells (by centroid cosine) instead of only its
    * own. Probe cost grows linearly in nprobe while staying
    * corpus-scale-independent; candidates never duplicate because
    * every vector lives in exactly one cell. nprobe=2 here. */
  val topkIvf2: Q = ivfQuery("ss_topk_ivf2", nprobe = 2)

  private def ivfQuery(name: String, nprobe: Int): Q = Q(
    name,
    (s, dir) => {
      // All IVF machinery lives in operators.Ann (shared with the
      // build-once/probe-many bucketed-index face): seeds + one
      // integer-scaled Lloyd step driver-side (planning-class
      // round-trips), literal-centroid argmax assignment (narrow map,
      // no shuffle), top-nprobe probe cells per query. The assigned
      // corpus feeds exactly ONE consumer (the probe join; the query
      // batch derives from `emb` directly), so no persist/checkpoint.
      import graft.operators.Ann
      val emb = Tables(s, dir, "embeddings")
      val cents1 = Ann.ivfCentroids(s, emb, 8, steps = IvfSteps)
      ivfTopk(s, emb, cents1, nprobe)
        .select(col("q_id"), col("rank"), col("vec_id"), col("cosine"))
        .orderBy("q_id", "rank")
    },
    Some(s"""
      WITH ${ivfDuckCtes(nprobe)},
      ranked AS (
        SELECT q_id, vec_id, cosine,
               row_number() OVER (PARTITION BY q_id
                 ORDER BY cosine DESC, vec_id ASC) AS rank
        FROM iscored)
      SELECT q_id, rank, vec_id, cosine FROM ranked
      WHERE rank <= $K ORDER BY q_id, rank""")
  )

  /** DuckDB CTE chain replaying the IVF pipeline bit-for-bit — seeds,
    * `IvfSteps` integer-scaled Lloyd steps (each one an isc/ia/idims/
    * isums/cents block chained off the previous step's centroids,
    * mirroring the Scala loop in Ann.ivfCentroids), argmax assignment,
    * top-nprobe probe cells, candidate scoring — ending in `iscored
    * (q_id, vec_id, cosine)`. Shared by the ivf top-k oracles and the
    * recall report (whose WITH-clause also carries the brute and SRP
    * chains, hence the collision-free i-prefixed names). */
  /** `src` is the corpus the step assigns/averages over and `pfx`
    * namespaces the CTEs, so one WITH-clause can carry several Lloyd
    * chains (the append face trains on the base split, then runs one
    * step over the full table from the trained seeds). Defaults
    * reproduce the original single-chain names exactly. */
  private def lloydStepCte(i: Int, src: String = "embeddings",
                           pfx: String = ""): String = {
    val prev = s"${pfx}cents${i - 1}"
    s"""
      ${pfx}isc$i AS (
        SELECT e.vec_id, e.embedding, c.c_id,
               ${duckCosine("e.embedding", "c.c_emb")} AS c_cos
        FROM $src e, $prev c),
      ${pfx}ia$i AS (
        SELECT vec_id, embedding, c_id AS cell FROM (
          SELECT *, row_number() OVER (PARTITION BY vec_id
            ORDER BY c_cos DESC, c_id ASC) AS rn
          FROM ${pfx}isc$i) WHERE rn = 1),
      ${pfx}idims$i AS (
        SELECT cell, unnest(range(1, len(embedding)+1)) AS idx,
               unnest(embedding) AS x
        FROM ${pfx}ia$i),
      ${pfx}isums$i AS (
        SELECT cell, idx,
               sum(CAST(round(CAST(x AS DOUBLE) * 1048576.0) AS BIGINT)) AS s,
               count(*) AS n
        FROM ${pfx}idims$i GROUP BY 1, 2),
      ${pfx}cents$i AS (
        SELECT c0.c_id,
               CASE WHEN count(sm.idx) = 0 THEN first(c0.c_emb)
                    ELSE list(CAST((CAST(sm.s AS DOUBLE) / sm.n)
                                   / 1048576.0 AS FLOAT) ORDER BY sm.idx)
               END AS c_emb
        FROM $prev c0 LEFT JOIN ${pfx}isums$i sm ON sm.cell = c0.c_id
        GROUP BY c0.c_id)"""
  }

  private def ivfDuckCtes(nprobe: Int): String = s"""
      cents0 AS (
        SELECT vec_id AS c_id, embedding AS c_emb
        FROM embeddings WHERE vec_id < 8),
      ${(1 to IvfSteps).map(lloydStepCte(_)).mkString(",")},
      cents AS (SELECT c_id, c_emb FROM cents$IvfSteps),
      scored_cells AS (
        SELECT e.vec_id, e.embedding, c.c_id,
               ${duckCosine("e.embedding", "c.c_emb")} AS c_cos
        FROM embeddings e, cents c),
      assigned AS (
        SELECT vec_id, embedding, c_id AS cell FROM (
          SELECT *, row_number() OVER (PARTITION BY vec_id
            ORDER BY c_cos DESC, c_id ASC) AS rn
          FROM scored_cells) WHERE rn = 1),
      iq AS (
        SELECT vec_id AS q_id, embedding AS q_emb, c_id AS q_cell FROM (
          SELECT *, row_number() OVER (PARTITION BY vec_id
            ORDER BY c_cos DESC, c_id ASC) AS rn
          FROM scored_cells WHERE vec_id < 3) WHERE rn <= $nprobe),
      iscored AS (
        SELECT iq.q_id, e.vec_id,
               ${duckCosine("iq.q_emb", "e.embedding")} AS cosine
        FROM assigned e JOIN iq
          ON e.cell = iq.q_cell AND e.vec_id <> iq.q_id)"""

  /** Multi-table SRP approximate top-k — the recall fix the
    * ss_recall_report motivates: 4 independent 4-bit SRP tables (one
    * 16-plane bucketing pass, banded — the LSH banding trick on sign
    * bits); a vector is a candidate on ANY per-table collision, and
    * multi-table hits dedupe before ranking. Collision probability
    * per table is p⁴ but across tables 1-(1-p⁴)⁴ — steeper recall at
    * the cost of ≤4× probe work, still corpus-scale-independent. */
  val topkSrpMulti: Q = Q(
    "ss_topk_srp_multi",
    (s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      graft.operators.Ann.topkSrpMulti(s, emb,
        emb.filter(col("vec_id") < 3).select("vec_id"), K,
        nPlanes = 4, nTables = 4)
    },
    Some(s"""
      WITH ${graft.operators.Srp.duckCoefCte(16)},
      wv AS (
        SELECT vec_id, embedding,
               ${graft.operators.Srp.duckBucketExpr(16)} AS bucket
        FROM embeddings),
      bands AS (
        SELECT vec_id, embedding, t.t AS tbl,
               substr(bucket, t.t * 4 + 1, 4) AS bkey
        FROM wv, (SELECT unnest(range(0, 4)) AS t) t),
      q AS (
        SELECT vec_id AS q_id, tbl, bkey, embedding AS q_emb
        FROM bands WHERE vec_id < 3),
      scored AS (
        SELECT q.q_id, e.vec_id,
               max(${duckCosine("q.q_emb", "e.embedding")}) AS cosine
        FROM bands e JOIN q
          ON e.tbl = q.tbl AND e.bkey = q.bkey AND e.vec_id <> q.q_id
        GROUP BY 1, 2),
      ranked AS (
        SELECT q_id, vec_id, cosine,
               row_number() OVER (PARTITION BY q_id
                 ORDER BY cosine DESC, vec_id ASC) AS rank
        FROM scored)
      SELECT q_id, rank, vec_id, cosine FROM ranked
      WHERE rank <= $K ORDER BY q_id, rank""")
  )

  /** Recall certification for the approximate paths — per-query
    * recall@K of SRP buckets AND multi-probe IVF against the exact
    * brute-force baseline (the dd_minhash_bound pattern on the
    * embedding side): the report a pipeline publishes when it swaps
    * exact search for a scale path, so the recall/cost trade is a
    * measured number, not a hope. On this corpus it shows exactly why
    * the report exists: oblivious 4-plane SRP buckets recall ~0.1
    * while data-adaptive IVF nprobe=2 recalls 0.7–1.0 — the method
    * choice is visible in one table. All rankings are deterministic
    * (bit-identical cosines, vec_id tie-break), so overlap counts and
    * recall doubles hash-match across engines. Cost: the three top-k
    * pipelines plus K·|Q|-row joins, nothing corpus-quadratic. */
  val recallReport: Q = Q(
    "ss_recall_report",
    (s, dir) => {
      import graft.operators.Ann
      val (emb, queries) = parts(s, dir)
      val qids = emb.filter(col("vec_id") < 3).select("vec_id")
      // NOT persisted, deliberately and by measurement: the brute
      // subtree appears under three consumers, but Catalyst's
      // ReusedExchange already deduplicates the identical physical
      // subtrees within the one materializing job — an explicit
      // persist breaks that reuse with an InMemoryRelation and read
      // 1.8x SLOWER on the controlled meter (idle-host A/B against
      // the pre-persist commit)
      val brute = Ann.topkBrute(s, emb, queries, K)
        .select("q_id", "vec_id")
      val srp = Ann.topkSrp(s, emb, qids, K, nPlanes = 4)
        .select("q_id", "vec_id")
      val cents = Ann.ivfCentroids(s, emb, 8, steps = IvfSteps)
      // the SAME ivfTopk pipeline the ss_topk_ivf faces serve — the
      // certification must measure the served plan, not a copy
      val ivf = ivfTopk(s, emb, cents, nprobe = 2)
        .select("q_id", "vec_id")
      def recallOf(approx: DataFrame, label: String): DataFrame =
        brute.join(approx, Seq("q_id", "vec_id"))
          .groupBy("q_id").agg(count(lit(1)).as(s"${label}_h"))
      brute.select("q_id").distinct()
        .join(recallOf(srp, "srp"), Seq("q_id"), "left")
        .join(recallOf(ivf, "ivf"), Seq("q_id"), "left")
        .select(col("q_id"),
          coalesce(col("srp_h"), lit(0L)).as("srp_hits"),
          (coalesce(col("srp_h"), lit(0L)).cast("double") / lit(K.toDouble))
            .as("srp_recall"),
          coalesce(col("ivf_h"), lit(0L)).as("ivf_hits"),
          (coalesce(col("ivf_h"), lit(0L)).cast("double") / lit(K.toDouble))
            .as("ivf_recall"))
        .orderBy("q_id")
    },
    Some(s"""
      WITH ${graft.operators.Srp.duckCoefCte(4)},
      wv AS (
        SELECT vec_id, embedding,
               ${graft.operators.Srp.duckBucketExpr(4)} AS bucket
        FROM embeddings),
      ${ivfDuckCtes(2)},
      bq AS (
        SELECT vec_id AS q_id, embedding AS q_emb
        FROM embeddings WHERE vec_id < 3),
      bscored AS (
        SELECT bq.q_id, e.vec_id,
               ${duckCosine("bq.q_emb", "e.embedding")} AS cosine
        FROM embeddings e JOIN bq ON e.vec_id <> bq.q_id),
      btop AS (
        SELECT q_id, vec_id FROM (
          SELECT q_id, vec_id,
                 row_number() OVER (PARTITION BY q_id
                   ORDER BY cosine DESC, vec_id ASC) AS rank
          FROM bscored) WHERE rank <= $K),
      sq AS (
        SELECT vec_id AS q_id, bucket AS q_bucket, embedding AS q_emb
        FROM wv WHERE vec_id < 3),
      sscored AS (
        SELECT sq.q_id, e.vec_id,
               ${duckCosine("sq.q_emb", "e.embedding")} AS cosine
        FROM wv e JOIN sq
          ON e.bucket = sq.q_bucket AND e.vec_id <> sq.q_id),
      stop AS (
        SELECT q_id, vec_id FROM (
          SELECT q_id, vec_id,
                 row_number() OVER (PARTITION BY q_id
                   ORDER BY cosine DESC, vec_id ASC) AS rank
          FROM sscored) WHERE rank <= $K),
      itop AS (
        SELECT q_id, vec_id FROM (
          SELECT q_id, vec_id,
                 row_number() OVER (PARTITION BY q_id
                   ORDER BY cosine DESC, vec_id ASC) AS rank
          FROM iscored) WHERE rank <= $K),
      shits AS (
        SELECT b.q_id, count(*) AS h
        FROM btop b JOIN stop t
          ON t.q_id = b.q_id AND t.vec_id = b.vec_id GROUP BY 1),
      ihits AS (
        SELECT b.q_id, count(*) AS h
        FROM btop b JOIN itop t
          ON t.q_id = b.q_id AND t.vec_id = b.vec_id GROUP BY 1)
      SELECT q.q_id,
             CAST(COALESCE(s.h, 0) AS BIGINT) AS srp_hits,
             CAST(COALESCE(s.h, 0) AS DOUBLE) / $K AS srp_recall,
             CAST(COALESCE(i.h, 0) AS BIGINT) AS ivf_hits,
             CAST(COALESCE(i.h, 0) AS DOUBLE) / $K AS ivf_recall
      FROM (SELECT DISTINCT q_id FROM btop) q
      LEFT JOIN shits s USING (q_id)
      LEFT JOIN ihits i USING (q_id)
      ORDER BY q_id""")
  )

  /** Embedding-health report — the ingest check a vector corpus runs
    * before ANN indexing trusts it: per label, the vector count,
    * dimension range (a ragged corpus breaks every dot product),
    * zero-vector count (cosine undefined), non-finite norm count, and
    * the norm range. One narrow map per row (the native codegen'd
    * fvec_dot in its catalog face — norm = √dot(v,v), the same fused
    * loop the ANN queries rank with) into a bounded-key groupBy; every
    * aggregate is order-independent (counts, min/max over per-row
    * values both engines compute bit-identically), so no float-sum
    * accumulation-order drift. */
  val embedHealth: Q = Q(
    "ss_embed_health",
    (s, dir) => {
      graft.GraftExtensions.ensure(s)
      Tables(s, dir, "embeddings")
        .withColumn("norm", expr("sqrt(fvec_dot(embedding, embedding))"))
        .withColumn("d", size(col("embedding")))
        .groupBy("label")
        .agg(count(lit(1)).as("n_vecs"),
          min("d").as("d_min"), max("d").as("d_max"),
          sum(when(col("norm") === 0.0, 1L).otherwise(0L)).as("n_zero"),
          sum(when(col("norm").isNaN ||
            col("norm") === Double.PositiveInfinity, 1L).otherwise(0L))
            .as("n_nonfinite"),
          min("norm").as("min_norm"), max("norm").as("max_norm"))
        .orderBy("label")
    },
    Some(s"""
      WITH n AS (
        SELECT label, CAST(len(embedding) AS INT) AS d,
               ${duckNorm("embedding")} AS norm
        FROM embeddings)
      SELECT label, count(*) AS n_vecs,
             min(d) AS d_min, max(d) AS d_max,
             CAST(sum(CASE WHEN norm = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_zero,
             CAST(sum(CASE WHEN isnan(norm) OR isinf(norm) THEN 1 ELSE 0 END)
               AS BIGINT) AS n_nonfinite,
             min(norm) AS min_norm, max(norm) AS max_norm
      FROM n GROUP BY 1 ORDER BY 1 NULLS FIRST""")
      // NULLS FIRST pins DuckDB's default (NULLS LAST for ASC) to
      // Spark's (nulls first) — the label column is nullable and an
      // unpinned NULL group would diverge the two engines' row order
  )

  /** INT8 QUANTIZATION materialization — the storage-compression pass a
    * 100 TB embedding store runs before serving: each float32 vector
    * reduced to a per-vector max-abs scale plus int8 codes
    * (symmetric round-half-up: floor(x·127/scale + 0.5)), a 4×
    * size cut that brute/IVF probes can consume with one dequant
    * multiply. Codes are emitted as a CSV string because the
    * differential gate compares scalar columns; the bytes are the
    * contract, the container is presentational. Degenerate vectors
    * (all-zero or non-finite scale) quantize to the empty sentinel
    * rather than poisoning the cast — the op stays total.
    *
    * Scale shape: pure per-row array arithmetic — one scan, zero
    * shuffle, codegen'd transforms. Every step (float→double widen,
    * abs, max, one divide, one multiply, floor) is IEEE
    * correctly-rounded, so Spark and DuckDB agree bit-for-bit. */
  val quantizeInt8: Q = Q(
    "ss_quantize_int8",
    (s, dir) =>
      Tables(s, dir, "embeddings")
        .withColumn("scale",
          array_max(transform(col("embedding"), x => abs(x.cast("double")))))
        .withColumn("q",
          when(col("scale") > 0 && !isnan(col("scale")) &&
              col("scale") =!= Double.PositiveInfinity,
            concat_ws(",",
              transform(col("embedding"), x =>
                floor(x.cast("double") * lit(127.0) / col("scale")
                  + lit(0.5)).cast("int").cast("string"))))
            .otherwise(lit("")))
        .select(col("vec_id"), col("scale"), col("q"))
        .orderBy("vec_id"),
    Some("""
      WITH s AS (
        SELECT vec_id, embedding,
               list_max(list_transform(embedding,
                 x -> abs(CAST(x AS DOUBLE)))) AS scale
        FROM embeddings)
      SELECT vec_id, scale,
             CASE WHEN scale > 0 AND isfinite(scale)
                  THEN array_to_string(list_transform(embedding,
                    x -> CAST(CAST(floor(CAST(x AS DOUBLE) * 127.0 / scale
                         + 0.5) AS INTEGER) AS VARCHAR)), ',')
                  ELSE '' END AS q
      FROM s ORDER BY vec_id""")
  )

  /** HYBRID (metadata-filtered) vector search — the filtered-ANN
    * workload every retrieval stack runs: a relational predicate on
    * the document side (language + lexical-diversity floor, the
    * ta_quality gate's terms) restricts the corpus BEFORE any
    * distance work, then exact cosine top-k ranks only the
    * survivors. Pre-filtering (vs post-filtering a top-k) is the
    * semantics that matters: the k results are the best *eligible*
    * vectors, never fewer-than-k leftovers of an unfiltered search.
    *
    * Scale shape: the predicate is evaluated on the documents scan
    * (pushdown-friendly — no embedding bytes move for rejected
    * docs); eligibility joins to the embedding store on the 8-byte
    * id; the query batch stays broadcast. Cost is |eligible|·|Q|,
    * strictly less than brute force by the filter's selectivity. */
  val hybridSearch: Q = Q(
    "ss_hybrid_search",
    (s, dir) => {
      val allowed = Tables(s, dir, "documents")
        .withColumn("toks", split(col("text"), " "))
        .filter(col("lang") === "en" &&
          size(array_distinct(col("toks"))).cast("double")
            / size(col("toks")) >= 0.5)
        .select(col("doc_id").as("vec_id"))
      val emb = Tables(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 3)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      graft.operators.Ann.topkBrute(s, emb.join(allowed, "vec_id"),
        queries, K)
    },
    Some(s"""
      WITH allowed AS (
        SELECT doc_id AS vec_id FROM documents
        WHERE lang = 'en'
          AND CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
              / len(string_split(text, ' ')) >= 0.5),
      q AS (
        SELECT vec_id AS q_id, embedding AS q_emb
        FROM embeddings WHERE vec_id < 3),
      scored AS (
        SELECT q.q_id, e.vec_id,
               ${duckCosine("q.q_emb", "e.embedding")} AS cosine
        FROM embeddings e
        JOIN allowed a USING (vec_id)
        JOIN q ON e.vec_id <> q.q_id),
      ranked AS (
        SELECT q_id, vec_id, cosine,
               row_number() OVER (PARTITION BY q_id
                 ORDER BY cosine DESC, vec_id ASC) AS rank
        FROM scored)
      SELECT q_id, rank, vec_id, cosine FROM ranked
      WHERE rank <= $K ORDER BY q_id, rank""")
  )

  /** PARTITIONED (per-label) top-k — retrieval scoped to the query
    * vector's own label: recommendations within a category, dedup
    * within a shard, neighbors within a language. Structurally the
    * interesting variant: the label scope turns the all-pairs
    * broadcast loop into an EQUI-join on the label key — the probe
    * shuffles once on a bounded key set and each label's work is
    * |label corpus|·|label queries|, the partitioned-ANN pattern that
    * needs no nested-loop allowance at all. Exact within its scope
    * (same fold cosine as ss_topk_brute). */
  val topkPerLabel: Q = Q(
    "ss_topk_per_label",
    (s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 3)
        .select(col("vec_id").as("q_id"), col("label").as("q_label"),
          col("embedding").as("q_emb"))
      val scored = emb
        .join(broadcast(queries),
          col("label") === col("q_label") && col("vec_id") =!= col("q_id"))
        .withColumn("cosine", cosineNative(s, "q_emb", "embedding"))
      val w = Window.partitionBy("q_id")
        .orderBy(col("cosine").desc, col("vec_id").asc)
      scored.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= K)
        .select(col("q_id"), col("rank"), col("vec_id"), col("cosine"))
        .orderBy("q_id", "rank")
    },
    Some(s"""
      WITH q AS (
        SELECT vec_id AS q_id, label AS q_label, embedding AS q_emb
        FROM embeddings WHERE vec_id < 3),
      scored AS (
        SELECT q.q_id, e.vec_id,
               ${duckCosine("q.q_emb", "e.embedding")} AS cosine
        FROM embeddings e
        JOIN q ON e.label = q.q_label AND e.vec_id <> q.q_id),
      ranked AS (
        SELECT q_id, vec_id, cosine,
               row_number() OVER (PARTITION BY q_id
                 ORDER BY cosine DESC, vec_id ASC) AS rank
        FROM scored)
      SELECT q_id, rank, vec_id, cosine FROM ranked
      WHERE rank <= $K ORDER BY q_id, rank""")
  )

  /** One subspace's oracle chain: slice → id-ordered seeds → one
    * integer-scaled Lloyd step (the `lloydStepCte` shapes, renamed
    * per subspace) → encode with the refined codebook → per-vector
    * sub-reconstruction. `lo`/`hi` are DuckDB list_slice's inclusive
    * 1-based bounds. */
  private def pqSubspaceCtes(j: Int, lo: Int, hi: Int): String = s"""
      pe$j AS (
        SELECT vec_id, list_slice(embedding, $lo, $hi) AS embedding
        FROM embeddings),
      pcents${j}0 AS (
        SELECT vec_id AS c_id, embedding AS c_emb
        FROM pe$j WHERE vec_id < 16),
      psc$j AS (
        SELECT e.vec_id, e.embedding, c.c_id,
               ${duckCosine("e.embedding", "c.c_emb")} AS c_cos
        FROM pe$j e, pcents${j}0 c),
      pa$j AS (
        SELECT vec_id, embedding, c_id AS cell FROM (
          SELECT *, row_number() OVER (PARTITION BY vec_id
            ORDER BY c_cos DESC, c_id ASC) AS rn
          FROM psc$j) WHERE rn = 1),
      pd$j AS (
        SELECT cell, unnest(range(1, len(embedding)+1)) AS idx,
               unnest(embedding) AS x
        FROM pa$j),
      ps$j AS (
        SELECT cell, idx,
               sum(CAST(round(CAST(x AS DOUBLE) * 1048576.0) AS BIGINT)) AS s,
               count(*) AS n
        FROM pd$j GROUP BY 1, 2),
      pcents$j AS (
        SELECT c0.c_id,
               CASE WHEN count(sm.idx) = 0 THEN first(c0.c_emb)
                    ELSE list(CAST((CAST(sm.s AS DOUBLE) / sm.n)
                                   / 1048576.0 AS FLOAT) ORDER BY sm.idx)
               END AS c_emb
        FROM pcents${j}0 c0 LEFT JOIN ps$j sm ON sm.cell = c0.c_id
        GROUP BY c0.c_id),
      pscE$j AS (
        SELECT e.vec_id, c.c_id,
               ${duckCosine("e.embedding", "c.c_emb")} AS c_cos
        FROM pe$j e, pcents$j c),
      penc$j AS (
        SELECT vec_id, c_id AS code FROM (
          SELECT *, row_number() OVER (PARTITION BY vec_id
            ORDER BY c_cos DESC, c_id ASC) AS rn
          FROM pscE$j) WHERE rn = 1),
      prec$j AS (
        SELECT a.vec_id, c.c_emb
        FROM penc$j a JOIN pcents$j c ON c.c_id = a.code)"""

  /** Product-quantization top-k — the memory-compression side of ANN
    * (`operators.Ann.pqCodebooks/pqEncode/pqReconstruct`): the 64-dim
    * embedding splits into 4 subspaces, each trains a 16-centroid
    * codebook with the same id-seeded integer-scaled Lloyd machinery
    * as IVF, and every corpus vector is stored as FOUR small codes
    * (16⁴ = 65 536 reconstruction classes). Queries stay exact and score
    * against the per-code reconstructions (asymmetric distance), so
    * the whole search runs on the compressed representation — at
    * 100 TB the codes + a shared codebook fit where the raw vectors
    * never could (here: 256 B/vector → 4 codes; production: 64–96
    * subspaces × 256 centroids). Training, encoding, and scoring are
    * all deterministic, so the oracle replays the full pipeline —
    * codebooks, codes, reconstructions, ranks — bit-for-bit.
    *
    * Scale: codebook training is the IVF planning-class round-trip
    * per subspace; encode is a narrow per-row argmax (no shuffle —
    * pinned in SimilaritySpec); scoring is |Q|·N embarrassingly
    * parallel over the compressed corpus with the query batch
    * broadcast. */
  val topkPq: Q = Q(
    "ss_topk_pq",
    (s, dir) => {
      import graft.operators.Ann
      val emb = Tables(s, dir, "embeddings")
      val books = Ann.pqCodebooks(s, emb, m = 4, ksub = 16, dims = 64,
        steps = 1)
      val recon = Ann.pqReconstruct(
        Ann.pqEncode(emb, books, dims = 64), books)
      val queries = emb.filter(col("vec_id") < 3)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      val wRank = Window.partitionBy("q_id")
        .orderBy(col("cosine").desc, col("vec_id").asc)
      recon
        .join(broadcast(queries), col("vec_id") =!= col("q_id"))
        .withColumn("cosine", cosineNative(s, "q_emb", "recon"))
        .withColumn("rank", row_number().over(wRank))
        .filter(col("rank") <= K)
        .select(col("q_id"), col("rank"), col("vec_id"), col("cosine"))
        .orderBy("q_id", "rank")
    },
    Some(s"""
      WITH ${pqSubspaceCtes(0, 1, 16)},
      ${pqSubspaceCtes(1, 17, 32)},
      ${pqSubspaceCtes(2, 33, 48)},
      ${pqSubspaceCtes(3, 49, 64)},
      precon AS (
        SELECT r0.vec_id,
               list_concat(list_concat(r0.c_emb, r1.c_emb),
                           list_concat(r2.c_emb, r3.c_emb)) AS recon
        FROM prec0 r0 JOIN prec1 r1 USING (vec_id)
                      JOIN prec2 r2 USING (vec_id)
                      JOIN prec3 r3 USING (vec_id)),
      pquery AS (
        SELECT vec_id AS q_id, embedding AS q_emb
        FROM embeddings WHERE vec_id < 3),
      pscored AS (
        SELECT q.q_id, r.vec_id,
               ${duckCosine("q.q_emb", "r.recon")} AS cosine
        FROM precon r JOIN pquery q ON r.vec_id <> q.q_id),
      pranked AS (
        SELECT q_id, vec_id, cosine,
               row_number() OVER (PARTITION BY q_id
                 ORDER BY cosine DESC, vec_id ASC) AS rank
        FROM pscored)
      SELECT q_id, rank, vec_id, cosine FROM pranked
      WHERE rank <= $K ORDER BY q_id, rank""")
  )

  /** Clustering-quality report over the IVF cells — the health check a
    * team runs before trusting an index: per cell, member count, the
    * summed member→own-centroid cosine quantized to exact integer
    * millionths (double sums are order-dependent across partitions;
    * the e6-quantized sum is not), and the cell's worst member fit
    * (min of doubles — order-independent). Unbalanced cells and low
    * worst-fit cells are exactly where probe recall degrades, so this
    * face is the observability half of the ss_topk_ivf pair. The
    * centroids are the same 2-step integer-scaled Lloyd machinery the
    * probe faces use, so the oracle replays the full train → assign →
    * report pipeline bit-for-bit.
    *
    * Scale (100 TB): assignment is the narrow literal-centroid argmax
    * (no join, no shuffle); the report is one map-side-combined
    * aggregate to k rows. */
  val clusterReport: Q = Q(
    "ss_cluster_report",
    (s, dir) => {
      import graft.operators.Ann
      val emb = Tables(s, dir, "embeddings")
      val cents1 = Ann.ivfCentroids(s, emb, 8, steps = IvfSteps)
      Ann.ivfAssignScored(emb, cents1)
        .groupBy("cell")
        .agg(count(lit(1)).as("n_members"),
          sum(round(col("fit") * 1000000).cast("long")).as("fit_e6"),
          min("fit").as("worst_fit"))
        .orderBy("cell")
    },
    Some(s"""
      WITH ${ivfDuckCtes(1)},
      own AS (
        SELECT vec_id, c_id AS cell, c_cos FROM (
          SELECT *, row_number() OVER (PARTITION BY vec_id
            ORDER BY c_cos DESC, c_id ASC) AS rn
          FROM scored_cells) WHERE rn = 1)
      SELECT cell, count(*) AS n_members,
             CAST(sum(CAST(round(c_cos * 1000000) AS BIGINT)) AS BIGINT)
               AS fit_e6,
             min(c_cos) AS worst_fit
      FROM own GROUP BY 1 ORDER BY 1""")
  )

  /** IVF+PQ top-k — the two scale levers COMPOSED the way a production
    * index composes them (the FAISS IVFPQ layout): the IVF coarse
    * quantizer prunes the search to nprobe=2 cells per query, and
    * inside those cells scoring runs against the PQ-RECONSTRUCTED
    * corpus (4×16 codebooks, 16 bytes/vector) instead of the raw
    * floats — queries stay exact (asymmetric distance). Both halves
    * are the already-certified kernels ([[topkIvf2]]'s probe,
    * [[topkPq]]'s codebooks); the composition is what's new, and the
    * index row is (vec_id, cell, codes) built in ONE narrow chain: the
    * cell assignment rides through the PQ encoder packed in a struct
    * id, so corpus vectors are scanned once and never joined back to
    * themselves — at 100 TB the index build is a single pass and the
    * probe reads 16-byte codes, not 256-byte vectors.
    *
    * Scale (100 TB): probe cost = |Q|·nprobe·(corpus/k cells) rows of
    * 16-byte codes; reconstruction is a literal-map lookup (no
    * codebook join); ranking shuffles only the map-side-pruned top-k
    * candidates per query. */
  val topkIvfPq: Q = Q(
    "ss_topk_ivfpq",
    (s, dir) => {
      import graft.operators.Ann
      val emb = Tables(s, dir, "embeddings")
      val cents1 = Ann.ivfCentroids(s, emb, 8, steps = IvfSteps)
      val books = Ann.pqCodebooks(s, emb, m = 4, ksub = 16, dims = 64,
        steps = 1)
      // one-pass index: assign the cell, then thread (vec_id, cell)
      // through the PQ encoder as a struct id (pqEncode keeps only its
      // id column + codes — the struct carries both without a re-join)
      val indexed = Ann.pqEncode(
        Ann.ivfAssign(emb, cents1)
          .withColumn("vid_cell", struct(col("vec_id"), col("cell"))),
        books, dims = 64, idCol = "vid_cell")
      val recon = Ann.pqReconstruct(indexed, books)
        .select(col("vid_cell.vec_id").as("vec_id"),
          col("vid_cell.cell").as("cell"), col("recon"))
      val queries = Ann.ivfProbeCells(
        emb.filter(col("vec_id") < 3), cents1, nprobe = 2)
      val wRank = Window.partitionBy("q_id")
        .orderBy(col("cosine").desc, col("vec_id").asc)
      recon
        .join(broadcast(queries),
          col("cell") === col("q_cell") && col("vec_id") =!= col("q_id"))
        .withColumn("cosine", cosineNative(s, "q_emb", "recon"))
        .withColumn("rank", row_number().over(wRank))
        .filter(col("rank") <= K)
        .select(col("q_id"), col("rank"), col("vec_id"), col("cosine"))
        .orderBy("q_id", "rank")
    },
    Some(s"""
      WITH ${ivfDuckCtes(2)},
      ${pqSubspaceCtes(0, 1, 16)},
      ${pqSubspaceCtes(1, 17, 32)},
      ${pqSubspaceCtes(2, 33, 48)},
      ${pqSubspaceCtes(3, 49, 64)},
      precon AS (
        SELECT r0.vec_id,
               list_concat(list_concat(r0.c_emb, r1.c_emb),
                           list_concat(r2.c_emb, r3.c_emb)) AS recon
        FROM prec0 r0 JOIN prec1 r1 USING (vec_id)
                      JOIN prec2 r2 USING (vec_id)
                      JOIN prec3 r3 USING (vec_id)),
      ipq AS (
        SELECT iq.q_id, a.vec_id,
               ${duckCosine("iq.q_emb", "r.recon")} AS cosine
        FROM assigned a
        JOIN iq ON a.cell = iq.q_cell AND a.vec_id <> iq.q_id
        JOIN precon r ON r.vec_id = a.vec_id),
      ipqranked AS (
        SELECT q_id, vec_id, cosine,
               row_number() OVER (PARTITION BY q_id
                 ORDER BY cosine DESC, vec_id ASC) AS rank
        FROM ipq)
      SELECT q_id, rank, vec_id, cosine FROM ipqranked
      WHERE rank <= $K ORDER BY q_id, rank""")
  )

  /** Semantic dedup (SemDeDup, Abbas et al. 2023 — public) — the
    * embedding-space complement of the token-level MinHash family:
    * k-means-cluster the corpus embeddings, then prune near-duplicate
    * pairs WITHIN each cluster only, which is what makes the method
    * tractable (pair generation costs Σ cell², never corpus² — the
    * same banding argument as LSH, with the clusters as data-adaptive
    * bands). A vector is dropped when some same-cell neighbor at
    * cosine ≥ 0.3 ranks ahead of it under the paper's keep rule —
    * keep the member FARTHEST from the centroid (lowest fit;
    * vec_id breaks exact fit ties), retaining the cluster's most
    * peripheral, most diverse exemplars. Output labels every vector
    * keep/drop with its cell and e6-quantized fit so the face doubles
    * as the audit report.
    *
    * Centroids are the certified 2-step Lloyd kernel shared with the
    * IVF faces; fits and pair cosines are bit-identical across
    * engines (VectorFns), so the keep/drop partition hash-matches
    * exactly.
    *
    * Scale (100 TB): assignment is the narrow literal-centroid argmax
    * (no shuffle); the pair join shuffles once on cell with
    * Σ cell²-bounded work; the drop set joins back by vec_id. The
    * oracle states the same semantics over the replayed Lloyd
    * pipeline. */
  val semanticDedup: Q = Q(
    "dd_semantic_dedup",
    (s, dir) => {
      import graft.operators.{Ann, CacheScope}
      val emb = Tables(s, dir, "embeddings")
      val cents1 = Ann.ivfCentroids(s, emb, 8, steps = IvfSteps)
      val centMap = typedLit(
        cents1.map { case (id, v) => id -> v.toSeq }.toMap)
      // persisted lazily once: the cell self-join reads own twice and
      // the verdict projection a third time (the embedSrp discipline)
      val own = Ann.ivfAssign(emb, cents1)
        .withColumn("c_emb", element_at(centMap, col("cell")))
        .withColumn("fit", cosineNative(s, "embedding", "c_emb"))
        .select("vec_id", "embedding", "cell", "fit")
        .persist()
      val a = own.select(col("vec_id").as("x_id"),
        col("embedding").as("xe"), col("cell"), col("fit").as("x_fit"))
      val b = own.select(col("vec_id").as("y_id"),
        col("embedding").as("ye"), col("cell").as("y_cell"),
        col("fit").as("y_fit"))
      val dropped = a.join(b,
          col("cell") === col("y_cell") && col("x_id") =!= col("y_id") &&
            (col("y_fit") < col("x_fit") ||
              (col("y_fit") === col("x_fit") &&
                col("y_id") < col("x_id"))))
        .withColumn("cos", cosineNative(s, "xe", "ye"))
        .filter(col("cos") >= 0.3)
        .select(col("x_id").as("vec_id")).distinct()
        .withColumn("is_drop", lit(1))
      val result = own.join(dropped, Seq("vec_id"), "left")
        .select(col("vec_id"), col("cell"),
          round(col("fit") * 1000000).cast("long").as("fit_e6"),
          when(col("is_drop").isNull, "keep").otherwise("drop")
            .as("verdict"))
        .orderBy("vec_id")
      CacheScope.eval(result)(own)
    },
    Some(s"""
      WITH ${ivfDuckCtes(1)},
      own2 AS (
        SELECT vec_id, embedding, c_id AS cell, c_cos AS fit FROM (
          SELECT *, row_number() OVER (PARTITION BY vec_id
            ORDER BY c_cos DESC, c_id ASC) AS rn
          FROM scored_cells) WHERE rn = 1),
      sdropped AS (
        SELECT DISTINCT x.vec_id
        FROM own2 x JOIN own2 y
          ON x.cell = y.cell AND x.vec_id <> y.vec_id
         AND (y.fit < x.fit
              OR (y.fit = x.fit AND y.vec_id < x.vec_id))
        WHERE ${duckCosine("x.embedding", "y.embedding")} >= 0.3)
      SELECT o.vec_id, o.cell,
             CAST(round(o.fit * 1000000) AS BIGINT) AS fit_e6,
             CASE WHEN d.vec_id IS NULL THEN 'keep' ELSE 'drop' END
               AS verdict
      FROM own2 o LEFT JOIN sdropped d ON o.vec_id = d.vec_id
      ORDER BY o.vec_id""")
  )

  /** Radius (range) search — the OTHER retrieval API next to top-k:
    * every corpus vector within cosine ≥ 0.25 of each query, however
    * many or few there are. Top-k answers "the best k whatever their
    * quality"; range search answers "everything above a quality bar"
    * — the right call for dedup-style gates (cf. dd_semantic_dedup's
    * τ) and recall-sensitive retrieval where a fixed k truncates.
    * Runs over the same certified IVF machinery as [[topkIvf2]]
    * (nprobe=2 probe cells, bit-identical cosines), so the only new
    * code is the predicate: no rank window at all — the result is
    * filter-bounded, not k-bounded, and the plan has no top-k sort.
    *
    * Scale (100 TB): probe cost identical to ss_topk_ivf2; output is
    * bounded by the radius selectivity — the face to prefer when k
    * would be either truncating (dense neighborhoods) or padding
    * (sparse ones). */
  val rangeSearch: Q = Q(
    "ss_range_search",
    (s, dir) => {
      import graft.operators.Ann
      val emb = Tables(s, dir, "embeddings")
      val cents1 = Ann.ivfCentroids(s, emb, 8, steps = IvfSteps)
      val assigned = Ann.ivfAssign(emb, cents1)
      val queries = Ann.ivfProbeCells(
        emb.filter(col("vec_id") < 3), cents1, nprobe = 2)
      assigned
        .join(broadcast(queries),
          col("cell") === col("q_cell") && col("vec_id") =!= col("q_id"))
        .withColumn("cosine", cosineNative(s, "q_emb", "embedding"))
        .filter(col("cosine") >= 0.25)
        .select(col("q_id"), col("vec_id"), col("cosine"))
        .orderBy("q_id", "vec_id")
    },
    Some(s"""
      WITH ${ivfDuckCtes(2)}
      SELECT q_id, vec_id, cosine FROM iscored
      WHERE cosine >= 0.25 ORDER BY q_id, vec_id""")
  )

  /** Lloyd convergence report — [[IvfSteps]]' "the catalog stops
    * where the recall report stops improving" claim, MEASURED: per
    * centroid, the e6-quantized cosine alignment between its step-1
    * and step-2 versions. Alignment ≈ 1e6 everywhere = the second
    * step barely moved anything and a third would buy less — the
    * one-table justification for freezing the training depth. Both
    * trainings are the certified distributed kernel (each step a
    * corpus pass with integer-scaled sums); the 8-row comparison is
    * driver-side planning-class arithmetic replicating the fvec_dot
    * fold and Spark's HALF_UP rounding exactly, so the oracle — the
    * same two Lloyd chains replayed — hash-matches bit-for-bit.
    *
    * Scale (100 TB): two training passes (shared in production),
    * k rows of driver math — nothing else. */
  val centroidDrift: Q = Q(
    "ss_centroid_drift",
    (s, dir) => {
      import graft.operators.Ann
      val emb = Tables(s, dir, "embeddings")
      val c1 = Ann.ivfCentroids(s, emb, 8, steps = 1)
      // the deeper chain RESUMES from c1 (identical math — step
      // IvfSteps's input is exactly step 1's output), so the face
      // costs IvfSteps corpus passes, not 1 + IvfSteps (r11 advice)
      val c2 = Ann.ivfCentroidsFrom(s, emb, c1, IvfSteps - 1).toMap
      val rows = c1.toSeq.map { case (id, v1) =>
        (id, alignE6(v1, c2(id)))
      }
      import s.implicits._
      rows.toDF("cell", "align_e6").orderBy("cell")
    },
    Some(s"""
      WITH ${ivfDuckCtes(1)}
      SELECT a.c_id AS cell,
             CAST(round(${duckCosine("a.c_emb", "b.c_emb")} * 1000000)
               AS BIGINT) AS align_e6
      FROM cents1 a JOIN cents$IvfSteps b ON a.c_id = b.c_id
      ORDER BY cell""")
      // cents$IvfSteps, not a hardcoded cents2: the Spark side
      // compares step 1 against step IvfSteps, and the IvfSteps
      // scaladoc promises both sides derive from the constant
  )

  /** e6-quantized cosine alignment between two float vectors —
    * driver-side planning-class math replicating the fvec_dot fold
    * and Spark's HALF_UP rounding exactly, so the DuckDB oracles'
    * `round(cosine * 1e6)` hash-matches bit-for-bit. Shared by
    * `ss_centroid_drift` and `ss_ivf_append`. */
  private[graft] def alignE6(a: Array[Float], b: Array[Float]): Long = {
    def dot(x: Array[Float], y: Array[Float]): Double = {
      var acc = 0.0
      var i = 0
      val n = math.min(x.length, y.length)
      while (i < n) { acc += x(i).toDouble * y(i).toDouble; i += 1 }
      acc
    }
    val cos = dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))
    java.math.BigDecimal.valueOf(cos * 1000000)
      .setScale(0, java.math.RoundingMode.HALF_UP).longValueExact()
  }

  /** INCREMENTAL index maintenance — the vector-side analogue of
    * `dd_incremental`'s daily-crawl pattern (r11 "What's missing" #1):
    * the serving centroids were trained on the resident corpus
    * (vec_id % 7 ≠ 0 — the `dd_incremental` split idiom); a new crawl
    * batch (vec_id % 7 = 0) is assigned to those EXISTING cells by the
    * narrow argmax — no retrain, no Lloyd pass; at 100 TB re-running
    * Lloyd per batch is exactly what a pipeline cannot afford. The
    * report is the retrain GATE: per cell, resident size, appended
    * size, and the e6 alignment between the serving centroid and the
    * would-be centroid after ONE Lloyd step over the augmented corpus
    * — alignment ≈ 1e6 everywhere means the append barely moved the
    * cells and the index keeps serving; a drifted cell is the
    * retrain trigger (then [[Ann.ivfCentroidsFrom]] resumes from the
    * serving centroids instead of re-seeding). The physical append —
    * bucketed-table files probing identically to a from-scratch build
    * — is [[Ann.appendIvfIndex]], pinned in SimilaritySpec.
    *
    * Scale (100 TB): batch assignment is narrow (broadcast literal
    * centroids); the gate costs one counting pass and one Lloyd pass
    * over the union — both linear, both shared with the retrain if it
    * then fires; k rows of driver math. */
  val ivfAppend: Q = Q(
    "ss_ivf_append",
    (s, dir) => {
      import graft.operators.Ann
      val emb = Tables(s, dir, "embeddings")
      val base = emb.filter(col("vec_id") % 7 =!= 0)
      // k=10 seeds from the resident split: ids {1..6, 8, 9} — 8 cells
      val cents = Ann.ivfCentroids(s, base, 10, steps = IvfSteps)
      val counts = Ann.ivfAssign(emb, cents)
        .groupBy("cell")
        .agg(sum(when(col("vec_id") % 7 =!= 0, 1L).otherwise(0L))
          .as("n_base"),
          sum(when(col("vec_id") % 7 === 0, 1L).otherwise(0L))
            .as("n_new"))
      val updated = Ann.ivfCentroidsFrom(s, emb, cents, steps = 1).toMap
      val align = cents.toSeq.map { case (id, v1) =>
        (id, alignE6(v1, updated(id)))
      }
      import s.implicits._
      align.toDF("cell", "align_e6")
        .join(counts, Seq("cell"), "left")
        .select(col("cell"),
          coalesce(col("n_base"), lit(0L)).as("n_base"),
          coalesce(col("n_new"), lit(0L)).as("n_new"),
          col("align_e6"))
        .orderBy("cell")
    },
    Some(s"""
      WITH b_corpus AS (
        SELECT vec_id, embedding FROM embeddings WHERE vec_id % 7 <> 0),
      apcents0 AS (
        SELECT vec_id AS c_id, embedding AS c_emb
        FROM b_corpus WHERE vec_id < 10),
      ${(1 to IvfSteps)
        .map(lloydStepCte(_, "b_corpus", "ap")).mkString(",")},
      ${lloydStepCte(IvfSteps + 1, "embeddings", "ap")},
      nb AS (
        SELECT cell,
               sum(CASE WHEN vec_id % 7 <> 0 THEN 1 ELSE 0 END) AS n_base,
               sum(CASE WHEN vec_id % 7 = 0 THEN 1 ELSE 0 END) AS n_new
        FROM apia${IvfSteps + 1} GROUP BY 1)
      SELECT c.c_id AS cell,
             CAST(coalesce(nb.n_base, 0) AS BIGINT) AS n_base,
             CAST(coalesce(nb.n_new, 0) AS BIGINT) AS n_new,
             CAST(round(${duckCosine("c.c_emb", "u.c_emb")} * 1000000)
               AS BIGINT) AS align_e6
      FROM apcents$IvfSteps c
      JOIN apcents${IvfSteps + 1} u ON c.c_id = u.c_id
      LEFT JOIN nb ON nb.cell = c.c_id
      ORDER BY cell""")
  )

  /** SPARSE LEXICAL RETRIEVAL — BM25 top-k over an inverted-index
    * join (r12): the lexical complement of the dense `ss_topk_*`
    * family, and the operator behind decontamination-by-retrieval and
    * hard-negative mining. Terms are the dd_* family's 2-shingles
    * (adjacent-token word bigrams — the fixture's unigram vocabulary
    * is ~30 tokens with df ≈ 0.8N, so unigrams carry no idf signal;
    * real decontamination retrieval uses word n-grams for the same
    * reason). Query bag = the DISTINCT 2-shingles of every 250th
    * document, searched against the whole corpus minus the query doc
    * itself.
    *
    * Shape (the scale story): postings are the (token, doc, tf)
    * aggregate of one tokenize pass — the inverted index as a
    * DataFrame; query terms equi-join the postings on the TERM key,
    * so per-query cost is Σ posting-list length over its terms, never
    * |corpus|. The rare-term cap (df·20 ≤ N) is impact-style pruning:
    * it drops stopword-grade terms whose posting lists are both
    * longest and least informative, bounding join fan-out — at 100 TB
    * the df table IS the tuning observability, same role as
    * `dd_lsh_bucket_stats`. Corpus stats attach as a broadcast 1-row
    * aggregate at the VOCABULARY grain (the `ta_heavy_hitters`
    * scalar-attach pattern — here it folds into the downstream
    * equi-join and never plans a nested loop; the sibling
    * `ss_bm25_index_stats`, which aggregates straight off the attach,
    * carries the PlanAuditSpec allowlist entry); the
    * per-query top-10 is a rank window on the ≤ |matched docs| scored
    * rows, partitioned by query — never a global sort.
    *
    * Exactness (Okapi k1 = 1.2, b = 0.75 as exact rationals): with
    * avgdl frozen to exact floor millis `A = (1000·ΣT) div N`, each
    * matched term contributes
    * `floor(idf_b · 22000 · tf · A / (10·A·tf + 3·A + 9000·dl))`
    * milli-points — numerator/denominator are the real BM25 term
    * (2.2·tf)/(tf + 1.2·(0.25 + 0.75·dl/avgdl)) multiplied through by
    * 10·A, so the integer result is the true score floored per term.
    * idf is the repo's whole-bit floor-log2 (`ta_unigram_surprisal`
    * idiom): `idf_b = length(bin((2N − 2df + 1) div (2df + 1))) − 1`,
    * the Robertson–Spärck Jones idf in whole bits, which bin('0')
    * clamps to 0 exactly where BM25's idf goes negative (df ≳ N/2).
    * All BIGINT-bounded at ANY corpus size: the numerator is
    * ≤ idf_b·22000·tf·A — independent of corpus token count, unlike
    * the naive ·ΣT scaling which overflows past ~10¹³ tokens.
    * Ranking ties break on doc_id, so ranks hash-match.
    *
    * Shared by `ss_bm25_topk` and `ss_rrf_fusion` (and pinned on
    * synthetic corpora by SimilaritySpec): returns (per-query top-10
    * with scores — q_id, rnk, doc_id, score_milli, n_terms —
    * unordered across queries) plus the persisted postings table the
    * caller must release via `CacheScope.eval`. Queries are the docs
    * matching `queryPred` on doc_id. */
  private[graft] def bm25Ranked(docsT: DataFrame,
      queryPred: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
        _ % 250 === 0,
      dfCapDen: Int = 20)
      : (DataFrame, DataFrame) = {
    // instance-grain 2-shingles, the dd_* convention — same term
    // definition as the incremental index path (operators.Lexical,
    // `ss_bm25_append`). The postings here carry the doc length as a
    // COLUMN (dl = size(__l) − 1, the gram-instance count — exactly
    // Σtf per doc): the scorer then never aggregates the postings by
    // doc_id NOR joins a doc-length table back on doc_id — at corpus
    // scale those were a full postings shuffle and a corpus-sized
    // equi-join the plain (doc, token, tf) form forced on every
    // rebuild (r20; the maintained-index path keeps its separate dl
    // table because a probe cannot re-derive lengths from a batch).
    val gramsOf = graft.operators.Lexical.GramsOf
    val tf = docsT
      .select(col("doc_id"), split(col("text"), " ").as("__l"))
      .select(col("doc_id"),
        (size(col("__l")) - 1).cast("long").as("dl"),
        explode(expr(gramsOf)).as("token"))
      .groupBy("doc_id", "token")
      .agg(count(lit(1)).as("tf"), max("dl").as("dl"))
      .persist()
    // corpus scalars in ONE pass over the cached postings: docs with
    // ≥1 posting, and Σdl = Σtf (each instance counts once)
    val stats = tf.agg(
      countDistinct(col("doc_id")).as("n_docs"),
      expr("(1000 * sum(tf)) div count(distinct doc_id)").as("avgdl_m"))
    val idf = tf.groupBy("token").agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(stats))
      .withColumn("idf_b", expr(
        "length(bin((2*n_docs - 2*df + 1) div (2*df + 1))) - 1"))
    val qterms = docsT.filter(queryPred(col("doc_id")))
      .select(col("doc_id").as("q_id"),
        split(col("text"), " ").as("__l"))
      .select(col("q_id"),
        explode(array_distinct(expr(gramsOf))).as("token"))
      .join(idf, "token")
      .filter(col("df") * dfCapDen <= col("n_docs"))
      .select("q_id", "token", "idf_b", "avgdl_m")
    // ONE exchange for the whole scoring tail (the rankedFromIndex
    // r20 discipline): hash-partitioning the hits by q_id clusters
    // every (q_id, doc_id) pair — satisfying the pair aggregation —
    // and is exactly the window's partitioning, so the aggregate and
    // the top-k window both run exchange-free above it. The trade
    // (no map-side combine on the pair aggregate) is small: a (q,
    // doc) pair holds at most a handful of term contributions.
    val scored = qterms.join(tf, "token")
      .filter(col("doc_id") =!= col("q_id"))
      .withColumn("contrib", expr(
        "(idf_b * 22000 * tf * avgdl_m) div " +
          "(10 * avgdl_m * tf + 3 * avgdl_m + 9000 * dl)"))
      .repartition(col("q_id"))
      .groupBy("q_id", "doc_id")
      .agg(sum("contrib").as("score_milli"),
        count(lit(1)).as("n_terms"))
    val w = Window.partitionBy("q_id")
      .orderBy(col("score_milli").desc, col("doc_id"))
    val ranked = scored
      .withColumn("rnk", row_number().over(w).cast("long"))
      // K, not an inline 10: ss_rrf_fusion fuses this lexical list
      // with the dense top-K — a K change must move both lists or the
      // fusion silently skews toward one retriever
      .filter(col("rnk") <= K)
      .select("q_id", "rnk", "doc_id", "score_milli", "n_terms")
    (ranked, tf)
  }

  /** The BM25 oracle WITH-chain (tok → tf → dl → st → idf → qt → sc
    * → rk) shared by both lexical faces; `rk` holds every query's
    * full ranking. */
  private val bm25Ctes = """tok AS (
        SELECT doc_id,
               unnest(list_transform(l[1:len(l)-1],
                 (x, i) -> x || ' ' || l[i+1])) AS token
        FROM (SELECT doc_id, string_split(text, ' ') AS l
              FROM documents)),
      tf AS (
        SELECT doc_id, token, count(*) AS tf
        FROM tok GROUP BY 1, 2),
      dl AS (
        SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY 1),
      st AS (
        SELECT count(*) AS n_docs,
               (1000 * CAST(sum(dl) AS BIGINT)) // count(*) AS avgdl_m
        FROM dl),
      idf AS (
        SELECT f.token, f.df, s.n_docs, s.avgdl_m,
               length(bin((2*s.n_docs - 2*f.df + 1) // (2*f.df + 1)))
                 - 1 AS idf_b
        FROM (SELECT token, count(*) AS df FROM tf GROUP BY 1) f, st s),
      qt AS (
        SELECT DISTINCT q.q_id, q.token, i.idf_b, i.avgdl_m
        FROM (SELECT doc_id AS q_id,
                     unnest(list_transform(l[1:len(l)-1],
                       (x, i) -> x || ' ' || l[i+1])) AS token
              FROM (SELECT doc_id, string_split(text, ' ') AS l
                    FROM documents WHERE doc_id % 250 = 0)) q
        JOIN idf i ON i.token = q.token
        WHERE i.df * 20 <= i.n_docs),
      sc AS (
        SELECT qt.q_id, f.doc_id,
               CAST(sum((qt.idf_b * 22000 * f.tf * qt.avgdl_m) //
                   (10 * qt.avgdl_m * f.tf + 3 * qt.avgdl_m
                    + 9000 * d.dl)) AS BIGINT) AS score_milli,
               count(*) AS n_terms
        FROM qt
        JOIN tf f ON f.token = qt.token AND f.doc_id <> qt.q_id
        JOIN dl d ON d.doc_id = f.doc_id
        GROUP BY 1, 2),
      rk AS (
        SELECT q_id, doc_id, score_milli, n_terms,
               CAST(row_number() OVER (PARTITION BY q_id
                 ORDER BY score_milli DESC, doc_id) AS BIGINT) AS rnk
        FROM sc)"""

  /** Catalog face of [[bm25Ranked]] — the ordered per-query top-10. */
  val bm25Topk: Q = Q(
    "ss_bm25_topk",
    (s, dir) => {
      import graft.operators.CacheScope
      val (ranked, tf) = bm25Ranked(Tables(s, dir, "documents"))
      CacheScope.eval(ranked.orderBy("q_id", "rnk"))(tf)
    },
    Some(s"""
      WITH $bm25Ctes
      SELECT q_id, rnk, doc_id, score_milli, n_terms
      FROM rk WHERE rnk <= 10 ORDER BY q_id, rnk""")
  )

  /** HYBRID RANK FUSION — reciprocal-rank fusion (Cormack et al.
    * 2009, the standard hybrid-retrieval combiner) of the BM25
    * lexical top-10 with the exact dense-cosine top-10, for the query
    * docs that exist in BOTH stores (vec_id ≡ doc_id, the
    * `ss_hybrid_search` convention). Each list contributes
    * `1000000 div (60 + rank)` micro-points — the published k = 60
    * as exact integer floor, so fused scores hash cross-engine. The
    * two lists become contribution rows (q_id, doc_id, points, one
    * provenance flag each), their union is repartitioned once by
    * q_id, and one (q_id, doc_id) aggregate sums the points and takes
    * the max of each flag: a doc in both lists merges into one row
    * scoring both contributions, a doc in one list scores only that
    * one. The fused top-10 per query is ranked by a window over the
    * same q_id partitioning. Output carries in_lex/in_dense
    * provenance flags: the report ALSO measures how much the two
    * retrievers agree, the observability a hybrid deployment tunes on.
    *
    * Scale shape: both input rankings are per-query top-10, so the
    * fusion aggregates ≤ 20·|Q| contribution rows with one exchange —
    * fusion cost is rank-list-sized regardless of corpus size; the
    * expensive parts are the certified BM25 and brute pipelines it
    * composes. */
  val rrfFusion: Q = Q(
    "ss_rrf_fusion",
    (s, dir) => {
      import graft.operators.Ann
      val emb = Tables(s, dir, "embeddings")
      val (lexAll, tf) = bm25Ranked(Tables(s, dir, "documents"))
      val lex = lexAll.join(
        emb.select(col("vec_id").as("q_id")), Seq("q_id"), "left_semi")
        .select(col("q_id"), col("doc_id"), col("rnk").as("l_rnk"))
      val dq = emb.filter(col("vec_id") % 250 === 0)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      val dense = Ann.topkBrute(s, emb, dq, K)
        .select(col("q_id"), col("vec_id").as("doc_id"),
          col("rank").cast("long").as("d_rnk"))
      // fusion by UNION + one q_id repartition + pair aggregate, not a
      // (q_id, doc_id) full-outer join (r21 verdict #4): row-identical —
      // a doc present in both lists merges to one row whose rrf_micro
      // is the sum of its two contributions and whose flags are the max
      // of the per-list flags, exactly the join's coalesce arithmetic —
      // but the join form paid THREE exchanges for the tiny rank lists
      // (Spark requires ALL join keys for co-partitioning, so both
      // q_id-partitioned windows re-exchanged on (q_id, doc_id), then
      // the fusion window exchanged back to q_id). The single q_id
      // repartition satisfies the pair aggregate's clustering (subset
      // rule) AND is exactly the fusion window's partitioning — the
      // bm25Ranked scoring-tail discipline applied to the fusion tail.
      val fused = lex
        .select(col("q_id"), col("doc_id"),
          expr("1000000 div (60 + l_rnk)").as("c"),
          lit(1L).as("in_lex"), lit(0L).as("in_dense"))
        .unionByName(dense.select(col("q_id"), col("doc_id"),
          expr("1000000 div (60 + d_rnk)").as("c"),
          lit(0L).as("in_lex"), lit(1L).as("in_dense")))
        .repartition(col("q_id"))
        .groupBy("q_id", "doc_id")
        .agg(sum("c").as("rrf_micro"), max("in_lex").as("in_lex"),
          max("in_dense").as("in_dense"))
      val w = Window.partitionBy("q_id")
        .orderBy(col("rrf_micro").desc, col("doc_id"))
      val out = fused
        .withColumn("rnk", row_number().over(w).cast("long"))
        .filter(col("rnk") <= 10)
        .select("q_id", "rnk", "doc_id", "rrf_micro", "in_lex",
          "in_dense")
        .orderBy("q_id", "rnk")
      graft.operators.CacheScope.eval(out)(tf)
    },
    Some(s"""
      WITH $bm25Ctes,
      lex AS (
        SELECT q_id, doc_id, rnk AS l_rnk FROM rk
        WHERE rnk <= 10
          AND q_id IN (SELECT vec_id FROM embeddings)),
      dq AS (
        SELECT vec_id AS q_id, embedding AS q_emb
        FROM embeddings WHERE vec_id % 250 = 0),
      dsc AS (
        SELECT q.q_id, e.vec_id AS doc_id,
               ${graft.functions.VectorFns.duckCosine(
                 "q.q_emb", "e.embedding")} AS cosine
        FROM embeddings e JOIN dq q ON e.vec_id <> q.q_id),
      dtop AS (
        SELECT q_id, doc_id, d_rnk FROM (
          SELECT q_id, doc_id,
                 CAST(row_number() OVER (PARTITION BY q_id
                   ORDER BY cosine DESC, doc_id) AS BIGINT) AS d_rnk
          FROM dsc)
        WHERE d_rnk <= 10),
      fus AS (
        SELECT coalesce(l.q_id, d.q_id) AS q_id,
               coalesce(l.doc_id, d.doc_id) AS doc_id,
               CAST(coalesce(1000000 // (60 + l.l_rnk), 0)
                  + coalesce(1000000 // (60 + d.d_rnk), 0)
                 AS BIGINT) AS rrf_micro,
               CAST(CASE WHEN l.l_rnk IS NULL THEN 0 ELSE 1 END
                 AS BIGINT) AS in_lex,
               CAST(CASE WHEN d.d_rnk IS NULL THEN 0 ELSE 1 END
                 AS BIGINT) AS in_dense
        FROM lex l FULL OUTER JOIN dtop d
          ON d.q_id = l.q_id AND d.doc_id = l.doc_id)
      SELECT q_id, rnk, doc_id, rrf_micro, in_lex, in_dense FROM (
        SELECT *, CAST(row_number() OVER (PARTITION BY q_id
          ORDER BY rrf_micro DESC, doc_id) AS BIGINT) AS rnk
        FROM fus)
      WHERE rnk <= 10 ORDER BY q_id, rnk""")
  )

  /** INVERTED-INDEX HEALTH — the posting-list observability behind
    * `ss_bm25_topk`'s df-cap claim (the `dd_lsh_bucket_stats` role
    * for lexical retrieval): per floor-log2(df) bucket, vocabulary
    * size, posting mass Σdf (index entries) and collection mass Σcf
    * (token instances), the whole-bit idf range, and what the
    * `df·20 ≤ N` impact cap prunes — terms and posting mass. At
    * 100 TB this ≤ log2(N)-row report is how the cap is tuned: it
    * shows the head buckets carrying most of the posting mass at
    * zero idf (join fan-out with no scoring signal) before anyone
    * pays for a query. One tokenize pass, two map-side-combined
    * aggregates, output bounded by log2(max df). */
  val bm25IndexStats: Q = Q(
    "ss_bm25_index_stats",
    (s, dir) => {
      val docsT = Tables(s, dir, "documents")
      // not persisted: the two tf consumers are a broadcast 1-row
      // aggregate and the main vocab fold — cache-writing the full
      // postings costs more than the narrow recompute (measured; the
      // ss_recall_report A/B note)
      val tf = graft.operators.Lexical.postings(docsT)
      val vocab = tf.groupBy("token")
        .agg(count(lit(1)).as("df"), sum("tf").as("cf"))
      // N = docs WITH at least one posting — the SCORER's definition
      // (Lexical.buildIndex / bm25Ranked freeze the same N): a stats
      // face counting ALL documents would misstate the idf range and
      // the df-cap prune set on any corpus with shingle-less docs,
      // reporting a different index than ss_bm25_topk serves
      val nd = tf.agg(countDistinct("doc_id").as("n_docs"))
      vocab.crossJoin(broadcast(nd))
        .withColumn("idf_b", expr(
          "length(bin((2*n_docs - 2*df + 1) div (2*df + 1))) - 1"))
        .groupBy(expr("length(bin(df)) - 1").cast("long")
          .as("log2_df"))
        .agg(count(lit(1)).as("n_terms"),
          sum("df").as("n_postings"),
          sum("cf").as("n_instances"),
          min("idf_b").cast("long").as("idf_min"),
          max("idf_b").cast("long").as("idf_max"),
          sum(when(col("df") * 20 > col("n_docs"), 1L).otherwise(0L))
            .as("n_pruned"),
          sum(when(col("df") * 20 > col("n_docs"), col("df"))
            .otherwise(0L)).as("pruned_postings"))
        .orderBy("log2_df")
    },
    Some("""
      WITH tok AS (
        SELECT doc_id,
               unnest(list_transform(l[1:len(l)-1],
                 (x, i) -> x || ' ' || l[i+1])) AS token
        FROM (SELECT doc_id, string_split(text, ' ') AS l
              FROM documents)),
      tf AS (
        SELECT doc_id, token, count(*) AS tf
        FROM tok GROUP BY 1, 2),
      vocab AS (
        SELECT token, count(*) AS df, CAST(sum(tf) AS BIGINT) AS cf
        FROM tf GROUP BY 1),
      nd AS (SELECT count(DISTINCT doc_id) AS n_docs FROM tf),
      vi AS (
        SELECT v.*, n.n_docs,
               length(bin((2*n.n_docs - 2*v.df + 1) // (2*v.df + 1)))
                 - 1 AS idf_b
        FROM vocab v, nd n)
      SELECT CAST(length(bin(df)) - 1 AS BIGINT) AS log2_df,
             count(*) AS n_terms,
             CAST(sum(df) AS BIGINT) AS n_postings,
             CAST(sum(cf) AS BIGINT) AS n_instances,
             CAST(min(idf_b) AS BIGINT) AS idf_min,
             CAST(max(idf_b) AS BIGINT) AS idf_max,
             CAST(sum(CASE WHEN df * 20 > n_docs THEN 1 ELSE 0 END)
               AS BIGINT) AS n_pruned,
             CAST(sum(CASE WHEN df * 20 > n_docs THEN df ELSE 0 END)
               AS BIGINT) AS pruned_postings
      FROM vi GROUP BY 1 ORDER BY 1""")
  )

  /** INCREMENTAL LEXICAL-INDEX MAINTENANCE — the third member of the
    * incremental trio (fingerprints `dd_incremental`, vectors
    * `ss_ivf_append`, and this, r12 "What's missing" #1): a crawl
    * batch (doc_id % 7 = 0, the `dd_incremental` split idiom) is
    * appended into the resident BM25 index WITHOUT re-tokenizing the
    * resident corpus — postings union, per-token df add, scalar
    * n_docs/Σdl add ([[graft.operators.Lexical.appendIndex]]; exact
    * integer merges, so the appended bundle probes bit-identically
    * to a from-scratch rebuild on the union — probe parity pinned in
    * SimilaritySpec the way `ss_ivf_append` pins the IVF append).
    *
    * This face is the RETUNE GATE the append path needs: the top-20
    * terms by batch document-frequency growth (`df_new` desc, token
    * tie-break), each with its resident df, batch df and batch
    * posting mass. A term whose posting list grows past the
    * `df·20 ≤ N` impact cap between retunes is exactly what this
    * surfaces — the `ss_bm25_index_stats` observability, focused on
    * the delta instead of the whole index.
    *
    * Scale (100 TB): one tokenize pass over the BATCH only, one
    * vocabulary-grain aggregate, a broadcast-size left join of the
    * batch vocabulary against the resident df table, then a top-k.
    * Nothing touches resident postings. */
  val bm25Append: Q = Q(
    "ss_bm25_append",
    (s, dir) => {
      import graft.operators.Lexical
      val docsT = Tables(s, dir, "documents")
      val baseDf = Lexical.postings(docsT.filter(col("doc_id") % 7 =!= 0))
        .groupBy("token").agg(count(lit(1)).as("df_base"))
      val batchAgg = Lexical.postings(docsT.filter(col("doc_id") % 7 === 0))
        .groupBy("token")
        .agg(count(lit(1)).as("df_new"), sum("tf").as("tf_new"))
      batchAgg.join(baseDf, Seq("token"), "left")
        .select(col("token"),
          coalesce(col("df_base"), lit(0L)).as("df_base"),
          col("df_new"), col("tf_new"))
        .orderBy(col("df_new").desc, col("token"))
        .limit(20)
    },
    Some("""
      WITH btok AS (
        SELECT doc_id,
               unnest(list_transform(l[1:len(l)-1],
                 (x, i) -> x || ' ' || l[i+1])) AS token
        FROM (SELECT doc_id, string_split(text, ' ') AS l
              FROM documents WHERE doc_id % 7 <> 0)),
      btf AS (
        SELECT doc_id, token, count(*) AS tf FROM btok GROUP BY 1, 2),
      bdf AS (SELECT token, count(*) AS df_base FROM btf GROUP BY 1),
      ntok AS (
        SELECT doc_id,
               unnest(list_transform(l[1:len(l)-1],
                 (x, i) -> x || ' ' || l[i+1])) AS token
        FROM (SELECT doc_id, string_split(text, ' ') AS l
              FROM documents WHERE doc_id % 7 = 0)),
      ntf AS (
        SELECT doc_id, token, count(*) AS tf FROM ntok GROUP BY 1, 2),
      ndf AS (
        SELECT token, count(*) AS df_new,
               CAST(sum(tf) AS BIGINT) AS tf_new
        FROM ntf GROUP BY 1)
      SELECT n.token,
             CAST(coalesce(b.df_base, 0) AS BIGINT) AS df_base,
             n.df_new, n.tf_new
      FROM ndf n LEFT JOIN bdf b USING (token)
      ORDER BY n.df_new DESC, n.token LIMIT 20""")
  )

  /** LEXICAL-INDEX DELETE — the takedown leg of the lifecycle,
    * previously spec-only (r14 verdict "Next" #5): a takedown batch
    * (doc_id % 9 = 0) leaves the resident BM25 index through
    * [[graft.operators.Lexical.removeDocs]] — an anti-join filter
    * plus ONE aggregate over the REMOVED slice, never a corpus
    * re-tokenize — and this face reports what the delete did to the
    * index: the top-20 per-term df decrements (df_dec desc, token
    * tie-break; df_after = 0 rows are tokens LEAVING the vocabulary,
    * exactly what a from-scratch rebuild forgets) plus the removed
    * scalar mass (docs_removed / mass_removed — the nDocs/Σdl
    * subtractions) attached as literal columns, the
    * `ta_heavy_hitters` scalar-attach stance. The face computes the
    * decrements by DIFFING removeDocs's actual output vocabulary
    * against the pre-delete vocabulary (full join on token), so
    * CORRECTNESS certifies the maintained df table itself, not a
    * parallel derivation — the `ss_bm25_append` treatment, delete
    * edition.
    *
    * Scale (100 TB): one tokenize pass over the corpus for the base
    * index (amortized in production — the index is persisted), one
    * broadcast semi-join to the takedown ids, a vocabulary-grain
    * full join, a top-k. The tombstone-deferred serving path
    * (`Lexical.removeDocsDeferred`) installs these same decrements
    * as a delta table; SimilaritySpec pins the two bit-identical. */
  val bm25Remove: Q = Q(
    "ss_bm25_remove",
    (s, dir) => {
      import graft.operators.Lexical
      val docsT = Tables(s, dir, "documents")
      // the postings lineage roots several consumers, but caching the
      // full token-string postings reads SLOWER than the narrow
      // recompute on the controlled meter (idle-host A/B — Catalyst
      // reuses what it can, and the production path serves from the
      // persisted index tables anyway, per the scale note above)
      val idx = Lexical.buildIndex(docsT)
      val after = Lexical.removeDocs(idx,
        docsT.filter(col("doc_id") % 9 === 0).select("doc_id"))
      (idx.df.withColumnRenamed("df", "df_base")
        .join(after.df.withColumnRenamed("df", "df_kept"),
          Seq("token"), "left")
        .select(col("token"), col("df_base"),
          (col("df_base") - coalesce(col("df_kept"), lit(0L)))
            .as("df_dec"),
          coalesce(col("df_kept"), lit(0L)).as("df_after"))
        .filter(col("df_dec") > 0)
        .withColumn("docs_removed", lit(idx.nDocs - after.nDocs))
        .withColumn("mass_removed", lit(idx.sumDl - after.sumDl))
        .orderBy(col("df_dec").desc, col("token"))
        .limit(20))
    },
    Some("""
      WITH tok AS (
        SELECT doc_id,
               unnest(list_transform(l[1:len(l)-1],
                 (x, i) -> x || ' ' || l[i+1])) AS token
        FROM (SELECT doc_id, string_split(text, ' ') AS l
              FROM documents)),
      tf AS (
        SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY 1, 2),
      base AS (SELECT token, count(*) AS df_base FROM tf GROUP BY 1),
      rm AS (SELECT * FROM tf WHERE doc_id % 9 = 0),
      dec AS (SELECT token, count(*) AS df_dec FROM rm GROUP BY 1),
      scal AS (SELECT count(DISTINCT doc_id) AS docs_removed,
                      CAST(coalesce(sum(tf), 0) AS BIGINT) AS mass_removed
               FROM rm)
      SELECT b.token, b.df_base, d.df_dec,
             b.df_base - d.df_dec AS df_after,
             s.docs_removed, s.mass_removed
      FROM dec d JOIN base b USING (token), scal s
      ORDER BY d.df_dec DESC, b.token LIMIT 20""")
  )

  def all: Seq[Q] = Seq(topkBrute, topkSrp, topkIvf, topkIvf2,
    topkSrpMulti, recallReport, embedHealth, quantizeInt8, hybridSearch,
    topkPerLabel, topkPq, clusterReport, topkIvfPq, semanticDedup,
    rangeSearch, centroidDrift, ivfAppend, bm25Topk, rrfFusion,
    bm25IndexStats, bm25Append, bm25Remove)
}
